"""Per-layer metrics from one traced run's trace file.

The trace file (JSON lines, written by the benchmark's JVM when the run
ends) holds spans, Spark jobs attributed to the innermost span open when
they started, and facts. A span covers one call from the benchmark into a
layer of the program; the layer's metrics are computed from its spans and
the jobs under them. A layer the workload does not call reports 0.
"""
import json
import statistics

# name -> unit; every name is reported by every workload
METRICS = {
    "analysis.tokens_per_s": "tokens/s",
    "index.encode_s": "s",
    "index.shuffle_merge_s": "s",
    "index.write_s": "s",
    "index.cpu_us_per_doc": "us/doc",
    "index.gc_ms": "ms",
    "index.shuffle_bytes_per_doc": "B/doc",
    "index.spill_bytes": "B",
    "index.utilization": "ratio",
    "index.jobs": "count",
    "index.tasks": "count",
    "index.postings_bytes": "B",
    "index.doclens_bytes": "B",
    "index.termstats_bytes": "B",
    "segments.build_s": "s",
    "segments.merge_s": "s",
    "segments.jobs": "count",
    "cache.index_warm_s": "s",
    "cache.positions_warm_s": "s",
    "query.plan_ms": "ms",
    "query.exec_ms": "ms",
    "query.overhead_ms": "ms",
    "query.jobs_per_request": "count",
    "query.tasks_per_request": "count",
    "query.cpu_ms_per_request": "ms",
    "query.shuffle_bytes_per_request": "B",
    "query.input_rows_per_request": "count",
    "query.head_p50_ms": "ms",
    "query.rare_p50_ms": "ms",
    "query.plain_p50_ms": "ms",
    "query.msearch_p50_ms": "ms",
    "dsl.parse_ms": "ms",
    "hybrid.plan_ms": "ms",
    "hybrid.exec_ms": "ms",
    "hybrid.jobs_per_request": "count",
    "hybrid.tasks_per_request": "count",
    "hybrid.shuffle_bytes_per_request": "B",
    "hybrid.subquery_ms": "ms",
    "hybrid.fuse_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.peak_heap_mb": "MB",
    "trace.overhead_pct": "%",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _covered_ms(start_us, end_us, jobs):
    """Milliseconds of [start, end] covered by at least one job."""
    ivs = sorted((max(j["start_ms"] * 1000, start_us), min(j["end_ms"] * 1000, end_us))
                 for j in jobs if j["end_ms"] >= 0)
    total, cur_s, cur_e = 0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def compute(path):
    spans, jobs, facts = {}, [], {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r["type"] == "span":
                spans[r["id"]] = r
            elif r["type"] == "job":
                jobs.append(r)
            else:
                facts[r["name"]] = r["value"]

    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    under = {}  # span id -> jobs started inside its subtree
    for j in jobs:
        sid = j["span"]
        while sid in spans:
            under.setdefault(sid, []).append(j)
            sid = spans[sid]["parent"]

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1000.0

    def named(name):
        return [s for s in spans.values() if s["name"] == name]

    def child(s, name):
        return next((c for c in children.get(s["id"], []) if c["name"] == name), None)

    def jsum(ss, key):
        return sum(j[key] for s in ss for j in under.get(s["id"], []))

    def njobs(s):
        return len(under.get(s["id"], []))

    docs = facts.get("docs", 1.0)
    cores = facts.get("cores", 1.0)
    m = {k: 0.0 for k in METRICS}
    m["analysis.tokens_per_s"] = facts.get("analysis.tokens_per_s", 0.0)
    for k in ("index.postings_bytes", "index.doclens_bytes", "index.termstats_bytes",
              "jvm.gc_ms", "jvm.peak_heap_mb"):
        m[k] = facts.get(k, 0.0)
    untraced, traced = facts.get("untraced_op_p50_ms"), facts.get("traced_op_p50_ms")
    if untraced and traced:
        m["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0)

    # index build: buildAndWrite on index-build, the IndexCache warm elsewhere
    builds = named("index.write") or named("cache.index_warm")
    if builds:
        n = len(builds)
        wall_ms = sum(dur_ms(s) for s in builds)
        m["index.cpu_us_per_doc"] = jsum(builds, "cpu_ns") / 1000.0 / (n * docs)
        m["index.gc_ms"] = jsum(builds, "gc_ms") / n
        m["index.shuffle_bytes_per_doc"] = jsum(builds, "shuffle_write_bytes") / (n * docs)
        m["index.spill_bytes"] = jsum(builds, "spill_bytes") / n
        m["index.utilization"] = jsum(builds, "run_ms") / (cores * wall_ms)
        m["index.jobs"] = sum(njobs(s) for s in builds) / n
        m["index.tasks"] = jsum(builds, "tasks") / n
    enc, mrg, wr = named("index.encode"), named("index.merge"), named("index.write")
    if enc and mrg and wr:
        m["index.encode_s"] = dur_ms(enc[0]) / 1000.0
        m["index.shuffle_merge_s"] = (dur_ms(mrg[0]) - dur_ms(enc[0])) / 1000.0
        m["index.write_s"] = (_median([dur_ms(s) for s in wr]) - dur_ms(mrg[0])) / 1000.0

    sb, sm = named("segments.build"), named("segments.merge")
    m["segments.build_s"] = _median([dur_ms(s) for s in sb]) / 1000.0
    m["segments.merge_s"] = _median([dur_ms(s) for s in sm]) / 1000.0
    if sb:
        m["segments.jobs"] = sum(njobs(s) for s in sb + sm) / len(sb)
    for name in ("cache.index_warm", "cache.positions_warm"):
        m[name + "_s"] = _median([dur_ms(s) for s in named(name)]) / 1000.0

    requests = named("request")
    q = [s for s in requests if child(s, "query.plan")]
    if q:
        m["query.plan_ms"] = _median([dur_ms(child(s, "query.plan")) for s in q])
        m["query.exec_ms"] = _median([dur_ms(child(s, "query.exec")) for s in q])
        m["query.overhead_ms"] = _median(
            [dur_ms(s) - _covered_ms(s["start_us"], s["end_us"], under.get(s["id"], [])) for s in q])
        m["query.jobs_per_request"] = _mean([njobs(s) for s in q])
        m["query.tasks_per_request"] = jsum(q, "tasks") / len(q)
        m["query.cpu_ms_per_request"] = jsum(q, "cpu_ns") / 1e6 / len(q)
        head = [s for s in q if s["attrs"].get("kind", "").endswith("-head")]
        if head:
            m["query.shuffle_bytes_per_request"] = jsum(head, "shuffle_write_bytes") / len(head)
            m["query.input_rows_per_request"] = jsum(head, "input_rows") / len(head)

        def p50(pred):
            return _median([dur_ms(s) for s in q if pred(s["attrs"].get("kind", ""))])
        m["query.head_p50_ms"] = p50(lambda k: k == "wand-head")
        m["query.rare_p50_ms"] = p50(lambda k: k == "wand-rare")
        m["query.plain_p50_ms"] = p50(lambda k: k.startswith("plain-"))
        m["query.msearch_p50_ms"] = p50(lambda k: k == "msearch")

    h = [s for s in requests if child(s, "hybrid.plan")]
    if h:
        m["dsl.parse_ms"] = _median([dur_ms(s) for s in named("dsl.parse")])
        m["hybrid.plan_ms"] = _median([dur_ms(child(s, "hybrid.plan")) for s in h])
        m["hybrid.exec_ms"] = _median([dur_ms(child(s, "hybrid.exec")) for s in h])
        m["hybrid.jobs_per_request"] = _mean([njobs(s) for s in h])
        m["hybrid.tasks_per_request"] = jsum(h, "tasks") / len(h)
        m["hybrid.shuffle_bytes_per_request"] = jsum(h, "shuffle_write_bytes") / len(h)
        sub = {}
        for s in named("hybrid.subquery"):
            sub[s["req"]] = sub.get(s["req"], 0.0) + dur_ms(s)
        by_req = {s["req"]: s for s in h}
        fused = [(t, dur_ms(child(by_req[r], "hybrid.exec")) - t) for r, t in sub.items() if r in by_req]
        m["hybrid.subquery_ms"] = _median([t for t, _ in fused])
        m["hybrid.fuse_ms"] = _median([f for _, f in fused])
    return m
