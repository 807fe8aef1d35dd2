#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload index-build --seed 1 --export
    python3 perfbench/run.py --self-test

The first call compiles the program and the benchmark (perfbench/build.py);
each run then starts one JVM with a fixed heap, set up, measured and checked
by perfbench.Main, and removes the run's corpus, index and Spark scratch
files when it ends. The last line of standard output is one JSON object:
correct, attempted, failed and metrics (the end-to-end metrics, or with
--trace 1 the per-layer metrics of perfbench/layers.py). --export writes the
seed's inputs (corpus parquet and the first rounds of requests) to
.bench_build/inputs/<workload>-seed<seed>/ instead of running.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("search", "index-build")
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "index_bytes_per_doc": "B/doc", "peak_rss_mb": "MB"}
HEAP = "2g"
RUN_LIMIT_S = 170
# what spark-submit would add on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java(classpath, main, args, work, log):
    """Run one JVM to its end; returns (exit code, stdout, peak RSS in MB)."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        chunks = []
        reader = threading.Thread(target=lambda: chunks.append(proc.stdout.read()))
        reader.start()
        deadline = time.time() + RUN_LIMIT_S
        while True:
            # wait4 gives this child's own peak RSS, not the compiler's
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                proc.kill()
                pid, status, usage = os.wait4(proc.pid, 0)
                print(f"[perfbench] run exceeded {RUN_LIMIT_S} s, killed", file=sys.stderr)
                break
            time.sleep(0.1)
        proc.returncode = os.waitstatus_to_exitcode(status)
        reader.join()
    return proc.returncode, "".join(chunks), usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--export", action="store_true", help="write the seed's inputs and stop")
    ap.add_argument("--self-test", action="store_true",
                    help="run the reference's tests and check BENCHMARK.json's metric names")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    os.makedirs(build.OUT, exist_ok=True)
    lock = open(os.path.join(build.OUT, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)  # one run at a time per checkout
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    # runs that were killed leave their work directories behind
    shutil.rmtree(os.path.join(build.OUT, "work"), ignore_errors=True)
    work = os.path.join(build.OUT, "work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        if a.self_test:
            return self_test(classpath, work, os.path.join(logs, "self-test.log"))
        cores = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cores", str(cores)]
        if a.export:
            dest = os.path.join(build.OUT, "inputs", f"{a.workload}-seed{a.seed}")
            shutil.rmtree(dest, ignore_errors=True)
            code, _, _ = java(classpath, "perfbench.Main", args + ["--export", dest], work,
                              os.path.join(logs, f"{a.workload}.log"))
            print(f"inputs written to {dest}" if code == 0 else f"export failed (exit {code})")
            return 0 if code == 0 else 1
        t0 = time.time()
        steal0 = host_steal()
        code, out, rss_mb = java(classpath, "perfbench.Main", args, work,
                                 os.path.join(logs, f"{a.workload}.log"))
        line = next((l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")), None)
        if code != 0 or line is None:
            print(f"[perfbench] {a.workload} failed (exit {code}); see {logs}/{a.workload}.log",
                  file=sys.stderr)
            return 1
        r = json.loads(line[len("PERFBENCH_RESULT "):])
        if a.trace:
            trace_copy = os.path.join(logs, f"{a.workload}.trace.jsonl")
            shutil.copyfile(r["trace"], trace_copy)
            values = layers.compute(trace_copy)
            units = layers.METRICS
        else:
            values = dict(r["metrics"], peak_rss_mb=rss_mb)
            units = END_TO_END
        steal = host_steal()
        report(a, r, values, units, time.time() - t0,
               [b - x for x, b in zip(steal0, steal)] if steal0 and steal else None)
        print(json.dumps({
            "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def host_steal():
    """(stolen, all) CPU ticks from /proc/stat: time the host gave this
    machine's CPUs to others, which slows a run without showing in it."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def report(a, r, values, units, wall_s, steal):
    """Human-readable lines before the JSON result."""
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  run wall {wall_s:.1f} s")
    if steal and steal[1]:
        print(f"CPU time stolen by the host during the run: {100.0 * steal[0] / steal[1]:.1f}%")
    print(f"correct {r['correct']}  attempted {r['attempted']}  failed {r['failed']}")
    for e in r["errors"]:
        print(f"  check failed: {e}")
    for k, u in units.items():
        v = values[k]
        print(f"  {k:34s} {v:14.4f} {u}" if isinstance(v, (int, float)) else f"  {k:34s} {v!s:>14} {u}")
    for k, v in r["extra"].items():
        print(f"  ({k} {v:.4f})")


def self_test(classpath, work, log):
    code, out, _ = java(classpath, "perfbench.RefTests", [], work, log)
    sys.stdout.write(out)
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        spec = json.load(open(spec_path))
        declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if declared != END_TO_END or layer != layers.METRICS:
            print("FAILED: BENCHMARK.json metrics differ from what run.py reports")
            return 1
        print("BENCHMARK.json metric names and units match run.py")
    return code


if __name__ == "__main__":
    sys.exit(main())
