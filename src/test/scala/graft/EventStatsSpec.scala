package graft

import graft.stats.EventStats
import org.scalatest.funsuite.AnyFunSuite

/** Registry semantics for the query-side event counters (reference:
 *  stats/events/EventStatName.java). Uses suite-unique stat names and no
 *  reset() so concurrent suites (and the query_stats oracle scenario, which
 *  owns reset) cannot interfere. */
class EventStatsSpec extends AnyFunSuite {

  test("increment accumulates per name and value() defaults to 0") {
    assert(EventStats.value("evspec_never_fired") == 0L)
    EventStats.increment("evspec_a")
    EventStats.increment("evspec_a")
    EventStats.increment("evspec_b")
    assert(EventStats.value("evspec_a") == 2L)
    assert(EventStats.value("evspec_b") == 1L)
  }

  test("snapshot lists fired counters sorted by name with their counts") {
    EventStats.increment("evspec_snap_y")
    EventStats.increment("evspec_snap_x")
    EventStats.increment("evspec_snap_x")
    val rows = EventStats.snapshot(TestSpark.spark)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val mine = rows.filter(_._1.startsWith("evspec_snap_"))
    assert(mine.toSeq == Seq("evspec_snap_x" -> 2L, "evspec_snap_y" -> 1L))
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
  }

  test("concurrent increments from many threads lose no counts") {
    val threads = (0 until 8).map(_ => new Thread(() =>
      (0 until 1000).foreach(_ => EventStats.increment("evspec_conc"))))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(EventStats.value("evspec_conc") == 8000L)
  }
}

/** Every hybrid entry point runs its request once and counts it once. */
class HybridEventStatsSpec extends SparkSpec {

  test("each hybrid entry point raises the request and norm/comb counters by exactly 1 per call") {
    import graft.hybrid._
    val dir = "/root/testdata/sf0.001"
    val idx = graft.index.IndexCache.documents(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val src = HybridSources(idx, fields = Some(docs))
    val q = HybridQuery(Seq(Lexical(Seq("join")), Lexical(Seq("merge", "hash"))),
      MinMaxNormTech(), Combination(graft.functions.Combine.Arithmetic), k = 5, depth = 20)
    val json =
      """{"query":{"hybrid":{"queries":[{"match":{"text":"join"}},{"match":{"text":"merge hash"}}]}},
        |"search_pipeline":{"normalization":{"technique":"min_max"},
        |"combination":{"technique":"arithmetic_mean"}}}""".stripMargin
    val counters = Seq("hybrid_query_requests", "normalization_processor_executions",
      "norm_minmax_executions", "comb_arithmetic_executions")
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "execute" -> (() => Hybrid.execute(src, q, None)),
      "executeWithTotal" -> (() => Hybrid.executeWithTotal(src, q)),
      "executeExplain" -> (() => Hybrid.executeExplain(src, q, None)),
      "executeSorted by _score" -> (() => Hybrid.executeSorted(src, q, Seq("_score" -> false))),
      "executeSorted by field" -> (() => Hybrid.executeSorted(src, q, Seq("lang" -> true))),
      "QueryDsl.execute" -> (() => graft.query.QueryDsl.execute(src, json, docs)))
    for ((name, call) <- calls) {
      val before = counters.map(EventStats.value)
      call().collect()
      assert(counters.map(EventStats.value).zip(before).map { case (a, b) => a - b } ==
        counters.map(_ => 1L), s"$name: ${counters.zip(counters.map(EventStats.value))}")
    }
  }
}
