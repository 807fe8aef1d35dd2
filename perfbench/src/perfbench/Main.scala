package perfbench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One timed operation: its kind (for per-kind latency), the request it
 *  sends, and the call, given the request id its spans share. The result is
 *  kept for the check. While tracing is on, `probe` runs right after the
 *  call, outside the timed part: extra traced calls that split the request
 *  into its layers in the state the request met. */
final case class Op(kind: String, request: String, run: Long => Any, probe: Long => Unit = _ => ())

/** A workload: set-up (repeated; the last one is kept), rounds of operations
 *  sent by one closed-loop client, and a check of every kept result against
 *  the reference. */
trait Workload {
  def corpus: Corpus
  /** Untimed rounds before the window. */
  def warmupRounds: Int
  /** Make the program ready to serve the corpus at `dir`/documents.parquet. */
  def setup(dir: String): Unit
  /** Round r: every round holds the same operation kinds, once each. */
  def round(r: Int): Seq[Op]
  def check(results: Seq[Any]): Seq[String]
  /** Bytes the workload's index occupies per document. */
  def indexBytesPerDoc(): Double
  /** Extra traced calls made after the traced window (layer decomposition). */
  def afterTraced(): Unit = ()
  def facts(): Seq[(String, Double)] = Nil
}

object Main {
  val SetupReps = 3
  /** A window never holds fewer rounds than this, so that a slow round
   *  cannot leave a kind with a single sample. */
  val WindowMinRounds = 2
  val ExportRounds = 20

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int, export: Option[String])

  final case class Window(latMs: Seq[(String, Double)], rounds: Int, elapsedS: Double,
                          attempted: Int, failed: Int, results: Seq[Any]) {
    /** Mean over operation kinds of each kind's nearest-rank p50 latency
     *  (its ceil(n/2)-th smallest sample). A round holds each kind once, so
     *  every kind weighs what it weighs in a round; a kind's p50 drops a
     *  slow spell of the host that hit one of its samples, also when the
     *  kind has only two, where a median over all operations would jump
     *  between kinds whose latencies lie up to 5x apart. */
    def opP50Ms: Double = {
      val perKind = latMs.groupBy(_._1).values.map(v => percentile(v.map(_._2), 50))
      perKind.sum / perKind.size
    }
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("cores").toInt, m.get("export"))
  }

  def session(o: Opts): SparkSession = {
    // the same rule as graft.Verify: local[n] and n shuffle partitions;
    // the two directories only keep Spark's scratch files inside the run's
    // work directory
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Closed loop of one client: whole rounds back to back, starting at
   *  round `first`, until `seconds` have passed and at least `minRounds`
   *  rounds have run. A traced operation's probe runs right after it. */
  def runWindow(wl: Workload, seconds: Double, first: Int, minRounds: Int): Window = {
    val lat = Seq.newBuilder[(String, Double)]
    val results = Seq.newBuilder[Any]
    var attempted, failed = 0
    var r = first
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (r < first + minRounds || System.nanoTime() < deadline) {
      wl.round(r).foreach { op =>
        attempted += 1
        val req = Trace.newRequest()
        val s = System.nanoTime()
        try {
          val out = op.run(req)
          val ms = (System.nanoTime() - s) / 1e6
          lat += ((op.kind, ms))
          phase(f"round $r ${op.kind} $ms%.1f ms")
          results += out
          if (Trace.enabled) op.probe(req)
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] ${op.kind} failed: $e")
        }
      }
      r += 1
    }
    Window(lat.result(), r - first, (System.nanoTime() - t0) / 1e9, attempted, failed, results.result())
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of p75/p90/p95/p99 with at least ten samples beyond it;
   *  none below forty samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 40) None
    else Seq(99.0, 95.0, 90.0, 75.0).find(p => xs.size * (100 - p) / 100 >= 10)
      .map(p => (p, percentile(xs, p)))

  /** Sum of the heap pools' peaks since the last reset, in MB. */
  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble

  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString

  private val started = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $name")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    phase("session started")
    val refFailures = RefTests.run().map(n => s"reference self-test failed: $n")
    if (o.trace) Trace.install(spark.sparkContext)
    val wl: Workload = o.workload match {
      case "search" => new SearchWorkload(spark, o)
      case "index-build" => new BuildWorkload(spark, o)
    }
    o.export.foreach { dir =>
      Inputs.write(spark, wl.corpus, s"$dir/documents.parquet", o.cores)
      val out = new java.io.PrintWriter(s"$dir/requests.txt", "UTF-8")
      try for (r <- 0 until ExportRounds; op <- wl.round(r))
        out.println(s"round $r ${op.kind}: ${op.request}")
      finally out.close()
      spark.stop()
      return
    }
    Inputs.write(spark, wl.corpus, s"${o.work}/input/documents.parquet", o.cores)
    phase("input written")
    // set-up, repeated on fresh copies of the input; the last is kept and is
    // the one traced
    val setupS = (0 until SetupReps).map { rep =>
      if (rep > 0) { spark.catalog.clearCache(); Inputs.delete(s"${o.work}/rep-${rep - 1}") }
      val dir = s"${o.work}/rep-$rep"
      Inputs.link(s"${o.work}/input", dir)
      Trace.enabled = o.trace && rep == SetupReps - 1
      val t0 = System.nanoTime()
      Trace.span("setup", Trace.newRequest()) { wl.setup(dir) }
      (System.nanoTime() - t0) / 1e9
    }
    Trace.enabled = false
    phase("set-up done")
    val warm = (0 until wl.warmupRounds).map(r => runWindow(wl, 0, r, 1)) // untimed
    phase("warm-up done")
    val plain = runWindow(wl, o.seconds, wl.warmupRounds, WindowMinRounds)
    phase("window done")
    val bytesPerDoc = wl.indexBytesPerDoc()
    val traced = if (!o.trace) None else {
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val gc0 = gcMs()
      Trace.enabled = true
      val w = runWindow(wl, o.seconds, wl.warmupRounds + plain.rounds, WindowMinRounds)
      val jvm = Seq("jvm.gc_ms" -> (gcMs() - gc0), "jvm.peak_heap_mb" -> heapPeakMb())
      wl.afterTraced()
      Trace.enabled = false
      Some((w, jvm))
    }
    val windows = warm ++ Seq(plain) ++ traced.map(_._1)
    val errors = refFailures ++ wl.check(windows.flatMap(_.results))
    phase("check done")
    errors.take(20).foreach(e => System.err.println(s"[perfbench] check: $e"))

    val lat = plain.latMs.map(_._2)
    val metrics = Seq(
      "setup_s" -> median(setupS),
      "op_p50_ms" -> plain.opP50Ms,
      "index_bytes_per_doc" -> bytesPerDoc)
    val extra = Seq("ops" -> lat.size.toDouble, "rounds" -> plain.rounds.toDouble,
      "ops_per_s" -> lat.size / plain.elapsedS,
      "window_s" -> plain.elapsedS, "op_median_ms" -> median(lat)) ++
      setupS.zipWithIndex.map { case (s, i) => s"setup_s.$i" -> s } ++
      tail(lat).toSeq.flatMap { case (p, v) => Seq("tail_percentile" -> p, "op_tail_ms" -> v) } ++
      plain.latMs.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) => s"p50_ms.$k" -> percentile(v.map(_._2), 50) }
    val traceFile = traced.map { case (w, jvm) =>
      val path = s"${o.work}/trace.jsonl"
      Trace.write(path, Seq(
        "docs" -> wl.corpus.nDocs.toDouble,
        "cores" -> o.cores.toDouble,
        "untraced_op_p50_ms" -> plain.opP50Ms,
        "traced_op_p50_ms" -> w.opP50Ms,
        "analysis.tokens_per_s" -> Analysis.tokensPerSecond(wl.corpus)) ++ jvm ++ wl.facts())
      path
    }
    val attempted = windows.map(_.attempted).sum
    val failed = windows.map(_.failed).sum
    def obj(kv: Seq[(String, Double)]) = kv.map { case (k, v) => s"${Trace.quote(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    println("PERFBENCH_RESULT {" +
      s""""correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""errors": ${errors.take(20).map(Trace.quote).mkString("[", ", ", "]")}, """ +
      s""""metrics": ${obj(metrics)}, "extra": ${obj(extra)}, """ +
      s""""trace": ${traceFile.map(Trace.quote).getOrElse("null")}}""")
    spark.stop()
  }
}

/** Analyzer throughput on a fixed sample: the first 2000 documents of the
 *  workload's corpus, analyzed five times; the median pass counts. */
object Analysis {
  def tokensPerSecond(c: Corpus): Double = {
    val texts = (0 until 2000).map(d => c.text(d, c.docWords(d)))
    val passes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      Trace.span("analysis.sample", Trace.newRequest()) {
        texts.foreach(t => n += graft.analysis.Analyzer.code(t).length)
      }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    Main.median(passes)
  }
}

/** Writes a generated corpus as parquet (doc_id, text, lang). Texts are
 *  rendered inside the write's tasks from (seed, doc id). */
object Inputs {
  def write(spark: SparkSession, c: Corpus, path: String, slices: Int): Unit = {
    import spark.implicits._
    spark.range(0, c.nDocs.toLong, 1, slices).as[Long]
      .map(d => (d, c.text(d, c.docWords(d)), c.lang(d)))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(path)
  }

  /** A copy of directory `src` at `dst` made of hard links: the same input
   *  under a new path, so a path-keyed cache builds it again. */
  def link(src: String, dst: String): Unit = {
    val from = java.nio.file.Paths.get(src)
    java.nio.file.Files.walk(from).forEach { f =>
      val to = java.nio.file.Paths.get(dst).resolve(from.relativize(f))
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.createLink(to, f)
    }
  }

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(f => java.nio.file.Files.size(f)).sum
  }

  /** Bytes held by Spark's cached blocks (memory and disk). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Generator of request stream `stream` in round `round`. */
  def rng(seed: Long, stream: Int, round: Int, salt: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L + round * 104729L + salt)
}

/** Token ids for the reference: every distinct analyzed token of the
 *  vocabulary gets an id; a document is the concatenation of its words'
 *  token ids. */
final class Truth(c: Corpus, tokens: Word => Array[String]) {
  private val ids = new java.util.HashMap[String, Integer]()
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private def id(t: String): Int = {
    val e = ids.get(t)
    if (e != null) e else { ids.put(t, names.size); names += t; names.size - 1 }
  }
  val wordTokens: Array[Array[Int]] = c.words.map(w => tokens(w).map(id))
  val docTokens: Array[Array[Int]] = Array.tabulate(c.nDocs)(d => c.docWords(d).flatMap(wordTokens(_)))
  val ref = new Bm25Ref(docTokens(_), c.nDocs, names.size)
  def name(t: Int): String = names(t)
  /** The token ids of `words`, in order. */
  def tokensInOrder(words: Seq[Int]): Array[Int] = words.flatMap(wordTokens(_)).toArray
  /** A query of words as distinct token ids, sorted by token string. */
  def queryTokens(words: Seq[Int]): Seq[Int] =
    words.flatMap(wordTokens(_)).distinct.sortBy(names(_))
}
