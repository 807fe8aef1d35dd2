package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, plus Spark job and
 *  task counts attributed to the innermost open span. Spans stay in memory
 *  and are written out once, when the run ends. While tracing is off,
 *  `span` only runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
                        startUs: Long, endUs: Long, attrs: Seq[(String, String)])

  final class Job(val id: Int, val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var inputRows = 0L
  }

  private val SpanProp = "perfbench.span"
  @volatile var enabled = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val open = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  // wall clock in microseconds with nanoTime resolution, comparable with the
  // listener's epoch-millisecond job times
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def newRequest(): Long = ids.incrementAndGet()

  def span[A](name: String, req: Long = -1, attrs: Seq[(String, String)] = Nil)(body: => A): A = {
    if (!enabled) return body
    val stack = open.get
    val (parent, parentReq) = stack.headOption.getOrElse((-1L, -1L))
    val id = ids.incrementAndGet()
    val r = if (req >= 0) req else parentReq
    val prevProp = sc.getLocalProperty(SpanProp)
    open.set((id, r) :: stack)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowUs()
    try body
    finally {
      spans.add(Span(id, parent, r, name, t0, nowUs(), attrs))
      open.set(stack)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      s.foreach { span =>
        val j = new Job(e.jobId, span, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Attach the job listener; spans open while `enabled` is set. */
  def install(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(Listener)
  }

  /** `s` as a JSON string literal. */
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Write spans, jobs and the given facts as JSON lines, after the
   *  listener bus has delivered every event. */
  def write(path: String, facts: Seq[(String, Double)]): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.forEach { s =>
        val a = s.attrs.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString(", ")
        out.println(s"""{"type": "span", "id": ${s.id}, "parent": ${s.parent}, "req": ${s.req}, """ +
          s""""name": ${quote(s.name)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}, "attrs": {$a}}""")
      }
      jobs.values.forEach { j =>
        out.println(s"""{"type": "job", "id": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, """ +
          s""""end_ms": ${j.endMs}, "tasks": ${j.tasks}, "cpu_ns": ${j.cpuNs}, "run_ms": ${j.runMs}, """ +
          s""""gc_ms": ${j.gcMs}, "shuffle_read_bytes": ${j.shuffleReadBytes}, """ +
          s""""shuffle_write_bytes": ${j.shuffleWriteBytes}, "fetch_wait_ms": ${j.fetchWaitMs}, """ +
          s""""spill_bytes": ${j.spillBytes}, "input_rows": ${j.inputRows}}""")
      }
      facts.foreach { case (k, v) => out.println(s"""{"type": "fact", "name": ${quote(k)}, "value": $v}""") }
    } finally out.close()
  }
}
