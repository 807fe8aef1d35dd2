package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The Spark jobs `f` starts. Listener events arrive asynchronously, so
   *  a marker job before and after `f` brackets them: the count closes
   *  once the listener has seen the second marker. */
  def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"spec-marker-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markers = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == tag)) {
          if (markers.incrementAndGet() == 2) closed.countDown()
        } else if (markers.get == 1) jobs.incrementAndGet()
    }
    def marker(): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker()
      val r = f
      marker()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener missed a marker job")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
