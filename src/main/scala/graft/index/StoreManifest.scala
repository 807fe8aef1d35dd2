package graft.index

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The commit point of one index store dir — the analogue of Lucene's
 * SegmentInfos: one small file, written by the Spark driver after the store's
 * tables and read without a Spark job. It holds the store's corpus stats
 * and, for a segment, its [[SegmentMetric]] rows and [[SegmentLineage]]; a
 * snapshot's manifest lists the lineage of every segment it holds. A dir is
 * committed iff its manifest parses.
 */
case class StoreManifest(stats: CorpusStats, metrics: Seq[SegmentMetric] = Nil,
                         lineage: Seq[SegmentLineage] = Nil)

object StoreManifest {

  val FileName = "manifest.json"

  /** The manifest is written here first and then renamed into place, so a
   *  torn write leaves this file and no manifest. */
  val TempName = "_manifest.json.tmp"

  private lazy val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def write(spark: SparkSession, dir: String, m: StoreManifest): Unit = {
    val f = fs(spark, dir)
    val (tmp, dst) = (new Path(dir, TempName), new Path(dir, FileName))
    val out = f.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(m)) finally out.close()
    f.delete(dst, false)
    require(f.rename(tmp, dst), s"could not commit the manifest of $dir")
  }

  /** The manifest of `dir`; a missing or unreadable one counts as absent. */
  def read(spark: SparkSession, dir: String): Option[StoreManifest] =
    scala.util.Try {
      val in = fs(spark, dir).open(new Path(dir, FileName))
      try mapper.readValue(in: java.io.InputStream, classOf[StoreManifest]) finally in.close()
    }.toOption

  def delete(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir, FileName), false)
}
