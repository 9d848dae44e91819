package graft.pipeline

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.SparkSuite

/** The refined frame is laid out for the reference's `partitionBy("date")`
  * write (glue.py:237): one Parquet file per date directory. */
class FlagshipSpec extends SparkSuite {

  test("a partitioned write of the refined frame leaves one file per date") {
    val out = Files.createTempDirectory("flagship_spec").resolve("refined")
    val refined = Flagship.refined(spark, sf)
    // AQE would coalesce this small input into one write task, which
    // leaves one file per date whatever the layout; keep every partition
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try refined.write.partitionBy("date").parquet(out.toString)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    def list(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val dates = list(out).filter(p => Files.isDirectory(p))
    assert(dates.size == refined.select("date").distinct().count())
    assert(dates.size > 1)
    for (d <- dates) {
      val files = list(d).filter(_.getFileName.toString.endsWith(".parquet"))
      assert(files.size == 1, s"$d holds ${files.size} files")
    }
  }
}
