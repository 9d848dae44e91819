package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The Glue-equivalent job, end to end, over the generated raw lake:
  * `Flagship.refined` → overwrite of `refined/` partitioned by `date` →
  * catalog refresh (the table is re-registered over the location and its
  * partitions recovered with `MSCK REPAIR TABLE`, as Athena needs after each
  * Glue run) → one consumer aggregate read through the catalog. */
final class Etl(spark: SparkSession, lake: String, refinedPath: String) {
  private val buildS, writeS, catalogS, readS = ArrayBuffer[Double]()
  private var outBytes, outFiles = 0L

  /** The consumer query run over the catalog table after each refresh;
    * `run.py` checks its result against the same SQL in DuckDB. */
  val consumerSql: String =
    """SELECT segment, month, count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
      |       min(value) AS min_value, max(value) AS max_value,
      |       max(volatility_5_value_diff) AS max_vol5
      |FROM refined GROUP BY segment, month""".stripMargin

  /** One refresh; pass -1 is the untimed first run, whose stage times are
    * not recorded. */
  def refresh(i: Int): Main.OpTime = {
    def step[T](phase: String, into: ArrayBuffer[Double])(body: => T): T = {
      Trace.mark(spark, i, phase)
      val t0 = System.nanoTime()
      val r = body
      if (i >= 0) into += (System.nanoTime() - t0) / 1e9
      r
    }
    try {
      val t0 = System.nanoTime()
      Ops.guarded(spark, "etl_refresh") {
        val refined = step("construct", buildS)(graft.pipeline.Flagship.refined(spark, lake))
        step("write", writeS) {
          refined.write.mode("overwrite").partitionBy("date").parquet(refinedPath)
        }
        step("catalog", catalogS) {
          spark.sql("DROP TABLE IF EXISTS refined")
          spark.sql(s"CREATE TABLE refined USING parquet LOCATION '$refinedPath'")
          spark.sql("MSCK REPAIR TABLE refined")
        }
        step("read", readS)(spark.sql(consumerSql).collect())
      } match {
        case Some(_) =>
          val s = (System.nanoTime() - t0) / 1e9
          val build = if (i >= 0) buildS.last else 0.0
          Main.OpTime("etl_refresh", build, s - build, ok = true)
        case None => Main.OpTime("etl_refresh", 0, 0, ok = false)
      }
    } catch { case e: Throwable =>
      Main.log(s"etl_refresh failed: $e")
      Main.OpTime("etl_refresh", 0, 0, ok = false)
    }
  }

  /** The refined table read back through the catalog, and the consumer
    * aggregate, written once for the output check. */
  def writeCheck(check: String): Unit = {
    val data = parquetFiles(refinedPath)
    outFiles = data.size
    outBytes = data.map(Files.size).sum
    spark.table("refined").coalesce(1).write.mode("overwrite").parquet(s"$check/etl_refined")
    spark.sql(consumerSql).coalesce(1).write.mode("overwrite").parquet(s"$check/etl_consumer")
  }

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    finally w.close()
  }

  def record: Json = {
    val j = new Json
    if (buildS.nonEmpty) {
      j.num("etl_build_s", Stats.median(buildS.toSeq))
      j.num("etl_write_s", Stats.median(writeS.toSeq))
      j.num("etl_catalog_s", Stats.median(catalogS.toSeq))
      j.num("etl_read_s", Stats.median(readS.toSeq))
      // every consumer read, for the end-to-end query latencies
      j.arr("read_samples_s", readS.toSeq)
      j.num("output_mb", outBytes / 1e6)
      j.num("output_files", outFiles.toDouble)
      j.num("write_amp", outBytes.toDouble / math.max(1L, parquetFiles(lake).map(Files.size).sum))
    }
    j
  }
}
