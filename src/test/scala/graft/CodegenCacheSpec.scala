package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf

/** The launch's JVM options reach the session, and they keep a warm loop's
  * generated code compiled: once two passes of the benchmark's 16-query
  * `suite` slice have filled Spark's JVM-wide codegen cache, a third pass
  * compiles no class. (At Spark's default of 100 entries it recompiles
  * about 200.) */
class CodegenCacheSpec extends SparkSuite {

  /** The `suite` slice of the repository benchmark. */
  private val slice = Seq("flagship_refined", "a1_groupby_agg", "a7_percentiles",
    "j1_normalized_key_join", "w3_rolling_mean", "w19_rolling_median",
    "o4_skyline", "sc4_global_rank", "x1_pivot", "p13_stratified_sample",
    "f7_json_extract", "ty1_typed_pipeline", "tj1_asof_join", "stats_spearman",
    "c3_ks_drift", "h3_shipping_priority")

  test("the launch sizes the codegen cache and trims the status store") {
    assert(SQLConf.get.codegenCacheMaxEntries == 288)
    val conf = spark.sparkContext.getConf
    Seq("spark.sql.ui.retainedExecutions" -> "10", "spark.ui.retainedJobs" -> "10",
      "spark.ui.retainedStages" -> "10", "spark.ui.retainedTasks" -> "100")
      .foreach { case (k, v) => assert(conf.get(k, "") == v, k) }
  }

  test("a third pass of the benchmark slice compiles no generated class") {
    /** Janino compiles (codegen cache misses) during one materialising
      * pass of the slice. */
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      slice.foreach { n =>
        SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val compiles = Seq.fill(3)(pass())
    info(s"compiles per pass: ${compiles.mkString(", ")}")
    assert(compiles(2) == 0, s"compiles per pass: ${compiles.mkString(", ")}")
  }
}
