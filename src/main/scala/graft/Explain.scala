package graft

/** Plan auditor: prints `explain("formatted")` for the named queries (or a
  * default set) so scan pushdown / broadcast / codegen spans can be
  * inspected. Usage: runMain graft.Explain <sfDir> [query names…]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("s1_pruned_scan", "a1_groupby_agg", "j1_normalized_key_join",
        "flagship_refined", "w3_rolling_mean", "sc5_topk_exec",
        "sc6_bloom_prefilter", "a14_quality_checks", "x5_grouping_sets",
        "s9_dsv2_source")
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
