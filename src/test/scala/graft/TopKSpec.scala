package graft

import org.apache.spark.sql.functions._
import graft.plans.{ApproxDistinctRule, CartesianGuard, GraftExtensions, TopK, TopKStrategy}

class TopKSpec extends SparkSuite {

  test("TopK.perKey matches the window row_number formulation") {
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    val custom = TopK.perKey(li, Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val reference = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
    val a = custom.collect().map(_.toSeq).toSet
    val b = reference.collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.size == 15) // 3 flags x 5
  }

  test("plan has two heap stages with one exchange between them") {
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    val df = TopK.perKey(li, Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), 5)
    df.collect()
    val executed = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // unwrap AQE to the final materialized plan
      case p => p
    }
    // AQE hides stage subtrees from TreeNode.collect, so assert on the
    // rendered plan: partial (", true") and final (", false") heap stages
    // with exactly one hash exchange between them.
    val rendered = executed.toString
    assert("TopKPerKey ".r.findAllIn(rendered).size == 2,
      s"expected two TopKPerKey stages, got:\n$rendered")
    assert(rendered.contains(", true") && rendered.contains(", false"),
      s"expected partial+final stages, got:\n$rendered")
    assert("Exchange hashpartitioning".r.findAllIn(rendered).size == 1,
      s"expected exactly one shuffle, got:\n$rendered")
  }

  test("k larger than group size returns whole groups") {
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    val all = TopK.perKey(li, Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), 1000000)
    assert(all.count() == li.count())
  }

  test("duplicate scores at the boundary resolve by tie columns") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 10.0), ("a", 4L, 5.0),
      ("b", 5L, 1.0)
    ).toDF("k", "id", "score")
    val top2 = TopK.perKey(df, Seq("k"), "score", Seq("id"), 2)
      .select("k", "id").as[(String, Long)].collect().toSet
    assert(top2 == Set(("a", 1L), ("a", 2L), ("b", 5L)))
  }

  test("install from 8 threads registers each extension exactly once") {
    val s2 = spark.newSession()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val done = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = { go.await(); GraftExtensions.install(s2) }
      }))
      go.countDown()
      done.foreach(_.get())
    } finally pool.shutdown()
    val strategies = s2.experimental.extraStrategies
    val rules = s2.experimental.extraOptimizations
    assert(strategies.count(_ == TopKStrategy) == 1, strategies)
    assert(rules.count(_ == ApproxDistinctRule) == 1, rules)
    assert(rules.count(_ == CartesianGuard) == 1, rules)
  }
}
