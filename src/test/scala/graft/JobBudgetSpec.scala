package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a query costs, counted on a job group the spec sets:
  * queries whose answer is one plan run no job while their frame is built,
  * and each pinned query stays under a ceiling on its total jobs. */
class JobBudgetSpec extends SparkSuite {

  private val group = "graft-job-budget"

  /** The jobs started under the spec's job group while `body` ran, read
    * once the listener bus has drained. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job budget")
    try {
      body
      GraftTestBus.drain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** (construction jobs, total jobs) of one build and materialising run of
    * `name`, after an untimed warm run has filled the schema memos. */
  private def budget(name: String): (Int, Int) = {
    val fn = SparkEntry.queries(name)
    def materialise(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    materialise(fn(spark, sf))
    (jobs(fn(spark, sf)), jobs(materialise(fn(spark, sf))))
  }

  /** Total-job ceilings at sf0.001 on the spec's 4-core session. */
  private val ceilings = Seq(
    "p12_sample" -> 4,
    "p13_stratified_sample" -> 4,
    "a16_approx_quantiles" -> 4,
    "stats_kaplan_meier" -> 6,
    "stats_spearman" -> 11)

  private val onePlan = Set("p12_sample", "p13_stratified_sample",
    "a16_approx_quantiles", "stats_kaplan_meier")

  ceilings.foreach { case (name, ceiling) =>
    test(s"$name stays within its job budget") {
      val (construct, total) = budget(name)
      if (onePlan(name))
        assert(construct == 0, s"$name ran $construct jobs while its frame was built")
      assert(total <= ceiling, s"$name ran $total jobs, ceiling $ceiling")
    }
  }
}
