package perfbench

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the timed action: whatever `Action.run` executes must keep every
  * window and aggregate expression of the query's own plan. A `count()`
  * lets Catalyst prune them (flagship_refined's nine feature columns and
  * the aggregates of a2/a7 vanish), so this fails if the timed action is
  * switched back to a count. */
class MaterialiseSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("perfbench-spec").toString
  private var spark: SparkSession = _
  private val seen = ArrayBuffer[QueryExecution]()

  override def beforeAll(): Unit = {
    spark = Session.start(2, s"$dir/work")
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val session = spark
    import session.implicits._
    val day = 86400000L
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 400).map { i =>
      (i.toLong, new Timestamp(t0 + i * day / 7), (i % 9).toLong,
        Seq("click", "view")(i % 2), (i * 37 % 101) / 4.0, "{\"k\": 1}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    (0 until 9).map(i => (i.toLong, Seq("BUILDING", "MACHINERY")(i % 2)))
      .toDF("c_custkey", "c_mktsegment").write.parquet(s"$dir/customer.parquet")
    (0 until 300).map(i => (Seq("A", "N", "R")(i % 3), (i % 50).toLong, new Timestamp(t0 + i * day)))
      .toDF("l_returnflag", "l_partkey", "l_shipdate").write.parquet(s"$dir/lineitem.parquet")
    (0 until 300).map(i => (1000.0 + i * 3.25, new Timestamp(t0 + i * day)))
      .toDF("o_totalprice", "o_orderdate").write.parquet(s"$dir/orders.parquet")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(java.nio.file.Paths.get(dir))
  }

  /** The plan `Action.run` actually executed for `df`. */
  private def timedPlan(df: DataFrame): LogicalPlan = {
    seen.synchronized(seen.clear())
    Action.run(df, "spec")
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val qes = seen.synchronized(seen.toList)
    assert(qes.size == 1, s"expected one query execution, saw ${qes.size}")
    qes.head.optimizedPlan
  }

  private def windows(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.map(_.collect { case w: WindowExpression => w }.size).sum }.sum

  private def aggregates(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.map(_.collect { case a: AggregateExpression => a }.size).sum }.sum

  private def query(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)

  test("flagship_refined keeps the window expressions of its ten windowed columns") {
    val df = query("flagship_refined")
    val own = windows(df.queryExecution.optimizedPlan)
    // nine feature columns and the dedup rank, each at least one window
    assert(own >= 10)
    assert(windows(timedPlan(df)) == own)
  }

  test("a2_approx_distinct and a7_percentiles keep their aggregate expressions") {
    for (name <- Seq("a2_approx_distinct", "a7_percentiles")) {
      val df = query(name)
      val own = aggregates(df.queryExecution.optimizedPlan)
      assert(own >= 2, name)
      assert(aggregates(timedPlan(df)) == own, name)
    }
  }

  test("a count() of the same frame would prune them (the guard is live)") {
    val df = query("flagship_refined")
    seen.synchronized(seen.clear())
    df.count()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val counted = seen.synchronized(seen.toList).map(_.optimizedPlan)
    assert(counted.nonEmpty && counted.forall(windows(_) < 10))
  }
}
