package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-moment queries on fixtures in the tables' own schema at the edge
  * of their range: sums that pass 2⁶³ answer exactly instead of wrapping,
  * and a count past a narrow cast raises, naming the query, instead of
  * dropping the row. */
class ExactMomentQueriesSpec extends SparkSuite {
  import spark.implicits._

  /** Writes `rows` as `<dir>/<table>.parquet`, cast to the schema of the
    * same table in the shared fixture. */
  private def writeTable(dir: String, table: String, rows: DataFrame): Unit = {
    val schema = spark.read.parquet(s"$sf/$table.parquet").schema
    rows.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .coalesce(1).write.parquet(s"$dir/$table.parquet")
  }

  private def tempDir(): String = {
    val d = Files.createTempDirectory("exact-moments").toFile
    d.deleteOnExit()
    d.getPath
  }

  private def r6(x: Double): Double = math.floor(x * 1000000 + 0.5).toLong / 1000000.0

  test("w16_cross_sectional_z: a day whose Σc² passes 2^63 standardizes exactly") {
    val dir = tempDir()
    val ts = Timestamp.valueOf("2024-01-02 10:00:00")
    writeTable(dir, "events", Seq(
        (1L, ts, 7L, "click", 3.0e7, "{}"),
        (2L, ts, 8L, "click", 1.0e7, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val z = SparkEntry.queries("w16_cross_sectional_z")(spark, dir)
      .select("event_id", "z").as[(Long, Option[Double])].collect().toMap
    assert(z == Map(1L -> Some(0.707107), 2L -> Some(-0.707107)))
  }

  test("ml_linreg_normal: moments past 2^63 match a BigInt Cramer replay") {
    val dir = tempDir()
    // (l_quantity, l_discount, l_extendedprice): every integer stays
    // within Num.CentsBound, while Σx1·y ≈ 1.13e19
    val rows = Seq((1.9e9, 0.05, 2.905e7), (1.5e9, 0.10, 2.51e7), (1.0e9, 0.20, 2.02e7))
    writeTable(dir, "lineitem", rows.zipWithIndex.map { case ((q, d, p), i) =>
        (i.toLong, 1L, 1L, 1, q, p, d, 0.0, "N", "O",
          Timestamp.valueOf("1995-01-01 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
    val got = SparkEntry.queries("ml_linreg_normal")(spark, dir).head()

    val xs = rows.map { case (q, d, p) =>
      (BigInt(q.toLong), BigInt(math.floor(d * 100 + 0.5).toLong),
        BigInt(math.floor(p * 100 + 0.5).toLong))
    }
    def sum(f: ((BigInt, BigInt, BigInt)) => BigInt): Double = xs.map(f).sum.toDouble
    assert(xs.map(t => t._1 * t._3).sum > BigInt(Long.MaxValue))
    val n = xs.size.toDouble
    val (s1, s2, sy) = (sum(_._1), sum(_._2), sum(_._3))
    val (s11, s12, s22) = (sum(t => t._1 * t._1), sum(t => t._1 * t._2), sum(t => t._2 * t._2))
    val (s1y, s2y) = (sum(t => t._1 * t._3), sum(t => t._2 * t._3))
    val det = n * (s11 * s22 - s12 * s12) -
      s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) -
      s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) -
      sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) -
      s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    assert(got.getLong(0) == 3L)
    val coef = Seq(1, 2, 3).map(got.getDouble)
    assert(coef == Seq(det0 / det, det1 / det, det2 / det).map(r6))
    // the rows lie on y = 1e9 + x1 + 1e6·x2 (cents)
    coef.zip(Seq(1e9, 1.0, 1e6)).foreach { case (c, e) =>
      assert(math.abs(c - e) <= 1e-6 * e, s"$c vs $e")
    }
  }

  test("stats_ar1_forecast: a user with 10^6 lag pairs raises instead of vanishing") {
    val dir = tempDir()
    // one user, 1,000,001 events: 10⁶ lag pairs, past the DECIMAL(6,0) n
    writeTable(dir, "events", spark.range(1000001L).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704153600L) + col("id")).as("ts"),
      lit(1L).as("user_id"), lit("click").as("event_type"),
      (pmod(col("id"), lit(97L)) + 1).cast("double").as("value"),
      lit("{}").as("props")))
    val e = try intercept[Exception](
        SparkEntry.queries("stats_ar1_forecast")(spark, dir).collect())
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("stats_ar1_forecast"), msgs)
  }
}
