package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.ops.WindowFeatures._

class WindowFeaturesSpec extends SparkSuite {

  private def df(vals: Seq[Double]) = {
    import spark.implicits._
    vals.zipWithIndex.map { case (v, i) =>
      (1L, new Timestamp(1700000000000L + i * 60000L), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")
  }

  private val w = seriesWindow(col("user_id"), col("ts"), col("event_id"))

  test("trailing rolling mean excludes the current row (glue.py:193 rowsBetween(-j,-1))") {
    val got = df(Seq(1.0, 2.0, 3.0, 4.0))
      .withColumn("rm", rollingMean(col("value"), 2, w))
      .orderBy("event_id").select("rm").collect().map(r => Option(r.get(0)))
    // row0: empty frame -> null; row1: mean(1)=1; row2: mean(1,2)=1.5; row3: mean(2,3)=2.5
    assert(got(0).isEmpty)
    assert(got(1).get === 1.0 && got(2).get === 1.5 && got(3).get === 2.5)
  }

  test("volatility is SAMPLE stddev and 1-row frames are null (not NaN)") {
    val got = df(Seq(1.0, 3.0, 5.0))
      .withColumn("vol", rollingStd(col("value"), 2, w))
      .orderBy("event_id").select("vol").collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty)                       // empty frame
    assert(got(1).isEmpty)                       // single value: NaN -> null
    val s = got(2).get.asInstanceOf[Double]      // stddev_samp(1,3) = sqrt(2)
    assert(math.abs(s - math.sqrt(2.0)) < 1e-12)
  }

  test("diff + lag compose: diff then cumulative sum recovers the series") {
    import org.apache.spark.sql.expressions.Window
    val base = df(Seq(10.0, 12.0, 11.0, 15.0))
    val rec = base.withColumn("d", diff(col("value"), w))
      .withColumn("rebuilt",
        first(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)) +
          coalesce(sum(col("d")).over(w.rowsBetween(Window.unboundedPreceding, 0)), lit(0.0)))
      .orderBy("event_id").select("value", "rebuilt").collect()
    rec.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("ffill/bfill fill interior, head and tail null runs") {
    import spark.implicits._
    val d = Seq(
      (1L, new Timestamp(0L), 0L, Option.empty[Double]),
      (1L, new Timestamp(1L), 1L, Some(2.0)),
      (1L, new Timestamp(2L), 2L, Option.empty[Double]),
      (1L, new Timestamp(3L), 3L, Some(4.0)),
      (1L, new Timestamp(4L), 4L, Option.empty[Double])
    ).toDF("user_id", "ts", "event_id", "value")
    val got = d
      .withColumn("f", coalesce(ffill(col("value"), w), bfill(col("value"), w)))
      .orderBy("event_id").select("f").collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(2.0, 2.0, 2.0, 4.0, 4.0))
  }

  test("dedupKeepFirst keeps exactly the first row per key by the given order") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 2L, 20.0), (1L, "a", 1L, 10.0), // dup key (1,a): keep seq=1
      (1L, "b", 3L, 30.0),
      (2L, "a", 4L, 40.0), (2L, "a", 5L, 50.0)  // dup key (2,a): keep seq=4
    ).toDF("k1", "k2", "seq", "v")
    val got = dedupKeepFirst(d, Seq(col("k1"), col("k2")), Seq(col("seq")))
      .orderBy("seq").collect().map(_.getLong(2))
    assert(got.toSeq === Seq(1L, 3L, 4L))

    // per (user_id, date) by (ts, event_id), the flagship's dedup: same-ts
    // ties fall to event_id, and rows on both sides of midnight (UTC
    // session) are different dates. firstOfRun over the series window
    // selects exactly the same rows.
    val ev = Seq(
      (1L, "2024-03-01 23:59:59", 7L), (1L, "2024-03-01 23:59:59", 3L),
      (1L, "2024-03-02 00:00:00", 9L), (1L, "2024-03-02 00:00:00", 1L),
      (1L, "2024-03-02 12:00:00", 2L),
      (2L, "2024-03-01 00:00:00", 5L), (2L, "2024-03-01 23:59:59.999999", 4L),
      (2L, "2024-03-02 00:00:00.000001", 6L)
    ).toDF("user_id", "t", "event_id")
      .withColumn("ts", to_timestamp(col("t")))
      .withColumn("date", col("ts").cast("date"))
    val byRank = dedupKeepFirst(ev, Seq(col("user_id"), col("date")),
      Seq(col("ts"), col("event_id")))
    val byFlag = ev.withColumn("first", firstOfRun(col("date"), w)).filter(col("first"))
    def ids(f: org.apache.spark.sql.DataFrame) =
      f.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids(byRank) === Seq(1L, 3L, 5L, 6L))
    assert(ids(byFlag) === ids(byRank))
  }

  test("rsi: all-gain windows are NULL (SQL x/0 semantics), mixed windows in [0,100]") {
    // Both Spark (non-ANSI) and DuckDB return NULL for x/0.0 — so a window
    // with zero losses has undefined rs, hence NULL rsi. The oracle agrees.
    val up = df((1 to 20).map(_.toDouble))
      .withColumn("rsi", rsi(col("value"), 14, w))
      .filter(col("event_id") > 0)
      .select("rsi").collect().map(r => Option(r.get(0)))
    assert(up.forall(_.isEmpty))
    val mixed = df(Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 2.0, 7.0))
      .withColumn("rsi", rsi(col("value"), 14, w))
      .filter(col("event_id") > 1) // first delta is gain-only → null
      .select("rsi").collect().map(_.getDouble(0))
    assert(mixed.forall(v => v >= 0.0 && v <= 100.0))
  }
}
