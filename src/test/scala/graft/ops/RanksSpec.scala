package graft.ops

import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Num, Ranks, SparkSuite}

/** The distributed scan primitive vs the single-partition window each of
  * its carries replaces — must agree exactly across range-partition
  * boundaries, return the carry past the last row, and keep the schema
  * the per-carry functions it replaced produced. */
class RanksSpec extends SparkSuite {

  /** Runs `f` with AQE partition coalescing on or off, restoring the
    * caller's setting: coalescing folds a small sort into one range
    * partition, and the cross-boundary property would go untested. */
  private def coalescing[A](on: Boolean)(f: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def frame(n: Long, k: Column, a: Column, b: Column,
      slices: Int = spark.sparkContext.defaultParallelism): DataFrame =
    spark.range(0, n, 1, slices).select(col("id"), k.cast("long").as("k"),
      a.cast("long").as("a"), b.cast("long").as("b"))

  /** Inputs: (name, frame over (id, k, a, b), total order). */
  private def inputs: Seq[(String, DataFrame, Seq[Column])] = {
    import spark.implicits._
    val hashed = frame(10000, pmod(col("id") * 2654435761L, lit(997)),
      pmod(col("id") * 40503L, lit(100)) + 1, pmod(col("id") * 16807L, lit(30)) + 1)
    Seq(
      ("10k rows, hashed key", hashed, Seq(col("k").desc, col("id").asc)),
      ("8k rows, id order", frame(8000, col("id"),
        pmod(col("id") * 48271L, lit(50)) + 1, pmod(col("id") * 16807L, lit(30)) + 1),
        Seq(col("id").asc)),
      ("empty", hashed.filter(lit(false)), Seq(col("id"))),
      // range() already reports range partitioning on id, so the sort
      // keeps its 8 slices, three of them empty (two between rows)
      ("5 rows in 8 partitions", frame(5, -col("id"), col("id"), lit(1), slices = 8),
        Seq(col("id"))),
      ("skyline literal", Seq((5L, 10L), (1L, 7L), (3L, 2L), (4L, 9L), (2L, 7L), (6L, 1L))
        .toDF("id", "a").select(col("id"), col("id").as("k"), col("a"), lit(0L).as("b"))
        .repartition(3), Seq(col("k"))))
  }

  /** Carries: (carry, out columns, window twins, nullable output). */
  private def carries(w: org.apache.spark.sql.expressions.WindowSpec) = {
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Seq(
      (Ranks.Rank, Seq("r"), Seq(row_number().over(w).cast("long")), false),
      (Ranks.Sum("a", "b"), Seq("ca", "cb"),
        Seq(sum(col("a")).over(upTo), sum(col("b")).over(upTo)), false),
      (Ranks.MaxBefore("a"), Seq("ma"),
        Seq(max(col("a")).over(w.rowsBetween(Window.unboundedPreceding, -1))), true))
  }

  test("every carry equals its single-partition window twin, totals and schema included") {
    for ((name, df, order) <- inputs; coalesced <- Seq(false, true);
         (carry, outs, twins, nullable) <- carries(Window.orderBy(order: _*))) {
      val ctx = s"$name / $carry / coalescing=$coalesced"
      val (got, totals) = coalescing(coalesced) {
        val r = Ranks.scan(df, order, carry, outs)
        r._1.cache().count()
        (r._1, r._2.toList)
      }
      assert(got.schema === outs.foldLeft(df.schema)(_.add(_, LongType, nullable)), ctx)
      val want = df.select(col("id") +: twins.zip(outs).map { case (t, o) => t.as(s"w_$o") }: _*)
      val mism = got.join(want, Seq("id"), "full_outer")
        .filter(not(outs.map(o => col(o) <=> col(s"w_$o")).reduce(_ && _))).count()
      val n = df.count()
      assert(got.count() === n && mism === 0, ctx)
      val wantTotals = carry match {
        case Ranks.Rank => Seq(n)
        case _: Ranks.Sum =>
          val t = df.agg(coalesce(sum("a"), lit(0L)), coalesce(sum("b"), lit(0L))).head()
          Seq(t.getLong(0), t.getLong(1))
        case _: Ranks.MaxBefore =>
          if (n == 0) Nil else Seq(df.agg(max("a")).head().getLong(0))
      }
      assert(totals === wantTotals, ctx)
      if (!coalesced && n > 0)
        assert(got.rdd.getNumPartitions > 1, s"$ctx: must cross range partitions")
      if (name.startsWith("5 rows"))
        assert(got.rdd.mapPartitions(it => Iterator(it.size)).collect().contains(0),
          s"$ctx: some range partitions must be empty")
      if (name == "skyline literal" && carry == Ranks.MaxBefore("a"))
        assert(got.orderBy("k").select("ma").collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ===
          Seq(None, Some(7L), Some(7L), Some(7L), Some(9L), Some(10L)), ctx)
      got.unpersist()
    }
  }

  test("globalPrefixSum equals the one-partition running sum on a total order") {
    val df = spark.range(0, 10000).select(col("id"),
      pmod(col("id") * 2654435761L, lit(997)).as("k"),
      (pmod(col("id") * 40503L, lit(100)) + 1).as("v"))
    val order = Seq(col("k").desc, col("id").asc)
    val got = coalescing(on = false) {
      val g = Ranks.scan(df, order, Ranks.Sum("v"), Seq("cum"))._1
      g.cache().count()
      g
    }
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum_w", sum(col("v")).over(w))
    val mism = got.join(want, Seq("id")).filter(col("cum") =!= col("cum_w")).count()
    assert(mism === 0, "prefix sums must match across partition boundaries")
    assert(got.rdd.getNumPartitions > 1,
      "prefix sum must run over a multi-partition range sort")
    got.unpersist()
  }

  test("globalPrefixSums carries k columns in one sort and returns exact totals") {
    val df = spark.range(0, 8000).select(col("id"),
      (pmod(col("id") * 48271L, lit(50)) + 1).as("a"),
      (pmod(col("id") * 16807L, lit(30)) + 1).as("b"))
    val (got, totals) = coalescing(on = false) {
      val r = Ranks.scan(df, Seq(col("id").asc), Ranks.Sum("a", "b"), Seq("ca", "cb"))
      r._1.cache().count()
      (r._1, r._2.toList)
    }
    val w = Window.orderBy(col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("wa", sum(col("a")).over(w)).withColumn("wb", sum(col("b")).over(w))
    val mism = got.join(want, Seq("id"))
      .filter(col("ca") =!= col("wa") || col("cb") =!= col("wb")).count()
    assert(mism === 0, "both prefix sums must match across boundaries")
    val wantTotals = df.agg(sum("a"), sum("b")).head()
    assert(totals == Seq(wantTotals.getLong(0), wantTotals.getLong(1)),
      s"grand totals must fall out of the subtotal pass: $totals")
    assert(got.rdd.getNumPartitions > 1)
    got.unpersist()
  }

  test("a required (key, value) rank keeps the primitive-decode schema") {
    import spark.implicits._
    val df = Seq((2L, 1.5), (1L, 1.5), (3L, 0.5)).toDF("key", "v")
    val got = Ranks.scan(df.select(Num.required("key", LongType), Num.required("v", DoubleType)),
      Seq(col("v").desc, col("key")), Ranks.Rank, Seq("r"))._1
    assert(got.schema === StructType(Seq(StructField("key", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false), StructField("r", LongType, nullable = false))))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    val withNull = Seq((Some(1L), 1.0), (None, 2.0)).toDF("key", "v")
    val e = intercept[RuntimeException] {
      Ranks.scan(withNull.select(Num.required("key", LongType), Num.required("v", DoubleType)),
        Seq(col("v")), Ranks.Rank, Seq("r"))._1.collect()
    }
    assert(e.getMessage.contains("NOT_NULL_ASSERT_VIOLATION"), e)
  }

  test("a Sum that overflows a long raises instead of wrapping") {
    val big = Long.MaxValue / 2 + 1
    def twoBig(slices: Int) = spark.range(0, 2, 1, slices).select(col("id"), lit(big).as("v"))
    // one partition: the emitted running value, then the subtotal pass
    val (cum, totals) = Ranks.scan(twoBig(1), Seq(col("id")), Ranks.Sum("v"), Seq("cum"))
    for (run <- Seq(() => cum.collect(), () => totals.head)) {
      val e = intercept[SparkException](run())
      assert(e.getCause.isInstanceOf[ArithmeticException], e)
    }
    // one row per partition: the driver's scan of the subtotals
    intercept[ArithmeticException](
      Ranks.scan(twoBig(2), Seq(col("id")), Ranks.Sum("v"), Seq("cum")))
  }
}
