package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.{Num, QueryPack, Tables}
import graft.ops.WindowFeatures._

/** Window / time-series operators (SURVEY §2.5 W1–W12) on the `events`
  * series (key = user_id, time = ts, measure = value).
  *
  * Every query shares one `Window.partitionBy(user_id).orderBy(ts,
  * event_id)` spec: one hash-exchange + one sort per query regardless of
  * how many features are derived — the 100 TB cost model is "one shuffle
  * per key-partitioned feature family", not per feature.
  */
object WindowPack extends QueryPack {

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_id", "user_id", "ts", "value")

  private val w = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  private val oracleWindow =
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1: first difference (glue.py:184).
    "w1_diff" -> ((s, dir) =>
      base(s, dir).withColumn("value_diff", diff(col("value"), w))
        .select("event_id", "user_id", "value", "value_diff")),

    // W2: lag features k ∈ {1,2,3,5} (glue.py:188-191).
    "w2_lags" -> ((s, dir) => {
      val d = base(s, dir)
      Seq(1, 2, 3, 5).foldLeft(d) { (acc, k) =>
        acc.withColumn(s"lag_$k", lagK(col("value"), k, w))
      }.select("event_id", "user_id", "value", "lag_1", "lag_2", "lag_3", "lag_5")
    }),

    // W3: trailing rolling mean, excludes current row (glue.py:192-194).
    "w3_rolling_mean" -> ((s, dir) =>
      base(s, dir)
        .withColumn("rm3", Num.r6(rollingMean(col("value"), 3, w)))
        .withColumn("rm5", Num.r6(rollingMean(col("value"), 5, w)))
        .select("event_id", "user_id", "rm3", "rm5")),

    // W4: trailing rolling sample stddev / volatility (glue.py:193-195).
    "w4_volatility" -> ((s, dir) =>
      base(s, dir)
        .withColumn("vol3", Num.r6(rollingStd(col("value"), 3, w)))
        .withColumn("vol5", Num.r6(rollingStd(col("value"), 5, w)))
        .select("event_id", "user_id", "vol3", "vol5")),

    // Rolling correlation between the series and its own lag-1 (the
    // rolling autocorrelation a financial pipeline derives next to
    // rolling vol): 20-row trailing frame, EXACT integer moments — all
    // five frame sums run on BIGINT cents, so the only float op is the
    // final ratio, r6-rounded for cross-engine parity. Same shared
    // window spec: no extra exchange over the rest of the family.
    // Bollinger bands (mid = 20-row trailing mean, bands at ±2 sample
    // stddev, %B position within the band) — the indicator family the
    // reference's rolling mean/vol feeds (preprocessing derives exactly
    // these building blocks). EXACT integer frame moments (cents s1/s2),
    // one double conversion with oracle-mirrored op order; shares the
    // family's single exchange+sort. Emitted in cents (the w15/w18
    // convention): unit choice cancels in %B anyway.
    "w21_bollinger" -> ((s, dir) => {
      val f = w.rowsBetween(-19, 0)
      base(s, dir)
        .withColumn("c", graft.Num.cents(col("value")))
        .withColumn("n", count(lit(1)).over(f))
        .withColumn("s1", sum(col("c")).over(f))
        .withColumn("s2", sum(col("c") * col("c")).over(f))
        .withColumn("mid", col("s1").cast("double") / col("n").cast("double"))
        .withColumn("sd", when(col("n") === 20 &&
            col("n") * col("s2") - col("s1") * col("s1") > 0,
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double"))))
        .select(col("event_id"), col("user_id"),
          when(col("n") === 20, Num.r6(col("mid"))).as("mid_cents"),
          Num.r6(col("sd")).as("sd_cents"),
          Num.r6(when(col("sd") > 0.0,
            (col("c").cast("double") - col("mid") + lit(2.0) * col("sd")) /
              (lit(4.0) * col("sd")))).as("pct_b"))
    }),

    // Stochastic oscillator %K/%D (14-row trailing high/low channel;
    // %D = 3-point mean of %K) — the RSI sibling momentum indicator.
    // %K is one double expression over EXACT frame min/max cents; %D
    // adds the two lagged %K values LEFT-TO-RIGHT via lag (never a
    // window sum of doubles, whose summation-tree shape differs across
    // engines). Same shared window spec.
    "w22_stochastic" -> ((s, dir) => {
      val f = w.rowsBetween(-13, 0)
      val withK = base(s, dir)
        .withColumn("c", graft.Num.cents(col("value")))
        .withColumn("n", count(lit(1)).over(f))
        .withColumn("mn", min(col("c")).over(f))
        .withColumn("mx", max(col("c")).over(f))
        .withColumn("k", when(col("n") === 14 && col("mx") > col("mn"),
          lit(100.0) * (col("c") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double")))
      withK
        .withColumn("k1", lag(col("k"), 1).over(w))
        .withColumn("k2", lag(col("k"), 2).over(w))
        .select(col("event_id"), col("user_id"),
          Num.r6(col("k")).as("pct_k"),
          Num.r6((col("k") + col("k1") + col("k2")) / lit(3.0)).as("pct_d"))
    }),

    "w15_rolling_corr" -> ((s, dir) => {
      val x = graft.Num.cents(col("value"))
      val f = w.rowsBetween(-19, 0)
      base(s, dir)
        .withColumn("xc", x)
        .withColumn("yc", lag(col("xc"), 1).over(w))
        .withColumn("n", count(col("yc")).over(f))
        .withColumn("sx", sum(when(col("yc").isNotNull, col("xc"))).over(f))
        .withColumn("sy", sum(col("yc")).over(f))
        .withColumn("sxy", sum(col("xc") * col("yc")).over(f))
        .withColumn("sxx", sum(when(col("yc").isNotNull,
          col("xc") * col("xc"))).over(f))
        .withColumn("syy", sum(col("yc") * col("yc")).over(f))
        .withColumn("corr20", when(col("n") === 20,
          Num.r6(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                 (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))))
        .select("event_id", "user_id", "corr20")
    }),

    // Rolling SKEWNESS and KURTOSIS over the 20-row trailing frame — the
    // higher-moment siblings of w4's volatility (tail diagnostics a risk
    // pipeline derives next to rolling vol). Exactness is the w15 recipe
    // extended to 3rd/4th powers: all four frame power-sums are exact
    // integers (S1–S3 in BIGINT cents — bounded by 20·56021³ < 2^63 —
    // and S4 in DECIMAL ≙ HUGEINT), the central-moment combinations
    //   M2 = n·S2 − S1²
    //   M3 = n²·S3 − 3n·S1·S2 + 2·S1³
    //   M4 = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴
    // are integer arithmetic with n = 20 folded to literal constants
    // (the frame gate makes n constant), and the only float ops are the
    // final ratios — sqrt is IEEE exact-rounded, so the pandas-adjusted
    //   G1 = M3/M2^1.5 · √(n(n−1))/(n−2)
    //   G2 = ((n+1)·(M4/M2² − 3) + 6)·(n−1)/((n−2)(n−3))
    // replay token-for-token in the oracle. Same shared window spec: no
    // extra exchange over the rest of the family. Degenerate frames
    // (n < 20 or zero variance) yield NULL.
    "w18_rolling_skew" -> ((s, dir) => {
      val f = w.rowsBetween(-19, 0)
      val d38 = Num.Exact
      base(s, dir)
        .withColumn("xc",
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .withColumn("x2d", (col("xc") * col("xc")).cast(DecimalType(10, 0)))
        .withColumn("n", count(lit(1)).over(f))
        .withColumn("s1", sum(col("xc")).over(f))
        .withColumn("s2", sum(col("xc") * col("xc")).over(f))
        .withColumn("s3", sum(col("xc") * col("xc") * col("xc")).over(f))
        .withColumn("s4", sum((col("x2d") * col("x2d"))
          .cast(DecimalType(21, 0))).over(f))
        .withColumn("m2", lit(20L) * col("s2") - col("s1") * col("s1"))
        .withColumn("m3", lit(400L) * col("s3")
          - lit(60L) * col("s1") * col("s2")
          + lit(2L) * col("s1") * col("s1") * col("s1"))
        .withColumn("s1d", col("s1").cast(DecimalType(8, 0)))
        .withColumn("m4",
          (col("s4") * 8000).cast(d38)
            - (col("s1d") * col("s3").cast(DecimalType(16, 0)) * 1600).cast(d38)
            + (col("s1d") * col("s1d") * col("s2").cast(DecimalType(11, 0))
                * 120).cast(d38)
            - ((col("s1d") * col("s1d")).cast(DecimalType(17, 0))
                * (col("s1d") * col("s1d")).cast(DecimalType(17, 0))
                * 3).cast(d38))
        .withColumn("m2d", col("m2").cast(DoubleType))
        .withColumn("skew20", when(col("n") === 20 && col("m2") > 0,
          Num.r6(col("m3").cast(DoubleType)
            / (col("m2d") * sqrt(col("m2d")))
            * sqrt(lit(380.0)) / lit(18.0))))
        .withColumn("kurt20", when(col("n") === 20 && col("m2") > 0,
          Num.r6((lit(21.0)
              * (col("m4").cast(DoubleType)
                  / (col("m2d") * col("m2d")) - lit(3.0))
              + lit(6.0)) * lit(19.0) / lit(306.0))))
        .select("event_id", "user_id", "skew20", "kurt20")
    }),

    // Cross-sectional standardization — the per-DATE z-score (neutralize
    // each day's level/dispersion before comparing series), the other
    // axis from the per-key windows above: stats come from ONE day-keyed
    // partial agg over exact integer cents (n, Σc, Σc²), the ~30-row
    // stats table attaches by broadcast, and the z itself is map-only.
    // FP discipline: Σc² and the variance term n·Σc² − (Σc)² are exact
    // Num moments (a LONG Σc² wraps at two values of 3e7 on one day) and
    // the term is converted to double once; the z expression replays
    // token-for-token in the oracle. Degenerate days (n < 2 or zero
    // variance) yield NULL.
    "w16_cross_sectional_z" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("date").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val stats = ev.groupBy("day").agg(count(lit(1)).as("n"),
          sum("c").as("sc"), Num.sumProd(col("c"), col("c")).as("sc2"))
        .withColumn("vt",
          Num.centred(col("n"), col("sc2"), col("sc"), col("sc")))
      ev.join(broadcast(Num.exactOrRaise(stats, "w16_cross_sectional_z",
          col("n"), col("vt"))), "day")
        .withColumn("vt", col("vt").cast("double"))
        .select(col("event_id"), col("day"), col("user_id"),
          when(col("n") >= 2 && col("vt") > 0,
            Num.r6((col("n") * col("c") - col("sc")).cast("double") /
              sqrt(col("n").cast("double") * col("vt") / (col("n") - 1))))
            .as("z"))
    }),

    // Rolling MEDIAN over a 15-row trailing frame — the robust rolling
    // center the mean-based w3 can't give (one outlier drags a rolling
    // mean for k rows; the median shrugs it off). There is no
    // distributive rolling-median aggregate, but the frame is BOUNDED
    // (15 values), so collect_list over the frame + an in-row sort is
    // O(k log k) per row with k constant — the per-series exchange+sort
    // is the same single shuffle every w-query pays, and the frame work
    // is map-side arithmetic, corpus-size-independent per row. Lower
    // median (1-indexed position (k+1) DIV 2) on exact cents, so the
    // only float op is the final /100 display division.
    "w19_rolling_median" -> ((s, dir) =>
      base(s, dir)
        .withColumn("c", Num.cents(col("value")))
        .withColumn("arr",
          sort_array(collect_list(col("c")).over(w.rowsBetween(-14, 0))))
        .select(col("event_id"), col("user_id"),
          (expr("element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))")
            .cast("double") / 100.0).as("roll_med"))),

    // W5: trailing rolling sum (preprocessing.py:331).
    "w5_rolling_sum" -> ((s, dir) =>
      base(s, dir)
        .withColumn("rs5", Num.r6(rollingSum(col("value"), 5, w)))
        .select("event_id", "user_id", "rs5")),

    // W6: percent change (eda cells 37-38).
    "w6_pct_change" -> ((s, dir) =>
      base(s, dir)
        .withColumn("pct", Num.r6(pctChange(col("value"), w)))
        .select("event_id", "user_id", "pct")),

    // W7: group-wise ffill then bfill over injected null runs
    // (preprocessing.py:119,158-161).
    "w7_ffill_bfill" -> ((s, dir) => {
      val d = base(s, dir)
        .withColumn("v", when(pmod(col("event_id"), lit(5)) === 0, lit(null))
          .otherwise(col("value")))
      d.withColumn("v_ffill", ffill(col("v"), w))
        .withColumn("v_filled", coalesce(col("v_ffill"), bfill(col("v"), w)))
        .select("event_id", "user_id", "v", "v_filled")
    }),

    // W9: RSI(14) composition (preprocessing.py:337-343).
    // NaN→null: series-head rows have 0/0 gain/loss ratio in both engines.
    "w9_rsi" -> ((s, dir) =>
      base(s, dir)
        .withColumn("rsi", Num.nanToNull(Num.r6(rsi(col("value"), 14, w))))
        .select("event_id", "user_id", "rsi")),

    // W11: per-group positional train/test split (train.py:120-147):
    // first 80% of each series by row position → train flag.
    "w11_positional_split" -> ((s, dir) => {
      val d = base(s, dir)
        .withColumn("rn", rowNumber(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      d.withColumn("is_train", (col("rn") <= (col("n") * 0.8)).cast("int"))
        .select("event_id", "user_id", "rn", "is_train")
    }),

    // OHLC bar resampling — the reference's own data GRAIN (yfinance
    // daily OHLCV quotes, webscrapping.py:22-25), produced from ticks
    // instead of fetched: per (series, day), open/close are SORT-FREE
    // min/max(struct(ts, event_id, c)) argmin/argmax (the x10 recipe —
    // no per-bar window sort, no row_number pass), high/low/volume ride
    // the same single partial agg. ONE keyed shuffle for the whole bar
    // table; everything is exact cents. At 100 TB this is the canonical
    // tick→bar compaction: map-side partial aggs collapse each
    // partition's ticks to ≤ |series·days| rows before the exchange.
    "w20_ohlc_resample" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          Num.cents(col("value")).as("c"))
        .withColumn("day", to_date(col("ts")))
      ev.groupBy("user_id", "day")
        .agg(
          min(struct(col("ts"), col("event_id"), col("c"))).as("f"),
          max(struct(col("ts"), col("event_id"), col("c"))).as("l"),
          max(col("c")).as("high_cents"),
          min(col("c")).as("low_cents"),
          sum(col("c")).as("volume_cents"),
          count(lit(1)).as("n_ticks"))
        .select(col("user_id"), col("day"),
          col("f.c").as("open_cents"), col("high_cents"),
          col("low_cents"), col("l.c").as("close_cents"),
          col("volume_cents"), col("n_ticks"))
    }),

    // W12: dedup keep-first per (user_id, day), deterministic
    // (glue.py:226 + SURVEY W12 deterministic variant).
    "w12_dedup_keep_first" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
      dedupKeepFirst(d, Seq(col("user_id"), col("day")),
        Seq(col("ts"), col("event_id")))
        .select("event_id", "user_id", "day", "value")
    }),

    // Ranking surface (beyond reference: rank/dense_rank/ntile) — top-3
    // events per user by value, deterministic tiebreak.
    "w13_topk_per_key" -> ((s, dir) => {
      val wv = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      base(s, dir)
        .withColumn("rk", row_number().over(wv))
        .filter(col("rk") <= 3)
        .select("user_id", "rk", "event_id", "value")
    }),

    // W14: time-based RANGE frame — trailing 1 hour by VALUE of the order
    // key (epoch micros), not by row count: rows with equal timestamps
    // share a frame, so the result is set-deterministic without a row
    // tie-break. Decimal window sums are exact → no rounding needed.
    "w14_time_rolling" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .over(w).cast("double"))
        .select("event_id", "user_id", "n_1h", "sum_1h")
    }),

    // Running-peak drawdown — the risk metric every financial pipeline
    // derives (max-to-date vs current): running max is an O(1)-state
    // unbounded-preceding frame on the SAME shared window spec (still
    // one exchange + one sort), drawdown = (peak − value)/peak with the
    // division guarded for non-positive peaks. Exactness: running max
    // picks an existing 2-decimal value (no accumulation), so the only
    // float op is the final guarded divide, r6-rounded in both engines.
    "w17_drawdown" -> ((s, dir) =>
      base(s, dir)
        .withColumn("peak",
          max(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("drawdown",
          when(col("peak") > 0,
            graft.Num.r6((col("peak") - col("value")) / col("peak"))))
        .select("event_id", "user_id", "value", "peak", "drawdown"))
  )

  def oracleSql: Map[String, String] = Map(
    "w19_rolling_median" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), win AS (
        |  SELECT event_id, user_id,
        |    list(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS arr
        |  FROM ev
        |)
        |SELECT event_id, user_id,
        |  CAST(list_sort(arr)[CAST((len(arr) + 1) // 2 AS INT)] AS DOUBLE)
        |    / 100.0 AS roll_med
        |FROM win""".stripMargin,
    "w1_diff" ->
      s"""SELECT event_id, user_id, value,
         |  value - lag(value, 1) OVER w AS value_diff
         |FROM events $oracleWindow""".stripMargin,
    "w2_lags" ->
      s"""SELECT event_id, user_id, value,
         |  lag(value, 1) OVER w AS lag_1,
         |  lag(value, 2) OVER w AS lag_2,
         |  lag(value, 3) OVER w AS lag_3,
         |  lag(value, 5) OVER w AS lag_5
         |FROM events $oracleWindow""".stripMargin,
    "w3_rolling_mean" ->
      s"""SELECT event_id, user_id,
         |  floor((avg(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS rm3,
         |  floor((avg(value) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS rm5
         |FROM events $oracleWindow""".stripMargin,
    "w4_volatility" ->
      s"""SELECT event_id, user_id,
         |  floor((stddev_samp(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS vol3,
         |  floor((stddev_samp(value) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS vol5
         |FROM events $oracleWindow""".stripMargin,
    "w16_cross_sectional_z" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), st AS (
        |  SELECT day, count(*) AS n, CAST(sum(c) AS BIGINT) AS sc,
        |    CAST(sum(c * c) AS BIGINT) AS sc2
        |  FROM ev GROUP BY 1
        |)
        |SELECT event_id, day, user_id,
        |  CASE WHEN n >= 2 AND
        |    CAST(CAST(n AS HUGEINT) * sc2 - CAST(sc AS HUGEINT) * sc AS DOUBLE) > 0
        |  THEN floor((CAST(n * c - sc AS DOUBLE) /
        |    sqrt(CAST(n AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * sc2 - CAST(sc AS HUGEINT) * sc AS DOUBLE)
        |      / (n - 1))) * 1000000 + 0.5) / 1000000
        |  END AS z
        |FROM ev JOIN st USING (day)""".stripMargin,
    "w21_bollinger" ->
      s"""WITH c AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM events
         |), m AS (
         |  SELECT event_id, user_id, c,
         |    count(*) OVER f AS n,
         |    sum(c) OVER f AS s1,
         |    sum(c * c) OVER f AS s2
         |  FROM c
         |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |), b AS (
         |  SELECT event_id, user_id, c, n,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mid,
         |    CASE WHEN n = 20 AND n * s2 - s1 * s1 > 0 THEN
         |      sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
         |           / CAST(n * (n - 1) AS DOUBLE))
         |    END AS sd
         |  FROM m
         |)
         |SELECT event_id, user_id,
         |  CASE WHEN n = 20
         |    THEN floor(mid * 1000000 + 0.5) / 1000000 END AS mid_cents,
         |  floor(sd * 1000000 + 0.5) / 1000000 AS sd_cents,
         |  CASE WHEN sd > 0.0 THEN
         |    floor(((CAST(c AS DOUBLE) - mid + 2.0 * sd) / (4.0 * sd))
         |      * 1000000 + 0.5) / 1000000
         |  END AS pct_b
         |FROM b""".stripMargin,
    "w22_stochastic" ->
      s"""WITH c AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM events
         |), m AS (
         |  SELECT event_id, user_id, ts, c,
         |    count(*) OVER f AS n,
         |    min(c) OVER f AS mn,
         |    max(c) OVER f AS mx
         |  FROM c
         |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |), k AS (
         |  SELECT event_id, user_id, ts,
         |    CASE WHEN n = 14 AND mx > mn THEN
         |      100.0 * CAST(c - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
         |    END AS k
         |  FROM m
         |)
         |SELECT event_id, user_id,
         |  floor(k * 1000000 + 0.5) / 1000000 AS pct_k,
         |  floor(((k + lag(k, 1) OVER w + lag(k, 2) OVER w) / 3.0)
         |    * 1000000 + 0.5) / 1000000 AS pct_d
         |FROM k $oracleWindow""".stripMargin,
    "w15_rolling_corr" ->
      s"""WITH c AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
         |  FROM events
         |), l AS (
         |  SELECT event_id, user_id, ts, xc, lag(xc, 1) OVER w AS yc
         |  FROM c $oracleWindow
         |), m AS (
         |  SELECT event_id, user_id,
         |    count(yc) OVER f AS n,
         |    sum(CASE WHEN yc IS NOT NULL THEN xc END) OVER f AS sx,
         |    sum(yc) OVER f AS sy,
         |    sum(xc * yc) OVER f AS sxy,
         |    sum(CASE WHEN yc IS NOT NULL THEN xc * xc END) OVER f AS sxx,
         |    sum(yc * yc) OVER f AS syy
         |  FROM l
         |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, user_id,
         |  CASE WHEN n = 20 THEN
         |    floor((CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |           * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000 + 0.5)
         |      / 1000000
         |  END AS corr20
         |FROM m""".stripMargin,
    "w18_rolling_skew" ->
      s"""WITH c AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
         |  FROM events
         |), m AS (
         |  SELECT event_id, user_id,
         |    count(*) OVER f AS n,
         |    sum(xc) OVER f AS s1,
         |    sum(xc * xc) OVER f AS s2,
         |    sum(xc * xc * xc) OVER f AS s3,
         |    sum(CAST(xc AS HUGEINT) * xc * xc * xc) OVER f AS s4
         |  FROM c
         |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |), mm AS (
         |  SELECT event_id, user_id, n,
         |    20 * s2 - s1 * s1 AS m2,
         |    400 * s3 - 60 * s1 * s2 + 2 * s1 * s1 * s1 AS m3,
         |    8000 * s4
         |      - 1600 * (CAST(s1 AS HUGEINT) * s3)
         |      + 120 * (CAST(s1 AS HUGEINT) * s1 * s2)
         |      - 3 * (CAST(s1 AS HUGEINT) * s1 * s1 * s1) AS m4
         |  FROM m
         |)
         |SELECT event_id, user_id,
         |  CASE WHEN n = 20 AND m2 > 0 THEN
         |    floor((CAST(m3 AS DOUBLE)
         |      / (CAST(m2 AS DOUBLE) * sqrt(CAST(m2 AS DOUBLE)))
         |      * sqrt(380.0) / 18.0) * 1000000 + 0.5) / 1000000
         |  END AS skew20,
         |  CASE WHEN n = 20 AND m2 > 0 THEN
         |    floor(((21.0
         |      * (CAST(m4 AS DOUBLE)
         |          / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0)
         |      + 6.0) * 19.0 / 306.0) * 1000000 + 0.5) / 1000000
         |  END AS kurt20
         |FROM mm""".stripMargin,
    "w5_rolling_sum" ->
      s"""SELECT event_id, user_id,
         |  floor((sum(value) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS rs5
         |FROM events $oracleWindow""".stripMargin,
    "w6_pct_change" ->
      s"""SELECT event_id, user_id,
         |  floor((value / lag(value, 1) OVER w - 1) * 1000000 + 0.5) / 1000000 AS pct
         |FROM events $oracleWindow""".stripMargin,
    "w7_ffill_bfill" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts,
         |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
         |  FROM events
         |)
         |SELECT event_id, user_id, v,
         |  COALESCE(
         |    last_value(v IGNORE NULLS) OVER
         |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    first_value(v IGNORE NULLS) OVER
         |      (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |  ) AS v_filled
         |FROM d $oracleWindow""".stripMargin,
    "w9_rsi" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, ts,
         |    value - lag(value, 1) OVER w AS delta
         |  FROM events $oracleWindow
         |), g AS (
         |  SELECT event_id, user_id, ts,
         |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         |    CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
         |  FROM d
         |)
         |, r AS (
         |  SELECT event_id, user_id,
         |    floor((100.0 - 100.0 / (1.0 +
         |      (avg(gain) OVER (w ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) /
         |      (avg(loss) OVER (w ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)))) * 1000000 + 0.5) / 1000000 AS rsi0
         |  FROM g $oracleWindow
         |)
         |SELECT event_id, user_id,
         |  CASE WHEN isnan(rsi0) THEN NULL ELSE rsi0 END AS rsi
         |FROM r""".stripMargin,
    "w11_positional_split" ->
      s"""SELECT event_id, user_id,
         |  row_number() OVER w AS rn,
         |  CAST(row_number() OVER w <=
         |    (count(*) OVER (PARTITION BY user_id)) * 0.8 AS INT) AS is_train
         |FROM events $oracleWindow""".stripMargin,
    "w20_ohlc_resample" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(ts AS DATE) AS day
        |  FROM events
        |), r AS (
        |  SELECT user_id, day, c,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM ev
        |)
        |SELECT user_id, day,
        |  CAST(max(CASE WHEN rf = 1 THEN c END) AS BIGINT) AS open_cents,
        |  CAST(max(c) AS BIGINT) AS high_cents,
        |  CAST(min(c) AS BIGINT) AS low_cents,
        |  CAST(max(CASE WHEN rl = 1 THEN c END) AS BIGINT) AS close_cents,
        |  CAST(sum(c) AS BIGINT) AS volume_cents,
        |  CAST(count(*) AS BIGINT) AS n_ticks
        |FROM r GROUP BY 1, 2""".stripMargin,
    "w12_dedup_keep_first" ->
      """SELECT event_id, user_id, CAST(ts AS DATE) AS day, value
        |FROM events
        |QUALIFY row_number() OVER
        |  (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id) = 1""".stripMargin,
    "w13_topk_per_key" ->
      """SELECT user_id,
        |  row_number() OVER wv AS rk, event_id, value
        |FROM events
        |WINDOW wv AS (PARTITION BY user_id ORDER BY value DESC, event_id)
        |QUALIFY rk <= 3""".stripMargin,
    "w14_time_rolling" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "w17_drawdown" ->
      s"""SELECT event_id, user_id, value,
         |  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
         |  CASE WHEN max(value) OVER (PARTITION BY user_id
         |         ORDER BY ts, event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
         |    THEN floor(((max(value) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - value)
         |          / max(value) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |          * 1000000 + 0.5) / 1000000
         |  END AS drawdown
         |FROM events""".stripMargin
  )
}
