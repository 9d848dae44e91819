package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Num, Tables}
import graft.ops.WindowFeatures._

/** Flagship pipeline — the reference's Glue job transposed to the fixtures
  * (SURVEY §3.1, §7.3; /root/reference/glue.py:78-237).
  *
  * scan events (ts-range prune) → broadcast-join dim (customer) → select /
  * rename → calendar + cyclic features → per-key window features (diff,
  * lag {1,2,3,5}, trailing rolling {3,5} mean/volatility) → na.fill(0) on
  * the 9 feature columns → deterministic keep-first dedup per (user_id,
  * date) → rebalance by date → refined frame, ready for the reference's
  * `partitionBy("date")` write (glue.py:237).
  *
  * Mapping: series key `user_id` ↔ `acao`, time `ts` ↔ trading date,
  * measure `value` ↔ `fechamento`, dim `customer` ↔ the 84-row carteira CSV
  * (glue.py:100,131-134). The dim is small ⇒ broadcast hash join, no
  * shuffle of the fact side for the join. The frame pays two exchanges:
  * one hash exchange on user_id (and its one sort) serves all 9 features
  * and the dedup flag, and one rebalance on date lays the output out for
  * the write, so each date lands in one write task (one file per date)
  * while AQE still splits an oversized date and coalesces small ones.
  *
  * Reference quirk kept (SURVEY §4): windows are computed BEFORE dedup, so
  * duplicate (key, date) rows do perturb lag features, exactly like
  * glue.py:183-195 running before :226.
  */
object Flagship {

  /** Feature columns null-filled to 0 (glue.py:202-214). */
  val featureCols: Seq[String] =
    Seq("value_diff") ++
      Seq(1, 2, 3, 5).map(k => s"lag_${k}_value_diff") ++
      Seq(3, 5).map(j => s"rolling_mean_${j}_value_diff") ++
      Seq(3, 5).map(j => s"volatility_${j}_value_diff")

  def refined(spark: SparkSession, sfDir: String): DataFrame = {
    val ev  = Tables.events(spark, sfDir)
    val dim = Tables.customer(spark, sfDir)

    // Scan + prune (S1): ts-range predicate reaches the parquet scan.
    val pruned = ev.filter(
      col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2025-01-01").cast("timestamp"))

    // Dim enrichment (J1): 1.5k-row dim ⇒ broadcast left join.
    val joined = pruned
      .join(broadcast(dim), pruned("user_id") === dim("c_custkey"), "left")
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("date").as("date"), col("ts"),
        col("event_type"), col("value"),
        col("c_mktsegment").as("segment"))

    // Calendar + cyclic features (glue.py:174-178). Convention: Spark
    // dayofweek (1=Sunday..7=Saturday); the (dow-2)%5 maps Mon..Fri→0..4
    // like the reference's business-day encoding.
    val twoPi = lit(2.0 * math.Pi)
    val cal = joined
      .withColumn("dayofweek", dayofweek(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("day_sin", Num.r6(sin(twoPi * pmod(col("dayofweek") - 2, lit(5)) / 5)))
      .withColumn("day_cos", Num.r6(cos(twoPi * pmod(col("dayofweek") - 2, lit(5)) / 5)))
      .withColumn("month_sin", Num.r6(sin(twoPi * col("month") / 12)))
      .withColumn("month_cos", Num.r6(cos(twoPi * col("month") / 12)))

    // Window features (glue.py:183-195): one WindowSpec reused by every
    // feature → single exchange+sort.
    val w = seriesWindow(col("user_id"), col("ts"), col("event_id"))
    val withDiff = cal.withColumn("value_diff", diff(col("value"), w))
    val withLags = Seq(1, 2, 3, 5).foldLeft(withDiff) { (d, k) =>
      d.withColumn(s"lag_${k}_value_diff", lagK(col("value_diff"), k, w))
    }
    val withRoll = Seq(3, 5).foldLeft(withLags) { (d, j) =>
      d.withColumn(s"rolling_mean_${j}_value_diff", Num.r6(rollingMean(col("value_diff"), j, w)))
        .withColumn(s"volatility_${j}_value_diff", Num.r6(rollingStd(col("value_diff"), j, w)))
    }

    // Deterministic keep-first dedup per (user_id, date) (glue.py:226) as
    // a flag over the same window `w`: date = CAST(ts AS DATE) is
    // non-decreasing in ts (pinned UTC session), so in (ts, event_id) order
    // a (user_id, date)'s rows are contiguous and the first of them is
    // `dedupKeepFirst`'s row_number() = 1, without its second sort. Imputed
    // (glue.py:202-214) before the filter, like the reference.
    val flagged = withRoll
      .withColumn("__first", firstOfRun(col("date"), w))
      .na.fill(0.0, featureCols)
    val outCols = Seq(
      "user_id", "date", "event_type", "value", "segment", "dayofweek",
      "month", "day_sin", "day_cos", "month_sin", "month_cos") ++ featureCols
    flagged.filter(col("__first"))
      .select(outCols.map(col): _*)
      .hint("rebalance", col("date"))
  }

  /** DuckDB oracle for `refined` — same math, same rounding, same
    * deterministic dedup via QUALIFY. */
  val refinedOracle: String =
    """WITH base AS (
      |  SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS date, e.ts,
      |         e.event_type, e.value, c.c_mktsegment AS segment
      |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |  WHERE e.ts >= TIMESTAMP '2024-01-01' AND e.ts < TIMESTAMP '2025-01-01'
      |), cal AS (
      |  SELECT *,
      |    (dayofweek(date) + 1) AS dow_spark,
      |    month(date) AS mon
      |  FROM base
      |), feat0 AS (
      |  SELECT *,
      |    value - lag(value, 1) OVER w AS value_diff
      |  FROM cal
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), feat AS (
      |  SELECT *,
      |    lag(value_diff, 1) OVER w AS lag_1_value_diff,
      |    lag(value_diff, 2) OVER w AS lag_2_value_diff,
      |    lag(value_diff, 3) OVER w AS lag_3_value_diff,
      |    lag(value_diff, 5) OVER w AS lag_5_value_diff,
      |    floor((avg(value_diff) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS rolling_mean_3_value_diff,
      |    floor((avg(value_diff) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS rolling_mean_5_value_diff,
      |    floor((stddev_samp(value_diff) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS volatility_3_value_diff,
      |    floor((stddev_samp(value_diff) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) * 1000000 + 0.5) / 1000000 AS volatility_5_value_diff
      |  FROM feat0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, date, event_type, value, segment,
      |  dow_spark AS dayofweek, mon AS month,
      |  floor((sin(2*pi() * (((dow_spark - 2) % 5 + 5) % 5) / 5)) * 1000000 + 0.5) / 1000000 AS day_sin,
      |  floor((cos(2*pi() * (((dow_spark - 2) % 5 + 5) % 5) / 5)) * 1000000 + 0.5) / 1000000 AS day_cos,
      |  floor((sin(2*pi() * mon / 12)) * 1000000 + 0.5) / 1000000 AS month_sin,
      |  floor((cos(2*pi() * mon / 12)) * 1000000 + 0.5) / 1000000 AS month_cos,
      |  COALESCE(value_diff, 0) AS value_diff,
      |  COALESCE(lag_1_value_diff, 0) AS lag_1_value_diff,
      |  COALESCE(lag_2_value_diff, 0) AS lag_2_value_diff,
      |  COALESCE(lag_3_value_diff, 0) AS lag_3_value_diff,
      |  COALESCE(lag_5_value_diff, 0) AS lag_5_value_diff,
      |  COALESCE(rolling_mean_3_value_diff, 0) AS rolling_mean_3_value_diff,
      |  COALESCE(rolling_mean_5_value_diff, 0) AS rolling_mean_5_value_diff,
      |  COALESCE(volatility_3_value_diff, 0) AS volatility_3_value_diff,
      |  COALESCE(volatility_5_value_diff, 0) AS volatility_5_value_diff
      |FROM feat
      |QUALIFY row_number() OVER (PARTITION BY user_id, date ORDER BY ts, event_id) = 1
      |""".stripMargin
}
