package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.Num

/** Per-key time-series window operators (SURVEY §2.5 W1–W12).
  *
  * The reference's center of gravity: every feature is computed over
  * `Window.partitionBy(seriesKey).orderBy(time)` (cf.
  * /root/reference/glue.py:183-195 and
  * /root/reference/src/data/preprocessing.py:288-343).
  *
  * Scale notes (100 TB design rules):
  *  - All operators here are pure Catalyst window expressions — one shuffle
  *    on the series key, then streaming frame evaluation within each
  *    partition; no driver-side state, whole-stage codegen applies.
  *  - Chained features over the SAME WindowSpec reuse one sort/exchange:
  *    Catalyst collapses adjacent Window nodes with identical partitioning
  *    and ordering, so lag+diff+rolling over `w` cost a single shuffle.
  *  - Frames are bounded (`rowsBetween(-j,-1)`), so per-row state is O(j)
  *    regardless of series length — no unbounded buffers on skewed keys.
  */
object WindowFeatures {

  /** Canonical series window: unique total order via tiebreak columns. */
  def seriesWindow(key: Column, time: Column, tiebreak: Column*): WindowSpec =
    Window.partitionBy(key).orderBy((time +: tiebreak): _*)

  /** W1: first difference `x - lag(x,1)` (glue.py:184, preprocessing.py:288-300). */
  def diff(c: Column, w: WindowSpec): Column = c - lag(c, 1).over(w)

  /** W2: lag-k feature (glue.py:188-191). */
  def lagK(c: Column, k: Int, w: WindowSpec): Column = lag(c, k).over(w)

  /** W3: trailing rolling mean over (-j..-1) — excludes current row
    * (glue.py:192-194: `rowsBetween(-j,-1)`). */
  def rollingMean(c: Column, j: Int, w: WindowSpec): Column =
    avg(c).over(w.rowsBetween(-j, -1))

  /** W4: trailing rolling sample stddev ("volatility", glue.py:193-195).
    * NaN→null so single-row frames match DuckDB/pandas `NULL`. */
  def rollingStd(c: Column, j: Int, w: WindowSpec): Column =
    Num.nanToNull(stddev_samp(c).over(w.rowsBetween(-j, -1)))

  /** W5: trailing rolling sum ("retorno_acumulado", preprocessing.py:331). */
  def rollingSum(c: Column, j: Int, w: WindowSpec): Column =
    sum(c).over(w.rowsBetween(-j, -1))

  /** W6: percent change `x / lag(x,1) - 1` (eda.ipynb cells 37-38). */
  def pctChange(c: Column, w: WindowSpec): Column = c / lag(c, 1).over(w) - 1

  /** W7: group-wise forward fill (preprocessing.py:119,158-161). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** W7: group-wise backward fill. */
  def bfill(c: Column, w: WindowSpec): Column =
    first(c, ignoreNulls = true)
      .over(w.rowsBetween(0, Window.unboundedFollowing))

  /** W9: RSI(n) — Wilder-style simple-mean variant the reference uses
    * (preprocessing.py:337-343): clipped-delta n-row rolling gain/loss means
    * over (-(n-1)..0), then `100 - 100/(1+rs)`. Pure builtins: W1 + P11 +
    * rolling mean + arithmetic. */
  def rsi(c: Column, n: Int, w: WindowSpec): Column = {
    val delta = diff(c, w)
    val gain  = when(delta > 0, delta).otherwise(lit(0.0))
    val loss  = when(delta < 0, -delta).otherwise(lit(0.0))
    val avgG  = avg(gain).over(w.rowsBetween(-(n - 1), 0))
    val avgL  = avg(loss).over(w.rowsBetween(-(n - 1), 0))
    lit(100.0) - lit(100.0) / (lit(1.0) + avgG / avgL)
  }

  /** W11: per-group positional index for train/test splits
    * (train.py:120-147). */
  def rowNumber(w: WindowSpec): Column = row_number().over(w)

  /** W12 (deterministic variant): keep-first dedup per key set, first by the
    * given ordering. The reference's `dropDuplicates(["date","acao"])`
    * (glue.py:226) is nondeterministic about the surviving row; for oracle
    * parity we pin it with row_number. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** W12 over a series window `w`: true on the first row of each run of
    * equal `c`, so it selects `dedupKeepFirst(df, key +: c, order)` when `c`
    * is non-decreasing in `w`'s order (a calendar date of the time column)
    * — with no second partitioning or sort. */
  def firstOfRun(c: Column, w: WindowSpec): Column = not(lag(c, 1).over(w) <=> c)
}
