package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-table loaders.
  *
  * All engine queries read the driver-generated parquet tables under a
  * scale-factor directory (see TESTDATA.md). The reference lake layout is
  * Hive-partitioned parquet (`raw/ano=/mes=/dia=`, cf.
  * /root/reference/src/etl/s3.py:78, glue.py:78); here the fixtures are one
  * parquet file per table and Spark's vectorized parquet reader + Catalyst
  * pushdown provide scan pruning (SURVEY §2.1 S1).
  */
object Tables {
  /** Reads `<sfDir>/<name>.parquet`; the session's confs are left as they
    * are (the oracle-parity ones are [[Session.pin]]'s). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers. Inference reads the
    * footers in a Spark job on every call, so it is memoised per content
    * fingerprint of `path` and per value of every parquet reader conf set
    * on the session (`nanosAsLong` and its kin change the inferred types).
    * A path the local filesystem cannot see (an object store) has no
    * fingerprint and is inferred each time. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) infer
    else {
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.toSeq.sorted.mkString(",")
      Fingerprint.memo(s"parquet-schema|$confs", path)(infer)
    }
  }

  /** Normalize a timestamp-ish column to micros TimestampType whatever
    * physical type the current fixture generation shipped (see `events` —
    * the same drift would break o_orderdate/l_shipdate, and under the
    * pinned `nanosAsLong` a nanos generation surfaces here as a LongType
    * column). A cast on an already-TimestampType column is eliminated by
    * Catalyst, so scan pruning and filter pushdown are unaffected on the
    * common path. */
  private def tsNorm(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case _        => df.withColumn(c, col(c).cast(TimestampType))
    }
  def lineitem(spark: SparkSession, d: String): DataFrame  =
    tsNorm(load(spark, d, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, d: String): DataFrame    =
    tsNorm(load(spark, d, "orders"), "o_orderdate")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  /** `events.ts` has shipped as two physical types across fixture
    * generations: parquet TIMESTAMP(NANOS) — which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as raw long nanos via
    * `legacy.parquet.nanosAsLong` — and plain TIMESTAMP(MICROS), which
    * Spark infers as TIMESTAMP_NTZ. Normalize BOTH to the same micros
    * TimestampType (truncation for nanos is exactly what DuckDB 1.x does
    * at scan time; the NTZ→LTZ cast is value-preserving under the pinned
    * UTC session) so every downstream query and oracle sees one schema.
    * Both confs are [[Session.pin]]'s. */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Restore input parallelism for a CPU-heavy map stage (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"; §6.1 splits stop at row-group granularity). The
    * fixture tables are single-row-group parquet files, so every scan
    * arrives as ONE task and everything before the first exchange —
    * shingling, signature hashing, regex scoring, edit distance — runs
    * serially no matter how many cores the session has. `spread` is
    * ADAPTIVE, not a constant: it round-robins to the session's default
    * parallelism only when the scan's split count is actually starved
    * (< cores), so on a production lake with properly sized files (or a
    * future multi-row-group fixture) it is a no-op and no extra exchange
    * is paid. Call it on scan-stage frames only (narrow plans, no
    * exchanges) — `.rdd` on a post-shuffle frame would force AQE stage
    * materialization. Only worth it where per-row compute dominates the
    * one extra narrow-row exchange; plain column aggregates should NOT
    * pay this (map-side partial agg over the scan is the scale-correct
    * shape there). */
  private val spreadProbeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()

  def spread(df: DataFrame): DataFrame = {
    // Frames whose parallelism is already ESTABLISHED by an exchange —
    // an explicit repartition (e.g. an upstream spread), a join, an
    // aggregate, a global sort — are returned unchanged WITHOUT probing
    // (ADVICE r11): their partition count comes from shuffle.partitions,
    // not scan splits, so the starvation spread fixes cannot exist; and
    // the `.rdd` probe on a post-exchange frame eagerly materializes the
    // upstream shuffle stage under AQE — a construction-time job whose
    // output the real action never reuses. This makes spread safe to
    // call on caller-supplied frames (the Dedup helpers) where the
    // caller may already have fanned out.
    import org.apache.spark.sql.catalyst.plans.logical._
    val analyzed = df.queryExecution.analyzed
    val established = analyzed.exists {
      case _: Repartition | _: RepartitionByExpression | _: Join |
          _: Aggregate | _: Window | _: Distinct | _: Deduplicate => true
      case s: Sort => s.global
      case _ => false
    }
    if (established) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    // the split-count probe (`.rdd`) pays one physical planning pass, so
    // its result is memoized per (application, semantic plan): the same
    // query shape re-probes for free on every later invocation, and a
    // regenerated fixture at the same path keeps the same single-row-group
    // layout (worst case a stale entry costs one redundant — or one
    // missing — repartition of a scan-sized frame, never correctness).
    // Keyed on applicationId, not identityHashCode(session) (ADVICE r11:
    // an identity hash can alias a dead session's key to a new session).
    val key = (df.sparkSession.sparkContext.applicationId,
      analyzed.semanticHash().toLong)
    val n = spreadProbeCache.computeIfAbsent(key, _ => df.rdd.getNumPartitions)
    if (n >= par) df else df.repartition(par)
  }
}

/** Oracle-parity numeric helpers.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * same ANSI SQL. Floating-point aggregation order differs between engines,
  * so every aggregate that sums doubles in engine-dependent order goes
  * through one of these:
  *
  *  - `decSum`: cast the 2-decimal source doubles to DECIMAL(18,2), sum
  *    exactly (associative), cast the final sum back to double. Both
  *    engines produce the bit-identical double.
  *  - `r6`/`r2`: round window/frame results where both engines see the same
  *    ordered frame but may differ in the last ulp (segment-tree vs
  *    sequential summation).
  *  - `sumProd`/`centred`/`sumCentsProd` + `exactOrRaise`: exact integer
  *    moments in [[Exact]] (DuckDB's HUGEINT), which either answer
  *    exactly or raise.
  */
object Num {
  import org.apache.spark.sql.Column
  /** Cross-engine-deterministic 6-decimal rounding: `floor(x·1e6+0.5)/1e6`
    * is pure IEEE double arithmetic, so Spark and DuckDB produce the SAME
    * result on the SAME input double — unlike library `round`, where Spark
    * rounds the shortest decimal repr and DuckDB rounds the binary value
    * (they disagree on representational boundaries ~1e-6 of the time).
    * NaN is preserved (floor would otherwise coerce it). The matching
    * oracle-SQL fragment is `floor((x) * 1000000 + 0.5) / 1000000`. */
  def r6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(isnan(c), c).otherwise(floor(c * 1000000d + 0.5d) / 1000000d)
  def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(isnan(c), c).otherwise(floor(c * 10000d + 0.5d) / 10000d)
  def r2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = round(c, 2)

  /** Exact sum of a 2-decimal double column via decimal, returned as double. */
  def decSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact mean: exact decimal sum as double, divided by count (deterministic). */
  def decAvg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c)

  /** Spark stddev/variance return NaN where DuckDB returns NULL (n=1 frames);
    * normalize NaN to NULL for oracle parity. */
  def nanToNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(isnan(c), lit(null)).otherwise(c)

  /** 2-decimal double → exact integer cents (BIGINT). The oracle-parity
    * conversion every exact-arithmetic query over `events.value` starts
    * from; SQL twin: `CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)`. */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (c.cast(DecimalType(18, 2)) * 100).cast("long")

  /** DECIMAL(38,0), the twin of DuckDB's HUGEINT: the accumulator of every
    * exact integer moment. With ANSI off (the oracle-parity session) a
    * LONG sum or product wraps silently, while an Exact sum or product
    * that overflows is NULL, which [[exactOrRaise]] turns into an error. */
  val Exact: DecimalType = DecimalType(38, 0)

  /** Exact Σ a·b of two integral columns. Both operands are cast to
    * [[Exact]] BEFORE the product, so no per-row LONG product can wrap;
    * SQL twin: `sum(CAST(a AS HUGEINT) * b)`. */
  def sumProd(a: Column, b: Column): Column = sum(a.cast(Exact) * b.cast(Exact))

  /** The exact centred moment n·Σab − Σa·Σb (n·Σa² − (Σa)² when a = b). */
  def centred(n: Column, sab: Column, sa: Column, sb: Column): Column =
    n.cast(Exact) * sab.cast(Exact) - sa.cast(Exact) * sb.cast(Exact)

  /** Largest |cents| whose LONG square cannot wrap: (3·10⁹)² = 9·10¹⁸ < 2⁶³.
    * The envelope is per value, so it does not shrink as the data grows. */
  val CentsBound = 3000000000L

  /** The cents-LONG form of [[sumProd]] for integers bounded by the value
    * domain (cents of a price): one LONG multiply per row, summed in
    * [[Exact]]. The product is exact while |a| and |b| stay within
    * [[CentsBound]]; past it the moment is NULL, like an overflowing
    * Exact sum, so [[exactOrRaise]] covers both forms. */
  def sumCentsProd(a: Column, b: Column): Column =
    when(max(abs(a)) <= CentsBound && max(abs(b)) <= CentsBound,
      sum((a * b).cast(Exact)))

  /** A Σ of cents products rescaled by ×1e-4 (exact) to the units of the
    * 2-decimal values the cents came from: it equals the DECIMAL(28,4) sum
    * of their DECIMAL(18,2) products, so the doubles it casts to do too. */
  def fromCents2(c: Column): Column =
    c * lit(new java.math.BigDecimal("0.0001"))

  /** Makes the action raise, naming `what`, on any row where `ok` is not
    * true. It is a filter on `df` (assert_true is NULL when it holds), so
    * it adds no job; on an aggregated frame it runs once per group. */
  def check(df: DataFrame, what: String, ok: Column): DataFrame =
    df.filter(assert_true(ok, lit(what)).isNull)

  /** The one overflow check of the exact moments: raises, naming `what`,
    * when any of `cols` is NULL on a row whose group is non-empty
    * (`n > 0`). A sum of non-null integers over a non-empty group is NULL
    * only on overflow; an empty global aggregate keeps its NULL moments. */
  def exactOrRaise(df: DataFrame, what: String, n: Column,
      cols: Column*): DataFrame =
    check(df, s"$what: an exact moment overflowed DECIMAL(38,0) or the " +
      s"$CentsBound-cents product envelope",
      !coalesce(n > 0, lit(false)) || cols.map(_.isNotNull).reduce(_ && _))

  /** Column `name` cast to `t`, non-nullable, raising on a null row: the
    * contract of a primitive-typed decode such as `.as[(Long, Double)]`,
    * which the (key, value) rank frames' output schemas still carry. */
  def required(name: String, t: DataType): org.apache.spark.sql.Column =
    nonNull(col(name).cast(t)).as(name)

  /** `c`, non-nullable, raising on a null row: the schema of a value the
    * driver used to compute as a primitive (a Scala Boolean or Long). */
  def nonNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftSqlShim.{column, expression}
    column(org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
      expression(c)))
  }
}

object Ranks {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}

  /** What [[scan]] carries along the order. The set is closed: every
    * global rank or cumulative column in the engine is one of these. */
  sealed trait Carry
  /** 1-based contiguous row number: the running sum of an implicit 1. */
  case object Rank extends Carry
  /** Inclusive running sum of each LongType column. */
  final case class Sum(cols: String*) extends Carry
  /** Running max of a LongType column over the STRICTLY preceding rows,
    * null on the first row (the 2-D skyline sweep). */
  final case class MaxBefore(col: String) extends Carry

  /** The carry as a fold over internal rows. State is the k running
    * values plus the row count, so an empty partition leaves a max
    * undefined; sums use `addExact`, so a wrap raises even with ANSI off.
    * `slots` index the LongType inputs, -1 being a rank's implicit 1. */
  private final case class Fold(slots: Array[Int], max: Boolean) {
    val k: Int = slots.length
    def zero: Array[Long] = new Array[Long](k + 1)
    def step(acc: Array[Long], r: InternalRow): Unit = {
      var j = 0
      while (j < k) {
        val i = slots(j)
        if (i >= 0 && r.isNullAt(i))
          throw new NullPointerException(s"Ranks.scan: null in input column $i")
        val v = if (i < 0) 1L else r.getLong(i)
        acc(j) = if (!max) Math.addExact(acc(j), v)
          else if (acc(k) == 0) v else math.max(acc(j), v)
        j += 1
      }
      acc(k) += 1
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (max && a(k) == 0) b
      else if (max && b(k) == 0) a
      else Array.tabulate(k + 1) { j =>
        if (j == k) a(k) + b(k)
        else if (max) math.max(a(j), b(j))
        else Math.addExact(a(j), b(j))
      }
    def total(s: Array[Long]): Seq[Long] =
      if (max && s(k) == 0) Nil else s.take(k).toSeq
  }

  /** Appends `carry` under the global total order `order` as `outCols`
    * (one per carried value; LongType, nullable only for [[MaxBefore]])
    * and returns the carry past the last row: the row count, the grand
    * sums, or the max (Nil on an empty frame). Never a single-partition
    * `OVER (ORDER BY …)` funnel: `order` range-partitions and locally
    * sorts, one job folds each partition to its subtotal (numPartitions
    * small arrays on the driver), and a map pass inside the caller's
    * action resumes each partition from the exclusive scan of those
    * subtotals. Both passes read one `toRdd`, so they share the sort's
    * shuffle, and rows stay internal: the carry rides a [[JoinedRow]].
    * `order` must be a total order, or equal keys could land differently
    * in the two passes. On a single range partition every start is zero,
    * so the subtotal job runs only if the caller reads the totals. */
  def scan(df: DataFrame, order: Seq[Column], carry: Carry,
      outCols: Seq[String]): (DataFrame, Seq[Long]) = {
    val sorted = df.orderBy(order: _*)
    val in = sorted.schema
    def longAt(c: String): Int = {
      val i = in.fieldIndex(c)
      require(in(i).dataType == LongType, s"Ranks.scan: $c is ${in(i).dataType}, not bigint")
      i
    }
    val fold = carry match {
      case Rank         => Fold(Array(-1), max = false)
      case Sum(cs @ _*) => Fold(cs.map(longAt).toArray, max = false)
      case MaxBefore(c) => Fold(Array(longAt(c)), max = true)
    }
    val k = fold.k
    require(outCols.size == k, s"Ranks.scan: $carry carries $k values, got $outCols")
    val rows = sorted.queryExecution.toRdd
    lazy val subtotals = rows.mapPartitions { it =>
      val acc = fold.zero
      it.foreach(fold.step(acc, _))
      Iterator.single(acc)
    }.collect()
    val starts =
      if (rows.getNumPartitions <= 1) Array(fold.zero)
      else subtotals.scanLeft(fold.zero)(fold.merge)
    val out = rows.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val acc = starts(p).clone()
      val c = new SpecificInternalRow(Seq.fill(k)(LongType))
      val joined = new JoinedRow()
      it.map { r =>
        if (fold.max) {
          if (acc(k) == 0) c.setNullAt(0) else c.setLong(0, acc(0))
          fold.step(acc, r)
        } else {
          fold.step(acc, r)
          var j = 0
          while (j < k) { c.setLong(j, acc(j)); j += 1 }
        }
        joined(r, c)
      }
    }
    val schema = outCols.foldLeft(in)(_.add(_, LongType, nullable = fold.max))
    val totals =
      LazyList(()).flatMap(_ => fold.total(subtotals.foldLeft(fold.zero)(fold.merge)))
    (org.apache.spark.sql.GraftSqlShim.ofInternalRows(df.sparkSession, out, schema), totals)
  }
}
