package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.{Num, QueryPack, Ranks, Tables}

/** Projections / filters / predicates (SURVEY §2.2 P1–P11). */
object ProjectionPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1/P2: column select with reorder (glue.py:140-162).
    "p1_select_reorder" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")),

    // P3 + P4: bulk rename EN→PT (glue.py:113-128) + lowercase-header
    // normalization (glue.py:102-103).
    "p3_bulk_rename" -> ((s, dir) => {
      val renamed = Tables.lineitem(s, dir)
        .withColumnsRenamed(Map(
          "l_quantity" -> "QUANTIDADE",
          "l_extendedprice" -> "PRECO",
          "l_discount" -> "DESCONTO",
          "l_shipdate" -> "DATA_ENVIO"))
        .select("l_orderkey", "QUANTIDADE", "PRECO", "DESCONTO", "DATA_ENVIO")
      renamed.toDF(renamed.columns.map(_.toLowerCase): _*)
    }),

    // P5: drop columns (glue.py:226).
    "p5_drop" -> ((s, dir) =>
      Tables.orders(s, dir).drop("o_orderpriority", "o_orderstatus")),

    // P6: equality filter (glue.py:96,169).
    "p6_eq_filter" -> ((s, dir) =>
      Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // P7: range filter / date cutoff (glue.py:79-83; train.py:76-79).
    "p7_range_filter" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")),

    // P8: null predicates — isNotNull join-success check + na.drop
    // (glue.py:137; eda cells 21,40). Nulls injected deterministically.
    "p8_null_filter" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("v", when(pmod(col("event_id"), lit(7)) === 0, lit(null))
          .otherwise(col("value")))
        .filter(col("v").isNotNull)
        .na.drop(Seq("v", "event_type"))
        .select("event_id", "user_id", "v")),

    // P9: SQL-string predicate (eda cell 41 `df.query(...)`).
    "p9_string_filter" -> ((s, dir) =>
      Tables.customer(s, dir).filter("c_mktsegment = 'BUILDING'")
        .select("c_custkey", "c_name", "c_mktsegment")),

    // P10/O4: deterministic head — total order + limit (glue.py:91).
    "p10_limit" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")),

    // P10b: seeded row sample (preprocessing.py:17-19 df.sample) — the
    // selected rows are engine-specific, so the driver-checked output is an
    // invariant frame: sample ⊆ input (no unmatched sample row) and the
    // sample size within 4σ of Binomial(n, 0.1); DuckDB independently
    // recomputes n. One plan: the input full-outer-joined with its sample
    // and aggregated once ([[sampleCensus]]), no driver action.
    "p12_sample" -> ((s, dir) => {
      val p = 0.1
      val orders = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val sample = orders.sample(withReplacement = false, p, seed = 42L)
      sampleCensus(orders, sample, Seq("o_orderkey", "o_totalprice"))
        .agg(count(col("in_input")).as("n"), count(col("in_sample")).as("k"),
          unmatched)
        .select(col("n").as("n_input"),
          (col("unmatched") === 0).as("sample_subset_of_input"),
          within4Sigma(col("k"), col("n"), p, 0.0).as("count_within_4sigma"))
    }),

    // Weighted sampling, EXACTLY k and exactly replayable: systematic
    // (equal-spaced) selection over the cumulative weight line — the
    // particle-filter/low-variance resampler. Each doc owns the weight
    // interval [cw−w, cw); sample point j sits at (j+½)·total/k; a doc
    // is drawn once per point inside its interval, so inclusion counts
    // are pure integer arithmetic: F(x) = (2kx + total) div (2·total)
    // points fall below x, and n_copies = F(cw) − F(cw−w) — Σ = k by
    // telescoping, deterministic, reproducible across engines (unlike
    // exponential-key A-ES sampling, whose ln() ranking is libm-
    // dependent). The cumulative line comes from the distributed prefix
    // sum (Ranks.scan: range sort + per-partition starts — never a
    // one-task window);
    // the draw itself is map-only. Weight = doc byte length (the
    // "sample long docs proportionally" curation knob).
    "p14_weighted_sample" -> ((s, dir) => {
      val k = 200L
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      val (cum, Seq(total)) = Ranks.scan(docs, Seq(col("doc_id")),
        Ranks.Sum("w"), Seq("cw"))
      cum
        .withColumn("n_copies",
          expr(s"least($k, (${2 * k} * cw + $total) div (${2} * $total))") -
          expr(s"least($k, (${2 * k} * (cw - w) + $total) div (${2} * $total))"))
        .filter(col("n_copies") >= 1)
        .select(col("doc_id"), col("w"), col("n_copies"))
    }),

    // P10 variant: STRATIFIED sampling (df.stat.sampleBy) — per-stratum
    // Bernoulli fractions, the training-data recipe for rebalancing a
    // skewed source (e.g. per-language document quotas). Invariant frame:
    // seeded sample ⊆ input, and each stratum's size lands within 4σ of
    // its binomial expectation (a stratum absent from the input has
    // n = k = 0, which passes). One plan: the census is aggregated once,
    // with each stratum's n and k as conditional counts; n_strata counts
    // the input's distinct non-null strata, as the oracle's
    // count(DISTINCT) does.
    "p13_stratified_sample" -> ((s, dir) => {
      val fracs = Seq("O" -> 0.05, "F" -> 0.10, "P" -> 0.20)
      val orders = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      val sample = orders.stat.sampleBy("o_orderstatus", fracs.toMap, 7L)
      def rowsIn(side: String, stratum: String) =
        count(when(col(side) && col("o_orderstatus") === stratum, 1))
      sampleCensus(orders, sample, Seq("o_orderkey", "o_orderstatus"))
        .agg(size(collect_set(when(col("in_input"), col("o_orderstatus"))))
            .cast("long").as("n_strata"),
          unmatched +: fracs.flatMap { case (st, _) =>
            Seq(rowsIn("in_input", st).as(s"n_$st"), rowsIn("in_sample", st).as(s"k_$st"))
          }: _*)
        .select(col("n_strata"),
          (col("unmatched") === 0).as("sample_subset_of_input"),
          fracs.map { case (st, p) =>
            within4Sigma(col(s"k_$st"), col(s"n_$st"), p, 1.0)
          }.reduce(_ && _).as("per_stratum_within_4sigma"))
    }),

    // P11: conditional value mask (preprocessing.py:339-340, the RSI
    // gain/loss split).
    "p11_conditional_mask" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("gain",
          when(col("l_discount") > 0.05, col("l_discount")).otherwise(lit(0.0)))
        .withColumn("loss",
          when(col("l_discount") <= 0.05, -col("l_discount")).otherwise(lit(0.0)))
        .select("l_orderkey", "l_linenumber", "l_discount", "gain", "loss")),

    // Per-key reservoir sample, exactly k per group — the per-STRATUM
    // twin of p14's global exact-k: rank each row by a deterministic
    // md5-derived key (the seeded-uniform stand-in, the stats_bootstrap
    // hash) and keep each group's top 5 through graft.plans.TopK's
    // bounded-heap exec: partial per-partition heaps → shuffle of ≤ k
    // survivors per (partition, key) → final merge. No per-group window
    // sort, no full shuffle of the corpus — the reservoir-sampling plan
    // shape at any group cardinality or skew.
    "p15_reservoir_per_key" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("h",
          conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
      graft.plans.TopK.perKey(ev, keyCols = Seq("user_id"), scoreCol = "h",
        tieCols = Seq("event_id"), k = 5)
    })
  )

  /** The input full-outer-joined with its seeded sample on `keys`: each
    * row marks `in_input` and/or `in_sample`, so one aggregate counts the
    * input, the sample, and the sample rows the input does not hold
    * ([[unmatched]]). */
  private def sampleCensus(input: DataFrame, sample: DataFrame,
      keys: Seq[String]): DataFrame =
    input.withColumn("in_input", lit(true))
      .join(sample.withColumn("in_sample", lit(true)), keys, "full_outer")

  /** The sample rows of a [[sampleCensus]] that the input does not hold. */
  private def unmatched: Column =
    count(when(col("in_input").isNull, 1)).as("unmatched")

  /** |k − n·p| ≤ 4·√(n·p·(1 − p)) + slack, in the operand order of the
    * driver-side double arithmetic it replaces, and like its Boolean never
    * null. */
  private def within4Sigma(k: Column, n: Column, p: Double,
      slack: Double): Column = {
    val np = n.cast(DoubleType) * p
    val bound = lit(4.0) * sqrt(np * (lit(1.0) - p))
    Num.nonNull(abs(k.cast(DoubleType) - np) <=
      (if (slack == 0.0) bound else bound + slack))
  }

  def oracleSql: Map[String, String] = Map(
    "p15_reservoir_per_key" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS h
        |  FROM events
        |)
        |SELECT user_id, event_id, value, h FROM ev
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY h DESC, event_id) <= 5""".stripMargin,
    "p1_select_reorder" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |       l_extendedprice FROM lineitem""".stripMargin,
    "p3_bulk_rename" ->
      """SELECT l_orderkey, l_quantity AS quantidade, l_extendedprice AS preco,
        |       l_discount AS desconto, l_shipdate AS data_envio
        |FROM lineitem""".stripMargin,
    "p5_drop" ->
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders",
    "p6_eq_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'""".stripMargin,
    "p7_range_filter" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'""".stripMargin,
    "p8_null_filter" ->
      """SELECT event_id, user_id, value AS v FROM events
        |WHERE event_id % 7 <> 0""".stripMargin,
    "p9_string_filter" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "p10_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    // Seeded-sample invariant frame: subset + binomial-size booleans are
    // asserted Spark-side; the oracle recomputes the input cardinality.
    "p12_sample" ->
      """SELECT count(*) AS n_input, true AS sample_subset_of_input,
        |       true AS count_within_4sigma
        |FROM orders""".stripMargin,
    "p14_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS w FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    sum(w) OVER (ORDER BY doc_id) AS cw,
        |    (SELECT sum(w) FROM d) AS tot
        |  FROM d
        |)
        |SELECT doc_id, w, n_copies FROM (
        |  SELECT doc_id, w,
        |    CAST(least(200, (400 * cw + tot) // (2 * tot))
        |      - least(200, (400 * (cw - w) + tot) // (2 * tot))
        |      AS BIGINT) AS n_copies
        |  FROM c)
        |WHERE n_copies >= 1""".stripMargin,
    "p13_stratified_sample" ->
      """SELECT count(DISTINCT o_orderstatus) AS n_strata,
        |       true AS sample_subset_of_input,
        |       true AS per_stratum_within_4sigma
        |FROM orders""".stripMargin,
    "p11_conditional_mask" ->
      """SELECT l_orderkey, l_linenumber, l_discount,
        |  CASE WHEN l_discount > 0.05 THEN l_discount ELSE 0.0 END AS gain,
        |  CASE WHEN l_discount <= 0.05 THEN -l_discount ELSE 0.0 END AS loss
        |FROM lineitem""".stripMargin
  )
}
