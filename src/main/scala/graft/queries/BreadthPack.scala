package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Num, QueryPack, Tables}
import graft.functions.GeoMean

/** Round-2 breadth: statistics (corr/covar, histogram, geometric-mean UDAF,
  * mode), relational shapes (GROUPING SETS, SCD2 upsert, scalable global
  * rank), and text n-gram frequency. All oracle-checked.
  *
  * Cross-engine exactness strategy is the same as the rest of the repo
  * (see graft.Num): bivariate moments come from exact DECIMAL sums combined
  * by an identical double expression tree on both engines, never from the
  * engines' streaming corr/covar accumulators (whose partial-merge order is
  * run-dependent on a cluster).
  */
object BreadthPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pearson corr + sample/population covariance per group from exact
    // decimal moments: deterministic at any partition count, unlike the
    // built-in corr()/covar_samp() one-pass accumulators.
    "a10_corr_covar" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("xd", col("l_quantity").cast(DecimalType(18, 2)))
        .withColumn("yd", col("l_extendedprice").cast(DecimalType(18, 2)))
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("xd")).cast("double").as("sx"),
          sum(col("yd")).cast("double").as("sy"),
          sum((col("xd") * col("yd")).cast(DecimalType(28, 4))).cast("double").as("sxy"),
          sum((col("xd") * col("xd")).cast(DecimalType(28, 4))).cast("double").as("sxx"),
          sum((col("yd") * col("yd")).cast(DecimalType(28, 4))).cast("double").as("syy"))
        .select(col("l_returnflag"), col("n"),
          Num.r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                 (col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"),
          Num.r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * (col("n") - lit(1)))).as("covar_samp"),
          Num.r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("n"))).as("covar_pop"))
    }),

    // Fixed-width histogram binning: floor arithmetic (identical IEEE ops
    // on both engines), clamped to [0, 9].
    "a11_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("bucket",
          least(greatest(floor(col("o_totalprice") / 60000.0), lit(0)), lit(9))
            .cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          Num.decSum(col("o_totalprice")).as("sum_price"))),

    // Typed Aggregator UDAF (Kahan log-sum -> geometric mean): the custom-
    // aggregation surface Spark offers below full codegen expressions.
    "a12_geomean_udaf" -> ((s, dir) => {
      val gm = udaf(GeoMean)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Num.r6(gm(col("l_extendedprice"))).as("geomean_price"))
    }),

    // Mode (most frequent value) per group with a pinned tie-break —
    // count desc, then value asc — so the answer is total-order stable.
    "a13_mode" -> ((s, dir) => {
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt"))
    }),

    // GROUPING SETS with coalesced rollup labels (multi-grain aggregation
    // in one shuffle, Catalyst expands to an Expand node — no N scans).
    "x5_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("li_x5")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |       coalesce(l_linestatus, 'ALL') AS ls,
          |       count(*) AS n_rows,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM li_x5
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |""".stripMargin)
    }),

    // SCD2 upsert (the ETL merge the reference's Glue job approximates by
    // partition overwrite): updated keys close their current row at the
    // effective date and append an open row; untouched keys pass through.
    "u5_scd2_upsert" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val upd = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"),
          concat(col("c_mktsegment"), lit("_V2")).as("segment"),
          to_date(lit("2020-06-01")).as("eff"))
      val existing = cust
        .join(upd.select(col("c_custkey"), col("eff")), Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          to_date(lit("2019-01-01")).as("valid_from"),
          col("eff").as("valid_to"))
      val appended = upd.select(col("c_custkey"), col("segment"),
        col("eff").as("valid_from"), lit(null).cast("date").as("valid_to"))
      existing.unionByName(appended)
    }),

    // Global total-order rank WITHOUT a single-partition window: the
    // Ranks.scan range sort, then contiguous ranks resumed partition by
    // partition from per-partition row counts — order is pinned by
    // (price desc, key), so ranks are deterministic regardless of sampled
    // range boundaries. A Window over no partition key would funnel
    // 100 TB through one task; this never does.
    "sc4_global_rank" -> ((s, dir) =>
      graft.Ranks.scan(
        Tables.orders(s, dir).select(Num.required("o_orderkey", LongType),
          Num.required("o_totalprice", DoubleType)),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        graft.Ranks.Rank, Seq("global_rank"))._1),

    // Bigram frequency over documents: generator-expression n-grams,
    // explode, one count shuffle, pinned top-20.
    "t5_bigram_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(split(trim(col("text")), "\\s+").as("ws"))
        // guard: sequence(1, 0) would infer step -1, not an empty array
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), " +
            "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
          .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20))
  )

  def oracleSql: Map[String, String] = Map(
    "a10_corr_covar" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  floor(((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1000000 + 0.5) / 1000000 AS corr_qty_price,
        |  floor(((n * sxy - sx * sy) / (n * (n - 1))) * 1000000 + 0.5) / 1000000 AS covar_samp,
        |  floor(((n * sxy - sx * sy) / (n * n)) * 1000000 + 0.5) / 1000000 AS covar_pop
        |FROM m""".stripMargin,
    "a11_histogram" ->
      """SELECT CAST(least(greatest(floor(o_totalprice / 60000.0), 0), 9) AS BIGINT) AS bucket,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    "a12_geomean_udaf" ->
      """SELECT l_returnflag, count(*) AS n,
        |  floor(exp(avg(ln(l_extendedprice))) * 1000000 + 0.5) / 1000000 AS geomean_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a13_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |QUALIFY row_number() OVER (PARTITION BY o_orderstatus
        |  ORDER BY count(*) DESC, o_orderpriority ASC) = 1""".stripMargin,
    "x5_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    "u5_scd2_upsert" ->
      """WITH upd AS (
        |  SELECT c_custkey, c_mktsegment || '_V2' AS segment,
        |         DATE '2020-06-01' AS eff
        |  FROM customer WHERE c_custkey % 3 = 0
        |)
        |SELECT c.c_custkey, c.c_mktsegment AS segment,
        |       DATE '2019-01-01' AS valid_from, u.eff AS valid_to
        |FROM customer c LEFT JOIN upd u USING (c_custkey)
        |UNION ALL
        |SELECT c_custkey, segment, eff AS valid_from, CAST(NULL AS DATE) AS valid_to
        |FROM upd""".stripMargin,
    "sc4_global_rank" ->
      """SELECT o_orderkey, o_totalprice,
        |  row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS global_rank
        |FROM orders""".stripMargin,
    "t5_bigram_freq" ->
      """WITH d AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |), u AS (
        |  SELECT ws, unnest(range(1, len(ws))) AS i FROM d
        |), b AS (
        |  SELECT ws[i] || ' ' || ws[i + 1] AS bigram FROM u
        |)
        |SELECT bigram, count(*) AS cnt FROM b
        |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin
  )
}
