package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Ranks, Tables}

/** Sorts / limits / set operations (SURVEY §2.6 O1–O4, U1–U2 + set-op
  * surface the reference lacks). */
object SortSetPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1/O2 + O4: multi-key sort made observable through a deterministic
    // top-N (sort order itself is not hashable by the driver — rows are
    // compared as a set).
    "o1_sort_topn" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
        .limit(100)
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")),

    // O3: sorted distinct value list (visualize.py:27,142).
    "o3_distinct_values" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_type"))
        .na.drop().distinct().orderBy(col("event_type"))),

    // U1: union-all of per-slice frames, by name — column order differs
    // on purpose (webscrapping.py:64 pd.concat).
    "u1_union_by_name" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
      a.unionByName(b)
    }),

    // O4 beyond ref: 2-D skyline (Pareto frontier) — the parts no other
    // part beats on BOTH price (minimize) and size (maximize). The naive
    // formulation is an O(n²) dominance anti-join; the scale-right 2-D
    // algorithm is the sweep: collapse to the best size per distinct
    // price (one hash shuffle), then a single price-ascending range sort
    // where a row survives iff its size exceeds the running max over all
    // strictly-cheaper rows. The running max is a Ranks.scan MaxBefore
    // carry (per-partition maxima, then a map pass resumed from the
    // maxima of the earlier partitions) — never a one-task
    // `max() OVER (ORDER BY …)` window, so the sweep stays fully parallel
    // at any scale.
    "o4_skyline" -> ((s, dir) => {
      val best = Tables.part(s, dir)
        .groupBy(graft.Num.cents(col("p_retailprice")).as("price_cents"))
        .agg(max(col("p_size").cast("long")).as("best_size"))
      Ranks.scan(best, Seq(col("price_cents")), Ranks.MaxBefore("best_size"),
          Seq("rmax"))._1
        .filter(col("rmax").isNull || col("best_size") > col("rmax"))
        .select(col("price_cents"), col("best_size"))
    }),

    // Set ops beyond the reference: INTERSECT (distinct semantics).
    "u3_intersect" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      c.filter(col("c_nationkey") < 15).select("c_mktsegment")
        .intersect(c.filter(col("c_nationkey") >= 10).select("c_mktsegment"))
    }),

    // EXCEPT (distinct semantics): order keys with lineitems minus
    // high-quantity ones.
    "u4_except" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      l.select("l_orderkey")
        .except(l.filter(col("l_quantity") > 10).select("l_orderkey"))
    }),

    // CDC snapshot diff — change CAPTURE between two dataset versions
    // (the complement of u5's change APPLICATION): a key-aligned full
    // outer join classifies every key as insert / delete / update;
    // unchanged rows drop out, so the output is exactly the changelog an
    // incremental consumer replays. Payload compare is exact cents. ONE
    // keyed shuffle; at 100 TB both snapshot versions bucket on the key
    // and the join plans exchange-free (the sc2 layout). Snapshots are
    // deterministic slices of customer: yesterday = keys % 13 != 0,
    // today = keys % 11 != 0 with % 7 == 0 balances bumped one dollar.
    "u6_snapshot_diff" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"),
          graft.Num.cents(col("c_acctbal")).as("bal"))
      val a = base.filter(pmod(col("k"), lit(13)) =!= 0)
        .select(col("k"), col("bal").as("old_bal"))
      val b = base.filter(pmod(col("k"), lit(11)) =!= 0)
        .select(col("k"),
          when(pmod(col("k"), lit(7)) === 0, col("bal") + 100L)
            .otherwise(col("bal")).as("new_bal"))
      a.join(b, Seq("k"), "full_outer")
        .withColumn("op",
          when(col("old_bal").isNull, lit("insert"))
            .when(col("new_bal").isNull, lit("delete"))
            .when(col("old_bal") =!= col("new_bal"), lit("update")))
        .filter(col("op").isNotNull)
        .select(col("k").as("c_custkey"), col("op"),
          col("old_bal"), col("new_bal"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "o1_sort_topn" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "o3_distinct_values" ->
      """SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL
        |ORDER BY event_type""".stripMargin,
    "u1_union_by_name" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'O'""".stripMargin,
    "o4_skyline" ->
      """WITH best AS (
        |  SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS price_cents,
        |         CAST(max(p_size) AS BIGINT) AS best_size
        |  FROM part GROUP BY 1
        |), sweep AS (
        |  SELECT price_cents, best_size,
        |    max(best_size) OVER (ORDER BY price_cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        |  FROM best
        |)
        |SELECT price_cents, best_size FROM sweep
        |WHERE rmax IS NULL OR best_size > rmax""".stripMargin,
    "u3_intersect" ->
      """SELECT c_mktsegment FROM customer WHERE c_nationkey < 15
        |INTERSECT
        |SELECT c_mktsegment FROM customer WHERE c_nationkey >= 10""".stripMargin,
    "u4_except" ->
      """SELECT l_orderkey FROM lineitem
        |EXCEPT
        |SELECT l_orderkey FROM lineitem WHERE l_quantity > 10""".stripMargin,
    "u6_snapshot_diff" ->
      """WITH base AS (
        |  SELECT c_custkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
        |  FROM customer
        |), a AS (
        |  SELECT k, bal AS old_bal FROM base WHERE k % 13 <> 0
        |), b AS (
        |  SELECT k,
        |    CASE WHEN k % 7 = 0 THEN bal + 100 ELSE bal END AS new_bal
        |  FROM base WHERE k % 11 <> 0
        |)
        |SELECT coalesce(a.k, b.k) AS c_custkey,
        |  CASE WHEN a.k IS NULL THEN 'insert'
        |       WHEN b.k IS NULL THEN 'delete'
        |       WHEN a.old_bal <> b.new_bal THEN 'update' END AS op,
        |  a.old_bal, b.new_bal
        |FROM a FULL OUTER JOIN b ON a.k = b.k
        |WHERE a.k IS NULL OR b.k IS NULL OR a.old_bal <> b.new_bal""".stripMargin
  )
}
