package graft

import org.apache.spark.sql.functions._

/** Invariants for the skyline / association-rules / normal-equation OLS /
  * HITS / prefix-filter-join adds, beyond the DuckDB hash-match. The d17
  * test pins the headline property — prefix filtering is EXACT (the
  * banded families d2/d3 only promise recall): its output must equal the
  * brute-force all-pairs join. Runs on sf0.001. */
class MiningSpec extends SparkSuite {

  test("globalPrefixMaxExclusive matches the single-partition window") {
    import spark.implicits._
    val df = Seq((5L, 10L), (1L, 7L), (3L, 2L), (4L, 9L), (2L, 7L), (6L, 1L))
      .toDF("k", "v").repartition(3)
    val got = Ranks.scan(df, Seq(col("k")), Ranks.MaxBefore("v"), Seq("rm"))._1
      .orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.toSeq == Seq(
      1L -> None, 2L -> Some(7L), 3L -> Some(7L), 4L -> Some(7L),
      5L -> Some(9L), 6L -> Some(10L)))
  }

  test("o4 skyline equals the brute-force dominance filter") {
    val out = graft.queries.SortSetPack.queries("o4_skyline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pts = Tables.part(spark, sf)
      .groupBy(Num.cents(col("p_retailprice")).as("p"))
      .agg(max(col("p_size").cast("long")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = pts.filter { case (p, s) =>
      !pts.exists { case (p2, s2) =>
        p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.toSet
    assert(out == brute, s"sweep skyline must equal brute force " +
      s"(${out.size} vs ${brute.size} points)")
    assert(out.nonEmpty)
  }

  test("ml_linreg_normal satisfies the normal-equation residual identities") {
    val row = graft.queries.MlPack.queries("ml_linreg_normal")(spark, sf)
      .collect().head
    val (b0, b1, b2) = (row.getDouble(1), row.getDouble(2), row.getDouble(3))
    val res = Tables.lineitem(spark, sf).select(
        col("l_quantity").cast("double").as("x1"),
        floor(col("l_discount") * 100 + 0.5).as("x2"),
        floor(col("l_extendedprice") * 100 + 0.5).as("y"))
      .withColumn("r", col("y") - (lit(b0) + lit(b1) * col("x1") +
        lit(b2) * col("x2")))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
        sum(col("r") * col("x1")).as("srx1"),
        sum(col("r") * col("x2")).as("srx2"),
        avg(abs(col("y"))).as("my"))
      .collect().head
    val (n, my) = (res.getLong(0), res.getDouble(4))
    // OLS residuals are orthogonal to the design columns; allow the r6
    // coefficient rounding (1e-6 per unit of each regressor) to leak in
    assert(math.abs(res.getDouble(1)) / n < my * 1e-5, "sum(resid) ~ 0")
    assert(math.abs(res.getDouble(2)) / n < my * 1e-3, "sum(resid*x1) ~ 0")
    assert(math.abs(res.getDouble(3)) / n < my * 1e-3, "sum(resid*x2) ~ 0")
  }

  test("ml_assoc_rules outputs are internally consistent") {
    val r = graft.queries.MlPack.queries("ml_assoc_rules")(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("brand_a") >= col("brand_b")).count() == 0)
    assert(r.filter(col("s_ab") > least(col("s_a"), col("s_b"))).count() == 0,
      "pair support cannot exceed either item support")
    // confidence/lift must be the r6 of their defining ratios
    val bad = r.filter(
      col("confidence") =!= Num.r6(col("s_ab").cast("double") /
        col("s_a").cast("double")))
    assert(bad.count() == 0, "confidence = r6(s_ab / s_a)")
    r.unpersist()
  }

  test("g7 HITS scores are bounded, normalized, and kind-partitioned") {
    val r = graft.queries.GraphPack.queries("g7_hits")(spark, sf).cache()
    assert(r.filter(col("score") < 0 || col("score") > 1000000L).count() == 0)
    val maxByKind = r.groupBy("kind").agg(max(col("score")).as("mx"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(maxByKind("hub") == 1000000L,
      "renormalization pins the round max at exactly 1e6")
    assert(maxByKind("authority") == 1000000L)
    val dupNodes = r.groupBy("node", "kind").count().filter(col("count") > 1)
    assert(dupNodes.count() == 0, "one score per (node, kind)")
    r.unpersist()
  }

  test("stats_kruskal matches a direct driver-side rank recompute") {
    val row = graft.queries.StatsTestsPack.queries("stats_kruskal")(spark, sf)
      .collect().head
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val groups = Seq("click", "view", "purchase").map(g =>
      ev.filter(_._1 == g).map(_._2))
    val all = groups.zipWithIndex.flatMap { case (g, i) => g.map((_, i)) }
      .sortBy(_._1)
    // average ranks with ties, directly
    val ranks = Array.ofDim[Double](all.length)
    var i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j)._1 == all(i)._1) j += 1
      val r = (i + j + 1) / 2.0
      (i until j).foreach(k => ranks(k) = r)
      i = j
    }
    val n = all.length.toDouble
    val rSums = Array.fill(3)(0.0)
    all.zipWithIndex.foreach { case ((_, g), k) => rSums(g) += ranks(k) }
    val h = 12.0 / (n * (n + 1)) *
      groups.indices.map(g => rSums(g) * rSums(g) / groups(g).length).sum -
      3 * (n + 1)
    assert(math.abs(row.getDouble(3) - h) < 1e-6,
      s"packed-rank H ${row.getDouble(3)} vs direct $h")
    assert(row.getDouble(4) >= row.getDouble(3) - 1e-12,
      "tie correction divides by C <= 1, so h_corrected >= h")
  }

  test("ml_isotonic output is monotone, bounded, and mass-preserving") {
    val r = graft.queries.MlPack.queries("ml_isotonic")(spark, sf).cache()
    val byKey = r.collect().groupBy(_.getString(0))
    byKey.foreach { case (k, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      val fits = sorted.map(_.getDouble(3))
      assert(fits.zip(fits.tail).forall { case (a, b) => a <= b },
        s"$k: fitted values must be nondecreasing in x")
    }
    // PAV preserves the weighted mass per series: sum(w*fit) = sum(s)
    val mass = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(sum(Num.cents(col("value"))).as("s"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    byKey.foreach { case (k, rows) =>
      val fitMass = rows.map(x => x.getLong(2) * x.getDouble(3)).sum
      assert(math.abs(fitMass - mass(k)) / mass(k) < 1e-6,
        s"$k: weighted fitted mass must equal the raw mass")
    }
    r.unpersist()
  }

  test("w20 OHLC bars are internally consistent and tick-complete") {
    val bars = graft.queries.WindowPack.queries("w20_ohlc_resample")(spark, sf)
      .cache()
    assert(bars.filter(
      col("high_cents") < col("open_cents") ||
      col("high_cents") < col("close_cents") ||
      col("low_cents") > col("open_cents") ||
      col("low_cents") > col("close_cents")).count() == 0,
      "high/low must bound open/close")
    val total = bars.agg(sum(col("n_ticks"))).head().getLong(0)
    assert(total == Tables.events(spark, sf).count(),
      "every tick lands in exactly one bar")
    bars.unpersist()
  }

  test("d18 containment join is EXACT: equals the brute-force all-pairs scan") {
    val out = graft.queries.DedupPack.queries("d18_containment_join")(
        spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = graft.queries.DedupPack.withNearDups(spark, sf)
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), expr(
        "CASE WHEN size(ws) < 3 THEN array(array_join(ws, ' ')) " +
          "ELSE array_distinct(transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), " +
          "element_at(ws, i + 2)))) END").as("ts"))
    val brute = sets.select(col("doc_id").as("da"), col("ts").as("ta"))
      .crossJoin(sets.select(col("doc_id").as("db"), col("ts").as("tb")))
      .filter(col("da") =!= col("db"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("i") * 5 >= size(col("ta")).cast("long") * 4)
      .select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute,
      s"containment prefix filter must be lossless (got ${out.size}, " +
        s"brute ${brute.size})")
    assert(out.nonEmpty, "planted near-dups are contained in their originals")
  }

  test("p15 reservoir keeps exactly min(k, group size) rows per key, deterministically") {
    val q = graft.queries.ProjectionPack.queries("p15_reservoir_per_key")
    val s1 = q(spark, sf).cache()
    val sizes = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = s1.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == sizes.keySet, "every key is sampled")
    got.foreach { case (u, n) =>
      assert(n == math.min(5L, sizes(u)), s"user $u: $n of ${sizes(u)}")
    }
    val s2 = q(spark, sf)
    assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0,
      "hash-reservoir selection must be deterministic")
    s1.unpersist()
  }

  test("st16 streaming OHLC equals the batch w20 bar table") {
    val streamBars = graft.queries.StreamingPack.queries("st16_stream_ohlc")(
      spark, sf).collect().map(_.toSeq).toSet
    val batchBars = graft.queries.WindowPack.queries("w20_ohlc_resample")(
      spark, sf).collect().map(_.toSeq).toSet
    assert(streamBars == batchBars,
      "bounded-input streaming bars must equal the batch GROUP BY")
    assert(streamBars.nonEmpty)
  }

  test("stats_changepoint maximizes the rescaled CUSUM deviation") {
    val rows = graft.queries.StatsTestsPack.queries("stats_changepoint")(
      spark, sf).collect()
    assert(rows.nonEmpty)
    val cells = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
        Num.cents(col("value")).as("c"))
      .groupBy("event_type", "d")
      .agg(sum(col("c")).as("sd"), count(lit(1)).as("nd"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val (tpe, day, scaled) = (r.getString(0), r.getLong(1), r.getLong(2))
      val series = cells(tpe).map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
        .sortBy(_._1)
      val (sAll, nAll) = (series.map(_._2).sum, series.map(_._3).sum)
      var (cs, cn) = (0L, 0L)
      val devs = series.map { case (d, s, n) =>
        cs += s; cn += n; (d, math.abs(cs * nAll - sAll * cn))
      }
      val best = devs.maxBy(x => (x._2, -x._1))
      assert((best._2, best._1) == (scaled, day),
        s"$tpe: direct argmax $best vs query ($scaled, $day)")
    }
  }

  test("t27 entropy is bounded by ln(n_types) and zero for single-type docs") {
    val r = graft.queries.TextPack.queries("t27_token_entropy")(spark, sf)
      .cache()
    assert(r.filter(col("entropy_nats") < -1e-9).count() == 0)
    // H <= ln(n_types) (+ quantization slack)
    val over = r.filter(col("entropy_nats") >
      log(col("n_types").cast("double")) + 1e-4)
    assert(over.count() == 0, "entropy cannot exceed ln(#types)")
    assert(r.filter(col("n_types") === 1 &&
      abs(col("entropy_nats")) > 1e-9).count() == 0)
    assert(r.filter(col("ttr") <= 0 || col("ttr") > 1).count() == 0)
    r.unpersist()
  }

  test("c18 Fellegi-Sunter weights separate matches from non-matches") {
    val r = graft.queries.CurationPack.queries("c18_fellegi_sunter")(spark, sf)
      .collect().map(row => row.getString(0) ->
        (row.getDouble(3), row.getDouble(4), row.getDouble(5))).toMap
    assert(r.size == 3)
    // brand (25 values) and size (50 values) discriminate: random
    // same-block pairs rarely agree, planted twins always do. Price
    // bucket is deliberately NON-discriminative on this fixture (blocked
    // parts share price mass) — the learner must expose that as a
    // ~zero-or-negative weight rather than fake separation.
    Seq("brand", "size").foreach { f =>
      val (m, u, w) = r(f)
      assert(m > u && w > 0, s"$f: expected m > u and positive weight, " +
        s"got m=$m u=$u w=$w")
    }
    r.values.foreach { case (m, u, _) =>
      assert(m > 0 && m <= 1 && u > 0 && u <= 1)
    }
  }

  test("stats_mann_kendall matches a direct pairwise recompute") {
    val rows = graft.queries.StatsTestsPack.queries("stats_mann_kendall")(
      spark, sf).collect()
    val cells = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
        Num.cents(col("value")).as("c"))
      .groupBy("event_type", "d")
      .agg(sum(col("c")).as("sd"), count(lit(1)).as("nd"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val series = cells(r.getString(0))
        .map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).sortBy(_._1)
      var s = 0L
      for (i <- series.indices; j <- (i + 1) until series.length) {
        val diff = series(j)._2 * series(i)._3 - series(i)._2 * series(j)._3
        s += java.lang.Long.signum(diff)
      }
      assert(s == r.getLong(2), s"${r.getString(0)}: S $s vs ${r.getLong(2)}")
      assert(r.getLong(3) >= 0, "variance numerator nonnegative")
    }
  }

  test("stats_kaplan_meier curve is monotone and risk-consistent") {
    val km = graft.queries.StatsTestsPack.queries("stats_kaplan_meier")(
      spark, sf).orderBy(col("t_days")).collect()
    assert(km.nonEmpty)
    val nUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    var prevRisk = Long.MaxValue
    var prevLs = 0.0
    km.foreach { r =>
      val (risk, d, ls) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(risk <= nUsers && d > 0 && d < risk, s"risk $risk deaths $d")
      assert(risk <= prevRisk, "risk set shrinks over time")
      assert(ls <= prevLs + 1e-9, "log-survival is nonincreasing")
      prevRisk = risk; prevLs = ls
    }
  }

  test("n15 MMR selects a no-less-diverse set than pure relevance ranking") {
    val mmr = graft.queries.AnnPack.queries("n15_mmr")(spark, sf)
      .orderBy("rank").collect()
    assert(mmr.length == 10)
    assert(mmr.map(_.getLong(0)).toSeq == (1L to 10L),
      "ranks are contiguous 1..10")
    assert(mmr.map(_.getLong(1)).distinct.length == 10, "no repeats")
    assert(mmr.head.getLong(2) == mmr.map(_.getLong(2)).max,
      "rank 1 is the pure-relevance argmax")
    assert(mmr.head.getLong(2) == mmr.head.getLong(3),
      "rank 1 carries no diversity penalty")
    // diversity: the mean pairwise cosine among the MMR picks must not
    // exceed that of the top-10-by-relevance set (what MMR exists to do)
    import graft.ann.Similarity.{dot, l2norm}
    val e = Tables.embeddings(spark, sf)
    def meanPairSim(ids: Seq[Long]): Double = {
      val sel = e.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("a"), col("embedding").as("ea"))
      val selB = sel.select(col("a").as("b"), col("ea").as("eb"))
      sel.crossJoin(selB).filter(col("a") < col("b"))
        .select(avg(dot(col("ea"), col("eb")) / l2norm(col("ea")) /
          l2norm(col("eb"))).as("m"))
        .head().getDouble(0)
    }
    val q = e.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"), l2norm(col("embedding")).as("qn"))
    val topRel = e.filter(col("vec_id") =!= 0L).crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("qe"), col("embedding")) / col("qn") /
          l2norm(col("embedding"))).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(meanPairSim(mmr.map(_.getLong(1)).toSeq) <=
      meanPairSim(topRel) + 1e-9,
      "MMR must not be less diverse than the relevance-only top-10")
  }

  test("x13 stationary distribution conserves mass and is near-fixed") {
    val pi = graft.queries.ExtendedPack.queries("x13_markov_stationary")(
      spark, sf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = pi.values.sum
    assert(pi.values.forall(_ >= 0))
    // mass decays by truncation twice over: row probabilities round DOWN
    // (each row sums to ≤ 1e6, deficit ≤ ~5e-6 relative) and each
    // iteration's per-term DIV truncates again — 8 rounds lose a few
    // parts in 1e5, never gain
    assert(total <= 1000000000000L && total > 1000000000000L - 100000000L,
      s"mass $total")
    // after 8 rounds of a 5-state ergodic chain the vector is at its
    // fixed point: one more exact-integer step moves each state < 0.5%
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sf)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val marg = pairs.groupBy("from_type").agg(sum(col("n")).as("tot"))
    val trans = pairs.join(marg, "from_type")
      .select(col("from_type"), col("to_type"),
        expr("(n * 1000000L) DIV tot").as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    pi.keys.foreach { j =>
      val next = trans.filter(_._2 == j)
        .map { case (i, _, p) => pi.getOrElse(i, 0L) * p / 1000000L }.sum
      assert(math.abs(next - pi(j)).toDouble <= 0.005 * pi(j) + 5,
        s"$j: $next vs ${pi(j)}")
    }
  }

  test("d17 prefix filtering is EXACT: equals the brute-force all-pairs join") {
    val out = graft.queries.DedupPack.queries("d17_prefix_filter_join")(
        spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = graft.queries.DedupPack.withNearDups(spark, sf)
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), expr(
        "CASE WHEN size(ws) < 3 THEN array(array_join(ws, ' ')) " +
          "ELSE array_distinct(transform(sequence(1, size(ws) - 2), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), " +
          "element_at(ws, i + 2)))) END").as("ts"))
    val a = sets.select(col("doc_id").as("da"), col("ts").as("ta"))
    val b = sets.select(col("doc_id").as("db"), col("ts").as("tb"))
    val brute = a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("u", size(col("ta")) + size(col("tb")) - col("i"))
      .filter(col("i") * 2 >= col("u"))
      .select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute,
      s"prefix filter must lose nothing and add nothing " +
        s"(got ${out.size}, brute ${brute.size})")
    assert(out.nonEmpty, "the planted near-dups guarantee qualifying pairs")
  }
}
