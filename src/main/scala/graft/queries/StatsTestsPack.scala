package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{Num, QueryPack, Ranks, Tables}

/** Distributed two-sample hypothesis tests — the A/B-comparison primitives
  * a data-quality / experimentation pipeline runs over event streams
  * (reference analogue: the notebook's distribution-shift eyeballing,
  * `/root/reference/src/etl/preprocessing.py` summary stats — promoted to
  * proper rank statistics).
  *
  * Both tests are RANK-based, and the classic single-machine formulation
  * (sort everything, walk the ranked list) has no direct distributed
  * analogue — a `row_number() OVER (ORDER BY value)` window funnels the
  * corpus through one task. The scalable shape used here:
  *
  *   1. collapse the corpus to its DISTINCT-value type table with per-group
  *      counts (one keyed shuffle; ties collapse map-side),
  *   2. one [[graft.Ranks.scan]] Sum pass over the type table
  *      (range-partitioned sort + per-partition subtotals — the sc4/t16
  *      scan primitive, never a one-task window),
  *   3. per-row integer arithmetic recovers average ranks (Mann–Whitney)
  *      or both ECDFs (KS) exactly — all in Long space, so the DuckDB
  *      oracle's window replay hash-matches bit-for-bit; the only doubles
  *      are the final statistic (r6-rounded).
  *
  * Both prefix passes pack the two group counts into ONE Long
  * (cntA·2³² + cntB) so a single prefix-sum job carries both cumulative
  * counts; a driver-side require guards the n_B < 2³¹ packing envelope (at a
  * true 100 TB row count the packing would switch to two passes or a
  * wider accumulator — the guard makes the envelope explicit instead of
  * silently wrapping).
  */
object StatsTestsPack extends QueryPack {

  /** Distinct-value type table for the two-sample slice: one row per
    * distinct `value` with (cnt_a, cnt_b) occurrence counts, plus the
    * packed prefix sum and its unpack — shared by both tests. */
  private def rankedTypes(s: SparkSession, dir: String,
      groupA: String, groupB: String): (DataFrame, Long, Long) = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin(groupA, groupB))
      .select(col("event_type"), col("value"))
    val types = ev.groupBy(col("value"))
      .agg(
        sum(when(col("event_type") === groupA, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("event_type") === groupB, 1L).otherwise(0L)).as("cnt_b"))
    // packing envelope check BEFORE the prefix pass: both group totals
    // must stay below 2^31 or the packed accumulator would silently
    // bleed between fields. The totals agg runs over the bounded TYPE
    // table (one tiny job), not the corpus.
    // coalesce to 0: an empty slice makes sum() NULL, and getLong would
    // NPE before the envelope message below ever fires (ADVICE r9)
    val tot = types.agg(
        coalesce(sum(col("cnt_a")), lit(0L)).as("na"),
        coalesce(sum(col("cnt_b")), lit(0L)).as("nb"))
      .head()
    val (nA, nB) = (tot.getLong(0), tot.getLong(1))
    require(nA > 0 && nB > 0,
      s"two-sample test needs both groups non-empty ($groupA: $nA, " +
        s"$groupB: $nB rows) — empty slice for this event-type pair")
    require(nA < (1L << 31) && nB < (1L << 31),
      s"two-sample sizes ($nA, $nB) exceed the 2^31 packing envelope; " +
        "split the prefix pass per group or widen to a decimal accumulator")
    val packed = types.withColumn("packed",
      col("cnt_a") * (1L << 32) + col("cnt_b"))
    val cum = Ranks.scan(packed, Seq(col("value")), Ranks.Sum("packed"),
        Seq("cum_packed"))._1
      .withColumn("cum_a", shiftright(col("cum_packed"), 32))
      .withColumn("cum_b", col("cum_packed").bitwiseAND(lit(0xffffffffL)))
    (cum, nA, nB)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rankTestQueries ++ assocQueries

  private def rankTestQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Mann–Whitney U ('click' vs 'purchase' event values): average ranks
    // for ties recovered from the type table in DOUBLED-rank integer
    // space (r2 = 2·ranks_below + t + 1, exact Longs end-to-end), the
    // normal approximation tie-corrected. U and z are the only doubles.
    "stats_mannwhitney" -> ((s, dir) => {
      val (tt, nA, nB) = rankedTypes(s, dir, "click", "purchase")
      val n = nA + nB
      val t = col("cnt_a") + col("cnt_b")
      // ranks strictly below this value = cum_a + cum_b − t; doubled
      // average rank of the tie group = 2·below + t + 1 (integer)
      val r2 = (col("cum_a") + col("cum_b") - t) * 2 + t + 1
      // tie term in Exact: one heavily-tied value (t ≳ 2²¹) would
      // overflow t³ in Long under the 2³¹ packing guard; decimal keeps
      // the sum exact to t ~ 4·10¹²
      val td = t.cast(Num.Exact)
      val agg = tt.agg(
        // rank sum likewise exact: cnt_a·r2 per row brushes 2⁶⁴ at the
        // guard edge (r2 ≤ 2n+1)
        Num.sumProd(col("cnt_a"), r2).as("r2_sum_a"),
        sum(td * td * td - td).as("tie_term"))
      agg.select(
          lit(nA).as("n_a"), lit(nB).as("n_b"),
          // U_A = R_A − nA(nA+1)/2 with R_A = r2_sum_a / 2 (exact: the
          // doubled rank sum is even iff ties pair up, so divide last)
          ((col("r2_sum_a") - lit(nA) * (nA + 1)).cast(DoubleType) / 2.0)
            .as("u_stat"),
          col("tie_term"))
        .select(col("n_a"), col("n_b"), col("u_stat"),
          Num.r6(
            (col("u_stat") - lit(nA.toDouble * nB / 2.0)) /
              sqrt(lit(nA.toDouble * nB / 12.0) *
                (lit((n + 1).toDouble) -
                  col("tie_term").cast(DoubleType) / (n.toDouble * (n - 1)))))
            .as("z_score"))
    }),

    // Mann–Kendall trend test per series — the nonparametric monotone-
    // trend companion to stats_ar1_fit's parametric slope: S counts
    // concordant-minus-discordant day pairs of the daily-mean curve.
    // EXACT arithmetic throughout: the mean comparison
    // sign(m_j − m_i) = sign(sd_j·nd_i − sd_i·nd_j) never materializes a
    // rational, ties group by the (identical-both-engines) double
    // division, and the tie-corrected variance numerator
    // N(N−1)(2N+5) − Σ t(t−1)(2t+5) stays integer; the z-score's sqrt is
    // the only transcendental. Scale shape: the corpus collapses
    // map-side to (series, day) cells; the O(days²) pair join runs over
    // that BOUNDED table (30² rows per series), never the corpus.
    "stats_mann_kendall" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
          Num.cents(col("value")).as("c"))
        .groupBy("event_type", "d")
        .agg(sum(col("c")).as("sd"), count(lit(1)).as("nd"))
      val a = cells.select(col("event_type"), col("d").as("di"),
        col("sd").as("si"), col("nd").as("ni"))
      val b = cells.select(col("event_type"), col("d").as("dj"),
        col("sd").as("sj"), col("nd").as("nj"))
      val sStat = a.join(b, Seq("event_type"))
        .filter(col("di") < col("dj"))
        .select(col("event_type"),
          signum((col("sj") * col("ni") - col("si") * col("nj"))
            .cast(DoubleType)).cast("long").as("sgn"))
        .groupBy("event_type").agg(sum(col("sgn")).as("s_stat"))
      val ties = cells
        .groupBy(col("event_type"),
          (col("sd").cast(DoubleType) / col("nd").cast(DoubleType)).as("m"))
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t")).as("n_days"),
          sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
            .as("tie_term"))
      sStat.join(ties, "event_type")
        .withColumn("var_num",
          col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
            - col("tie_term"))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var_num"),
          Num.r6(when(col("s_stat") > 0,
              (col("s_stat") - 1).cast(DoubleType) /
                sqrt(col("var_num").cast(DoubleType) / 18.0))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast(DoubleType) /
                sqrt(col("var_num").cast(DoubleType) / 18.0))
            .otherwise(lit(0.0))).as("z_score"))
    }),

    // Theil–Sen slope — Mann–Kendall's companion ESTIMATOR (the robust
    // trend magnitude to MK's trend test; Sen 1968): the median of all
    // pairwise slopes between daily means, per series. Same scale shape
    // as stats_mann_kendall: the corpus collapses map-side to the
    // BOUNDED (type, day) cell table, the O(days²) pair join runs over
    // those cells, and the median is a partitioned rank over ≤ C(days,2)
    // pair rows — never a corpus-sized window. Exactness: daily means
    // and slopes are IEEE doubles computed with identical op order on
    // identical integer inputs in both engines; the even-count median
    // averages two identical doubles (commutative), rounded at 1e-6.
    "stats_theil_sen" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
          Num.cents(col("value")).as("c"))
        .groupBy("event_type", "d")
        .agg((sum(col("c")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("m"))
      val a = cells.select(col("event_type"), col("d").as("di"), col("m").as("mi"))
      val b = cells.select(col("event_type"), col("d").as("dj"), col("m").as("mj"))
      val pairs = a.join(b, Seq("event_type"))
        .filter(col("di") < col("dj"))
        .select(col("event_type"), col("di"), col("dj"),
          ((col("mj") - col("mi")) /
            (col("dj") - col("di")).cast(DoubleType)).as("slope"))
      val wk = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val wr = wk.orderBy(col("slope"), col("di"), col("dj"))
      pairs
        .withColumn("rn", row_number().over(wr))
        .withColumn("n_pairs", count(lit(1)).over(wk))
        .filter(col("rn") === expr("(n_pairs + 1) div 2") ||
          col("rn") === expr("(n_pairs + 2) div 2"))
        .groupBy("event_type")
        .agg(max(col("n_pairs")).as("n_pairs"),
          Num.r6(sum(col("slope")) / count(lit(1))).as("sen_slope_cents_per_day"))
    }),

    // Kendall's τ-b between the daily click-value and view-value series —
    // the rank-correlation companion to stats_ccf's Pearson (robust to
    // monotone transforms; the tie-corrected τ-b variant). ALL counts are
    // exact integers over the bounded matched-day pair table (concordant/
    // discordant/ties from sign tests on integer cents — never a float
    // compare), and τ-b is one double expression with mirrored op order.
    // Same scale story as mann_kendall: the corpus pays two daily-total
    // collapses; the O(days²) pair join runs on calendar-bounded cells.
    "stats_kendall_tau" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
        .agg(sum(Num.cents(col("value"))).as("sv"))
      val x = daily.filter(col("event_type") === "click")
        .select(col("d"), col("sv").as("x"))
      val y = daily.filter(col("event_type") === "view")
        .select(col("d"), col("sv").as("y"))
      val m = x.join(y, "d")
      val a = m.select(col("d").as("di"), col("x").as("xi"), col("y").as("yi"))
      val b = m.select(col("d").as("dj"), col("x").as("xj"), col("y").as("yj"))
      a.join(b, col("di") < col("dj"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when((col("xi") > col("xj") && col("yi") > col("yj")) ||
              (col("xi") < col("xj") && col("yi") < col("yj")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("xi") > col("xj") && col("yi") < col("yj")) ||
              (col("xi") < col("xj") && col("yi") > col("yj")), 1L)
            .otherwise(0L)).as("discordant"),
          sum(when(col("xi") === col("xj"), 1L).otherwise(0L)).as("ties_x"),
          sum(when(col("yi") === col("yj"), 1L).otherwise(0L)).as("ties_y"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          col("ties_x"), col("ties_y"),
          Num.r6((col("concordant") - col("discordant")).cast(DoubleType) /
            (sqrt((col("n_pairs") - col("ties_x")).cast(DoubleType)) *
             sqrt((col("n_pairs") - col("ties_y")).cast(DoubleType))))
            .as("tau_b"))
    }),

    // Cross-correlation function (lead–lag): Pearson corr between the
    // daily click-value and view-value series at every lag k ∈ [−5, 5] —
    // the "does series X lead series Y" diagnostic a financial pipeline
    // runs before fitting lagged exog terms (the reference's SARIMAX exog
    // step implies exactly this question). Scale shape: the corpus
    // collapses map-side to TWO bounded daily-total tables; the 11 lags
    // ride a broadcast and every lag's moment row aggregates the
    // day-matched join of the two bounded tables — the corpus is scanned
    // once, everything after is calendar-sized. Exactness: daily totals
    // are exact integer cents, the five moment sums and the centred terms
    // are exact Num moments (Σxy wraps LONG near 1e18; HUGEINT in the
    // oracle), and the corr is ONE double expression with identical op
    // order in both engines, r6-rounded.
    "stats_ccf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
        .agg(sum(Num.cents(col("value"))).as("sv"))
      val x = daily.filter(col("event_type") === "click")
        .select(col("d").as("dx"), col("sv").as("xv"))
      val y = daily.filter(col("event_type") === "view")
        .select(col("d").as("dy"), col("sv").as("yv"))
      val lags = s.range(-5, 6).toDF("k")
      val m = x.crossJoin(broadcast(lags))
        .join(y, col("dx") + col("k") === col("dy"))
        .groupBy("k")
        .agg(
          count(lit(1)).as("n_days"),
          sum(col("xv").cast(Num.Exact)).as("sx"),
          sum(col("yv").cast(Num.Exact)).as("sy"),
          Num.sumProd(col("xv"), col("yv")).as("sxy"),
          Num.sumProd(col("xv"), col("xv")).as("sxx"),
          Num.sumProd(col("yv"), col("yv")).as("syy"))
        .select(col("k"), col("n_days"),
          Num.centred(col("n_days"), col("sxy"), col("sx"), col("sy")).as("cxy"),
          Num.centred(col("n_days"), col("sxx"), col("sx"), col("sx")).as("cxx"),
          Num.centred(col("n_days"), col("syy"), col("sy"), col("sy")).as("cyy"))
      Num.exactOrRaise(m, "stats_ccf", col("n_days"),
          col("cxy"), col("cxx"), col("cyy"))
        .select(col("k"), col("n_days"),
          Num.r6(col("cxy").cast(DoubleType) /
            (sqrt(col("cxx").cast(DoubleType)) *
             sqrt(col("cyy").cast(DoubleType)))).as("ccf"))
    }),

    // Kaplan–Meier survival over user PURCHASE lifetimes — survival
    // analysis as an engine capability (churn/retention curves at corpus
    // scale): a user's lifetime is first→last purchase day; a user still
    // purchasing in the final 3 days of the horizon is CENSORED, not
    // dead. (The all-events lifetime is degenerate on this fixture —
    // every synthetic user stays active to the horizon — purchases are
    // sparse enough to churn.)
    // The corpus collapses to per-user (duration, death) in one keyed
    // agg, then every estimator quantity lives on the bounded distinct-
    // duration table: the risk set n(t) is a suffix sum, and the
    // product-limit estimator is maintained in LOG space as the exact
    // prefix sum of the 1e-6-quantized ln((n−d)/n) terms (the t13
    // contract) — no cross-engine product chains. Terms with n = d
    // (survival hits zero) are dropped by both sides per KM convention.
    "stats_kaplan_meier" -> ((s, dir) => {
      val purchases = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
      // the horizon is a one-row aggregate broadcast into the per-user
      // table, so the answer is one plan
      val horizon = purchases.agg(max(to_date(col("ts"))).as("horizon"))
      val users = purchases
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"))
        .crossJoin(broadcast(horizon))
        .select(
          datediff(col("last_d"), col("first_d")).cast("long").as("dur"),
          (datediff(col("horizon"), col("last_d")) > 3).cast("long").as("death"))
      val cells = users.groupBy(col("dur"))
        .agg(count(lit(1)).as("n_at"), sum(col("death")).as("d_at"))
      val wDesc = Window.partitionBy(lit(1)).orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = Window.partitionBy(lit(1)).orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // windows run over the bounded distinct-duration table (≤ horizon
      // days of cells), not the corpus — the 1-partition spec is fine
      // at any corpus size because the frame is calendar-bounded
      cells
        .withColumn("n_risk", sum(col("n_at")).over(wDesc))
        .filter(col("d_at") > 0)
        .filter(col("n_risk") > col("d_at"))
        .withColumn("lnq_term", expr(
          "CAST(floor(ln(CAST(n_risk - d_at AS DOUBLE) / " +
            "CAST(n_risk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
        .withColumn("cum_ln", sum(col("lnq_term")).over(wAsc))
        .select(col("dur").as("t_days"), col("n_risk"), col("d_at"),
          Num.r6(col("cum_ln").cast(DoubleType) / 1000000.0)
            .as("log_survival"))
    }),

    // CUSUM changepoint localization per series — c6's drift signal
    // sharpened to a POINT estimate: the day d* maximizing the absolute
    // cumulative deviation from the series mean is the classic
    // binary-segmentation first split (Page 1954 / Scott & Knott). All
    // arithmetic exact: the deviation C_d = Σ_{i≤d}(s_i − n_i·μ) is
    // rescaled by N (C'_d = N·cumS_d − S·cumN_d, a BIGINT — no rational
    // μ ever materializes), the argmax is one max(struct) over the
    // bounded (series, day) cell table, and the only doubles are the
    // display normalizations. Envelope: |C'| ≤ S·N ~ 1e12 at sf0.1,
    // 1e16 at 100× — inside BIGINT. Scale shape: map-side cell collapse,
    // one bounded-table window, one agg.
    "stats_changepoint" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"),
          Num.cents(col("value")).as("c"))
        .groupBy("event_type", "d")
        .agg(sum(col("c")).as("sd"), count(lit(1)).as("nd"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val tot = Window.partitionBy(col("event_type"))
      val dev = cells
        .withColumn("cum_s", sum(col("sd")).over(w))
        .withColumn("cum_n", sum(col("nd")).over(w))
        .withColumn("s_all", sum(col("sd")).over(tot))
        .withColumn("n_all", sum(col("nd")).over(tot))
        .withColumn("cprime",
          col("cum_s") * col("n_all") - col("s_all") * col("cum_n"))
      dev.groupBy(col("event_type"))
        .agg(max(struct(abs(col("cprime")).as("a"), (-col("d")).as("nd"),
          col("n_all").as("n"))).as("m"))
        .select(col("event_type"), (-col("m.nd")).as("change_day"),
          col("m.a").as("cusum_scaled"),
          Num.r6(col("m.a").cast(DoubleType) /
            (col("m.n").cast(DoubleType) * 100.0)).as("max_dev_dollars"))
    }),

    // Kruskal–Wallis H ('click' / 'view' / 'purchase') — the k-sample
    // extension of stats_mannwhitney on the SAME machinery: the corpus
    // collapses map-side to its distinct-value type table, THREE group
    // counts pack into one 3×21-bit long so a single Ranks.scan Sum
    // range pass yields every group's cumulative count (envelope: each
    // group < 2²¹ ≈ 2M rows — beyond that, split the prefix pass per
    // group or widen to decimal; the require below makes the bound loud),
    // doubled average ranks stay integer-exact through ties, rank sums
    // accumulate in DECIMAL(38,0), and H with the tie correction is a
    // fixed double expression over those exact sums — engine-order-free.
    "stats_kruskal" -> ((s, dir) => {
      val groups = Seq("click", "view", "purchase")
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin(groups: _*))
        .select(col("event_type"), col("value"))
      val cnts = groups.zipWithIndex.map { case (g, i) =>
        sum(when(col("event_type") === g, 1L).otherwise(0L)).as(s"cnt$i") }
      val types = ev.groupBy(col("value")).agg(cnts.head, cnts.tail: _*)
      val tot = types.agg(
          coalesce(sum(col("cnt0")), lit(0L)).as("n0"),
          coalesce(sum(col("cnt1")), lit(0L)).as("n1"),
          coalesce(sum(col("cnt2")), lit(0L)).as("n2"))
        .head()
      val ns = Seq(tot.getLong(0), tot.getLong(1), tot.getLong(2))
      require(ns.forall(_ > 0),
        s"k-sample test needs every group non-empty (${groups.zip(ns)})")
      require(ns.forall(_ < (1L << 21)),
        s"group sizes $ns exceed the 3×21-bit packing envelope; split " +
          "the prefix pass per group or widen to a decimal accumulator")
      val packed = types.withColumn("packed",
        col("cnt0") * (1L << 42) + col("cnt1") * (1L << 21) + col("cnt2"))
      val mask = lit((1L << 21) - 1)
      val cum = Ranks.scan(packed, Seq(col("value")), Ranks.Sum("packed"),
          Seq("cum_packed"))._1
        .withColumn("cum_all",
          shiftright(col("cum_packed"), 42) +
            shiftright(col("cum_packed"), 21).bitwiseAND(mask) +
            col("cum_packed").bitwiseAND(mask))
      val t = col("cnt0") + col("cnt1") + col("cnt2")
      val r2 = (col("cum_all") - t) * 2 + t + 1
      val td = t.cast(Num.Exact)
      val agg = cum.agg(
        Num.sumProd(col("cnt0"), r2).as("r2s0"),
        Num.sumProd(col("cnt1"), r2).as("r2s1"),
        Num.sumProd(col("cnt2"), r2).as("r2s2"),
        sum(td * td * td - td).as("tie_term"))
      val nD = ns.sum.toDouble
      def rg(c: String, n: Long): Column = {
        val r = col(c).cast(DoubleType) / 2.0
        r * r / lit(n.toDouble)
      }
      val hRaw = lit(12.0) / (lit(nD) * (lit(nD) + 1.0)) *
        (rg("r2s0", ns(0)) + rg("r2s1", ns(1)) + rg("r2s2", ns(2))) -
        lit(3.0) * (lit(nD) + 1.0)
      val corr = lit(1.0) - col("tie_term").cast(DoubleType) /
        (lit(nD) * lit(nD) * lit(nD) - lit(nD))
      agg.select(
        lit(ns(0)).as("n_click"), lit(ns(1)).as("n_view"),
        lit(ns(2)).as("n_purchase"),
        Num.r6(hRaw).as("h"),
        Num.r6(hRaw / corr).as("h_corrected"))
    }),

    // Kolmogorov–Smirnov two-sample ('click' vs 'purchase'): the ECDF
    // gap maximized in cross-multiplied INTEGER space — D·nA·nB =
    // max|cum_a·nB − cum_b·nA| — so the max is exact and the single
    // division at the end is the only double. (At ≳3·10⁹ rows per group
    // the cross-product would need a decimal accumulator; the packing
    // guard upstream already bounds this envelope.)
    "stats_ks_test" -> ((s, dir) => {
      val (tt, nA, nB) = rankedTypes(s, dir, "click", "purchase")
      tt.agg(max(abs(col("cum_a") * nB - col("cum_b") * nA)).as("d_scaled"))
        .select(
          lit(nA).as("n_a"), lit(nB).as("n_b"),
          Num.r6(col("d_scaled").cast(DoubleType) / (nA.toDouble * nB))
            .as("ks_d"))
    }),

    // Welch's unequal-variance t ('click' vs 'purchase') — the parametric
    // member of the two-sample family (MW/KS above are its rank-based
    // siblings). ONE corpus scan collapses to six exact moments in
    // cent space (n, Σc, Σc² per group — map-side partial agg, the
    // exchange carries 6 counters per partition); every downstream op is
    // closed-form double arithmetic on that single row, written with the
    // same parenthesization the oracle uses so each IEEE-correctly-
    // rounded step (+,−,×,÷,√) is bit-identical cross-engine. The cent
    // units cancel in both t and the Welch–Satterthwaite df.
    "stats_welch_t" -> ((s, dir) => {
      val groups = Seq("click", "purchase")
      val m = groupMoments(Tables.events(s, dir)
          .filter(col("event_type").isin(groups: _*)),
        col("event_type"), groups, Num.cents(col("value")), "stats_welch_t")
      def moments(g: String) = (col(s"n_$g").cast(DoubleType),
        col(s"s_$g").cast(DoubleType), col(s"q_$g").cast(DoubleType))
      val ((na, sa, qa), (nb, sb, qb)) = (moments("click"), moments("purchase"))
      val va = (qa - (sa * sa) / na) / (na - 1)
      val vb = (qb - (sb * sb) / nb) / (nb - 1)
      val sea = va / na
      val seb = vb / nb
      m.select(col("n_click").as("n_a"), col("n_purchase").as("n_b"),
        Num.r6((sa / na) / 100.0).as("mean_a"),
        Num.r6((sb / nb) / 100.0).as("mean_b"),
        Num.r6((sa / na - sb / nb) / sqrt(sea + seb)).as("t_stat"),
        Num.r6(((sea + seb) * (sea + seb)) /
          ((sea * sea) / (na - 1) + (seb * seb) / (nb - 1))).as("df"))
    }),

    // One-scan POISSON BOOTSTRAP of the purchase-value mean (Chamandy et
    // al.'s "Estimating uncertainty for massive data streams"; the
    // resample-with-replacement classic is unrunnable at corpus scale —
    // n draws per replicate × B replicates needs global coordination,
    // while Poissonization makes every row's B weights INDEPENDENT:
    // w ~ Poisson(1) approximates each row's Binomial(n, 1/n) draw
    // count). Weights are DETERMINISTIC — u = first 8 md5 hex digits of
    // (event_id, b) as a uniform k/2³², inverted through the literal
    // Poisson(1) CDF thresholds (identical text both engines; u is an
    // exact dyadic rational so the comparisons can't straddle an ulp) —
    // making the whole resampling oracle-replayable. Plan: map-side
    // explode ×B, then ONE (b)-keyed partial agg — the exchange carries
    // B·partitions counters, never rows; means are exact Long cent sums
    // with one final division. Downstream, the B means' spread IS the
    // sampling distribution (percentile CI, SE).
    "stats_bootstrap" -> ((s, dir) => {
      val B = 64
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), Num.cents(col("value")).as("c"))
      val u = conv(substring(md5(concat(col("event_id").cast("string"),
          lit(":"), col("b").cast("string"))), 1, 8), 16, 10)
        .cast("long").cast(DoubleType) / 4294967296.0
      // Poisson(1) inverse CDF: cumulative e⁻¹·Σ 1/k!, capped at 6
      val w = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .otherwise(6L)
      ev.select(col("event_id"), col("c"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .select(col("b"), w.as("w"), col("c"))
        .groupBy(col("b"))
        .agg(sum(col("w")).as("n_b"),
          sum(col("w") * col("c")).as("s_b"))
        .select(col("b"), col("n_b"),
          // n_b = 0 (all-zero Poisson weights on a tiny slice) would make
          // 0/0 = NaN silently propagate into downstream CI/SE math —
          // surface it as NULL instead (mirrored in the oracle)
          when(col("n_b") > 0,
            (col("s_b").cast(DoubleType) / col("n_b").cast(DoubleType))
              / 100.0)
            .as("boot_mean"))
    }),

    // One-way ANOVA F across ALL FIVE event types — the k-group
    // generalization. Same single-scan shape: 15 exact moments
    // (n, Σc, Σc² per type, [[groupMoments]]) and the fixed-order F
    // reduction of [[anovaTerms]]. The cent units cancel in F and η².
    "stats_anova_f" -> ((s, dir) => {
      val m = groupMoments(Tables.events(s, dir)
          .filter(col("event_type").isin(EventTypes: _*)),
        col("event_type"), EventTypes, Num.cents(col("value")), "stats_anova_f")
      val (nTot, ssb, ssw, f) = anovaTerms(EventTypes)
      m.select(nTot.as("n_total"), lit(EventTypes.size).as("k_groups"),
        Num.r6(f).as("f_stat"),
        Num.r6(ssb / (ssb + ssw)).as("eta_sq"))
    }),

    // Brown–Forsythe variance-equality test (Levene with the MEDIAN
    // center — the robust form) across the five event types: the missing
    // member of the test family (t/ANOVA compare LOCATION assuming equal
    // spread; this tests the spread assumption itself). Two passes:
    // (1) per-type medians via c16's bounded doubled-cents histogram
    // (windows order the histogram, never the corpus; med4 = lower+upper
    // median in c2 space stays INTEGER), (2) one scan computing the
    // quadrupled-cent deviations z = |2·c2 − med4| (exact Longs) and
    // stats_anova_f's moments and F reduction over z.
    "stats_levene" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin(EventTypes: _*))
        .select(col("event_type"), (Num.cents(col("value")) * 2).as("c2"))
      val hist = ev.groupBy("event_type", "c2").agg(count(lit(1)).as("cnt"))
      val med = hist
        .withColumn("cum",
          sum(col("cnt")).over(W.partitionBy("event_type").orderBy("c2")))
        .withColumn("n", sum(col("cnt")).over(W.partitionBy("event_type")))
        .groupBy(col("event_type"))
        .agg((min(when(col("cum") >= expr("(n + 1) DIV 2"), col("c2"))) +
          min(when(col("cum") >= expr("n DIV 2 + 1"), col("c2"))))
          .as("med4"))
      val zrows = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("c2") * 2 - col("med4")).as("z"))
      val m = groupMoments(zrows, col("event_type"), EventTypes, col("z"),
        "stats_levene")
      val (nTot, _, _, f) = anovaTerms(EventTypes)
      m.select(nTot.as("n_total"), lit(EventTypes.size).as("k_groups"),
        Num.r6(f).as("levene_w"))
    })
  )

  /** The five event types of the k-group tests, in the oracle's order. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Exact per-group moments of the integral column `x` in ONE pass of
    * conditional partial aggregation, never a groupBy-then-collect: per
    * group g of `key`, n_g (count), s_g (LONG Σx) and q_g (Σx², a
    * cents-LONG product summed exactly). Rows of other groups count as 0,
    * so a moment is NULL only on an empty frame or an overflow, which
    * raises naming `what`. */
  private def groupMoments(rows: DataFrame, key: Column, groups: Seq[String],
      x: Column, what: String): DataFrame = {
    def of(g: String, v: Column): Column = when(key === g, v).otherwise(0L)
    val m = rows.agg(
      sum(of(groups.head, lit(1L))).as(s"n_${groups.head}"),
      (groups.tail.map(g => sum(of(g, lit(1L))).as(s"n_$g")) ++
        groups.map(g => sum(of(g, x)).as(s"s_$g")) ++
        groups.map(g => Num.sumCentsProd(of(g, x), of(g, x)).as(s"q_$g"))): _*)
    Num.exactOrRaise(m, what, groups.map(g => col(s"n_$g")).reduceLeft(_ + _),
      groups.map(g => col(s"q_$g")): _*)
  }

  /** One-way ANOVA over a [[groupMoments]] row: (n_total, SSB, SSW, F).
    * The k-term reductions are explicit left-to-right additions in
    * `groups` order, the oracle's textual order, so no engine-dependent
    * aggregation order touches a float. */
  private def anovaTerms(groups: Seq[String]): (Column, Column, Column, Column) = {
    def d(c: String) = col(c).cast(DoubleType)
    val between = groups.map(g => (d(s"s_$g") * d(s"s_$g")) / d(s"n_$g"))
      .reduceLeft(_ + _)
    val nTot = groups.map(g => col(s"n_$g")).reduceLeft(_ + _)
    val sTot = groups.map(g => col(s"s_$g")).reduceLeft(_ + _)
    val qTot = groups.map(g => col(s"q_$g")).reduceLeft(_ + _)
    val nD = nTot.cast(DoubleType)
    val ssb = between - (sTot.cast(DoubleType) * sTot.cast(DoubleType)) / nD
    val ssw = qTot.cast(DoubleType) - between
    val k = lit(groups.size.toDouble)
    (nTot, ssb, ssw, (ssb / (k - 1)) / (ssw / (nD - k)))
  }

  /** Benford first-digit expectations log10(1+1/d), d = 1..9, as double
    * literals shared verbatim by the Spark expression and the oracle
    * text (Scala's shortest-repr toString reproduces them exactly). */
  private val BenfordP = Seq(0.3010299956639812, 0.17609125905568124,
    0.12493873660829993, 0.09691001300805642, 0.07918124604762482,
    0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
    0.04575749056067514)

  private def assocQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Spearman rank correlation between order price and the customer's
    // account balance — the robust monotone-association companion of
    // a10's Pearson. Both variables share ONE distinct-value type table:
    // each row explodes to (var, value), one group-by counts the ties,
    // and one Ranks.scan ordered by (var, value) carries each variable's
    // own prefix count (Sum(cx, cy); the other variable's cells add 0).
    // That recovers exact tie-averaged ranks in doubled-Long space
    // (r2 = 2·(below) + cnt + 1), joined back to rows on each value —
    // never a corpus row_number window; ρ is then Pearson on the doubled
    // ranks with every moment and centred term exact (order-free), cast
    // to double only for the final sqrt/divide.
    "stats_spearman" -> ((s, dir) => {
      val rows = Tables.orders(s, dir)
        .join(Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"),
            Num.cents(col("c_acctbal")).as("y")), "o_custkey")
        .select(Num.cents(col("o_totalprice")).as("x"), col("y"))
      val tt = rows.select(explode(map(lit("x"), col("x"), lit("y"), col("y")))
          .as(Seq("var", "value")))
        .groupBy(col("var"), col("value")).agg(count(lit(1)).as("cnt"))
        .withColumn("cx", when(col("var") === "x", col("cnt")).otherwise(0L))
        .withColumn("cy", when(col("var") === "y", col("cnt")).otherwise(0L))
      val (cum, _) = Ranks.scan(tt, Seq(col("var"), col("value")),
        Ranks.Sum("cx", "cy"), Seq("cum_x", "cum_y"))
      def ranks(v: String) = cum.filter(col("var") === v)
        .select(col("value").as(v),
          ((col(s"cum_$v") - col("cnt")) * 2 + col("cnt") + 1).as(s"r$v"))
      val ranked = rows.join(ranks("x"), "x").join(ranks("y"), "y")
      val m = ranked.agg(
          count(lit(1)).as("n"),
          sum(col("rx").cast(Num.Exact)).as("sx"),
          sum(col("ry").cast(Num.Exact)).as("sy"),
          Num.sumProd(col("rx"), col("ry")).as("sxy"),
          Num.sumProd(col("rx"), col("rx")).as("sxx"),
          Num.sumProd(col("ry"), col("ry")).as("syy"))
        .select(col("n"),
          Num.centred(col("n"), col("sxy"), col("sx"), col("sy")).as("cxy"),
          Num.centred(col("n"), col("sxx"), col("sx"), col("sx")).as("cxx"),
          Num.centred(col("n"), col("syy"), col("sy"), col("sy")).as("cyy"))
      Num.exactOrRaise(m, "stats_spearman", col("n"),
          col("cxy"), col("cxx"), col("cyy"))
        .select(col("n"),
          Num.r6(col("cxy").cast(DoubleType) /
            sqrt(col("cxx").cast(DoubleType)) /
            sqrt(col("cyy").cast(DoubleType))).as("spearman_rho"))
    }),

    // Distribution-free median confidence interval (purchase values) —
    // the order-statistic CI (ranks (n ± z√n)/2, the binomial normal
    // approximation): no distributional assumption, exact at any skew —
    // the uncertainty statement that belongs next to c16's point
    // estimates. The scalable primitive is "value at global rank k":
    // the corpus collapses to its distinct-value type table, ONE
    // prefix-sum pass gives cumulative counts, and each rank selects
    // min(value | cum ≥ k) — three conditional mins over the bounded
    // type table, never a corpus sort. The rank indices are computed
    // once from n in plain IEEE doubles (√, ×, −, /2, floor — all
    // correctly rounded, so the oracle's identical formula lands on the
    // same integers).
    "stats_median_ci" -> ((s, dir) => {
      val tt = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(Num.cents(col("value")).as("c"))
        .agg(count(lit(1)).as("cnt"))
      // n is the scan's grand total: the subtotal job already computed
      // it, and a separate tt.agg would re-scan the corpus
      val (cum, Seq(n)) = Ranks.scan(tt, Seq(col("c")), Ranks.Sum("cnt"),
        Seq("cum"))
      val z = 1.959963984540054
      val kMed = (n + 1) / 2
      val kLo = math.max(1L, math.floor((n - z * math.sqrt(n.toDouble)) / 2).toLong)
      val kHi = math.min(n, math.ceil((n + z * math.sqrt(n.toDouble)) / 2).toLong + 1)
      cum.agg(
          min(when(col("cum") >= kMed, col("c"))).as("med_c"),
          min(when(col("cum") >= kLo, col("c"))).as("lo_c"),
          min(when(col("cum") >= kHi, col("c"))).as("hi_c"))
        .select(lit(n).as("n"),
          (col("med_c").cast(DoubleType) / 100.0).as("median"),
          (col("lo_c").cast(DoubleType) / 100.0).as("ci_lo"),
          (col("hi_c").cast(DoubleType) / 100.0).as("ci_hi"))
    }),

    // Benford first-digit audit over order prices — the fraud /
    // synthetic-data gate. The first significant digit comes from the
    // INTEGER cents rendered as a string (both engines print a BIGINT
    // identically — no log10, whose last-ulp rounding is not pinned by
    // IEEE), counts collapse to 9 cells map-side, and the χ² against
    // the Benford expectation uses literal log10(1+1/d) constants in a
    // FIXED-order 9-term expression (each extracted count is a
    // one-nonzero-term conditional sum over the 9-cell table, so no
    // engine-ordered float addition exists anywhere).
    "stats_benford" -> ((s, dir) => {
      val cells = Tables.orders(s, dir)
        .select(Num.cents(col("o_totalprice")).as("c"))
        .filter(col("c") > 0)
        .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val p = BenfordP
      // one row of the 9 counts: each sum has exactly one nonzero term
      def cSum(d: Int): Column =
        sum(when(col("digit") === d, col("n_obs")).otherwise(0L)).as(s"c$d")
      val m = cells.agg(cSum(1), (2 to 9).map(cSum): _*)
      val n = (1 to 9).map(d => col(s"c$d")).reduceLeft(_ + _)
      val chi2 = (1 to 9).map { d =>
        val e = n.cast(DoubleType) * p(d - 1)
        (col(s"c$d").cast(DoubleType) - e) * (col(s"c$d").cast(DoubleType) - e) / e
      }.reduceLeft(_ + _)
      val stats = m.select(n.as("n_total"), Num.r6(chi2).as("chi2"))
      cells.crossJoin(broadcast(stats))
        .select(col("digit"), col("n_obs"), col("n_total"),
          (col("n_obs").cast(DoubleType) / col("n_total").cast(DoubleType))
            .as("obs_share"),
          element_at(array(p.map(lit): _*), col("digit")).as("benford_share"),
          col("chi2"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "stats_spearman" ->
      """WITH rows_ AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |), tx AS (
        |  SELECT x, count(*) AS cnt FROM rows_ GROUP BY 1
        |), cx AS (
        |  SELECT x, (sum(cnt) OVER (ORDER BY x) - cnt) * 2 + cnt + 1 AS rx
        |  FROM tx
        |), ty AS (
        |  SELECT y, count(*) AS cnt FROM rows_ GROUP BY 1
        |), cy AS (
        |  SELECT y, (sum(cnt) OVER (ORDER BY y) - cnt) * 2 + cnt + 1 AS ry
        |  FROM ty
        |), r AS (
        |  SELECT cx.rx, cy.ry FROM rows_ JOIN cx USING (x) JOIN cy USING (y)
        |), m AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(rx AS HUGEINT)) AS sx,
        |    sum(CAST(ry AS HUGEINT)) AS sy,
        |    sum(CAST(rx AS HUGEINT) * ry) AS sxy,
        |    sum(CAST(rx AS HUGEINT) * rx) AS sxx,
        |    sum(CAST(ry AS HUGEINT) * ry) AS syy
        |  FROM r
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  floor((CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000 + 0.5) / 1000000 AS spearman_rho
        |FROM m""".stripMargin,
    "stats_median_ci" ->
      """WITH tt AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    count(*) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), cum AS (
        |  SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM tt
        |), n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tt),
        |k AS (
        |  SELECT n,
        |    (n + 1) // 2 AS k_med,
        |    greatest(1, CAST(floor((n - 1.959963984540054 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT)) AS k_lo,
        |    least(n, CAST(ceil((n + 1.959963984540054 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) + 1) AS k_hi
        |  FROM n
        |)
        |SELECT k.n,
        |  CAST(min(CASE WHEN cum.cum >= k.k_med THEN cum.c END) AS DOUBLE)
        |    / 100.0 AS median,
        |  CAST(min(CASE WHEN cum.cum >= k.k_lo THEN cum.c END) AS DOUBLE)
        |    / 100.0 AS ci_lo,
        |  CAST(min(CASE WHEN cum.cum >= k.k_hi THEN cum.c END) AS DOUBLE)
        |    / 100.0 AS ci_hi
        |FROM cum, k
        |GROUP BY k.n""".stripMargin,
    "stats_benford" -> {
      val cs = (1 to 9).map(d =>
        s"CAST(sum(CASE WHEN digit = $d THEN n_obs ELSE 0 END) AS BIGINT) AS c$d")
        .mkString(",\n        ")
      val nExpr = (1 to 9).map(d => s"c$d").mkString(" + ")
      // Literal gotcha: DuckDB parses a plain 17-digit decimal literal as
      // DECIMAL first, and DECIMAL→DOUBLE is NOT correctly rounded (e.g.
      // 0.12493873660829993 arrives as …92, 1 ulp off Spark's lit()).
      // Scientific notation parses directly as a correctly-rounded DOUBLE.
      def dlit(x: Double): String = "%.17e".format(x)
      val chi2 = (1 to 9).map { d =>
        val e = s"(CAST($nExpr AS DOUBLE) * ${dlit(BenfordP(d - 1))})"
        s"((CAST(c$d AS DOUBLE) - $e) * (CAST(c$d AS DOUBLE) - $e) / $e)"
      }.mkString("\n      + ")
      val shareCase = (1 to 9).map(d =>
        s"WHEN ${d} THEN ${dlit(BenfordP(d - 1))}").mkString(" ")
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |          AS BIGINT) AS c FROM orders)
         |  WHERE c > 0
         |), cells AS (
         |  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
         |), m AS (
         |  SELECT
         |        $cs
         |  FROM cells
         |), s AS (
         |  SELECT $nExpr AS n_total,
         |    floor(($chi2) * 1000000 + 0.5) / 1000000 AS chi2
         |  FROM m
         |)
         |SELECT cells.digit, cells.n_obs, s.n_total,
         |  CAST(cells.n_obs AS DOUBLE) / CAST(s.n_total AS DOUBLE) AS obs_share,
         |  CASE cells.digit $shareCase END AS benford_share,
         |  s.chi2
         |FROM cells, s""".stripMargin
    },
    "stats_bootstrap" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'
        |), rep AS (
        |  SELECT ev.event_id, ev.c, b.b,
        |    CAST(CAST('0x' || substr(md5(CAST(ev.event_id AS VARCHAR) || ':'
        |        || CAST(b.b AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS u
        |  FROM ev CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
        |), wt AS (
        |  SELECT b, c,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS w
        |  FROM rep
        |)
        |SELECT CAST(b AS INT) AS b, CAST(sum(w) AS BIGINT) AS n_b,
        |  CASE WHEN sum(w) > 0 THEN
        |    (CAST(CAST(sum(w * c) AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE)) / 100.0
        |  END AS boot_mean
        |FROM wt GROUP BY b""".stripMargin,
    "stats_welch_t" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END) AS BIGINT) AS q_a,
        |    CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN event_type <> 'click' THEN c ELSE 0 END) AS BIGINT) AS s_b,
        |    CAST(sum(CASE WHEN event_type <> 'click' THEN c * c ELSE 0 END) AS BIGINT) AS q_b
        |  FROM ev
        |), d AS (
        |  SELECT n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa,
        |    CAST(q_a AS DOUBLE) AS qa,
        |    CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb,
        |    CAST(q_b AS DOUBLE) AS qb
        |  FROM m
        |), v AS (
        |  SELECT n_a, n_b, na, sa, nb, sb,
        |    ((qa - (sa * sa) / na) / (na - 1)) / na AS sea,
        |    ((qb - (sb * sb) / nb) / (nb - 1)) / nb AS seb
        |  FROM d
        |)
        |SELECT n_a, n_b,
        |  floor(((sa / na) / 100.0) * 1000000 + 0.5) / 1000000 AS mean_a,
        |  floor(((sb / nb) / 100.0) * 1000000 + 0.5) / 1000000 AS mean_b,
        |  floor(((sa / na - sb / nb) / sqrt(sea + seb)) * 1000000 + 0.5)
        |    / 1000000 AS t_stat,
        |  floor((((sea + seb) * (sea + seb)) /
        |      ((sea * sea) / (na - 1) + (seb * seb) / (nb - 1)))
        |    * 1000000 + 0.5) / 1000000 AS df
        |FROM v""".stripMargin,
    "stats_anova_f" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |), m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN c ELSE 0 END) AS BIGINT) AS s_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS s_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN c ELSE 0 END) AS BIGINT) AS s_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN c ELSE 0 END) AS BIGINT) AS s_view,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END) AS BIGINT) AS q_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN c * c ELSE 0 END) AS BIGINT) AS q_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN c * c ELSE 0 END) AS BIGINT) AS q_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN c * c ELSE 0 END) AS BIGINT) AS q_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN c * c ELSE 0 END) AS BIGINT) AS q_view
        |  FROM ev
        |), d AS (
        |  SELECT
        |    n_click + n_error + n_purchase + n_signup + n_view AS n_total,
        |    CAST(n_click + n_error + n_purchase + n_signup + n_view AS DOUBLE) AS nd,
        |    CAST(s_click + s_error + s_purchase + s_signup + s_view AS DOUBLE) AS sd,
        |    CAST(q_click + q_error + q_purchase + q_signup + q_view AS DOUBLE) AS qd,
        |    (CAST(s_click AS DOUBLE) * CAST(s_click AS DOUBLE)) / CAST(n_click AS DOUBLE)
        |    + (CAST(s_error AS DOUBLE) * CAST(s_error AS DOUBLE)) / CAST(n_error AS DOUBLE)
        |    + (CAST(s_purchase AS DOUBLE) * CAST(s_purchase AS DOUBLE)) / CAST(n_purchase AS DOUBLE)
        |    + (CAST(s_signup AS DOUBLE) * CAST(s_signup AS DOUBLE)) / CAST(n_signup AS DOUBLE)
        |    + (CAST(s_view AS DOUBLE) * CAST(s_view AS DOUBLE)) / CAST(n_view AS DOUBLE)
        |      AS between_term
        |  FROM m
        |), f AS (
        |  SELECT n_total,
        |    between_term - (sd * sd) / nd AS ssb,
        |    qd - between_term AS ssw, nd
        |  FROM d
        |)
        |SELECT n_total, 5 AS k_groups,
        |  floor(((ssb / 4.0) / (ssw / (nd - 5.0))) * 1000000 + 0.5)
        |    / 1000000 AS f_stat,
        |  floor((ssb / (ssb + ssw)) * 1000000 + 0.5) / 1000000 AS eta_sq
        |FROM f""".stripMargin,
    "stats_levene" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 2 AS c2
        |  FROM events
        |  WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |), hist AS (
        |  SELECT event_type, c2, count(*) AS cnt FROM ev GROUP BY 1, 2
        |), hc AS (
        |  SELECT event_type, c2, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c2) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM hist
        |), med AS (
        |  SELECT event_type,
        |    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN c2 END) +
        |         min(CASE WHEN cum >= n // 2 + 1 THEN c2 END) AS BIGINT)
        |      AS med4
        |  FROM hc GROUP BY 1
        |), z AS (
        |  SELECT ev.event_type, abs(ev.c2 * 2 - m.med4) AS z
        |  FROM ev JOIN med m USING (event_type)
        |), mom AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN z ELSE 0 END) AS BIGINT) AS s_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN z ELSE 0 END) AS BIGINT) AS s_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN z ELSE 0 END) AS BIGINT) AS s_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN z ELSE 0 END) AS BIGINT) AS s_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN z ELSE 0 END) AS BIGINT) AS s_view,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN z * z ELSE 0 END) AS BIGINT) AS q_click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN z * z ELSE 0 END) AS BIGINT) AS q_error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN z * z ELSE 0 END) AS BIGINT) AS q_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN z * z ELSE 0 END) AS BIGINT) AS q_signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN z * z ELSE 0 END) AS BIGINT) AS q_view
        |  FROM z
        |), d AS (
        |  SELECT
        |    n_click + n_error + n_purchase + n_signup + n_view AS n_total,
        |    CAST(n_click + n_error + n_purchase + n_signup + n_view AS DOUBLE) AS nd,
        |    CAST(s_click + s_error + s_purchase + s_signup + s_view AS DOUBLE) AS sd,
        |    CAST(q_click + q_error + q_purchase + q_signup + q_view AS DOUBLE) AS qd,
        |    (CAST(s_click AS DOUBLE) * CAST(s_click AS DOUBLE)) / CAST(n_click AS DOUBLE)
        |    + (CAST(s_error AS DOUBLE) * CAST(s_error AS DOUBLE)) / CAST(n_error AS DOUBLE)
        |    + (CAST(s_purchase AS DOUBLE) * CAST(s_purchase AS DOUBLE)) / CAST(n_purchase AS DOUBLE)
        |    + (CAST(s_signup AS DOUBLE) * CAST(s_signup AS DOUBLE)) / CAST(n_signup AS DOUBLE)
        |    + (CAST(s_view AS DOUBLE) * CAST(s_view AS DOUBLE)) / CAST(n_view AS DOUBLE)
        |      AS between_term
        |  FROM mom
        |), f AS (
        |  SELECT n_total,
        |    between_term - (sd * sd) / nd AS ssb,
        |    qd - between_term AS ssw, nd
        |  FROM d
        |)
        |SELECT n_total, 5 AS k_groups,
        |  floor(((ssb / 4.0) / (ssw / (nd - 5.0))) * 1000000 + 0.5)
        |    / 1000000 AS levene_w
        |FROM f""".stripMargin,
    "stats_mannwhitney" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')
        |), tt AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cnt_a,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cnt_b
        |  FROM ev GROUP BY 1
        |), cum AS (
        |  SELECT cnt_a, cnt_b, cnt_a + cnt_b AS t,
        |    sum(cnt_a + cnt_b) OVER (ORDER BY value) AS below_plus_t
        |  FROM tt
        |), n AS (
        |  SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM tt
        |), agg AS (
        |  SELECT
        |    sum(cnt_a * ((below_plus_t - t) * 2 + t + 1)) AS r2_sum_a,
        |    sum(t * t * t - t) AS tie_term
        |  FROM cum
        |)
        |SELECT CAST(n.n_a AS BIGINT) AS n_a, CAST(n.n_b AS BIGINT) AS n_b,
        |  CAST(agg.r2_sum_a - n.n_a * (n.n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
        |  floor(((CAST(agg.r2_sum_a - n.n_a * (n.n_a + 1) AS DOUBLE) / 2.0
        |      - CAST(n.n_a AS DOUBLE) * CAST(n.n_b AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n.n_a AS DOUBLE) * CAST(n.n_b AS DOUBLE) / 12.0 *
        |        (CAST(n.n_a + n.n_b + 1 AS DOUBLE)
        |          - CAST(agg.tie_term AS DOUBLE) /
        |            (CAST(n.n_a + n.n_b AS DOUBLE) * CAST(n.n_a + n.n_b - 1 AS DOUBLE)))))
        |    * 1000000 + 0.5) / 1000000 AS z_score
        |FROM agg, n""".stripMargin,
    "stats_mann_kendall" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), cells AS (
        |  SELECT event_type, d, CAST(sum(c) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM ev GROUP BY 1, 2
        |), s AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.sd * a.nd > a.sd * b.nd THEN 1
        |                  WHEN b.sd * a.nd < a.sd * b.nd THEN -1
        |                  ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM cells a JOIN cells b
        |    ON a.event_type = b.event_type AND a.d < b.d
        |  GROUP BY 1
        |), ties AS (
        |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT event_type,
        |          CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE) AS m,
        |          CAST(count(*) AS BIGINT) AS t
        |        FROM cells GROUP BY 1, 2)
        |  GROUP BY 1
        |), v AS (
        |  SELECT s.event_type, ties.n_days, s.s_stat,
        |    ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5)
        |      - ties.tie_term AS var_num
        |  FROM s JOIN ties USING (event_type)
        |)
        |SELECT event_type, n_days, s_stat, var_num,
        |  floor((CASE
        |    WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |    ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS z_score
        |FROM v""".stripMargin,
    // Theil–Sen: pairwise slopes between daily means over the bounded
    // cell table, median by partitioned rank — identical IEEE op order
    "stats_theil_sen" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), cells AS (
        |  SELECT event_type, d,
        |    CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |  FROM ev GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.event_type, a.d AS di, b.d AS dj,
        |    (b.m - a.m) / CAST(b.d - a.d AS DOUBLE) AS slope
        |  FROM cells a JOIN cells b
        |    ON a.event_type = b.event_type AND a.d < b.d
        |), ranked AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (
        |      PARTITION BY event_type ORDER BY slope, di, dj) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_pairs
        |  FROM pairs
        |)
        |SELECT event_type, max(n_pairs) AS n_pairs,
        |  floor((sum(slope) / count(*)) * 1000000 + 0.5) / 1000000
        |    AS sen_slope_cents_per_day
        |FROM ranked
        |WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2
        |GROUP BY event_type""".stripMargin,
    // Kendall τ-b: exact integer concordance counts over the bounded
    // matched-day pair table, one mirrored double expression
    "stats_kendall_tau" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS sv
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT x.d, x.sv AS x, y.sv AS y
        |  FROM (SELECT d, sv FROM daily WHERE event_type = 'click') x
        |  JOIN (SELECT d, sv FROM daily WHERE event_type = 'view') y
        |    USING (d)
        |), cnt AS (
        |  SELECT count(*) AS n_pairs,
        |    CAST(sum(CASE WHEN (a.x > b.x AND a.y > b.y)
        |               OR (a.x < b.x AND a.y < b.y) THEN 1
        |             ELSE 0 END) AS BIGINT) AS concordant,
        |    CAST(sum(CASE WHEN (a.x > b.x AND a.y < b.y)
        |               OR (a.x < b.x AND a.y > b.y) THEN 1
        |             ELSE 0 END) AS BIGINT) AS discordant,
        |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_x,
        |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_y
        |  FROM m a JOIN m b ON a.d < b.d
        |)
        |SELECT n_pairs, concordant, discordant, ties_x, ties_y,
        |  floor((CAST(concordant - discordant AS DOUBLE)
        |    / (sqrt(CAST(n_pairs - ties_x AS DOUBLE))
        |       * sqrt(CAST(n_pairs - ties_y AS DOUBLE))))
        |    * 1000000 + 0.5) / 1000000 AS tau_b
        |FROM cnt""".stripMargin,
    // ccf: exact HUGEINT daily-total moments per lag, one double corr
    // expression mirroring the Spark op order
    "stats_ccf" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS HUGEINT) AS sv
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2
        |), x AS (
        |  SELECT d AS dx, sv AS xv FROM daily WHERE event_type = 'click'
        |), y AS (
        |  SELECT d AS dy, sv AS yv FROM daily WHERE event_type = 'view'
        |), lags AS (
        |  SELECT unnest(range(-5, 6)) AS k
        |), m AS (
        |  SELECT k, count(*) AS n_days,
        |    sum(xv) AS sx, sum(yv) AS sy,
        |    sum(xv * yv) AS sxy, sum(xv * xv) AS sxx, sum(yv * yv) AS syy
        |  FROM x CROSS JOIN lags JOIN y ON dx + k = dy
        |  GROUP BY k
        |)
        |SELECT k, n_days,
        |  floor((CAST(n_days * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE))))
        |    * 1000000 + 0.5) / 1000000 AS ccf
        |FROM m""".stripMargin,
    "stats_kaplan_meier" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM p),
        |users AS (
        |  SELECT
        |    CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
        |      AS dur,
        |    CASE WHEN (SELECT mxd FROM mx) - max(CAST(ts AS DATE)) > 3
        |      THEN 1 ELSE 0 END AS death
        |  FROM p GROUP BY user_id
        |), cells AS (
        |  SELECT dur, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(sum(death) AS BIGINT) AS d_at
        |  FROM users GROUP BY 1
        |), r AS (
        |  SELECT dur, n_at, d_at,
        |    CAST(sum(n_at) OVER (ORDER BY dur DESC) AS BIGINT) AS n_risk
        |  FROM cells
        |), t AS (
        |  SELECT dur, n_risk, d_at,
        |    CAST(floor(ln(CAST(n_risk - d_at AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      AS lnq_term
        |  FROM r WHERE d_at > 0 AND n_risk > d_at
        |)
        |SELECT dur AS t_days, n_risk, d_at,
        |  floor((CAST(CAST(sum(lnq_term) OVER (ORDER BY dur) AS BIGINT)
        |      AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000
        |    AS log_survival
        |FROM t""".stripMargin,
    "stats_changepoint" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |), cells AS (
        |  SELECT event_type, d, CAST(sum(c) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM ev GROUP BY 1, 2
        |), dev AS (
        |  SELECT event_type, d,
        |    CAST(sum(sd) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
        |        * CAST(sum(nd) OVER (PARTITION BY event_type) AS BIGINT)
        |      - CAST(sum(sd) OVER (PARTITION BY event_type) AS BIGINT)
        |        * CAST(sum(nd) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
        |      AS cprime,
        |    CAST(sum(nd) OVER (PARTITION BY event_type) AS BIGINT) AS n_all
        |  FROM cells
        |), r AS (
        |  SELECT event_type, d, abs(cprime) AS a, n_all,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cprime) DESC, d) AS rk
        |  FROM dev
        |)
        |SELECT event_type, d AS change_day, a AS cusum_scaled,
        |  floor((CAST(a AS DOUBLE) / (CAST(n_all AS DOUBLE) * 100.0))
        |    * 1000000 + 0.5) / 1000000 AS max_dev_dollars
        |FROM r WHERE rk = 1""".stripMargin,
    "stats_kruskal" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')
        |), tt AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cnt0,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cnt1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cnt2
        |  FROM ev GROUP BY 1
        |), cum AS (
        |  SELECT cnt0, cnt1, cnt2, cnt0 + cnt1 + cnt2 AS t,
        |    sum(cnt0 + cnt1 + cnt2) OVER (ORDER BY value) AS cum_all
        |  FROM tt
        |), n AS (
        |  SELECT CAST(sum(cnt0) AS BIGINT) AS n0,
        |    CAST(sum(cnt1) AS BIGINT) AS n1,
        |    CAST(sum(cnt2) AS BIGINT) AS n2,
        |    CAST(sum(cnt0) + sum(cnt1) + sum(cnt2) AS BIGINT) AS nn
        |  FROM tt
        |), agg AS (
        |  SELECT
        |    sum(cnt0 * ((cum_all - t) * 2 + t + 1)) AS r2s0,
        |    sum(cnt1 * ((cum_all - t) * 2 + t + 1)) AS r2s1,
        |    sum(cnt2 * ((cum_all - t) * 2 + t + 1)) AS r2s2,
        |    sum(t * t * t - t) AS tie_term
        |  FROM cum
        |), h AS (
        |  SELECT n.n0, n.n1, n.n2,
        |    12.0 / (CAST(n.nn AS DOUBLE) * (CAST(n.nn AS DOUBLE) + 1.0)) *
        |      ((CAST(agg.r2s0 AS DOUBLE) / 2.0) * (CAST(agg.r2s0 AS DOUBLE) / 2.0)
        |          / CAST(n.n0 AS DOUBLE)
        |        + (CAST(agg.r2s1 AS DOUBLE) / 2.0) * (CAST(agg.r2s1 AS DOUBLE) / 2.0)
        |          / CAST(n.n1 AS DOUBLE)
        |        + (CAST(agg.r2s2 AS DOUBLE) / 2.0) * (CAST(agg.r2s2 AS DOUBLE) / 2.0)
        |          / CAST(n.n2 AS DOUBLE))
        |      - 3.0 * (CAST(n.nn AS DOUBLE) + 1.0) AS h_raw,
        |    1.0 - CAST(agg.tie_term AS DOUBLE)
        |      / (CAST(n.nn AS DOUBLE) * CAST(n.nn AS DOUBLE) * CAST(n.nn AS DOUBLE)
        |         - CAST(n.nn AS DOUBLE)) AS corr
        |  FROM agg, n
        |)
        |SELECT n0 AS n_click, n1 AS n_view, n2 AS n_purchase,
        |  floor(h_raw * 1000000 + 0.5) / 1000000 AS h,
        |  floor((h_raw / corr) * 1000000 + 0.5) / 1000000 AS h_corrected
        |FROM h""".stripMargin,
    "stats_ks_test" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')
        |), tt AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cnt_a,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cnt_b
        |  FROM ev GROUP BY 1
        |), cum AS (
        |  SELECT
        |    sum(cnt_a) OVER (ORDER BY value) AS cum_a,
        |    sum(cnt_b) OVER (ORDER BY value) AS cum_b
        |  FROM tt
        |), n AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM tt)
        |SELECT CAST(n.n_a AS BIGINT) AS n_a, CAST(n.n_b AS BIGINT) AS n_b,
        |  floor((CAST(max(abs(cum.cum_a * n.n_b - cum.cum_b * n.n_a)) AS DOUBLE)
        |      / (CAST(n.n_a AS DOUBLE) * CAST(n.n_b AS DOUBLE)))
        |    * 1000000 + 0.5) / 1000000 AS ks_d
        |FROM cum, n
        |GROUP BY n.n_a, n.n_b""".stripMargin
  )
}
