package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-series statistical tests (SURVEY §5.2, §2.9): ADF stationarity
  * t-statistic and Ljung-Box Q — the reference runs statsmodels
  * `adfuller` / `acorr_ljungbox` per ticker
  * (/root/reference/src/data/preprocessing.py:273-285,
  * /root/reference/src/model/metrics_visualizer.py:177-191).
  *
  * Hand-rolled OLS (no external deps): ADF regression with constant,
  * zero augmentation lags:  Δy_t = α + β·y_{t-1} + ε_t ; the reported
  * statistic is t(β) = β/se(β). Ljung-Box on the raw series with h lags:
  * Q = n(n+2) Σ_{k=1..h} ρ_k²/(n−k).
  *
  * The production path is [[adfLjungBoxAgg]]: one window pass + one
  * groupBy over closed-form moments, O(h) aggregate state per key — never
  * the series itself, so a pathological key cannot pressure an executor at
  * 100 TB. The array-based [[adfT]]/[[ljungBoxQ]] are the pure reference
  * implementations; the spec cross-checks the agg form against a typed
  * per-series fold of them (SeriesStatsSpec), which is deliberately NOT a
  * production path (it materializes each series).
  */
object SeriesStats {

  /** ADF t-stat (constant, no augmentation) on y. */
  def adfT(y: Array[Double]): Double = {
    val n = y.length - 1
    if (n < 3) return Double.NaN
    val x  = new Array[Double](n) // y_{t-1}
    val dy = new Array[Double](n) // Δy_t
    var i = 0
    while (i < n) { x(i) = y(i); dy(i) = y(i + 1) - y(i); i += 1 }
    val mx = x.sum / n
    val my = dy.sum / n
    var sxx = 0.0; var sxy = 0.0
    i = 0
    while (i < n) { val dx = x(i) - mx; sxx += dx * dx; sxy += dx * (dy(i) - my); i += 1 }
    if (sxx == 0.0) return Double.NaN
    val beta  = sxy / sxx
    val alpha = my - beta * mx
    var sse = 0.0
    i = 0
    while (i < n) { val e = dy(i) - alpha - beta * x(i); sse += e * e; i += 1 }
    val dof = n - 2
    if (dof <= 0) return Double.NaN
    val seBeta = math.sqrt(sse / dof / sxx)
    beta / seBeta
  }

  /** Ljung-Box Q over h lags of y. */
  def ljungBoxQ(y: Array[Double], h: Int): Double = {
    val n = y.length
    if (n <= h + 1) return Double.NaN
    val m = y.sum / n
    var c0 = 0.0
    var i = 0
    while (i < n) { val d = y(i) - m; c0 += d * d; i += 1 }
    if (c0 == 0.0) return Double.NaN
    var q = 0.0
    var k = 1
    while (k <= h) {
      var ck = 0.0
      i = k
      while (i < n) { ck += (y(i) - m) * (y(i - k) - m); i += 1 }
      val rho = ck / c0
      q += rho * rho / (n - k)
      k += 1
    }
    n.toDouble * (n + 2) * q
  }

  private val Dec2 = DecimalType(18, 2)

  /** Per series (user_id, in (ts, event_id) order) the exact moments both
    * [[adfLjungBoxAgg]] and [[acfPacf]] start from: n, Σy, Σy², and per
    * lag k ≤ h the pair count cntₖ, Σy·y₋ₖ and the tail sums saₖ, sbₖ,
    * then the `extra` aggregates over the same lagged rows. The products
    * take Num's cents-LONG form, rescaled to the DECIMAL(28,4) sums of
    * the oracle ([[lagMomentsSql]]), so the doubles are the same; a value
    * past 3·10⁷ raises, naming `what`. Checking Σy² suffices, since
    * |Σy·y₋ₖ| ≤ Σy² (Cauchy–Schwarz) and a |y₋ₖ| is some |y|. */
  private def lagMoments(events: DataFrame, h: Int, what: String,
      extra: Column*): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagged = events.select((Seq(col("user_id"), col("ts"), col("event_id"),
      col("value")) ++ (1 to h).map(k => lag(col("value"), k).over(w).as(s"x$k"))): _*)
    val yd = col("value").cast(Dec2)
    val yc = graft.Num.cents(col("value"))
    def prod(c: Column) =
      graft.Num.fromCents2(graft.Num.sumCentsProd(yc, c)).cast("double")
    val perK = (1 to h).flatMap { k =>
      val xk = col(s"x$k")
      Seq(count(xk).as(s"cnt$k"),
        prod(graft.Num.cents(xk)).as(s"sxy$k"),
        sum(when(xk.isNotNull, yd)).cast("double").as(s"sa$k"),
        sum(xk.cast(Dec2)).cast("double").as(s"sb$k"))
    }
    val g = lagged.groupBy(col("user_id")).agg(count(lit(1)).as("n"),
      (Seq(sum(yd).cast("double").as("sy"), prod(yc).as("syy")) ++ perK ++ extra): _*)
    graft.Num.exactOrRaise(g, what, col("n"), col("syy"))
  }

  private val YdSql = "CAST(value AS DECIMAL(18,2))"
  private def xdSql(k: Int) = s"CAST(x$k AS DECIMAL(18,2))"

  /** The DuckDB twin of [[lagMoments]], shared by both oracles: the
    * lagged CTE and the per-series select up to the last lag's moments. */
  private def lagMomentsSql(h: Int): String = {
    val lagCols = (1 to h).map(k => s"lag(value, $k) OVER w AS x$k").mkString(",\n    ")
    val yd = YdSql
    val perK = (1 to h).map { k =>
      s"""    count(x$k) AS cnt$k,
         |    CAST(sum(CAST($yd * ${xdSql(k)} AS DECIMAL(28,4))) AS DOUBLE) AS sxy$k,
         |    CAST(sum(CASE WHEN x$k IS NOT NULL THEN $yd END) AS DOUBLE) AS sa$k,
         |    CAST(sum(${xdSql(k)}) AS DOUBLE) AS sb$k""".stripMargin
    }.mkString(",\n")
    s"""WITH lagged AS (
       |  SELECT user_id, value,
       |    $lagCols
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), g AS (
       |  SELECT user_id,
       |    count(*) AS n,
       |    CAST(sum($yd) AS DOUBLE) AS sy,
       |    CAST(sum(CAST($yd * $yd AS DECIMAL(28,4))) AS DOUBLE) AS syy,
       |$perK""".stripMargin
  }

  /** Declarative (agg-expression) formulation of the SAME statistics,
    * derived from EXACT decimal raw moments so the result is bit-identical
    * at any partition count AND cross-engine (the oracle-parity pattern of
    * `graft.Num.decSum`):
    *
    *  - every raw moment (Σy, Σy², Σy·y₋ₖ, lag tail-sums) is an exact
    *    DECIMAL sum of 2-decimal inputs — associative, so shuffle order
    *    can't drift it;
    *  - ADF t and Ljung-Box Q are then closed-form double arithmetic over
    *    those moments, written with the same expression shape as the
    *    DuckDB oracle (`oracleSql` below), so both engines execute the
    *    identical IEEE operation sequence.
    *
    * ADF via scaled centered moments: A = nΣx²−(Σx)², B = nΣx·Δy−ΣxΣΔy,
    * C = nΣΔy²−(ΣΔy)²; β = B/A; t = β / sqrt((C−βB)/(n−2)/A).
    * Ljung-Box: cₖ = Σyᵢyᵢ₋ₖ − m(Σᵢ≥ₖyᵢ + Σᵢ≤ₙ₋ₖyᵢ) + (n−k)m²,
    * Q = n(n+2)·Σₖ ρₖ²/(n−k) with ρₖ = cₖ/c₀.
    *
    * One window pass (h lag columns) + one groupBy — the scale-preferred
    * (and only production) path; the array-based reference fold lives in
    * SeriesStatsSpec (`SeriesStatsRef`) as its cross-check.
    */
  def adfLjungBoxAgg(events: DataFrame, h: Int = 10): DataFrame = {
    val dec4 = DecimalType(28, 4)
    val yd = col("value").cast(Dec2)
    val x1d = col("x1").cast(Dec2)
    val dyd = yd - x1d // exact; null (excluded) on the first row of a series
    val g = lagMoments(events, h, "adfLjungBoxAgg",
      count(col("x1")).as("np"),
      sum(x1d).cast("double").as("adf_sx"),
      sum(dyd).cast("double").as("adf_sdy"),
      sum((x1d * x1d).cast(dec4)).cast("double").as("adf_sxx"),
      sum((x1d * dyd).cast(dec4)).cast("double").as("adf_sxdy"),
      sum((dyd * dyd).cast(dec4)).cast("double").as("adf_sdydy"))

    val m = col("sy") / col("n")
    val c0 = col("syy") - col("sy") * m
    val qSum = (1 to h).map { k =>
      val ck = col(s"sxy$k") - m * (col(s"sa$k") + col(s"sb$k")) +
        col(s"cnt$k") * m * m
      val rho = ck / c0
      rho * rho / col(s"cnt$k")
    }.reduceLeft(_ + _)
    val lbQ = col("n") * (col("n") + lit(2)) * qSum
    val aA = col("np") * col("adf_sxx") - col("adf_sx") * col("adf_sx")
    val bB = col("np") * col("adf_sxdy") - col("adf_sx") * col("adf_sdy")
    val cC = col("np") * col("adf_sdydy") - col("adf_sdy") * col("adf_sdy")
    val beta = bB / aA
    val adfT = beta / sqrt((cC - beta * bB) / (col("np") - lit(2)) / aA)
    g.select(col("user_id"), col("n"),
      graft.Num.r6(m).as("mean"),
      graft.Num.r6(adfT).as("adf_t"),
      graft.Num.r6(lbQ).as("ljung_box_q"))
  }

  /** DuckDB oracle for [[adfLjungBoxAgg]] — generated from the same `h` so
    * the lag expressions can never drift from the Spark side. */
  def adfLjungBoxOracle(h: Int = 10): String = {
    val yd = YdSql
    def xd(k: Int) = xdSql(k)
    val qTerms = (1 to h).map { k =>
      s"(((sxy$k - m * (sa$k + sb$k) + cnt$k * m * m) / c0) * " +
        s"((sxy$k - m * (sa$k + sb$k) + cnt$k * m * m) / c0)) / cnt$k"
    }.mkString("\n      + ")
    s"""${lagMomentsSql(h)},
       |    count(x1) AS np,
       |    CAST(sum(${xd(1)}) AS DOUBLE) AS adf_sx,
       |    CAST(sum($yd - ${xd(1)}) AS DOUBLE) AS adf_sdy,
       |    CAST(sum(CAST(${xd(1)} * ${xd(1)} AS DECIMAL(28,4))) AS DOUBLE) AS adf_sxx,
       |    CAST(sum(CAST(${xd(1)} * ($yd - ${xd(1)}) AS DECIMAL(28,4))) AS DOUBLE) AS adf_sxdy,
       |    CAST(sum(CAST(($yd - ${xd(1)}) * ($yd - ${xd(1)}) AS DECIMAL(28,4))) AS DOUBLE) AS adf_sdydy
       |  FROM lagged GROUP BY user_id
       |), p AS (
       |  SELECT *, sy / n AS m,
       |    np * adf_sxx - adf_sx * adf_sx AS aa,
       |    np * adf_sxdy - adf_sx * adf_sdy AS bb,
       |    np * adf_sdydy - adf_sdy * adf_sdy AS cc
       |  FROM g
       |), p2 AS (
       |  SELECT *, syy - sy * m AS c0, bb / aa AS beta FROM p
       |)
       |SELECT user_id, n,
       |  floor(m * 1000000 + 0.5) / 1000000 AS mean,
       |  floor((beta / sqrt((cc - beta * bb) / (np - 2) / aa)) * 1000000 + 0.5) / 1000000 AS adf_t,
       |  floor((n * (n + 2) * ($qTerms)) * 1000000 + 0.5) / 1000000 AS ljung_box_q
       |FROM p2""".stripMargin
  }

  case class AcfPacfRow(user_id: Long, n: Long, lag: Int,
      acf: Option[Double], pacf: Option[Double])

  /** PACF via Durbin–Levinson from ACF values ρ₁..ρ_h. Plain double
    * arithmetic whose operation SEQUENCE (ascending-j accumulation,
    * subtract, divide) is mirrored token-for-token by the generated SQL in
    * [[acfPacfOracle]], so on bit-identical ρ inputs both engines produce
    * bit-identical PACF values. */
  def durbinLevinson(rho: Array[Double]): Array[Double] = {
    val h = rho.length
    val pacf = new Array[Double](h)
    if (h == 0) return pacf
    val prev = new Array[Double](h + 1)
    val cur = new Array[Double](h + 1)
    prev(1) = rho(0)
    pacf(0) = rho(0)
    var k = 2
    while (k <= h) {
      var num = 0.0
      var den = 0.0
      var j = 1
      while (j < k) {
        num += prev(j) * rho(k - 1 - j) // Σ φ_{k-1,j}·ρ_{k-j}
        den += prev(j) * rho(j - 1)     // Σ φ_{k-1,j}·ρ_j
        j += 1
      }
      val pk = (rho(k - 1) - num) / (1.0 - den)
      j = 1
      while (j < k) { cur(j) = prev(j) - pk * prev(k - j); j += 1 }
      cur(k) = pk
      System.arraycopy(cur, 0, prev, 0, k + 1)
      pacf(k - 1) = pk
      k += 1
    }
    pacf
  }

  /** Multi-lag ACF (lags 1..h) + PACF (Durbin–Levinson) per series —
    * the engine counterpart of the reference's plot_acf/plot_pacf panels
    * (/root/reference/src/data/visualize.py:122-131).
    *
    * ACF ρ_k = c_k/c₀ from the same EXACT decimal raw moments as
    * [[adfLjungBoxAgg]] (c_k = Σy·y₋ₖ − m(Σᵢ≥ₖy + Σᵢ≤ₙ₋ₖy) + n_k·m²), so
    * the ρ inputs are bit-deterministic at any partition count and across
    * engines; the PACF recursion then runs per key in a typed flatMap —
    * O(h²) doubles per key, NOT O(series) memory. One window pass + one
    * groupBy, long-form output (user_id, n, lag, acf, pacf). */
  def acfPacf(events: DataFrame, h: Int = 10): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val g = lagMoments(events, h, "acfPacf")

    val m = col("sy") / col("n")
    val c0 = col("syy") - col("sy") * m
    val rhoCols = (1 to h).map { k =>
      val ck = col(s"sxy$k") - m * (col(s"sa$k") + col(s"sb$k")) +
        col(s"cnt$k") * m * m
      (ck / c0).as(s"rho$k")
    }
    g.select((col("user_id") +: col("n") +: rhoCols): _*)
      .select(col("user_id"), col("n"),
        array((1 to h).map(k => col(s"rho$k")): _*).as("rho"))
      .as[(Long, Long, Seq[Option[Double]])]
      .flatMap { case (uid, n, rhoSeq) =>
        // rho_k is NULL for degenerate series (n ≤ k leaves no lag-k pairs;
        // zero variance divides by c0 = 0 → NULL in both engines). The
        // defined values form a prefix (pair counts shrink with k); PACF
        // runs Durbin–Levinson over that prefix and is NULL past it —
        // exactly the oracle's NULL propagation through the φ CTE chain.
        val defined = rhoSeq.takeWhile(_.isDefined).map(_.get).toArray
        val p = durbinLevinson(defined)
        (1 to h).iterator.map { k =>
          if (k <= defined.length)
            AcfPacfRow(uid, n, k, Some(defined(k - 1)), Some(p(k - 1)))
          else AcfPacfRow(uid, n, k, rhoSeq(k - 1), None)
        }
      }
      .toDF()
      .select(col("user_id"), col("n"), col("lag"),
        graft.Num.r6(col("acf")).as("acf"),
        graft.Num.r6(col("pacf")).as("pacf"))
  }

  /** DuckDB oracle for [[acfPacf]] — generated from the same `h`, with the
    * Durbin–Levinson recursion unrolled as a CTE chain whose expression
    * shapes replay [[durbinLevinson]]'s operation order exactly. */
  def acfPacfOracle(h: Int = 10): String = {
    val rhoSel = (1 to h).map { k =>
      s"(sxy$k - m * (sa$k + sb$k) + cnt$k * m * m) / c0 AS rho$k"
    }.mkString(",\n    ")
    // Durbin–Levinson unroll: per level k, one CTE for φ_k_k (needs the
    // previous level), then one for φ_k_j (needs φ_k_k).
    val dl = new StringBuilder("d1 AS (SELECT *, rho1 AS phi_1_1 FROM rho)")
    for (k <- 2 to h) {
      val num = (1 until k).map(j => s"phi_${k - 1}_$j * rho${k - j}").mkString(" + ")
      val den = (1 until k).map(j => s"phi_${k - 1}_$j * rho$j").mkString(" + ")
      dl.append(
        s""",
           |d${k}a AS (SELECT *, (rho$k - ($num)) / (1 - ($den)) AS phi_${k}_$k
           |  FROM d${k - 1}),
           |d$k AS (SELECT *,
           |  ${(1 until k).map(j => s"phi_${k - 1}_$j - phi_${k}_$k * phi_${k - 1}_${k - j} AS phi_${k}_$j").mkString(",\n  ")}
           |  FROM d${k}a)""".stripMargin)
    }
    val unions = (1 to h).map { k =>
      s"""SELECT user_id, n, $k AS lag,
         |  floor(rho$k * 1000000 + 0.5) / 1000000 AS acf,
         |  floor(phi_${k}_$k * 1000000 + 0.5) / 1000000 AS pacf
         |FROM d$h""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${lagMomentsSql(h)}
       |  FROM lagged GROUP BY user_id
       |), p AS (
       |  SELECT *, sy / n AS m FROM g
       |), p2 AS (
       |  SELECT *, syy - sy * m AS c0 FROM p
       |), rho AS (
       |  SELECT user_id, n,
       |    $rhoSel
       |  FROM p2
       |), $dl
       |$unions""".stripMargin
  }

}
