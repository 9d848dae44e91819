package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact-moment vocabulary of [[Num]]: sums of products and centred
  * terms equal BigInt arithmetic, and [[Num.exactOrRaise]] turns every
  * overflow (a NULL under the ANSI-off session) into an error naming its
  * site, while an empty aggregate keeps its NULL moments. */
class NumSpec extends SparkSuite {
  import spark.implicits._

  private val big = BigInt(1) << 62

  /** (n, Σa, Σb, Σab, n·Σab − Σa·Σb) of `rows` through the Num helpers,
    * checked by exactOrRaise under `label`. */
  private def moments(rows: Seq[(Long, Long)], label: String): DataFrame = {
    val m = rows.toDF("a", "b")
      .agg(count(lit(1)).as("n"),
        sum(col("a").cast(Num.Exact)).as("sa"),
        sum(col("b").cast(Num.Exact)).as("sb"),
        Num.sumProd(col("a"), col("b")).as("sab"))
      .withColumn("c", Num.centred(col("n"), col("sab"), col("sa"), col("sb")))
    Num.exactOrRaise(m, label, col("n"), col("sab"), col("c"))
  }

  private def raised(df: DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
  }

  private def bigInt(v: Any): BigInt = BigInt(v.asInstanceOf[java.math.BigDecimal]
    .toBigIntegerExact)

  test("sumProd and centred equal BigInt arithmetic near |x| = 2^62") {
    val rows = Seq((big - 3, -(big - 11)), (big / 2 + 5, big - 7), (big / 2 + 9, BigInt(13)))
      .map { case (a, b) => (a.toLong, b.toLong) }
    val r = moments(rows, "near-2^62").head()
    val (as, bs) = (rows.map(p => BigInt(p._1)), rows.map(p => BigInt(p._2)))
    val sab = as.zip(bs).map { case (a, b) => a * b }.sum
    assert(r.getLong(0) == 3L)
    assert(bigInt(r.get(1)) == as.sum && bigInt(r.get(2)) == bs.sum)
    assert(bigInt(r.get(3)) == sab)
    assert(bigInt(r.get(4)) == 3 * sab - as.sum * bs.sum)
  }

  test("an overflowing sum of products raises with its label") {
    // five products of 2^124 ≈ 2.1e37 sum past DECIMAL(38,0)
    val rows = Seq.fill(5)((big.toLong, big.toLong))
    assert(raised(moments(rows, "sum-label")).contains("sum-label"))
  }

  test("a centred term that overflows while its sums fit raises") {
    // Σa² = 2^125 ≈ 4.3e37 and Σa, Σb = ±2^63 fit; n·Σa² − Σa·Σb =
    // 2^126 + 2^126 = 2^127 ≈ 1.7e38 does not
    val rows = Seq((big.toLong, -big.toLong), (big.toLong, -big.toLong))
    val m = rows.toDF("a", "b")
      .agg(count(lit(1)).as("n"),
        sum(col("a").cast(Num.Exact)).as("sa"),
        sum(col("b").cast(Num.Exact)).as("sb"),
        Num.sumProd(col("a"), col("a")).as("saa"))
      .withColumn("c", Num.centred(col("n"), col("saa"), col("sa"), col("sb")))
    val sums = m.select("sa", "sb", "saa").head()
    assert((0 until 3).forall(i => !sums.isNullAt(i)))
    assert(raised(Num.exactOrRaise(m, "centred-label", col("n"), col("saa"), col("c")))
      .contains("centred-label"))
  }

  test("n = 0 keeps NULL moments and does not raise") {
    val r = moments(Seq.empty, "empty").head()
    assert(r.getLong(0) == 0L)
    assert((1 until 5).forall(r.isNullAt))
  }

  test("the cents-LONG form is exact up to CentsBound and raises past it") {
    val b = Num.CentsBound
    def form(xs: Seq[Long]) = {
      val m = xs.toDF("c").agg(count(lit(1)).as("n"),
        Num.sumCentsProd(col("c"), col("c")).as("q"))
      Num.exactOrRaise(m, "cents-label", col("n"), col("q"))
    }
    assert(bigInt(form(Seq(b, -b, 7L)).head().get(1)) ==
      2 * BigInt(b) * BigInt(b) + 49)
    assert(raised(form(Seq(b + 1, 1L))).contains("cents-label"))
  }
}
