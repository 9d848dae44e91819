package graft

import org.apache.spark.sql.SparkSession

/** The session contract: loading a table leaves a caller's confs alone, and
  * the driver contract pins the oracle-parity confs on any session it is
  * handed. */
class SessionSpec extends SparkSuite {

  private val parity = Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** The explicitly set value of each oracle-parity conf. */
  private def confs(s: SparkSession): Seq[Option[String]] = {
    val set = s.conf.getAll
    parity.map(set.get)
  }

  /** A session configured as an outside caller might: ANSI on, a non-UTC
    * zone, `nanosAsLong` unset. */
  private def foreign(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert(confs(s) == Seq(Some("true"), Some("America/Sao_Paulo"), None))
    s
  }

  test("loading a table leaves the caller's session confs as they were") {
    val s2 = foreign()
    val before = s2.conf.getAll
    Tables.lineitem(s2, sf)
    assert(Tables.events(s2, sf).count() > 0)
    Tables.load(s2, sf, "customer")
    // the st13/st15 digest index is memoised on disk, not in a conf
    graft.streaming.Streams.ensureDocDigestIndex(s2, sf)
    assert(confs(s2) == Seq(Some("true"), Some("America/Sao_Paulo"), None))
    val after = s2.conf.getAll
    val changed = (after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)
    assert(changed.isEmpty, s"confs changed: $changed")
  }

  test("entry and queries pin the oracle-parity confs on a session they are handed") {
    def rows(df: => org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val s2 = foreign()
    // p7 first: it reads only orders, whose NTZ timestamps shift in a
    // non-UTC zone unless the query pins UTC itself
    val p7 = rows(SparkEntry.queries("p7_range_filter")(s2, sf))
    val entry = rows(SparkEntry.entry(s2))
    val flagship = rows(SparkEntry.queries("flagship_refined")(s2, sf))
    assert(confs(s2) == Seq(Some("false"), Some("UTC"), Some("true")))
    // plain Booleans: on failure the row dumps would drown the message
    val p7Same = p7 == rows(SparkEntry.queries("p7_range_filter")(spark, sf))
    assert(p7.nonEmpty && p7Same, "p7_range_filter differs on the handed session")
    val expected = rows(SparkEntry.queries("flagship_refined")(spark, sf))
    val entrySame = entry == expected
    val flagshipSame = flagship == expected
    assert(entry.nonEmpty && entrySame, "entry differs on the handed session")
    assert(flagshipSame, "flagship_refined differs on the handed session")
  }
}
