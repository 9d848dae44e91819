package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._

/** `Tables.load`'s memoised schema: a repeat load infers nothing, a
  * rewritten file is re-inferred, and both physical `events.ts` types still
  * normalise to one schema. */
class TablesSpec extends SparkSuite {

  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def tmpDir(): Path = Files.createTempDirectory("tables_spec")

  test("a second load of the same path runs no Spark job") {
    import spark.implicits._
    val d = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$d/t.parquet")
    val (first, j1) = jobsDuring(Tables.load(spark, d.toString, "t"))
    val (second, j2) = jobsDuring(Tables.load(spark, d.toString, "t"))
    assert(j1 >= 1, "the first load infers the schema in a job")
    assert(j2 == 0, s"the second load ran $j2 jobs")
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a file rewritten at the same path with an extra column is re-inferred") {
    import spark.implicits._
    val d = tmpDir()
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d.toString, "t").columns.toSeq == Seq("k", "s"))
    Seq((2L, "b", 2.5)).toDF("k", "s", "x").write.mode("overwrite").parquet(s"$d/t.parquet")
    val again = Tables.load(spark, d.toString, "t")
    assert(again.columns.toSeq == Seq("k", "s", "x"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 2.5)))
  }

  test("events with TIMESTAMP(NANOS) ts load to the micros schema, memo or not") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val nanos = 1704067200123456789L // 2024-01-01 00:00:00.123456789 UTC
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/events.parquet"))
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 7L).append("ts", nanos).append("user_id", 3L)
        .append("event_type", "view").append("value", 1.5).append("props", "{}")
      w.write(g)
    } finally w.close()

    val micros = Tables.events(spark, sf).schema
    val first = Tables.events(spark, d.toString)
    val (second, jobs) = jobsDuring(Tables.events(spark, d.toString))
    assert(jobs == 0)
    for (df <- Seq(first, second)) {
      assert(df.schema == micros, df.schema.treeString)
      // truncated to micros, as DuckDB reads it
      assert(df.selectExpr("unix_micros(ts)").head().getLong(0) == nanos / 1000)
    }
    // the reader conf is part of the memo key: without nanosAsLong the
    // same file is not readable, memo or not
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try {
      val e = intercept[Exception](Tables.schemaOf(spark, s"$d/events.parquet"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    } finally spark.conf.set(key, "true")
    assert(Tables.schemaOf(spark, s"$d/events.parquet")("ts").dataType == LongType)
  }
}
