package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built and the one place the confs the
  * DuckDB oracle depends on are set. Table loaders leave a caller's session
  * config alone; the driver contract ([[SparkEntry]]) pins instead. */
object Session {
  /** Cores of a `local` session: `SPARK_GRAFT_CPUS`, or 4 when unset. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Sets the oracle-parity confs. Idempotent and cheap: each is a conf-map
    * write.
    *  - ANSI off: Spark 4 defaults to ANSI semantics (errors on
    *    division by zero, strict casts). DuckDB follows IEEE float semantics
    *    for double math (x/0 → inf, 0/0 → NaN).
    *  - UTC: the NTZ→LTZ cast that normalises a TIMESTAMP(MICROS)
    *    `events.ts` is session-timezone-sensitive; any other zone would
    *    shift instants relative to the oracle's naive-timestamp arithmetic.
    *  - `nanosAsLong`: some fixture generations ship `events.ts` as parquet
    *    TIMESTAMP(NANOS), which Spark's reader rejects
    *    ([PARQUET_TYPE_ILLEGAL]) unless read as raw long nanos;
    *    `Tables.events` and `Streams` detect that type and truncate it to
    *    micros, as DuckDB does at scan time. */
  def pin(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** The one `SparkSession` builder: `local[cpus]` with one shuffle
    * partition per core, no UI, WARN logging, pinned. */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pin(spark)
    spark
  }

  /** `body` with `key` set to `value`; afterwards the old value is restored,
    * or the key unset if it had none. */
  def withConf[T](spark: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
