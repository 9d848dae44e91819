package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming mapping of the reference's incremental semantics
  * (SURVEY §2.8): the Lambda appends one day-partition per run
  * (/root/reference/src/lambda_predict/lambda_function.py:42,83) and Glue
  * reprocesses a 10-day lookback with dedup + overwrite
  * (/root/reference/glue.py:47-48,226,237). Spark-native: a file-source
  * stream with a 10-day watermark, stateful `dropDuplicates` on the
  * (key, day) grain, and windowed aggregation.
  *
  * The fixture runs drive the stream synchronously with a memory sink
  * (`processAllAvailable`) so the driver's batch-style check applies; in
  * production the same plan runs `foreachBatch` → dynamic partition
  * overwrite, exactly the reference's idempotent upsert.
  */
object Streams {

  case class Ev(user_id: Long, value: Double)
  case class Totals(n: Long, sum_value_cents: Long)

  /** events.parquet read as a bounded stream (schema pinned up front —
    * streaming sources don't infer): ts has shipped as TIMESTAMP(NANOS)
    * (read as raw long nanos, see graft.Tables.events) or as
    * TIMESTAMP(MICROS) (read as NTZ) depending on fixture generation; a
    * one-file batch peek picks the matching pinned schema and both
    * normalize to the same micros TimestampType. */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val tsType = graft.Tables.schemaOf(spark, s"$sfDir/events.parquet")("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the file source needs a directory (it models the reference's
    // raw/ano=/mes=/dia=/ landing zone) — stage the fixture file into one
    val inDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_in/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(schema).parquet(inDir.toString)
    tsType match {
      case LongType => stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => stream.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Fresh per-START checkpoint directory on the fastest ephemeral
    * filesystem available (r11, guide §6): every micro-batch commits an
    * offset-log entry, a commit-log entry and one state-store delta file
    * PER state partition to the checkpoint dir — on this box the default
    * temp dir lives on ext4, tmpfs takes that I/O off disk entirely.
    * (Measured honestly: ≤ 0.1–0.3 s per stateful query at sf0.1 — the
    * micro-batch floor is per-batch incremental planning + scheduling,
    * not WAL I/O; kept because it also makes runs independent of disk
    * state.) These verification streams are bounded replays whose
    * checkpoints are ephemeral BY DESIGN (a fresh dir per start — never
    * reused, so every invocation reprocesses the full input from parquet;
    * the directory is removed on stop); tmpfs changes only where the
    * throwaway WAL lands. A production deployment points this at durable
    * storage for exactly-once restart — that is a recovery-contract
    * choice, not a throughput one.
    *
    * Returns (checkpoint path, cleanup). */
  private def freshCheckpoint(): (String, () => Unit) = {
    val base = if (java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get("/dev/shm"))) "/dev/shm" else
      System.getProperty("java.io.tmpdir", "/tmp")
    // best-effort sweep of STALE siblings (ADVICE r11): a JVM crash
    // mid-stream leaks its UUID dir (tmpfs = RAM) until reboot, because
    // the cleanup below only runs on the normal path. Anything older than
    // an hour cannot belong to a live bounded verification stream (they
    // run seconds), so sweep it here; recent siblings are left alone — a
    // concurrent stream in this or another JVM may own them.
    val root = java.nio.file.Paths.get(s"$base/graft_chk")
    if (java.nio.file.Files.isDirectory(root)) {
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      val listing = java.nio.file.Files.list(root)
      try listing.iterator().forEachRemaining { p =>
        try {
          if (java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
        } catch { case _: java.io.IOException => () }
      } finally listing.close()
    }
    val dir = s"$base/graft_chk/${java.util.UUID.randomUUID()}"
    (dir, () => {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)); ()
    })
  }

  /** Stateful shuffle partition count derived from STATE VOLUME, never
    * from cores (r12 — the r11 principle, computed instead of a
    * fixture-tuned literal "2"): every micro-batch opens, loads and
    * commits one state store per shuffle partition per stateful operator
    * (a stream-stream join carries four per partition), so the right
    * count is ceil(expected state bytes / target bytes per store) with
    * ~100 MB of state per store — the usual RocksDB state-store sizing.
    * Expected state is bounded above by the bytes of the bounded source
    * being replayed (dedup keys, join buffers and window aggregates are
    * all projections of the input), so the staged source file size is
    * the estimator: a 100 TB replay derives thousands of partitions, the
    * few-MB fixture derives 1, and the value is re-derived per
    * invocation from the input rather than tuned to either box. */
  private[graft] def statePartitions(inputBytes: Long): Int = {
    val targetStoreBytes = 100L << 20
    val p = (inputBytes + targetStoreBytes - 1) / targetStoreBytes
    math.max(1L, math.min(p, 4096L)).toInt
  }

  private def fileBytes(path: String): Long =
    try java.nio.file.Files.size(java.nio.file.Paths.get(path))
    catch { case _: java.io.IOException => 0L }

  private def eventsBytes(sfDir: String): Long =
    fileBytes(s"$sfDir/events.parquet")

  /** Runs the stream to a memory sink. Stateful micro-batch operators open
    * (and load + commit, per batch) one state store PER shuffle partition
    * PER stateful operator — a stream-stream join carries four stores per
    * partition — so partitions are sized to STATE VOLUME (~100 MB/store on
    * a cluster), never to cores: on the fixture's kilobyte state, 2
    * partitions beat 8 (measured ~0.3–0.5 s per stream-stream-join query —
    * 8 store instances per batch instead of 32), and 8 beat the 32
    * core-count default before that (r10). */
  private def runToTable(df: DataFrame, spark: SparkSession, name: String,
      outputMode: String, inputBytes: Long): DataFrame = {
    graft.Session.withConf(spark,
        "spark.sql.shuffle.partitions" -> statePartitions(inputBytes).toString) {
      val (chk, chkCleanup) = freshCheckpoint()
      try {
        val q = df.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", chk)
          .outputMode(outputMode).start()
        try q.processAllAvailable() finally q.stop()
      } finally chkCleanup()
    }
    spark.table(name)
  }

  /** Stream-static broadcast enrichment — the standard streaming
    * dimension-join shape (st5 covers stream×stream; this is the
    * STATELESS one): each micro-batch joins the event stream against the
    * static customer dimension via broadcast (no state store, no
    * watermark needed on the join itself) and feeds a streaming
    * aggregation. At scale the static side is the slowly-changing
    * dimension re-resolved per micro-batch — updates between batches are
    * picked up without restarting the query — and broadcast keeps the
    * enrichment shuffle-free; only the post-join aggregation carries
    * state. Bounded input ⇒ final result equals the batch join+GROUP BY,
    * which is the oracle. */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventStream(spark, sfDir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
    runToTable(enriched, spark, "graft_stream_static", "complete", eventsBytes(sfDir))
  }

  /** Stateful streaming dedup on (user_id, day) under a 10-day watermark —
    * the reference's lookback-window dedup as incremental state. Output is
    * the distinct key set (which concrete row survives is arrival-order
    * dependent, so only the keys are the deterministic surface). */
  def dedupKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .withWatermark("ts", "10 days")
      .dropDuplicates("user_id", "day")
      .select(col("user_id"), col("day"))
    runToTable(deduped, spark, "graft_stream_dedup", "append", eventsBytes(sfDir))
  }

  /** Stateful streaming dedup via `dropDuplicatesWithinWatermark` — the
    * scale-correct variant of [[dedupKeys]]. Plain `dropDuplicates` keeps
    * one state row per key FOREVER (only an event-time key column lets the
    * watermark evict), so on an unbounded key space (doc hashes, event
    * ids) state grows without bound. WithinWatermark instead stamps each
    * state row with its event time and evicts it once the watermark
    * passes, guaranteeing dedup only for duplicates that arrive within
    * the watermark delay of each other — exactly the reference's 10-day
    * lookback contract, with O(keys-per-window) state instead of
    * O(all-keys-ever). On the bounded single-micro-batch fixture nothing
    * is evicted mid-stream, so the output equals the batch DISTINCT,
    * which is the oracle. */
  def dedupKeysWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .withWatermark("ts", "10 days")
      .dropDuplicatesWithinWatermark("user_id", "day")
      .select(col("user_id"), col("day"))
    runToTable(deduped, spark, "graft_stream_dedup_ww", "append", eventsBytes(sfDir))
  }

  /** Arbitrary stateful processing (`flatMapGroupsWithState`): a running
    * per-user event counter + value sum kept in typed state across
    * micro-batches — the KeyValueGroupedDataset custom-state surface
    * (SURVEY §2.8 mapping). On the bounded fixture the final state equals
    * the batch GROUP BY, which is the oracle. */
  def statefulUserTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val updated = eventStream(spark, sfDir)
      .select(col("user_id"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Totals]) =>
          var t = state.getOption.getOrElse(Totals(0L, 0L))
          rows.foreach { e =>
            t = Totals(t.n + 1, t.sum_value_cents + math.round(e.value * 100))
          }
          state.update(t)
          Iterator.single((uid, t.n, t.sum_value_cents))
      }
      .toDF("user_id", "n_events", "sum_value_cents")
    val all = runToTable(updated, spark, "graft_stream_state", "update", eventsBytes(sfDir))
    // update mode emits one row per key per batch; the final state per key
    // is the max-n row
    import org.apache.spark.sql.expressions.Window
    all.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
  }

  /** [[org.apache.spark.sql.streaming.StatefulProcessor]] for
    * [[transformWithStateTotals]]: the Spark 4 arbitrary-state API
    * (successor to flatMapGroupsWithState) — explicit named state handles
    * (ValueState/ListState/MapState), per-state TTL, and timers. Keeps the
    * same per-user running Totals as the legacy-API query (st3), so the
    * two APIs cross-check each other against one batch oracle. */
  private class TotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[Totals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Totals](
        "totals", org.apache.spark.sql.Encoders.product[Totals], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var t = Option(state.get()).getOrElse(Totals(0L, 0L))
      rows.foreach { e =>
        t = Totals(t.n + 1, t.sum_value_cents + math.round(e.value * 100))
      }
      state.update(t)
      Iterator.single((uid, t.n, t.sum_value_cents))
    }
  }

  /** Per-user running totals via `transformWithState` — requires the
    * RocksDB state store provider (the API is rejected on the default
    * HDFS-backed store), which is also the provider a production
    * deployment wants: state spills to disk instead of executor heap. */
  def transformWithStateTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    graft.Session.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val updated = eventStream(spark, sfDir)
        .select(col("user_id"), col("value")).as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new TotalsProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "sum_value_cents")
      val all = runToTable(updated, spark, "graft_stream_tws", "update", eventsBytes(sfDir))
      import org.apache.spark.sql.expressions.Window
      all.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)))
        .filter(col("rn") === 1).drop("rn")
    }
  }

  /** Stream-stream inner join under watermarks: clicks joined to the
    * purchases that follow them within one hour for the same user. Both
    * sides carry a 1-day watermark and the join has a two-sided time-range
    * constraint, so Spark can bound the buffered state on each side —
    * the shape that keeps a stream-stream join runnable forever at scale
    * (unbounded-state joins are rejected in append mode). */
  def clickPurchaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .withWatermark("ts", "1 day")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val purchases = eventStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 day")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val joined = clicks.join(purchases,
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
    runToTable(joined, spark, "graft_stream_join", "append", eventsBytes(sfDir))
  }

  /** MD5 hex of `path`'s [[graft.Fingerprint.dir]] signature: a file-name
    * key for on-disk caches built from that data. */
  private def fingerprintDigest(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(graft.Fingerprint.dir(path).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Stream-stream LEFT OUTER join under watermarks: like
    * [[clickPurchaseJoin]] but unmatched clicks must also surface (with a
    * null purchase) — which only happens when the watermark passes the
    * click's join-window expiration and its buffered state flushes. On a
    * bounded fixture the watermark stops short of the tail rows, so the
    * staged input adds one far-future sentinel per side: after the data
    * batch, both watermarks jump past every real event and the trailing
    * no-data micro-batch (Spark emits one on watermark movement) flushes
    * every unmatched click. Sentinels carry negative user ids and are
    * filtered from the result, so the output equals the batch LEFT JOIN —
    * the oracle. At scale the sentinel trick is unnecessary (real streams
    * keep advancing the watermark); the bounded-state contract is the
    * same two-sided time-range constraint st5 pins. */
  /** Sentinel parquet cache for the bounded-fixture watermark trick
    * (st10/st12). r12: the sentinel bytes are a pure FUNCTION of the
    * fixture's ts physical type and the requested rows — yet each timed
    * invocation used to rebuild them with one Spark write job apiece
    * (two for st10, two for st12), mid-stream. They are now built once
    * per (tag, fixture fingerprint) into an on-disk cache — the
    * ensureDocDigestIndex discipline, pre-paid in StreamingPack.warm —
    * and each invocation merely COPIES the cached files into the staging
    * dir. Returns (sentinel@2100, sentinel2@2101) paths, self-healing if
    * the cache dir was swept. */
  private def sentinelFiles(spark: SparkSession, sfDir: String,
      tag: String, sentinelRows: Seq[(Long, Long, String)])
      : (java.nio.file.Path, java.nio.file.Path) = {
    import org.apache.spark.sql.types._
    val digest = fingerprintDigest(s"$sfDir/events.parquet")
    val cacheDir = java.nio.file.Paths.get(s"/tmp/graft_sentinels/${tag}_$digest")
    val s1 = cacheDir.resolve("sentinel.parquet")
    val s2 = cacheDir.resolve("sentinel2.parquet")
    if (!java.nio.file.Files.exists(s1) || !java.nio.file.Files.exists(s2)) {
      java.nio.file.Files.createDirectories(cacheDir)
      val tsType = graft.Tables.schemaOf(spark, s"$sfDir/events.parquet")("ts").dataType
      def build(target: java.nio.file.Path, when: String): Unit = {
        val at = java.sql.Timestamp.valueOf(when)
        val rowList = new java.util.ArrayList[org.apache.spark.sql.Row]()
        sentinelRows.foreach { case (eid, uid, et) =>
          rowList.add(org.apache.spark.sql.Row(eid, at, uid, et, 0.0, "{}"))
        }
        val rows = spark.createDataFrame(rowList,
          StructType(Seq(
            StructField("event_id", LongType), StructField("ts", TimestampType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType), StructField("props", StringType))))
        val cast = tsType match {
          case LongType => rows.withColumn("ts",
            expr("unix_micros(ts) * 1000")) // nanos-as-long fixture shape
          case _ => rows.withColumn("ts", col("ts").cast(tsType))
        }
        val scratch = cacheDir.resolve(s"_${target.getFileName}_build")
        cast.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        // Files.list holds an open directory handle until closed (ADVICE
        // r8: the un-closed stream leaked one fd per sentinel write)
        val listing = java.nio.file.Files.list(scratch)
        val part =
          try listing.toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error("sentinel part file not found"))
          finally listing.close()
        java.nio.file.Files.move(part, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
      }
      build(s1, "2100-01-01 00:00:00")
      build(s2, "2101-01-01 00:00:00")
    }
    (s1, s2)
  }

  /** Pre-pay the st10/st12 sentinel builds (called from
    * StreamingPack.warm). */
  def ensureSentinels(spark: SparkSession, sfDir: String): Unit = {
    sentinelFiles(spark, sfDir, "outer",
      Seq((-1L, -1L, "click"), (-2L, -2L, "purchase")))
    sentinelFiles(spark, sfDir, "sess", Seq((-1L, -1L, "click")))
    ()
  }

  /** Merged-sentinel staging (r12, VERDICT r11 next #1): stages the events
    * fixture TOGETHER with both far-future sentinel files, mtime-stepped so
    * the file source's oldest-first ordering yields a deterministic batch
    * split under `maxFilesPerTrigger = 2`:
    *
    *   batch 0 = {events, sentinel@2100},  batch 1 = {sentinel2@2101}
    *
    * FileStreamSource sorts unread files by modification time ascending
    * (latestFirst=false, the default) and takes maxFilesPerTrigger of
    * them per batch; the staging writes events+sentinel with mtime T−120 s
    * and sentinel2 with T−60 s, so the split above is pinned — sentinel
    * arrival order is controlled by this writer, which is exactly what
    * makes the one-drain merge sound. The two-drain structure this
    * replaces produced the SAME batches ({events, sentinel} present at
    * start → batch 0; sentinel2 written between drains → batch 1), so the
    * per-batch watermark sequence — and therefore every state-eviction
    * and null/session emission decision — is identical; what disappears
    * is the second drain's idle-detection wait and the mid-stream Spark
    * sentinel-write jobs. Returns (inDir, tsType). */
  private def stageMergedSentinels(spark: SparkSession, sfDir: String,
      tag: String, sentinelRows: Seq[(Long, Long, String)])
      : (java.nio.file.Path, org.apache.spark.sql.types.DataType) = {
    val tsType = graft.Tables.schemaOf(spark, s"$sfDir/events.parquet")("ts").dataType
    val (s1, s2) = sentinelFiles(spark, sfDir, tag, sentinelRows)
    val inDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_$tag/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(inDir)
    def stage(from: java.nio.file.Path, name: String, mtime: Long): Unit = {
      val to = inDir.resolve(name)
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(to,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    stage(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      "events.parquet", now - 120000L)
    stage(s1, "sentinel.parquet", now - 120000L)
    stage(s2, "sentinel2.parquet", now - 60000L)
    (inDir, tsType)
  }

  def clickPurchaseOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // one far-future sentinel per JOIN SIDE (each must pass its side's
    // event_type filter to advance THAT side's watermark); outer-join
    // null emission uses the PREVIOUS batch's watermark, so a SECOND
    // sentinel must arrive one batch later than the first — pinned by
    // the mtime-stepped staging + maxFilesPerTrigger=2 split:
    //   batch 0 = {events, sentinel@2100}, batch 1 = {sentinel2@2101}
    // (identical to the batches the former two-drain recipe produced).
    val (inDir, tsType) = stageMergedSentinels(spark, sfDir,
      "outer", Seq((-1L, -1L, "click"), (-2L, -2L, "purchase")))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream0 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(inDir.toString)
    val stream = tsType match {
      case LongType => stream0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => stream0.withColumn("ts", col("ts").cast(TimestampType))
    }
    val clicks = stream.filter(col("event_type") === "click")
      .withWatermark("ts", "1 day")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 day")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val joined = clicks.join(purchases,
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
    // NOTE: the sentinel exclusion must NOT be part of the streaming plan —
    // a predicate like user_id >= 0 would be pushed through the outer join
    // down to the parquet scans, where row-group stats prune the
    // sentinel FILES entirely and the watermark never sees them (found
    // the hard way: the join's watermark stalled at the real data's max
    // while a filterless count read the sentinels fine). Sentinels are
    // filtered from the RESULT table instead, in batch context.
    runToTable(joined, spark, "graft_stream_outer_join", "append", eventsBytes(sfDir))
      .filter(col("user_id") >= 0)
  }

  /** STREAMING sessionization — session_window under a watermark in
    * append mode (st4 runs the same session assignment in batch mode;
    * this is the real streaming shape: per-user session state merges as
    * events arrive and a session EMITS only when the watermark passes
    * its close). On the bounded fixture the watermark stops short of the
    * tail sessions, so the staged input adds one far-future sentinel
    * batch after the data drains (the st10 recipe — and like there, the
    * sentinel exclusion must NOT ride the streaming plan or file pruning
    * would drop the sentinel before the watermark sees it; sentinels
    * filter from the RESULT in batch context). Output equals the batch
    * sessionization the oracle expresses. */
  def streamingSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // session emission in append mode uses the watermark set at the END
    // of the previous batch, so the tail sessions flush only in a batch
    // AFTER the one whose data moved the watermark past them — the same
    // two-sentinel recipe as st10, merged into one drain: batch 0 =
    // {events, sentinel@2100} (watermark still 0 during the batch, so
    // nothing emits and the state content equals the old three-drain
    // recipe's after its sentinel batch), batch 1 = {sentinel2@2101}
    // (watermark now 2099-12-31: every real session emits — the union of
    // what the old recipe emitted across its two sentinel drains).
    val (inDir, tsType) = stageMergedSentinels(spark, sfDir,
      "sess", Seq((-1L, -1L, "click")))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream0 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(inDir.toString)
    val stream = tsType match {
      case LongType => stream0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => stream0.withColumn("ts", col("ts").cast(TimestampType))
    }
    val sess = stream
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
      .select(col("user_id"), col("session_start"), col("n_events"))
    runToTable(sess, spark, "graft_stream_sessions", "append", eventsBytes(sfDir))
      .filter(col("user_id") >= 0)
  }

  /** The production sink path: `foreachBatch` writing day-partitioned
    * parquet with DYNAMIC partition overwrite — re-processing a batch
    * replaces exactly the partitions it touches (the reference Glue job's
    * idempotent lookback upsert, SURVEY §2.8). The returned frame re-reads
    * the sink directory, so the check covers the full write+read cycle. */
  def foreachBatchSink(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"/tmp/graft_stream_sink/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    // a FRESH checkpoint per run (a stale one would mark the input files
    // already-processed and leave the freshly-deleted sink empty); on
    // tmpfs like every other verification-stream checkpoint (r11)
    val (chk, chkCleanup) = freshCheckpoint()
    try graft.Session.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      val q = eventStream(spark, sfDir)
        .withColumn("day", to_date(col("ts")))
        .select(col("event_id"), col("user_id"), col("day"), col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // Upsert contract: each micro-batch must carry the FULL reprocess
          // window for every partition it touches (the reference Glue job
          // stages exactly one lookback window per run). If the source ever
          // split that window across batches, the dynamic overwrite would
          // silently drop earlier batches' rows for the same day — so fail
          // loudly instead of losing data.
          require(batchId == 0L,
            s"foreachBatchSink expects the whole reprocess window in one " +
              s"micro-batch; got batchId=$batchId — merge with existing " +
              "partition contents before enabling multi-batch input")
          batch.write.mode("overwrite").partitionBy("day").parquet(outDir)
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally chkCleanup()
    spark.read.parquet(outDir)
      .select(col("event_id"), col("user_id"), col("day"), col("value"))
  }

  /** Tumbling 1-day APPROXIMATE user counting — the sketch-in-stream
    * composition (a17's mergeable-sketch point made incremental): the
    * HLL++ partial aggregate is the state store's per-window value, so
    * state stays fixed-width per (window) regardless of how many
    * distinct users a day carries — exact count(DISTINCT) in a stream
    * would hold every user id in state. Checked as the a17 invariant
    * frame: per-day estimates within the published error envelope of the
    * exact counts the oracle recomputes. */
  def dailyApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day"))
      // the Datasketches HLL (a17's sketch — ~1.6% typical at lgK 12),
      // not approx_count_distinct's HLL++ whose default 5% rsd actually
      // exceeds the frame bound on ~1k-distinct days
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .select(col("window.start").cast("date").as("day"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
    runToTable(agg, spark, "graft_stream_approx_distinct", "complete", eventsBytes(sfDir))
  }

  /** Tumbling 1-day windowed aggregation per event_type with exact decimal
    * sums (complete mode so all windows surface on the bounded fixture). */
  def dailyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
      .select(col("window.start").cast("date").as("day"), col("event_type"),
        col("n"), col("total"))
    runToTable(agg, spark, "graft_stream_agg", "complete", eventsBytes(sfDir))
  }

  /** Streaming tick→OHLC bar maintenance — w20_ohlc_resample's streaming
    * twin: per (series, 1-day tumbling window), open/close ride the same
    * sort-free min/max(struct(ts, event_id, cents)) argmin/argmax that
    * the batch bar build uses (they're plain aggregates, so the state
    * store merges them per micro-batch like any other agg buffer —
    * O(bars) state, never O(ticks)); high/low/volume share the buffer.
    * Bounded input ⇒ the final bar table equals the batch w20 GROUP BY,
    * which IS the oracle. */
  def streamOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    val bars = eventStream(spark, sfDir)
      .withColumn("c",
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
      .withWatermark("ts", "10 days")
      .groupBy(col("user_id"), window(col("ts"), "1 day"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("c"))).as("f"),
        max(struct(col("ts"), col("event_id"), col("c"))).as("l"),
        max(col("c")).as("high_cents"),
        min(col("c")).as("low_cents"),
        sum(col("c")).as("volume_cents"),
        count(lit(1)).as("n_ticks"))
      .select(col("user_id"), col("window.start").cast("date").as("day"),
        col("f.c").as("open_cents"), col("high_cents"), col("low_cents"),
        col("l.c").as("close_cents"), col("volume_cents"), col("n_ticks"))
    runToTable(bars, spark, "graft_stream_ohlc", "complete", eventsBytes(sfDir))
  }

  /** Streaming trending-items: a per-(day, type) count aggregation
    * maintained by the stream in COMPLETE mode, then top-3-per-day
    * ranked DOWNSTREAM over the materialized sink — the production
    * "trending" split: ranking can't ride inside a streaming
    * aggregation (no window functions over an open aggregate), so the
    * streaming job maintains the counts and the cheap rank runs over
    * the (windows × types)-sized sink table each refresh. State is
    * bounded by the (day, type) DOMAIN, not the stream — note the
    * watermark below is inert under complete mode (Spark never drops
    * window state there); a deployment with an unbounded window domain
    * would switch to append mode, where the same watermark actually
    * evicts. Bounded input ⇒ final counts equal the batch GROUP BY,
    * which the oracle replays with the same rank. */
  def dailyTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = eventStream(spark, sfDir)
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("day"),
        col("event_type"), col("n"))
    val sink = runToTable(counts, spark, "graft_stream_topk", "complete", eventsBytes(sfDir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("n").desc, col("event_type"))
    sink.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
  }

  /** Streaming incremental dedup against a PERSISTED historical digest
    * index — the d9/n8 daily-append pattern in streaming form, i.e. the
    * production "dedupe today's crawl against everything already
    * ingested" job: the historical index is a parquet artifact on disk
    * (written once per dataset, fingerprint-keyed — at scale: the digest
    * table yesterday's job maintains), the document stream digests
    * map-side, `dropDuplicates(digest)` dedups WITHIN the stream
    * (stateful — bounded by new-digest cardinality, never raw text), and
    * a stream-static LEFT ANTI join drops everything history has seen.
    * The index side of the anti join re-resolves per micro-batch, so
    * index updates between batches are picked up without restart.
    * Output is the deterministic SET of first-seen digests (doc ids stay
    * out: "first arrival" inside one micro-batch is partition-order
    * dependent; the surviving digest set is not). History = docs with
    * doc_id % 7 != 0, so the stream genuinely mixes seen and new. */
  /** One-time build of st13's historical digest index artifact
    * (the ensureBucketedTables discipline) — exposed so Bench warm-up
    * pre-pays the write and the timed run measures the stream. */
  def ensureDocDigestIndex(spark: SparkSession, sfDir: String): String = {
    // keyed by the documents' fingerprint digest (the sentinelFiles
    // discipline): changed documents get a fresh directory, and a
    // complete build is marked by the writer's _SUCCESS file
    val digest = fingerprintDigest(s"$sfDir/documents.parquet")
    val idxPath = s"/tmp/graft_sinks/doc_digest_index_$digest"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(idxPath, "_SUCCESS"))) {
      graft.Tables.documents(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(md5(col("text")).as("digest")).distinct()
        .write.mode("overwrite").parquet(idxPath)
    }
    idxPath
  }

  /** Stage the documents fixture as a streaming file source; shared by
    * st13 and st15 (idempotent copy, one staging dir per fixture). */
  private def stagedDocStream(spark: SparkSession, sfDir: String): DataFrame = {
    val inDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_docs/${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(schema).parquet(inDir.toString)
  }

  def streamIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val index = spark.read.parquet(ensureDocDigestIndex(spark, sfDir))
    val fresh = stagedDocStream(spark, sfDir)
      .select(md5(col("text")).as("digest"))
      .dropDuplicates("digest")
      .join(index, Seq("digest"), "left_anti")
    runToTable(fresh, spark, "graft_stream_incdedup", "append", fileBytes(s"$sfDir/documents.parquet"))
  }

  /** st13 with the history check inverted into a Bloom PREFILTER (d16's
    * streaming twin): the ~1 MB sketch of the historical digest index is
    * built once per invocation (one partial-agg pass — at scale, loaded
    * from the side-file yesterday's job persisted) and rides every
    * micro-batch as a map-only predicate. Digests the sketch has never
    * seen are definitively new (no Bloom false negatives) and skip the
    * index entirely; only sketch-positive digests (true dups + the fpp
    * sliver) pay the per-micro-batch LEFT ANTI join, which rescues false
    * positives. Same output contract as st13 — the first-seen digest set
    * minus history — so the same batch oracle replays it; what changes is
    * the per-batch cost shape: st13 anti-joins EVERY batch row against
    * the history-sized index, st15 joins only the flagged sliver. */
  def streamBloomDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val index = spark.read.parquet(ensureDocDigestIndex(spark, sfDir))
    val bf = graft.ops.BloomDedup.build(index, col("digest"))
    val digests = stagedDocStream(spark, sfDir)
      .select(md5(col("text")).as("digest"))
      .dropDuplicates("digest")
    val might = graft.ops.BloomDedup.mightContain(bf, col("digest"))
    val fresh = digests.filter(!might)
      .unionByName(digests.filter(might)
        .join(index, Seq("digest"), "left_anti"))
    runToTable(fresh, spark, "graft_stream_bloomdedup", "append", fileBytes(s"$sfDir/documents.parquet"))
  }
}
