package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark session: `graft.Bench`'s settings (local[cores], one
  * shuffle partition per core, AQE on, ANSI off, UTC), with every Spark
  * scratch and warehouse directory kept under the run's work directory. */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `graft.Bench`'s warm-up, replicated because Bench runs it inline in its
    * main: a tiny scan + shuffle + window, then tiny in-memory replicas of
    * the MLlib pipeline, the multi-lag window moment chain and the typed
    * Dataset path, so first-use class loading and code generation land in
    * set-up, not on whichever operation runs first. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val li = graft.Tables.lineitem(spark, dir).limit(1000)
    li.groupBy(col("l_returnflag")).count().count()
    li.withColumn("rn", row_number().over(
      w.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey")))).count()
    locally {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, NGram, Tokenizer}
      val docs = (0 until 24)
        .map(i => (i.toLong, s"warm doc $i tok${i % 5} a b c d e f"))
        .toDF("doc_id", "text")
      val f = new HashingTF().setInputCol("shingles").setOutputCol("features")
        .setNumFeatures(1 << 10)
        .transform(new NGram().setN(3).setInputCol("words").setOutputCol("shingles")
          .transform(new Tokenizer().setInputCol("text").setOutputCol("words")
            .transform(docs)))
        .filter(size(col("shingles")) > 0)
      val m = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(2).setSeed(1L).fit(f)
      m.approxSimilarityJoin(f, f, 0.9, "d").count()
    }
    locally {
      val ts = (1 to 40).map(i => (i % 2, i, (i * 37 % 101).toDouble)).toDF("k", "t", "v")
      val wk = w.partitionBy("k").orderBy("t")
      val lagged = (1 to 10).foldLeft(ts)((d, l) => d.withColumn(s"lag_$l", lag(col("v"), l).over(wk)))
      val ms = (1 to 10).map(l => sum((col("v") * col(s"lag_$l")).cast("decimal(38,6)")).as(s"m$l"))
      lagged.groupBy("k").agg(ms.head, ms.tail: _*).count()
    }
    spark.range(100).as[Long].flatMap(x => Iterator(x, x + 1))
      .groupByKey(_ % 7).mapGroups((k, it) => (k, it.size)).count()
  }

  /** The query packs whose warm-up the benchmark may run: `SparkEntry`'s
    * packs minus `StreamingPack`, `SourcesPack` and `ScalePack`, whose
    * warm-ups and queries write files to fixed paths outside the data
    * directory. */
  private val packs: Seq[graft.QueryPack] = {
    import graft.queries._
    Seq(FlagshipPack, ProjectionPack, JoinsPack, AggPack, WindowPack, SortSetPack,
      FunctionsPack, CustomComputePack, TextPack, DedupPack, AnnPack, MultimodalPack,
      MlPack, TemporalPack, TypedPack, GraphPack, CurationPack, ExtendedPack,
      BreadthPack, TpchPack, TpchPack2, StatsTestsPack)
  }

  /** `SparkEntry.warm` restricted to the packs that own `ops`: it pre-pays
    * the memoised checker state of those packs' queries. */
  def warmPacks(spark: SparkSession, dir: String, ops: Seq[String]): Unit =
    packs.filter(p => ops.exists(p.queries.contains)).foreach(_.warm(spark, dir))

  /** Single-thread spin probe (as in `graft.Bench`): wall over CPU time of
    * a fixed ALU loop. Near 1 on an idle box; above 1 when the benchmark
    * thread is descheduled by other load. A diagnostic only. */
  def contention(): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val w0 = System.nanoTime(); val c0 = bean.getCurrentThreadCpuTime
    var z = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0
    while (i < (1 << 26)) {
      z += 0x9e3779b97f4a7c15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      acc ^= x ^ (x >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.println("spin blackhole")
    val w = System.nanoTime() - w0; val c = bean.getCurrentThreadCpuTime - c0
    w.toDouble / math.max(c, 1L)
  }

  /** Heap still in use after a full GC, in MB: the memory the program
    * holds on to (caches, memos, pins, Spark storage), apart from how far
    * the collector let garbage pile up. A GC hands Spark's ContextCleaner
    * the broadcasts and shuffles of frames no longer referenced; the later
    * GCs, once it has had time to drop them, free their memory too. */
  def liveHeapMb(): Double = {
    System.gc()
    for (_ <- 1 to 2) { Thread.sleep(300); System.gc() }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
