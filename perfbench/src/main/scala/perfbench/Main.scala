package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness JVM for one benchmark run (launched by `run.py`).
  *
  * Args: `--workload <suite|etl_refresh> --seconds <n> --trace <0|1>
  * --base <dir> --lake <dir> --work <dir> --ops <file> --out <file>
  * --cores <n>`. `--ops` holds one line per pass: the operations in the
  * order the seed chose for that pass.
  *
  * The run sets up three times (fresh session, Bench-style warm-up, the
  * warm-up of the query packs it runs, on a fresh copy of the data so no
  * memo carries over) and keeps the last session: the first set-up also
  * pays the JVM's one-off first use (class loading, JIT), the later ones
  * repeat the set-up work itself. A first, untimed pass writes every
  * operation's output once for `run.py` to check against DuckDB; its wall
  * is recorded (`first_pass_s`) so first-use work stays visible. One
  * untimed warm pass follows, after which full GCs measure the heap still
  * live. Then timed passes run in a closed loop with one client until
  * `--seconds` have elapsed and at least three passes are done: each pass
  * times each operation once, and nothing is re-run or min-ed.
  *
  * With `--trace 1` timed passes alternate untraced and traced (at least
  * three: untraced, traced, untraced); the layer counters come from the
  * traced passes, and the walls of each traced pass and its neighbours give
  * the trace's overhead. */
object Main {
  final case class OpTime(name: String, constructS: Double, actionS: Double, ok: Boolean)
  final case class PassResult(index: Int, traced: Boolean, wallS: Double, ops: Seq[OpTime])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    // one line per pass, the operations in that pass's order
    val orders = Files.readAllLines(Paths.get(a("ops"))).asScala.map(_.trim)
      .filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq
    val ops = orders.head
    val base = a("base")
    val check = s"$work/check"
    val rec = new Json

    // ---- set-up, three times; the last session is kept ----
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var dataDir = base
    for (k <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(cores, work)
      Session.warmUp(spark, base)
      if (workload == "suite") {
        // a fresh copy per set-up: the packs' memos key on the data path
        dataDir = copyDir(base, s"$work/setup$k")
        Session.warmPacks(spark, dataDir, ops)
      }
      setupS += secs(t0)
    }
    rec.arr("setup_s", setupS.toSeq)

    // ---- first, untimed pass: first use of every operation, and the
    // outputs run.py checks (the ETL table is checked after the last refresh)
    val etl = new Etl(spark, a.getOrElse("lake", ""), s"$work/refined")
    val fns = if (workload == "etl_refresh") Map.empty[String, Ops.Fn]
      else ops.map(n => n -> Ops.fn(n)).toMap
    val failed = ArrayBuffer[String]()
    val tf = System.nanoTime()
    if (workload == "etl_refresh") {
      if (!etl.refresh(-1).ok) failed += "etl_refresh#check"
    } else ops.foreach { n =>
      val ok = try Ops.guarded(spark, n) {
        fns(n)(spark, dataDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$check/$n")
      }.isDefined catch { case e: Throwable => log(s"$n failed: $e"); false }
      if (!ok) failed += s"$n#check"
    }
    rec.num("first_pass_s", secs(tf))

    // ---- untimed warm pass ----
    // The JIT is still compiling the passes' code for a few passes after
    // first use (their walls fall by up to ~20%). Timed, that trend would
    // make a run's figures depend on how many passes the box managed; one
    // warm pass takes the steepest part of it out.
    def pass(i: Int, order: Seq[String]): Seq[OpTime] =
      if (workload == "etl_refresh") Seq(etl.refresh(i))
      else order.map(n => Ops.timed(spark, n, i, fns(n), dataDir))
    pass(-1, ops).filterNot(_.ok).foreach(o => failed += s"${o.name}#warm")
    rec.num("warm_attempted", ops.size)
    // after a fixed amount of work: Spark's status store grows with every
    // pass, so a figure taken later would depend on the box's speed
    rec.num("heap_live_mb", Session.liveHeapMb())

    // ---- timed passes ----
    val tr = new Trace
    val passes = ArrayBuffer[PassResult]()
    // at least three passes, so an operation's median never rests on one or
    // two samples, and a slower box does not get fewer passes than a fast one
    val minPasses = 3
    val contention = ArrayBuffer(Session.contention())
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || secs(t0) < seconds) {
      val traced = trace && i % 2 == 1
      if (traced) Trace.attach(spark, tr, i)
      val t1 = System.nanoTime()
      val times = pass(i, orders(i % orders.size))
      passes += PassResult(i, traced, secs(t1), times)
      times.filterNot(_.ok).foreach(o => failed += s"${o.name}#$i")
      if (traced) Trace.detach(spark, tr)
      i += 1
    }
    contention += Session.contention()
    if (workload == "etl_refresh")
      try etl.writeCheck(check)
      catch { case e: Throwable => log(s"etl_refresh check failed: $e"); failed += "etl_refresh#check" }

    // ---- record ----
    rec.str("workload", workload)
    rec.num("cores", cores)
    rec.arr("contention", contention.toSeq)
    rec.num("cache_mb", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6)
    rec.strs("failed", failed.toSeq)
    rec.raw("passes", passes.map { p =>
      val j = new Json
      j.num("index", p.index); j.bool("traced", p.traced); j.num("wall_s", p.wallS)
      j.raw("ops", p.ops.map { o =>
        val oj = new Json
        oj.str("name", o.name); oj.num("construct_s", o.constructS)
        oj.num("action_s", o.actionS); oj.bool("ok", o.ok)
        oj.render
      }.mkString("[", ",", "]"))
      j.render
    }.mkString("[", ",", "]"))
    rec.raw("etl", etl.record.render)
    // the oracle SQL of every checked output, for run.py's DuckDB compare
    val oracles = new Json
    if (workload == "etl_refresh") {
      oracles.str("etl_refined", graft.pipeline.Flagship.refinedOracle)
      oracles.str("etl_consumer", etl.consumerSql)
    } else ops.foreach(n => Ops.oracleSql(n).foreach(oracles.str(n, _)))
    rec.raw("oracle_sql", oracles.render)
    if (trace) rec.raw("trace", traceRecord(tr, passes.toSeq).render)
    Files.writeString(Paths.get(a("out")), rec.render)
    spark.stop()
  }

  /** Layer counters per traced pass (median over traced passes), the
    * trace's overhead, and the per-query records of the first traced pass.
    * Passes alternate untraced and traced, starting untraced; each traced
    * pass is compared with the mean of its untraced neighbours, so the
    * warming of later passes does not count as overhead. */
  private def traceRecord(tr: Trace, passes: Seq[PassResult]): Json = {
    val traced = passes.filter(_.traced)
    def per(f: PassResult => Double): Double = Stats.median(traced.map(f))
    def c(p: PassResult, phase: String => Boolean) =
      tr.sum(k => k.pass == p.index && phase(k.phase))
    def all(p: PassResult) = c(p, _ != "none")
    val j = new Json
    j.num("wall_s", per(_.wallS))
    j.num("overhead_frac", per { p =>
      val around = passes.filter(q => !q.traced && math.abs(q.index - p.index) == 1)
      p.wallS / (around.map(_.wallS).sum / around.size) - 1
    })
    j.num("construct_s", per(_.ops.map(_.constructS).sum))
    j.num("construct_jobs", per(c(_, _ == "construct").jobs.toDouble))
    j.num("plan_s", per(p => tr.planS(p.index, p.ops.map(_.name))))
    j.num("jobs", per(all(_).jobs.toDouble))
    j.num("stages", per(all(_).stages.toDouble))
    j.num("tasks", per(all(_).tasks.toDouble))
    j.num("task_run_s", per(all(_).runMs / 1e3))
    j.num("task_cpu_s", per(all(_).cpuNs / 1e9))
    j.num("gc_s", per(all(_).gcMs / 1e3))
    j.num("shuffle_write_mb", per(all(_).shuffleWrite / 1e6))
    j.num("shuffle_read_mb", per(all(_).shuffleRead / 1e6))
    j.num("spill_mb", per(all(_).spill / 1e6))
    j.num("input_mb", per(all(_).input / 1e6))
    j.num("scan_tasks", per(all(_).scanTasks.toDouble))
    j.num("output_mb", per(all(_).output / 1e6))
    j.raw("per_op", tr.perOp(traced.head.index).render)
    j
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def copyDir(from: String, to: String): String = {
    val src = Paths.get(from); val dst = Paths.get(to)
    deleteTree(dst)
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, dst.resolve(p.getFileName)))
    dst.toString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }
}

/** The operations of the query workloads and their timing. */
object Ops {
  type Fn = (SparkSession, String) => DataFrame

  def fn(name: String): Fn =
    graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  def oracleSql(name: String): Option[String] = graft.SparkEntry.oracleSql.get(name)

  def guarded[T](spark: SparkSession, name: String)(body: => T): Option[T] =
    graft.Guard.timed(spark, name)(body)

  /** Times the query function (frame construction, with any jobs it runs)
    * and the materialising action separately, under `Guard.timed`. */
  def timed(spark: SparkSession, name: String, pass: Int, f: Fn, dir: String): Main.OpTime =
    try {
      guarded(spark, name) {
        Trace.mark(spark, pass, "construct")
        val t0 = System.nanoTime()
        val df = f(spark, dir)
        val t1 = System.nanoTime()
        Trace.mark(spark, pass, "action")
        Action.run(df, s"$pass|$name")
        val t2 = System.nanoTime()
        Main.OpTime(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok = true)
      }.getOrElse(Main.OpTime(name, 0, 0, ok = false))
    } catch { case e: Throwable =>
      Main.log(s"$name failed: $e")
      Main.OpTime(name, 0, 0, ok = false)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON object writer for the run record. */
final class Json {
  private val parts = ArrayBuffer[String]()
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(k: String, v: Double): Unit = parts += s"${q(k)}:${n(v)}"
  def bool(k: String, v: Boolean): Unit = parts += s"${q(k)}:$v"
  def str(k: String, v: String): Unit = parts += s"${q(k)}:${q(v)}"
  def arr(k: String, v: Seq[Double]): Unit = parts += s"${q(k)}:${v.map(n).mkString("[", ",", "]")}"
  def strs(k: String, v: Seq[String]): Unit = parts += s"${q(k)}:${v.map(q).mkString("[", ",", "]")}"
  def raw(k: String, v: String): Unit = parts += s"${q(k)}:$v"
  def render: String = parts.mkString("{", ",", "}")
}
