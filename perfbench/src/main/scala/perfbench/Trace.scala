package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan, OverwriteByExpression}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation Spark counters, observed from outside the program.
  *
  * A `SparkListener` keys every job, stage and task on three local
  * properties of the submitting thread: the job group `Guard.timed` sets
  * (`graft-<query>`), and the harness's pass number and phase
  * (`construct` while the query function builds its frame, `action` during
  * the timed write). A `QueryExecutionListener` reads the planning phases
  * of each timed action, found by the op tag `Action.run` puts in the write
  * options. */
class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val counters = new ConcurrentHashMap[Key, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, Key]()
  /** planning ms of each timed action, by op tag (`<pass>|<op>`); query
    * executions without a tag are summed under `<pass>|*` */
  val planMs = new ConcurrentHashMap[String, java.lang.Double]()
  /** the pass being traced; `detach` drains the bus, so every event of a
    * pass is delivered before the next pass is attached */
  @volatile private var pass = -1

  private def at(k: Key): Counters = counters.computeIfAbsent(k, _ => new Counters)

  private def keyOf(p: java.util.Properties): Key =
    if (p == null) Key(-1, "none", "")
    else Key(Option(p.getProperty(PassProp)).map(_.toInt).getOrElse(-1),
      Option(p.getProperty(PhaseProp)).getOrElse("none"),
      Option(p.getProperty("spark.jobGroup.id")).getOrElse(""))

  override def onJobStart(e: SparkListenerJobStart): Unit = at(keyOf(e.properties)).jobs += 1

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val k = keyOf(e.properties)
    stageKey.put(e.stageInfo.stageId, k)
    at(k).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = stageKey.get(e.stageId)
    val m = e.taskMetrics
    if (k != null && m != null) {
      val c = at(k)
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0) c.scanTasks += 1
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    tagOf(qe.logical) match {
      case Some(tag) => planMs.merge(tag, ms, (a, b) => math.max(a, b))
      case None => planMs.merge(s"$pass|*", ms, (a, b) => a + b)
    }
  }

  /** Planning seconds of the timed actions of pass `p`. A pass of one
    * untagged operation (an ETL refresh: write, catalog statements, read)
    * counts every query execution it ran. */
  def planS(p: Int, ops: Seq[String]): Double = {
    def get(k: String) = Option(planMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val tagged = ops.map(o => get(s"$p|$o")).sum
    (if (tagged == 0.0 && ops.size == 1) get(s"$p|*") else tagged) / 1e3
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** One record per operation (job group) of pass `p`: jobs, stages,
    * tasks, planning ms, executor run/CPU/GC ms, shuffle read/write, spill
    * and the jobs run while its frame was built. */
  def perOp(p: Int): Json = {
    val out = new Json
    counters.asScala.keys.filter(_.pass == p).map(_.group).toSeq.distinct.sorted.foreach { g =>
      val c = sum(k => k.pass == p && k.group == g)
      val j = new Json
      j.num("jobs", c.jobs.toDouble); j.num("stages", c.stages.toDouble)
      j.num("tasks", c.tasks.toDouble)
      j.num("plan_ms", Option(planMs.get(s"$p|${g.stripPrefix("graft-")}"))
        .map(_.doubleValue).getOrElse(0.0))
      j.num("run_ms", c.runMs.toDouble); j.num("cpu_ms", c.cpuNs / 1e6)
      j.num("gc_ms", c.gcMs.toDouble)
      j.num("shuffle_read_mb", c.shuffleRead / 1e6)
      j.num("shuffle_write_mb", c.shuffleWrite / 1e6)
      j.num("spill_mb", c.spill / 1e6)
      j.num("construct_jobs",
        sum(k => k.pass == p && k.group == g && k.phase == "construct").jobs.toDouble)
      out.raw(g.stripPrefix("graft-"), j.render)
    }
    out
  }

  /** Counters of every key matching `p`, summed. */
  def sum(p: Key => Boolean): Counters =
    counters.asScala.filter(kv => p(kv._1)).values.foldLeft(new Counters)(_ + _)
}

object Trace {
  val PassProp = "perfbench.pass"
  val PhaseProp = "perfbench.phase"

  case class Key(pass: Int, phase: String, group: String)

  class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, scanTasks, output = 0L
    def +(o: Counters): Counters = {
      val r = new Counters
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
      r.runMs = runMs + o.runMs; r.cpuNs = cpuNs + o.cpuNs; r.gcMs = gcMs + o.gcMs
      r.shuffleRead = shuffleRead + o.shuffleRead
      r.shuffleWrite = shuffleWrite + o.shuffleWrite
      r.spill = spill + o.spill; r.input = input + o.input
      r.scanTasks = scanTasks + o.scanTasks; r.output = output + o.output
      r
    }
  }

  private def tagOf(plan: LogicalPlan): Option[String] = plan.collectFirst {
    case o: OverwriteByExpression if o.writeOptions.contains(Action.TagOption) =>
      o.writeOptions(Action.TagOption)
    case a: AppendData if a.writeOptions.contains(Action.TagOption) =>
      a.writeOptions(Action.TagOption)
  }

  def attach(spark: SparkSession, t: Trace, pass: Int): Unit = {
    t.pass = pass
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def detach(spark: SparkSession, t: Trace): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** Marks the submitting thread's jobs; threads it starts inherit it. */
  def mark(spark: SparkSession, pass: Int, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(PassProp, pass.toString)
    spark.sparkContext.setLocalProperty(PhaseProp, phase)
  }
}
