package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `trace` is the op index every span of one op
  * shares; `parent` is the id of the enclosing span (-1 for an op). Times
  * are epoch milliseconds. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      trace: Int, start: Double, end: Double)

/** The benchmark's own tracing: a SparkListener and a
  * QueryExecutionListener installed on the session, plus spans the
  * harness records around its calls into each layer (op, and the phases
  * inside it). Everything is kept in memory; the harness writes the spans
  * when the run ends.
  *
  * Attribution: the harness drains the listener bus before an op starts
  * and after it ends, so every event delivered while `current` is set was
  * caused by that op (the client is a single closed loop). */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  import Tracer.{JobRec, PlanRec, StageRec, TaskRec}

  @volatile private var current: Int = -1
  private val spans = ArrayBuffer[Span]()
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val plans = ArrayBuffer[PlanRec]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  // SQL execution id of each job, and the call site that started each
  // execution: stages that AQE or a broadcast submits from Spark's own
  // threads carry no program frames, their execution's start does
  private val jobExec = scala.collection.mutable.Map[Int, Long]()
  private val execSite = scala.collection.mutable.Map[Long, String]()

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** High-resolution epoch milliseconds, comparable to Spark's event times. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def drain(): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  // ------------------------------------------------------------ op scope

  /** Starts op `trace`: clears per-op event buffers and opens its span. */
  def beginOp(trace: Int, name: String, kind: String): Int = {
    drain()
    synchronized {
      jobs.clear(); stages.clear(); tasks.clear(); plans.clear()
      stageJob.clear(); jobExec.clear(); execSite.clear()
    }
    current = trace
    open(name, kind, -1, trace)
  }

  def open(name: String, kind: String, parent: Int, trace: Int): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, name, kind, parent, trace, now(), Double.NaN)
      id
    }

  def close(id: Int): Unit = synchronized {
    spans(id) = spans(id).copy(end = now())
  }

  /** Ends the op: waits for its events, splits its execute phase into
    * plan and execute, turns the events into job and stage spans, and
    * returns the op's counters. */
  def endOp(opSpan: Int): Map[String, Double] = {
    close(opSpan)
    drain()
    current = -1
    synchronized {
      val op = spans(opSpan)
      splitPlan(opSpan)
      val phases = spans.filter(s => s.parent == opSpan && s.kind == "phase")
        .toList
      val jobSpan = jobs.map { j =>
        val end = if (j.end > 0) j.end.toDouble else op.end
        val parent = phases.find(p => p.start <= j.start && j.start <= p.end)
          .map(_.id).getOrElse(opSpan)
        val id = spans.size
        spans += Span(id, s"job ${j.id}", "job", parent, op.trace, j.start, end)
        j.id -> id
      }.toMap
      stages.foreach { s =>
        val parent = jobSpan.getOrElse(s.job, opSpan)
        spans += Span(spans.size, s"stage ${s.id} ${Tracer.callSite(s.details)}",
          "stage", parent, op.trace, s.start, s.end)
      }
      counters(op, phases)
    }
  }

  /** The harness times the op's final action as one execute phase; the
    * action optimizes and plans its query before running it. The action's
    * own planning tracker (optimization start to planning end) becomes a
    * plan phase, and the execute phase starts where planning ended. */
  private def splitPlan(opSpan: Int): Unit =
    for {
      ex <- spans.find(s => s.parent == opSpan && s.kind == "phase" && s.name == "execute")
      p <- plans.lastOption
      if !p.planStart.isNaN
    } {
      val start = p.planStart.max(ex.start).min(ex.end)
      val end = p.planEnd.max(start).min(ex.end)
      spans(ex.id) = ex.copy(start = end)
      spans += Span(spans.size, "plan", "phase", opSpan, ex.trace, start, end)
    }

  private def counters(op: Span, phases: List[Span]): Map[String, Double] = {
    def phase(n: String) = phases.find(_.name == n)
    val busy = Tracer.union(tasks.map(t => (t.launch.toDouble, t.finish.toDouble)).toSeq)
    // execute-phase time with no task running; ops without an execute
    // phase (ledger uploads) count their whole span
    val idle = phase("execute").orElse(Some(op)).map { p =>
      (p.end - p.start) - Tracer.covered(busy, p.start, p.end)
    }.get / 1e3
    val jobIntervals = Tracer.union(jobs.map(j =>
      (j.start.toDouble, if (j.end > 0) j.end.toDouble else op.end)).toSeq)
    val buildJobs = phase("build").map(p =>
      jobs.count(j => p.start <= j.start && j.start <= p.end)).getOrElse(0)
    def stageTime(pred: String => Boolean): Double =
      Tracer.covered(Tracer.union(stages.filter(s => pred(s.details))
        .map(s => (s.start.toDouble, s.end.toDouble)).toSeq),
        op.start, op.end) / 1e3
    val ledgerBuild = phase("ledger.build")
    val m = Map[String, Double](
      "op_s" -> (op.end - op.start) / 1e3,
      "queries.build_s" -> phase("build").map(p => (p.end - p.start) / 1e3).getOrElse(0.0),
      "queries.build_jobs" -> buildJobs,
      "plan.plan_s" -> phase("plan").map(p => (p.end - p.start) / 1e3).getOrElse(0.0),
      "plan.exchanges" -> plans.lastOption.map(_.exchanges.toDouble).getOrElse(0.0),
      "plan.broadcasts" -> plans.lastOption.map(_.broadcasts.toDouble).getOrElse(0.0),
      "exec.jobs" -> jobs.size,
      "exec.stages" -> stages.size,
      "exec.tasks" -> tasks.size,
      "exec.idle_s" -> idle,
      "exec.task_overhead_s" ->
        tasks.map(t => (t.finish - t.launch - t.runMs).max(0L)).sum / 1e3,
      "exec.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
      "exec.spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "exec.input_mb" -> tasks.map(_.input).sum / 1e6,
      "ledger.ingest_s" -> phase("ledger.ingest").map(p => (p.end - p.start) / 1e3).getOrElse(0.0),
      "ledger.build_s" -> ledgerBuild.map(p => (p.end - p.start) / 1e3).getOrElse(0.0),
      "ledger.dim_s" -> stageTime(_.contains("Warehouse.loadDim")),
      "ledger.fact_s" -> stageTime(_.contains("Warehouse.loadFato")),
      "ledger.driver_s" -> ledgerBuild.map(p =>
        ((p.end - p.start) - Tracer.covered(jobIntervals, p.start, p.end)) / 1e3)
        .getOrElse(0.0))
    m
  }

  // ------------------------------------------------------------ listeners

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (current >= 0) synchronized {
      jobs += JobRec(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => jobExec(e.jobId) = id.toLong)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if current >= 0 => synchronized {
      val own = if (s.details.contains("graft.")) Some(s.details) else None
      own.orElse(s.rootExecutionId.flatMap(execSite.get))
        .foreach(d => execSite(s.executionId) = d)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (current >= 0) synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (current >= 0) synchronized {
      val i = e.stageInfo
      val start = i.submissionTime.getOrElse(0L)
      val job = stageJob.getOrElse(i.stageId, -1)
      val site = jobExec.get(job).flatMap(execSite.get).getOrElse(i.details)
      stages += StageRec(i.stageId, job, start, i.completionTime.getOrElse(start), site)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (current >= 0 && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      val sr = m.shuffleReadMetrics
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, m.memoryBytesSpilled,
        m.inputMetrics.bytesRead)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (current >= 0) {
      val (shuffles, broadcasts) = Tracer.exchanges(qe.executedPlan)
      val ph = qe.tracker.phases
      val interval = for {
        o <- ph.get(QueryPlanningTracker.OPTIMIZATION)
        p <- ph.get(QueryPlanningTracker.PLANNING)
      } yield (o.startTimeMs.toDouble, p.endTimeMs.toDouble)
      val (start, end) = interval.getOrElse((Double.NaN, Double.NaN))
      synchronized(plans += PlanRec(shuffles, broadcasts, start, end))
    }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  private final case class TaskRec(stage: Int, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, input: Long)
  private final case class StageRec(id: Int, job: Int, start: Long,
    end: Long, details: String)
  private final case class JobRec(id: Int, start: Long, var end: Long)
  /** The final plan's exchanges, and when the query was optimized and
    * planned (epoch ms; NaN when the tracker has no such phases). */
  private final case class PlanRec(exchanges: Int, broadcasts: Int,
    planStart: Double, planEnd: Double)

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** (shuffle exchanges, broadcast exchanges) in a final adaptive plan,
    * subqueries included. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    val broadcasts = collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }
    (shuffles.size, broadcasts.size)
  }

  /** The program frame that names a stage: its warehouse loader if it
    * has one, e.g. `graft.ledger.Warehouse.loadFato(Warehouse.scala:231)`,
    * else its first program frame. */
  def callSite(details: String): String = {
    val frames = details.split("\n").map(_.trim)
    frames.find(_.contains("Warehouse.load"))
      .orElse(frames.find(_.startsWith("graft.")))
      .getOrElse(frames.headOption.getOrElse(""))
  }

  /** Merges intervals into disjoint, sorted ones. */
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((a, b) :: rest, (c, d)) if c <= b => (a, b.max(d)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Length of [lo, hi] covered by disjoint intervals `xs`. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    xs.map { case (a, b) => (b.min(hi) - a.max(lo)).max(0.0) }.sum
}
