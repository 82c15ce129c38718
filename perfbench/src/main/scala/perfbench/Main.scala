package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Command-line options; `run.py` passes all of them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, small: String, work: String,
                      out: String, slots: Int, population: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("small"), m("work"), m("out"),
      m("slots").toInt, m("population"))
  }
}

/** One timed operation as the client saw it. */
final case class OpRec(name: String, kind: String, pass: Int, latency: Double,
                       ok: Boolean, traced: Boolean, load1: Double, error: String)

/** Collects what a run measures and writes it as one JSON file for
  * `run.py`, which checks outputs and computes the reported metrics. */
final class Recorder(val o: Opts, val spark: SparkSession) {
  val tracer: Option[Tracer] = if (o.trace) Some(Tracer.install(spark)) else None
  val ops = ArrayBuffer[OpRec]()
  val opCounters = ArrayBuffer[(OpRec, Map[String, Double])]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val extra = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Double]()
  var firstOpMs: Long = -1L
  var pass = 0
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = { var s = 0L; gcBeans.forEach(b => s += b.getCollectionTime.max(0L)); s }

  /** Whether op `i` of the current pass runs traced. A traced run
    * alternates traced and untraced ops, swapping the parity every pass,
    * so each op has both kinds of sample and the difference between them
    * is the tracing overhead. */
  def tracedAt(i: Int): Boolean = tracer.isDefined && (i + pass) % 2 == 0

  /** Times `body` as one op. `body` gets the span scope to open phases
    * in (a no-op when the op is untraced). Failures are recorded, never
    * thrown: a failed op counts against the run, it does not end it. */
  def op(name: String, kind: String, traced: Boolean)(body: Phases => Unit): OpRec = {
    if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    val load = Host.load1()
    val t = tracer.filter(_ => traced)
    val span = t.map(_.beginOp(ops.size, name, kind))
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val err = try { body(new Phases(t, span.getOrElse(-1), ops.size)); "" }
      catch { case NonFatal(e) => e.toString.take(500) }
    val latency = (System.nanoTime() - t0) / 1e9
    val rec = OpRec(name, kind, pass, latency, err.isEmpty, t.isDefined, load, err)
    ops += rec
    System.err.println(f"[perfbench] $kind%-8s $name%-28s $latency%7.3f s" +
      (if (t.isDefined) " traced" else "") + (if (err.isEmpty) "" else s" FAILED $err"))
    for (tr <- t; s <- span) {
      val c = tr.endOp(s) ++ Operators.pins(spark) + ("exec.gc_s" -> (gcMs - gc0) / 1e3)
      opCounters += rec -> c
    }
    Operators.release(spark)
    rec
  }

  /** Marks op `name` wrong after the fact (a failed output check). */
  def fail(name: String, why: String): Unit =
    checks += Map("name" -> name, "kind" -> "failed", "error" -> why)

  def write(): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val body = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "jvm_start_ms" -> rt.getStartTime, "first_op_ms" -> firstOpMs,
      "host" -> Host.describe(spark, o.slots),
      "peak_rss_mb" -> Host.peakRssMb(),
      "ops" -> ops.map(r => Map("name" -> r.name, "kind" -> r.kind,
        "pass" -> r.pass, "latency_s" -> r.latency, "ok" -> r.ok,
        "traced" -> r.traced, "load1" -> r.load1, "error" -> r.error)),
      "op_counters" -> opCounters.map { case (r, c) =>
        Map("name" -> r.name, "kind" -> r.kind, "counters" -> c) },
      "checks" -> checks.toSeq,
      "layers" -> layers,
      "extra" -> extra,
      "spans" -> tracer.map(_.allSpans.map(s => Map("id" -> s.id,
        "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "trace" -> s.trace, "start_ms" -> s.start, "end_ms" -> s.end))).getOrElse(Nil))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(body)
    Files.write(Paths.get(o.out), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Opens phase spans inside a traced op; does nothing for untraced ops. */
final class Phases(t: Option[Tracer], opSpan: Int, trace: Int) {
  def apply[T](name: String)(body: => T): T = t match {
    case None => body
    case Some(tr) =>
      val id = tr.open(name, "phase", opSpan, trace)
      try body finally tr.close(id)
  }
}

object Operators {
  /** Persistent or checkpointed RDDs still alive when an op returns,
    * and their stored size. */
  def pins(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val live = sc.getPersistentRDDs.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => live(i.id))
      .map(i => i.memSize + i.diskSize).sum
    Map("operators.pins" -> live.size.toDouble, "operators.pinned_mb" -> bytes / 1e6)
  }

  /** Returns the session to a clean state between ops: the graph and
    * basket operators leave their pins for the session's runner to drop. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Host {
  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** VmHWM of this process, the resident-set high-water mark. */
  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  def describe(spark: SparkSession, slots: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "slots" -> slots,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version)
}

object Main {
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[${o.slots}]")
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val loadStart = Host.load1()
    val spark = session(o)
    val rec = new Recorder(o, spark)
    rec.extra("session_ready_ms") = System.currentTimeMillis()
    try {
      o.workload match {
        case "bi-floor" => Workloads.biFloor(rec)
        case "corpus-heavy" => Workloads.corpusHeavy(rec)
        case "warehouse-load" => Workloads.warehouseLoad(rec)
        case "digests" => Workloads.digests(rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) Kernels.probe(rec)
      rec.extra("load1_start") = loadStart
      rec.extra("load1_end") = Host.load1()
      rec.write()
    } finally spark.stop()
  }
}
