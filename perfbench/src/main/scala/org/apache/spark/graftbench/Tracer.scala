package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of a traced key run. Times are milliseconds since the key began. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int)

/** Counters and spans of one traced key execution. */
final class KeyTrace(val key: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
  def apply(name: String): Double = counters.getOrElse(name, 0.0)
}

/** Per-layer tracer. Attaches a `SparkListener` and a `QueryExecutionListener`
  * from outside the program and attributes every event between [[begin]] and
  * [[end]] to the key being run; one key runs at a time. It lives under
  * `org.apache.spark` because draining the listener bus after each key
  * (`listenerBus.waitUntilEmpty`) is package-private. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val lock = new Object
  private var cur: KeyTrace = _
  private var keyStartMs = 0.0
  private var constructEndMs = Double.MaxValue
  private val jobIntervals = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val openJobs = mutable.Map.empty[Int, Double]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private var constructJobs = 0

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private var gc0 = 0L
  private var compileNs0 = 0L
  private var classes0 = 0L
  private var t0Ns = 0L
  private var tConstructNs = 0L

  /** Starts attributing events to `key`. */
  def begin(key: String): Unit = {
    drain()
    lock.synchronized {
      cur = new KeyTrace(key)
      jobIntervals.clear(); openJobs.clear(); stageToJob.clear()
      constructJobs = 0
      keyStartMs = System.currentTimeMillis().toDouble
      constructEndMs = Double.MaxValue
    }
    gc0 = gcMs()
    compileNs0 = CodeGenerator.compileTime
    classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    t0Ns = System.nanoTime()
  }

  /** Marks the end of query construction (the query function returned). */
  def constructed(): Unit = {
    tConstructNs = System.nanoTime()
    lock.synchronized { constructEndMs = System.currentTimeMillis().toDouble }
  }

  /** Ends the key: drains the bus until every started job has ended, then
    * closes the record. `rounds` is the operator's executed-round count. */
  def end(rounds: Option[Int]): KeyTrace = {
    val t2Ns = System.nanoTime()
    val deadline = System.nanoTime() + 10000000000L
    drain()
    while (lock.synchronized(openJobs.nonEmpty) && System.nanoTime() < deadline) {
      Thread.sleep(2); drain()
    }
    val k = lock.synchronized { val k = cur; cur = null; k }
    val wallS = (t2Ns - t0Ns) / 1e9
    val constructS = (tConstructNs - t0Ns) / 1e9
    k.spans += Span(0, "key", 0.0, wallS * 1000, -1)
    k.spans += Span(1, "queries.construct", 0.0, constructS * 1000, 0)
    k.spans += Span(2, "action", constructS * 1000, wallS * 1000, 0)
    val union = unionS(jobIntervals.map(j => (j._2, j._3)).toSeq)
    k.add("wall_s", wallS)
    k.add("queries.construct_s", constructS)
    k.add("queries.construct_jobs", constructJobs)
    k.add("scheduler.job_wall_s", union)
    k.add("scheduler.driver_s", math.max(0.0, wallS - union))
    k.add("tasks.cpu_util", if (union > 0) k("tasks.cpu_s") / (union * cores) else 0.0)
    k.add("codegen.compile_s", (CodeGenerator.compileTime - compileNs0) / 1e9)
    k.add("codegen.classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
    k.add("jvm.gc_s", (gcMs() - gc0) / 1e3)
    k.add("operators.rounds", rounds.getOrElse(0).toDouble)
    k
  }

  private def unionS(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (s, e) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (s.isNaN || a > e) { if (!s.isNaN) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (!s.isNaN) total += e - s
    total / 1000.0
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = lock.synchronized {
    if (cur != null) {
      openJobs(ev.jobId) = ev.time.toDouble
      ev.stageIds.foreach(stageToJob(_) = ev.jobId)
      if (ev.time <= constructEndMs) constructJobs += 1
      cur.add("scheduler.jobs", 1)
    }
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = lock.synchronized {
    if (cur != null) openJobs.remove(ev.jobId).foreach { st =>
      jobIntervals += ((ev.jobId, st, ev.time.toDouble))
      val parent = if (st <= constructEndMs) 1 else 2
      cur.spans += Span(1000 + ev.jobId, s"job ${ev.jobId}", st - keyStartMs, ev.time - keyStartMs, parent)
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = lock.synchronized {
    if (cur != null) {
      val si = ev.stageInfo
      cur.add("scheduler.stages", 1)
      val parent = stageToJob.get(si.stageId).map(1000 + _).getOrElse(0)
      for (s <- si.submissionTime; e <- si.completionTime)
        cur.spans += Span(1000000 + si.stageId, s"stage ${si.stageId}", s - keyStartMs, e - keyStartMs, parent)
    }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (cur != null && ev.taskMetrics != null) {
      val m = ev.taskMetrics
      cur.add("scheduler.tasks", 1)
      cur.add("tasks.run_s", m.executorRunTime / 1e3)
      cur.add("tasks.cpu_s", m.executorCpuTime / 1e9)
      cur.add("tasks.gc_s", m.jvmGCTime / 1e3)
      cur.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      cur.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      cur.add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = lock.synchronized {
    if (cur != null) qe.tracker.phases.foreach { case (phase, p) =>
      cur.add(s"catalyst.${phase}_s", p.durationMs / 1e3)
    }
  }
}
