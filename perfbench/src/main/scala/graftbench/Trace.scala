package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters for the jobs of one span. Task metrics arrive by job
  * group; plan metrics come from the final executed plan of each query the
  * span ran. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var firstJobMs = -1L
  var scanRows, scanMalformed = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleBytes += o.shuffleBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    scanRows += o.scanRows
    scanMalformed += o.scanMalformed
    if (firstJobMs < 0 || (o.firstJobMs >= 0 && o.firstJobMs < firstJobMs))
      firstJobMs = o.firstJobMs
  }
}

/** Process-wide JVM and codegen counters, read at span boundaries. */
final case class JvmSnap(codegenClasses: Long, codegenMs: Double,
    jitMs: Long, gcMs: Long, stealTicks: Long) {
  def -(o: JvmSnap): JvmSnap = JvmSnap(codegenClasses - o.codegenClasses,
    codegenMs - o.codegenMs, jitMs - o.jitMs, gcMs - o.gcMs,
    stealTicks - o.stealTicks)
}

object JvmSnap {
  import org.apache.spark.metrics.source.CodegenMetrics

  /** Sum of the compile-time histogram's retained samples. The reservoir
    * keeps the last 1028 compilations; beyond that the sum is estimated
    * from the retained mean. */
  private def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val kept = snap.getValues
    if (h.getCount <= kept.length) kept.sum.toDouble
    else snap.getMean * h.getCount
  }

  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  def now(): JvmSnap = JvmSnap(
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
    codegenMs(),
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum,
    stealTicks())
}

/** One traced call: name, wall interval, parent span, run id, and the
  * counters attributed to it (its own jobs only; see [[Tracer.subtree]]). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, startMs: Long) {
  var endNs = -1L
  val counters = new Counters
  var jvm: JvmSnap = _
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each graft layer, with Spark's
  * listener and plan metrics attributed to them. Disabled, [[span]] only
  * runs its body: the untraced run pays nothing. */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack = List.empty[Span]
  private var enabled = false

  // read from the listener thread while the client appends spans
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private def spanOfGroup(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("graftbench-"))
      .flatMap(g => Option(byId.get(g.stripPrefix("graftbench-").toInt)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfGroup(e.properties).foreach { s =>
        s.counters.synchronized {
          s.counters.jobs += 1
          if (s.counters.firstJobMs < 0) s.counters.firstJobMs = e.time
        }
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.counters.synchronized(s.counters.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val c = s.counters
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            c.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  /** Final-plan SQL metrics of every query. Plan callbacks carry no job
    * group, so they go to the innermost open span: spans drain the bus on
    * entry and exit, which delivers each query's callback while the span
    * that ran it is still innermost. */
  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      stack.headOption.foreach { s =>
        collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
          .filter(_.scan.getClass.getSimpleName == "VcfScan")
          .foreach { b =>
            val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            val bad = b.metrics.get("malformedLines").map(_.value).getOrElse(0L)
            s.counters.synchronized {
              s.counters.scanRows += rows
              s.counters.scanMalformed += bad
            }
          }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    BusDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      BusDrain(sc)
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime(), System.currentTimeMillis())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setJobGroup("graftbench-" + s.id, name)
      val j0 = JvmSnap.now()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.jvm = JvmSnap.now() - j0
        BusDrain(sc)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup("graftbench-" + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Counters of a span and all its descendants. */
  def subtree(s: Span): Counters = {
    val c = new Counters
    def add(x: Span): Unit = { c += x.counters; children(x).foreach(add) }
    add(s)
    c
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    iv.foreach { case (b, e) =>
      val lo = math.max(b, end)
      if (e > lo) { covered += e - lo; end = e }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans and per-name self time, for trace.json. */
  def asMap: Map[String, Any] = Map(
    "run" -> runId,
    "spans" -> spans.map { s =>
      val c = s.counters
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_ms" -> c.taskMs, "shuffle_bytes" -> c.shuffleBytes,
        "scan_rows" -> c.scanRows)
    }.toSeq,
    "self_s_by_name" -> spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(selfSeconds).sum })
}
