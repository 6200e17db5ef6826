package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.DataSource

/** What one run measured: end-to-end metrics (tracing off) or per-layer
  * metrics (tracing on), plus receipts that explain them. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val receipts = mutable.LinkedHashMap.empty[String, Any]
  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** State shared by a workload's calls: the session, its inputs, the tracer
  * and the tally of checked operations. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val expect: JsonNode, val seconds: Double, val cores: Int,
    val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  /** Host steal (seconds, all CPUs) inside each timed region, in order. */
  val steal = mutable.ArrayBuffer.empty[Double]

  def file(name: String): String = new File(data, name).getPath

  /** Records the outcome of one check; false marks the operation failed. */
  def check(what: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok && notes.length < 20) notes += s"$what: $detail"
    ok
  }

  /** Tallies one operation's outcome. */
  def record(r: (Double, Boolean)): Unit = {
    attempted += 1
    if (!r._2) failed += 1
  }

  /** Times `body` (seconds), charging host steal to the timed region. */
  def timed[T](body: => T): (T, Double) = {
    val st = JvmSnap.stealTicks()
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    steal += (JvmSnap.stealTicks() - st) / 100.0
    (r, dt)
  }

  /** Closed loop, one client: runs `op` until `budget` seconds of wall have
    * passed, at least `min` times. `op` returns (wall seconds, all checks
    * passed). */
  def loop(budget: Double, min: Int = 1)(op: => (Double, Boolean)): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (budget * 1e9).toLong
    while (walls.length < min || System.nanoTime() < end) {
      val r = op
      record(r)
      walls += r._1
    }
    walls.toSeq
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, quartiles and every sample in run order, for the receipts. */
  def summary(xs: Seq[Double]): Map[String, Any] = Map(
    "n" -> xs.length, "p25" -> quantile(xs, 0.25),
    "p50" -> quantile(xs, 0.5), "p75" -> quantile(xs, 0.75),
    "all" -> xs.map(x => math.rint(x * 1e4) / 1e4))
}

/** Entry point of one benchmark run; see perfbench/README.md. */
object Main {
  /** Untimed work between a ready session and the timed loop: preparation
    * and warm-up operations. Operation walls keep falling for 15-30 s
    * after the session is ready, while the JIT compiles the hot paths;
    * 12 s takes the steepest part of that out and keeps a run within the
    * time its repetitions can afford. */
  val WarmUpSeconds = 12.0

  private val workloads: Map[String, Ctx => Workload] = Map(
    "vcf-annotate" -> (c => new VcfAnnotate(c)),
    "interval-join" -> (c => new IntervalJoin(c)),
    "corpus-dedup" -> (c => new CorpusDedup(c)))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = sys.props("graftbench.launch").toDouble * 1000
    val cores = args("cores").toInt
    val work = args("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the inputs are 0.1-2 MB: small splits keep every core busy
      .config("spark.sql.files.maxPartitionBytes", "384k")
      // graft's own Bench setting: an operation that runs more distinct
      // plans than Spark's default 100-entry codegen cache holds would
      // otherwise recompile every class on every operation
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    DataSource.lookupDataSource("vcf", spark.sessionState.conf)
    spark.range(1).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    val setupSteal = (JvmSnap.stealTicks() - sys.props("graftbench.launchSteal").toLong) / 100.0
    spark.sparkContext.setLogLevel("WARN")

    val trace = args("trace") == "1"
    val tracer = new Tracer(spark, s"${args("workload")}-${args("seed")}")
    val ctx = new Ctx(spark, args("data"), work,
      new ObjectMapper().readTree(new File(args("data"), "expect.json")),
      args("seconds").toDouble, cores, tracer)
    val report = new Report
    val w = workloads(args("workload"))(ctx)
    val ready = System.nanoTime()
    w.prepare()
    ctx.loop(WarmUpSeconds - (System.nanoTime() - ready) / 1e9, 2)(w.op())
    if (trace) w.traced(report) else w.untraced(report)

    if (!trace) report.metric("setup_s", setupS, "s")
    else {
      val traceFile = new File(work, "trace.json").getPath
      writeJson(traceFile, tracer.asMap)
      report.receipts("trace_file") = traceFile
    }
    report.receipts("setup_steal_s") = setupSteal
    report.receipts("steal_s") = ctx.steal.toSeq
    report.receipts("peak_rss_mb") = vmHwmMb()
    report.receipts("jvm_flags") = jvmFlags()
    writeResult(args("out"), ctx, report)
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  private def jvmFlags(): String = {
    val hs = ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val eff = Seq("MaxHeapSize", "CICompilerCount", "UseG1GC",
      "ReservedCodeCacheSize", "ActiveProcessorCount")
      .map(o => s"$o=${hs.getVMOption(o).getValue}")
    val in = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens"))
    (eff ++ in).mkString(" ")
  }

  private def writeResult(path: String, ctx: Ctx, r: Report): Unit =
    writeJson(path, mutable.LinkedHashMap(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "notes" -> ctx.notes.toSeq,
      "metrics" -> r.metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "receipts" -> r.receipts))

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)
}
