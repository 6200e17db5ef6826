package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for specs (one JVM-wide session, Spark-style). */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with files.maxPartitionBytes temporarily set, so small
    * fixtures split like a 100 GB file would at the default. */
  protected def withMaxSplit[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Jobs `body` starts, counted from the listener bus once it is quiet. */
  protected def jobsOf(body: => Unit): Int = jobsAndStagesOf(body).jobs

  /** Jobs `body` starts, stages it submits (a stage a job skips is not
    * submitted) and, of those, shuffle-map stages, counted like
    * [[jobsOf]]. Under AQE every shuffle stage runs as its own job, so
    * only `shuffles` tells a shuffle from a second action. */
  protected def jobsAndStagesOf(body: => Unit): SparkSpec.Counts = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val jobs, stages, shuffles = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        if (org.apache.spark.SparkInternals.isShuffleMap(s.stageInfo)) shuffles.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // a job's stages are submitted as it starts, so a quiet job count
    // also means quiet stage counts
    try {
      quiesce(jobs); Seq(jobs, stages, shuffles).foreach(_.set(0))
      body
      quiesce(jobs)
      SparkSpec.Counts(jobs.get(), stages.get(), shuffles.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `body` with the shared session's checkpoint directory set to a
    * fresh one, which `body` receives, and restores the previous setting
    * after: left set, every later suite's lineage cuts would turn durable.
    */
  protected def withCheckpointDir[A](body: String => A): A = {
    val sc = spark.sparkContext
    val old = sc.getCheckpointDir
    sc.setCheckpointDir(TempDirs.create("graft_ckpt").toString)
    try body(sc.getCheckpointDir.get)
    finally org.apache.spark.CheckpointDirs.restore(sc, old)
  }

  /** Wait until an async listener counter has been STABLE for several
    * consecutive windows — a fixed Thread.sleep races the listener bus
    * both ways (stray pre-reset events landing after the reset = false
    * failure; the measured query's trailing events landing after the
    * read = a real regression undercounted).
    */
  protected def quiesce(c: java.util.concurrent.atomic.AtomicInteger): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val v = c.get()
      if (v == last) stable += 1 else { stable = 0; last = v }
    }
  }
}

object SparkSpec {
  final case class Counts(jobs: Int, stages: Int, shuffles: Int)

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}

/** Reads a DataSource V2 scan's custom metrics after running its plan. */
object ScanMetrics {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  /** Collects `df`, then sums the `malformedLines` metric of every
    * `format("vcf")` scan in its executed plan. */
  def malformedLines(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b }
    require(scans.nonEmpty, s"no BatchScanExec in\n$plan")
    scans.map(_.metrics("malformedLines").value).sum
  }
}
