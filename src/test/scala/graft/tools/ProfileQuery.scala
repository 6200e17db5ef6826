package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-STAGE dissection of a declared query: run it through the bench's
  * noop sink and print, for every stage, the executor run time, GC,
  * shuffle read/write bytes, input bytes, task count, and the stage
  * name — the "where does the time actually go" evidence the r17
  * optimization round works from (guide §1/§7).
  *
  * Usage: runMain graft.tools.ProfileQuery <q1,q2,...> [runs]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_SUBSTRATE=1 → set the bench substrate property.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names0 = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    if (sys.env.get("SPARK_GRAFT_SUBSTRATE").contains("1")) {
      val dir = graft.TempDirs.create("graft-profile-substrate")
      sys.props("graft.bench.substrate") = dir.toString
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class St(name: String, execMs: Long, gcMs: Long,
        shufRead: Long, shufWrite: Long, input: Long, tasks: Int,
        outRows: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.synchronized {
          stages += St(sc.stageInfo.name.takeWhile(_ != '\n'),
            m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead, sc.stageInfo.numTasks,
            m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    val qs = graft.SparkEntry.queries
    names0.foreach { n0 =>
      val full = qs.keys.toSeq.sorted.find(_.startsWith(n0)).getOrElse(n0)
      val fn = qs(full)
      (1 to runs).foreach { r =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(100)
        val snap = stages.synchronized(stages.toList)
        println(f"== $full run $r: wall $wall%.2f s, " +
          f"exec ${snap.map(_.execMs).sum / 1e3}%.1f s, " +
          f"gc ${snap.map(_.gcMs).sum / 1e3}%.1f s, stages ${snap.size}")
        snap.sortBy(-_.execMs).take(14).foreach { s =>
          println(f"   exec ${s.execMs / 1e3}%8.2f s  gc ${s.gcMs / 1e3}%6.2f" +
            f"  sr ${s.shufRead / 1048576.0}%8.1fMB  sw ${s.shufWrite / 1048576.0}%8.1fMB" +
            f"  swRows ${s.outRows}%10d  in ${s.input / 1048576.0}%8.1fMB" +
            f"  tasks ${s.tasks}%4d  ${s.name.take(70)}")
        }
        try spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
