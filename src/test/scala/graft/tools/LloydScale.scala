package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity

/** Times `Similarity.kmeansTrain` at a production-shaped size
  * (Test/runMain graft.tools.LloydScale [nlist] [dim] [partitions]
  * [rowsPerPartition] [reps]; defaults 1024 128 200 128 3): a cached
  * training sample of generated vectors, vector i next to centroid
  * i mod nlist, trained for up to two Lloyd rounds from seeds 0.05 off
  * the generating centroids in every dim.
  * Prints one line per rep: wall ms, jobs and submitted stages.
  */
object LloydScale {
  def main(args: Array[String]): Unit = {
    val Seq(nlist, dim, parts, perPart, reps) =
      args.map(_.toInt).toSeq ++ Seq(1024, 128, 200, 128, 3).drop(args.length)
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-lloyd-scale")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def cent(c: Int): Seq[Double] =
      Seq.tabulate(dim)(d => ((c * 7919L + d * 104729L) % 10007) / 40.0)
    val seeds = (0 until nlist).map(c => (c.toLong, cent(c).map(_ + 0.05))).toDF("cid", "cv")
    val vecs = spark.sparkContext.parallelize(0 until parts * perPart, parts)
      .map(i => (i.toLong, cent(i % nlist).zipWithIndex.map { case (x, d) =>
        x + ((i * 7 + d * 3) % 13 - 6) / 1000.0 }))
      .toDF("vec_id", "v").cache()
    vecs.count()

    val jobs, stages = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })
    println(s"nlist=$nlist dim=$dim partitions=${vecs.rdd.getNumPartitions} " +
      s"rows=${parts * perPart}")
    for (rep <- 1 to reps) {
      Thread.sleep(500)
      Seq(jobs, stages).foreach(_.set(0))
      val t0 = System.nanoTime()
      val (_, hist) = Similarity.kmeansTrain(vecs, seeds, maxIters = 2, relTol = 0.0)
      val ms = (System.nanoTime() - t0) / 1e6
      Thread.sleep(500)
      println(f"rep $rep: kmeansTrain ${hist.size} entries ${ms}%.0f ms, " +
        s"jobs=${jobs.get()} stages=${stages.get()} hist=${hist.map(h => f"$h%.6g").mkString(",")}")
    }
    spark.stop()
  }
}
