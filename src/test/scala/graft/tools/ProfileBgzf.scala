package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B the bgzf scan paths on the reference's real indexed chr22 file
  * (Test/runMain graft.tools.ProfileBgzf): index-driven voff-bounded
  * SPLIT scan (the r6 default for indexed bgzf) vs the single-partition
  * whole-file codec scan (forced by hiding the index via a symlink-free
  * copy). Medians of 5 — this host is bursty.
  */
object ProfileBgzf {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-profile-bgzf")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val real = graft.ChromFixture.chr22
    // unindexed twin: same bytes, no sibling index → whole-file path
    val dir = graft.TempDirs.create("graft_profile_bgzf")
    val noidx = dir.resolve("chr22.vcf.gz")
    java.nio.file.Files.copy(java.nio.file.Paths.get(real), noidx)

    def median(path: String): (Double, Int) = {
      val df = spark.read.format("vcf").load(path)
      val parts = df.rdd.getNumPartitions
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        df.select(count(lit(1)), sum(col("pos"))).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (times(2), parts)
    }

    val (wSplit, pSplit) = median(real)
    val (wWhole, pWhole) = median(noidx.toString)
    println(f"split: $pSplit%d partitions, median $wSplit%.3f s")
    println(f"whole: $pWhole%d partitions, median $wWhole%.3f s")
    println(f"speedup: ${wWhole / wSplit}%.2fx")
    spark.stop()
  }
}
