package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.VariantAnnotator

/** Manual drive of spark.read.format("vcf"): real 1000-genomes file →
  * pushdown → annotate, plus failure-mode probes.
  */
object DsV2Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val real = graft.ChromFixture.chr22

    val df = spark.read.format("vcf").load(real)
      .filter(col("pos") >= 16100000 && col("pos") < 16200000)
    println(s"[dsv2] filtered rows=${df.count()}")
    println("[dsv2] scan: " + df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("VcfScan")).getOrElse("NOT FOUND"))

    val ann = VariantAnnotator.annotate(
      df, VariantAnnotator.Options(dropHomRef = true, formatKeys = Some(Seq("GT"))))
    println("[dsv2] annotated via format(\"vcf\"):")
    ann.groupBy("zygosity").count().orderBy("zygosity").collect()
      .foreach(r => println(s"[dsv2]   ${r.getString(0)} ${r.getLong(1)}"))

    // probe: nonexistent path
    try {
      spark.read.format("vcf").load("/does/not/exist.vcf").count()
      println("[dsv2] PROBE-MISS: no error for missing path")
    } catch {
      case e: Exception =>
        println(s"[dsv2] missing path → ${e.getClass.getSimpleName}: ${e.getMessage.take(80)}")
    }
    // probe: directory containing the file also works (glob semantics)
    graft.ChromFixture.titin
    val dir = spark.read.format("vcf")
      .load(new java.io.File(real).getParent)
    println(s"[dsv2] directory load rows=${dir.count()} (both test files)")
    spark.stop()
  }
}
