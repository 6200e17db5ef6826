package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.VariantAnnotator
import graft.sources.VcfReader

/** Manual end-to-end drive (Test/runMain graft.tools.AnnotateDemo):
  * reads the reference repo's real 1000-genomes VCF through the public
  * API and annotates it, printing the zygosity/vartype profile.
  */
object AnnotateDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val real = graft.ChromFixture.chr22
    val meta = VcfReader.metadata(spark, real)
    println(s"samples=${meta.samples.size} cols=${meta.columns.size} " +
      s"headerKv=${meta.headerKv.size}")

    val two = meta.samples.take(3)
    val wide = VcfReader.read(spark, real, sampleIds = Some(two))
    val ann = VariantAnnotator.annotate(
      wide, VariantAnnotator.Options(dropHomRef = true,
        formatKeys = Some(Seq("GT"))))
    println("=== annotated (dropHomRef) zygosity × vartype1 ===")
    ann.groupBy("zygosity", "vartype1").count()
      .orderBy("zygosity", "vartype1").show(50, false)
    println("=== sample rows ===")
    ann.orderBy("pos").show(5, false)

    // probe: malformed lines (bad GT index, truncated fields)
    import spark.implicits._
    val bad = Seq(
      "chr22\t123\trsX\tA\tG\t10\tPASS\t.\tGT\t7/9",
      "22\t456\trsY\tAC\tA\t10\tPASS\t.\tGT\t1|1").toDF("value")
    val cols = Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
      "INFO", "FORMAT", "S1")
    val parsed = VcfReader.parseLines(bad, cols, Seq("S1"))
    println("=== malformed GT index probe (expect NULL alleles, no crash) ===")
    VariantAnnotator.annotate(parsed,
      VariantAnnotator.Options(dropHomRef = false, formatKeys = Some(Seq("GT"))))
      .select("chrom", "pos", "gt", "a1", "a2", "zygosity").show(false)
    spark.stop()
  }
}
