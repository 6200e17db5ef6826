package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VariantAnnotator
import graft.sources.{BcfReader, VcfReader}
import graft.sources.BcfReader.BcfHeader

/** Read contract over the hand-encoded [[BcfFixture]]: the `.bcf`
  * reads ROW-IDENTICAL to its `.vcf` twin, through the raw wide frame
  * AND through the full annotate chain (no htslib in this environment,
  * so the twin text is the ground truth).
  */
class BcfReaderSpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = TempDirs.create("graft-bcf")
  private lazy val bcfPath = BcfFixture.buildBcf(tmp)
  private lazy val vcfPath = {
    val f = tmp.resolve("twin.vcf")
    java.nio.file.Files.write(f,
      (BcfFixture.twinVcfLines.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  test("BCF reads row-identical to its VCF twin (wide frame): every " +
      "typed class — widths, count escape, flags, shared dict, float " +
      "rendering, GT phase/ploidy/missing, '.'-classes — decodes to " +
      "the exact text fields") {
    val cols = Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter",
      "info", "format", "genotypes")
    val fromBcf = spark.read.format("bcf").load(bcfPath)
      .select(cols.head, cols.tail: _*).collect().toSet
    val fromVcf = spark.read.format("vcf").load(vcfPath)
      .select(cols.head, cols.tail: _*).collect().toSet
    assert(fromBcf.size === 4)
    assert(fromBcf === fromVcf)
  }

  test("BCF metadata matches the VCF twin's (samples, columns) and " +
      "the annotate chain is row-identical end-to-end") {
    val mB = VcfReader.fromHeaderLines(
      header(bcfPath).text.split("\n").toSeq.filter(_.nonEmpty))
    val mV = VcfReader.metadata(spark, vcfPath)
    assert(mB.samples === Seq("S1", "S2", "S3"))
    assert(mB.columns === mV.columns)
    def ann(df: org.apache.spark.sql.DataFrame) =
      VariantAnnotator.annotate(df,
        VariantAnnotator.Options(dropHomRef = false,
          formatKeys = Some(Seq("DP", "AD", "GQ", "GT"))))
        .collect().map(_.toString).sorted.toSeq
    val a = ann(spark.read.format("bcf").load(bcfPath))
    val b = ann(VcfReader.read(spark, vcfPath))
    assert(a === b)
    assert(a.nonEmpty)
    // a non-matching path reports clearly, not as an empty frame
    val e = intercept[Exception] {
      spark.read.format("bcf").load("/nonexistent/nope*.bcf").count()
    }
    assert(e.getMessage.contains("bcf path does not exist"), e.getMessage)
  }

  private def header(path: String): BcfHeader = {
    val in = new java.io.DataInputStream(new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))))
    try BcfReader.readHeader(in) finally in.close()
  }

  test("header dictionary honors explicit IDX overrides and keeps " +
      "PASS implicitly first") {
    val h = BcfReader.decodeHeaderText(Seq(
      "##fileformat=VCFv4.2",
      "##FILTER=<ID=zz,Description=\"z\",IDX=5>",
      "##INFO=<ID=aa,Number=1,Type=Integer,Description=\"a\">",
      "##contig=<ID=chrX,IDX=3>",
      "##contig=<ID=chrY>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tZ1"
    ).mkString("\n"))
    assert(h.dict(0) === "PASS")
    assert(h.dict(5) === "zz")
    assert(h.dict(6) === "aa") // appended after the explicit max
    assert(h.contigs(3) === "chrX")
    assert(h.contigs(4) === "chrY")
    assert(h.samples === Seq("Z1"))
  }
}
