package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BcfReader, BcfWriter, VcfReader}
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

/** The BCF ENCODER contract (r13 verdict Missing #3 / next-round #4):
  * (1) the writer reproduces the hand-encoded [[BcfFixture]] BYTES for
  * the same rows — dictionary order, IDX rules, width bands, GT
  * vectors, sentinels, framing; (2) wide-frame → `format("bcf")` write
  * → read round-trips row-identical, with or without a header; (3)
  * the in-write `.csi` sibling lands in htslib's empty-aux `.bcf.csi`
  * shape and serves the reader's split/region planner.
  */
class BcfWriterSpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = TempDirs.create("graft-bcfw")

  test("encoder reproduces the hand-encoded fixture byte-for-byte: " +
      "prologue + all four records — every typed class the fixture " +
      "engineered in (widths, count escape, flag, char INFO, float " +
      "missing/integral, GT phase/ploidy/EOV, '.' classes, framing)") {
    val hdr = BcfReader.decodeHeaderText(BcfFixture.headerText)
    val got = new java.io.ByteArrayOutputStream()
    got.write(BcfWriter.encodePrologue(BcfFixture.headerText))
    // the four twin rows, exactly as the text VCF carries them
    val rows = Seq(
      ("1", 100, "rs1", "A", "T", "29.5", "PASS", "NS=3;DP=14;AF=0.5;DB",
        "GT:DP:AD", Seq("0|1:12:3,9", "1/1:14:0,14", "0/0:11:11,0")),
      ("chr2", 5000, ".", "G", "A,C", ".", "q10;s50",
        "DP=300;NS=100000;BIGV=1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16;NOTE=hi",
        "GT:GQ", Seq("1/2:17.25", "2|2:.", "./.:3")),
      ("1", 200, ".", "ACG", "A", "0", "PASS", "NS=2", "GT",
        Seq("1", "./.", "0")),
      ("1", 300, ".", "C", "<DEL>", "12.5", ".", ".", ".",
        Seq(".", ".", ".")))
    rows.foreach { case (c, p, i, r, a, q, f, inf, fmt, calls) =>
      got.write(BcfWriter.encodeRecord(hdr, c, p, i, r, a, q, f, inf,
        fmt, calls))
    }
    assert(got.toByteArray === BcfFixture.payloadBytes,
      "writer bytes diverge from the hand-encoded spec fixture")
  }

  test("wide-frame → format(\"bcf\") write → read round-trips " +
      "row-identical (sorted + indexed write; the '.csi' sibling exists " +
      "per shard in the empty-aux .bcf.csi shape)") {
    // the twin VCF read back through the TEXT path is the input frame
    val vcfPath = {
      val f = tmp.resolve("twin.vcf")
      java.nio.file.Files.write(f,
        (BcfFixture.twinVcfLines.mkString("\n") + "\n")
          .getBytes(StandardCharsets.UTF_8))
      f.toString
    }
    val df = VcfReader.read(spark, vcfPath)
    val outDir = tmp.resolve("landing").toString
    val sorted = df.repartitionByRange(2, col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
    sorted.write.format("bcf").mode("overwrite")
      .option("header", BcfFixture.headerText).save(outDir)
    val cols = Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter",
      "info", "format", "genotypes")
    val back = spark.read.format("bcf").load(outDir)
      .select(cols.head, cols.tail: _*).collect().toSet
    val orig = df.select(cols.head, cols.tail: _*).collect().toSet
    assert(back === orig)
    assert(back.size === 4)
    // every shard carries its .csi sibling, and it is the BCF shape
    // (empty aux — readable only via the contig-table fallback)
    val shards = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".bcf"))
    assert(shards.nonEmpty)
    shards.foreach { s =>
      val csi = new java.io.File(s.getPath + ".csi")
      assert(csi.exists, s"missing ${csi.getPath}")
    }
    // the empty-aux form must be rejected WITHOUT the contig table
    // (the non-tabix-CSI guard) and readable WITH it
    val fs = new org.apache.hadoop.fs.Path(shards.head.getPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val csiPath = new org.apache.hadoop.fs.Path(shards.head.getPath + ".csi")
    intercept[IllegalArgumentException] {
      graft.sources.v2.TabixIndex.readCsi(fs, csiPath)
    }
    val hdr = BcfReader.decodeHeaderText(BcfFixture.headerText)
    val idx = graft.sources.v2.TabixIndex.readCsi(fs, csiPath,
      Some(hdr.contigs))
    assert(idx.refs.nonEmpty)
  }

  test("trailing-drop canonicalization: a call with fewer subfields " +
      "than FORMAT declares round-trips with '.' in the dropped slots " +
      "(BCF stores every cell, as htslib does), and an undeclared " +
      "INFO key fails loudly") {
    val hdr = BcfReader.decodeHeaderText(BcfFixture.headerText)
    val rec = BcfWriter.encodeRecord(hdr, "1", 100, ".", "A", "T", ".",
      "PASS", "NS=1", "GT:DP:AD", Seq("0/1", "1/1:7", "0/0:3:1,2"))
    val payload = new java.io.ByteArrayOutputStream()
    payload.write(BcfWriter.encodePrologue(BcfFixture.headerText))
    payload.write(rec)
    val f = tmp.resolve("trail.bcf")
    val os = new graft.sources.v2.BgzfOutputStream(
      java.nio.file.Files.newOutputStream(f))
    os.write(payload.toByteArray)
    os.close()
    import spark.implicits._
    val got = spark.read.format("bcf").load(f.toString)
      .select(explode(col("genotypes"))).as[(String, String)]
      .collect().toMap
    // a missing AD cell encodes [missing, EOV]; the reader's trailing
    // EOV drop renders it '.' (not '.,.') — the htslib text rendering
    assert(got("S1") === "0/1:.:.")
    assert(got("S2") === "1/1:7:.")
    assert(got("S3") === "0/0:3:1,2")
    intercept[IllegalArgumentException] {
      BcfWriter.encodeRecord(hdr, "1", 100, ".", "A", "T", ".", "PASS",
        "NOPE=1", ".", Seq(".", ".", "."))
    }
  }

  test("header-less format(\"bcf\") write: a frame with no header " +
      "(the parquet-landed cohort case) round-trips — each shard's " +
      "synthesized header collects contigs/FILTERs/INFO/FORMAT/samples, " +
      "and decode fidelity is value-driven so the String declarations " +
      "do not matter") {
    val vcfPath = {
      val f = tmp.resolve("twin2.vcf")
      java.nio.file.Files.write(f,
        (BcfFixture.twinVcfLines.mkString("\n") + "\n")
          .getBytes(StandardCharsets.UTF_8))
      f.toString
    }
    val df = VcfReader.read(spark, vcfPath)
    val outDir = tmp.resolve("landing2").toString
    df.repartition(1).sortWithinPartitions(col("chrom"), col("pos"))
      .write.format("bcf").mode("overwrite").save(outDir)
    val shard = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".bcf")).head
    val hdrText = {
      val in = new java.io.DataInputStream(
        new java.util.zip.GZIPInputStream(new java.io.FileInputStream(shard)))
      try BcfReader.readHeader(in).text finally in.close()
    }
    assert(hdrText.contains("##contig=<ID=1>") &&
      hdrText.contains("##contig=<ID=2>"), hdrText)
    assert(hdrText.contains("##FILTER=<ID=q10") &&
      hdrText.contains("##FILTER=<ID=s50"), hdrText)
    for (k <- Seq("NS", "DP", "AF", "DB", "BIGV", "NOTE"))
      assert(hdrText.contains(s"##INFO=<ID=$k,"), s"$k missing:\n$hdrText")
    for (k <- Seq("GT", "AD", "GQ"))
      assert(hdrText.contains(s"##FORMAT=<ID=$k,"), s"$k missing:\n$hdrText")
    assert(hdrText.linesIterator.toSeq.last
      .endsWith("FORMAT\tS1\tS2\tS3"), hdrText)
    val cols = Seq("chrom", "pos", "id", "ref", "alt", "qual", "filter",
      "info", "format", "genotypes")
    val back = spark.read.format("bcf").load(outDir)
      .select(cols.head, cols.tail: _*).collect().toSet
    assert(back === df.select(cols.head, cols.tail: _*).collect().toSet)
  }

  test("END-spanned records index/encode their DECLARED span (htslib's " +
      "rlen rule): an inner locus of a gVCF band or symbolic <DEL> is " +
      "findable through the engine's own .csi; a NULL genotypes map " +
      "encodes like a sites-only row instead of NPE-ing the write") {
    import spark.implicits._
    // spanOf: END wins when valid, footprint otherwise
    val hdr = BcfReader.decodeHeaderText(BcfFixture.headerText)
    assert(BcfWriter.spanOf(1000, "A", "END=5000") === 4001)
    assert(BcfWriter.spanOf(1000, "ACG", "DP=3") === 3)
    assert(BcfWriter.spanOf(1000, "A", "END=12abc;DP=1") === 1,
      "boundary-anchored: partially-numeric END is not a span")
    assert(BcfWriter.spanOf(1000, "ACG", "END=999") === 3,
      "END below pos falls back to the footprint")
    // 10-digit END within Int range must still widen the span — CSI
    // contigs run to 2^31−1 and a silent footprint fallback would make
    // region queries inside the band miss the record
    assert(BcfWriter.spanOfLen(1500000000L, 1, "END=2000000000")
      === 500000001)
    assert(BcfWriter.spanOfLen(2147483640L, 1, "END=2147483647")
      === 8)
    // beyond i32 is unrepresentable in BCF rlen — loud, not clamped
    val eBig = intercept[IllegalArgumentException] {
      BcfWriter.spanOfLen(1000L, 1, "END=2147483648")
    }
    assert(eBig.getMessage.contains("Int.MaxValue"))
    val eHuge = intercept[IllegalArgumentException] {
      BcfWriter.spanOfLen(1000L, 1, "END=99999999999")
    }
    assert(eHuge.getMessage.contains("Int.MaxValue"))
    // a written <DEL> with END is found by a probe INSIDE the deletion
    val df = Seq(
      ("1", 1000, ".", "A", "<DEL>", ".", "PASS", "END=5000;DP=9",
        "GT", Map("S1" -> "0/1", "S2" -> "0/0", "S3" -> "0/0")),
      ("1", 9000, ".", "C", "G", ".", "PASS", "DP=4",
        "GT", null.asInstanceOf[Map[String, String]])) // NULL map row
      .toDF("chrom", "pos", "id", "ref", "alt", "qual", "filter",
        "info", "format", "genotypes")
    val spanHeader = Seq(
      "##fileformat=VCFv4.2",
      "##FILTER=<ID=PASS,Description=\"ok\">",
      "##INFO=<ID=END,Number=1,Type=Integer,Description=\"end\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "##contig=<ID=1>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3"
    ).mkString("\n") + "\n"
    val outDir = tmp.resolve("span").toString
    df.repartitionByRange(1, col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .write.format("bcf").mode("overwrite").option("header", spanHeader)
      .save(outDir)
    val inner = spark.read.format("bcf").load(outDir)
      .filter(col("chrom") === "1" && col("pos").between(3000, 3000))
    // the probe is strictly inside [1000, 5000]: the START-pos filter
    // excludes it from the result, but the PLANNED chunks must cover
    // the record (htslib binning) — assert via the covering-span
    // query instead
    assert(inner.count() === 0)
    val planned = BcfFixture.planned(s"$outDir/*.bcf",
      EqualTo("chrom", "1"), GreaterThanOrEqual("pos", 3000),
      LessThanOrEqual("pos", 3000))
    assert(planned.nonEmpty,
      "the END-spanned record's bin must cover its inner loci")
    // the NULL-genotypes row round-trips as all-missing calls
    val back = spark.read.format("bcf").load(outDir)
      .filter(col("pos") === 9000)
      .select(explode(col("genotypes"))).as[(String, String)]
      .collect().toMap
    assert(back.values.toSet === Set("."))
  }
}
