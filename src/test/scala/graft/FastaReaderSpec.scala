package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{Genome, GenomeExprs}
import graft.operators.{Liftover, VariantNorm}
import graft.sources.FastaReader
import graft.sources.FastaReader.FaiEntry

/** Indexed-FASTA reader + broadcast-genome handle: hand-computed
  * `.fai` truth (the samtools-faidx byte arithmetic), slice-read vs
  * sequential parity, and the scale contract — a broadcast [[Genome]]
  * drives leftAlign/validateRef identically to the historical
  * closure-shipped Map, while the PLAN TEXT carries only the handle
  * (never sequence bases).
  */
class FastaReaderSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // Two contigs with different line geometries + a description after
  // the name; chrA = the Tan et al. repeat tract so leftAlign parity
  // is exercised on the canonical example.
  //   chrA: "GGGCACACAGGG" (12 bases) at 5 bases/line
  //   chrB: "ACGTACGTAA"   (10 bases) at 4 bases/line
  private val faText =
    ">chrA the tan tract\n" +
    "GGGCA\n" +
    "CACAG\n" +
    "GG\n" +
    ">chrB\n" +
    "ACGT\n" +
    "ACGT\n" +
    "AA\n"

  // hand-derived offsets: header1 = 20 bytes ('>'+18 chars+'\n') so
  // chrA sequence starts at byte 20; chrA body = 3 lines (6+6+3 = 15
  // bytes) ending at 35; ">chrB\n" = 6 bytes → chrB starts at 41
  private val faiTruth = Seq(
    FaiEntry("chrA", 12L, 20L, 5, 6),
    FaiEntry("chrB", 10L, 41L, 4, 5))

  private def writeTemp(suffix: String, text: String): String = {
    val f = TempDirs.create("graft-fasta").resolve("fasta" + suffix)
    java.nio.file.Files.writeString(f, text)
    f.toString
  }

  test("buildFai computes the samtools-faidx entries (hand-derived " +
      "offsets/geometry) and readFai round-trips the sidecar format; " +
      "readContig slices each contig byte-exactly through the index") {
    val fa = writeTemp(".fa", faText)
    val built = FastaReader.buildFai(spark, fa)
    assert(built === faiTruth)
    // sidecar round-trip: write the entries in faidx format, read back
    val fai = writeTemp(".fa.fai", built.map(e =>
      s"${e.name}\t${e.length}\t${e.offset}\t${e.lineBases}\t${e.lineWidth}")
      .mkString("", "\n", "\n"))
    assert(FastaReader.readFai(spark, fai) === faiTruth)
    // slice reads through the hand-derived entries
    assert(FastaReader.readContig(spark, fa, faiTruth.head)
      === "GGGCACACAGGG")
    assert(FastaReader.readContig(spark, fa, faiTruth(1))
      === "ACGTACGTAA")
  }

  test("readFasta: the sidecar-.fai road and the no-sidecar scan road " +
      "produce the same map; the contigs filter loads a partial " +
      "genome and an unknown contig fails loudly") {
    val faNoIdx = writeTemp(".fa", faText)
    val scanned = FastaReader.readFasta(spark, faNoIdx)
    assert(scanned === Map(
      "chrA" -> "GGGCACACAGGG", "chrB" -> "ACGTACGTAA"))
    // plant the sidecar next to a second copy — the indexed road
    val fa2 = TempDirs.create("graft-fasta2").resolve("fasta2.fa")
    java.nio.file.Files.writeString(fa2, faText)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(fa2.toString + ".fai"),
      faiTruth.map(e =>
        s"${e.name}\t${e.length}\t${e.offset}\t${e.lineBases}\t${e.lineWidth}")
        .mkString("", "\n", "\n"))
    assert(FastaReader.readFasta(spark, fa2.toString) === scanned)
    assert(FastaReader.readFasta(spark, fa2.toString, Seq("chrB"))
      === Map("chrB" -> "ACGTACGTAA"))
    val e = intercept[IllegalArgumentException] {
      FastaReader.readFasta(spark, fa2.toString, Seq("chrZ"))
    }
    assert(e.getMessage.contains("chrZ"))
  }

  test("fail loudly: an index whose LENGTH disagrees with the file, " +
      "irregular line lengths, and non-FASTA content never parse " +
      "silently") {
    val fa = writeTemp(".fa", faText)
    // .fai declares 14 bases for the 12-base chrA → the slice runs
    // into the next record
    val bad = FaiEntry("chrA", 14L, 20L, 5, 6)
    val e1 = intercept[IllegalArgumentException] {
      FastaReader.readContig(spark, fa, bad)
    }
    assert(e1.getMessage.contains("disagrees"))
    val irregular = writeTemp(".fa", ">c1\nACGTA\nAC\nGGGGG\n")
    val e2 = intercept[IllegalArgumentException] {
      FastaReader.buildFai(spark, irregular)
    }
    assert(e2.getMessage.contains("irregular"))
    val junk = writeTemp(".txt", "chrom\tpos\n1\t100\n")
    val e3 = intercept[IllegalArgumentException] {
      FastaReader.buildFai(spark, junk)
    }
    assert(e3.getMessage.contains("not FASTA"))
  }

  test("broadcast Genome drives leftAlign identically to the Map " +
      "path on the Tan et al. tract, and the PLAN carries the handle, " +
      "not the sequence (the 100x-scale contract: bases ship per " +
      "executor via the broadcast, never per task in the plan)") {
    val fa = writeTemp(".fa", faText)
    val genome = FastaReader.readGenome(spark, fa)
    assert(genome.isBroadcast)
    val df = Seq(
      ("chrA", 4L, "CAC", "C"), ("chrA", 6L, "CACA", "CA"),
      ("chrB", 3L, "G", "T"), ("chrZ", 9L, "TT", "T"))
      .toDF("chrom", "pos", "ref", "alt")
    val viaMap = VariantNorm.leftAlign(df,
      Map("chrA" -> "GGGCACACAGGG", "chrB" -> "ACGTACGTAA"))
      .select("chrom", "pos", "ref", "alt").collect().toSet
    val viaBc = VariantNorm.leftAlign(df, genome)
    assert(viaBc.select("chrom", "pos", "ref", "alt").collect().toSet
      === viaMap)
    // both CA-deletion representations landed on the canonical key
    val rows = viaBc.select("chrom", "pos", "ref", "alt")
      .as[(String, Long, String, String)].collect().toSet
    assert(rows.contains(("chrA", 3L, "GCA", "G")))
    // plan text: the broadcast handle, no genome bases (analyzed plan
    // — a local-relation test frame constant-folds the projection out
    // of the executed plan, but the printed expression is the same)
    val plan = viaBc.queryExecution.analyzed.toString
    assert(plan.contains("genome_broadcast("),
      s"expected the broadcast handle in the plan, got:\n$plan")
    assert(!plan.contains("GGGCACACAGGG"),
      "plan text must not embed the genome sequence")
    // the inline handle also prints compactly — never sequence
    val inlinePlan = VariantNorm.leftAlign(df,
      Map("chrA" -> "GGGCACACAGGG")).queryExecution.analyzed.toString
    assert(inlinePlan.contains("genome_inline(contigs=1, bases=12)"),
      s"expected the compact inline handle, got:\n$inlinePlan")
    assert(!inlinePlan.contains("GGGCACACAGGG"),
      "plan text must not embed the genome sequence")
  }

  test("broadcast Genome drives liftover REF-validation identically " +
      "to the Map path (swap class + genomeSlice parity)") {
    // destination chrB carries the ALT at the lifted site → swap
    val chain = Seq(("1", 1, 100, "chrB", 1, "+"))
      .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
    val vcf = Seq(("1", 3, "G", "T,C", "0/1:9"))
      .toDF("chrom", "pos", "ref", "alt", "gt")
    val dstMap = Map("chrB" -> "ACGTACGTAA") // base 3 = G; use alt T at 4
    val vcf2 = Seq(("1", 4, "G", "T,C", "0/1:9"))
      .toDF("chrom", "pos", "ref", "alt", "gt")
    // pos 4 lifts to chrB:4 = 'T' = ALT #1 → swap, gt 0/1 -> 1/0
    val viaMap = Liftover.liftover(vcf2, chain, dstGenome = dstMap,
      gtCols = Seq("gt"))
      .select("lift_status", "lifted_ref", "lifted_alt", "gt")
      .as[(String, String, String, String)].collect().toSet
    val fa = writeTemp(".fa", ">chrB\nACGT\nACGT\nAA\n")
    val genome = FastaReader.readGenome(spark, fa)
    val viaBc = Liftover.liftover(vcf2, chain, genome, Seq("gt"))
      .select("lift_status", "lifted_ref", "lifted_alt", "gt")
      .as[(String, String, String, String)].collect().toSet
    assert(viaMap === Set(("swap", "T", "G,C", "1/0:9")))
    assert(viaBc === viaMap)
    // genomeSlice over the handle == over the map
    val probe = Seq(("chrB", 5L, 3)).toDF("chrom", "pos", "len")
    val sMap = probe.select(GenomeExprs.genomeSlice(dstMap,
      col("chrom"), col("pos"), col("len")).as("s"))
      .as[String].collect().toSeq
    val sBc = probe.select(GenomeExprs.genomeSlice(genome,
      col("chrom"), col("pos"), col("len")).as("s"))
      .as[String].collect().toSeq
    assert(sMap === Seq("ACG") && sBc === sMap)
  }

  test("Genome.inline still closure-ships (partial-genome contract " +
      "pinned): absent contigs degrade leftAlign to the genome-free " +
      "trim and genomeSlice to NULL — a partial reference " +
      "under-validates, never mis-flags") {
    val g = Genome.inline(Map("chr1" -> "AAAAT"))
    val df = Seq(("chr9", 4L, "AT", "A")).toDF("chrom", "pos", "ref", "alt")
    val got = VariantNorm.leftAlign(df, g)
      .select("pos", "ref", "alt").as[(Long, String, String)]
      .collect().toSeq
    assert(got === Seq((4L, "AT", "A"))) // untouched: no chr9 sequence
    val s = Seq(("chr9", 1L, 2)).toDF("chrom", "pos", "len")
      .select(GenomeExprs.genomeSlice(g, col("chrom"), col("pos"),
        col("len")).as("s")).collect()
    assert(s.head.isNullAt(0))
  }
}
