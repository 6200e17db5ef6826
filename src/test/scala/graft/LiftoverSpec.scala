package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Liftover

/** Hand-computed truth for assembly liftover (q233's operator): block
  * arithmetic on both strands, reverse-complement rules, symbolic
  * allele passthrough, the unmapped row, and multi-map surfacing.
  */
class LiftoverSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val chain = Seq(
    // + block: [100, 200] on 1 → d1 at 5000
    ("1", 100, 200, "d1", 5000, "+"),
    // - block: [300, 400] on 1 → d2 at 9000, target runs reverse
    ("1", 300, 400, "d2", 9000, "-"),
    // overlapping block (a patch/alt): [150, 250] on 1 → d3
    ("1", 150, 250, "d3", 7000, "+"),
    // other chromosome
    ("2", 100, 200, "d4", 1000, "+"))
    .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")

  test("liftover: + blocks shift, − blocks mirror AND reverse-" +
      "complement, symbolic alleles ride verbatim, uncovered variants " +
      "emit one unmapped row, overlapping blocks surface as multi-maps") {
    val vcf = Seq(
      ("1", 120, "A", "T"),          // + block only → 5000 + 20
      ("1", 350, "AC", "G,<DEL>"),   // − block → 9000 + (400−350) = 9050
      ("1", 180, "C", "G"),          // BOTH [100,200] and [150,250] → 2 rows
      ("1", 999, "T", "C"),          // uncovered → unmapped
      ("2", 150, "G", "A"))          // chrom-2 block
      .toDF("chrom", "pos", "ref", "alt")
    val got = Liftover.liftover(vcf, chain)
      .select("chrom", "pos", "lift_status", "lifted_chrom",
        "lifted_pos", "lifted_ref", "lifted_alt")
      .as[(String, Int, String, String, Option[Int], String, String)]
      .collect().toSet
    assert(got === Set(
      ("1", 120, "lifted", "d1", Some(5020), "A", "T"),
      // revcomp: AC → GT; alt G → C; <DEL> verbatim (symbolic)
      ("1", 350, "flipped", "d2", Some(9050), "GT", "C,<DEL>"),
      ("1", 180, "lifted", "d1", Some(5080), "C", "G"),
      ("1", 180, "lifted", "d3", Some(7030), "C", "G"),
      ("1", 999, "unmapped", null, None, null, null),
      ("2", 150, "lifted", "d4", Some(1050), "G", "A")))
  }

  test("alt_flip and alt_swap ≡ the retired transform(split(alt, \",\")) lambdas") {
    import graft.expressions.GenomeExprs
    // RDD-backed, so the kernels run through generated code
    val alts = spark.sparkContext.parallelize(Seq("A", "G,<DEL>", "acgT,N,ACGN", ".", "",
      ",", "A,,t", "*,C", "<INS:ME>,TTA", "ac,gt,", null), 2).toDF("alt")
    def flip(a: org.apache.spark.sql.Column) = when(a.rlike("^[ACGTacgt]+$"),
      reverse(translate(a, "ACGTacgt", "TGCAtgca"))).otherwise(a)
    def rows(c: org.apache.spark.sql.Column) =
      alts.select(col("alt"), c.as("out")).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows(GenomeExprs.altFlip(col("alt"))) ===
      rows(array_join(transform(split(col("alt"), ","), flip(_)), ",")))
    for ((from, to) <- Seq("A" -> "G", "" -> "T", "t" -> "CC", "N" -> "")) {
      val swapped = rows(GenomeExprs.altSwap(col("alt"), lit(from), lit(to)))
      assert(swapped === rows(array_join(transform(split(col("alt"), ","),
        a => when(a === lit(from), lit(to)).otherwise(a)), ",")), s"$from -> $to")
    }
  }

  test("liftover dstGenome: destination-REF validation — match keeps " +
      "status, ALT carried by the target swaps REF⇄ALT and flips GT " +
      "indices, neither flags ref_mismatch, and unmapped/absent-contig " +
      "rows ride untouched") {
    // d1 bases at 5000.. : pos 5020 = 'T' (matches an ALT of site A
    // → swap), 5080 = 'C' (matches REF of site B → clean), 5040 = 'A'
    // (neither REF 'C' nor ALT 'T' of site C → ref_mismatch)
    val d1 = "N" * 4999 + ("A" * 20) + "T" + ("A" * 59) + "C" +
      ("A" * 100)
    assert(d1.charAt(5020 - 1) == 'T' && d1.charAt(5080 - 1) == 'C' &&
      d1.charAt(5040 - 1) == 'A')
    val genome = Map("d1" -> d1) // d2/d3/d4 absent: unvalidatable
    val vcf = Seq(
      ("1", 120, "A", "T,G", "0/1"),  // → 5020 'T' = ALT#1 → swap, GT flip
      ("1", 180, "C", "G", "1|1"),    // → 5080 'C' = REF → clean (d1 map)
      ("1", 140, "C", "T", "0/1"),    // → 5040 'A' ≠ REF,∉ALT → mismatch
      ("1", 350, "AC", "G", "0/1"),   // → d2 absent from genome → ride
      ("1", 999, "T", "C", "0/0"))    // unmapped
      .toDF("chrom", "pos", "ref", "alt", "gt")
    val got = Liftover.liftover(vcf, chain,
        dstGenome = genome, gtCols = Seq("gt"))
      .filter(col("lifted_chrom").isNull || col("lifted_chrom") =!= "d3")
      .select("pos", "lift_status", "lifted_ref", "lifted_alt", "gt")
      .as[(Int, String, String, String, String)]
      .collect().toSet
    assert(got === Set(
      // swap: REF A ⇄ ALT#1 T (the target's base); GT 0/1 → 1/0
      (120, "swap", "T", "A,G", "1/0"),
      (180, "lifted", "C", "G", "1|1"),
      (140, "ref_mismatch", "C", "T", "0/1"),
      (350, "flipped", "GT", "C", "0/1"), // d2 absent → unvalidated
      (999, "unmapped", null, null, "0/0")))
  }

  test("liftover dstGenome: a minus-strand block whose flipped REF " +
      "mismatches but whose flipped ALT matches the target reads " +
      "flipped_swap, alleles exchanged post-flip") {
    // site (1, 350, ref A, alt G): '-' block → lifted_pos 9050,
    // flipped ref 'T', flipped alt 'C'; target base at 9050 = 'C'
    val d2 = "N" * 9049 + "C" + "A" * 60
    val vcf = Seq(("1", 350, "A", "G", "0/1"))
      .toDF("chrom", "pos", "ref", "alt", "gt")
    val got = Liftover.liftover(vcf, chain,
        dstGenome = Map("d2" -> d2), gtCols = Seq("gt"))
      .select("lift_status", "lifted_ref", "lifted_alt", "gt")
      .as[(String, String, String, String)].collect().toSet
    assert(got === Set(("flipped_swap", "C", "T", "1/0")))
  }

  test("readChain: UCSC chain-file parse — 0-based half-open cursors " +
      "walk to 1-based closed blocks, '-' query strand converts from " +
      "end-counted coordinates, gaps advance both cursors; liftover " +
      "through the parsed frame lands on hand-derived positions") {
    val chainText = Seq(
      "# a comment",
      "chain 1000 1 100000 + 999 1299 d1 50000 + 4999 5299 1",
      "150 50 50",
      "100",
      "",
      "chain 900 1 100000 + 2999 3099 d2 10000 - 2000 2100 2",
      "100"
    ).mkString("\n") + "\n"
    val f = TempDirs.create("graft-chain").resolve("chain.chain")
    java.nio.file.Files.writeString(f, chainText)
    val chain = Liftover.readChain(spark, f.toString)
    val got = chain.as[(String, Int, Int, String, Int, String)]
      .collect().toSet
    assert(got === Set(
      ("1", 1000, 1149, "d1", 5000, "+"),  // block 1 of chain 1
      ("1", 1200, 1299, "d1", 5200, "+"),  // after dt=50/dq=50 gap
      // '-' strand: dst_start = qSize − qStart − size + 1
      ("1", 3000, 3099, "d2", 7901, "-")))
    val vcf = Seq(
      ("1", 1250, "A", "T"),   // block 2: 5200 + (1250 − 1200) = 5250
      ("1", 1175, "C", "G"),   // inside the GAP → unmapped
      ("1", 3050, "A", "G"))   // '-': 7901 + (3099 − 3050) = 7950
      .toDF("chrom", "pos", "ref", "alt")
    val out = Liftover.liftover(vcf, chain)
      .select("pos", "lift_status", "lifted_pos")
      .as[(Int, String, Option[Int])].collect().toSet
    assert(out === Set(
      (1250, "lifted", Some(5250)),
      (1175, "unmapped", None),
      (3050, "flipped", Some(7950))))
  }

  test("readChain fails loudly on structural damage: a truncated chain " +
      "(EOF before the terminal line), a cursor walk that overruns or " +
      "undershoots the header's tEnd/qEnd, and a header opened before " +
      "the previous chain closed — silent wrong spans are never parsed") {
    def parse(text: String): Unit = {
      val f = TempDirs.create("graft-chain-bad").resolve("chain-bad.chain")
      java.nio.file.Files.writeString(f, text)
      try Liftover.readChain(spark, f.toString).collect()
      finally java.nio.file.Files.delete(f)
    }
    // well-formed control: terminal 100-block lands exactly on tEnd/qEnd
    parse("chain 1 1 100000 + 999 1099 d1 50000 + 4999 5099 1\n100\n")
    // EOF inside an open chain (gapped line promises more blocks)
    val e1 = intercept[IllegalArgumentException] {
      parse("chain 1 1 100000 + 999 1299 d1 50000 + 4999 5299 1\n150 50 50\n")
    }
    assert(e1.getMessage.contains("EOF inside an open chain"))
    // terminal line does not land on the header span
    val e2 = intercept[IllegalArgumentException] {
      parse("chain 1 1 100000 + 999 1099 d1 50000 + 4999 5099 1\n99\n")
    }
    assert(e2.getMessage.contains("does not land on header span"))
    // mid-walk overrun of tEnd
    val e3 = intercept[IllegalArgumentException] {
      parse("chain 1 1 100000 + 999 1099 d1 50000 + 4999 5099 1\n" +
        "90 50 50\n10\n")
    }
    assert(e3.getMessage.contains("overruns header span"))
    // a new header while the previous chain is still open
    val e4 = intercept[IllegalArgumentException] {
      parse("chain 1 1 100000 + 999 1299 d1 50000 + 4999 5299 1\n" +
        "150 50 50\n" +
        "chain 1 1 100000 + 999 1099 d1 50000 + 4999 5099 2\n100\n")
    }
    assert(e4.getMessage.contains("before the previous"))
  }

  test("liftover: block edges are CLOSED on both ends; a '-' block " +
      "maps its start to the target end and vice versa") {
    val vcf = Seq(("1", 100, "A", "T"), ("1", 200, "C", "G"),
      ("1", 300, "G", "A"), ("1", 400, "T", "C"))
      .toDF("chrom", "pos", "ref", "alt")
    val got = Liftover.liftover(vcf, chain)
      .filter(col("lifted_chrom").isin("d1", "d2"))
      .select("pos", "lifted_chrom", "lifted_pos")
      .as[(Int, String, Int)].collect().toSet
    assert(got === Set(
      (100, "d1", 5000), (200, "d1", 5100),   // + : offset rides
      (300, "d2", 9100), (400, "d2", 9000)))  // − : mirrored
  }
}
