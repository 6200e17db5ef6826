package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VcfReader

class VcfReaderSpec extends AnyFunSuite with SparkSpec {

  private lazy val path = VcfFixture.write().toString

  test("metadata parses ##kv header, columns and samples") {
    val m = VcfReader.metadata(spark, path)
    assert(m.headerKv.contains(("fileformat", "VCFv4.2")))
    assert(m.columns.take(5) === Seq("#CHROM", "POS", "ID", "REF", "ALT"))
    assert(m.samples === Seq("NA1", "NA2"))
    // header_df parity: the ##key=value rows in file order, then the
    // sample list and the column line
    val rows = VcfReader.headerDf(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.take(2) === Seq("fileformat" -> "VCFv4.2", "source" -> "graft-test"))
    assert(rows.count(_._1 == "INFO") === 4 && rows.count(_._1 == "FORMAT") === 3)
    assert(rows.takeRight(2) === Seq("SampleIDs" -> "NA1,NA2",
      "ColumnHeader" -> "#CHROM,POS,ID,REF,ALT,QUAL,FILTER,INFO,FORMAT,NA1,NA2"))
    assert(rows.length === 11)
  }

  test("read produces the wide graft schema with normalized chrom") {
    val df = VcfReader.read(spark, path)
    assert(df.columns.toSeq === Seq("chrom", "pos", "id", "ref", "alt",
      "qual", "filter", "info", "format", "genotypes"))
    assert(df.count() === 7)
    val r1 = df.filter(col("pos") === 100).head()
    assert(r1.getString(0) === "1") // chr1 → 1
    assert(r1.getAs[Map[String, String]]("genotypes") ===
      Map("NA1" -> "0/1:12:3,9", "NA2" -> "1|1:8:0,8"))
  }

  test("sample projection keeps only requested samples") {
    val df = VcfReader.read(spark, path, sampleIds = Some(Seq("NA2")))
    val g = df.filter(col("pos") === 100).head().getAs[Map[String, String]]("genotypes")
    assert(g === Map("NA2" -> "1|1:8:0,8"))
  }

  test("reads the 1000 Genomes-shaped chr22 .vcf.gz fixture") {
    val real = ChromFixture.chr22
    val meta = VcfReader.metadata(spark, real)
    assert(meta.samples.size > 2000) // 2504-sample multi-sample VCF
    val two = meta.samples.take(2)
    val df = VcfReader.read(spark, real, sampleIds = Some(two))
    val n = df.count()
    assert(n > 9000)
    assert(df.filter(col("chrom") === "22").count() === n)
  }

  test("cols= projects the fixed columns, reference-style names accepted") {
    val df = VcfReader.read(spark, path,
      cols = Some(Seq("#CHROM", "POS", "REF", "ALT")))
    assert(df.columns.toSeq === Seq("chrom", "pos", "ref", "alt"))
    assert(df.count() === 7)
    // projection prunes the parse expressions of dropped columns
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("genotypes"), plan)
  }

  test("mergeCohort: site-keyed union, './.' fill, lowest-input site columns") {
    def vcf(sample: String, rows: Seq[String]): String = {
      val dir = TempDirs.create("graft_cohort")
      val p = dir.resolve(s"$sample.vcf")
      val header = Seq("##fileformat=VCFv4.2",
        s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$sample")
      java.nio.file.Files.write(p,
        (header ++ rows).mkString("", "\n", "\n").getBytes("UTF-8"))
      p.toString
    }
    val p1 = vcf("NA1", Seq(
      "1\t100\trsA\tA\tG\t10\tPASS\tNS=3\tGT\t0/1",
      "1\t200\trsC\tC\tT\t11\tPASS\tNS=3\tGT\t1/1"))
    val p2 = vcf("NA2", Seq(
      "1\t100\trsB\tA\tG\t20\tPASS\tNS=9\tGT\t1|1",
      "2\t300\trsD\tG\tA\t12\tPASS\tNS=9\tGT\t0/1"))
    val p3 = vcf("NA3", Seq(
      "1\t100\trsE\tA\tG\t30\tPASS\tNS=7\tGT\t0/0",
      // same position, DIFFERENT alt: must stay a separate site row
      "1\t100\trsF\tA\tC\t30\tPASS\tNS=7\tGT\t0/1"))
    val m = VcfReader.readCohort(spark, Seq(p1, p2, p3))
    val rows = m.collect().map(r =>
      (r.getAs[String]("chrom"), r.getAs[Int]("pos"), r.getAs[String]("alt")) ->
        (r.getAs[String]("id"), r.getAs[Map[String, String]]("genotypes"))).toMap
    assert(rows.size === 4, s"expected 4 distinct sites, got $rows")
    // shared site: all three calls present; id/qual from the FIRST input
    assert(rows(("1", 100, "G"))._1 === "rsA")
    assert(rows(("1", 100, "G"))._2 ===
      Map("NA1" -> "0/1", "NA2" -> "1|1", "NA3" -> "0/0"))
    // sites private to one input: everyone else gets the explicit no-call
    assert(rows(("1", 200, "T"))._2 ===
      Map("NA1" -> "1/1", "NA2" -> "./.", "NA3" -> "./."))
    assert(rows(("2", 300, "A"))._2 ===
      Map("NA1" -> "./.", "NA2" -> "0/1", "NA3" -> "./."))
    // alt-mismatched record did NOT merge into the shared site
    assert(rows(("1", 100, "C"))._1 === "rsF")
    assert(rows(("1", 100, "C"))._2 ===
      Map("NA1" -> "./.", "NA2" -> "./.", "NA3" -> "0/1"))
    // duplicate sample ids refuse loudly
    intercept[IllegalArgumentException] {
      VcfReader.mergeCohort(Seq(
        (VcfReader.read(spark, p1), Seq("NA1")),
        (VcfReader.read(spark, p1), Seq("NA1"))))
    }
  }

  test("mergeCohort composition: per-sample splits merge back to the original matrix") {
    // split the two-sample fixture into single-sample reads, merge, and
    // the cohort matrix must round-trip — so every cohort operator
    // (q79/q80/q91's kinship) sees identical input either way
    val bySample = Seq("NA1", "NA2").map(sid =>
      (VcfReader.read(spark, path, sampleIds = Some(Seq(sid))), Seq(sid)))
    val merged = VcfReader.mergeCohort(bySample)
    val direct = VcfReader.read(spark, path)
    val key = Seq("chrom", "pos", "ref", "alt")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getValuesMap[Any](df.columns)).toSet
    assert(canon(merged) === canon(direct.select(merged.columns.map(col): _*)))
    import graft.operators.{VariantAnnotator, VariantQc}
    def kin(df: org.apache.spark.sql.DataFrame) =
      VariantQc.kinshipCounts(VariantAnnotator.annotate(df,
        VariantAnnotator.Options(dropHomRef = false)))
        .collect().map(_.toSeq).toSet
    assert(kin(merged) === kin(direct))
    // and the r9 windowed-diversity path composes the same way: the
    // merged cohort's per-window π is identical to the direct read's
    def pi(df: org.apache.spark.sql.DataFrame) =
      VariantQc.windowPi(VariantAnnotator.annotate(df,
          VariantAnnotator.Options(dropHomRef = false)), windowSize = 1000L)
        .collect().map(_.toSeq).toSet
    assert(pi(merged) === pi(direct))
  }

  test("mergeCohort plans ONE exchange (site-key groupBy) and stays deterministic") {
    val inputs = Seq("NA1", "NA2").map(sid =>
      (VcfReader.read(spark, path, sampleIds = Some(Seq(sid))), Seq(sid)))
    val merged = VcfReader.mergeCohort(inputs)
    val plan = merged.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"cohort merge shuffles more than once:\n$plan")
    val nondet = merged.queryExecution.analyzed.collect {
      case p if p.expressions.exists(!_.deterministic) => p.nodeName }
    assert(nondet.isEmpty, s"nondeterministic expressions in: $nondet")
  }

  test("isecSites: presence flags, private sites, duplicate collapse, one exchange") {
    import spark.implicits._
    def cs(rows: (String, Int)*) =
      rows.toSeq.toDF("chrom", "pos").select(col("chrom"), col("pos"),
        lit("A").as("ref"), lit("T").as("alt"))
    val a = cs(("1", 100), ("1", 200), ("1", 200), ("2", 50)) // 200 twice
    val b = cs(("1", 100), ("1", 300))
    val c = cs(("2", 50))
    val out = VcfReader.isecSites(Seq(a, b, c))
      .select("chrom", "pos", "in_0", "in_1", "in_2", "n_sets")
      .as[(String, Long, Int, Int, Int, Int)].collect().toSet
    assert(out === Set(
      ("1", 100L, 1, 1, 0, 2),
      ("1", 200L, 1, 0, 0, 1), // in-callset duplicate collapses
      ("1", 300L, 0, 1, 0, 1),
      ("2", 50L, 1, 0, 1, 2)))
    val plan = VcfReader.isecSites(Seq(a, b, c)).queryExecution
      .executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"isec must be one site-key groupBy:\n$plan")
  }

  test("rIndex/gIndex match the VCF-spec R and G array layouts (property)") {
    import spark.implicits._
    import graft.sources.VcfReader.{rIndex, gIndex}
    // R layout: [REF, ALT1, ..., ALTn] → allele a sits at a+1 (1-based).
    // G layout (diploid): genotype (j,k), j ≤ k, sits at k(k+1)/2+j
    // (0-based); planted arrays hold their OWN expected index so the
    // lookup is self-checking for every (nAlts, j, k) combination
    val rows = (1 to 4).flatMap { nAlts =>
      val n = nAlts + 1
      val rArr = (0 until n).map(_.toLong)
      val gArr = (0 until n * (n + 1) / 2).map(_.toLong)
      for (k <- 0 until n; j <- 0 to k)
        yield (nAlts, j, k, rArr, gArr)
    }.toDF("n_alts", "j", "k", "r_arr", "g_arr")
    val checked = rows.select(
      (element_at(col("r_arr"), rIndex(col("k"))) === col("k")).as("r_ok"),
      (element_at(col("g_arr"), gIndex(col("j"), col("k"))) ===
        (col("k") * (col("k") + 1) / 2 + col("j")).cast("long")).as("g_ok"))
    assert(checked.filter(!col("r_ok") || !col("g_ok")).count() === 0)
    // the canonical VCF example: biallelic PL ordering (0/0, 0/1, 1/1)
    val tri = Seq(Tuple1(Seq(10L, 20L, 30L))).toDF("pl")
    val got = tri.select(
      element_at(col("pl"), gIndex(lit(0), lit(0))).as("hr"),
      element_at(col("pl"), gIndex(lit(0), lit(1))).as("het"),
      element_at(col("pl"), gIndex(lit(1), lit(1))).as("ha")).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((10L, 20L, 30L)))
  }

  test("header INFO/FORMAT declarations parse with Number and Type") {
    val m = VcfReader.metadata(spark, path)
    val info = VcfReader.infoDecls(m).map(d => d.id -> d).toMap
    assert(info("NS") === VcfReader.FieldDecl("NS", "1", "Integer"))
    assert(info("AF") === VcfReader.FieldDecl("AF", "A", "Float"))
    assert(info("VALIDATED") === VcfReader.FieldDecl("VALIDATED", "0", "Flag"))
    val fmt = VcfReader.formatDecls(m).map(d => d.id -> d).toMap
    assert(fmt("DP") === VcfReader.FieldDecl("DP", "1", "Integer"))
    assert(fmt("AD") === VcfReader.FieldDecl("AD", "2", "Integer"))
  }

  test("withTypedInfo types columns from the declarations") {
    val m = VcfReader.metadata(spark, path)
    val df = VcfReader.withTypedInfo(
      VcfReader.read(spark, path), VcfReader.infoDecls(m))
    val rs4 = df.filter(col("pos") === 400).head()
    assert(rs4.getAs[Long]("INFO_NS") === 2L)
    assert(rs4.getAs[Boolean]("INFO_VALIDATED") === true)
    assert(rs4.getSeq[java.lang.Double](rs4.fieldIndex("INFO_AF")) === Seq(0.5, 0.25))
    val rs1 = df.filter(col("pos") === 100).head()
    assert(rs1.getAs[Long]("INFO_DP") === 10L)
    assert(rs1.getAs[Boolean]("INFO_VALIDATED") === false)
    assert(rs1.isNullAt(rs1.fieldIndex("INFO_AF"))) // undeclared in row → null
  }

  test("withTypedFormat casts annotated FORMAT columns per declarations") {
    import graft.operators.VariantAnnotator
    val m = VcfReader.metadata(spark, path)
    // header-declared FORMAT vocabulary replaces the discovery scan
    val keys = VcfReader.formatDecls(m).map(_.id)
    assert(keys.sorted === Seq("AD", "DP", "GT"))
    val ann = VariantAnnotator.annotate(
      VcfReader.read(spark, path),
      VariantAnnotator.Options(dropHomRef = false, formatKeys = Some(keys)))
    val typed = VcfReader.withTypedFormat(ann, VcfReader.formatDecls(m))
    val row = typed.filter(col("pos") === 100 && col("sample_id") === "NA1").head()
    assert(row.getAs[Long]("DP") === 12L)
    assert(row.getSeq[java.lang.Long](row.fieldIndex("AD")) === Seq(3L, 9L))
    // rows whose FORMAT lacks the key stay null, not failures (ANSI-safe)
    val bare = typed.filter(col("pos") === 200 && col("sample_id") === "NA1").head()
    assert(bare.isNullAt(bare.fieldIndex("DP")))
  }

  test("typed declarations parse on the 1000 Genomes-shaped chr22 header") {
    val real = ChromFixture.chr22
    val m = VcfReader.metadata(spark, real)
    val info = VcfReader.infoDecls(m).map(d => d.id -> d).toMap
    assert(info("AC") === VcfReader.FieldDecl("AC", "A", "Integer"))
    assert(info("IMPRECISE").typ === "Flag")
    assert(info("CIEND") === VcfReader.FieldDecl("CIEND", "2", "Integer"))
    assert(VcfReader.formatDecls(m).map(_.id) === Seq("GT"))
    // end to end on real data: AC/AF typed straight from the header
    val two = m.samples.take(2)
    val df = VcfReader.withTypedInfo(
      VcfReader.read(spark, real, sampleIds = Some(two)).limit(50),
      VcfReader.infoDecls(m).filter(d => Set("AC", "AF", "IMPRECISE")(d.id)))
    val r = df.head()
    assert(r.getSeq[java.lang.Long](r.fieldIndex("INFO_AC")).nonEmpty)
    assert(r.getAs[Boolean]("INFO_IMPRECISE") === false)
  }

  test("infoMap parses key=value pairs") {
    val df = VcfReader.read(spark, path).filter(col("pos") === 100)
      .select(VcfReader.infoMap(col("info")).as("m"))
    assert(df.head().getAs[Map[String, String]]("m") ===
      Map("NS" -> "2", "DP" -> "10"))
  }
}
