package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VariantAnnotator
import graft.sources.VcfReader

/** End-to-end annotate matrix pinned to what the reference's
  * add_variant_annotations emits for the same mini VCF
  * (pandasvcf.py:186-288, variant_annotations.py:534-768).
  */
class VariantAnnotatorSpec extends AnyFunSuite with SparkSpec {

  private lazy val wide = VcfReader.read(spark, VcfFixture.write().toString)

  private lazy val full = VariantAnnotator.annotate(
    wide,
    VariantAnnotator.Options(
      splitColumns = Map("AD" -> 2),
      dropHomRef = false,
      formatKeys = Some(Seq("GT", "DP", "AD"))))

  private def row(pos: Int, sample: String) =
    full.filter(col("pos") === pos && col("sample_id") === sample)
      .collect() match {
      case Array(r) => r
      case other => fail(s"expected 1 row for ($pos,$sample), got ${other.length}")
    }

  private def f(pos: Int, sample: String, field: String): Any = {
    val r = row(pos, sample)
    r.get(r.fieldIndex(field))
  }

  test("annotate without formatKeys warns loudly about the discovery scan") {
    // the warning text users will grep driver logs for must name the fix
    assert(VariantAnnotator.DiscoveryScanWarning
      .contains("Options.formatKeys"))
    val before = VariantAnnotator.discoveryScanWarnings.get()
    // no Options.formatKeys → the discovery distinct scan + warning
    VariantAnnotator
      .annotate(wide, VariantAnnotator.Options(dropHomRef = false))
      .count()
    assert(VariantAnnotator.discoveryScanWarnings.get() === before + 1,
      "discovery-scan warning not emitted on the formatKeys=None path")
    // the explicit-keys path must stay silent
    full.count()
    assert(VariantAnnotator.discoveryScanWarnings.get() === before + 1,
      "explicit formatKeys must not warn")
  }

  /** The FORMAT discovery annotate ran before it became one fold, kept
    * verbatim as the parity reference: an explode/split/distinct query,
    * which AQE runs as two jobs around an exchange. */
  private def legacyFormatKeys(df: DataFrame): Seq[String] =
    df.select(explode(split(col("format"), ":")).as("k"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq

  /** A bgzipped, tabix-indexed VCF over two chroms whose rows cycle
    * through three FORMAT layouts. */
  private lazy val indexedVcf: String = {
    val header = Seq("##fileformat=VCFv4.2",
      "##contig=<ID=1,length=100000>", "##contig=<ID=2,length=100000>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3")
    val layouts = Seq(
      "GT:DP:AD" -> "0/1:12:3,9\t1|1:8:0,8\t0/0:5:5,0",
      "GT" -> "0/1\t./.\t1/1",
      "GT:GQ:DP" -> "1/1:40:7\t0/0:30:9\t0/1:20:11")
    val records = for (c <- Seq("1", "2"); i <- 0 until 60) yield {
      val pos = 1000 + 700 * i
      val (fmt, calls) = layouts(i % layouts.length)
      (c, pos - 1L, pos.toLong, s"$c\t$pos\t.\tA\tG\t50\tPASS\t.\t$fmt\t$calls")
    }
    val out = TempDirs.create("graft-annotate-vcf").resolve("mixed.vcf.gz")
    val (voffs, endVoff) = BgzfFixture.writeBgzf(header ++ records.map(_._4), out, blockLines = 8)
    BgzfFixture.writeTbi(records.zip(voffs.drop(header.length)).map {
      case ((c, b, e, _), v) => (c, b, e, v)
    }, endVoff, out.resolveSibling("mixed.vcf.gz.tbi"))
    out.toString
  }

  test("FORMAT discovery is one job with no shuffle stage, so a default " +
      "annotate plus its action runs 3 jobs and 1 shuffle stage") {
    val vcf = spark.read.format("vcf").load(indexedVcf)
    var keys = Seq.empty[String]
    assert(jobsAndStagesOf { keys = VariantAnnotator.discoverFormatKeys(vcf) } ===
      SparkSpec.Counts(1, 1, 0))
    assert(keys === Seq("AD", "DP", "GQ", "GT"))
    // discovery, then the site window's shuffle-map job and its result job
    val annotated = jobsAndStagesOf {
      VariantAnnotator.annotate(vcf, VariantAnnotator.Options(splitColumns = Map("AD" -> 2)))
        .write.format("noop").mode("overwrite").save()
    }
    assert(annotated === SparkSpec.Counts(3, 3, 1))
  }

  test("FORMAT discovery fold == the legacy explode/split/distinct query: " +
      "mixed layouts on 6 partitions, null FORMAT, a key only a missing-ALT " +
      "row uses, a parquet landing and an empty input") {
    import spark.implicits._
    val layouts = Seq(
      "GT:DP:AD" -> "0/1:12:3,9", "GT" -> "1/1", "GT:AD:DP:GQ" -> "0/1:3,9:12:40",
      "DP:AD" -> "7:3,4", "GT:PL" -> "0/1:30,0,40", "GT:DP:" -> "0/1:8:",
      "GT::AD" -> "1|1::0,8")
    // runs of equal FORMATs, so a task meets repeats and changes
    val rows = (0 until 42).map { i =>
      val (fmt, call) = layouts(i / 3 % layouts.length)
      ("1", 100 + i, "A", "G", fmt, Map("S1" -> call, "S2" -> call))
    } ++ Seq(
      ("2", 500, "C", "T", null, Map.empty[String, String]),
      ("2", 600, "C", ".", "GT:MQX", Map("S1" -> "0/0:7", "S2" -> "./.:.")))
    val wide = spark.sparkContext.parallelize(rows, 6)
      .toDF("chrom", "pos", "ref", "alt", "format", "genotypes")
    assert(wide.rdd.getNumPartitions >= 4)
    val landing = TempDirs.create("graft-annotate-landing").resolve("wide.parquet").toString
    wide.write.parquet(landing)
    val opts = VariantAnnotator.Options(splitColumns = Map("AD" -> 2), dropHomRef = false)
    val inputs = Seq("in-memory" -> wide, "parquet" -> spark.read.parquet(landing),
      "empty" -> wide.filter(lit(false)))
    for ((name, df) <- inputs) {
      // the legacy query also returned the empty key, which now makes no column
      val legacy = legacyFormatKeys(df)
      assert(VariantAnnotator.discoverFormatKeys(df) === legacy.filter(_.nonEmpty), name)
      val got = VariantAnnotator.annotate(df, opts)
      val want = VariantAnnotator.annotate(df, opts.copy(formatKeys = Some(legacy.filter(_.nonEmpty))))
      assert(got.schema === want.schema, name)
      assert(got.collect().map(_.toString).sorted === want.collect().map(_.toString).sorted, name)
      if (name != "empty") {
        assert(legacy === Seq("", "AD", "DP", "GQ", "GT", "MQX", "PL"), name)
        assert(got.count() === 2 * 42, name)
      } else assert(legacy.isEmpty && got.isEmpty)
    }
  }

  test("an empty FORMAT key makes no column, and an explicit one fails naming it") {
    import spark.implicits._
    val df = Seq("GT:DP:" -> "0/1:8:", "GT::AD" -> "1|1::0,8", "GT:DP:AD" -> "0/1:12:3,9")
      .zipWithIndex.map { case ((f, c), i) => ("1", 100 + i, "A", "G", f, Map("S1" -> c)) }
      .toDF("chrom", "pos", "ref", "alt", "format", "genotypes")
    val out = VariantAnnotator.annotate(df, VariantAnnotator.Options(dropHomRef = false))
    assert(out.columns.takeRight(3).toSeq === Seq("vartype2", "AD", "DP"))
    assert(out.select("pos", "AD", "DP").as[(Int, String, String)].collect().sortBy(_._1).toSeq ===
      Seq((100, null, "8"), (101, "0,8", null), (102, "3,9", "12")))
    val e = intercept[IllegalArgumentException](VariantAnnotator.annotate(df,
      VariantAnnotator.Options(formatKeys = Some(Seq("GT", "", "DP")))))
    assert(e.getMessage.contains("empty key \"\""))
  }

  test("a FORMAT subfield column whose name another output column has " +
      "fails naming both") {
    val split = intercept[IllegalArgumentException](VariantAnnotator.annotate(wide,
      VariantAnnotator.Options(splitColumns = Map("AD" -> 2),
        formatKeys = Some(Seq("GT", "AD", "AD_0")))))
    assert(split.getMessage.contains(
      "output column AD_0 (FORMAT key AD_0) collides with AD_0 (part 0 of FORMAT key AD)"))
    val base = intercept[IllegalArgumentException](VariantAnnotator.annotate(wide,
      VariantAnnotator.Options(formatKeys = Some(Seq("GT", "Phase")))))
    assert(base.getMessage.contains(
      "output column Phase (FORMAT key Phase) collides with phase (annotate column phase)"))
    // a key given twice is one column, as before
    assert(VariantAnnotator.annotate(wide,
      VariantAnnotator.Options(formatKeys = Some(Seq("DP", "GT", "DP")))).columns.count(_ == "DP") === 1)
  }

  test("setGtMissing: bcftools --set-GTs semantics — predicate fields " +
      "resolve through the row's own FORMAT, ploidy/phase preserved, " +
      "non-GT subfields verbatim, NULL predicate keeps the call") {
    import spark.implicits._
    val df = Seq(
      // format, call — mixed layouts on purpose
      ("GT:DP:GQ", "0/1:8:40"),   // DP 8 < 10  → mask, keep :8:40
      ("GT:DP:GQ", "1|2:30:15"),  // GQ 15 < 20 → mask, phase kept
      ("GT:DP:GQ", "1/1:30:40"),  // passes both → kept
      ("GT:GQ:DP", "0/1:40:8"),   // swapped layout: DP still found
      ("GT",       "1"),          // haploid, no DP/GQ → NULL pred → kept
      ("GT:DP",    "./.:5"),      // already missing: mask is a no-op
      ("GT:DP",    "0:5"))        // haploid masks to '.'
      .zipWithIndex
      .map { case ((fmt, c), i) => ("1", 100 + i, "A", "C", fmt, c) }
      .toDF("chrom", "pos", "ref", "alt", "format", "call")
      .withColumn("genotypes", map(lit("S1"), col("call")))
    val got = VariantAnnotator.setGtMissing(df,
        f => f("DP").cast("int") < 10 || f("GQ").cast("int") < 20)
      .select(col("pos"), element_at(col("genotypes"), "S1"))
      .as[(Int, String)].collect().toMap
    assert(got(100) === "./.:8:40")
    assert(got(101) === ".|.:30:15")
    assert(got(102) === "1/1:30:40")
    assert(got(103) === "./.:40:8")
    assert(got(104) === "1")
    assert(got(105) === "./.:5")
    assert(got(106) === ".:5")
  }

  test("fillInfoTags: NS/AN/AC/AF recomputed from calls, other keys " +
      "verbatim, haploid/missing parts counted right, and the " +
      "mask→refill composition updates the tags the mask changed") {
    import spark.implicits._
    val df = Seq(
      // site 1: S1 0/1, S2 1|1, S3 ./1, S4 ./. , S5 haploid 1
      ("1", 100, "A", "C", "DP=7;AF=0.9;XX=z"),
      // site 2: missing ALT → NS/AN only
      ("1", 200, "G", ".", "NS=9;DP=3"))
      .toDF("chrom", "pos", "ref", "alt", "info")
      .withColumn("format", lit("GT:DP"))
      .withColumn("genotypes", map(
        lit("S1"), lit("0/1:30"), lit("S2"), lit("1|1:40"),
        lit("S3"), lit("./1:50"), lit("S4"), lit("./.:5"),
        lit("S5"), lit("1:60")))
    val got = VariantAnnotator.fillInfoTags(df)
      .select("pos", "info").as[(Int, String)].collect().toMap
    // NS = 4 (./. excluded), AN = 2+2+1+1 = 6, AC = 1+2+1+1 = 5,
    // AF = ⌊5e6/6⌋ = 833333; DP/XX verbatim, stale AF replaced
    assert(got(100) === "DP=7;XX=z;NS=4;AN=6;AC=5;AF=0.833333")
    assert(got(200) === "DP=3;NS=4;AN=6")
    // composition: mask low-DP calls, then refill — S1 (DP 30 < 35)
    // and ./.:5 drop out; AN = 2+1+1 = 4, AC = 2+1+1 = 4, AF = 1.0
    val masked = VariantAnnotator.setGtMissing(df,
      f => f("DP").cast("int") < 35)
    val got2 = VariantAnnotator.fillInfoTags(masked)
      .select("pos", "info").as[(Int, String)].collect().toMap
    assert(got2(100) === "DP=7;XX=z;NS=3;AN=4;AC=4;AF=1.000000")
  }

  test("callFromPl: argmin-PL genotype with first-min tie rule, " +
      "triangular inverse, missing GT gets called, malformed/absent/" +
      "dotted PL and missing-ALT pass through") {
    import spark.implicits._
    val df = Seq(
      // (pos, alt, format, call)
      (100, "C",   "GT:PL",    "0/0:30,0,40"),   // het wins → 0/1
      (101, "C",   "GT:PL",    "1/1:0,0,40"),    // tie slots 0,1 → FIRST → 0/0
      (102, "C,T", "GT:PL",    "0/0:9,8,7,6,5,4"), // slot 5 → 2/2
      (103, "C,T", "GT:PL",    "0/0:9,8,7,6,4,5"), // slot 4 → 1/2
      (104, "C",   "GT:PL",    "./.:50,0,60"),   // missing GT → CALLED 0/1
      (105, "C",   "GT:PL",    "0/1:30,0"),      // short PL → untouched
      (106, "C",   "GT:PL",    "0/1:30,.,40"),   // dotted PL → untouched
      (107, "C",   "GT:DP",    "0/1:7"),         // no PL key → untouched
      (108, ".",   "GT:PL",    "0/0:1,2,3"))     // missing ALT → untouched
      .map { case (p, a, f, c) => ("1", p, "A", a, f, c) }
      .toDF("chrom", "pos", "ref", "alt", "format", "call")
      .withColumn("genotypes", map(lit("S1"), col("call")))
    val got = VariantAnnotator.callFromPl(df)
      .select(col("pos"), element_at(col("genotypes"), "S1"))
      .as[(Int, String)].collect().toMap
    assert(got(100) === "0/1:30,0,40")
    assert(got(101) === "0/0:0,0,40")
    assert(got(102) === "2/2:9,8,7,6,5,4")
    assert(got(103) === "1/2:9,8,7,6,4,5")
    assert(got(104) === "0/1:50,0,60")
    assert(got(105) === "0/1:30,0")
    assert(got(106) === "0/1:30,.,40")
    assert(got(107) === "0/1:7")
    assert(got(108) === "0/0:1,2,3")
  }

  test("GT-position guard: a record whose FORMAT lacks GT as subfield 1 " +
      "(legal VCF — e.g. 'DP:AD') passes through setGtMissing AND " +
      "callFromPl untouched instead of corrupting the first field") {
    import spark.implicits._
    val df = Seq(
      // DP:AD record: first subfield is DP=5 — masking would turn the
      // digits of DP into '.', calling from PL would overwrite DP
      (100, "DP:AD:PL", "5:3,2:30,0,40"),
      // control with GT first: both operators rewrite
      (101, "GT:DP:PL", "0/0:5:30,0,40"))
      .map { case (p, f, c) => ("1", p, "A", "C", f, c) }
      .toDF("chrom", "pos", "ref", "alt", "format", "call")
      .withColumn("genotypes", map(lit("S1"), col("call")))
    val masked = VariantAnnotator.setGtMissing(df,
        f => f("DP").cast("int") < 10)
      .select(col("pos"), element_at(col("genotypes"), "S1"))
      .as[(Int, String)].collect().toMap
    assert(masked(100) === "5:3,2:30,0,40", "non-GT record must pass")
    assert(masked(101) === "./.:5:30,0,40")
    val called = VariantAnnotator.callFromPl(df)
      .select(col("pos"), element_at(col("genotypes"), "S1"))
      .as[(Int, String)].collect().toMap
    assert(called(100) === "5:3,2:30,0,40", "non-GT record must pass")
    assert(called(101) === "0/1:5:30,0,40")
  }

  test("fillInfoTags edge contracts: '.'/NULL INFO are empty (tags " +
      "still written, bcftools +fill-tags), and a sites-only record " +
      "(empty/NULL genotypes) survives with 0-tags") {
    import spark.implicits._
    val df = Seq(
      (100, ".", "0/1:9"),   // '.' INFO → just the recomputed block
      (200, null, "1/1:9"),  // NULL INFO → same (no null-propagation)
      (300, "DP=4", null))   // sites-only: no calls at all
      .toDF("pos", "info", "call")
      .select(lit("1").as("chrom"), col("pos"), lit("A").as("ref"),
        lit("C").as("alt"), col("info"), lit("GT:DP").as("format"),
        when(col("call").isNotNull, map(lit("S1"), col("call")))
          .otherwise(typedLit(Map.empty[String, String])).as("genotypes"))
    val got = VariantAnnotator.fillInfoTags(df)
      .select("pos", "info").as[(Int, String)].collect().toMap
    assert(got(100) === "NS=1;AN=2;AC=1;AF=0.500000")
    assert(got(200) === "NS=1;AN=2;AC=2;AF=1.000000")
    assert(got(300) === "DP=4;NS=0;AN=0;AC=0;AF=0.000000")
  }

  test("removeTags: bcftools annotate -x — INFO keys stripped in " +
      "key=value AND bare-flag form (emptied INFO → '.'), FORMAT " +
      "subfields dropped positionally through each row's own layout, " +
      "short calls keep only what they have, absent tags no-op, " +
      "GT refused") {
    import spark.implicits._
    val df = Seq(
      // (pos, info, format, call)
      (100, "NS=3;DP=9;DB;AF=0.5", "GT:DP:GQ", "0/1:12:40"),
      (200, "DP=9", "GT:GQ:DP", "1/1:40:7"),  // swapped layout
      (300, "XX=1", "GT:DP:GQ", "0/1"),       // short call: GT only
      (400, null, "GT", "0/0"))               // NULL info → '.'
      .toDF("pos", "info", "format", "call")
      .select(lit("1").as("chrom"), col("pos"), lit("A").as("ref"),
        lit("C").as("alt"), col("info"), col("format"),
        map(lit("S1"), col("call")).as("genotypes"))
    val got = VariantAnnotator.removeTags(df,
        infoTags = Seq("DP", "DB", "NOPE"), formatTags = Seq("DP", "NOPE"))
      .select(col("pos"), col("info"), col("format"),
        element_at(col("genotypes"), "S1"))
      .as[(Int, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(100) === (("NS=3;AF=0.5", "GT:GQ", "0/1:40")))
    assert(got(200) === ((".", "GT:GQ", "1/1:40")))
    assert(got(300) === (("XX=1", "GT:GQ", "0/1")))
    assert(got(400) === ((".", "GT", "0/0")))
    intercept[IllegalArgumentException] {
      VariantAnnotator.removeTags(df, formatTags = Seq("GT"))
    }
  }

  test("removeTags: a removed key never eats a LONGER key it prefixes " +
      "(DP vs DP4, DB vs DBSNP — the r13 advisory; a regex strip with " +
      "an optional value group corrupted 'NS=3;DP4=1,2;DBSNP' into " +
      "'NS=34=1,2SNP'), and a GT-less record whose subfields all drop " +
      "empties to the VCF '.' convention, not ''") {
    import spark.implicits._
    val df = Seq(
      (100, "NS=3;DP4=1,2;DBSNP;AF=0.5;DP=9;DB", "GT:DP", "0/1:7"),
      (200, "DP4=1,2;DP=3", "DP:AD", "5:3,2"),  // legal GT-less record
      (300, "DB;DBSNP", "GT", "0/0"))
      .toDF("pos", "info", "format", "call")
      .select(lit("1").as("chrom"), col("pos"), lit("A").as("ref"),
        lit("C").as("alt"), col("info"), col("format"),
        map(lit("S1"), col("call")).as("genotypes"))
    val got = VariantAnnotator.removeTags(df,
        infoTags = Seq("DP", "DB"), formatTags = Seq("DP", "AD"))
      .select(col("pos"), col("info"), col("format"),
        element_at(col("genotypes"), "S1"))
      .as[(Int, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(100) === (("NS=3;DP4=1,2;DBSNP;AF=0.5", "GT", "0/1")))
    assert(got(200) === (("DP4=1,2", ".", ".")))
    assert(got(300) === (("DBSNP", "GT", "0/0")))
  }

  /** The pre-r17 HOF Column form of removeTags, kept VERBATIM as the
    * parity reference: the operator now strips through compiled
    * kernels ([[graft.expressions.TagStripKernel]]); this pins kernel
    * ≡ legacy over a randomized sweep of layouts, short calls,
    * trailing separators, empties, flags, and NULLs.
    */
  private def legacyRemoveTags(
      df: org.apache.spark.sql.DataFrame,
      infoTags: Seq[String], formatTags: Seq[String]) = {
    val afterInfo =
      if (infoTags.isEmpty) df
      else {
        val stripped = array_join(
          filter(split(coalesce(col("info"), lit("")), ";"),
            e => !substring_index(e, "=", 1).isin(infoTags: _*)),
          ";")
        df.withColumn("__si", stripped)
          .withColumn("info",
            when(col("__si") === "", lit(".")).otherwise(col("__si")))
          .drop("__si")
      }
    if (formatTags.isEmpty) afterInfo
    else {
      val fmtKeys = split(col("format"), ":")
      def dotIfEmpty(c: org.apache.spark.sql.Column) =
        when(c === "", lit(".")).otherwise(c)
      afterInfo
        .withColumn("genotypes",
          transform_values(col("genotypes"), (_, call) =>
            dotIfEmpty(array_join(
              filter(split(call, ":"), (_, i) =>
                !coalesce(try_element_at(fmtKeys, i + 1), lit(""))
                  .isin(formatTags: _*)),
              ":"))))
        .withColumn("format",
          dotIfEmpty(
            array_join(filter(fmtKeys, k => !k.isin(formatTags: _*)), ":")))
    }
  }

  test("removeTags kernel == legacy HOF form over a randomized sweep") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val keys = Array("GT", "DP", "AD", "GQ", "DS", "DP4", "")
    val infoKeys = Array("NS", "DP", "DP4", "DB", "DBSNP", "AF", "XX", "")
    val rows = (0 until 300).map { i =>
      val fmt =
        if (i % 17 == 0) null
        else (0 until rnd.nextInt(5)).map(_ => keys(rnd.nextInt(keys.length)))
          .mkString(":") + (if (i % 7 == 0) ":" else "")
      val call =
        if (i % 19 == 0) null.asInstanceOf[String]
        else (0 until rnd.nextInt(6)).map(_ => rnd.nextInt(50).toString)
          .mkString(":") + (if (i % 5 == 0) ":" else "")
      val info =
        if (i % 13 == 0) null
        else (0 until rnd.nextInt(4)).map { _ =>
          val k = infoKeys(rnd.nextInt(infoKeys.length))
          if (rnd.nextBoolean()) s"$k=${rnd.nextInt(9)}" else k
        }.mkString(";")
      (i, info, fmt, call)
    }
    val df = rows.toDF("pos", "info", "format", "call")
      .select(col("pos"), col("info"), col("format"),
        map(lit("S1"), col("call")).as("genotypes"))
    val it = Seq("DP", "DB", "NOPE")
    val ft = Seq("DP", "AD", "NOPE")
    val sel = Seq("pos", "info", "format")
    val got = VariantAnnotator.removeTags(df, it, ft)
      .select(col("pos"), col("info"), col("format"),
        element_at(col("genotypes"), "S1").as("call"))
    val want = legacyRemoveTags(df, it, ft)
      .select(col("pos"), col("info"), col("format"),
        element_at(col("genotypes"), "S1").as("call"))
    val bad = got.as("g").join(want.as("w"), Seq("pos"))
      .filter(!(col("g.info") <=> col("w.info")) ||
        !(col("g.format") <=> col("w.format")) ||
        !(col("g.call") <=> col("w.call")))
      .collect()
    assert(bad.isEmpty,
      s"kernel drift: ${bad.map(_.toSeq.mkString("|")).mkString("; ")}")
  }

  test("wide→long explode with missing-call and missing-ALT drops") {
    // 7 sites × 2 samples = 14 calls; minus ./., minus 2 calls on ALT='.'
    assert(full.count() === 11)
    assert(full.filter(col("pos") === 600).count() === 0) // ALT='.' dropped
    assert(full.filter(col("pos") === 200).count() === 1) // ./. dropped
  }

  test("snp site with FORMAT payload") {
    assert(f(100, "NA1", "zygosity") === "het-ref")
    assert(f(100, "NA1", "phase") === "/")
    assert(f(100, "NA1", "a1") === "A")
    assert(f(100, "NA1", "a2") === "G")
    assert(f(100, "NA1", "vartype1") === "ref")
    assert(f(100, "NA1", "vartype2") === "snp")
    assert(f(100, "NA1", "DP") === "12")
    assert(f(100, "NA1", "AD_0") === "3")
    assert(f(100, "NA1", "AD_1") === "9")
    assert(f(100, "NA2", "zygosity") === "hom-alt")
    assert(f(100, "NA2", "phase") === "|")
  }

  test("deletion and insertion vartypes") {
    assert(f(200, "NA1", "vartype2") === "del") // AC→A
    assert(f(300, "NA1", "vartype2") === "ins") // T→TTG
    assert(f(500, "NA1", "vartype2") === "mnp") // TTC→TAG
  }

  test("multiallelic site: indices into [REF ++ ALTs]") {
    assert(f(400, "NA1", "a1") === "A")
    assert(f(400, "NA1", "a2") === "C")
    assert(f(400, "NA1", "zygosity") === "het-alt")
    assert(f(400, "NA1", "multiallele") === 1)
    assert(f(400, "NA2", "a1") === "C")
    assert(f(400, "NA2", "zygosity") === "hom-alt")
  }

  test("half-missing and haploid calls") {
    assert(f(500, "NA2", "zygosity") === "het-miss") // ./1
    assert(f(500, "NA2", "a1") === ".")
    assert(f(700, "NA1", "phase") === "-") // haploid '1'
    assert(f(700, "NA1", "a1") === "A")
    assert(f(700, "NA1", "a2") === ".")
    assert(f(700, "NA1", "zygosity") === "het-miss")
    assert(row(700, "NA1").isNullAt(row(700, "NA1").fieldIndex("gt2")))
  }

  test("hom_ref_counts per site, counted before drop_hom_ref") {
    assert(f(300, "NA1", "hom_ref_counts") === 1L) // NA2's 0/0
    assert(f(300, "NA2", "zygosity") === "hom-ref")
    assert(f(100, "NA1", "hom_ref_counts") === 0L)
    val dropped = VariantAnnotator.annotate(
      wide,
      VariantAnnotator.Options(dropHomRef = true,
        formatKeys = Some(Seq("GT", "DP", "AD"))))
    assert(dropped.filter(col("zygosity") === "hom-ref").count() === 0)
    // counts survive the drop
    assert(dropped.filter(col("pos") === 300).head()
      .getAs[Long]("hom_ref_counts") === 1L)
  }

  test("hom_ref_counts pools every wide row that shares a site key") {
    import spark.implicits._
    // two wide rows for ONE site (a split-then-merged callset, or two
    // batches landed side by side): each row's hom-refs count toward
    // every call of the site, whichever row the call came from
    val df = Seq(
      ("1", 100, "A", "C", "GT", Map("S1" -> "0/0", "S2" -> "0/1")),
      ("1", 100, "A", "C", "GT", Map("S3" -> "0|0", "S4" -> "0/0", "S5" -> "1/1")),
      ("1", 101, "A", "C", "GT", Map("S1" -> "0/0")))
      .toDF("chrom", "pos", "ref", "alt", "format", "genotypes")
    val out = VariantAnnotator.annotate(df,
      VariantAnnotator.Options(formatKeys = Some(Seq("GT"))))
      .select("pos", "sample_id", "hom_ref_counts").as[(Int, String, Long)]
      .collect().sortBy(_._2)
    assert(out.toSeq === Seq((100, "S2", 3L), (100, "S5", 3L)))
  }

  test("malformed GT allele indices yield a NULL allele, never a failed job") {
    import spark.implicits._
    // REF A, ALT C,G,T: under ANSI casts `-2` used to count from the
    // END (T), `-1` raised INVALID_INDEX_OF_ZERO and `x` / `1.0`
    // raised CAST_INVALID_INPUT
    val gts = Seq("-2/0", "-1/0", "x/0", "1.0/1")
    val df = Seq(("1", 100, "A", "C,G,T", "GT",
        gts.zipWithIndex.map { case (g, i) => s"S$i" -> g }.toMap))
      .toDF("chrom", "pos", "ref", "alt", "format", "genotypes")
    val got = VariantAnnotator.annotate(df, VariantAnnotator.Options(
        dropHomRef = false, formatKeys = Some(Seq("GT"))))
      .select("gt", "a1", "a2", "zygosity").as[(String, String, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      "-2/0" -> ((null, "A", "het-ref")),
      "-1/0" -> ((null, "A", "het-ref")),
      "x/0" -> ((null, "A", "het-ref")),
      "1.0/1" -> ((null, "C", "het-ref"))))
    // the Column wrapper resolves through the same kernel
    val idx = Seq("-2", "-1", "x", "1.0", "", "+1", "4", "3", ".")
    val bases = idx.toDF("i")
      .select(graft.functions.VariantFunctions.alleleBase(
        lit("A"), lit("C,G,T"), col("i")))
      .as[String].collect().toSeq
    assert(bases === Seq(null, null, null, null, null, null, null, "T", "."))
  }

  test("annotate kernel == legacy Column chain over generated wide frames") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // A call whose trailing subfields are dropped (legal VCF) reads
    // those subfields as NULL; the legacy chain cannot parse it
    // (map_from_arrays needs as many values as FORMAT keys), so the
    // legacy side reads a copy padded with a sentinel, mapped to NULL
    val pad = "\u0001"
    val index = Gen.frequency(6 -> Gen.oneOf("0", "1"), 2 -> Gen.oneOf("2", "3"),
      1 -> Gen.oneOf("7", "12"), 2 -> Gen.const("."))
    val gt = Gen.frequency(
      8 -> (for (a <- index; s <- Gen.oneOf("/", "|"); b <- index) yield s"$a$s$b"),
      2 -> index,
      2 -> Gen.oneOf("./.", ".|.", ".", ""),
      1 -> (for (a <- index; b <- index; c <- index) yield s"$a/$b|$c"))
    def value(k: String): Gen[String] = k match {
      case "GT" => gt
      case "AD" => Gen.oneOf("3,9", "5", ".", "1,2,3", "0,0", "")
      case _ => Gen.oneOf(Gen.choose(0, 60).map(_.toString), Gen.const("."))
    }
    val call: String => Gen[(String, String)] = fmt => {
      val ks = Option(fmt).fold(Seq("GT", "DP"))(_.split(":", -1).toSeq)
      for {
        vs <- Gen.sequence[Seq[String], String](ks.map(value))
        keep <- Gen.frequency(4 -> Gen.const(ks.length), 1 -> Gen.choose(1, ks.length))
      } yield {
        val c = vs.take(keep).mkString(":")
        (c, if (fmt == null) c else (vs.take(keep) ++ Seq.fill(ks.length - keep)(pad)).mkString(":"))
      }
    }
    val site = for {
      chrom <- Gen.oneOf("1", "2")
      pos <- Gen.choose(100, 103)
      ref <- Gen.frequency(12 -> Gen.oneOf("A", "C", "AC", "TTC"), 1 -> Gen.const(null))
      alt <- Gen.frequency(12 -> Gen.oneOf("C", "G,T", "T,GA,CCC", "A,<DEL>", "*",
        "G[2:100[", "]13:123456]T", "<DUP:TANDEM>", "C,", "A"), 2 -> Gen.const("."),
        1 -> Gen.const(null))
    } yield (chrom, pos, ref, alt)
    val wideRow: Seq[(String, Int, String, String)] => Gen[(Row, Row)] = sites => for {
      (chrom, pos, ref, alt) <- Gen.oneOf(sites)
      fmt <- Gen.frequency(10 -> Gen.oneOf("GT:DP:AD", "GT", "GT:AD", "DP:AD", "GT:AD:DP:GQ"),
        1 -> Gen.const(null))
      n <- Gen.choose(0, 4)
      calls <- Gen.listOfN(n, Gen.frequency(12 -> call(fmt), 1 -> Gen.const((null, null))))
      nullMap <- Gen.frequency(15 -> false, 1 -> true)
    } yield {
      def gts(pick: ((String, String)) => String) =
        if (nullMap) null
        else calls.zipWithIndex.map { case (c, i) => s"S$i" -> pick(c) }.toMap
      (Row(chrom, pos, ref, alt, fmt, gts(_._1)), Row(chrom, pos, ref, alt, fmt, gts(_._2)))
    }
    val frame = for {
      sites <- Gen.listOfN(5, site)
      rows <- Gen.choose(8, 30).flatMap(Gen.listOfN(_, wideRow(sites)))
      split <- Gen.oneOf(Map.empty[String, Int], Map("AD" -> 2), Map("AD" -> 3, "DP" -> 1))
    } yield (rows, split)
    val schema = StructType(Seq(
      StructField("chrom", StringType), StructField("pos", IntegerType, nullable = false),
      StructField("ref", StringType), StructField("alt", StringType),
      StructField("format", StringType),
      StructField("genotypes", MapType(StringType, StringType))))
    val fixed = Set("chrom", "pos", "ref", "alt", "sample_id", "gt", "phase", "gt1",
      "gt2", "a1", "a2", "multiallele", "zygosity", "hom_ref_counts", "vartype1", "vartype2")
    def differs(rows: Seq[(Row, Row)], split: Map[String, Int], drop: Boolean): Option[String] = {
      def df(rs: Seq[Row]) = spark.createDataFrame(
        spark.sparkContext.parallelize(rs, 3), schema)
      val opts = VariantAnnotator.Options(split, drop, Some(Seq("GT", "DP", "AD", "GQ", "PL")))
      val got = VariantAnnotator.annotate(df(rows.map(_._1)), opts)
      val legacy = legacyAnnotate(df(rows.map(_._2)), opts)
      val want = legacy.select(legacy.columns.toSeq.map(c =>
        if (fixed(c)) col(c) else when(col(c) =!= pad, col(c)).as(c)): _*)
      if (got.schema != legacy.schema)
        Some(s"schema ${got.schema.treeString} != ${legacy.schema.treeString}")
      else {
        val extra = got.exceptAll(want).collect()
        val missing = want.exceptAll(got).collect()
        if (extra.isEmpty && missing.isEmpty) None
        else Some(s"extra ${extra.mkString("; ")} missing ${missing.mkString("; ")}")
      }
    }
    val prop = Prop.forAllNoShrink(frame) { case (rows, split) =>
      val bad = Seq(false, true).flatMap(d => differs(rows, split, d).map(d -> _))
      Prop(bad.isEmpty) :| s"split=$split (dropHomRef, diff)=$bad rows=${rows.map(_._1)}"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(20260417L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** The pre-kernel Column chain of annotate (with the Column forms of
    * alleleBase and zygosity it used), kept VERBATIM as the parity
    * reference: annotate now runs [[graft.expressions.CallAnnotationKernel]]
    * with the window on the wide rows; this pins kernel ≡ legacy. */
  private def legacyAnnotate(df: org.apache.spark.sql.DataFrame,
      opts: VariantAnnotator.Options): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VariantFunctions.{gt1, gt2, isMissingCall, multiallele, phase, vartype}
    def alleleBases(ref: Column, alt: Column): Column =
      concat(array(ref), split(alt, ","))
    def alleleBase(ref: Column, alt: Column, gtIdx: Column): Column =
      when(gtIdx.isNull || gtIdx === ".", lit("."))
        .otherwise(try_element_at(alleleBases(ref, alt), gtIdx.cast("int") + 1))
    def zygosity(ref: Column, a1: Column, a2: Column): Column =
      when(a1 === ref && a2 === ref, lit("hom-ref"))
        .when(a1 === "." && a2 === ".", lit("hom-miss"))
        .when(a1 === "." || a2 === ".", lit("het-miss"))
        .when(a1 =!= ref && a2 =!= ref && a1 =!= a2, lit("het-alt"))
        .when(a1 =!= ref && a2 =!= ref && a1 === a2, lit("hom-alt"))
        .otherwise(lit("het-ref"))
    val keys = opts.formatKeys.get

    // wide→long; drop missing-ALT sites (variant_annotations.py:568)
    val long = df
      .filter(col("alt") =!= ".")
      .select(
        col("chrom"), col("pos"), col("ref"), col("alt"), col("format"),
        explode(col("genotypes")).as(Seq("sample_id", "call")))

    // FORMAT parse: call "0/1:12:3,9" against format "GT:DP:AD"
    val fmtMap = map_from_arrays(split(col("format"), ":"), split(col("call"), ":"))
    val withGt = long
      .withColumn("fmt", fmtMap)
      .withColumn("gt", element_at(split(col("call"), ":"), 1))
      .filter(!isMissingCall(col("gt")))

    val annotated = withGt
      .withColumn("phase", phase(col("gt")))
      .withColumn("gt1", gt1(col("gt")))
      .withColumn("gt2", gt2(col("gt")))
      .withColumn("a1", alleleBase(col("ref"), col("alt"), col("gt1")))
      .withColumn("a2", alleleBase(col("ref"), col("alt"), col("gt2")))
      .withColumn("multiallele", multiallele(col("alt")))
      .withColumn("zygosity", zygosity(col("ref"), col("a1"), col("a2")))

    val site = Window.partitionBy("chrom", "pos", "ref", "alt")
    val counted = annotated
      .withColumn(
        "hom_ref_counts",
        sum(when(col("zygosity") === "hom-ref", 1).otherwise(0)).over(site))
      .withColumn("vartype1", vartype(col("ref"), col("a1")))
      .withColumn("vartype2", vartype(col("ref"), col("a2")))

    val dropped =
      if (opts.dropHomRef) counted.filter(col("zygosity") =!= "hom-ref")
      else counted

    // FORMAT subfields as typed columns; split_columns exploded by comma
    val withFields = keys.filter(_ != "GT").foldLeft(dropped) { (d, k) =>
      opts.splitColumns.get(k) match {
        case Some(n) =>
          val parts = split(element_at(col("fmt"), k), ",")
          (0 until n).foldLeft(d)((dd, i) =>
            dd.withColumn(s"${k}_$i", try_element_at(parts, lit(i + 1))))
        case None =>
          d.withColumn(k, element_at(col("fmt"), k))
      }
    }

    withFields.drop("fmt", "call", "format")
  }

  test("kinshipPanel: MAF floor drops rare sites, LD prune drops the " +
      "higher-keyed linked twin, and the KING classes on the panel " +
      "match full-site truth (duplicate stays duplicate, unrelated " +
      "stays unrelated)") {
    import spark.implicits._
    def row(pos: Long, s: String, gt1: String, gt2: String) = {
      val a1 = if (gt1 == "0") "A" else "T"
      val a2 = if (gt2 == "0") "A" else "T"
      ("1", pos, "A", "T", 0, s, gt1, gt2, a1, a2)
    }
    // 12 spaced signal sites: odd → d1/d2 het + u hom-ref, even →
    // d1/d2 hom-alt + u hom-ref (opposite homs); φ̂(d1,d2) = 0.5,
    // φ̂(d,u) < 0. Site 2000: monomorphic (MAF 0 — the floor drops
    // it). Sites 3000/3010: identical dosage vectors 10 bp apart
    // (r² = 1 — the prune drops 3010).
    val rows =
      (1 to 12).flatMap { i =>
        val pos = i * 100L
        if (i % 2 == 1) Seq(row(pos, "d1", "0", "1"),
          row(pos, "d2", "0", "1"), row(pos, "u", "0", "0"))
        else Seq(row(pos, "d1", "1", "1"),
          row(pos, "d2", "1", "1"), row(pos, "u", "0", "0"))
      } ++
        Seq("d1", "d2", "u").map(s => row(2000L, s, "0", "0")) ++
        Seq(3000L, 3010L).flatMap(p => Seq(row(p, "d1", "0", "1"),
          row(p, "d2", "1", "1"), row(p, "u", "0", "0")))
    val ann = rows.toDF("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "a1", "a2")
    val panel = graft.operators.VariantQc.kinshipPanel(
      ann, mafMicroMin = 100000L, maxDist = 50, r2MicroMax = 990000L)
    val keptSites = panel.select("pos").distinct()
      .as[Long].collect().toSet
    assert(!keptSites.contains(2000L), "MAF floor must drop the rare site")
    assert(keptSites.contains(3000L) && !keptSites.contains(3010L),
      "LD prune must drop exactly the higher-keyed linked twin")
    assert(keptSites.size === 13)
    def classes(df: org.apache.spark.sql.DataFrame) =
      graft.operators.VariantQc.relatednessClasses(df)
        .select("sample_a", "sample_b", "relationship")
        .as[(String, String, String)].collect().toSet
    val want = Set(
      ("d1", "d2", "duplicate"),
      ("d1", "u", "unrelated"),
      ("d2", "u", "unrelated"))
    assert(classes(ann) === want, "full-site truth")
    assert(classes(panel) === want, "panel classes must match truth")
    // the larger-than-cluster fallback: landing the kept-site catalog
    // as a parquet table instead of a localCheckpoint must produce the
    // IDENTICAL panel (and the landed table IS the kept site list)
    val dir = TempDirs.create("graft-panel").toString + "/kept"
    val landed = graft.operators.VariantQc.kinshipPanel(
      ann, mafMicroMin = 100000L, maxDist = 50, r2MicroMax = 990000L,
      keptSitesPath = Some(dir))
    val key = Seq("chrom", "pos", "ref", "alt", "sample_id")
    assert(landed.select(key.head, key.tail: _*).collect().toSet ===
      panel.select(key.head, key.tail: _*).collect().toSet,
      "table-landed path must produce the identical kept panel")
    assert(spark.read.parquet(dir).select("pos").distinct()
      .as[Long].collect().toSet === keptSites)
  }

  test("siteSummary pivots zygosity per site") {
    val s = VariantAnnotator.siteSummary(full)
    val r300 = s.filter(col("pos") === 300).head()
    assert(r300.getAs[Long]("hom-ref") === 1L)
    assert(r300.getAs[Long]("hom-alt") === 1L)
  }

  test("kinshipCounts: hand-computed KING evidence counts per pair") {
    import spark.implicits._
    // (site, sample, a1, a2): x/y share 4 called sites — 1 het-het,
    // 1 opposite-hom, 1 same-hom, 1 het-hom; site 5 drops from the
    // (x, y) pair because x is uncalled, but stays for (y, z)
    val ann = Seq(
      ("1", 100L, "A", "T", "x", "A", "T"), ("1", 100L, "A", "T", "y", "A", "T"),
      ("1", 200L, "A", "T", "x", "A", "A"), ("1", 200L, "A", "T", "y", "T", "T"),
      ("1", 300L, "A", "T", "x", "A", "A"), ("1", 300L, "A", "T", "y", "A", "A"),
      ("1", 400L, "A", "T", "x", "A", "T"), ("1", 400L, "A", "T", "y", "A", "A"),
      ("1", 500L, "A", "T", "x", ".", "."), ("1", 500L, "A", "T", "y", "A", "T"),
      ("1", 500L, "A", "T", "z", "T", "T"))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "a1", "a2")
    val k = graft.operators.VariantQc.kinshipCounts(ann)
      .select("sample_a", "sample_b", "n_sites", "n_het_a", "n_het_b",
        "n_hethet", "n_opp")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    assert(k === Set(
      ("x", "y", 4L, 2L, 1L, 1L, 1L),
      // y het at 500, z hom-alt: no hom-hom comparison possible
      ("y", "z", 1L, 1L, 0L, 0L, 0L)))
  }

  test("kinshipPrune: related chains drop to their lowest-keyed member; " +
      "unrelated samples survive") {
    import spark.implicits._
    // a, b, c are identical het-everywhere triplets (φ̂ = 0.5 per
    // pair); d is hom-ref everywhere (φ̂ vs anyone = 0)
    val ann = (1 to 5).flatMap { i =>
      Seq(("1", i * 100L, "A", "T", "a", "A", "T"),
        ("1", i * 100L, "A", "T", "b", "A", "T"),
        ("1", i * 100L, "A", "T", "c", "A", "T"),
        ("1", i * 100L, "A", "T", "d", "A", "A"))
    }.toDF("chrom", "pos", "ref", "alt", "sample_id", "a1", "a2")
    val kept = graft.operators.VariantQc
      .kinshipPrune(ann, phiMicroMin = 400000L)
      .as[String].collect().toSet
    // order-free rule: (a,b) drops b, (a,c)/(b,c) drop c → a survives
    // as the triplet's representative; the whole chain prunes even
    // though plink's iterative heuristic might keep more (documented)
    assert(kept === Set("a", "d"))
    // threshold boundary: φ̂ = 0.5 exactly → micro 500000; a cutoff
    // just above keeps everyone
    val all = graft.operators.VariantQc
      .kinshipPrune(ann, phiMicroMin = 500001L)
      .as[String].collect().toSet
    assert(all === Set("a", "b", "c", "d"))
  }

  test("hweBySite: exact closed-form chi-square, exclusions enforced") {
    import spark.implicits._
    // rows: (pos, multiallele, gt1, gt2, zygosity)
    def site(pos: Long, rows: Seq[(Int, String, String, String)]) =
      rows.map { case (m, g1, g2, z) => ("1", pos, "A", "T", m, g1, g2, z) }
    val ann = (
      // perfect HWE 1:2:1 → D = 0 → chi² = 0
      site(100L, Seq((0, "0", "0", "hom-ref"), (0, "0", "1", "het-ref"),
        (0, "1", "0", "het-ref"), (0, "1", "1", "hom-alt"))) ++
      // all-hom 2:0:2 → chi² = n·D²/(A²B²) = 4·256/256 = 4.0
      site(200L, Seq((0, "0", "0", "hom-ref"), (0, "0", "0", "hom-ref"),
        (0, "1", "1", "hom-alt"), (0, "1", "1", "hom-alt"))) ++
      // monomorphic ref → B = 0 → defined 0
      site(300L, Seq((0, "0", "0", "hom-ref"), (0, "0", "0", "hom-ref"))) ++
      // excluded: multiallelic site, haploid call, half-missing call
      site(400L, Seq((1, "1", "2", "het-alt"))) ++
      Seq(("1", 500L, "A", "T", 0, "1", null, "het-ref"),
        ("1", 500L, "A", "T", 0, ".", "1", "het-miss"),
        ("1", 500L, "A", "T", 0, "0", "1", "het-ref")))
      .toDF("chrom", "pos", "ref", "alt", "multiallele", "gt1", "gt2", "zygosity")
    val byPos = graft.operators.VariantQc.hweBySite(ann)
      .select("pos", "n0", "n1", "n2", "hwe_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(byPos(100L) === ((1L, 2L, 1L, 0L)))
    assert(byPos(200L) === ((2L, 0L, 2L, 4000000L)))
    assert(byPos(300L) === ((2L, 0L, 0L, 0L)))
    assert(!byPos.contains(400L)) // multiallelic excluded entirely
    // only the called diploid row counts: n = 1 het → chi² = 1·1/(1·1)
    assert(byPos(500L) === ((0L, 1L, 0L, 1000000L)))
    // decimal lift: identical to the int64 path at small width
    val lifted = graft.operators.VariantQc.hweBySite(ann, decimalLift = true)
      .select("pos", "n0", "n1", "n2", "hwe_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(lifted === byPos)
  }

  test("hweBySite decimalLift: exact past the int64 product bound " +
      "(biobank width)") {
    import spark.implicits._
    // one site, 50k diploid samples, counts 20000/10000/20000:
    // n·D² = 5e4 · (1e8 − 1.6e9)² = 1.125e23 — wraps int64 (< 2⁶³ ≈
    // 9.2e18), the exact crossover the operator doc pins at ~3000
    // samples. Decimal path: χ²·1e6 = ⌊1.125e29 / 6.25e18⌋ cross-
    // checked against BigInt below.
    val (c0, c1, c2) = (20000, 10000, 20000)
    val rows =
      (1 to c0).map(_ => ("1", 100L, "A", "T", 0, "0", "0", "hom-ref")) ++
      (1 to c1).map(_ => ("1", 100L, "A", "T", 0, "0", "1", "het-ref")) ++
      (1 to c2).map(_ => ("1", 100L, "A", "T", 0, "1", "1", "hom-alt"))
    val ann = rows
      .toDF("chrom", "pos", "ref", "alt", "multiallele", "gt1", "gt2",
        "zygosity")
    val got = graft.operators.VariantQc.hweBySite(ann, decimalLift = true)
      .select("n0", "n1", "n2", "hwe_micro")
      .as[(Long, Long, Long, Long)].collect()
    val (n0, n1, n2) = (BigInt(c0), BigInt(c1), BigInt(c2))
    val (aa, bb) = (2 * n0 + n1, n1 + 2 * n2)
    val dd = n1 * n1 - 4 * n0 * n2
    val want = (n0 + n1 + n2) * dd * dd * 1000000 / (aa * aa * bb * bb)
    assert(got.toSeq ===
      Seq((c0.toLong, c1.toLong, c2.toLong, want.toLong)))
  }

  test("trendTest: Cochran-Armitage exact closed form — perfect " +
      "separation gives chi2 = N, null and monomorphic sites define 0") {
    import spark.implicits._
    def site(pos: Long, calls: Seq[(String, String, String)]) =
      calls.map { case (s, g1, g2) => ("1", pos, "A", "T", 0, s, g1, g2) }
    val ann = (
      // perfect separation: cases hom-alt, controls hom-ref → χ² = N = 4
      site(100L, Seq(("g1", "1", "1"), ("g2", "1", "1"),
        ("g3", "0", "0"), ("g4", "0", "0"))) ++
      // all het: no trend — num = 0 AND variance term 0
      site(200L, Seq(("g1", "0", "1"), ("g2", "0", "1"),
        ("g3", "0", "1"), ("g4", "0", "1"))) ++
      // reversed: ALT enriched in CONTROLS → sign −1, χ² = 4
      site(300L, Seq(("g1", "0", "0"), ("g2", "0", "0"),
        ("g3", "1", "1"), ("g4", "1", "1"))) ++
      // intermediate: cases (0,1,1) vs controls (1,1,0) → χ² = 2
      site(400L, Seq(("g1", "0", "1"), ("g2", "1", "1"),
        ("g3", "0", "0"), ("g4", "0", "1"))) ++
      // monomorphic ref: B = C = 0 → defined 0
      site(500L, Seq(("g1", "0", "0"), ("g2", "0", "0"),
        ("g3", "0", "0"), ("g4", "0", "0"))) ++
      // uncalled/multiallelic rows are excluded, not zero-counted
      Seq(("1", 600L, "A", "T", 0, "g1", ".", "1"),
        ("1", 600L, "A", "T", 1, "g2", "1", "2"),
        ("1", 600L, "A", "T", 0, "g3", "0", "1"),
        ("1", 600L, "A", "T", 0, "g4", "0", "0")))
      .toDF("chrom", "pos", "ref", "alt", "multiallele", "sample_id",
        "gt1", "gt2")
    val got = graft.operators.VariantQc
      .trendTest(ann, cases = Seq("g1", "g2"), controls = Seq("g3", "g4"))
      .select("pos", "trend_sign", "trend_micro")
      .as[(Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(100L) === ((1, 4000000L)))
    assert(got(200L) === ((0, 0L)))
    assert(got(300L) === ((-1, 4000000L)))
    assert(got(400L) === ((1, 2000000L)))
    assert(got(500L) === ((0, 0L)))
    // site 600: only g3 (het) and g4 (hom-ref) count — one cohort
    // empty → variance 0 → defined 0
    assert(got(600L) === ((0, 0L)))
  }

  test("metaStouffer: same-direction evidence compounds, conflicting " +
      "directions cancel, per-study coverage reported") {
    import spark.implicits._
    def study(rows: (Long, Int, Long)*) = rows.toSeq
      .map { case (p, sg, m) => ("1", p, "A", "T", sg, m) }
      .toDF("chrom", "pos", "ref", "alt", "trend_sign", "trend_micro")
    // site 100: both studies χ²=4 (z=2) same direction; site 200:
    // equal-weight opposite directions → exact cancel; site 300:
    // only study 1 covers it
    val s1 = study((100L, 1, 4000000L), (200L, 1, 4000000L),
      (300L, -1, 1000000L))
    val s2 = study((100L, 1, 4000000L), (200L, -1, 4000000L))
    val got = graft.operators.VariantQc
      .metaStouffer(Seq((s1, 1L), (s2, 1L)))
      .select("pos", "n_studies", "wz_sum", "z_micro")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Z = (2e6 + 2e6)/√2 → floor(4e6/1.41421356…) = 2828427
    assert(got(100L) === ((2L, 4000000L, 2828427L)))
    assert(got(200L) === ((2L, 0L, 0L)))
    // single-study site normalizes by ITS OWN √w² (METAL's
    // per-site-coverage convention): Z = −1e6/√1 → −1000000, not the
    // all-studies-deflated −1e6/√2
    assert(got(300L) === ((1L, -1000000L, -1000000L)))
    // weights scale the numerator: w1 = 3 triples study 1's vote
    val w = graft.operators.VariantQc
      .metaStouffer(Seq((s1, 3L), (s2, 1L)))
      .select("pos", "wz_sum").as[(Long, Long)].collect().toMap
    assert(w(200L) === 3L * 2000000L - 2000000L)
  }

  test("inbreedingF: exact micro-fixed-point F, exclusions enforced") {
    import spark.implicits._
    // (pos, sample, multiallele, gt1, gt2, a1, a2, zygosity)
    val ann = Seq(
      // site 100: x hom-ref, y het → n0=1 n1=1 n2=0 → A=3 B=1 n=2
      //   e = A·B/(2n²) = 3/8 = 0.375 → ehet_micro = 375000
      (100L, "x", 0, "0", "0", "A", "A", "hom-ref"),
      (100L, "y", 0, "0", "1", "A", "T", "het-ref"),
      // site 200: both het → n1=2 → A=2 B=2 n=2 → e = 4/8 → 500000
      (200L, "x", 0, "0", "1", "A", "T", "het-ref"),
      (200L, "y", 0, "1", "0", "T", "A", "het-ref"),
      // excluded: multiallelic site, half-missing, haploid
      (300L, "x", 1, "1", "2", "T", "C", "het-alt"),
      (400L, "x", 0, ".", "1", ".", "T", "het-miss"),
      (500L, "y", 0, "0", null, "A", ".", "het-miss"))
      .map { case (p, s, m, g1, g2, a1, a2, z) =>
        ("1", p, "A", "T", s, m, g1, g2, a1, a2, z) }
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2", "a1", "a2", "zygosity")
    val f = graft.operators.VariantQc.inbreedingF(ann)
      .select("sample_id", "n_sites", "n_obs_hom", "ehet_sum_micro", "f_micro")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // x: Σe = 875000, O_het = 1 → F = (875000−1000000)/875000 ≈ −0.142857
    assert(f("x") === ((2L, 1L, 875000L, -142858L)))
    // y: O_het = 2 → F = (875000−2000000)/875000 ≈ −1.285714
    assert(f("y") === ((2L, 0L, 875000L, -1285715L)))
  }

  test("tdtByChrom: phase-free b/c counts, violations and uninformative dropped") {
    import spark.implicits._
    // (chrom, pos, cGt, mGt, fGt); trio = (c, m, f)
    def site(ch: String, pos: Long, c: (String, String), m: (String, String),
        f: (String, String)) = Seq(
      (ch, pos, "A", "T", "c", 0, c._1, c._2),
      (ch, pos, "A", "T", "m", 0, m._1, m._2),
      (ch, pos, "A", "T", "f", 0, f._1, f._2))
    val ann = (
      // chrom 1, site A: c het, m het, f hom-ref → d=1 h=0 t=1 → b=1 c=0
      site("1", 100L, ("0", "1"), ("0", "1"), ("0", "0")) ++
      // chrom 1, site B: c hom-ref, both parents het → t=2 b=0 c=2
      site("1", 200L, ("0", "0"), ("0", "1"), ("1", "0")) ++
      // chrom 1, site C: no het parent → uninformative, dropped
      site("1", 300L, ("0", "1"), ("1", "1"), ("0", "0")) ++
      // chrom 1, site D: Mendelian violation (hom-alt child of two
      // hom-ref parents) → b=2 > t=0, excluded
      site("1", 400L, ("1", "1"), ("0", "0"), ("0", "0")) ++
      // chrom 2, site E: c hom-alt, m het, f hom-alt → d=2 h=1 t=1 → b=1 c=0
      site("2", 500L, ("1", "1"), ("0", "1"), ("1", "1")) ++
      // chrom 2, site F: child half-missing → trio join drops the site
      Seq(("2", 600L, "A", "T", "c", 0, ".", "1"),
        ("2", 600L, "A", "T", "m", 0, "0", "1"),
        ("2", 600L, "A", "T", "f", 0, "0", "0")))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2")
    val t = graft.operators.VariantQc.tdtByChrom(ann, "c", "m", "f")
      .select("chrom", "n_informative", "n_b", "n_c", "tdt_micro")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // chrom 1: B=1 C=2 → (1−2)²/3 = 0.3333…
    assert(t("1") === ((2L, 1L, 2L, 333333L)))
    // chrom 2: B=1 C=0 → 1/1 = 1
    assert(t("2") === ((1L, 1L, 0L, 1000000L)))
  }

  test("relatednessClasses: every KING band + the PO/FS IBS0 split, " +
      "hand-computed kinship and ibs0") {
    import spark.implicits._
    // each pair lives on its own site block (only that pair called
    // there), so per-pair counts are fully controlled
    def rows(a: String, b: String, base: Long,
        g: Seq[((String, String), (String, String))]) =
      g.zipWithIndex.flatMap { case ((ga, gb), i) => Seq(
        ("1", base + i, "A", "T", a, ga._1, ga._2),
        ("1", base + i, "A", "T", b, gb._1, gb._2)) }
    val het = ("A", "T"); val homR = ("A", "A"); val homA = ("T", "T")
    val ann = (
      // duplicate: 4 shared hets + 6 shared homs → φ = 4/8 = 0.5
      rows("da", "db", 100L,
        Seq.fill(4)((het, het)) ++ Seq.fill(6)((homR, homR))) ++
      // parent-offspring: hethet 4, hets 8/8, opp 0 → φ = 0.25, ibs0 0
      rows("pa", "pb", 200L,
        Seq.fill(4)((het, het)) ++ Seq.fill(4)((het, homR)) ++
        Seq.fill(4)((homR, het)) ++ Seq.fill(4)((homR, homR))) ++
      // full sibs: hethet 6, hets 8/8, opp 1, 20 sites
      //   → φ = (6−2)/16 = 0.25, ibs0 = 1/20 = 0.05
      rows("fa", "fb", 300L,
        Seq.fill(6)((het, het)) ++ Seq.fill(2)((het, homR)) ++
        Seq.fill(2)((homR, het)) ++ Seq((homR, homA)) ++
        Seq.fill(9)((homR, homR))) ++
      // second degree: hethet 2, hets 8/8 → φ = 2/16 = 0.125
      rows("sa", "sb", 400L,
        Seq.fill(2)((het, het)) ++ Seq.fill(6)((het, homR)) ++
        Seq.fill(6)((homR, het)) ++ Seq.fill(2)((homR, homR))) ++
      // third degree: hethet 1, hets 8/8 → φ = 1/16 = 0.0625
      rows("ta", "tb", 500L,
        Seq.fill(1)((het, het)) ++ Seq.fill(7)((het, homR)) ++
        Seq.fill(7)((homR, het)) ++ Seq.fill(1)((homR, homR))) ++
      // unrelated: no hethet, one opposite hom → φ = −2/4 = −0.5
      rows("ua", "ub", 600L,
        Seq.fill(2)((het, homR)) ++ Seq.fill(2)((homR, het)) ++
        Seq((homR, homA))))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "a1", "a2")
    val out = graft.operators.VariantQc.relatednessClasses(ann)
      .select($"sample_a", $"kinship_micro", $"ibs0_micro", $"relationship")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.size === 6, out)
    assert(out("da") === ((500000L, 0L, "duplicate")))
    assert(out("pa") === ((250000L, 0L, "parent_offspring")))
    assert(out("fa") === ((250000L, 50000L, "full_sib")))
    assert(out("sa") === ((125000L, 0L, "second_degree")))
    assert(out("ta") === ((62500L, 0L, "third_degree")))
    assert(out("ua")._3 === "unrelated")
    assert(out("ua")._1 === -500000L)
  }

  test("sexCheck: hemizygous-looking sample reads male at F = 1, " +
      "het-rich reads female, mid-band unknown, other chroms ignored") {
    import spark.implicits._
    def call(ch: String, pos: Long, s: String, het: Boolean) =
      if (het) (ch, pos, "A", "T", s, 0, "0", "1", "A", "T", "het-ref")
      else (ch, pos, "A", "T", s, 0, "0", "0", "A", "A", "hom-ref")
    // X: m1 hom everywhere; f1 het everywhere; u1 het at ONE of 10
    // sites → F ≈ 0.66, inside the unknown band
    val ann = ((1L to 10L).flatMap(p => Seq(
      call("X", p, "m1", het = false),
      call("X", p, "f1", het = true),
      call("X", p, "u1", het = p == 1L))) ++
      // autosomal noise with the OPPOSITE pattern must not leak in
      (1L to 10L).flatMap(p => Seq(
        call("1", p, "m1", het = true),
        call("1", p, "f1", het = false))))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2", "a1", "a2", "zygosity")
    val out = graft.operators.VariantQc.sexCheck(ann, "X")
      .select($"sample_id", $"f_micro", $"inferred_sex")
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("m1") === ((1000000L, "male")))
    assert(out("f1")._2 === "female")
    assert(out("f1")._1 < 200000L)
    assert(out("u1")._2 === "unknown", out("u1"))
    assert(out("u1")._1 > 200000L && out("u1")._1 < 800000L)
  }

  test("deNovoCandidates: child-het + hom-ref parents only; double " +
      "violations, inherited hets, missing and multiallelic excluded") {
    import spark.implicits._
    def site(pos: Long, c: (String, String), m: (String, String),
        f: (String, String), ma: Int = 0) = Seq(
      ("1", pos, "A", "T", "c1", ma, c._1, c._2),
      ("1", pos, "A", "T", "mo", ma, m._1, m._2),
      ("1", pos, "A", "T", "fa", ma, f._1, f._2))
    val ann = (
      // candidate: child 0/1, both parents 0/0
      site(100L, ("0", "1"), ("0", "0"), ("0", "0")) ++
      // inherited: mother het → not de novo
      site(200L, ("0", "1"), ("0", "1"), ("0", "0")) ++
      // double violation: child 1/1 of hom-ref parents → excluded
      site(300L, ("1", "1"), ("0", "0"), ("0", "0")) ++
      // child phased-het spelling 1|0 still dosage 1
      site(400L, ("1", "0"), ("0", "0"), ("0", "0")) ++
      // father missing → trio join drops the site
      site(500L, ("0", "1"), ("0", "0"), (".", ".")) ++
      // multiallelic flag excludes the site
      site(600L, ("0", "1"), ("0", "0"), ("0", "0"), ma = 1))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2")
    val trios = Seq(("c1", "mo", "fa")).toDF("child", "mother", "father")
    val out = graft.operators.VariantQc.deNovoCandidates(ann, trios)
      .select($"child", $"pos").as[(String, Long)].collect().sorted.toSeq
    assert(out === Seq(("c1", 100L), ("c1", 400L)))
  }

  test("ldR2Pairs: hand-computed r², exactly-once across buckets, boundary and missing calls") {
    import spark.implicits._
    // dosage vectors per site (ref A, alt T, biallelic): gt1/gt2 encode
    // 0/1/2 ALT dosage; chrom 1 sites at 100/500/900/1001/1500/2500,
    // chrom 2 at 150/200 with one missing call
    def site(ch: String, pos: Long, ds: Seq[Option[Int]]) =
      ds.zipWithIndex.map { case (d, i) =>
        val (g1, g2) = d match {
          case Some(0) => ("0", "0")
          case Some(1) => ("0", "1")
          case Some(2) => ("1", "1")
          case _ => (".", null)
        }
        (ch, pos, "A", "T", s"s${i + 1}", 0, g1, g2)
      }
    def v(xs: Int*) = xs.map(Some(_))
    val ann = (
      site("1", 100L, v(0, 1, 2, 1)) ++
      site("1", 500L, v(0, 1, 2, 0)) ++
      site("1", 900L, v(0, 1, 2, 1)) ++   // = site 100 → r² = 1
      site("1", 1001L, v(2, 1, 0, 1)) ++  // = 2 − site 100 → r² = 1
      site("1", 1500L, v(1, 1, 1, 1)) ++  // monomorphic → r² = 0
      site("1", 2500L, v(0, 0, 1, 2)) ++  // exactly 1 kb from 1500 only
      site("2", 150L, Seq(Some(0), Some(2), Some(2), None)) ++
      // duplicate records at 150: an identical copy (s2, dosage 2) and
      // a CONFLICTING one (s1 dosage 2 vs 0) — both resolve to the
      // per-(site, sample) minimum, leaving the statistics unchanged
      Seq(("2", 150L, "A", "T", "s2", 0, "1", "1"),
        ("2", 150L, "A", "T", "s1", 0, "1", "1")) ++
      site("2", 200L, v(2, 1, 0, 1)))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2")
    val out = graft.operators.VariantQc.ldR2Pairs(ann, maxDist = 1000)
      .select("chrom", "pos_a", "pos_b", "n", "r2_micro")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // no duplicate pair rows (the 100–1001 pair straddles buckets 0/1)
    assert(out.length === out.toSet.size)
    assert(out.toSet === Set(
      // (x=[0,1,2,1], y=[0,1,2,0]): cov²/(va·vb) = 64/88 → 727272
      ("1", 100L, 500L, 4L, 727272L),
      ("1", 100L, 900L, 4L, 1000000L),
      ("1", 100L, 1001L, 4L, 1000000L),
      ("1", 500L, 900L, 4L, 727272L),
      ("1", 500L, 1001L, 4L, 727272L),
      ("1", 500L, 1500L, 4L, 0L),       // dist exactly 1000 included
      ("1", 900L, 1001L, 4L, 1000000L),
      ("1", 900L, 1500L, 4L, 0L),
      ("1", 1001L, 1500L, 4L, 0L),
      ("1", 1500L, 2500L, 4L, 0L),      // the 1500-site is the mono side
      // chrom 2: s4 missing at 150 → n = 3 shared calls; 36/48 → 750000
      ("2", 150L, 200L, 3L, 750000L)))
  }

  test("ldPrune: order-free drop rule, chain semantics, threshold boundary") {
    import spark.implicits._
    def site(ch: String, pos: Long, ds: Seq[Option[Int]]) =
      ds.zipWithIndex.map { case (d, i) =>
        val (g1, g2) = d match {
          case Some(0) => ("0", "0")
          case Some(1) => ("0", "1")
          case Some(2) => ("1", "1")
          case _ => (".", null)
        }
        (ch, pos, "A", "T", s"s${i + 1}", 0, g1, g2)
      }
    def v(xs: Int*) = xs.map(Some(_))
    val ann = (
      site("1", 100L, v(0, 1, 2, 1)) ++
      site("1", 500L, v(0, 1, 2, 0)) ++   // r² vs 100 = 0.727
      site("1", 900L, v(0, 1, 2, 1)) ++   // r² vs 100 = 1
      site("1", 1001L, v(2, 1, 0, 1)) ++  // r² vs 100/900 = 1
      site("1", 1500L, v(1, 1, 1, 1)) ++  // monomorphic, never linked
      site("2", 150L, Seq(Some(0), Some(2), Some(2), None)) ++
      site("2", 200L, v(2, 1, 0, 1)))     // r² vs 150 = 0.75
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2")
    def kept(thrMicro: Long) = graft.operators.VariantQc
      .ldPrune(ann, maxDist = 1000, r2MicroMax = thrMicro)
      .select("chrom", "pos").as[(String, Long)].collect().toSet
    // τ = 0.9: only the perfect-LD links drop their higher-keyed side
    assert(kept(900000L) === Set(
      ("1", 100L), ("1", 500L), ("1", 1500L), ("2", 150L), ("2", 200L)))
    // τ = 0.7: 500/900/1001 all link to 100 and drop — 1001 drops even
    // though 900 (its lower linked neighbor) also dropped: the
    // order-free rule prunes whole chains, q90's documented trade
    assert(kept(700000L) === Set(("1", 100L), ("1", 1500L), ("2", 150L)))
  }

  test("rohSegments: islands break on het, survive duplicates, isolate chroms") {
    import spark.implicits._
    def call(ch: String, pos: Long, s: String, hom: Boolean) = {
      val (g2, a2) = if (hom) ("0", "A") else ("1", "T")
      (ch, pos, "A", "T", s, 0, "0", g2, if (hom) "0/0" else "0/1", "A", a2)
    }
    val ann = (
      // s1 chrom 1: hom×3, het break, hom×4 → runs (100-300, 3) and
      // (500-800, 4); s1 missing at 450 (only s2 called) — no break
      Seq(100L, 200L, 300L).map(call("1", _, "s1", hom = true)) ++
      Seq(call("1", 400L, "s1", hom = false)) ++
      Seq(call("1", 450L, "s2", hom = true)) ++
      Seq(500L, 600L, 700L, 800L).map(call("1", _, "s1", hom = true)) ++
      // s1 chrom 2: only 2 homs → below minSites
      Seq(900L, 950L).map(call("2", _, "s1", hom = true)) ++
      // s2 chrom 2: full-duplicate rows inside a run (the tie-crossing
      // regression: an island key derived from two INDEPENDENT
      // tie-breaks can split this run)
      Seq(call("2", 10L, "s2", hom = true), call("2", 20L, "s2", hom = true),
        call("2", 20L, "s2", hom = true), call("2", 30L, "s2", hom = true)))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2", "gt", "a1", "a2")
    val runs = graft.operators.VariantQc.rohSegments(ann, minSites = 3)
      .select("sample_id", "chrom", "n_sites", "run_start", "run_end", "n_het")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(runs === Set(
      ("s1", "1", 3L, 100L, 300L, 0L),
      ("s1", "1", 4L, 500L, 800L, 0L),
      ("s2", "2", 4L, 10L, 30L, 0L)))
  }

  test("rohSegments maxHetRun: single-het blocks bridge (the one-error " +
      "run), longer blocks still break, edge hets never extend") {
    import spark.implicits._
    def call(ch: String, pos: Long, s: String, hom: Boolean) = {
      val (g2, a2) = if (hom) ("0", "A") else ("1", "T")
      (ch, pos, "A", "T", s, 0, "0", g2, if (hom) "0/0" else "0/1", "A", a2)
    }
    val ann = (
      // s1 chrom 1: hom×3, ONE het, hom×4 — bridged at maxHetRun=1
      // into a single 7-hom run carrying n_het=1
      Seq(100L, 200L, 300L).map(call("1", _, "s1", hom = true)) ++
      Seq(call("1", 400L, "s1", hom = false)) ++
      Seq(500L, 600L, 700L, 800L).map(call("1", _, "s1", hom = true)) ++
      // s1 chrom 2: hom×3, TWO consecutive hets, hom×3 — the block of
      // 2 exceeds maxHetRun=1 and still breaks
      Seq(10L, 20L, 30L).map(call("2", _, "s1", hom = true)) ++
      Seq(call("2", 40L, "s1", hom = false),
        call("2", 50L, "s1", hom = false)) ++
      Seq(60L, 70L, 80L).map(call("2", _, "s1", hom = true)) ++
      // s2 chrom 1: leading + trailing het around hom×3 — bridgeable
      // blocks at the edges must not extend bounds or count in n_het
      Seq(call("1", 5L, "s2", hom = false)) ++
      Seq(10L, 20L, 30L).map(call("1", _, "s2", hom = true)) ++
      Seq(call("1", 40L, "s2", hom = false)))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2", "gt", "a1", "a2")
    val relaxed = graft.operators.VariantQc
      .rohSegments(ann, minSites = 3, maxHetRun = 1)
      .select("sample_id", "chrom", "n_sites", "run_start", "run_end", "n_het")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(relaxed === Set(
      ("s1", "1", 7L, 100L, 800L, 1L),
      ("s1", "2", 3L, 10L, 30L, 0L),
      ("s1", "2", 3L, 60L, 80L, 0L),
      ("s2", "1", 3L, 10L, 30L, 0L)))
    // strict mode on the same data: the het fragments s1 chrom 1
    val strict = graft.operators.VariantQc
      .rohSegments(ann, minSites = 3, maxHetRun = 0)
      .select("sample_id", "chrom", "n_sites", "run_start", "run_end", "n_het")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(strict === Set(
      ("s1", "1", 3L, 100L, 300L, 0L),
      ("s1", "1", 4L, 500L, 800L, 0L),
      ("s1", "2", 3L, 10L, 30L, 0L),
      ("s1", "2", 3L, 60L, 80L, 0L),
      ("s2", "1", 3L, 10L, 30L, 0L)))
  }

  test("grmPairs: exact standardized products, exclusions, min-dedup") {
    import spark.implicits._
    def r(pos: Long, s: String, g1: String, g2: String, m: Int = 0) =
      ("1", pos, "A", "T", s, m, g1, g2)
    val ann = Seq(
      // pos 100: x 0/0 (d=0), y 1/1 (d=2) → n=2, b=2, a=2
      //   term(x,y) = 2(2·0−2)(2·2−2)/(2·2) = −2 → −2e6 micro
      r(100L, "x", "0", "0"), r(100L, "y", "1", "1"),
      // pos 200: both het d=1 → z-scores 0 → all terms 0
      r(200L, "x", "0", "1"), r(200L, "y", "1", "0"),
      // pos 300: monomorphic ref (b=0) → excluded from every pair
      r(300L, "x", "0", "0"), r(300L, "y", "0", "0"),
      // pos 400: y uncalled → n=1, a=0 → monomorphic, excluded
      r(400L, "x", "1", "1"), r(400L, "y", ".", "."),
      // pos 500: x has CONFLICTING duplicate rows (d=2 and d=1) →
      //   min-resolves to 1; y d=0 → n=2, b=1, a=3
      //   term(x,y) = 2(2·1−1)(2·0−1)/3 = −2/3 → floor −666667
      //   term(x,x) = 2/3 → 666666; term(y,y) = 2/3 → 666666
      r(500L, "x", "1", "1"), r(500L, "x", "0", "1"), r(500L, "y", "0", "0"),
      // multiallelic excluded entirely
      r(600L, "x", "1", "2", m = 1), r(600L, "y", "0", "1", m = 1))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2")
    val g = graft.operators.VariantQc.grmPairs(ann)
      .select("sample_a", "sample_b", "n_sites", "grm_sum_micro", "grm_micro")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(g === Set(
      ("x", "x", 3L, 2666666L, 888888L),
      ("x", "y", 3L, -2666667L, -888889L),
      ("y", "y", 3L, 2666666L, 888888L)))
  }

  test("genotypePca separates planted populations, partition-stable") {
    import spark.implicits._
    // two populations with perfectly opposed genotypes at 10 sites:
    // the GRM is rank 1 — ±2 blocks — so λ1 = 8, pc1 = ±0.5·√8
    val ann = (1 to 10).flatMap { i =>
      val (ga, gb) = if (i % 2 == 0) ("0", "1") else ("1", "0")
      Seq("a1", "a2").map(s => ("1", i * 100L, "A", "T", s, 0, ga, ga)) ++
        Seq("b1", "b2").map(s => ("1", i * 100L, "A", "T", s, 0, gb, gb))
    }.toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
      "gt1", "gt2")
    val (df, evs) = graft.operators.VariantQc.genotypePca(ann, k = 2)
    val pcs = df.as[(String, Seq[Double])].collect().toMap
    assert(math.abs(evs.head - 8.0) < 1e-9 && math.abs(evs(1)) < 1e-9)
    // the two populations sit at ±0.5·√8 on PC1: same-pop coordinates
    // agree, cross-pop are opposite (absolute sign is a convention)
    val expect = 0.5 * math.sqrt(8.0)
    val (pa, pb) = (pcs("a1").head, pcs("b1").head)
    assert(math.abs(math.abs(pa) - expect) < 1e-9)
    assert(math.abs(pcs("a2").head - pa) < 1e-9)
    assert(math.abs(pcs("b2").head - pb) < 1e-9)
    assert(math.abs(pb + pa) < 1e-9)
    // partitioning cannot move a coordinate: micro-floored GRM input +
    // fixed-order Jacobi + sign convention = pure function of the rows
    val (df2, evs2) = graft.operators.VariantQc
      .genotypePca(ann.repartition(7), k = 2)
    assert(evs2 === evs)
    assert(df2.as[(String, Seq[Double])].collect().toMap === pcs)
  }

  test("projectOntoPcs: a reference sample re-entered recovers its own " +
      "coordinate; new samples land on their population's side; " +
      "zero-variance components project to 0") {
    import spark.implicits._
    // the q123 planted-population fixture: two populations, opposed
    // genotypes, GRM rank 1 (λ1 = 8, λ2 = 0)
    val ref = (1 to 10).flatMap { i =>
      val (ga, gb) = if (i % 2 == 0) ("0", "1") else ("1", "0")
      Seq("a1", "a2").map(s => ("1", i * 100L, "A", "T", s, 0, ga, ga)) ++
        Seq("b1", "b2").map(s => ("1", i * 100L, "A", "T", s, 0, gb, gb))
    }.toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
      "gt1", "gt2")
    // new arrivals: n_a carries a1's exact genotypes, n_b carries b1's
    val nw = ref.filter($"sample_id".isin("a1", "b1"))
      .withColumn("sample_id",
        when($"sample_id" === "a1", "n_a").otherwise("n_b"))
    val (pcsDf, _) = graft.operators.VariantQc.genotypePca(ref, k = 2)
    val refPcs = pcsDf.as[(String, Seq[Double])].collect().toMap
    val proj = graft.operators.VariantQc.projectOntoPcs(ref, nw, k = 2)
      .as[(String, Seq[Double])].collect().toMap
    // spectral identity: K(n_a, ·) IS a1's matrix row → exact recovery
    assert(math.abs(proj("n_a").head - refPcs("a1").head) < 1e-6, proj)
    assert(math.abs(proj("n_b").head - refPcs("b1").head) < 1e-6, proj)
    // opposite populations, frozen axes
    assert(proj("n_a").head * proj("n_b").head < 0.0, proj)
    // λ2 = 0: no variance to project onto — defined 0, not a divide
    assert(proj("n_a")(1) === 0.0 && proj("n_b")(1) === 0.0, proj)
  }

  test("fstByChrom: Hudson ratio-of-sums, hand-computed sites") {
    import spark.implicits._
    def r(pos: Long, s: String, g1: String, g2: String) =
      ("1", pos, "A", "T", s, 0, g1, g2)
    val ann = Seq(
      // pos 100: popA fixed ALT, popB fixed REF → N = D = 1
      r(100L, "x1", "1", "1"), r(100L, "x2", "1", "1"),
      r(100L, "y1", "0", "0"), r(100L, "y2", "0", "0"),
      // out-of-cohort sample must be ignored
      r(100L, "z", "0", "1"),
      // pos 200: both pops at p = 1/2 → N = −1/6, D = 1/2
      r(200L, "x1", "0", "1"), r(200L, "x2", "1", "0"),
      r(200L, "y1", "0", "1"), r(200L, "y2", "0", "1"),
      // pos 300: popB half-missing (c2 = 2): p1 = 0, p2 = 1/2 →
      //   N = 1/4 − 1/4 = 0, D = 1/2
      r(300L, "x1", "0", "0"), r(300L, "x2", "0", "0"),
      r(300L, "y1", "0", "1"), r(300L, "y2", ".", "."),
      // pos 400: popB fully uncalled → c2 = 0 < 2 → site excluded
      r(400L, "x1", "1", "1"), r(400L, "x2", "0", "0"))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2")
    val f = graft.operators.VariantQc
      .fstByChrom(ann, Seq("x1", "x2"), Seq("y1", "y2"))
      .select("chrom", "n_sites", "num_sum_micro", "den_sum_micro", "fst_micro")
      .as[(String, Long, Long, Long, Long)].collect()
    // sums: N = 1e6 − 166667 + 0; D = 1e6 + 5e5 + 5e5
    assert(f.toSeq === Seq(("1", 3L, 833333L, 2000000L, 416666L)))
    intercept[IllegalArgumentException] {
      graft.operators.VariantQc.fstByChrom(ann, Seq("x1"), Seq("x1", "y1"))
    }
  }

  test("frohBySample: ROH-covered fraction of the surveyed span; " +
      "zero-run samples report 0, not absent") {
    import spark.implicits._
    def call(ch: String, pos: Long, s: String, hom: Boolean) = {
      val (g2, a2) = if (hom) ("0", "A") else ("1", "T")
      (ch, pos, "A", "T", s, 0, "0", g2, if (hom) "0/0" else "0/1", "A", a2)
    }
    val ann = (
      // s1 chrom 1: runs 100-300 and 500-800 (het at 400 breaks);
      // surveyed span 100..800 = 700
      Seq(100L, 200L, 300L).map(call("1", _, "s1", hom = true)) ++
      Seq(call("1", 400L, "s1", hom = false)) ++
      Seq(500L, 600L, 700L, 800L).map(call("1", _, "s1", hom = true)) ++
      // s1 chrom 2: 2 homs, below minSites — span 50, no run
      Seq(900L, 950L).map(call("2", _, "s1", hom = true)) ++
      // s2: three hets only — span 200, zero runs
      Seq(10L, 110L, 210L).map(call("1", _, "s2", hom = false)))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "multiallele",
        "gt1", "gt2", "gt", "a1", "a2")
    val out = graft.operators.VariantQc.frohBySample(ann, minSites = 3)
      .orderBy("sample_id")
      .as[(String, Long, Long, Long)].collect().toSeq
    // s1: roh = 200 + 300 = 500; span = 700 + 50 = 750 → 666666
    assert(out === Seq(
      ("s1", 500L, 750L, 666666L),
      ("s2", 0L, 200L, 0L)))
  }

  test("compoundHet: trans needs alts on BOTH haplotypes — cis clears, " +
      "unphased leaves a candidate, one phased 1|2 site is trans alone") {
    import spark.implicits._
    def het(s: String, pos: Long, phase: String, g1: String, g2: String) =
      (s, "1", pos, phase, g1, g2,
        if (g1 != "0" && g2 != "0" && g1 != g2) "het-alt" else "het-ref")
    val ann = Seq(
      // s1 gene A (100-200): 0|1 + 1|0 → trans
      het("s1", 110L, "|", "0", "1"), het("s1", 120L, "|", "1", "0"),
      // s2 gene A: both alts on hap2 → cis (the unphased caller's FP)
      het("s2", 110L, "|", "0", "1"), het("s2", 120L, "|", "0", "1"),
      // s3 gene A: one phased + one UNPHASED → candidate
      het("s3", 110L, "|", "0", "1"), het("s3", 120L, "/", "0", "1"),
      // s4 gene A: single het only
      het("s4", 110L, "|", "0", "1"),
      // s5 gene A: ONE phased het-alt site (1|2) → trans by itself
      het("s5", 130L, "|", "1", "2"),
      // s1 outside any gene: never reported
      het("s1", 900L, "|", "0", "1"),
      // a hom call never enters
      ("s1", "1", 115L, "|", "1", "1", "hom-alt"))
      .toDF("sample_id", "chrom", "pos", "phase", "gt1", "gt2", "zygosity")
    val genes = Seq((7L, "1", 100, 200)).toDF("region_id", "chrom", "start", "end")
    val out = graft.operators.VariantQc.compoundHet(ann, genes)
      .select("sample_id", "region_id", "n_sites", "n_hap1", "n_hap2",
        "n_unphased", "status")
      .as[(String, Long, Long, Long, Long, Long, String)]
      .collect().toSet
    assert(out === Set(
      ("s1", 7L, 2L, 1L, 1L, 0L, "trans"),
      ("s2", 7L, 2L, 0L, 2L, 0L, "cis"),
      ("s3", 7L, 2L, 0L, 1L, 1L, "candidate"),
      ("s4", 7L, 1L, 0L, 1L, 0L, "single"),
      ("s5", 7L, 1L, 1L, 1L, 0L, "trans")))
  }

  test("hetAlleleBalance: band boundaries exact, multiallelic and " +
      "non-ref-alt hets excluded, zero-depth counted but unevaluated") {
    import spark.implicits._
    def row(s: String, zyg: String, ma: Int, r: String, a: String) =
      (s, zyg, ma, r, a)
    val ann = Seq(
      // s1: boundary cases — AB exactly 0.2 and 0.8 are IN band
      row("s1", "het-ref", 0, "8", "2"),    // AB = .2  → ok
      row("s1", "het-ref", 0, "2", "8"),    // AB = .8  → ok
      row("s1", "het-ref", 0, "9", "1"),    // AB = .1  → low
      row("s1", "het-ref", 0, "1", "9"),    // AB = .9  → high
      row("s1", "het-ref", 0, "0", "0"),    // no depth → counted, not eval
      // excluded rows: wrong zygosity or multiallelic site
      row("s1", "hom-alt", 0, "0", "10"),
      row("s1", "het-alt", 0, "5", "5"),
      row("s1", "het-ref", 1, "5", "5"),
      // s2: all clean
      row("s2", "het-ref", 0, "6", "6"),
      row("s2", "het-ref", 0, "5", "7"))
      .toDF("sample_id", "zygosity", "multiallele", "AD_0", "AD_1")
    val out = graft.operators.VariantQc.hetAlleleBalance(ann)
      .orderBy("sample_id")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      ("s1", 5L, 4L, 2L, 1L, 1L, 500000L),
      ("s2", 2L, 2L, 2L, 0L, 0L, 1000000L)))
    intercept[IllegalArgumentException] {
      graft.operators.VariantQc.hetAlleleBalance(ann,
        minMicro = 900000L, maxMicro = 100000L)
    }
  }

  test("contaminationCharr: hom-alt ref-read fraction over 1-AF " +
      "replays by hand; AF band and zero-depth exclusions; clean " +
      "hom-alts score 0") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "zygosity", "AD_0", "AD_1")
    val ann = Seq(
      // site 100: x hom-alt AD 2,18; y het → b=3, 2n=4, p=3/4:
      //   charr term = r·2n·10⁶/((r+a)(2n−b)) = 2·4·1e6/(20·1) = 400000
      ("1", 100L, "A", "T", 0, "x", "1", "1", "hom-alt", "2", "18"),
      ("1", 100L, "A", "T", 0, "y", "0", "1", "het-ref", "10", "10"),
      // site 200: both hom-alt → p = 1 → outside [.05,.95] → excluded
      ("1", 200L, "A", "T", 0, "x", "1", "1", "hom-alt", "5", "5"),
      ("1", 200L, "A", "T", 0, "y", "1", "1", "hom-alt", "0", "9"),
      // site 300: clean hom-alt (no ref reads) at p = 1/2 → term 0
      ("1", 300L, "A", "T", 0, "x", "1", "1", "hom-alt", "0", "10"),
      ("1", 300L, "A", "T", 0, "y", "0", "0", "hom-ref", "9", "0"),
      // site 400: zero total depth → call not evaluated
      ("1", 400L, "A", "T", 0, "x", "1", "1", "hom-alt", "0", "0"),
      ("1", 400L, "A", "T", 0, "y", "0", "1", "het-ref", "4", "4"))
      .toDF(cols: _*)
    val got = graft.operators.VariantQc.contaminationCharr(ann)
      .select("sample_id", "n_sites", "charr_sum_micro", "charr_micro")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("x") === ((2L, 400000L, 200000L)))
    // y has no evaluated hom-alt call at all → absent, not zero
    assert(!got.contains("y"))
  }

  test("hetAlleleBalanceByCalledAllele: multiallelic hets index the " +
      "CALLED allele's depth (1/2 and 0/2 sites); biallelic input is " +
      "identical to hetAlleleBalance") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "zygosity", "AD", "AD_0", "AD_1")
    val ann = Seq(
      // biallelic 0/1: AB = 3/10 = .3 → in band
      ("1", 100L, "A", "T", 0, "s1", "0", "1", "het-ref", "7,3", "7", "3"),
      // 1/2 het-alt at a multiallelic site: AB = AD[2]/(AD[1]+AD[2])
      // = 9/12 = .75 → in band (the fixed 2-field reading has no
      // defined answer here — the exact case the judge row pins)
      ("1", 200L, "A", "T,G", 1, "s1", "1", "2", "het-alt", "1,3,9",
        "1", "3"),
      // 0/2: the called alt is the SECOND one: AB = 45/50 = .9 → high
      ("1", 300L, "A", "T,G", 1, "s1", "0", "2", "het-ref", "5,0,45",
        "5", "0"),
      // AD vector too short for the called allele → counted as het,
      // not evaluated
      ("1", 400L, "A", "T,G", 1, "s1", "1", "2", "het-alt", "4", "4", null),
      // hom row never enters
      ("1", 500L, "A", "T", 0, "s2", "1", "1", "hom-alt", "0,8", "0", "8"))
      .toDF(cols: _*)
    val got = graft.operators.VariantQc
      .hetAlleleBalanceByCalledAllele(ann)
      .select("sample_id", "n_het", "n_eval", "n_ok", "n_low", "n_high",
        "ab_ok_micro")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(("s1", 4L, 3L, 2L, 0L, 1L, 666666L)))
    // biallelic identity: on multiallele=0 ref/alt hets the two
    // operators agree exactly
    val bi = ann.filter(col("multiallele") === 0 &&
      col("zygosity") === "het-ref")
    val a1 = graft.operators.VariantQc.hetAlleleBalance(bi)
      .collect().map(_.toSeq).toSet
    val a2 = graft.operators.VariantQc.hetAlleleBalanceByCalledAllele(bi)
      .collect().map(_.toSeq).toSet
    assert(a1 === a2)
  }

  test("ldR2Pairs withDprime: composite D' replays by hand — signed " +
      "FLOOR, both dmax branches, >1e6 without HWE, default path " +
      "unchanged") {
    import spark.implicits._
    def gt(d: Int) = d match {
      case 2 => ("1", "1"); case 1 => ("0", "1"); case _ => ("0", "0") }
    def site(pos: Long, ds: Seq[Int]) = ds.zipWithIndex.map { case (d, i) =>
      val (g1, g2) = gt(d); ("1", pos, "A", "T", 0, s"s$i", g1, g2) }
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2")
    // x=(2,1,0) at 100; y=x at 150 (perfect +); z=reverse at 200
    val ann = (site(100L, Seq(2, 1, 0)) ++ site(150L, Seq(2, 1, 0)) ++
      site(200L, Seq(0, 1, 2))).toDF(cols: _*)
    val out = graft.operators.VariantQc
      .ldR2Pairs(ann, maxDist = 1000, withDprime = true)
      .select("pos_a", "pos_b", "n", "r2_micro", "dprime_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // (100,150): cov = 3·5−9 = 6 > 0, dmax = min(3·3, 3·3) = 9:
    // D' = 12e6/9 → 1333333 (composite exceeds 1e6 without HWE)
    assert(out((100L, 150L)) === ((3L, 1000000L, 1333333L)))
    // (100,200): cov = 3·1−9 = −6, negative branch dmax = 9:
    // −12e6/9 FLOORS to −1333334 (truncation would give −1333333)
    assert(out((100L, 200L)) === ((3L, 1000000L, -1333334L)))
    // default path: identical columns, no dprime
    val base = graft.operators.VariantQc.ldR2Pairs(ann, maxDist = 1000)
    assert(!base.columns.contains("dprime_micro"))
    val b = base.select("pos_a", "pos_b", "n", "r2_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(b === out.map { case ((a2, b2), (n2, r2, _)) => (a2, b2, n2, r2) }.toSet)
  }

  // ---- decimal lifts: trend / GRM / LD (the hweBySite pattern) ----

  test("trendTest decimalLift: identity at small width; exact past the " +
      "int64 product bound at 50k samples vs BigInt") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2")
    val annSmall = Seq(
      ("1", 100L, "A", "T", 0, "c1", "1", "1"),
      ("1", 100L, "A", "T", 0, "c2", "0", "1"),
      ("1", 100L, "A", "T", 0, "t1", "0", "0"),
      ("1", 100L, "A", "T", 0, "t2", "0", "1"))
      .toDF(cols: _*)
    def run(lift: Boolean) = graft.operators.VariantQc
      .trendTest(annSmall, Seq("c1", "c2"), Seq("t1", "t2"),
        decimalLift = lift)
      .select("pos", "trend_sign", "trend_micro")
      .as[(Long, Int, Long)].collect().toSet
    assert(run(true) === run(false))
    // biobank width via duplicate call rows (trendTest counts rows):
    // cases (10000, 5000, 10000), controls (12000, 2000, 11000) —
    // N = 50k, N·num² ≫ 2⁶³ (asserted), the exact crossover the
    // operator doc pins at ~3000 samples
    val rows = Seq(
      (10000, "c1", "0", "0"), (5000, "c1", "0", "1"),
      (10000, "c1", "1", "1"),
      (12000, "t1", "0", "0"), (2000, "t1", "0", "1"),
      (11000, "t1", "1", "1"))
      .flatMap { case (cnt, s, g1, g2) =>
        Seq.fill(cnt)(("1", 9L, "A", "T", 0, s, g1, g2)) }
    val got = graft.operators.VariantQc
      .trendTest(rows.toDF(cols: _*), Seq("c1"), Seq("t1"),
        decimalLift = true)
      .select("trend_sign", "trend_micro").as[(Int, Long)].collect()
    val Seq(r0, r1, r2, s0, s1, s2) =
      Seq(10000, 5000, 10000, 12000, 2000, 11000).map(BigInt(_))
    val (rT, sT) = (r0 + r1 + r2, s0 + s1 + s2)
    val n = rT + sT
    val a = r1 + 2 * r2
    val b = (r1 + s1) + 2 * (r2 + s2)
    val c = (r1 + s1) + 4 * (r2 + s2)
    val num = n * a - rT * b
    val vden = rT * sT * (n * c - b * b)
    assert(n * num * num > BigInt(Long.MaxValue),
      "fixture no longer exceeds the int64 bound")
    val want = n * num * num * 1000000 / vden
    assert(got.toSeq === Seq((num.signum, want.toLong)))
  }

  // ---- imputation dosage (FORMAT DS) modes ----

  test("dosage trendTest: reduces to the hard-call statistic when DS " +
      "mirrors the genotypes, hand-computed chi2 on fractional DS, " +
      "and the DS-parse/GT-fallback ladder") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "DS")
    // site 100: DS = exact hard-call values → must equal the count path
    // site 200: fractional DS, hand-computed below
    // site 300: the ladder — '.' DS → GT fallback; junk → GT fallback;
    //           DS with missing GT counts via DS; 7-decimals DS falls
    //           back to GT (cross-engine rounding is refused by design)
    val ann = Seq(
      ("1", 100L, "A", "T", 0, "c1", "1", "1", "2.000000"),
      ("1", 100L, "A", "T", 0, "c2", "0", "1", "1.000000"),
      ("1", 100L, "A", "T", 0, "t1", "0", "0", "0.000000"),
      ("1", 100L, "A", "T", 0, "t2", "0", "1", "1.000000"),
      ("1", 200L, "A", "T", 0, "c1", "0", "1", "1.5"),
      ("1", 200L, "A", "T", 0, "c2", "0", "0", "0.5"),
      ("1", 200L, "A", "T", 0, "t1", "0", "0", "0.25"),
      ("1", 200L, "A", "T", 0, "t2", "0", "0", "0.25"),
      ("1", 300L, "A", "T", 0, "c1", "1", "1", "."),
      ("1", 300L, "A", "T", 0, "c2", "0", "1", "junk"),
      ("1", 300L, "A", "T", 0, "t1", ".", "1", "0.500000"),
      ("1", 300L, "A", "T", 0, "t2", "0", "0", "0.1234567"))
      .toDF(cols: _*)
    val got = graft.operators.VariantQc
      .trendTest(ann, Seq("c1", "c2"), Seq("t1", "t2"),
        dosageCol = Some("DS"))
      .select("pos", "n_total", "dose_sum_micro", "case_dose_sum_micro",
        "trend_sign", "trend_micro")
      .as[(Long, Long, Long, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // site 100 vs the hard-call path on the same genotypes
    val hard = graft.operators.VariantQc
      .trendTest(ann.filter($"pos" === 100L), Seq("c1", "c2"),
        Seq("t1", "t2"))
      .select("trend_sign", "trend_micro").as[(Int, Long)].collect().head
    assert((got(100L)._4, got(100L)._5) === hard,
      "integer DS must reproduce the hard-call statistic")
    // site 200 by hand: x = (1.5, 0.5 | 0.25, 0.25) micro,
    // N=4 R=2 Sxy=2e6 Sx=2.5e6 Sx2=2.625e12; num = 4·2e6−2·2.5e6 = 3e6
    // den = (4·2.625e12 − 2.5e6²)·2·2 = 17e12
    // χ²·1e6 = 4·(3e6)²·1e6/17e12 = 2117647 (floored)
    assert(got(200L) === ((4L, 2500000L, 2000000L, 1, 2117647L)))
    // site 300 ladder: c1 GT 2.0, c2 GT 1.0, t1 DS 0.5 (GT missing),
    // t2 GT 0.0 (7-decimal DS refused) → all four rows usable
    assert(got(300L)._1 === 4L)
    assert(got(300L)._2 === 3500000L)
    assert(got(300L)._3 === 3000000L)
  }

  test("dosage polygenicScore and dosageAf: hand-pinned folds with " +
      "signed betas, DS coverage counted, GT-only and DS-only rows " +
      "both score, neither-usable rows drop") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "DS")
    val ann = Seq(
      ("1", 100L, "A", "T", 0, "s1", "0", "1", "1.5"),      // DS 1.5
      ("1", 200L, "C", "G", 0, "s1", "1", "1", "."),        // GT 2.0
      ("1", 300L, "G", "A", 0, "s1", ".", ".", "0.25"),     // DS-only
      ("1", 400L, "T", "C", 0, "s1", ".", "1", "bad"),      // dropped
      ("1", 100L, "A", "T", 0, "s2", "0", "0", "0.5"))      // DS 0.5
      .toDF(cols: _*)
    val weights = Seq(
      ("1", 100L, "A", "T", 1000000L),   // β = +1
      ("1", 200L, "C", "G", -500000L),   // β = −0.5
      ("1", 300L, "G", "A", 2000000L),   // β = +2
      ("1", 400L, "T", "C", 7000000L))
      .toDF("chrom", "pos", "ref", "alt", "beta_micro")
    val pgs = graft.operators.VariantQc
      .polygenicScore(ann, weights, dosageCol = Some("DS"))
      .select("sample_id", "n_sites", "n_ds", "dose_sum_micro",
        "score_pico")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // s1: 1.5·1 + 2.0·(−0.5) + 0.25·2 = 1.0 → 1e12 pico; 2 DS-sourced
    assert(pgs("s1") === ((3L, 2L, 3750000L, 1000000000000L)))
    assert(pgs("s2") === ((1L, 1L, 500000L, 500000000000L)))
    val af = graft.operators.VariantQc.dosageAf(ann)
      .select("pos", "n_called", "n_ds", "dose_sum_micro", "af_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // site 100: (1.5 + 0.5)/(2·2) = 0.5
    assert(af(100L) === ((2L, 2L, 2000000L, 500000L)))
    assert(af(200L) === ((1L, 0L, 2000000L, 1000000L)))
    assert(af(300L) === ((1L, 1L, 250000L, 125000L)))
    assert(af.get(400L) === None, "neither-usable site must drop")
  }

  test("imputationInfoScore: hand-computed MaCH Rsq — HWE hard calls " +
      "read 1.0, shrunk dosages read var/2pq, no-het hard calls " +
      "exceed 1 (minimac convention), monomorphic dosage defines 0") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "DS")
    val ann = Seq(
      // site 100: HWE hard calls 0,1,1,2 → var = 2pq → Rsq = 1.0
      ("1", 100L, "A", "T", 0, "s1", "0", "0", "0.0"),
      ("1", 100L, "A", "T", 0, "s2", "0", "1", "1.0"),
      ("1", 100L, "A", "T", 0, "s3", "0", "1", "1.0"),
      ("1", 100L, "A", "T", 0, "s4", "1", "1", "2.0"),
      // site 200: shrunk 0.5/1.0/1.5 → var (1/6) / 2pq (1/2) = 1/3
      ("1", 200L, "C", "G", 0, "s1", "0", "0", "0.5"),
      ("1", 200L, "C", "G", 0, "s2", "0", "1", "1.0"),
      ("1", 200L, "C", "G", 0, "s3", "0", "1", "1.5"),
      // site 300: hard calls 0,2 (no het) → var 1 / 2pq 0.5 = 2.0
      ("1", 300L, "G", "A", 0, "s1", "0", "0", "0.0"),
      ("1", 300L, "G", "A", 0, "s2", "1", "1", "2.0"),
      // site 400: monomorphic dosage → 0 by contract
      ("1", 400L, "T", "C", 0, "s1", "0", "0", "0.0"),
      ("1", 400L, "T", "C", 0, "s2", "0", "0", "0.0"))
      .toDF(cols: _*)
    val got = graft.operators.VariantQc.imputationInfoScore(ann)
      .select("pos", "n_called", "dose_sum_micro", "info_micro")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(100L) === ((4L, 4000000L, 1000000L)))
    assert(got(200L) === ((3L, 3000000L, 333333L)))
    assert(got(300L) === ((2L, 2000000L, 2000000L)))
    assert(got(400L) === ((2L, 0L, 0L)))
  }

  test("dosageConcordance: per-sample |DS−GT| stats over both-present " +
      "calls only — deviations summed exactly, the 0.5 threshold " +
      "splits discordant, one-sided calls drop out") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "DS")
    val ann = Seq(
      ("1", 100L, "A", "T", 0, "s1", "0", "1", "1.1"),   // dev 0.1
      ("1", 200L, "C", "G", 0, "s1", "1", "1", "1.2"),   // dev 0.8 > 0.5
      ("1", 300L, "G", "A", 0, "s1", "0", "0", "0.0"),   // dev 0
      ("1", 400L, "T", "C", 0, "s1", ".", "1", "1.0"),   // GT missing → out
      ("1", 500L, "A", "G", 0, "s1", "0", "1", "."),     // DS missing → out
      ("1", 100L, "A", "T", 0, "s2", "0", "0", "2.0"))   // dev 2.0 > 0.5
      .toDF(cols: _*)
    val got = graft.operators.VariantQc.dosageConcordance(ann)
      .select("sample_id", "n_compared", "dev_sum_micro", "n_discordant",
        "mean_dev_micro", "discordant_micro")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // s1: devs 0.1 + 0.8 + 0 = 0.9 over 3 → mean 300000, 1/3 discordant
    assert(got("s1") === ((3L, 900000L, 1L, 300000L, 333333L)))
    assert(got("s2") === ((1L, 2000000L, 1L, 2000000L, 1000000L)))
  }

  test("GP dosage rung: DS > GP > GT precedence — a parseable DS wins " +
      "over GP, a GP triple folds EXACTLY to P(het) + 2·P(hom-alt) " +
      "when DS is out, malformed/2-part/7-decimal GPs hand over to GT, " +
      "and a GP-only frame (no DS column at all) rides the GP rung") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2", "DS", "GP")
    val ann = Seq(
      // DS parseable → GP ignored (precedence): x = 1.5, DS-sourced
      ("1", 100L, "A", "T", 0, "s1", "0", "0", "1.5", "0.0,0.0,1.0"),
      // DS '.', GP folds: 0.25 + 2·0.5 = 1.25 — GT (0) must NOT win
      ("1", 200L, "C", "G", 0, "s1", "0", "0", ".", "0.25,0.25,0.5"),
      // DS '.', GP 7-decimal → refused → GT rung (2.0)
      ("1", 300L, "G", "A", 0, "s1", "1", "1", ".", "0.1234567,0.1,0.1"),
      // DS '.', GP 2-part (not a biallelic triple) → GT rung (1.0)
      ("1", 400L, "T", "C", 0, "s1", "0", "1", ".", "0.5,0.5"),
      // DS '.', GP '.', GT half-missing → nothing usable → drops
      ("1", 500L, "A", "G", 0, "s1", ".", "1", ".", "."),
      // GT missing entirely, GP alone carries the row: 1.0 + 2·0 = 1.0
      ("1", 600L, "C", "A", 0, "s1", ".", ".", ".", "0.0,1.0,0.0"))
      .toDF(cols: _*)
    val af = graft.operators.VariantQc.dosageAf(ann)
      .select("pos", "n_called", "n_ds", "dose_sum_micro", "af_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(af(100L) === ((1L, 1L, 1500000L, 750000L)))
    assert(af(200L) === ((1L, 1L, 1250000L, 625000L)), "GP fold beats GT")
    assert(af(300L) === ((1L, 0L, 2000000L, 1000000L)), "7-dec GP refused")
    assert(af(400L) === ((1L, 0L, 1000000L, 500000L)), "2-part GP refused")
    assert(af.get(500L) === None, "no rung usable → drop")
    assert(af(600L) === ((1L, 1L, 1000000L, 500000L)), "GP-only row")
    // GP-only FRAME: no DS column — the ladder must not resolve DS
    val gpOnly = ann.drop("DS")
    val af2 = graft.operators.VariantQc.dosageAf(gpOnly)
      .select("pos", "n_ds", "dose_sum_micro")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(af2(100L) === ((1L, 2000000L)), "GP 0,0,1 → 2.0 (DS absent)")
    assert(af2(200L) === ((1L, 1250000L)))
    // concordance reads the typed rung too: site 200's |1.25 − 0| = 1.25
    val conc = graft.operators.VariantQc.dosageConcordance(gpOnly)
      .select("sample_id", "n_compared", "dev_sum_micro", "n_discordant")
      .as[(String, Long, Long, Long)].collect().head
    // compared rows: 100 (|2−0|=2), 200 (1.25), 300/400 GP refused → out,
    // 500 GP missing → out, 600 GT missing → out
    assert(conc === (("s1", 2L, 3250000L, 2L)))
    // NEITHER dosage column present (unmaterialized DS or a name typo)
    // fails loudly — the silent alternative would run GT hard calls
    // while the caller believes they ran an imputation-dosage analysis
    val e = intercept[IllegalArgumentException] {
      graft.operators.VariantQc.dosageAf(gpOnly.drop("GP"))
    }
    assert(e.getMessage.contains("neither dosage column"), e.getMessage)
  }

  test("fstByChrom decimalLift: identity at small width; exact past " +
      "the int64 bound at 25k diploid samples per cohort vs BigInt") {
    import spark.implicits._
    val cols = Seq("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt1", "gt2")
    val annSmall = Seq(
      ("1", 100L, "A", "T", 0, "a1", "0", "1"),
      ("1", 100L, "A", "T", 0, "a2", "1", "1"),
      ("1", 100L, "A", "T", 0, "b1", "0", "0"),
      ("1", 100L, "A", "T", 0, "b2", "0", "1"),
      ("1", 200L, "C", "G", 0, "a1", "0", "0"),
      ("1", 200L, "C", "G", 0, "a2", "0", "1"),
      ("1", 200L, "C", "G", 0, "b1", "1", "1"),
      ("1", 200L, "C", "G", 0, "b2", "1", "1"))
      .toDF(cols: _*)
    def run(df: org.apache.spark.sql.DataFrame, lift: Boolean) =
      graft.operators.VariantQc
        .fstByChrom(df, Seq("a1", "a2"), Seq("b1", "b2"),
          decimalLift = lift)
        .select("chrom", "n_sites", "num_sum_micro", "den_sum_micro",
          "fst_micro")
        .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(run(annSmall, true) === run(annSmall, false))
    // biobank width via duplicated call rows (fst counts rows):
    // cohort A = 12000 het + 13000 hom-alt, cohort B = 20000 hom-ref
    // + 5000 het → c = 50k alleles each, nNum ≫ 2⁶³ (asserted below)
    val rows = Seq(
      (12000, "a1", "0", "1"), (13000, "a2", "1", "1"),
      (20000, "b1", "0", "0"), (5000, "b2", "0", "1"))
      .flatMap { case (cnt, s, g1, g2) =>
        Seq.fill(cnt)(("1", 9L, "A", "T", 0, s, g1, g2)) }
    val got = run(rows.toDF(cols: _*), lift = true).head
    val (b1, c1) = (BigInt(12000 + 2 * 13000), BigInt(50000))
    val (b2, c2) = (BigInt(5000), BigInt(50000))
    val diff = b1 * c2 - b2 * c1
    val nNum = diff * diff * (c1 - 1) * (c2 - 1) -
      b1 * (c1 - b1) * c2 * c2 * (c2 - 1) -
      b2 * (c2 - b2) * c1 * c1 * (c1 - 1)
    val nDen = c1 * c1 * c2 * c2 * (c1 - 1) * (c2 - 1)
    val dNum = b1 * (c2 - b2) + b2 * (c1 - b1)
    assert(nNum.abs > BigInt(Long.MaxValue),
      "fixture no longer exceeds the int64 bound")
    def fl(n: BigInt, d: BigInt): BigInt = {
      val q = n * 1000000 / d
      if (q * d > n * 1000000) q - 1 else q // BigInt / truncates toward 0
    }
    val nm = fl(nNum, nDen)
    val dm = fl(dNum, c1 * c2)
    assert(got === (("1", 1L, nm.toLong, dm.toLong, fl(nm, dm).toLong)))
  }

  test("grmPairs decimalLift: identity at small width, and signed " +
      "terms FLOOR toward -inf (not truncate toward zero)") {
    import spark.implicits._
    // one site, dosages (2,2,2,1,0,0) over s1..s6: n=6, b=7, a=5;
    // pair (d=2, d=1): term = 2·5·(−1)·10⁶ / 35 = −285714.28… → the
    // FLOOR is −285715 (truncation would give −285714)
    def gt(d: Int) = d match {
      case 2 => ("1", "1"); case 1 => ("0", "1"); case _ => ("0", "0") }
    val ann = Seq("s1" -> 2, "s2" -> 2, "s3" -> 2, "s4" -> 1,
      "s5" -> 0, "s6" -> 0)
      .map { case (s, d) =>
        val (g1, g2) = gt(d); ("1", 100L, "A", "T", 0, s, g1, g2) }
      .toDF("chrom", "pos", "ref", "alt", "multiallele",
        "sample_id", "gt1", "gt2")
    def run(lift: Boolean) = graft.operators.VariantQc
      .grmPairs(ann, decimalLift = lift)
      .select("sample_a", "sample_b", "n_sites", "grm_sum_micro",
        "grm_micro")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val lifted = run(true)
    assert(lifted === run(false))
    assert(lifted(("s1", "s4")) === ((1L, -285715L, -285715L)))
  }

  test("ldR2Pairs decimalLift: identity, exact floor at a fraction " +
      "boundary vs BigInt") {
    import spark.implicits._
    // sites x=(2,2,1,1,1,0,0), y=(2,2,1,1,0,0,0) over s1..s7:
    // cov=28, va=28, vb=34 → r² = 784e6/952 = 823529.41… → 823529
    def gt(d: Int) = d match {
      case 2 => ("1", "1"); case 1 => ("0", "1"); case _ => ("0", "0") }
    val xs = Seq(2, 2, 1, 1, 1, 0, 0)
    val ys = Seq(2, 2, 1, 1, 0, 0, 0)
    val ann = (xs.zipWithIndex.map { case (d, i) =>
        val (g1, g2) = gt(d)
        ("1", 100L, "A", "T", 0, s"s$i", g1, g2) } ++
      ys.zipWithIndex.map { case (d, i) =>
        val (g1, g2) = gt(d)
        ("1", 150L, "A", "T", 0, s"s$i", g1, g2) })
      .toDF("chrom", "pos", "ref", "alt", "multiallele",
        "sample_id", "gt1", "gt2")
    def run(lift: Boolean) = graft.operators.VariantQc
      .ldR2Pairs(ann, maxDist = 1000, decimalLift = lift)
      .select("pos_a", "pos_b", "n", "r2_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val lifted = run(true)
    assert(lifted === run(false))
    val (cov, va, vb) = (BigInt(28), BigInt(28), BigInt(34))
    val want = cov * cov * 1000000 / (va * vb)
    assert(lifted === Seq((100L, 150L, 7L, want.toLong)))
    assert(want.toLong === 823529L)
  }

  test("VariantQc.phaseByTransmission: informative trios phase pat|mat, " +
      "double-het is ambiguous, Mendelian impossibility is violation, " +
      "half-calls are uncalled, a MISSING parent constrains nothing, " +
      "hom children phase trivially unless a called parent lacks the " +
      "allele") {
    import spark.implicits._
    def r(pos: Int, sid: String, gt: String) = {
      val parts = gt.split("[/|]")
      ("1", pos, "A", "T", sid, gt, parts(0),
        if (parts.length > 1) parts(1) else null, 0)
    }
    val ann = Seq(
      // pos 1: child het, F hom-ref, M hom-alt → 0|1
      r(1, "c", "0/1"), r(1, "m", "1/1"), r(1, "f", "0/0"),
      // pos 2: child het, F hom-alt, M hom-ref → 1|0
      r(2, "c", "0/1"), r(2, "m", "0/0"), r(2, "f", "1/1"),
      // pos 3: both parents het → ambiguous
      r(3, "c", "0/1"), r(3, "m", "0/1"), r(3, "f", "0/1"),
      // pos 4: hom child, consistent → 1|1
      r(4, "c", "1/1"), r(4, "m", "1/1"), r(4, "f", "0/1"),
      // pos 5: hom child, called father LACKS the allele → violation
      r(5, "c", "1/1"), r(5, "m", "1/1"), r(5, "f", "0/0"),
      // pos 6: father row ABSENT; M hom-ref forces 1 paternal → 1|0
      r(6, "c", "0/1"), r(6, "m", "0/0"),
      // pos 7: half-called child → uncalled
      r(7, "c", "./1"), r(7, "m", "0/0"), r(7, "f", "1/1"),
      // pos 8: het child, NEITHER assignment possible → violation
      r(8, "c", "0/1"), r(8, "m", "0/0"), r(8, "f", "0/0"))
      .toDF("chrom", "pos", "ref", "alt", "sample_id", "gt", "gt1",
        "gt2", "multiallele")
    val got = graft.operators.VariantQc
      .phaseByTransmission(ann, "c", "m", "f")
      .select("pos", "phased_gt", "phase_status")
      .as[(Int, String, String)].collect().toSet
    assert(got === Set(
      (1, "0|1", "phased"),
      (2, "1|0", "phased"),
      (3, null, "ambiguous"),
      (4, "1|1", "phased"),
      (5, null, "violation"),
      (6, "1|0", "phased"),
      (7, null, "uncalled"),
      (8, null, "violation")))
  }
}
