package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BgenReader
import graft.sources.BgenReader.BgenEnc

/** BGEN v1.2 reads through `format("bgen")` (q242's format surface):
  * byte-exact round trips
  * through the encoder, hand-computed fixed-6-decimal GP strings,
  * missing/multiallelic classes, offset-walk splittability, and the
  * contract that a BGEN reads ROW-IDENTICAL to its VCF/GP twin
  * through the dosage operators (the r15 verdict's Missing #2 done
  * criterion).
  */
class BgenSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val tmp = TempDirs.create("graft-bgen")

  private val samples = Seq("sA", "sB", "sC")

  // probs are the STORED (nGts−1) raw 8-bit values; last is implicit
  private def fixtureVariants = Seq(
    BgenEnc("v1", "rs1", "1", 1000L, Seq("A", "G"),
      Seq(Array(255L, 0L), Array(0L, 255L), Array(51L, 102L))),
    // sB missing at v2
    BgenEnc("v2", "rs2", "1", 2000L, Seq("C", "T"),
      Seq(Array(0L, 128L), null, Array(255L, 0L))),
    // multiallelic K = 3: 6 genotypes, 5 stored values
    BgenEnc("v3", "rs3", "2", 3000L, Seq("A", "C", "T"),
      Seq(Array(255L, 0L, 0L, 0L, 0L), Array(0L, 255L, 0L, 0L, 0L),
        Array(0L, 0L, 0L, 0L, 0L))))

  private def writeFixture(name: String, zlib: Boolean): String = {
    val f = tmp.resolve(name).toFile
    val out = new java.io.FileOutputStream(f)
    try BgenReader.writeBgen(out, samples, fixtureVariants.iterator,
      bBits = 8, zlib = zlib)
    finally out.close()
    f.getAbsolutePath
  }

  test("round trip: header, sample ids, hand-computed exact " +
      "fixed-6-decimal GP strings, the missing sample as './.' with " +
      "NULL GP, multiallelic K=3 flagged — zlib AND uncompressed") {
    for (zlib <- Seq(true, false)) {
      val path = writeFixture(s"rt-$zlib.bgen", zlib)
      val df = spark.read.format("bgen").load(path)
      val rows = df.select("chrom", "pos", "rsid", "ref", "alt",
          "multiallele", "sample_id", "gt", "GP")
        .as[(String, Int, String, String, String, Int, String, String,
          Option[String])]
        .collect().map(r => (r._3, r._7) -> r).toMap
      assert(rows.size === 9)
      // v1: 255/255 = 1 exactly; 51/255 = .2, 102/255 = .4
      assert(rows(("rs1", "sA"))._9 ===
        Some("1.000000,0.000000,0.000000"))
      assert(rows(("rs1", "sB"))._9 ===
        Some("0.000000,1.000000,0.000000"))
      assert(rows(("rs1", "sC"))._9 ===
        Some("0.200000,0.400000,0.400000"))
      // v2 sA: 128/255 floors to 0.501960; last = 127/255 = 0.498039
      assert(rows(("rs2", "sA"))._9 ===
        Some("0.000000,0.501960,0.498039"))
      assert(rows(("rs2", "sB"))._9 === None) // missing bit
      assert(rows(("rs2", "sB"))._8 === "./.")
      assert(rows(("rs2", "sC"))._9 ===
        Some("1.000000,0.000000,0.000000"))
      // v3: K = 3 → multiallele = 1, alt joined, 6-entry GP
      assert(rows(("rs3", "sA"))._6 === 1)
      assert(rows(("rs3", "sA"))._5 === "C,T")
      assert(rows(("rs3", "sA"))._9 === Some(
        "1.000000,0.000000,0.000000,0.000000,0.000000,0.000000"))
      assert(rows(("rs3", "sC"))._9 === Some(
        "0.000000,0.000000,0.000000,0.000000,0.000000,1.000000"))
    }
  }

  test("splittability: the offset walk assigns variant-block ranges " +
      "to tasks — splits > 1 plans multiple partitions and the row " +
      "multiset is identical") {
    val path = writeFixture("split.bgen", zlib = true)
    def scan(maxSplit: Long) = withMaxSplit(maxSplit) {
      val df = spark.read.format("bgen").load(path)
      (df.rdd.getNumPartitions, df.collect().toSet)
    }
    val (oneParts, one) = scan(1L << 30)
    val (threeParts, three) = scan(1L) // one task per variant block
    assert(oneParts === 1)
    assert(threeParts === 3)
    assert(three === one)
    assert(one.size === 9)
  }

  test("VCF/GP twin: the BGEN frame runs dosageAf and the dosage " +
      "polygenicScore ROW-IDENTICAL to a VCF-shaped ann frame " +
      "carrying the same GP strings — the operators cannot tell the " +
      "formats apart") {
    import graft.operators.VariantQc
    val path = writeFixture("twin.bgen", zlib = true)
    val bgen = spark.read.format("bgen").load(path)
    // the VCF twin: what annotate(formatKeys = GP) yields from a VCF
    // whose GP strings match the BGEN decode exactly
    val twin = bgen.select("chrom", "pos", "ref", "alt", "multiallele",
      "sample_id", "gt", "gt1", "gt2", "GP")
    val key = Seq("chrom", "pos", "ref", "alt")
    val afB = VariantQc.dosageAf(bgen).orderBy(key.map(col): _*).collect()
    val afT = VariantQc.dosageAf(twin).orderBy(key.map(col): _*).collect()
    assert(afB.toSeq === afT.toSeq)
    // hand-check one site: v1 dosages 0, 1·1e6 (het), 0.4+2·0.4 →
    // 1.2e6; AF = (0 + 1e6 + 1.2e6) / (2·3)
    val v1 = afB.find(_.getAs[Int]("pos") == 1000).get
    assert(v1.getAs[Long]("dose_sum_micro") === 2200000L)
    assert(v1.getAs[Long]("af_micro") === 2200000L / 6L)
    val weights = Seq(("1", 1000, "A", "G", 500000L),
      ("1", 2000, "C", "T", 1000000L))
      .toDF("chrom", "pos", "ref", "alt", "beta_micro")
    val psB = VariantQc.polygenicScore(bgen, weights,
      dosageCol = Some("DS")).orderBy("sample_id").collect()
    val psT = VariantQc.polygenicScore(twin, weights,
      dosageCol = Some("DS")).orderBy("sample_id").collect()
    assert(psB.toSeq === psT.toSeq)
    // sA: v1 GP hom-ref → 0; v2 GP het .501960 + 2·.498039 →
    // 1498038 micro; score = 0·.5 + 1498038·1.0 pico-aggregated
    val sA = psB.find(_.getAs[String]("sample_id") == "sA").get
    assert(sA.getAs[Long]("dose_sum_micro") === 1498038L)
    assert(sA.getAs[Long]("score_pico") === 1498038L * 1000000L)
  }

  test("format(\"bgen\") DSv2: chrom/pos pushdown reaches the scan " +
      "(block-level, pre-decode), sites-shaped projections skip the " +
      "payload, tiny maxPartitionBytes splits by block offsets") {
    val path = writeFixture("dsv2.bgen", zlib = true)
    assert(spark.read.format("bgen").load(path).count() === 9)
    // pushdown: the pushed filters appear in the scan description and
    // filtering is exact at block level
    val filtered = spark.read.format("bgen").load(path)
      .filter(col("chrom") === "1" && col("pos") === 2000)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=") && plan.contains("chrom"),
      s"chrom/pos not pushed:\n$plan")
    assert(filtered.count() === 3) // v2's 3 samples
    assert(filtered.select("rsid").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("rs2"))
    // sites-shaped projection (no GP/gt): payload never decoded —
    // observable as correct variant rows without genotype columns
    val sites = spark.read.format("bgen").load(path)
      .select("chrom", "pos", "ref", "alt").distinct()
    assert(sites.count() === 3)
    // splittability: 1-byte budget → one partition per block
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val split = spark.read.format("bgen").load(path)
      assert(split.rdd.getNumPartitions === 3,
        s"expected one partition per variant block, got " +
          s"${split.rdd.getNumPartitions}")
      assert(split.count() === 9)
    } finally
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    // contradictory chrom equalities plan ZERO tasks
    val none = spark.read.format("bgen").load(path)
      .filter(col("chrom") === "1" && col("chrom") === "2")
    assert(none.rdd.getNumPartitions === 0)
  }

  test("phased blocks + per-sample ploidy: certain haplotypes read " +
      "the real a|b call with tokens (the UKB haplotype-release " +
      "shape), uncertain haps read dotted '|' gt with the EXACT " +
      "phased->genotype GP convolution, a phased haploid carries the " +
      "K allele probs, and the missing bit stays null — hand-derived " +
      "values throughout") {
    import BgenReader._
    // samples: s0 certain 0|1, s1 uncertain (128/255 vs 64/255),
    // s2 phased HAPLOID certain allele 0 (ploidy byte honored)
    val enc = BgenEnc("v1", "rs1", "7", 5000L, Seq("A", "G"),
      Seq(Array(255L, 0L),      // s0: hap1 P(A)=1, hap2 P(A)=0
        Array(128L, 64L),       // s1: uncertain both haps
        Array(255L)),           // s2: haploid, P(A)=1
      ploidy = Seq(2, 2, 1), phased = true)
    val encMiss = BgenEnc("v2", "rs2", "7", 6000L, Seq("A", "G"),
      Seq(null, Array(0L, 255L), Array(0L)),
      ploidy = Seq(2, 2, 1), phased = true)
    val f = TempDirs.create("graft-phased").resolve("phased.bgen")
    val out = java.nio.file.Files.newOutputStream(f)
    try writeBgen(out, Seq("s0", "s1", "s2"),
      Iterator(enc, encMiss), bBits = 8, zlib = true)
    finally out.close()
    val got = spark.read.format("bgen").load(f.toString)
      .select("pos", "sample_id", "gt", "gt1", "gt2", "GP")
      .as[(Int, String, String, Option[String], Option[String],
        Option[String])]
      .collect().toSet
    assert(got === Set(
      (5000, "s0", "0|1", Some("0"), Some("1"),
        Some("0.000000,1.000000,0.000000")),
      // convolution: h1=(128,127), h2=(64,191), denom 255:
      // P00 = 128*64e6/65025 = 125982, P01 = (128*191+127*64)e6/65025
      // = 500976, P11 = 127*191e6/65025 = 373041 (exact floors)
      (5000, "s1", ".|.", None, None,
        Some("0.125982,0.500976,0.373041")),
      (5000, "s2", "0", Some("0"), None,
        Some("1.000000,0.000000")),
      (6000, "s0", ".|.", None, None, None), // missing bit
      (6000, "s1", "1|0", Some("1"), Some("0"),
        Some("0.000000,1.000000,0.000000")),
      (6000, "s2", "1", Some("1"), None,
        Some("0.000000,1.000000"))))
    // a one-task-per-block split read decodes the phased file identically
    val split = withMaxSplit(1L) {
      spark.read.format("bgen").load(f.toString)
        .select("pos", "sample_id", "gt", "gt1", "gt2", "GP")
        .as[(Int, String, String, Option[String], Option[String],
          Option[String])]
        .collect().toSet
    }
    assert(split === got)
  }

  test("unphased per-sample ploidy: a haploid sample's GP is the " +
      "K-entry Number=G vector (1 stored + 1 implicit for K=2), gt " +
      "reads '.' vs './.' by ploidy; the genotype-count combinatorics " +
      "are exact") {
    import BgenReader._
    assert(nGenotypes(2, 2) === 3)
    assert(nGenotypes(3, 2) === 6)
    assert(nGenotypes(2, 1) === 2)
    assert(nGenotypes(4, 3) === 20) // C(6,3)
    val enc = BgenEnc("v1", "rs1", "X", 7000L, Seq("A", "G"),
      Seq(Array(255L, 0L),  // diploid: stored P(AA)=1, P(AG)=0
        Array(51L)),        // haploid: stored P(A)=51/255 = 0.2
      ploidy = Seq(2, 1), phased = false)
    val f = TempDirs.create("graft-chrx").resolve("chrx.bgen")
    val out = java.nio.file.Files.newOutputStream(f)
    try writeBgen(out, Seq("s0", "s1"), Iterator(enc),
      bBits = 8, zlib = false)
    finally out.close()
    val got = spark.read.format("bgen").load(f.toString)
      .select("sample_id", "gt", "GP")
      .as[(String, String, Option[String])].collect().toSet
    assert(got === Set(
      ("s0", "./.", Some("1.000000,0.000000,0.000000")),
      ("s1", ".", Some("0.200000,0.800000"))))
  }

  test("format('bgen') DSv2 WRITE: the landing round-trips through " +
      "format('bgen') read BYTE-exactly (same header, M, panel, " +
      "blocks — single-partition write of the file-ordered frame), " +
      "speculation litter is planted and ignored, and Overwrite " +
      "truncates prior shards") {
    val src = writeFixture("write-src.bgen", zlib = true)
    val df = spark.read.format("bgen").load(src) // one partition, file order
    val dir = tmp.resolve("dsv2-out").toString
    df.coalesce(1).write.format("bgen").mode("append").save(dir)
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bgen"))
    assert(shards.length === 1)
    val a = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(src))
    val b = java.nio.file.Files.readAllBytes(shards.head.toPath)
    assert(java.util.Arrays.equals(a, b),
      s"DSv2-written shard (${b.length} bytes) differs from the " +
        s"library encoder's file (${a.length} bytes)")
    // litter: a dead attempt's staged file must be invisible to reads
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".stage-part-junk.bgen"),
      Array[Byte](1, 2, 3))
    val back = spark.read.format("bgen").load(dir)
      .select("pos", "sample_id", "gt", "GP")
      .as[(Int, String, String, Option[String])].collect().toSet
    val orig = df.select("pos", "sample_id", "gt", "GP")
      .as[(Int, String, String, Option[String])].collect().toSet
    assert(back === orig)
    // Overwrite clears the old shard (write a 1-variant frame over)
    df.filter(col("pos") === 1000).coalesce(1)
      .write.format("bgen").mode("overwrite").save(dir)
    val after = spark.read.format("bgen").load(dir)
    assert(after.count() === 3) // one variant x three samples
    // loud: a B that micro-GP strings cannot invert uniquely
    val e = intercept[Exception] {
      df.coalesce(1).write.format("bgen").mode("overwrite")
        .option("bits", "24").save(tmp.resolve("bad-bits").toString)
    }
    assert(e.getMessage != null)
  }

  test("loud failures narrowed to layout 1 and malformed payloads: " +
      "ploidy 0 / 64+ and a bad phased flag refuse instead of " +
      "mis-decoding") {
    val g2 = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    g2.putInt(1).putShort(2.toShort).put(0.toByte).put(0.toByte)
    val e2 = intercept[IllegalArgumentException] {
      BgenReader.decodeGenotypes(g2.array(), 2, 1L)
    }
    assert(e2.getMessage.contains("ploidy"))
    val g3 = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    g3.putInt(1).putShort(2.toShort).put(2.toByte).put(2.toByte)
      .put(2.toByte).put(7.toByte) // phased flag = 7
    val e3 = intercept[IllegalArgumentException] {
      BgenReader.decodeGenotypes(g3.array(), 2, 1L)
    }
    assert(e3.getMessage.contains("phased"))
  }

  test("offset-walk planning of a .bgi-less file tiles every block " +
      "exactly once: contiguous partitions whose counts sum to " +
      "mVariants across thousands of variants") {
    val n = 5000
    val f = tmp.resolve("walk.bgen").toFile
    val out = new java.io.FileOutputStream(f)
    try BgenReader.writeBgen(out, Seq("s0"), Iterator.tabulate(n) { i =>
        BgenEnc(s"v$i", s"rs$i", "1", 1000L + i, Seq("A", "G"),
          Seq(Array(255L, 0L)))
      }, bBits = 8, zlib = true)
    finally out.close()
    val header = {
      val in = new java.io.FileInputStream(f)
      try BgenReader.readHeader(in) finally in.close()
    }
    assert(header.mVariants === n.toLong)
    val parts = withMaxSplit(4096L) {
      new graft.sources.v2.BgenScanBuilder(Seq(f.toString)).build()
        .toBatch.planInputPartitions().toSeq
        .map(_.asInstanceOf[graft.sources.v2.BgenPartition])
    }
    assert(parts.length > 10, s"4 KB budget planned only ${parts.length} tasks")
    assert(parts.head.startOffset === header.firstVariantOffset)
    parts.zip(parts.tail).foreach { case (a, b) =>
      assert(b.startOffset === a.startOffset + a.bytes,
        s"gap or overlap between $a and $b")
    }
    assert(parts.last.startOffset + parts.last.bytes === f.length())
    assert(parts.map(_.count.toLong).sum === header.mVariants)
    assert(parts.forall(_.count >= 1))
  }
}
