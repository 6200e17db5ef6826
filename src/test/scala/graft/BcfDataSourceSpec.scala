package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.read.format("bcf")` — the DSv2 twin of `format("vcf")` over
  * the binary container: same fixed 10-column schema, chrom/pos
  * PUSHDOWN that prunes to the `.csi` region chunks (and skips
  * chrom-absent files whole), column pruning that skips the indiv
  * block decode, voff-split full scans, and the unindexed streaming
  * fallback. Full scans are asserted against the frame the landing was
  * written from; pushed reads against Spark's own filter over the full
  * scan.
  */
class BcfDataSourceSpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = TempDirs.create("graft-bcfds")

  private val headerText = Seq(
    "##fileformat=VCFv4.2",
    "##FILTER=<ID=PASS,Description=\"ok\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
    "##INFO=<ID=NOTE,Number=1,Type=String,Description=\"s\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
    "##contig=<ID=1>",
    "##contig=<ID=2>",
    "##contig=<ID=3>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1"
  ).mkString("\n") + "\n"

  private lazy val source = spark.range(30000).selectExpr(
    "CAST(1 + (id % 3) AS STRING) AS chrom",
    "CAST(1000 + ((id * 37) % 200000) AS INT) AS pos",
    "'.' AS id", "'A' AS ref", "'T' AS alt", "'.' AS qual",
    "'PASS' AS filter",
    "'DP=' || CAST(id % 100 AS STRING) || ';NOTE=' || " +
      "sha2(CAST(id AS STRING), 256) AS info",
    "'GT:DP' AS format",
    """map('S1', (CASE WHEN id % 5 = 0 THEN '0/1' WHEN id % 5 = 1
       THEN '1/1' ELSE '0/0' END) || ':' || CAST(id % 60 AS STRING))
       AS genotypes""")

  /** Shards one level below `tmp/landing`, so a load of the parent
    * exercises directory recursion. */
  private lazy val landing: String = {
    val out = tmp.resolve("landing").resolve("shards").toString
    source.repartitionByRange(3, col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .write.format("bcf").mode("overwrite").option("header", headerText).save(out)
    out
  }

  test("format(\"bcf\") full scan ≡ the frame it was written from, " +
      "and an indexed landing SPLITS (more partitions than files at a " +
      "small maxPartitionBytes)") {
    val cols = Seq("chrom", "pos", "info", "format", "genotypes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val ds = spark.read.format("bcf").load(landing)
      // names + types; nullability differs (the DSv2 schema leaves
      // every field and map value nullable)
      assert(ds.schema.map(f => (f.name, f.dataType.simpleString)) ===
        source.schema.map(f => (f.name, f.dataType.simpleString)))
      val a = ds.select(cols.head, cols.tail: _*).collect()
      val b = source.select(cols.head, cols.tail: _*).collect()
      assert(a.length === 30000)
      assert(a.map(_.toString).sorted.toSeq ===
        b.map(_.toString).sorted.toSeq)
      assert(ds.rdd.getNumPartitions > 3,
        s"expected voff splits, got ${ds.rdd.getNumPartitions} partitions")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("chrom/pos pushdown: PushedFilters reach the scan, the region " +
      "read plans FEWER partitions than the full scan, rows match the " +
      "unpushed filter, and a chrom the index lacks prunes to zero") {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val ds = spark.read.format("bcf").load(landing)
      val region = ds.filter(col("chrom") === "2" &&
        col("pos").between(50000, 60000))
      val plan = region.queryExecution.executedPlan.toString
      assert(plan.contains("chrom") && plan.contains("pos") &&
        plan.contains("BcfScan"), s"pushdown must reach the scan:\n$plan")
      val full = ds.collect()
        .filter(r => r.getString(0) == "2" &&
          r.getInt(1) >= 50000 && r.getInt(1) <= 60000)
      val got = region.collect()
      assert(got.length === full.length && got.nonEmpty)
      assert(got.map(_.toString).sorted.toSeq ===
        full.map(_.toString).sorted.toSeq)
      assert(region.rdd.getNumPartitions < ds.rdd.getNumPartitions,
        s"region must plan fewer partitions: ${region.rdd.getNumPartitions}" +
          s" vs ${ds.rdd.getNumPartitions}")
      assert(ds.filter(col("chrom") === "9").count() === 0)
      assert(ds.filter(col("chrom") === "9").rdd.getNumPartitions <= 1)
      // a consumed filter must behave EXACTLY as Spark would evaluate
      // it: the output chrom is normalized, so a 'chr'-prefixed literal
      // matches nothing (the text format's semantics — the two formats
      // must agree), and conflicting equalities yield zero rows
      assert(ds.filter(col("chrom") === "chr2").count() === 0)
      assert(ds.filter(col("chrom") === "1" && col("chrom") === "2")
        .count() === 0)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("directory loads recurse into nested landings, and a path " +
      "with no .bcf files fails loudly instead of planning a silent " +
      "empty scan") {
    // load(parent) — the shards live one level down
    landing
    val viaRoot = spark.read.format("bcf")
      .load(tmp.resolve("landing").toString)
    assert(viaRoot.count() === 30000)
    val empty = java.nio.file.Files.createDirectory(
      tmp.resolve("nothing-here")).toString
    val e = intercept[Exception] {
      spark.read.format("bcf").load(empty).count()
    }
    assert(e.getMessage.contains("no .bcf files"), e.getMessage)
  }

  test("column pruning: a sites-shaped projection (no format/" +
      "genotypes) reads correct values via the indiv-skipping decode; " +
      "genotypes still decode when required") {
    import spark.implicits._
    val ds = spark.read.format("bcf").load(landing)
    val sites = ds.select("chrom", "pos", "ref", "alt").collect()
    assert(sites.length === 30000)
    assert(sites.forall(r => r.getString(2) == "A" && r.getString(3) == "T"))
    val g = ds.filter(col("chrom") === "1" && col("pos") === 1000)
      .select(explode(col("genotypes"))).as[(String, String)]
      .collect()
    assert(g.nonEmpty && g.forall(_._1 == "S1"))
  }

  test("unindexed .bcf degrades to the one-task streaming scan " +
      "through the same format, and the 'samples' option projects " +
      "the genotypes map like the text format's") {
    import spark.implicits._
    val bcf = BcfFixture.buildBcf(tmp) // no .csi sibling
    val ds = spark.read.format("bcf").load(bcf)
    assert(ds.count() === 4)
    assert(ds.rdd.getNumPartitions === 1)
    // pushed pos bounds still filter (pre-parse, record header slots)
    assert(ds.filter(col("chrom") === "1" &&
      col("pos").between(150, 350)).count() === 2)
    val proj = spark.read.format("bcf").option("samples", "S1,S3")
      .load(bcf)
      .filter(col("pos") === 100)
      .select(map_keys(col("genotypes"))).as[Seq[String]].collect().head
    assert(proj.toSet === Set("S1", "S3"))
  }
}
