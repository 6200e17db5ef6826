package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VcfDataSourceSpec extends AnyFunSuite with SparkSpec {

  private lazy val path = VcfFixture.write().toString

  test("format(\"vcf\") reads the fixture identically to parseLines over the raw text") {
    val v2 = spark.read.format("vcf").load(path)
    val v1 = RawVcfText.read(spark, path)
    assert(v2.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      v1.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(v2.count() === 7)
    val a = v2.orderBy("pos").collect().map(_.toSeq).toSeq
    val b = v1.orderBy("pos").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("vcf").load(path).select("chrom", "pos")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("VcfScan[chrom,pos]"), scan)
    assert(df.count() === 7)
  }

  test("pos/chrom predicates are pushed and applied") {
    val df = spark.read.format("vcf").load(path)
      .filter(col("pos") >= 300 && col("pos") < 600 && col("chrom") === "2")
    assert(df.queryExecution.executedPlan.toString.contains("pushed="), df.queryExecution.executedPlan.toString)
    assert(df.select("pos").collect().map(_.getInt(0)).sorted.toSeq === Seq(300, 400))
  }

  test("pushed pos bounds saturate, and an empty range or conflicting chroms plan zero partitions") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, LessThan}
    import graft.sources.v2.PushedRegion
    assert(PushedRegion(Seq(GreaterThan("pos", Long.MaxValue))).unsatisfiable)
    assert(PushedRegion(Seq(LessThan("pos", Long.MinValue))).unsatisfiable)
    val r = PushedRegion(Seq(GreaterThan("pos", Int.MaxValue), GreaterThanOrEqual("pos", 5)))
    assert(r.lo === Int.MaxValue.toLong + 1 && !r.posMatches(Int.MaxValue))
    assert(!PushedRegion.supports(GreaterThan("pos", 2.5)))
    assert(PushedRegion(Seq(EqualTo("chrom", "1"), EqualTo("chrom", "1"))).chrom === Some("1"))
    val df = spark.read.format("vcf").load(path)
    // the +1 no longer wraps to Int.MinValue (an unbounded scan)
    assert(df.filter(col("pos") > Int.MaxValue).count() === 0)
    for (q <- Seq(df.filter(col("pos") > 500 && col("pos") < 400),
        df.filter(col("chrom") === "1" && col("chrom") === "2"))) {
      assert(q.rdd.getNumPartitions === 0)
      assert(q.count() === 0)
    }
    assert(df.filter(col("pos") >= 400 && col("pos") <= 400).count() === 1)
  }

  test("byte-range splits lose no lines and duplicate none") {
    // 5000-line uncompressed VCF, forced into many small splits
    val big = TempDirs.create("graft-big").resolve("big.vcf")
    val header = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
    val body = (1 to 5000).map(i =>
      s"chr${1 + i % 22}\t$i\trs$i\tA\tG\t50\tPASS\tNS=1\tGT\t0/1").mkString("\n")
    Files.writeString(big, "##fileformat=VCFv4.2\n" + header + body + "\n")

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384") // 16 KB splits
    try {
      val df = spark.read.format("vcf").load(big.toString)
      assert(df.rdd.getNumPartitions > 3, s"expected many splits, got ${df.rdd.getNumPartitions}")
      assert(df.count() === 5000)
      assert(df.select(sum("pos")).head().getLong(0) === (1L to 5000L).sum)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("multi-path load(p1, p2) reads both files (JSON 'paths' property)") {
    val p2 = TempDirs.create("graft-second").resolve("second.vcf")
    Files.writeString(p2,
      "##fileformat=VCFv4.2\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tZ1\n" +
        "9\t900\trs9\tA\tT\t50\tPASS\tNS=1\tGT\t0/1\n")
    val df = spark.read.format("vcf").load(path, p2.toString)
    assert(df.count() === 8) // 7 fixture rows + 1
    assert(df.filter(col("pos") === 900).count() === 1)
  }

  test("hand-set non-JSON 'paths' option fails with a clear message") {
    val e = intercept[Exception] {
      spark.read.format("vcf").option("paths", "a.vcf,b.vcf").load()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("JSON array")), e.toString)
  }

  test("CRLF line endings + no trailing newline survive byte-range splits") {
    // CRLF accounting drift would misplace split boundaries → lost or
    // duplicated rows; the last line is deliberately unterminated
    val crlf = TempDirs.create("graft-crlf").resolve("crlf.vcf")
    val header = "##fileformat=VCFv4.2\r\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\r\n"
    val body = (1 to 2000).map(i =>
      s"chr${1 + i % 22}\t$i\trs$i\tA\tG\t50\tPASS\tNS=1\tGT\t0/1")
      .mkString("\r\n") // no trailing newline
    Files.writeString(crlf, header + body)

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192") // 8 KB splits
    try {
      val df = spark.read.format("vcf").load(crlf.toString)
      assert(df.rdd.getNumPartitions > 3)
      assert(df.count() === 2000)
      assert(df.select(sum("pos")).head().getLong(0) === (1L to 2000L).sum)
      assert(df.select("pos").distinct().count() === 2000) // no duplicates either
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("PERMISSIVE: corrupt lines across split boundaries are counted and skipped") {
    // 3000 good rows with two planted corruptions: a non-integer POS and
    // a truncated (<9 field) line, placed mid-file so small splits put
    // them near boundaries
    val bad = TempDirs.create("graft-corrupt").resolve("corrupt.vcf")
    val header = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
    val rows = (1 to 3000).map {
      case 1500 => "chr1\tnotanint\trsX\tA\tG\t50\tPASS\tNS=1\tGT\t0/1"
      case 1501 => "chr1\t999" // truncated record
      case i => s"chr${1 + i % 22}\t$i\trs$i\tA\tG\t50\tPASS\tNS=1\tGT\t0/1"
    }.mkString("\n")
    Files.writeString(bad, "##fileformat=VCFv4.2\n" + header + rows + "\n")

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try {
      val df = spark.read.format("vcf").load(bad.toString)
      assert(df.rdd.getNumPartitions > 3)
      assert(df.count() === 2998, "good rows must all survive, bad rows must drop")
      assert(ScanMetrics.malformedLines(df) === 2)
      // a pushed pos filter over the corrupt region must not throw either
      assert(df.filter(col("pos") >= 1400 && col("pos") <= 1600).count() === 199)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("malformed-line count surfaces as a per-scan DSv2 custom metric") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val bad = TempDirs.create("graft-metric").resolve("metric.vcf")
    Files.writeString(bad,
      "##fileformat=VCFv4.2\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n" +
        "chr1\t100\trs1\tA\tG\t50\tPASS\tNS=1\tGT\t0/1\n" +
        "chr1\tnotanint\trsX\tA\tG\t50\tPASS\tNS=1\tGT\t0/1\n" + // bad POS
        "chr1\t300\n" + // truncated
        "chr1\t400\trs4\tA\tG\t50\tPASS\tNS=1\tGT\t0/1\n")
    val df = spark.read.format("vcf").load(bad.toString)
    assert(df.count() === 2)
    // a scan-only query plans non-adaptively, so the BatchScanExec (and
    // its task-aggregated custom metrics) is directly reachable
    df.collect()
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.headOption
      .getOrElse(fail(s"no BatchScanExec in\n${df.queryExecution.executedPlan}"))
    val metric = scan.metrics.getOrElse("malformedLines",
      fail(s"scan exposes no malformedLines metric: ${scan.metrics.keys}"))
    assert(metric.value === 2,
      s"per-scan malformedLines metric = ${metric.value}, expected 2")
  }

  test("sites-only VCF (8 columns, no FORMAT/samples) reads with null format") {
    val sites = TempDirs.create("graft-sites").resolve("sites.vcf")
    Files.writeString(sites,
      "##fileformat=VCFv4.2\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        "chr7\t700\trs7\tA\tG\t50\tPASS\tNS=1\n" +
        "7\t701\trs8\tC\tT\t60\tPASS\tNS=2\n")
    val df = spark.read.format("vcf").load(sites.toString)
    val rows = df.orderBy("pos").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getString(0)).toSeq === Seq("7", "7"))
    assert(rows.map(_.getInt(1)).toSeq === Seq(700, 701))
    rows.foreach { r =>
      assert(r.isNullAt(8), "sites-only rows must carry null format")
      assert(r.getMap[String, String](9).isEmpty, "…and an empty genotypes map")
    }
    assert(ScanMetrics.malformedLines(df) === 0,
      "spec-legal sites-only rows must not count as malformed")
  }

  test("sample names are planned once and shipped in partitions") {
    import graft.sources.v2.{VcfPartition, VcfScanBuilder}
    val b = new VcfScanBuilder(Seq(path))
    val parts = b.build().toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    parts.foreach { p =>
      assert(p.asInstanceOf[VcfPartition].samples.toSeq === Seq("NA1", "NA2"),
        "reader tasks must receive the header's sample list pre-parsed")
    }
  }

  test("reads the 1000 Genomes-shaped chr22 .gz through format(\"vcf\")") {
    val df = spark.read.format("vcf").load(ChromFixture.chr22)
    val n = df.count()
    assert(n > 9000)
    val row = df.select("chrom", "genotypes").head()
    assert(row.getString(0) === "22")
    assert(row.getMap[String, String](1).size > 2000)
  }
}
