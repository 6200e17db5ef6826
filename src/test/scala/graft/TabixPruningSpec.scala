package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.TabixIndex

/** Region-index pruning: with a pushed chrom (+pos) predicate and a
  * sibling .tbi, the DSv2 source must skip files that cannot contain
  * the region and start bgzip files at the region's BGZF block — the
  * #1 interactive-genomics access pattern (a locus query on a 100 TB
  * corpus must read kilobytes, not everything). Runs over
  * [[ChromFixture]]'s 1000 Genomes-shaped chr22 and titin-shaped files,
  * whose `.tbi` siblings a spec-following test writer built; baselines
  * read the raw text ([[RawVcfText]]), outside the scan under test.
  */
class TabixPruningSpec extends AnyFunSuite with SparkSpec {

  private lazy val chr22 = ChromFixture.chr22
  private lazy val titin = ChromFixture.titin

  private def partitions(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("TabixIndex parses spec-written .tbi files (chr22- and titin-shaped fixtures)") {
    val fs = new Path(chr22).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = TabixIndex.read(fs, TabixIndex.sibling(new Path(chr22)))
    assert(idx.refs.map(_.name) === Seq("22"))
    val r = idx.refs.head
    assert(r.minVoff > 0 && r.maxVoff > r.minVoff)
    assert(r.nIntv > 1000) // ~16.6 Mb of 16 kb windows
    assert(idx.ref("22").isDefined && idx.ref("chr22").isDefined)
    assert(idx.ref("1").isEmpty)

    val idx2 = TabixIndex.read(fs, TabixIndex.sibling(new Path(titin)))
    assert(idx2.refs.map(_.name) === Seq("2"))
  }

  test("a chrom absent from the index prunes the whole file") {
    val df = spark.read.format("vcf").load(chr22).filter(col("chrom") === "1")
    assert(partitions(df) === 0, "expected zero input partitions")
    assert(df.count() === 0)
  }

  test("multi-file region query scans only the file holding the chrom") {
    val both = spark.read.format("vcf").load(chr22, titin)
    assert(partitions(both.filter(col("chrom") === "22")) === 1)
    assert(partitions(both.filter(col("chrom") === "2")) === 1)
    val n22 = spark.read.format("vcf").load(chr22).count()
    assert(both.filter(col("chrom") === "22").count() === n22)
  }

  test("pos lower bound beyond the linear index prunes the file") {
    val df = spark.read.format("vcf").load(chr22)
      .filter(col("chrom") === "22" && col("pos") >= 100000000)
    assert(partitions(df) === 0)
    assert(df.count() === 0)
  }

  test("linear-index refined region start is lossless") {
    // baseline through the raw text (no pruning path at all)
    val expected = RawVcfText.read(spark, chr22)
      .filter(col("chrom") === "22" && col("pos") >= 16500000)
      .select(sum(col("pos")).as("s"), count(lit(1)).as("n")).head()
    val pruned = spark.read.format("vcf").load(chr22)
      .filter(col("chrom") === "22" && col("pos") >= 16500000)
    assert(partitions(pruned) === 1)
    val got = pruned.select(sum(col("pos")).as("s"), count(lit(1)).as("n")).head()
    assert(got.getLong(1) === expected.getLong(1), "row count drifted under pruning")
    assert(got.getLong(0) === expected.getLong(0), "pos checksum drifted under pruning")
    // and the pruned scan starts mid-file: the partition's region is a
    // strict subset of the file
    val p = pruned.rdd.partitions // forces planInputPartitions again
    assert(p.length === 1)
  }

  test("chrom equality with .tbi still returns every matching row") {
    val full = RawVcfText.read(spark, chr22).count()
    val pruned = spark.read.format("vcf").load(chr22).filter(col("chrom") === "22")
    assert(pruned.count() === full)
  }

  test("reg2bins covers the bins of the spec's 6 levels") {
    // whole coordinate space touches every level's first/last bins
    val all = TabixIndex.reg2bins(0L, 1L << 29)
    assert(all.head === 0 && all.contains(1) && all.contains(8) &&
      all.contains(9) && all.contains(4681) && all.max === 37448)
    // a single 16 kb window yields exactly one bin per level
    val one = TabixIndex.reg2bins(16300000L, 16300001L)
    assert(one.size === 6, s"got $one")
    assert(one === Seq(0, 1 + (16300000 >> 26), 9 + (16300000 >> 23),
      73 + (16300000 >> 20), 585 + (16300000 >> 17), 4681 + (16300000 >> 14)))
  }

  test("binning index bounds BOTH ends: a locus query reads O(region) bytes") {
    import graft.sources.v2.{VcfPartition, VcfScanBuilder}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
    val fs = new Path(chr22).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(new Path(chr22)).getLen
    val r = TabixIndex.read(fs, TabixIndex.sibling(new Path(chr22))).refs.head

    def plannedBytes(lo: Int, hi: Int): Long = {
      val b = new VcfScanBuilder(Seq(chr22))
      b.pushFilters(Array(EqualTo("chrom", "22"),
        GreaterThanOrEqual("pos", lo), LessThanOrEqual("pos", hi)))
      val parts = b.build().toBatch.planInputPartitions()
      assert(parts.nonEmpty, s"region $lo-$hi planned no partitions")
      parts.map(_.asInstanceOf[VcfPartition].length).sum
    }

    // the pre-binning behavior read from the region start to the END of
    // the chromosome's data; the chunk-pruned scan must beat that span
    // by a wide margin for a mid-chromosome locus
    val locusBytes = plannedBytes(16300000, 16320000)
    val startBlock = TabixIndex.compressedOffset(r.minVoff)
    val chromSpan = TabixIndex.compressedOffset(r.maxVoff) +
      TabixIndex.MaxBlockSize - startBlock
    assert(locusBytes < chromSpan / 4,
      s"locus scan reads $locusBytes of $chromSpan chrom bytes (file $fileLen)")
    // and widening the region monotonically widens the scan
    assert(plannedBytes(16300000, 16600000) > locusBytes)
  }

  test("scan statistics report pruned bytes: a locus read becomes broadcast-eligible") {
    import graft.sources.v2.VcfScanBuilder
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

    def statBytes(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val b = new VcfScanBuilder(Seq(chr22))
      b.pushFilters(filters)
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().sizeInBytes().getAsLong
    }
    val full = statBytes(Array.empty)
    val locus = statBytes(Array(EqualTo("chrom", "22"),
      GreaterThanOrEqual("pos", 16300000), LessThanOrEqual("pos", 16320000)))
    // the pruned estimate must shrink with the region — this is what
    // lets Catalyst broadcast an indexed locus read in a join where the
    // raw file size would force a shuffle
    assert(locus < full / 4, s"locus stats $locus vs full $full")

    // and the estimate flows into the optimized plan: the locus scan's
    // relation stats sit below the default 10 MB broadcast threshold
    val df = spark.read.format("vcf").load(chr22)
      .filter(col("chrom") === "22" && col("pos").between(16300000, 16320000))
    val relStats = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.sizeInBytes
    }
    assert(relStats.nonEmpty && relStats.head.toLong == locus,
      s"plan stats $relStats != scan estimate $locus")
    assert(relStats.head.toLong < 10L * 1024 * 1024,
      s"locus read should be broadcast-eligible, got ${relStats.head}")
  }

  /** Re-encode a parsed .tbi as a tabix-style .csi via the shared
    * fixture writer ([[BgzfFixture.writeCsi]] — same bins/chunks, no
    * linear index), built from the fixture's spec-written index. minShift/depth/withNames land in the emitted
    * header verbatim, so malformed-header variants drive the negative
    * tests below.
    */
  private def writeCsi(idx: TabixIndex.Index, out: java.nio.file.Path,
      minShift: Int = 14, depth: Int = 5, withNames: Boolean = true): Unit =
    BgzfFixture.writeCsi(idx, out, minShift, depth, withNames)

  test(".csi fallback prunes a region identically to the .tbi") {
    // a copy of the chr22 fixture with ONLY a .csi sibling (converted
    // from its .tbi, so the chunk layout is the same)
    val dir = TempDirs.create("graft_csi")
    val copy = dir.resolve("chr22.vcf.gz")
    java.nio.file.Files.copy(java.nio.file.Paths.get(chr22), copy)
    val fs = new Path(chr22).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tbi = TabixIndex.read(fs, TabixIndex.sibling(new Path(chr22)))
    writeCsi(tbi, dir.resolve("chr22.vcf.gz.csi"))

    val parsed = TabixIndex.readCsi(fs, new Path(dir.resolve("chr22.vcf.gz.csi").toString))
    assert(parsed.refs.map(_.name) === Seq("22"))
    assert(parsed.refs.head.bins.keySet === tbi.refs.head.bins.keySet)

    val lo = 16300000
    val hi = 16320000
    val expected = RawVcfText.read(spark, chr22)
      .filter(col("chrom") === "22" && col("pos") >= lo && col("pos") <= hi)
      .select(sum(col("pos")).as("s"), count(lit(1)).as("n")).head()
    val viaCsi = spark.read.format("vcf").load(copy.toString)
      .filter(col("chrom") === "22" && col("pos") >= lo && col("pos") <= hi)
    assert(partitions(viaCsi) >= 1)
    val got = viaCsi.select(sum(col("pos")).as("s"), count(lit(1)).as("n")).head()
    assert(got.getLong(1) === expected.getLong(1), "row count drifted under csi pruning")
    assert(got.getLong(0) === expected.getLong(0), "pos checksum drifted under csi pruning")
    // absent chrom prunes through the csi path too
    assert(partitions(spark.read.format("vcf").load(copy.toString)
      .filter(col("chrom") === "1")) === 0)
  }

  test("readCsi rejects implausible tree shapes and nameless CSI, loudly") {
    val dir = TempDirs.create("graft_csi_bad")
    val fs = new Path(chr22).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tbi = TabixIndex.read(fs, TabixIndex.sibling(new Path(chr22)))

    // min_shift=0 would make maxPos math degenerate
    writeCsi(tbi, dir.resolve("shift.csi"), minShift = 0)
    val e1 = intercept[IllegalArgumentException] {
      TabixIndex.readCsi(fs, new Path(dir.resolve("shift.csi").toString))
    }
    assert(e1.getMessage.contains("implausible CSI tree shape"))

    // depth=12 overflows Int bin ids at the deepest level
    writeCsi(tbi, dir.resolve("depth.csi"), depth = 12)
    val e2 = intercept[IllegalArgumentException] {
      TabixIndex.readCsi(fs, new Path(dir.resolve("depth.csi").toString))
    }
    assert(e2.getMessage.contains("implausible CSI tree shape"))

    // a names-less aux block (non-tabix CSI, e.g. BCF) cannot prune by
    // chromosome name — silent zero-row scans if accepted
    writeCsi(tbi, dir.resolve("nameless.csi"), withNames = false)
    val e3 = intercept[IllegalArgumentException] {
      TabixIndex.readCsi(fs, new Path(dir.resolve("nameless.csi").toString))
    }
    assert(e3.getMessage.contains("cannot prune by chromosome name"))
  }

  test("region-END bounded scan is lossless vs the unpruned reader") {
    val lo = 16300000
    val hi = 16320000
    val expected = RawVcfText.read(spark, chr22)
      .filter(col("chrom") === "22" && col("pos") >= lo && col("pos") <= hi)
      .select(sum(col("pos")).as("s"), count(lit(1)).as("n")).head()
    assert(expected.getLong(1) > 0, "test region is empty — pick another")
    val pruned = spark.read.format("vcf").load(chr22)
      .filter(col("chrom") === "22" && col("pos") >= lo && col("pos") <= hi)
    val got = pruned.select(sum(col("pos")).as("s"), count(lit(1)).as("n")).head()
    assert(got.getLong(1) === expected.getLong(1), "row count drifted under chunk pruning")
    assert(got.getLong(0) === expected.getLong(0), "pos checksum drifted under chunk pruning")
    // pos equality pushes both bounds at once
    val eq = spark.read.format("vcf").load(chr22)
      .filter(col("chrom") === "22" && col("pos") === 16050075)
    assert(eq.count() === 1)
  }
}
