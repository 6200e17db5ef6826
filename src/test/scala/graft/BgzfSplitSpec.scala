package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.TabixIndex

/** BGZF-block-splittable FULL scans: a bgzipped VCF with a sibling index
  * and NO pushed region predicate must plan one partition per ~maxSplit
  * of compressed record bytes — not one per file — and the voff-bounded
  * ownership must be lossless row-for-row. This is the 100 TB ingest
  * path: bgzip is genomics' standard landing format, and before this a
  * 100 GB bgzipped chromosome full-scanned on one core.
  */
class BgzfSplitSpec extends AnyFunSuite with SparkSpec {

  private lazy val chr22 = ChromFixture.chr22

  private def partitions(df: DataFrame): Int = df.rdd.getNumPartitions

  test("multi-chrom bgzf full scan splits and equals the plain-text read row-for-row") {
    val dir = TempDirs.create("graft_bgzf_split")
    val (gz, plain, n) = BgzfFixture.multiChromFixture(dir, Seq("1", "2", "3"), 400)

    withMaxSplit(2048) {
      val df = spark.read.format("vcf").load(gz.toString)
      assert(partitions(df) > 1,
        "indexed bgzf full scan with no filters must plan multiple partitions")
      val got = df.select("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info")
        .collect().map(_.toSeq).sortBy(_.toString())
      val want = spark.read.format("vcf").load(plain.toString)
        .select("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info")
        .collect().map(_.toSeq).sortBy(_.toString())
      assert(got.length === n)
      assert(got === want, "split bgzf read drifted from the plain-text read")
      // genotypes survive the split path too
      val g = spark.read.format("vcf").load(gz.toString)
        .select(element_at(col("genotypes"), "S1").as("s1"))
        .where(col("s1") =!= "0/1")
      assert(g.count() === 0)
    }
  }

  test("split count tracks maxPartitionBytes and stays lossless at every granularity") {
    val dir = TempDirs.create("graft_bgzf_gran")
    val (gz, _, n) = BgzfFixture.multiChromFixture(dir, Seq("7", "8"), 300, blockLines = 5)
    val counts = Seq(1024L, 4096L, 1L << 30).map { ms =>
      withMaxSplit(ms) {
        val df = spark.read.format("vcf").load(gz.toString)
        assert(df.count() === n, s"row count drifted at maxSplit=$ms")
        partitions(df)
      }
    }
    assert(counts(0) > counts(1), s"finer maxSplit must plan more partitions: $counts")
    assert(counts(2) === 1, s"huge maxSplit must not split: $counts")
  }

  test("chr22-shaped .tbi full scan splits and matches the raw-text baseline") {
    val base = RawVcfText.read(spark, chr22)
      .select(count(lit(1)).as("n"), sum(col("pos")).as("s")).head()
    withMaxSplit(128 * 1024) {
      val df = spark.read.format("vcf").load(chr22)
      assert(partitions(df) > 1, "a multi-MB file at 128 KiB maxSplit must split")
      val got = df.select(count(lit(1)).as("n"), sum(col("pos")).as("s")).head()
      assert(got.getLong(0) === base.getLong(0), "row count drifted under bgzf split")
      assert(got.getLong(1) === base.getLong(1), "pos checksum drifted under bgzf split")
    }
  }

  test("whole-chromosome chromEq region also subdivides at record starts") {
    val full = RawVcfText.read(spark, chr22).count()
    withMaxSplit(128 * 1024) {
      val df = spark.read.format("vcf").load(chr22).filter(col("chrom") === "22")
      assert(partitions(df) > 1,
        "a whole-chrom region wider than maxSplit must subdivide")
      assert(df.count() === full)
    }
  }

  test("splitCandidates/subdivide: sorted record starts, exact range cover") {
    val fs = new Path(chr22).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = TabixIndex.read(fs, TabixIndex.sibling(new Path(chr22)))
    val cands = TabixIndex.splitCandidates(idx)
    assert(cands.length > 10)
    assert(cands.toSeq === cands.sorted.toSeq)
    val ranges = TabixIndex.subdivide(cands.head, Long.MaxValue, cands, 100 * 1024)
    assert(ranges.length > 1)
    assert(ranges.head._1 === cands.head)
    assert(ranges.last._2 === Long.MaxValue)
    // contiguous, no gap or overlap
    ranges.sliding(2).foreach {
      case Seq((_, e), (b, _)) => assert(e === b)
      case _ =>
    }
    // each boundary really is ≥ maxSplit compressed bytes after its
    // predecessor's start
    ranges.map(r => TabixIndex.compressedOffset(r._1)).sliding(2).foreach {
      case Seq(a, b) => assert(b - a >= 100 * 1024)
      case _ =>
    }
  }

  test("an unindexed .gz still reads whole-file (single partition, no failure)") {
    val dir = TempDirs.create("graft_bgzf_noidx")
    val (gz, _, n) = BgzfFixture.multiChromFixture(dir, Seq("5"), 50)
    java.nio.file.Files.delete(dir.resolve("multi.vcf.gz.csi"))
    withMaxSplit(1024) {
      val df = spark.read.format("vcf").load(gz.toString)
      assert(partitions(df) === 1)
      assert(df.count() === n)
    }
  }

  test("a corrupt sibling index degrades to an unpruned full scan, not a failure") {
    val dir = TempDirs.create("graft_bgzf_corrupt")
    val (gz, _, n) = BgzfFixture.multiChromFixture(dir, Seq("9"), 50)
    // overwrite the sibling with gzip'd garbage (valid gzip, not a CSI)
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("multi.vcf.gz.csi")))
    out.write("not an index".getBytes("UTF-8")); out.close()
    // full scan: falls back to the single-partition whole-file read
    val df = spark.read.format("vcf").load(gz.toString)
    assert(df.count() === n)
    // region query: index unusable → unpruned scan, still correct rows
    // (fixture positions are i*123+100, so pos ≤ 1000 keeps i ≤ 7)
    val one = spark.read.format("vcf").load(gz.toString)
      .filter(col("chrom") === "9" && col("pos") <= 1000)
    assert(one.count() === 7)
  }

  test("headerless bgzf shard glob with a samples override splits per file") {
    // the 100 TB arrival shape: MANY headerless bgzipped shards + one
    // `samples` option serving every file — no per-file header fetch,
    // and each file still splits on its own index's record voffs
    val dir = TempDirs.create("graft_bgzf_glob")
    val perFile = 300
    val chroms = Seq("1", "2", "3")
    chroms.foreach { c =>
      val records = (1 to perFile).map(i =>
        (c, i * 123 + 100, s"$c\t${i * 123 + 100}\trs${c}_$i\tA\tG\t5$i\tPASS\tDP=$i\tGT\t0/1\t1/1"))
      val gz = dir.resolve(s"shard_$c.vcf.gz")
      val (voffs, endVoff) =
        BgzfFixture.writeBgzf(records.map(_._3), gz, blockLines = 5)
      val idx = BgzfFixture.buildIndex(
        records.zip(voffs).map { case ((ch, p, _), v) => (ch, p, v) }, endVoff)
      BgzfFixture.writeCsi(idx, dir.resolve(s"shard_$c.vcf.gz.csi"))
    }
    withMaxSplit(2048) {
      val df = spark.read.format("vcf")
        .option("samples", "S1,S2")
        .load(s"$dir/*.vcf.gz")
      assert(partitions(df) > chroms.size,
        s"expected splits within files, got ${partitions(df)} partitions for ${chroms.size} files")
      assert(df.count() === chroms.size * perFile)
      // every chrom present, genotypes mapped to the override names
      val byChrom = df.groupBy("chrom").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byChrom === chroms.map(_ -> perFile.toLong).toMap)
      assert(df.filter(element_at(col("genotypes"), "S2") =!= "1/1").count() === 0)
    }
  }

  test("many-file glob discovers per-file header samples (pooled fetch)") {
    // the no-override path: planning fetches each file's header with the
    // bounded thread pool; samples must resolve per file across a glob
    val dir = TempDirs.create("graft_bgzf_many")
    val chroms = Seq("1", "2", "3", "4", "5", "6")
    val header = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2")
    chroms.foreach { c =>
      val records = (1 to 40).map(i =>
        (c, i * 123 + 100, s"$c\t${i * 123 + 100}\trs${c}_$i\tA\tG\t5$i\tPASS\tDP=$i\tGT\t0/1\t1/1"))
      val lines = header ++ records.map(_._3)
      val gz = dir.resolve(s"many_$c.vcf.gz")
      val (voffs, endVoff) = BgzfFixture.writeBgzf(lines, gz, blockLines = 10)
      val idx = BgzfFixture.buildIndex(
        records.zip(voffs.drop(header.length))
          .map { case ((ch, p, _), v) => (ch, p, v) }, endVoff)
      BgzfFixture.writeCsi(idx, dir.resolve(s"many_$c.vcf.gz.csi"))
    }
    val df = spark.read.format("vcf").load(s"$dir/*.vcf.gz")
    assert(df.count() === chroms.size * 40)
    assert(df.filter(element_at(col("genotypes"), "S1") =!= "0/1").count() === 0)
    assert(df.select("chrom").distinct().count() === chroms.size)
  }
}
