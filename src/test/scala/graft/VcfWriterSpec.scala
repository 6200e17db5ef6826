package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VcfReader
import graft.sources.v2.TabixIndex

/** VCF emission through `df.write.format("vcf")`: the header rendered
  * from parsed metadata ([[VcfReader.headerLines]]), the data-line
  * encoding, BGZF shards, and the `.tbi`/`.csi` recorded during the
  * write against the re-read reference ([[TabixIndex.buildForBgzfVcf]]).
  */
class VcfWriterSpec extends AnyFunSuite with SparkSpec {

  private val s1Header = Seq(
    "##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1").mkString("\n")

  private def writeVcf(df: DataFrame, header: String, bgzf: Boolean = false): String = {
    val out = TempDirs.create("graft_vcf_out").toString
    df.write.format("vcf").mode("overwrite").option("header", header)
      .option("bgzf", bgzf.toString).save(out)
    out
  }

  private def shards(out: String, ext: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(ext) &&
        !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.getFileName.toString)

  private def gunzipLines(p: java.nio.file.Path): List[String] = {
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(p))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def bag(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  /** `rows` chrom × 3000 records padded with poorly-compressing digits so
    * each shard spans several 64 KiB BGZF blocks (split granularity). */
  private def padded(chroms: Seq[String], step: Int): DataFrame = {
    import spark.implicits._
    (for { c <- chroms; i <- 1 to 3000 } yield (
      c, i * step + 100, s"rs${c}_$i", "A", "G", "50", "PASS",
      s"DP=$i;X=" + (i * 2654435761L).toString * 8,
      "GT", Map("S1" -> "0/1")))
      .toDF("chrom", "pos", "id", "ref", "alt", "qual",
        "filter", "info", "format", "genotypes")
  }

  test("read → write → read round-trips the fixture exactly") {
    val p = VcfFixture.write().toString
    val meta = VcfReader.metadata(spark, p)
    val first = VcfReader.read(spark, p)
    val out = writeVcf(first, VcfReader.headerLines(meta).mkString("\n"))
    val again = spark.read.format("vcf").load(out)
    assert(bag(first) === bag(again))
    // chrom came out normalized on first read, so re-reading the emitted
    // lines must not re-normalize anything away
    assert(again.count() === 7)
  }

  test("header emission is byte-faithful to the parsed metadata") {
    val meta = VcfReader.fromHeaderLines(
      VcfFixture.content.linesIterator.takeWhile(_.startsWith("#")).toSeq)
    val hdr = VcfReader.headerLines(meta)
    assert(hdr.head === "##fileformat=VCFv4.2")
    assert(hdr.last.startsWith("#CHROM\tPOS") && hdr.last.endsWith("NA1\tNA2"))
    assert(hdr.count(_.startsWith("##INFO=")) === 4)
  }

  test("##contig IDs are normalized to match the normalized data lines") {
    val meta = VcfReader.fromHeaderLines(Seq(
      "##fileformat=VCFv4.2",
      "##contig=<ID=chr22,length=50818468>",
      "##contig=<ID=X,length=156040895>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1"))
    val hdr = VcfReader.headerLines(meta)
    // the reader emits chrom '22', so the header must name '22', not 'chr22'
    assert(hdr.contains("##contig=<ID=22,length=50818468>"), hdr.mkString("\n"))
    assert(hdr.contains("##contig=<ID=X,length=156040895>"))
    // the spec fixes no attribute order: ID after another attribute
    // must normalize too
    val meta2 = VcfReader.fromHeaderLines(Seq(
      "##fileformat=VCFv4.2",
      "##contig=<length=50818468,ID=chr22>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1"))
    assert(VcfReader.headerLines(meta2)
      .contains("##contig=<length=50818468,ID=22>"))
  }

  test("absent samples emit the missing call in order") {
    import spark.implicits._
    val df = Seq(("1", 10, "r", "A", "G", "q", "PASS", "i", "GT",
      Map("s2" -> "0/1")))
      .toDF("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info",
        "format", "genotypes")
    val out = writeVcf(df, "##fileformat=VCFv4.2\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2")
    val lines = shards(out, ".vcf").flatMap(Files.readAllLines(_).asScala)
      .filterNot(_.startsWith("#"))
    assert(lines === Seq("1\t10\tr\tA\tG\tq\tPASS\ti\tGT\t./.\t0/1"))
  }

  test("format(\"vcf\") bgzf shards are true BGZF and round-trip " +
      "through every reader") {
    val p = VcfFixture.write().toString
    val meta = VcfReader.metadata(spark, p)
    val df = VcfReader.read(spark, p)
    val out = writeVcf(df.repartition(2).sortWithinPartitions("chrom", "pos"),
      VcfReader.headerLines(meta).mkString("\n"), bgzf = true)
    val gz = shards(out, ".vcf.gz")
    assert(gz.nonEmpty)
    // 1. every shard ends with the fixed 28-byte BGZF EOF member
    gz.foreach { sh =>
      val bytes = Files.readAllBytes(sh)
      assert(bytes.length >= 28 &&
        bytes.takeRight(28).sameElements(graft.sources.v2.BgzfOutputStream.EofMarker),
        s"$sh does not end with the BGZF EOF marker")
    }
    // 2. plain gunzip reads the multi-member stream (bgzf IS gzip)
    val viaGzip = gz.flatMap(gunzipLines)
    assert(viaGzip.count(!_.startsWith("#")) === 7)
    // 3. the engine's own block-exact reader walks the blocks
    val viaBlocks = gz.flatMap { sh =>
      val hp = new org.apache.hadoop.fs.Path(sh.toUri)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val r = new graft.sources.v2.BgzfLineReader(
        fs.open(hp), 0L, Files.size(sh))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).toList
      finally r.close()
    }
    assert(viaBlocks === viaGzip, "block-exact read drifted from gunzip")
    // 4. the DSv2 read path round-trips the rows
    assert(bag(df) === bag(spark.read.format("vcf").load(out)))
  }

  test("empty bgzf shard (EOF member only) indexes and reads as zero rows") {
    // a writer task that receives no rows still closes its stream: the
    // shard is the bare 28-byte EOF member; the index builder and the
    // readers must treat it as an empty, not broken, file
    val dir = TempDirs.create("graft_bgzf_empty")
    val f = dir.resolve("empty.vcf.gz")
    Files.write(f, graft.sources.v2.BgzfOutputStream.EofMarker)
    val hp = new org.apache.hadoop.fs.Path(f.toUri)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TabixIndex.writeCsi(fs, TabixIndex.csiSibling(hp),
      TabixIndex.buildForBgzfVcf(fs, hp))
    assert(Files.exists(dir.resolve("empty.vcf.gz.csi")))
    val idx = TabixIndex.readSibling(fs, hp)
    assert(idx.exists(_.refs.isEmpty))
    val df = spark.read.format("vcf").option("samples", "S1").load(f.toString)
    assert(df.count() === 0)
  }

  test("format(\"vcf\") bgzf write records the index DURING the write — " +
      ".tbi siblings identical to a post-hoc re-read index, and the " +
      "landing serves a pushed region query pruned") {
    val df = padded(Seq("1", "2"), 137).repartition(3)
    val out = writeVcf(df.repartitionByRange(4, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos"), s1Header, bgzf = true)
    val gz = shards(out, ".vcf.gz")
    assert(gz.nonEmpty)
    gz.foreach { g =>
      assert(Files.exists(Paths.get(g.toString + ".tbi")),
        s"missing tbi sibling for $g")
      assert(!Files.exists(Paths.get(g.toString + ".csi")),
        s"positions fit tabix — csi must not be emitted for $g")
    }

    // the in-write index must agree with a post-hoc re-read of the
    // same shard: same refs, bins, chunk starts, linear index (the
    // one legitimate difference is the LAST chunk's end voff — the
    // re-read pins it to file length, the in-write to the last
    // record's end)
    val hp = new org.apache.hadoop.fs.Path(gz.head.toUri)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inWrite = TabixIndex.read(fs, TabixIndex.sibling(hp))
    val reRead = TabixIndex.buildForBgzfVcf(fs, hp)
    assert(inWrite.refs.map(_.name) === reRead.refs.map(_.name))
    inWrite.refs.zip(reRead.refs).foreach { case (a, b) =>
      assert(a.ioff.toSeq === b.ioff.toSeq, s"linear index drifted on ${a.name}")
      assert(a.bins.keySet === b.bins.keySet, s"bin set drifted on ${a.name}")
      a.bins.keySet.foreach { bin =>
        assert(a.bins(bin).map(_.beg).toSeq === b.bins(bin).map(_.beg).toSeq,
          s"chunk starts drifted in bin $bin of ${a.name}")
      }
      assert(a.minVoff === b.minVoff)
    }

    // and the landing serves a pushed region query through the
    // existing pruning path: fewer partitions, exact rows
    withMaxSplit(2048L) {
      val full = spark.read.format("vcf").load(out)
      assert(full.count() === 6000)
      assert(full.rdd.getNumPartitions > gz.size,
        s"no splits within in-write-indexed shards: ${full.rdd.getNumPartitions}")
      val region = spark.read.format("vcf").load(out)
        .filter(col("chrom") === "1" && col("pos").between(100, 5000))
      assert(region.count() === 35) // i*137+100 ≤ 5000 → i ≤ 35
      assert(region.rdd.getNumPartitions < full.rdd.getNumPartitions,
        "region query did not prune the in-write-indexed shards")
    }
  }

  test("format(\"vcf\") bgzf write: positions past 2^29 escalate the " +
      "sibling to .csi (htslib's rule), and the region path still serves them") {
    import spark.implicits._
    // chromosome longer than tabix's 2^29 ceiling (~536.9 Mb)
    val df = (1 to 500).map(i => (
      "1", 600000000L + i * 1000L, s"rs$i", "A", "G", ".", "PASS",
      s"DP=$i", "GT", Map("S1" -> "1/1")))
      .toDF("chrom", "pos", "id", "ref", "alt", "qual",
        "filter", "info", "format", "genotypes")
    val out = writeVcf(df.repartitionByRange(2, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos"), s1Header, bgzf = true)
    val gz = shards(out, ".vcf.gz")
    assert(gz.nonEmpty)
    gz.foreach { g =>
      assert(Files.exists(Paths.get(g.toString + ".csi")),
        s"missing csi sibling for $g")
      assert(!Files.exists(Paths.get(g.toString + ".tbi")),
        s"tbi cannot represent pos > 2^29 in $g")
    }
    val region = spark.read.format("vcf").load(out)
      .filter(col("chrom") === "1" &&
        col("pos").between(600000000L, 600100000L))
    assert(region.count() === 100)
  }

  test("range-partitioned format(\"vcf\") shards in filename order form " +
      "ONE coordinate-sorted stream, plain and bgzf alike") {
    import spark.implicits._
    val rows = for { c <- Seq("1", "10", "2"); i <- 1 to 400 } yield (
      c, i * 997 + 7, s"rs${c}_$i", "A", "G", "50", "PASS", s"DP=$i",
      "GT", Map("S1" -> "0/1"))
    // arrive unsorted and badly partitioned on purpose
    val df = rows.reverse.toDF("chrom", "pos", "id", "ref", "alt", "qual",
      "filter", "info", "format", "genotypes").repartition(7)
      .repartitionByRange(5, col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos")
    val parts = shards(writeVcf(df, s1Header), ".vcf")
    assert(parts.size > 1, s"one shard defeats the point: $parts")
    // cat in FILENAME order must be globally (chrom lex, pos) sorted
    val cat = parts.flatMap(Files.readAllLines(_).asScala).filterNot(_.startsWith("#"))
    val keys = cat.map { l =>
      val a = l.split("\t"); (a(0), a(1).toLong)
    }
    assert(keys === keys.sortBy(identity), "concatenated shards not globally sorted")
    assert(cat.size === 1200)
    val cat2 = shards(writeVcf(df, s1Header, bgzf = true), ".vcf.gz")
      .flatMap(gunzipLines).filterNot(_.startsWith("#"))
    assert(cat2 === cat, "bgzf emission drifted from the plain-text order")
  }
}
