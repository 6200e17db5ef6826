package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.TabixIndex

/** CSI-indexed SPLITTABLE + REGION-PRUNED `format("bcf")` reads, over a
  * multi-chrom, multi-block `.bcf` landing written and self-indexed by
  * `format("bcf")`, asserted on the scan's planned partitions:
  *
  *  - a SPLIT full scan (small maxPartitionBytes → many voff-bounded
  *    tasks) reads row-identical to the unsplit scan — chunk-begin
  *    voffs are record starts, ownership by start voff is exact;
  *  - a REGION probe's planned compressed span is a small fraction of
  *    the file bytes (both scan ends bounded) and its rows equal the
  *    full scan's filtered rows;
  *  - a chromosome absent from the index prunes to zero tasks;
  *  - unindexed files degrade to the streaming one-task scan, wrong
  *    never.
  */
class BcfSplitSpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = TempDirs.create("graft-bcfs")

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

  /** ~30k records over 3 chroms, positions spread over ~200 kb so the
    * binning index has many 16 kb windows (= many chunk-begin split
    * candidates), with an INCOMPRESSIBLE NOTE payload so each shard
    * spans many COMPRESSED BGZF blocks — split boundaries are spaced
    * in compressed bytes, so candidates inside one block cannot split.
    */
  private lazy val landing: String = {
    val df = spark.range(30000).selectExpr(
      "CAST(1 + (id % 3) AS STRING) AS chrom",
      "CAST(1000 + ((id * 37) % 200000) AS INT) AS pos",
      "'.' AS id",
      "'A' AS ref",
      "'T' AS alt",
      "'.' AS qual",
      "'PASS' AS filter",
      "'DP=' || CAST(id % 100 AS STRING) || ';NOTE=' || " +
        "sha2(CAST(id AS STRING), 256) AS info",
      "'GT:DP' AS format",
      """map('S1', (CASE WHEN id % 5 = 0 THEN '0/1' WHEN id % 5 = 1
         THEN '1/1' ELSE '0/0' END) || ':' || CAST(id % 60 AS STRING))
         AS genotypes""")
    val out = tmp.resolve("landing").toString
    df.repartitionByRange(3, col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .write.format("bcf").mode("overwrite").option("header", headerText).save(out)
    s"$out/*.bcf"
  }

  private val cols = Seq("chrom", "pos", "info", "format", "genotypes")

  private def region(chrom: String, lo: Int, hi: Int): Seq[Filter] =
    Seq(EqualTo("chrom", chrom), GreaterThanOrEqual("pos", lo),
      LessThanOrEqual("pos", hi))

  test("split scan ≡ unsplit scan, with genuinely more tasks: the " +
      "sibling .csi's chunk begins subdivide each file at record " +
      "starts — no row lost, none doubled") {
    def scan(maxSplit: Long) = withMaxSplit(maxSplit) {
      (BcfFixture.planned(landing).length,
        spark.read.format("bcf").load(landing)
          .select(cols.head, cols.tail: _*).collect())
    }
    val (unsplitTasks, a) = scan(Long.MaxValue)
    val (splitTasks, b) = scan(2048L)
    assert(unsplitTasks === 3, "one task per indexed file")
    assert(splitTasks > 6,
      s"expected >2 tasks/file at 2 KiB maxSplit, got $splitTasks")
    assert(a.length === 30000)
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
  }

  test("region probe: planned compressed span shrinks to O(region) " +
      "and rows equal the full scan's filter; absent chromosome " +
      "prunes to zero tasks") {
    val ds = spark.read.format("bcf").load(landing)
    val full = ds.select(cols.head, cols.tail: _*).collect()
      .filter(r => r.getString(0) == "2" &&
        r.getInt(1) >= 50000 && r.getInt(1) <= 60000)
    assert(full.nonEmpty, "the probe region must hold rows")
    val probe = ds.filter(col("chrom") === "2" && col("pos").between(50000, 60000))
      .select(cols.head, cols.tail: _*).collect()
    assert(probe.map(_.toString).sorted.toSeq ===
      full.map(_.toString).sorted.toSeq)
    // bytes-read observably shrink: the planned compressed span of the
    // region tasks is a small fraction of the landing's total bytes
    val fileBytes = tmp.resolve("landing").toFile
      .listFiles().filter(_.getName.endsWith(".bcf"))
      .map(_.length).sum
    val planned = BcfFixture.planned(landing, region("2", 50000, 60000): _*)
    assert(planned.nonEmpty)
    val span = planned.map(t =>
      TabixIndex.compressedOffset(t.endVoffEx) -
        TabixIndex.compressedOffset(t.begVoff) +
        TabixIndex.MaxBlockSize / 16).sum
    assert(span * 3 < fileBytes,
      s"region span $span should be well under file bytes $fileBytes")
    // a chromosome the index does not know prunes every task
    assert(BcfFixture.planned(landing, region("9", 1, 1000): _*).isEmpty)
    assert(ds.filter(col("chrom") === "9" && col("pos").between(1, 1000))
      .count() === 0)
  }

  test("unindexed file degrades to the streaming one-task scan for " +
      "both the full read and the region probe (slower, never wrong)") {
    val bcf = BcfFixture.buildBcf(tmp) // no .csi sibling
    withMaxSplit(2048L) {
      val tasks = BcfFixture.planned(bcf)
      assert(tasks.length === 1 && tasks.head.begVoff === -1L)
      assert(spark.read.format("bcf").load(bcf).count() === 4)
      assert(BcfFixture.planned(bcf, region("1", 150, 350): _*).length === 1)
      import spark.implicits._
      val probe = spark.read.format("bcf").load(bcf)
        .filter(col("chrom") === "1" && col("pos").between(150, 350))
        .select("chrom", "pos").as[(String, Int)].collect().toSet
      assert(probe === Set(("1", 200), ("1", 300)))
    }
  }
}
