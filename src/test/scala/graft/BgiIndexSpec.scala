package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BgenReader, BgiIndex, SqliteLite}
import graft.sources.BgenReader.BgenEnc

/** `.bgi` sqlite index: the minimal sqlite reader against a REAL
  * sqlite-made `WITHOUT ROWID` bgenix-schema fixture (interior index
  * pages included), the writer's multi-page rowid round trip, the
  * `bgenix -index` equivalent over a written BGEN, planning through
  * the index (identical rows, stale index refused), and DSv2
  * block-level pruning from the index alone.
  */
class BgiIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val tmp = TempDirs.create("graft-bgi")

  private def fixturePath(name: String): String = {
    val url = getClass.getResource("/" + name)
    require(url != null, s"missing test resource $name")
    val f = tmp.resolve(name)
    if (!java.nio.file.Files.exists(f))
      java.nio.file.Files.copy(
        getClass.getResourceAsStream("/" + name), f)
    f.toString
  }

  test("SqliteLite reads a REAL sqlite-made WITHOUT ROWID bgenix " +
      "Variant table (interior index pages, PK-first column order) " +
      "row-for-row against the generator's expected list") {
    val bgi = fixturePath("bgenix-fixture.bgi")
    val expJson = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/bgenix-fixture-expected.json"))
      .mkString
    // minimal JSON parse: [[chrom,pos,rsid,nAll,a1,a2,start,size],…]
    val exp = expJson.stripPrefix("[[").stripSuffix("]]")
      .split("\\], \\[").map { row =>
        val f = row.split(", ")
        (f(0).replaceAll("\"", ""), f(1).toLong,
          f(2).replaceAll("\"", ""), f(3).toInt,
          f(4).replaceAll("\"", ""), f(5).replaceAll("\"", ""),
          f(6).toLong, f(7).toLong)
      }.toSeq
    val got = BgiIndex.read(spark, bgi)
      .map(v => (v.chrom, v.pos, v.rsid, v.nAlleles, v.allele1,
        v.allele2, v.fileStart, v.sizeBytes))
    assert(got.length === 3000)
    assert(got === exp)
    // the Metadata staleness gate fires on a size mismatch
    val e = intercept[IllegalArgumentException] {
      BgiIndex.read(spark, bgi, bgenSize = 12345L)
    }
    assert(e.getMessage.contains("STALE"))
  }

  test("SqliteLite writer: a multi-page rowid table (interior table " +
      "pages) round-trips through the reader value-for-value, NULLs " +
      "and blobs included") {
    val db = tmp.resolve("multi.db").toString
    val rows = (1 to 5000).map { i =>
      Seq[Any](s"chr${i % 22}", i.toLong * 977L,
        if (i % 13 == 0) null else s"rs$i",
        Array[Byte]((i % 256).toByte, ((i * 7) % 256).toByte))
    }
    SqliteLite.writeTable(spark, db, "T",
      "CREATE TABLE T (c TEXT, p INT, r TEXT, b BLOB)", rows.iterator)
    val back = SqliteLite.open(spark, db).scan("T")
    assert(back.length === 5000)
    rows.zip(back).foreach { case (want, got) =>
      assert(got(0) === want(0))
      assert(got(1).asInstanceOf[java.lang.Long].longValue()
        === want(1).asInstanceOf[Long])
      assert(got(2) === want(2))
      assert(java.util.Arrays.equals(
        got(3).asInstanceOf[Array[Byte]],
        want(3).asInstanceOf[Array[Byte]]))
    }
  }

  private val samples = Seq("sA", "sB", "sC")
  private def writeBgenFixture(name: String): String = {
    val vs = (0 until 40).map { i =>
      BgenEnc(s"v$i", s"rs$i", (1 + i % 4).toString,
        1000L + i * 50L, Seq("A", "G"),
        Seq(Array(255L, 0L), Array(0L, 255L), Array(51L, 102L)))
    }
    val f = tmp.resolve(name)
    val out = java.nio.file.Files.newOutputStream(f)
    try BgenReader.writeBgen(out, samples, vs.iterator, bBits = 8,
      zlib = true)
    finally out.close()
    f.toString
  }

  test("indexBgen writes the bgenix-equivalent .bgi in one metadata " +
      "pass; format(\"bgen\") plans THROUGH it row-identically; a stale " +
      "index (file rewritten) refuses loudly") {
    val bgen = writeBgenFixture("indexed.bgen")
    val noIdx = spark.read.format("bgen").load(bgen)
      .collect().map(_.toString).sorted
    val bgi = BgiIndex.indexBgen(spark, bgen)
    assert(bgi === bgen + ".bgi")
    // index agrees with the walk
    val walk = BgiIndex.fromBgen(spark, bgen)
    val idx = BgiIndex.read(spark, bgi)
    assert(idx === walk)
    val withIdx = spark.read.format("bgen").load(bgen)
      .collect().map(_.toString).sorted
    assert(withIdx === noIdx)
    // stale: append a byte to the bgen, size check must fire
    val f2 = tmp.resolve("stale.bgen")
    java.nio.file.Files.copy(java.nio.file.Paths.get(bgen), f2)
    BgiIndex.indexBgen(spark, f2.toString)
    java.nio.file.Files.write(f2, Array[Byte](0),
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("bgen").load(f2.toString).collect()
    }
    assert(e.getMessage.contains("STALE"))
  }

  test("DSv2 planning through .bgi: a pushed chrom filter prunes " +
      "non-matching blocks AT THE INDEX (fewer planned partitions " +
      "than blocks), result row-identical to the no-index read") {
    val bgen = writeBgenFixture("pruned.bgen")
    val noIdx = spark.read.format("bgen").load(bgen)
      .filter(col("chrom") === "2")
      .select("pos", "sample_id", "GP")
      .as[(Int, String, Option[String])].collect().toSet
    BgiIndex.indexBgen(spark, bgen)
    val df = spark.read.format("bgen").load(bgen)
      .filter(col("chrom") === "2")
    val got = df.select("pos", "sample_id", "GP")
      .as[(Int, String, Option[String])].collect().toSet
    assert(got === noIdx)
    assert(got.map(_._1).nonEmpty)
    // chrom '2' owns 10 of 40 interleaved blocks → non-contiguous
    // runs; every planned partition holds ONLY matching blocks, so
    // row count through a one-partition-per-run plan stays exact
    val parts = df.rdd.getNumPartitions
    assert(parts === 10,
      s"expected 10 single-block partitions after index pruning " +
        s"(interleaved chroms), got $parts")
  }
}
