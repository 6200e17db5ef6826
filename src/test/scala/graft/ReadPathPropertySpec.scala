package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.TabixIndex

/** The `format("vcf"|"bcf")` read paths over generated wide records:
  * whatever the writers land — plain text, bgzipped + `.tbi`, BCF +
  * `.csi`, with a header or with per-shard synthesized headers, read
  * back in small splits — reads back row-identical to the frame that
  * was written; and damaged bytes (a truncated BGZF block, a bad BSIZE,
  * a truncated BCF record, an implausible `.csi`, a damaged `.bgen`)
  * either fail the read or surface as counted malformed lines, never as
  * different rows.
  */
class ReadPathPropertySpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = TempDirs.create("graft-readpath")
  private val samples = Seq("S1", "S2", "S3")
  private val cols = Seq("chrom", "pos", "id", "ref", "alt", "qual",
    "filter", "info", "format", "genotypes")

  private val headerText = (Seq(
    "##fileformat=VCFv4.2",
    "##FILTER=<ID=PASS,Description=\"ok\">",
    "##FILTER=<ID=q10,Description=\"low quality\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"allele freq\">",
    "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbsnp\">",
    "##INFO=<ID=END,Number=1,Type=Integer,Description=\"end\">",
    "##INFO=<ID=NOTE,Number=1,Type=String,Description=\"free text\">",
    "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"VEP consequences\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"allele depths\">",
    "##contig=<ID=1>", "##contig=<ID=2>", "##contig=<ID=X>",
    (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT") ++
      samples).mkString("\t")) :+ "").mkString("\n")

  private type Rec = (String, Int, String, String, String, String, String, String, String,
    Map[String, String])

  private val gt = Gen.oneOf("0/1", "1/1", "0|0", "1|2", "2|1", "0", "1", "./.", ".", ".|1")
  private def call(format: String): Gen[String] = format match {
    case "GT" => gt
    case "GT:DP" => for (g <- gt; d <- Gen.oneOf("7", "30", ".")) yield s"$g:$d"
    case _ => for (g <- gt; d <- Gen.oneOf("12", "."); ad <- Gen.oneOf("3,9", "0,20", "."))
      yield s"$g:$d:$ad"
  }

  private val record: Gen[Rec] = for {
    chrom <- Gen.oneOf("1", "2", "X")
    pos <- Gen.choose(1, 400000)
    id <- Gen.oneOf(Gen.const("."), Gen.choose(1, 99999).map(i => s"rs$i"))
    ref <- Gen.oneOf("A", "C", "AC", "TTG")
    alt <- Gen.oneOf("G", "G,T", "T,GA,CCC", "<DEL>", ".", "A[2:321682[",
      "]13:123456]A", "*", "C,<DEL>", "<CN2>")
    qual <- Gen.oneOf(".", "50", "12.5", "0")
    filter <- Gen.oneOf("PASS", "q10", ".")
    dp <- Gen.option(Gen.choose(0, 500).map(d => s"DP=$d"))
    af <- Gen.option(Gen.oneOf("AF=0.5", "AF=0.25,0.125", "AF=1.5"))
    db <- Gen.option(Gen.const("DB"))
    note <- Gen.option(Gen.choose(50, 400).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(cs => s"NOTE=${cs.mkString}")))
    // VEP CSQ: pipes, commas and & multi-consequences ride verbatim
    csq <- Gen.option(Gen.const("CSQ=C|missense_variant|MODERATE|BRCA2|1," +
      "G|stop_gained&splice_region_variant|HIGH|BRCA2|2"))
    format <- Gen.oneOf("GT", "GT:DP", "GT:DP:AD")
    calls <- Gen.listOfN(samples.length, call(format))
  } yield {
    val end = if (alt == "<DEL>") Some(s"END=${pos + 1000}") else None
    val info = Seq(dp, af, db, end, note, csq).flatten
    (chrom, pos, id, ref, alt, qual, filter, if (info.isEmpty) "." else info.mkString(";"),
      format, samples.zip(calls).toMap)
  }

  private def frame(rows: Seq[Rec]): DataFrame = {
    import spark.implicits._
    rows.toDF(cols: _*)
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  /** Sorted, indexable landings of `df`: plain VCF text, bgzipped VCF
    * with index siblings, BCF with `.csi` siblings, and the header-less
    * mode (per-shard synthesized header) of plain VCF and BCF. */
  private def land(df: DataFrame, name: String): Seq[(String, String)] = {
    val sortedDf = df.repartitionByRange(2, col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
    def write(fmt: String, suffix: String, opts: (String, String)*): (String, String) = {
      val dir = tmp.resolve(s"$name-$suffix").toString
      sortedDf.write.format(fmt).mode("overwrite").options(opts.toMap).save(dir)
      fmt -> dir
    }
    Seq(write("vcf", "vcf", "header" -> headerText),
      write("vcf", "vcfgz", "header" -> headerText, "bgzf" -> "true"),
      write("bcf", "bcf", "header" -> headerText),
      write("vcf", "vcf-synth"),
      write("bcf", "bcf-synth"))
  }

  test("format(\"vcf\"|\"bcf\") write → read round-trips generated wide records " +
      "row-identically, whole and in small splits") {
    var n = 0
    val gen = Gen.choose(20, 120).flatMap(Gen.listOfN(_, record))
    val prop = Prop.forAllNoShrink(gen) { rows =>
      n += 1
      val df = frame(rows)
      val want = sorted(df.collect())
      land(df, s"case$n").forall { case (fmt, dir) =>
        Seq(1L << 30, 2048L).forall { maxSplit =>
          val got = withMaxSplit(maxSplit) {
            sorted(spark.read.format(fmt).load(dir).select(cols.map(col): _*).collect())
          }
          assert(got === want, s"$fmt landing $dir at maxPartitionBytes=$maxSplit")
          true
        }
      }
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(6)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** (start, BSIZE) of every BGZF block in `bytes`, EOF block included. */
  private def blocks(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var at = 0
    while (at < bytes.length) {
      val bsize = ((bytes(at + 16) & 0xff) | ((bytes(at + 17) & 0xff) << 8)) + 1
      out += ((at, bsize))
      at += bsize
    }
    out.result()
  }

  /** `bytes` with the block at `start` claiming BSIZE `bsize`. */
  private def withBsize(bytes: Array[Byte], start: Int, bsize: Int): Array[Byte] = {
    val c = bytes.clone()
    c(start + 16) = ((bsize - 1) & 0xff).toByte
    c(start + 17) = (((bsize - 1) >> 8) & 0xff).toByte
    c
  }

  /** The read either fails (true), or returns the written rows less
    * exactly the lines its scan counted as malformed (false). */
  private def loudOrSame(fmt: String, path: String, want: Seq[String],
      select: Seq[String] = cols): Boolean = {
    Try {
      val df = spark.read.format(fmt).load(path).select(select.map(col): _*)
      (df, sorted(df.collect()))
    } match {
      case Failure(_) => true
      case Success((df, got)) =>
        val malformed = if (fmt == "vcf") ScanMetrics.malformedLines(df) else 0L
        assert(want.diff(got).length.toLong === malformed && got.diff(want).isEmpty,
          s"damaged $path read back different rows")
        false
    }
  }

  test("damaged bytes fail the read or count as malformed, never yield " +
      "different rows: a truncated BGZF block, a bad BSIZE, a truncated BCF record") {
    val rows = Gen.listOfN(300, record).apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(7L)).get
    val df = frame(rows)
    val want = sorted(df.collect())
    val landings = land(df, "damage")
    val bgzfDir = landings(1)._2
    val bcfDir = landings(2)._2
    def shard(dir: String, ext: String) =
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(ext)).maxBy(_.length).toPath
    val vcfShard = shard(bgzfDir, ".vcf.gz")
    val bcfShard = shard(bcfDir, ".bcf")
    val rnd = new scala.util.Random(11)
    val failed = Seq.newBuilder[Boolean]

    def damaged(src: java.nio.file.Path, keepIndex: Boolean)(
        f: Array[Byte] => Array[Byte]): String = {
      val dir = Files.createTempDirectory(tmp, "damaged")
      val out = dir.resolve(src.getFileName)
      Files.write(out, f(Files.readAllBytes(src)))
      val others = new java.io.File(src.getParent.toString).listFiles
        .filter(o => o.getName != src.getFileName.toString && !o.getName.startsWith("."))
      // the other shards ride along, so the damage hides among good data
      others.filterNot(o => o.getName.startsWith(src.getFileName.toString))
        .foreach(o => Files.copy(o.toPath, dir.resolve(o.getName)))
      if (keepIndex) others.filter(_.getName.startsWith(src.getFileName.toString))
        .foreach(o => Files.copy(o.toPath, dir.resolve(o.getName)))
      dir.toString
    }

    for (shardPath <- Seq(vcfShard, bcfShard); keepIndex <- Seq(true, false); _ <- 1 to 3) {
      val fmt = if (shardPath == vcfShard) "vcf" else "bcf"
      val data = blocks(Files.readAllBytes(shardPath)).dropRight(1) // not the EOF block
      val (start, bsize) = data(rnd.nextInt(data.length))
      // truncated block: the file ends strictly inside one block
      failed += loudOrSame(fmt,
        damaged(shardPath, keepIndex)(_.take(start + 1 + rnd.nextInt(bsize - 1))), want)
      // bad BSIZE: one block's BC subfield claims a different size
      val bad = bsize + (if (rnd.nextBoolean()) 1 + rnd.nextInt(40) else -1 - rnd.nextInt(40))
      failed += loudOrSame(fmt, damaged(shardPath, keepIndex)(withBsize(_, start, bad)), want)
    }
    // the last data block's BSIZE grown by the 28-byte EOF block it
    // then swallows: the terminator's zero ISIZE must not make the
    // reader skip the block and return without its rows
    for (shardPath <- Seq(vcfShard, bcfShard)) {
      val (start, bsize) = blocks(Files.readAllBytes(shardPath)).dropRight(1).last
      failed += loudOrSame(if (shardPath == vcfShard) "vcf" else "bcf",
        damaged(shardPath, keepIndex = true)(withBsize(_, start, bsize + 28)), want)
    }

    // truncated BCF record: the decompressed payload ends inside its
    // last record, re-compressed as valid BGZF (no index: its voffs
    // would no longer hold)
    val payload = {
      val in = new java.util.zip.GZIPInputStream(Files.newInputStream(bcfShard))
      try in.readAllBytes() finally in.close()
    }
    def u32(at: Int): Int = (payload(at) & 0xff) | ((payload(at + 1) & 0xff) << 8) |
      ((payload(at + 2) & 0xff) << 16) | ((payload(at + 3) & 0xff) << 24)
    var last = 9 + u32(5)
    while (last + 8 + u32(last) + u32(last + 4) < payload.length)
      last += 8 + u32(last) + u32(last + 4)
    for (_ <- 1 to 4) {
      val cut = last + 1 + rnd.nextInt(payload.length - last - 1)
      failed += loudOrSame("bcf", damaged(bcfShard, keepIndex = false) { _ =>
        val bos = new java.io.ByteArrayOutputStream()
        val os = new graft.sources.v2.BgzfOutputStream(bos)
        os.write(payload, 0, cut)
        os.close()
        bos.toByteArray
      }, want)
    }
    // every truncation and the swallowed terminator fail; a bad BSIZE
    // may read identically where the stream decoder ignores the BC
    // subfield (unindexed files)
    assert(failed.result().count(identity) >= 18, failed.result())
    // and the undamaged landings themselves read back exactly
    assert(!loudOrSame("vcf", bgzfDir, want) && !loudOrSame("bcf", bcfDir, want))
  }

  /** Byte offsets of every `n_bin` field and every chunk (beg, end)
    * pair in an uncompressed `.csi`. */
  private def csiLayout(b: Array[Byte]): (Seq[Int], Seq[Int]) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    bb.position(12)
    bb.position(16 + bb.getInt) // past l_aux + aux
    val nBins = Seq.newBuilder[Int]
    val chunks = Seq.newBuilder[Int]
    for (_ <- 0 until bb.getInt) {
      nBins += bb.position()
      for (_ <- 0 until bb.getInt) {
        bb.getInt; bb.getLong // bin, loffset
        for (_ <- 0 until bb.getInt) {
          chunks += bb.position(); bb.getLong; bb.getLong
        }
      }
    }
    (nBins.result(), chunks.result())
  }

  private def gunzip(f: java.nio.file.Path): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(f))
    try in.readAllBytes() finally in.close()
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  test("an implausible .csi (chunk voffs past EOF, a bin count larger " +
      "than the file) fails the read or reads the same rows, never fewer") {
    val rows = Gen.listOfN(300, record).apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(13L)).get
    val df = frame(rows)
    val want = sorted(df.collect())
    val wantRegion = sorted(df.filter(col("chrom") === "1" &&
      col("pos").between(1000, 200000)).collect())
    def put64(b: Array[Byte], at: Int, v: Long): Unit =
      (0 until 8).foreach(i => b(at + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def put32(b: Array[Byte], at: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(at + i) = ((v >>> (8 * i)) & 0xff).toByte)
    val rnd = new scala.util.Random(5)
    for ((fmt, ext, opts) <- Seq(("bcf", ".bcf", Map.empty[String, String]),
        ("vcf", ".vcf.gz", Map("bgzf" -> "true")))) {
      val srcDir = tmp.resolve(s"csi-src-$fmt").toString
      df.repartitionByRange(2, col("chrom"), col("pos"))
        .sortWithinPartitions(col("chrom"), col("pos"))
        .write.format(fmt).mode("overwrite").option("header", headerText)
        .options(opts).save(srcDir)
      val shards = new java.io.File(srcDir).listFiles.filter(_.getName.endsWith(ext))
      if (fmt == "vcf") shards.foreach { f =>
        // the text landing's .tbi becomes a .csi built by the re-read indexer
        val hp = new org.apache.hadoop.fs.Path(f.toURI)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Files.delete(java.nio.file.Paths.get(f.getPath + ".tbi"))
        TabixIndex.writeCsi(fs, TabixIndex.csiSibling(hp), TabixIndex.buildForBgzfVcf(fs, hp))
      }
      val src = shards.maxBy(_.length).toPath
      val csiPath = java.nio.file.Paths.get(src.toString + ".csi")
      val csi = gunzip(csiPath)
      val (nBins, chunks) = csiLayout(csi)
      assert(chunks.nonEmpty)
      val pastEof = (Files.size(src) + 4096L) << 16
      def damagedLanding(f: Array[Byte] => Unit): String = {
        val dir = Files.createTempDirectory(tmp, "csi")
        new java.io.File(srcDir).listFiles.filterNot(_.getName.startsWith("."))
          .foreach(o => Files.copy(o.toPath, dir.resolve(o.getName)))
        val c = csi.clone(); f(c)
        Files.write(dir.resolve(csiPath.getFileName), gzip(c))
        dir.toString
      }
      val landings = Seq(
        // one chunk's begin and end past EOF
        damagedLanding { c =>
          val at = chunks(rnd.nextInt(chunks.length))
          put64(c, at, pastEof); put64(c, at + 8, pastEof + 1)
        },
        // one chunk's begin past EOF, its end in range
        damagedLanding(c => put64(c, chunks(rnd.nextInt(chunks.length)), pastEof)),
        // every chunk past EOF
        damagedLanding(c => chunks.foreach { at =>
          put64(c, at, pastEof); put64(c, at + 8, pastEof + 1)
        }),
        // a bin count larger than the whole file
        damagedLanding(c => put32(c, nBins.head, csi.length * 8)))
      // an index that cannot describe its file degrades to the unpruned
      // scan (same rows) or fails; region probes read the same rows too
      for (dir <- landings; split <- Seq(1L << 30, 2048L)) withMaxSplit(split) {
        loudOrSame(fmt, dir, want)
        val probe = spark.read.format(fmt).load(dir).select(cols.map(col): _*)
          .filter(col("chrom") === "1" && col("pos").between(1000, 200000))
        assert(sorted(probe.collect()) === wantRegion, s"region probe of $fmt $dir")
      }
    }
  }

  test("a damaged .bgen (truncated zlib payload, variant block cut short) " +
      "fails the read or reads the same rows, never fewer") {
    import graft.sources.BgenReader
    import graft.sources.BgenReader.BgenEnc
    val bgenSamples = Seq("sA", "sB", "sC")
    // stored 8-bit probabilities of two of the three genotypes; NULL =
    // a missing sample
    val call: Gen[Array[Long]] = Gen.option(for {
      a <- Gen.choose(0, 255); b <- Gen.choose(0, 255 - a)
    } yield Array(a.toLong, b.toLong)).map(_.orNull)
    val calls = Gen.listOfN(200, Gen.listOfN(bgenSamples.length, call))
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(17L)).get
    val variants = calls.zipWithIndex.map { case (cs, i) =>
      BgenEnc(s"v$i", s"rs$i", if (i < 100) "1" else "2", 1000L + 7L * i,
        Seq("A", "G"), cs)
    }
    val header = BgenReader.encodeHeaderBlock(bgenSamples, variants.length, zlib = true)
    val blocks = variants.map(BgenReader.encodeVariantBlock(_, bgenSamples.length, 8,
      zlib = true))
    def landing(bytes: Array[Byte]): String = {
      val dir = Files.createTempDirectory(tmp, "bgen")
      Files.write(dir.resolve("part.bgen"), bytes)
      dir.toString
    }
    val full = Seq("chrom", "pos", "rsid", "ref", "alt", "sample_id", "gt", "GP")
    val sites = Seq("chrom", "pos", "rsid", "sample_id")
    val good = landing(header ++ blocks.flatten)
    def read(select: Seq[String]) =
      sorted(spark.read.format("bgen").load(good).select(select.map(col): _*).collect())
    val wantFull = read(full)
    val wantSites = read(sites)
    assert(wantFull.length === 600)
    // identifier bytes ahead of a block's C/D length fields
    def idsLen(v: BgenEnc): Int =
      6 + v.varId.length + v.rsid.length + v.chrom.length + 4 + 2 +
        v.alleles.map(4 + _.length).sum
    def le32(v: Int): Array[Byte] = Array.tabulate(4)(i => ((v >>> (8 * i)) & 0xff).toByte)
    val rnd = new scala.util.Random(23)
    val failed = Seq.newBuilder[Boolean]
    for (_ <- 1 to 4) {
      val k = rnd.nextInt(blocks.length)
      val b = blocks(k)
      val n = idsLen(variants(k))
      val z = b.drop(n + 8)
      // truncated zlib payload: C shrinks with the stream, so every
      // later block still frames; the deflate data itself is cut
      val cut = 1 + rnd.nextInt(z.length - 5)
      val shortZ = b.take(n) ++ le32(cut + 4) ++ b.slice(n + 4, n + 8) ++ z.take(cut)
      val dir = landing(header ++ blocks.take(k).flatten ++ shortZ ++
        blocks.drop(k + 1).flatten)
      failed += loudOrSame("bgen", dir, wantFull, full)
      loudOrSame("bgen", dir, wantSites, sites)
      // variant block cut short: the file ends inside block k
      val dir2 = landing(header ++ blocks.take(k).flatten ++ b.take(1 + rnd.nextInt(b.length - 1)))
      failed += loudOrSame("bgen", dir2, wantFull, full)
      failed += loudOrSame("bgen", dir2, wantSites, sites)
    }
    // every damaged payload the read decodes, and every cut file,
    // fails: the header still promises all 200 blocks
    assert(failed.result().forall(identity), failed.result())
  }
}
