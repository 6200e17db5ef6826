package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded, tabix-indexed bgzipped VCFs with the shapes of the two
  * public files the pandasVCF reference tests against, generated once
  * per JVM by [[BgzfFixture]] (BGZF blocks + a spec-built `.tbi`):
  *
  *  - [[chr22]]: a 1000 Genomes phase 3 chr22 slice — 10,000 records
  *    from 22:16050075 over ~1.15 Mb (>1000 16 kb linear-index
  *    windows), 2504 phased diploid samples (~10 KB per line, so each
  *    BGZF block holds six records and the file spans ~1,700 blocks),
  *    the phase 3 `##INFO`/`##FORMAT` declarations (AC/AF Number=A,
  *    CIEND Number=2, IMPRECISE Flag, FORMAT GT only), SNPs, indels,
  *    multiallelic sites and, at phase 3's ~0.1% rate, END-spanned
  *    0.5–10 kb `<DEL>`s filed under coarser bins.
  *  - [[titin]]: a small second file on chrom `2` around TTN
  *    (2:179.39–179.70 Mb), four unphased samples with GT:AD:DP:GQ.
  */
object ChromFixture {

  private lazy val dir = TempDirs.create("graft-chrom-fixtures")

  val Chr22Start = 16050075
  val Chr22Records = 10000
  val Chr22Samples: IndexedSeq[String] =
    (0 until 2504).map(i => f"${if (i % 2 == 0) "HG" else "NA"}${i + 100}%05d")

  lazy val chr22: String = {
    val header = Seq(
      "##fileformat=VCFv4.1",
      "##FILTER=<ID=PASS,Description=\"All filters passed\">",
      "##fileDate=20150218",
      "##reference=ftp://ftp.1000genomes.ebi.ac.uk//vol1/ftp/technical/reference/phase2_reference_assembly_sequence/hs37d5.fa.gz",
      "##source=1000GenomesPhase3Pipeline",
      "##contig=<ID=22,assembly=b37,length=51304566>",
      "##ALT=<ID=DEL,Description=\"Deletion\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##INFO=<ID=CIEND,Number=2,Type=Integer,Description=\"Confidence interval around END for imprecise variants\">",
      "##INFO=<ID=CIPOS,Number=2,Type=Integer,Description=\"Confidence interval around POS for imprecise variants\">",
      "##INFO=<ID=END,Number=1,Type=Integer,Description=\"End coordinate of this variant\">",
      "##INFO=<ID=IMPRECISE,Number=0,Type=Flag,Description=\"Imprecise structural variation\">",
      "##INFO=<ID=SVLEN,Number=.,Type=Integer,Description=\"SV length\">",
      "##INFO=<ID=SVTYPE,Number=1,Type=String,Description=\"Type of structural variant\">",
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Total number of alternate alleles in called genotypes\">",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Estimated allele frequency in the range (0,1)\">",
      "##INFO=<ID=NS,Number=1,Type=Integer,Description=\"Number of samples with data\">",
      "##INFO=<ID=AN,Number=1,Type=Integer,Description=\"Total number of alleles in called genotypes\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total read depth; only low coverage data were counted towards the DP, exome data were not used\">",
      "##INFO=<ID=AA,Number=1,Type=String,Description=\"Ancestral Allele\">",
      "##INFO=<ID=VT,Number=.,Type=String,Description=\"indicates what type of variant the line represents\">",
      "##INFO=<ID=MULTI_ALLELIC,Number=0,Type=Flag,Description=\"indicates whether a site is multi-allelic\">",
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT") ++
        Chr22Samples).mkString("\t"))
    val rnd = new scala.util.Random(22)
    val bases = "ACGT"
    val an = 2 * Chr22Samples.length
    var pos = Chr22Start - 1
    val records = Iterator.tabulate(Chr22Records) { i =>
      pos += (if (i == 0) 1 else 1 + rnd.nextInt(230))
      val kind = if (i == 0) 0 else rnd.nextInt(1000)
      val ref0 = bases.charAt(rnd.nextInt(4)).toString
      val alt0 = bases.filterNot(_ == ref0.head).charAt(rnd.nextInt(3)).toString
      val (ref, alts, extra, endEx) =
        if (kind < 930) (ref0, Seq(alt0), "VT=SNP", pos.toLong)
        else if (kind < 975) {
          val len = 1 + rnd.nextInt(6)
          if (rnd.nextBoolean())
            (ref0 + Seq.fill(len)(bases.charAt(rnd.nextInt(4))).mkString, Seq(ref0),
              "VT=INDEL", (pos + len).toLong)
          else (ref0, Seq(ref0 + Seq.fill(len)(bases.charAt(rnd.nextInt(4))).mkString),
            "VT=INDEL", pos.toLong)
        } else if (kind < 999)
          (ref0, Seq(alt0, bases.filterNot(c => c == ref0.head || c == alt0.head)
            .charAt(rnd.nextInt(2)).toString), "MULTI_ALLELIC;VT=SNP", pos.toLong)
        else {
          val len = 500 + rnd.nextInt(9500)
          (ref0, Seq("<DEL>"),
            s"CIEND=-${rnd.nextInt(300)},${rnd.nextInt(300)};CIPOS=-${rnd.nextInt(300)}," +
              s"${rnd.nextInt(300)};END=${pos + len};" +
              (if (rnd.nextBoolean()) "IMPRECISE;" else "") +
              s"SVLEN=-$len;SVTYPE=DEL;VT=SV",
            (pos + len).toLong)
        }
      // mostly rare alleles, as in a population panel
      val af = math.pow(rnd.nextDouble(), 6) * 0.5
      val ac = new Array[Int](alts.length)
      val gts = new java.lang.StringBuilder(4 * Chr22Samples.length)
      Chr22Samples.indices.foreach { _ =>
        val a = if (rnd.nextDouble() < af) 1 + rnd.nextInt(alts.length) else 0
        val b = if (rnd.nextDouble() < af) 1 + rnd.nextInt(alts.length) else 0
        if (a > 0) ac(a - 1) += 1
        if (b > 0) ac(b - 1) += 1
        gts.append('\t').append(a).append('|').append(b)
      }
      val info = s"AC=${ac.mkString(",")};AF=${ac.map(c => f"${c.toDouble / an}%.6g").mkString(",")};" +
        s"AN=$an;NS=${Chr22Samples.length};DP=${5000 + rnd.nextInt(20000)};AA=.|||;$extra"
      val line = s"22\t$pos\t${if (rnd.nextInt(5) == 0) "." else s"rs${100000 + i}"}\t$ref\t" +
        s"${alts.mkString(",")}\t100\tPASS\t$info\tGT$gts"
      ("22", pos - 1L, math.max(endEx, pos.toLong), line)
    }
    writeIndexed(dir.resolve("ALL.chr22.phase3_shaped.genotypes.vcf.gz"), header, records,
      blockLines = 6)
  }

  lazy val titin: String = {
    val samples = Seq("SWGR_A", "SWGR_B", "SWGR_C", "SWGR_D")
    val header = Seq(
      "##fileformat=VCFv4.2",
      "##contig=<ID=2,length=243199373>",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allele depths\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
      "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">",
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT") ++
        samples).mkString("\t"))
    val rnd = new scala.util.Random(2)
    var pos = 179390716
    val records = Iterator.tabulate(400) { i =>
      pos += 1 + rnd.nextInt(1500)
      val calls = samples.map { _ =>
        val gt = Seq("0/0", "0/1", "1/1", "./.")(rnd.nextInt(4))
        val dp = 10 + rnd.nextInt(40)
        s"$gt:${dp - dp / 3},${dp / 3}:$dp:${rnd.nextInt(99)}"
      }
      val line = s"2\t$pos\t.\tC\tT\t${30 + rnd.nextInt(60)}\tPASS\tDP=${40 + rnd.nextInt(200)}" +
        s"\tGT:AD:DP:GQ\t${calls.mkString("\t")}"
      ("2", pos - 1L, pos.toLong, line)
    }
    writeIndexed(dir.resolve("SWGR_titin_shaped.vcf.gz"), header, records, blockLines = 40)
  }

  /** BGZF `header ++ records` + a sibling `.tbi`; records carry their
    * tabix interval (chrom, 0-based start, exclusive end) and line. */
  private def writeIndexed(out: Path, header: Seq[String],
      records: Iterator[(String, Long, Long, String)], blockLines: Int): String = {
    val coords = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val lines = header.iterator ++ records.map { case (c, b, e, l) => coords += ((c, b, e)); l }
    val (voffs, endVoff) = BgzfFixture.writeBgzf(lines, out, blockLines)
    BgzfFixture.writeTbi(coords.toSeq.zip(voffs.drop(header.length)).map {
      case ((c, b, e), v) => (c, b, e, v)
    }, endVoff, out.resolveSibling(out.getFileName.toString + ".tbi"))
    out.toString
  }
}

/** The independent read baseline for pruning/splitting specs: a VCF's
  * raw lines through [[graft.sources.VcfReader.parseLines]] — Spark's
  * text source and Hadoop's gzip codec, none of the `format("vcf")`
  * scan, BGZF block or index code.
  */
object RawVcfText {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.col
  import graft.sources.VcfReader

  def read(spark: SparkSession, path: String): DataFrame = {
    val meta = VcfReader.metadata(spark, path)
    VcfReader.parseLines(
      spark.read.text(path).filter(!col("value").startsWith("#")),
      meta.columns, meta.samples)
  }
}
