package graft

import java.io.OutputStream
import java.nio.file.{Files, Path}
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable

import graft.sources.v2.TabixIndex

/** Test-side BGZF writer + tabix-style CSI writer: builds REAL splittable
  * bgzipped multi-chromosome VCF fixtures (the reference's test files are
  * single-chrom) with exact per-record virtual offsets, so specs can
  * assert voff-bounded split ownership byte-for-byte.
  */
object BgzfFixture {

  /** The standard 28-byte BGZF EOF terminator block (empty payload). */
  val EofBlock: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  private def u16(os: OutputStream, v: Int): Unit = {
    os.write(v & 0xff); os.write((v >>> 8) & 0xff)
  }
  private def u32(os: OutputStream, v: Long): Unit =
    (0 until 4).foreach(b => os.write(((v >>> (8 * b)) & 0xff).toInt))

  /** One BGZF block (gzip member with the BC extra subfield); returns its
    * total compressed size.
    */
  private def writeBlock(os: OutputStream, payload: Array[Byte]): Int = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true) // raw deflate
    d.setInput(payload)
    d.finish()
    val cdata = new Array[Byte](payload.length + 128)
    var n = 0
    while (!d.finished()) n += d.deflate(cdata, n, cdata.length - n)
    d.end()
    val crc = new CRC32()
    crc.update(payload)
    val bsize = n + 26 // 12 hdr + 6 extra + cdata + 8 trailer
    require(bsize <= 65536, s"BGZF block too large: $bsize")
    os.write(Array(0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff).map(_.toByte))
    u16(os, 6) // XLEN
    os.write('B'); os.write('C'); u16(os, 2); u16(os, bsize - 1)
    os.write(cdata, 0, n)
    u32(os, crc.getValue)
    u32(os, payload.length.toLong)
    bsize
  }

  /** Writes `lines` as BGZF (`blockLines` lines per block) + the EOF
    * terminator. Returns (start voff of each line, end-of-data voff).
    */
  def writeBgzf(lines: IterableOnce[String], out: Path, blockLines: Int): (Seq[Long], Long) = {
    val os = new java.io.BufferedOutputStream(Files.newOutputStream(out), 1 << 16)
    try {
      var cOff = 0L
      val voffs = mutable.ArrayBuffer.empty[Long]
      lines.iterator.grouped(blockLines).foreach { group =>
        var u = 0
        group.foreach { l =>
          voffs += (cOff << 16) | u.toLong
          u += l.getBytes("UTF-8").length + 1
        }
        cOff += writeBlock(os, group.map(_ + "\n").mkString.getBytes("UTF-8"))
      }
      val endVoff = cOff << 16
      os.write(EofBlock)
      (voffs.toSeq, endVoff)
    } finally os.close()
  }

  /** Deepest-level bin of a 1-based point position under (minShift, depth). */
  def deepBin(pos1: Int, minShift: Int = 14, depth: Int = 5): Int =
    (((1L << (3 * depth)) - 1) / 7).toInt + ((pos1 - 1) >> minShift)

  /** Builds a [[TabixIndex.Index]] for position-sorted records
    * (chrom, pos1, startVoff), records of one chrom contiguous:
    * consecutive same-bin records become one chunk whose end is the next
    * record's voff (or `endVoff`).
    */
  def buildIndex(records: Seq[(String, Int, Long)], endVoff: Long): TabixIndex.Index = {
    val refs = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Int, mutable.ArrayBuffer[TabixIndex.Chunk]]]
    records.zipWithIndex.foreach { case ((chrom, pos, voff), i) =>
      val next = if (i + 1 < records.length) records(i + 1)._3 else endVoff
      val bins = refs.getOrElseUpdate(chrom, mutable.LinkedHashMap.empty)
      val bin = deepBin(pos)
      bins.get(bin) match {
        case Some(chunks) if chunks.last.end == voff =>
          chunks(chunks.length - 1) = TabixIndex.Chunk(chunks.last.beg, next)
        case _ =>
          bins.getOrElseUpdate(bin, mutable.ArrayBuffer.empty) +=
            TabixIndex.Chunk(voff, next)
      }
    }
    TabixIndex.Index(refs.map { case (name, bins) =>
      val chunks = bins.valuesIterator.flatten.toSeq
      TabixIndex.Ref(name, chunks.map(_.beg).min, chunks.map(_.end).max,
        Array.empty[Long], bins.view.mapValues(_.toArray).toMap)
    }.toSeq)
  }

  /** Re-encode an index as a tabix-style `.csi` (loffset 0, no linear
    * index). `minShift`/`depth` land in the header verbatim and
    * `withNames=false` drops the aux name block — knobs for negative
    * tests of [[TabixIndex.readCsi]]'s validation.
    */
  def writeCsi(idx: TabixIndex.Index, out: Path,
      minShift: Int = 14, depth: Int = 5, withNames: Boolean = true): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = u32(bos, v.toLong & 0xffffffffL)
    def i64(v: Long): Unit = (0 until 8).foreach(b => bos.write(((v >>> (8 * b)) & 0xff).toInt))
    bos.write('C'); bos.write('S'); bos.write('I'); bos.write(1)
    i32(minShift); i32(depth)
    val names =
      if (withNames) idx.refs.map(_.name + "\u0000").mkString.getBytes("UTF-8")
      else Array.empty[Byte]
    i32(28 + names.length) // l_aux
    i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0) // tabix aux header
    i32(names.length); bos.write(names)
    i32(idx.refs.length)
    idx.refs.foreach { r =>
      i32(r.bins.size)
      r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        i32(bin); i64(0L); i32(chunks.length)
        chunks.foreach { c => i64(c.beg); i64(c.end) }
      }
    }
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(out))
    try gz.write(bos.toByteArray) finally gz.close()
  }

  /** Tabix `.tbi` for a bgzipped file, written straight from the SAMtools
    * tabix spec (hts-specs "Tabix index file format") with none of the
    * engine's index code: magic `TBI\1`, the VCF preset header (format
    * 2, columns 1/2/0, meta `#`), NUL-joined names, then per reference
    * the binning index — each record filed under `reg2bin(beg, end)`,
    * consecutive records of one bin merged into one chunk ending at the
    * next record's voff — plus htslib's pseudo-bin 37450 (ref data span,
    * mapped/unmapped counts) and the 16 kb linear index (smallest voff
    * of the records overlapping each window; leading gaps take the
    * ref's first voff, inner gaps the previous window's, as htslib
    * fills them), closed by `n_no_coor` and BGZF-compressed.
    *
    * @param records (chrom, 0-based start, 0-based exclusive end, start
    *                voff) in file order, each chrom contiguous and sorted
    * @param endVoff voff just past the last record
    */
  def writeTbi(records: Seq[(String, Long, Long, Long)], endVoff: Long,
      out: Path): Unit = {
    def reg2bin(beg: Long, endEx: Long): Int = {
      val end = endEx - 1
      (if (beg >> 14 == end >> 14) ((1L << 15) - 1) / 7 + (beg >> 14)
      else if (beg >> 17 == end >> 17) ((1L << 12) - 1) / 7 + (beg >> 17)
      else if (beg >> 20 == end >> 20) ((1L << 9) - 1) / 7 + (beg >> 20)
      else if (beg >> 23 == end >> 23) ((1L << 6) - 1) / 7 + (beg >> 23)
      else if (beg >> 26 == end >> 26) ((1L << 3) - 1) / 7 + (beg >> 26)
      else 0L).toInt
    }
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = u32(bos, v.toLong & 0xffffffffL)
    def i64(v: Long): Unit = (0 until 8).foreach(b => bos.write(((v >>> (8 * b)) & 0xff).toInt))
    val ends = records.drop(1).map(_._4) :+ endVoff
    val byRef = records.zip(ends).groupBy(_._1._1)
    val names = records.map(_._1).distinct
    bos.write('T'); bos.write('B'); bos.write('I'); bos.write(1)
    i32(names.length)
    i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0) // VCF preset
    val nm = names.map(_ + "\u0000").mkString.getBytes("UTF-8")
    i32(nm.length); bos.write(nm)
    names.foreach { name =>
      val recs = byRef(name).sortBy(_._1._4)
      val bins = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
      val linear = mutable.ArrayBuffer.empty[Long]
      recs.foreach { case ((_, beg, endEx, voff), next) =>
        val chunks = bins.getOrElseUpdate(reg2bin(beg, endEx), mutable.ArrayBuffer.empty)
        if (chunks.nonEmpty && chunks.last._2 == voff) chunks(chunks.length - 1) = (chunks.last._1, next)
        else chunks += ((voff, next))
        for (w <- (beg >> 14).toInt to ((endEx - 1) >> 14).toInt) {
          while (linear.length <= w) linear += -1L
          if (linear(w) < 0) linear(w) = voff
        }
      }
      val refBeg = recs.head._1._4
      for (w <- linear.indices if linear(w) < 0)
        linear(w) = if (w == 0) refBeg else linear(w - 1)
      i32(bins.size + 1)
      bins.foreach { case (bin, chunks) =>
        i32(bin); i32(chunks.length)
        chunks.foreach { case (b, e) => i64(b); i64(e) }
      }
      i32(37450); i32(2)
      i64(refBeg); i64(recs.last._2)
      i64(recs.length.toLong); i64(0L)
      i32(linear.length); linear.foreach(i64)
    }
    i64(0L) // n_no_coor
    val os = Files.newOutputStream(out)
    try {
      bos.toByteArray.grouped(0xff00).foreach(writeBlock(os, _))
      os.write(EofBlock)
    } finally os.close()
  }

  /** A multi-chrom bgzipped VCF + sibling `.csi` + an uncompressed twin,
    * in a fresh temp dir: (bgzf path, plain path, record count).
    */
  def multiChromFixture(dir: Path, chroms: Seq[String], perChrom: Int,
      blockLines: Int = 10): (Path, Path, Int) = {
    val header = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2")
    val records = for {
      c <- chroms
      i <- 1 to perChrom
    } yield (c, i * 123 + 100,
      s"$c\t${i * 123 + 100}\trs${c}_$i\tA\tG\t5$i\tPASS\tDP=$i\tGT\t0/1\t1/1")
    val lines = header ++ records.map(_._3)
    val gz = dir.resolve("multi.vcf.gz")
    val (voffs, endVoff) = writeBgzf(lines, gz, blockLines)
    // record voffs = line voffs minus the header lines
    val recVoffs = voffs.drop(header.length)
    val idx = buildIndex(
      records.zip(recVoffs).map { case ((c, p, _), v) => (c, p, v) }, endVoff)
    writeCsi(idx, dir.resolve("multi.vcf.gz.csi"))
    val plain = dir.resolve("multi.vcf")
    Files.writeString(plain, lines.mkString("", "\n", "\n"))
    (gz, plain, records.length)
  }
}
