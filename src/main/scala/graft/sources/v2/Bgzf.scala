package graft.sources.v2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.FSDataInputStream

/** Shared block machinery for the two block-aware BGZF readers:
  * decompresses one ≤64 KiB BGZF block (a standalone gzip member whose
  * `BC` extra subfield carries its compressed size — public BGZF spec,
  * SAMv1.pdf §4.1) at a time starting from a compressed block offset,
  * and exposes the VIRTUAL OFFSET — `(compressed block start) << 16 |
  * (offset in decompressed block)`, the tabix/CSI coordinate — of the
  * read cursor at all times.
  *
  * This is what makes BGZF content SPLITTABLE without predicates: the
  * planner hands each partition a `[begVoff, endVoffEx)` record range
  * whose bounds are known record starts (taken from the sibling
  * index), and the reader emits exactly the units that START inside
  * the range — ownership is exact, so nothing is lost or read twice,
  * the same guarantee Hadoop text splits get from line-boundary
  * alignment. The plain `GZIPInputStream` used by streaming paths
  * cannot do this: it buffers ahead across gzip members, so the
  * decompressed cursor's virtual offset is unrecoverable.
  *
  * Reads are on-demand: a reader whose range ends mid-file pulls at
  * most one unit past its end voff and never touches the rest of the
  * file. Subclasses define the unit: [[BgzfLineReader]] consumes
  * `\n`-terminated text lines (VCF), [[BgzfByteReader]] caller-framed
  * byte runs (BCF records).
  */
sealed abstract class BgzfBlockStream(in: FSDataInputStream,
    startBlock: Long, fileLen: Long) {

  private var blockStart = startBlock // compressed offset of the loaded block
  private var nextBlock = startBlock // compressed offset of the next block to load
  // decompressed current block; one byte past the 64 KiB maximum, so an
  // oversized payload inflates far enough to be caught, never truncated
  protected val buf = new Array[Byte](65537)
  protected var bufLen = 0
  protected var bufPos = 0
  protected var eof = false
  private val inflater = new java.util.zip.Inflater(true) // raw deflate
  private val cbuf = new Array[Byte](65536) // compressed payload of one block
  private val hdr = new Array[Byte](12)
  private val trailer = new Array[Byte](8)
  private val crc = new java.util.zip.CRC32()

  /** Loads the next non-empty block; false at end of file (the 28-byte
    * BGZF EOF terminator decompresses to zero bytes and is skipped).
    */
  protected def loadBlock(): Boolean = {
    while (nextBlock < fileLen) {
      in.seek(nextBlock)
      // fixed gzip header: ID1 ID2 CM FLG MTIME(4) XFL OS XLEN(2)
      in.readFully(hdr)
      require((hdr(0) & 0xff) == 0x1f && (hdr(1) & 0xff) == 0x8b &&
        hdr(2) == 8 && (hdr(3) & 4) != 0,
        s"not a BGZF block at compressed offset $nextBlock")
      val xlen = (hdr(10) & 0xff) | ((hdr(11) & 0xff) << 8)
      val extra = new Array[Byte](xlen)
      in.readFully(extra)
      // BC subfield (SI 66,67, SLEN 2) carries total block size - 1
      var bsize = -1
      var i = 0
      while (i + 4 <= xlen && bsize < 0) {
        val slen = (extra(i + 2) & 0xff) | ((extra(i + 3) & 0xff) << 8)
        if ((extra(i) & 0xff) == 66 && (extra(i + 1) & 0xff) == 67 && slen == 2)
          bsize = ((extra(i + 4) & 0xff) | ((extra(i + 5) & 0xff) << 8)) + 1
        i += 4 + slen
      }
      require(bsize > 0, s"BGZF BC subfield missing at compressed offset $nextBlock")
      val cdataLen = bsize - xlen - 20 // 12 hdr + xlen extra + cdata + CRC32(4) + ISIZE(4)
      require(cdataLen >= 0,
        s"corrupt BGZF block at compressed offset $nextBlock: BSIZE $bsize")
      in.readFully(cbuf, 0, cdataLen)
      in.readFully(trailer) // CRC32 + ISIZE
      def le32(at: Int): Int = (trailer(at) & 0xff) | ((trailer(at + 1) & 0xff) << 8) |
        ((trailer(at + 2) & 0xff) << 16) | ((trailer(at + 3) & 0xff) << 24)
      val isize = le32(4)
      require(isize >= 0 && isize <= 65536,
        s"corrupt BGZF block at compressed offset $nextBlock: ISIZE $isize")
      blockStart = nextBlock
      nextBlock += bsize
      inflater.reset()
      inflater.setInput(cbuf, 0, cdataLen)
      var off = 0
      while (!inflater.finished()) {
        val w = inflater.inflate(buf, off, buf.length - off)
        // a corrupt block whose deflate stream stalls (0 bytes out, not
        // finished) must fail loudly — the alternative is an infinite
        // loop pinning an executor
        require(w > 0 || inflater.finished(),
          s"corrupt BGZF block at compressed offset $blockStart: " +
            s"deflate stalled at $off bytes")
        off += w
      }
      // a wrong BSIZE/ISIZE or damaged payload must not surface as
      // different (or silently missing) bytes: every block, the empty
      // EOF block included, inflates to exactly ISIZE bytes whose CRC32
      // matches its trailer, or the read fails
      crc.reset()
      crc.update(buf, 0, off)
      require(off == isize && crc.getValue.toInt == le32(0),
        s"corrupt BGZF block at compressed offset $blockStart: " +
          s"inflated $off of $isize declared bytes or CRC32 mismatch")
      if (isize > 0) {
        bufLen = isize
        bufPos = 0
        return true
      }
    }
    eof = true
    false
  }

  /** Virtual offset of the next unread byte (= the start voff of the
    * next unit when the cursor sits on a unit boundary); -1 at EOF.
    * Advances past exhausted blocks so the reported block is the one
    * actually holding the byte.
    */
  def nextVoff(): Long = {
    if (bufPos >= bufLen && !eof && !loadBlock()) return -1L
    if (eof) -1L else (blockStart << 16) | bufPos.toLong
  }

  /** Discards `n` decompressed bytes (the partial-block prefix before a
    * partition's first unit).
    */
  def skip(n: Int): Unit = {
    var left = n
    while (left > 0) {
      if (bufPos >= bufLen && !loadBlock()) return
      val s = math.min(left, bufLen - bufPos)
      bufPos += s
      left -= s
    }
  }

  def close(): Unit = {
    inflater.end()
    in.close()
  }
}

/** Block-aware BGZF LINE reader — the text unit ([[BgzfBlockStream]]):
  * lines are split by scanning the block buffer directly, no per-byte
  * stream reads on the hot path.
  */
final class BgzfLineReader(in: FSDataInputStream, startBlock: Long,
    fileLen: Long) extends BgzfBlockStream(in, startBlock, fileLen) {

  private val lineBuf = new java.io.ByteArrayOutputStream(256)

  /** Next `\n`-terminated line (terminator consumed and dropped, a
    * trailing `\r` trimmed); null at EOF.
    */
  def readLine(): String = {
    lineBuf.reset()
    var sawBytes = false
    var done = false
    while (!done) {
      if (bufPos >= bufLen) {
        if (!loadBlock()) done = true // final line may be unterminated
      } else {
        sawBytes = true
        var i = bufPos
        while (i < bufLen && buf(i) != '\n') i += 1
        lineBuf.write(buf, bufPos, i - bufPos)
        if (i < bufLen) { bufPos = i + 1; done = true }
        else bufPos = bufLen
      }
    }
    if (!sawBytes) null
    else {
      val b = lineBuf.toByteArray
      val len = if (b.nonEmpty && b(b.length - 1) == '\r') b.length - 1 else b.length
      new String(b, 0, len, StandardCharsets.UTF_8)
    }
  }
}

/** Block-aware BGZF BYTE reader — the binary unit for record-framed
  * formats (BCF): the unit of consumption is a caller-framed byte run
  * (`readFully`) instead of a `\n` line, same exact-voff split
  * guarantee ([[BgzfBlockStream]]).
  */
final class BgzfByteReader(in: FSDataInputStream, startBlock: Long,
    fileLen: Long) extends BgzfBlockStream(in, startBlock, fileLen) {

  /** Fills `dst[off, off+len)` across block boundaries; false when EOF
    * lands exactly on the run's first byte (a clean end-of-records),
    * throws when EOF truncates the run mid-way (a corrupt frame must
    * fail loudly, never yield a short record).
    */
  def readFully(dst: Array[Byte], off: Int, len: Int): Boolean = {
    var o = off
    var left = len
    while (left > 0) {
      if (bufPos >= bufLen && !loadBlock()) {
        if (left == len) return false
        throw new java.io.EOFException(
          s"BGZF stream truncated: needed $len bytes, got ${len - left}")
      }
      val s = math.min(left, bufLen - bufPos)
      System.arraycopy(buf, bufPos, dst, o, s)
      bufPos += s; o += s; left -= s
    }
    true
  }
}
