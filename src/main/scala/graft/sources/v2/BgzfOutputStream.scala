package graft.sources.v2

import java.io.OutputStream
import java.util.zip.{CRC32, Deflater}

/** BGZF (blocked-gzip) OUTPUT stream — the write twin of
  * [[BgzfLineReader]]: lays bytes down as a series of ≤64 KiB
  * standalone gzip members whose `BC` extra subfield carries the
  * compressed block size (public BGZF spec, SAMv1.pdf §4.1), closed by
  * the fixed 28-byte EOF member. Output is a VALID multi-member gzip
  * stream (any gunzip reads it), and [[BgzfOutputStream.voff]] exposes
  * the virtual offset of every byte as it is written, so the
  * `format("vcf"|"bcf")` writers ([[GraftWrite]]) record the shard's
  * `.tbi`/`.csi` during the emit.
  */
object BgzfOutputStream {
  /** Max uncompressed payload per block — bgzip's own value (keeps the
    * compressed member safely under 64 KiB, the BSIZE field's ceiling).
    */
  val BlockPayload = 0xff00

  /** The fixed 28-byte BGZF end-of-file member (SAMv1.pdf §4.1.2). */
  val EofMarker: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)
}

final class BgzfOutputStream(out: OutputStream) extends OutputStream {
  import BgzfOutputStream._

  private val buf = new Array[Byte](BlockPayload)
  private var n = 0
  private var cBytes = 0L // compressed bytes flushed (block starts)
  private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
  private val crc = new CRC32()
  private val cbuf = new Array[Byte](BlockPayload + 1024) // worst-case incompressible

  /** Current VIRTUAL OFFSET — (compressed offset of the open block <<
    * 16) | in-block byte offset, the BGZF/tabix coordinate. Captured
    * before/after each record write, this is what lets an indexing
    * writer record chunk voffs DURING the emit instead of re-reading
    * the shard.
    */
  def voff: Long = (cBytes << 16) | n.toLong

  override def write(b: Int): Unit = {
    buf(n) = b.toByte
    n += 1
    if (n == BlockPayload) flushBlock()
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    var rem = len
    while (rem > 0) {
      val take = math.min(rem, BlockPayload - n)
      System.arraycopy(b, o, buf, n, take)
      n += take; o += take; rem -= take
      if (n == BlockPayload) flushBlock()
    }
  }

  private def u16(a: Array[Byte], at: Int, v: Int): Unit = {
    a(at) = (v & 0xff).toByte; a(at + 1) = ((v >> 8) & 0xff).toByte
  }
  private def u32(a: Array[Byte], at: Int, v: Long): Unit =
    (0 until 4).foreach(i => a(at + i) = ((v >> (8 * i)) & 0xff).toByte)

  private def flushBlock(): Unit = {
    if (n == 0) return
    deflater.reset()
    deflater.setInput(buf, 0, n)
    deflater.finish()
    var clen = 0
    while (!deflater.finished()) {
      val w = deflater.deflate(cbuf, clen, cbuf.length - clen)
      clen += w
      require(clen < cbuf.length || deflater.finished(),
        "BGZF block payload did not fit the worst-case buffer")
    }
    crc.reset()
    crc.update(buf, 0, n)
    val bsize = 18 + clen + 8 // header(12) + BC extra(6) + cdata + trailer(8)
    require(bsize <= 0x10000, s"BGZF block overflow: $bsize bytes compressed")
    val hdr = new Array[Byte](18)
    hdr(0) = 0x1f.toByte; hdr(1) = 0x8b.toByte; hdr(2) = 8; hdr(3) = 4 // FEXTRA
    // MTIME(4)=0, XFL=0 at 8; OS=0xff at 9
    hdr(9) = 0xff.toByte
    u16(hdr, 10, 6) // XLEN
    hdr(12) = 'B'; hdr(13) = 'C'
    u16(hdr, 14, 2) // subfield length
    u16(hdr, 16, bsize - 1) // BSIZE - 1
    out.write(hdr)
    out.write(cbuf, 0, clen)
    val tr = new Array[Byte](8)
    u32(tr, 0, crc.getValue)
    u32(tr, 4, n.toLong)
    out.write(tr)
    cBytes += bsize
    n = 0
  }

  private var finished = false

  /** Flush the open block and write the EOF member. The guard keeps a
    * finish()+close() sequence from emitting two EOF members. */
  def finish(): Unit = if (!finished) {
    flushBlock()
    out.write(EofMarker)
    finished = true
  }

  override def close(): Unit =
    try finish() finally { deflater.end(); out.close() }
}
