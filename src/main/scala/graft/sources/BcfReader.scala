package graft.sources

import java.io.DataInputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** BCF2 decoding — the header and record decoders behind
  * `spark.read.format("bcf")` ([[v2.BcfDataSource]], the only BCF read
  * path), shared with [[BcfWriter]] and the DSv2 writer. Implements
  * the PUBLIC BCF2.2 encoding from the VCF 4.2 spec §6
  * (samtools/hts-specs VCFv4.2.pdf "BCF specification" — magic
  * `BCF\2\2`, header-text dictionaries, per-record typed values):
  *
  *  - Uncompressed payload (inside the BGZF container): magic,
  *    `l_text` uint32, the ordinary VCF header TEXT. The header IS
  *    the dictionary: FILTER/INFO/FORMAT IDs form the shared string
  *    table in order of first appearance (`PASS` implicitly first; an
  *    explicit `IDX=` attribute overrides — both honored), `##contig`
  *    lines form the contig table the record's int32 CHROM indexes.
  *  - Records: `l_shared`/`l_indiv` uint32 framing, then typed values:
  *    1-byte descriptor = type nibble (0 missing/flag, 1/2/3 int8/16/
  *    32, 5 float, 7 char) + count nibble (15 ⇒ the count follows as a
  *    typed scalar int). Int missing/END-OF-VECTOR sentinels are the
  *    two lowest values of each width (0x80/0x81, 0x8000/0x8001,
  *    0x80000000/0x80000001); float uses the reserved NaN payloads
  *    0x7F800001/0x7F800002. GT is the spec's `(allele+1)<<1 | phased`
  *    int vector, 0 = missing allele, EOV = ploidy padding.
  *
  * Decoding REBUILDS the VCF text field per column — a `.bcf` and its
  * `.vcf` twin read ROW-IDENTICAL through the same downstream chain
  * (spec-pinned over a hand-encoded fixture covering every typed
  * class), landing in the `format("vcf")` wide schema.
  */
object BcfReader {

  /** One decoded record in VCF-text form (pre-normalization). */
  final case class BcfRecord(
      chrom_raw: String, pos: Int, id: String, ref: String, alt: String,
      qual: String, filter: String, info: String, format: String,
      genotypes: Map[String, String])

  /** Header text + the two decode dictionaries + sample panel. */
  final case class BcfHeader(
      text: String,
      contigs: IndexedSeq[String],
      dict: IndexedSeq[String],
      samples: IndexedSeq[String])

  // ---- header -----------------------------------------------------------

  private[graft] def readHeader(in: DataInputStream): BcfHeader = {
    val magic = new Array[Byte](5)
    in.readFully(magic)
    require(magic(0) == 'B' && magic(1) == 'C' && magic(2) == 'F' &&
      magic(3) == 2,
      s"not a BCF2 stream (magic ${magic.map(b => f"$b%02x").mkString(" ")})")
    val lText = Integer.reverseBytes(in.readInt()) // little-endian uint32
    val raw = new Array[Byte](lText)
    in.readFully(raw)
    var end = raw.length
    while (end > 0 && raw(end - 1) == 0) end -= 1 // NUL-terminated
    decodeHeaderText(new String(raw, 0, end, StandardCharsets.UTF_8))
  }

  private[graft] def decodeHeaderText(text: String): BcfHeader = {
    def attr(line: String, key: String): Option[String] =
      s"""[<,]$key=("[^"]*"|[^,>]*)""".r.findFirstMatchIn(line)
        .map(_.group(1).stripPrefix("\"").stripSuffix("\""))
    val contigs = ArrayBuffer.empty[(Int, String)]
    val dictEntries = ArrayBuffer.empty[(Int, String)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    // PASS is implicitly the first dictionary entry (spec §6.2.1);
    // an explicit ##FILTER=<ID=PASS,IDX=0> just confirms it
    dictEntries += (0 -> "PASS"); seen += "PASS"
    var nextIdx = 1
    var nextContig = 0
    var samples = IndexedSeq.empty[String]
    text.split("\n").foreach { line =>
      if (line.startsWith("##contig=<")) {
        attr(line, "ID").foreach { id =>
          val idx = attr(line, "IDX").map(_.toInt).getOrElse(nextContig)
          contigs += (idx -> id)
          nextContig = math.max(nextContig, idx) + 1
        }
      } else if (line.startsWith("##FILTER=<") ||
          line.startsWith("##INFO=<") || line.startsWith("##FORMAT=<")) {
        attr(line, "ID").foreach { id =>
          if (!seen.contains(id)) {
            val idx = attr(line, "IDX").map(_.toInt).getOrElse(nextIdx)
            dictEntries += (idx -> id)
            seen += id
            nextIdx = math.max(nextIdx, idx) + 1
          }
        }
      } else if (line.startsWith("#CHROM")) {
        samples = line.split("\t").drop(9).toIndexedSeq
      }
    }
    def toTable(entries: Seq[(Int, String)]): IndexedSeq[String] = {
      val size = if (entries.isEmpty) 0 else entries.map(_._1).max + 1
      val arr = Array.fill(size)("")
      entries.foreach { case (i, s) => arr(i) = s }
      arr.toIndexedSeq
    }
    BcfHeader(text, toTable(contigs.toSeq), toTable(dictEntries.toSeq),
      samples)
  }

  // ---- typed-value decoding (spec §6.3) ----------------------------------

  /** Descriptor byte → (type, count); count nibble 15 ⇒ typed int follows. */
  private def descr(b: ByteBuffer): (Int, Int) = {
    val d = b.get() & 0xff
    val t = d & 0x0f
    val n0 = d >>> 4
    val n = if (n0 == 15) typedScalarInt(b) else n0
    (t, n)
  }

  private def typedScalarInt(b: ByteBuffer): Int = {
    val (t, n) = descr(b)
    require(n == 1 && (t == 1 || t == 2 || t == 3),
      s"typed count must be a scalar int, got type $t count $n")
    intOf(t, b)
  }

  private def intOf(t: Int, b: ByteBuffer): Int = t match {
    case 1 => b.get().toInt
    case 2 => b.getShort().toInt
    case 3 => b.getInt()
    case _ => throw new IllegalArgumentException(s"not an int type: $t")
  }

  private def intMissing(t: Int): Int = t match {
    case 1 => -128
    case 2 => -32768
    case _ => Int.MinValue
  }
  private def intEov(t: Int): Int = intMissing(t) + 1

  private val FloatMissingBits = 0x7f800001
  private val FloatEovBits = 0x7f800002

  private def renderFloatBits(bits: Int): String = {
    val f = java.lang.Float.intBitsToFloat(bits)
    if (f == math.rint(f) && math.abs(f) < 1e15)
      f.toLong.toString
    else f.toString
  }

  /** Typed STRING (char vector); count 0 / type 0 → missing `.`. */
  private def typedString(b: ByteBuffer): String = {
    val (t, n) = descr(b)
    if (n == 0 || t == 0) "."
    else {
      require(t == 7, s"expected char vector, got type $t")
      val bytes = new Array[Byte](n)
      b.get(bytes)
      new String(bytes, StandardCharsets.UTF_8)
    }
  }

  /** Render one already-read-descriptor vector as VCF text: ints and
    * floats joined by `,` with trailing END-OF-VECTOR padding dropped
    * and missing entries as `.`; char vectors verbatim; empty → `.`.
    */
  private def renderVector(t: Int, n: Int, b: ByteBuffer): String = {
    if (n == 0 || t == 0) return "."
    if (t == 7) {
      val bytes = new Array[Byte](n)
      b.get(bytes)
      return new String(bytes, StandardCharsets.UTF_8)
    }
    val parts = new ArrayBuffer[String](n)
    var trail = 0
    var i = 0
    while (i < n) {
      if (t == 5) {
        val bits = b.getInt()
        if (bits == FloatEovBits) trail += 1
        else {
          trail = 0
          parts += (if (bits == FloatMissingBits) "."
            else renderFloatBits(bits))
        }
      } else {
        val v = intOf(t, b)
        if (v == intEov(t)) trail += 1
        else {
          trail = 0
          parts += (if (v == intMissing(t)) "." else v.toString)
        }
      }
      i += 1
    }
    if (parts.isEmpty) "." else parts.mkString(",")
  }

  /** GT int vector for one sample → `j/k`-style call text. */
  private def renderGt(t: Int, n: Int, b: ByteBuffer): String = {
    val sb = new java.lang.StringBuilder(4)
    var i = 0
    var emitted = 0
    while (i < n) {
      val v = intOf(t, b)
      if (v != intEov(t)) {
        val allele = (v >>> 1) - 1
        val phased = (v & 1) == 1
        if (emitted > 0) sb.append(if (phased) '|' else '/')
        sb.append(if (allele < 0) "." else allele.toString)
        emitted += 1
      }
      i += 1
    }
    if (emitted == 0) "." else sb.toString
  }

  // ---- record decode ------------------------------------------------------

  /** `withGenotypes = false` skips the ENTIRE indiv block (FORMAT +
    * per-sample values — the bulk of a wide cohort record): the DSv2
    * scan passes it when neither `format` nor `genotypes` is in the
    * required schema, so a sites-shaped query over a 2500-sample BCF
    * decodes only the shared block. The skipped fields land as the
    * sites-only shape (`.` format, empty map).
    */
  private[graft] def decodeRecord(
      b: ByteBuffer, lShared: Int, hdr: BcfHeader,
      withGenotypes: Boolean): BcfRecord = {
    val rid = b.getInt()
    val pos0 = b.getInt()
    b.getInt() // rlen — span info, not part of the text row
    val qualBits = b.getInt()
    val nAlleleInfo = b.getInt()
    val nInfo = nAlleleInfo & 0xffff
    val nAllele = nAlleleInfo >>> 16
    val nFmtSample = b.getInt()
    val nSample = nFmtSample & 0xffffff
    val nFmt = nFmtSample >>> 24
    require(nSample == hdr.samples.length,
      s"record carries $nSample samples, header declares ${hdr.samples.length}")

    val id = typedString(b)
    val alleles = (0 until nAllele).map(_ => typedString(b))
    val ref = if (alleles.nonEmpty) alleles.head else "."
    val alt = if (alleles.length > 1) alleles.tail.mkString(",") else "."

    val (ft, fn) = descr(b)
    val filter =
      if (fn == 0 || ft == 0) "."
      else (0 until fn).map(_ => hdr.dict(intOf(ft, b))).mkString(";")

    val infoParts = (0 until nInfo).map { _ =>
      val key = hdr.dict(typedScalarInt(b))
      val (t, n) = descr(b)
      if (t == 0 || n == 0) key // flag
      else key + "=" + renderVector(t, n, b)
    }
    val info = if (infoParts.isEmpty) "." else infoParts.mkString(";")

    if (!withGenotypes)
      return BcfRecord(hdr.contigs(rid), pos0 + 1, id, ref, alt,
        if (qualBits == FloatMissingBits) "." else renderFloatBits(qualBits),
        filter, info, ".", Map.empty)

    // indiv block starts exactly at lShared
    b.position(lShared)
    val fmtKeys = ArrayBuffer.empty[String]
    val perSample = Array.fill(nSample)(new ArrayBuffer[String](nFmt))
    var f = 0
    while (f < nFmt) {
      val key = hdr.dict(typedScalarInt(b))
      fmtKeys += key
      val (t, n) = descr(b) // n = elements PER SAMPLE
      var s = 0
      while (s < nSample) {
        perSample(s) += (if (key == "GT") renderGt(t, n, b)
          else renderVector(t, n, b))
        s += 1
      }
      f += 1
    }
    val format = if (fmtKeys.isEmpty) "." else fmtKeys.mkString(":")
    val genotypes = hdr.samples.zipWithIndex.map { case (sid, i) =>
      sid -> (if (perSample(i).isEmpty) "." else perSample(i).mkString(":"))
    }.toMap

    BcfRecord(
      chrom_raw = hdr.contigs(rid),
      pos = pos0 + 1,
      id = id,
      ref = ref,
      alt = alt,
      qual = if (qualBits == FloatMissingBits) "."
        else renderFloatBits(qualBits),
      filter = filter,
      info = info,
      format = format,
      genotypes = genotypes)
  }
}
