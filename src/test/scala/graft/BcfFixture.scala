package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import graft.sources.v2.BgzfOutputStream

/** Hand-ENCODED BCF2.2 fixture shared by [[BcfReaderSpec]] (decode
  * parity vs the `.vcf` twin) and [[BcfWriterSpec]] (the encoder must
  * reproduce these exact bytes): every byte follows the public VCF 4.2
  * spec §6 / hts-specs BCF encoding — no htslib in this environment,
  * so the twin `.vcf` text is the ground truth and the binary is built
  * field-by-field here.
  *
  * Typed classes engineered in: int8/int16/int32 INFO widths, float
  * INFO + float FORMAT with the reserved-NaN missing, the count≥15
  * typed-count escape (a 16-element vector), FLAG info, char-string
  * info, the shared FILTER/INFO/FORMAT dictionary (FORMAT DP reuses
  * INFO DP's index), multi-FILTER index vectors, phased/unphased/
  * haploid/missing GT with END-OF-VECTOR ploidy padding, missing
  * QUAL/ID/INFO/FILTER, a records-without-FORMAT row, integral-float
  * rendering (GQ 3.0 → "3"), and two contigs.
  */
object BcfFixture {

  // ---- tiny LE byte writer -------------------------------------------------

  final class W {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): W = { out.write(v & 0xff); this }
    def i16(v: Int): W = { u8(v); u8(v >> 8) }
    def i32(v: Int): W = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    def f32bits(bits: Int): W = i32(bits)
    def f32(v: Float): W = i32(java.lang.Float.floatToRawIntBits(v))
    def bytes(b: Array[Byte]): W = { out.write(b); this }
    def result: Array[Byte] = out.toByteArray
  }

  val FloatMissing = 0x7f800001

  /** descriptor byte (+ typed count when n ≥ 15) */
  def descr(w: W, t: Int, n: Int): W = {
    if (n < 15) w.u8((n << 4) | t)
    else { w.u8((15 << 4) | t); typedInt(w, n) }
  }
  /** typed scalar int, width by range */
  def typedInt(w: W, v: Int): W = {
    if (v >= -120 && v <= 127) { w.u8(0x11); w.u8(v) }
    else if (v >= -32000 && v <= 32767) { w.u8(0x12); w.i16(v) }
    else { w.u8(0x13); w.i32(v) }
  }
  def typedStr(w: W, s: String): W = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    descr(w, 7, b.length); w.bytes(b)
  }
  /** int8 vector with given per-slot values (use 0x81 for EOV) —
    * INFO/FILTER form: the descriptor count is the TOTAL length
    */
  def i8vec(w: W, vs: Int*): W = {
    descr(w, 1, vs.length); vs.foreach(w.u8); w
  }

  /** FORMAT int8 vector: the descriptor count is PER SAMPLE (`n`),
    * followed by n_sample × n bytes
    */
  def fmtI8(w: W, n: Int, vs: Int*): W = {
    descr(w, 1, n); vs.foreach(w.u8); w
  }

  def record(
      rid: Int, pos1: Int, rlen: Int, qualBits: Int, id: String,
      alleles: Seq[String], nInfo: Int, nSample: Int, nFmt: Int)(
      sharedTail: W => Unit)(indiv: W => Unit): Array[Byte] = {
    val sh = new W
    sh.i32(rid).i32(pos1 - 1).i32(rlen).f32bits(qualBits)
    sh.i32((alleles.length << 16) | nInfo)
    sh.i32((nFmt << 24) | nSample)
    typedStr(sh, id)
    alleles.foreach(a => typedStr(sh, a))
    sharedTail(sh)
    val iv = new W
    indiv(iv)
    val frame = new W
    frame.i32(sh.result.length).i32(iv.result.length)
    frame.bytes(sh.result).bytes(iv.result)
    frame.result
  }

  // ---- the twin pair -------------------------------------------------------

  val headerText: String = Seq(
    "##fileformat=VCFv4.2",
    "##FILTER=<ID=PASS,Description=\"ok\">",                       // idx 0
    "##FILTER=<ID=q10,Description=\"low\">",                       // idx 1
    "##FILTER=<ID=s50,Description=\"half\">",                      // idx 2
    "##INFO=<ID=NS,Number=1,Type=Integer,Description=\"n\">",      // idx 3
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">",      // idx 4
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"af\">",       // idx 5
    "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"db\">",        // idx 6
    "##INFO=<ID=BIGV,Number=.,Type=Integer,Description=\"v\">",    // idx 7
    "##INFO=<ID=NOTE,Number=1,Type=String,Description=\"s\">",     // idx 8
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",    // idx 9
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"d\">",    // shared: idx 4
    "##FORMAT=<ID=AD,Number=2,Type=Integer,Description=\"ad\">",   // idx 10
    "##FORMAT=<ID=GQ,Number=1,Type=Float,Description=\"gq\">",     // idx 11
    "##contig=<ID=1>",                                             // rid 0
    "##contig=<ID=chr2>",                                          // rid 1
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3"
  ).mkString("\n") + "\n"

  val twinVcfLines: Seq[String] = headerText.split("\n").toSeq ++ Seq(
    "1\t100\trs1\tA\tT\t29.5\tPASS\tNS=3;DP=14;AF=0.5;DB\tGT:DP:AD" +
      "\t0|1:12:3,9\t1/1:14:0,14\t0/0:11:11,0",
    "chr2\t5000\t.\tG\tA,C\t.\tq10;s50" +
      "\tDP=300;NS=100000;BIGV=1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16;NOTE=hi" +
      "\tGT:GQ\t1/2:17.25\t2|2:.\t./.:3",
    "1\t200\t.\tACG\tA\t0\tPASS\tNS=2\tGT\t1\t./.\t0",
    "1\t300\t.\tC\t<DEL>\t12.5\t.\t.\t.\t.\t.\t.")

  /** The four hand-encoded record frames, in file order. */
  lazy val recordBytes: Seq[Array[Byte]] = Seq(
    // R1: every common class — PASS filter, int8 INFO, float INFO,
    // FLAG, GT/DP/AD formats, phased + unphased + hom-ref GT
    record(0, 100, 1, java.lang.Float.floatToRawIntBits(29.5f),
      "rs1", Seq("A", "T"), nInfo = 4, nSample = 3, nFmt = 3) { sh =>
      i8vec(sh, 0)                      // FILTER [PASS]
      typedInt(sh, 3); typedInt(sh, 3)  // NS=3 (key idx 3, int8)
      typedInt(sh, 4); typedInt(sh, 14) // DP=14
      typedInt(sh, 5); descr(sh, 5, 1).f32(0.5f) // AF=0.5
      typedInt(sh, 6); sh.u8(0x00)      // DB flag (type MISSING)
    } { iv =>
      typedInt(iv, 9)                   // GT
      fmtI8(iv, 2, 0x02, 0x05, 0x04, 0x04, 0x02, 0x02) // 0|1  1/1  0/0
      typedInt(iv, 4)                   // DP (the SHARED dict idx)
      fmtI8(iv, 1, 12, 14, 11)
      typedInt(iv, 10)                  // AD, 2 per sample
      fmtI8(iv, 2, 3, 9, 0, 14, 11, 0)
    },

    // R2: contig 2, multiallelic, multi-FILTER, int16/int32 widths,
    // the count-escape 16-vector, char-string INFO, float FORMAT with
    // missing + integral rendering, missing QUAL/ID, 1/2 2|2 ./.
    record(1, 5000, 1, FloatMissing, ".", Seq("G", "A", "C"),
      nInfo = 4, nSample = 3, nFmt = 2) { sh =>
      i8vec(sh, 1, 2)                    // FILTER q10;s50
      typedInt(sh, 4); typedInt(sh, 300)     // DP=300 (int16)
      typedInt(sh, 3); typedInt(sh, 100000)  // NS=100000 (int32)
      typedInt(sh, 7)                    // BIGV: 16 int8s (count escape)
      i8vec(sh, (1 to 16): _*)
      typedInt(sh, 8); typedStr(sh, "hi") // NOTE=hi
    } { iv =>
      typedInt(iv, 9)                    // GT
      fmtI8(iv, 2, 0x04, 0x06, 0x06, 0x07, 0x00, 0x00) // 1/2  2|2  ./.
      typedInt(iv, 11)                   // GQ float
      descr(iv, 5, 1).f32(17.25f).f32bits(FloatMissing).f32(3.0f)
    },

    // R3: haploid calls next to a diploid missing — END-OF-VECTOR
    // ploidy padding; qual 0.0 renders "0"; multi-base REF
    record(0, 200, 3, java.lang.Float.floatToRawIntBits(0.0f),
      ".", Seq("ACG", "A"), nInfo = 1, nSample = 3, nFmt = 1) { sh =>
      i8vec(sh, 0)                       // FILTER [PASS]
      typedInt(sh, 3); typedInt(sh, 2)   // NS=2
    } { iv =>
      typedInt(iv, 9)
      fmtI8(iv, 2, 0x04, 0x81, 0x00, 0x00, 0x02, 0x81) // 1 | ./. | 0
    },

    // R4: no INFO, no FORMAT (sites-only shape), '.' FILTER, symbolic ALT
    record(0, 300, 1, java.lang.Float.floatToRawIntBits(12.5f),
      ".", Seq("C", "<DEL>"), nInfo = 0, nSample = 3, nFmt = 0) { sh =>
      sh.u8(0x00)                        // FILTER '.'
    } { _ => () })

  /** The whole uncompressed BCF payload: magic + header + records. */
  lazy val payloadBytes: Array[Byte] = {
    val payload = new W
    payload.bytes("BCF".getBytes(StandardCharsets.US_ASCII))
      .u8(2).u8(2) // version 2.2
    val txt = headerText.getBytes(StandardCharsets.UTF_8)
    payload.i32(txt.length + 1).bytes(txt).u8(0) // NUL-terminated
    recordBytes.foreach(payload.bytes)
    payload.result
  }

  def buildBcf(dir: java.nio.file.Path): String = {
    val f = dir.resolve("fixture.bcf")
    val os = new BgzfOutputStream(
      java.nio.file.Files.newOutputStream(f))
    os.write(payloadBytes)
    os.close()
    f.toString
  }

  /** The `format("bcf")` scan's planned partitions for `path` with
    * `filters` pushed, at the session's current maxPartitionBytes. */
  def planned(path: String,
      filters: org.apache.spark.sql.sources.Filter*): Seq[graft.sources.v2.BcfPartition] = {
    val b = new graft.sources.v2.BcfScanBuilder(Seq(path))
    b.pushFilters(filters.toArray)
    b.build().toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[graft.sources.v2.BcfPartition])
  }
}
