package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types._

/** BGEN v1.2 reader (the UK Biobank / TOPMed imputed-genotype format
  * — spec: www.well.ox.ac.uk/~gav/bgen_format, Band & Marchini): the
  * r15 verdict's Missing #2 — the engine's dosage family
  * (q214/215/216/222/227/228) is its biobank posture, but real
  * imputed releases ship layout-2 BGEN, not VCF-with-DS. This reader
  * decodes the bit-packed genotype-probability blocks into the SAME
  * long `ann`-shaped frame the GP dosage ladder consumes
  * ([[graft.operators.VariantQc.dosageAf]] /
  * `polygenicScore` — the `GP` rung), so a user points the existing
  * operators at a `.bgen` and nothing downstream changes.
  *
  * Supported surface (loud failures outside it): layout 2;
  * compression none (0) or zlib (1); UNPHASED and PHASED blocks;
  * per-sample ploidy 1..63 honored (the chrX mixed-1/2 case — a
  * sample's MISSING bit yields dotted gt with NULL GP, never a
  * fabricated probability); any allele count K (the K(K+1)/2
  * `Number=G` triangle — K > 2 rows carry `multiallele = 1`, exactly
  * the annotate convention, so the biallelic-only dosage operators
  * skip them by their own rule). Phased haplotype blocks (the UKB
  * haplotype-release shape) decode to the real `a|b` call when every
  * haplotype is certain and to the exact phased→genotype GP
  * convolution for diploids — see [[decodeGenotypes]]. Only layout 1
  * remains refused.
  *
  * Probabilities are stored as B-bit integers b with the LAST
  * genotype's value implicit ((2^B−1) − Σb). The decode emits each
  * probability as an EXACT fixed-6-decimal string
  * ⌊b·10⁶/(2^B−1)⌋ — integer arithmetic an oracle replays digit for
  * digit, and the exact shape [[graft.operators.VariantQc]]'s
  * `gpDosageMicro` parses losslessly (decimal(20,6) × 10⁶).
  *
  * Reading is `spark.read.format("bgen")` ([[v2.BgenDataSource]],
  * splittable by variant-block offsets); this object holds the header,
  * block and genotype decoders it runs, the [[schema]], and the
  * encoder behind fixtures and the DSv2 bgen writer.
  */
object BgenReader {

  final case class BgenHeader(
      firstVariantOffset: Long, mVariants: Long, nSamples: Long,
      layout: Int, compression: Int, samples: Seq[String])

  // ---- little-endian primitives over InputStream ----
  private def u8(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException("bgen: unexpected EOF")
    b
  }
  private def u16(in: InputStream): Int = u8(in) | (u8(in) << 8)
  private def u32(in: InputStream): Long =
    (u8(in).toLong) | (u8(in).toLong << 8) | (u8(in).toLong << 16) |
      (u8(in).toLong << 24)
  private def bytes(in: InputStream, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(a, off, n - off)
      if (r < 0) throw new EOFException("bgen: unexpected EOF")
      off += r
    }
    a
  }
  private def str(in: InputStream, n: Int): String =
    new String(bytes(in, n), StandardCharsets.UTF_8)

  /** Parse the header (+ sample block when flagged). Stream must be
    * positioned at byte 0; afterwards it sits at the sample block end
    * (NOT necessarily the first variant — use the returned offset). */
  def readHeader(in: InputStream): BgenHeader = {
    val offset = u32(in) // bytes from END of this field to variant 1
    val lh = u32(in)
    val m = u32(in)
    val n = u32(in)
    val magic = str(in, 4)
    require(magic == "bgen" || magic == "\u0000\u0000\u0000\u0000",
      s"not a bgen file (magic '$magic')")
    // free data area
    val free = lh - 20
    require(free >= 0, s"bgen: header length $lh < 20")
    if (free > 0) bytes(in, free.toInt)
    val flags = u32(in)
    val compression = (flags & 0x3L).toInt
    val layout = ((flags >> 2) & 0xfL).toInt
    val hasSamples = ((flags >> 31) & 0x1L) == 1L
    require(layout == 2,
      s"bgen: layout $layout unsupported (v1.2 layout 2 only)")
    require(compression <= 1,
      s"bgen: compression $compression unsupported (none/zlib only)")
    val samples =
      if (hasSamples) {
        u32(in) // sample block length
        val ns = u32(in)
        require(ns == n, s"bgen: sample block count $ns != header $n")
        (0L until n).map(_ => str(in, u16(in)))
      } else (0L until n).map(i => s"sample_$i")
    BgenHeader(offset + 4L, m, n, layout, compression, samples)
  }

  /** One decoded variant block (identifiers + the raw genotype
    * payload, decompressed). */
  final case class BgenVariant(varId: String, rsid: String,
      chrom: String, pos: Long, alleles: Seq[String],
      genoData: Array[Byte])

  private def inflate(data: Array[Byte], outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new Array[Byte](outLen)
    var off = 0
    while (off < outLen && !inf.finished()) {
      val n = inf.inflate(out, off, outLen - off)
      require(n > 0 || !inf.needsInput,
        "bgen: truncated zlib genotype block")
      off += n
    }
    inf.end()
    require(off == outLen,
      s"bgen: zlib block inflated to $off bytes, declared $outLen")
    out
  }

  /** Read ONLY a variant block's identifying fields (everything ahead
    * of the genotype payload) — the pushdown hook: a reader can
    * inspect (chrom, pos) and then [[readGenoPayload]] with
    * `skip = true` for non-matching blocks, never paying the
    * inflate/bit-unpack. */
  def readVariantIds(in: InputStream): BgenVariant = {
    val varId = str(in, u16(in))
    val rsid = str(in, u16(in))
    val chrom = str(in, u16(in))
    val pos = u32(in)
    val k = u16(in)
    val alleles = (0 until k).map(_ => str(in, u32(in).toInt))
    BgenVariant(varId, rsid, chrom, pos, alleles, null)
  }

  /** Consume the genotype payload following [[readVariantIds]]:
    * `skip = true` seeks past it (offset walks, pruned columns,
    * filtered-out blocks); otherwise returns the DECOMPRESSED bytes. */
  def readGenoPayload(in: InputStream, compression: Int,
      skip: Boolean): Array[Byte] = {
    val c = u32(in).toInt
    if (compression == 0) {
      if (skip) { skipFully(in, c.toLong); null } else bytes(in, c)
    } else {
      val d = u32(in).toInt
      if (skip) { skipFully(in, (c - 4).toLong); null }
      else inflate(bytes(in, c - 4), d)
    }
  }

  /** [[readVariantIds]] + [[readGenoPayload]] in one call. */
  def readVariantBlock(in: InputStream, compression: Int,
      skipGeno: Boolean): BgenVariant = {
    val ids = readVariantIds(in)
    ids.copy(genoData = readGenoPayload(in, compression, skipGeno))
  }

  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s <= 0) { u8(in); left -= 1 } else left -= s
    }
  }

  /** The per-sample decode of one variant's layout-2 payload: `gp` =
    * the exact fixed-6-decimal comma GP string (null = missing sample
    * or a shape GP cannot express — see [[decodeGenotypes]]), `gt` /
    * `gt1` / `gt2` = the annotate-convention call columns (unphased
    * data has no hard calls — dotted gt, null tokens — while PHASED
    * data with certain haplotypes emits the real `a|b`). */
  final case class DecodedCalls(gp: Array[String], gt: Array[String],
      gt1: Array[String], gt2: Array[String])

  /** C(k+p−1, p) — the unphased genotype count for k alleles at
    * ploidy p (the multiset count; diploid gives the K(K+1)/2
    * Number=G triangle). Incremental binomial product, exact at every
    * step, loudly bounded. */
  private[graft] def nGenotypes(k: Int, p: Int): Int = {
    var num = 1L
    var i = 1
    while (i <= p) {
      num = num * (k - 1 + i) / i
      require(num <= 1000000L,
        s"bgen: genotype count overflows (K=$k, ploidy=$p)")
      i += 1
    }
    num.toInt
  }

  private def microStr(sb: java.lang.StringBuilder, micro: Long): Unit = {
    sb.append(micro / 1000000L).append('.')
    val frac = (micro % 1000000L).toString
    var z = 6 - frac.length
    while (z > 0) { sb.append('0'); z -= 1 }
    sb.append(frac)
  }

  /** Decode one variant's genotype payload — layout 2, unphased OR
    * phased, per-sample ploidy honored (the chrX mixed-1/2 case and
    * general 1..63).
    *
    * Per-sample output contract:
    *  - UNPHASED ploidy 2 (the UKB imputed shape): GP = the K(K+1)/2
    *    colex-ordered genotype probabilities as exact floor-micro
    *    strings; `gt` = `./.` (BGEN carries probabilities, not hard
    *    calls), tokens null — byte-identical to the historical
    *    diploid-only decode.
    *  - UNPHASED other ploidy: GP = the C(K+p−1, p) stored+implicit
    *    vector in spec (colex) order — Number=G at that ploidy;
    *    `gt` = p dots joined by `/`.
    *  - PHASED (haplotype probabilities, p blocks of K−1 stored + 1
    *    implicit each): when EVERY haplotype is certain (one allele
    *    carries the full 2^B−1 mass — B=1 phased files, the UKB
    *    haplotype release shape, are always certain), `gt` is the
    *    real phased call `a|b…` with gt1/gt2 tokens (diploid);
    *    otherwise p dots joined by `|`. GP: haploid = the K allele
    *    probabilities; diploid = the EXACT convolution onto the
    *    unphased colex triangle (⌊(h₁ₐh₂ᵦ + h₁ᵦh₂ₐ)·10⁶ / (2^B−1)²⌋
    *    — what qctool's phased→genotype conversion computes, so the
    *    GP dosage ladder works unchanged on phased input); p > 2 =
    *    null (no Number=G convention exists — call columns still
    *    decode).
    *  - MISSING bit: null GP + dotted gt, never fabricated mass.
    */
  def decodeGenotypes(geno: Array[Byte], kAlleles: Int,
      nSamples: Long): DecodedCalls = {
    var p = 0
    def gu8(): Int = { val v = geno(p) & 0xff; p += 1; v }
    def gu16(): Int = gu8() | (gu8() << 8)
    def gu32(): Long = gu8().toLong | (gu8().toLong << 8) |
      (gu8().toLong << 16) | (gu8().toLong << 24)
    val n = gu32()
    require(n == nSamples,
      s"bgen: genotype block samples $n != header $nSamples")
    val k = gu16()
    require(k == kAlleles,
      s"bgen: genotype block alleles $k != variant $kAlleles")
    val pMin = gu8(); val pMax = gu8()
    require(pMin >= 1 && pMax <= 63 && pMin <= pMax,
      s"bgen: ploidy range [$pMin, $pMax] outside [1, 63]")
    val ploidy = new Array[Int](n.toInt)
    val miss = new Array[Boolean](n.toInt)
    var i = 0
    while (i < n) {
      val pb = gu8()
      ploidy(i) = pb & 0x3f
      require(ploidy(i) >= pMin && ploidy(i) <= pMax,
        s"bgen: sample $i ploidy ${ploidy(i)} outside [$pMin, $pMax]")
      miss(i) = (pb & 0x80) != 0
      i += 1
    }
    val phased = gu8()
    require(phased == 0 || phased == 1, s"bgen: bad phased flag $phased")
    val bBits = gu8()
    require(bBits >= 1 && bBits <= 32, s"bgen: B = $bBits out of range")
    val denom = (1L << bBits) - 1L
    // bit cursor over the packed little-endian probability stream
    var bitPos = 0L
    val base = p
    def readBits(): Long = {
      var v = 0L
      var got = 0
      while (got < bBits) {
        val byteI = base + (bitPos >> 3).toInt
        val bitI = (bitPos & 7L).toInt
        val take = math.min(8 - bitI, bBits - got)
        val chunk = ((geno(byteI) & 0xff) >> bitI) & ((1 << take) - 1)
        v |= chunk.toLong << got
        got += take
        bitPos += take
      }
      v
    }
    val gp = new Array[String](n.toInt)
    val gt = new Array[String](n.toInt)
    val gt1 = new Array[String](n.toInt)
    val gt2 = new Array[String](n.toInt)
    def dotted(pl: Int, sep: Char): String = {
      val sb = new java.lang.StringBuilder(pl * 2)
      var j = 0
      while (j < pl) { if (j > 0) sb.append(sep); sb.append('.'); j += 1 }
      sb.toString
    }
    i = 0
    while (i < n) {
      val pl = ploidy(i)
      if (phased == 0) {
        val nGts = nGenotypes(k, pl)
        val bs = new Array[Long](nGts)
        var sum = 0L
        var j = 0
        while (j < nGts - 1) {
          bs(j) = readBits(); sum += bs(j); j += 1
        }
        bs(nGts - 1) = denom - sum
        gt(i) = dotted(pl, '/')
        if (!miss(i)) {
          require(bs(nGts - 1) >= 0L,
            s"bgen: sample $i probabilities exceed 2^B-1")
          val sb = new java.lang.StringBuilder(nGts * 9)
          j = 0
          while (j < nGts) {
            if (j > 0) sb.append(',')
            microStr(sb, bs(j) * 1000000L / denom) // exact floor
            j += 1
          }
          gp(i) = sb.toString
        }
      } else {
        // phased: pl haplotype blocks, K-1 stored + 1 implicit each
        val haps = Array.ofDim[Long](pl, k)
        var certain = !miss(i)
        val alleleOf = new Array[Int](pl)
        var h = 0
        while (h < pl) {
          var sum = 0L
          var j = 0
          while (j < k - 1) {
            haps(h)(j) = readBits(); sum += haps(h)(j); j += 1
          }
          haps(h)(k - 1) = denom - sum
          require(miss(i) || haps(h)(k - 1) >= 0L,
            s"bgen: sample $i hap $h probabilities exceed 2^B-1")
          var cj = -1
          j = 0
          while (j < k) { if (haps(h)(j) == denom) cj = j; j += 1 }
          if (cj < 0) certain = false else alleleOf(h) = cj
          h += 1
        }
        if (certain) {
          val sb = new java.lang.StringBuilder(pl * 2)
          h = 0
          while (h < pl) {
            if (h > 0) sb.append('|'); sb.append(alleleOf(h)); h += 1
          }
          gt(i) = sb.toString
          if (pl >= 1) gt1(i) = alleleOf(0).toString
          if (pl >= 2) gt2(i) = alleleOf(1).toString
        } else gt(i) = dotted(pl, '|')
        if (!miss(i)) {
          if (pl == 1) {
            val sb = new java.lang.StringBuilder(k * 9)
            var j = 0
            while (j < k) {
              if (j > 0) sb.append(',')
              microStr(sb, haps(0)(j) * 1000000L / denom)
              j += 1
            }
            gp(i) = sb.toString
          } else if (pl == 2) {
            // exact convolution onto the unphased colex triangle
            val sb = new java.lang.StringBuilder(k * (k + 1) / 2 * 9)
            val exactLong = bBits <= 16 // h*h*10^6 fits a Long
            var first = true
            var bb = 0
            while (bb < k) {
              var aa = 0
              while (aa <= bb) {
                val micro =
                  if (exactLong) {
                    val num = haps(0)(aa) * haps(1)(bb) +
                      (if (aa != bb) haps(0)(bb) * haps(1)(aa) else 0L)
                    num * 1000000L / (denom * denom)
                  } else {
                    val num = java.math.BigInteger.valueOf(haps(0)(aa))
                      .multiply(java.math.BigInteger.valueOf(haps(1)(bb)))
                      .add(if (aa != bb)
                        java.math.BigInteger.valueOf(haps(0)(bb))
                          .multiply(java.math.BigInteger.valueOf(haps(1)(aa)))
                        else java.math.BigInteger.ZERO)
                    num.multiply(java.math.BigInteger.valueOf(1000000L))
                      .divide(java.math.BigInteger.valueOf(denom)
                        .multiply(java.math.BigInteger.valueOf(denom)))
                      .longValueExact()
                  }
                if (!first) sb.append(',')
                first = false
                microStr(sb, micro)
                aa += 1
              }
              bb += 1
            }
            gp(i) = sb.toString
          } // pl > 2: GP stays null — no Number=G convention to emit
        }
      }
      i += 1
    }
    DecodedCalls(gp, gt, gt1, gt2)
  }

  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType), StructField("pos", IntegerType),
    StructField("varid", StringType), StructField("rsid", StringType),
    StructField("ref", StringType), StructField("alt", StringType),
    StructField("multiallele", IntegerType),
    StructField("sample_id", StringType),
    StructField("gt", StringType), StructField("gt1", StringType),
    StructField("gt2", StringType), StructField("GP", StringType)))

  // ---- encoder (fixtures, round-trip specs, and the write side a
  // simulation pipeline needs to EMIT imputed shards) ----

  private def w16(o: OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def w32(o: OutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
    o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
  }
  private def wstr16(o: OutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8); w16(o, b.length); o.write(b)
  }
  private def wstr32(o: OutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8); w32(o, b.length.toLong)
    o.write(b)
  }

  /** One variant to encode: raw B-bit probability integers per sample
    * (the stored values only — the implicit-last entries are NOT
    * passed: unphased = nGts − 1 per sample, phased = ploidy·(K−1)),
    * null slot = missing sample. `ploidy` null means all-diploid;
    * `phased` selects the haplotype-probability layout. */
  final case class BgenEnc(varId: String, rsid: String, chrom: String,
      pos: Long, alleles: Seq[String], probs: Seq[Array[Long]],
      ploidy: Seq[Int] = null, phased: Boolean = false)

  /** Header + sample block bytes for an M-variant, layout-2 file —
    * split out of [[writeBgen]] so a streaming writer (the DSv2 bgen
    * landing) can spool variant blocks first and prepend the header
    * once M is known (variant blocks do not depend on M). */
  def encodeHeaderBlock(samples: Seq[String], mVariants: Long,
      zlib: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val sb = new ByteArrayOutputStream()
    val sBody = new ByteArrayOutputStream()
    samples.foreach(s => wstr16(sBody, s))
    w32(sb, 8L + sBody.size()); w32(sb, samples.length.toLong)
    sb.write(sBody.toByteArray)
    val headerLen = 20L
    w32(out, headerLen + sb.size()) // offset to first variant block
    w32(out, headerLen)
    w32(out, mVariants)
    w32(out, samples.length.toLong)
    out.write("bgen".getBytes(StandardCharsets.UTF_8))
    val flags = (if (zlib) 1L else 0L) | (2L << 2) | (1L << 31)
    w32(out, flags)
    out.write(sb.toByteArray)
    out.toByteArray
  }

  /** One self-contained variant block (identifiers + compressed
    * genotype payload) — the unit [[writeBgen]] emits per variant. */
  def encodeVariantBlock(v: BgenEnc, nSamples: Int, bBits: Int,
      zlib: Boolean): Array[Byte] = {
    require(bBits >= 1 && bBits <= 32)
    val out = new ByteArrayOutputStream()
    wstr16(out, v.varId); wstr16(out, v.rsid); wstr16(out, v.chrom)
    w32(out, v.pos)
    w16(out, v.alleles.length)
    v.alleles.foreach(a => wstr32(out, a))
    // genotype payload
    val g = new ByteArrayOutputStream()
    w32(g, nSamples.toLong)
    w16(g, v.alleles.length)
    val plo =
      if (v.ploidy == null) Seq.fill(nSamples)(2) else v.ploidy
    require(plo.length == nSamples,
      s"ploidy seq carries ${plo.length} entries for $nSamples samples")
    plo.foreach(pl => require(pl >= 1 && pl <= 63,
      s"ploidy $pl outside [1, 63]"))
    g.write(plo.min); g.write(plo.max) // min/max ploidy
    v.probs.zip(plo).foreach { case (pr, pl) =>
      g.write((if (pr == null) 0x80 else 0x00) | pl)
    }
    g.write(if (v.phased) 1 else 0)
    g.write(bBits)
    val k = v.alleles.length
    var acc = 0L; var accBits = 0
    def push(value: Long): Unit = {
      acc |= (value & ((1L << bBits) - 1L)) << accBits
      accBits += bBits
      while (accBits >= 8) {
        g.write((acc & 0xffL).toInt); acc >>>= 8; accBits -= 8
      }
    }
    v.probs.zip(plo).foreach { case (pr, pl) =>
      val nStored =
        if (v.phased) pl * (k - 1) else nGenotypes(k, pl) - 1
      val stored = if (pr == null) new Array[Long](nStored) else pr
      require(stored.length == nStored,
        s"probs must carry $nStored stored values " +
          s"(ploidy $pl, K $k, phased ${v.phased})")
      stored.foreach(push)
    }
    if (accBits > 0) g.write((acc & 0xffL).toInt)
    val body = g.toByteArray
    if (zlib) {
      val defl = new java.util.zip.Deflater()
      defl.setInput(body); defl.finish()
      val buf = new Array[Byte](body.length + 64)
      val zb = new ByteArrayOutputStream()
      while (!defl.finished()) {
        val n = defl.deflate(buf); zb.write(buf, 0, n)
      }
      defl.end()
      val z = zb.toByteArray
      w32(out, z.length.toLong + 4L)
      w32(out, body.length.toLong)
      out.write(z)
    } else {
      w32(out, body.length.toLong)
      out.write(body)
    }
    out.toByteArray
  }

  /** Write a layout-2 zlib (or raw) BGEN: header + sample block +
    * variant blocks, B bits per probability. The exact inverse of the
    * reader's supported surface (unphased or phased, per-sample
    * ploidy). */
  def writeBgen(out: OutputStream, samples: Seq[String],
      variants: Iterator[BgenEnc], bBits: Int = 8,
      zlib: Boolean = true): Unit = {
    val vs = variants.toSeq
    out.write(encodeHeaderBlock(samples, vs.length.toLong, zlib))
    vs.foreach(v =>
      out.write(encodeVariantBlock(v, samples.length, bBits, zlib)))
    out.flush()
  }
}
