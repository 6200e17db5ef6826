package graft.sources.v2

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.GZIPInputStream

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}

/** Minimal tabix (.tbi) index reader — enough to PRUNE: which reference
  * sequences a bgzip-compressed VCF contains, and where (as BGZF virtual
  * offsets) the records of a `chrom:beg-end` region live.
  *
  * Format is the public tabix spec (htslib "Tabix index file format",
  * samtools.github.io/hts-specs/tabix.pdf): a BGZF-compressed block of
  * little-endian binary — magic "TBI\1", header ints, concatenated
  * NUL-terminated sequence names, then per sequence a binning index
  * (bin → chunks of [cnk_beg, cnk_end) virtual offsets) and a linear
  * index (16 kb windows → smallest virtual offset of records
  * overlapping the window). A virtual offset packs
  * (compressed block start) << 16 | (offset within decompressed block).
  *
  * The binning index is the part that bounds BOTH ends of a region
  * scan: [[regionChunks]] unions the chunk lists of the bins covering
  * the region (spec `reg2bins`), floors them with the linear index,
  * and coalesces — so a mid-chromosome locus query decompresses
  * O(region) bytes, not from the locus to the end of the chromosome.
  *
  * The reference ships .tbi files with both of its test VCFs
  * (reference: vcf_metadata.py:8-15 assumes tabix-indexed input).
  */
object TabixIndex {

  /** Pseudo-bin number holding per-ref statistics, NOT file chunks —
    * its "chunks" are (off_beg, off_end) + (n_mapped, n_unmapped) and
    * must not be mixed into real chunk offset aggregation.
    */
  private val PseudoBin = 37450

  /** One [cnk_beg, cnk_end) file range of records, as virtual offsets. */
  final case class Chunk(beg: Long, end: Long)

  /** One indexed reference sequence.
    *
    * @param minVoff smallest record virtual offset (start of this ref's
    *                data region in the BGZF file)
    * @param maxVoff largest chunk-end virtual offset (end of data)
    * @param ioff    linear index: ioff(w) = smallest virtual offset of
    *                records overlapping window [w*16kb, (w+1)*16kb); 0
    *                entries mean "no update" (fall back to minVoff).
    *                Empty for `.csi` (CSI carries no linear index).
    * @param bins    binning index: bin number → file chunks of records
    *                assigned to that bin
    * @param minShift finest window bit width (14 = 16 kb for tabix;
    *                 `.csi` declares its own)
    * @param depth    binning tree depth (5 for tabix)
    */
  final case class Ref(name: String, minVoff: Long, maxVoff: Long,
      ioff: Array[Long], bins: Map[Int, Array[Chunk]],
      minShift: Int = 14, depth: Int = 5) {
    def nIntv: Int = ioff.length
    /** Max record start position covered: every record STARTS in some
      * indexed window, so pos lower bounds at or beyond this prune the
      * whole ref. */
    def maxCoveredPos: Long = ioff.length.toLong << minShift
    /** Largest representable position + 1 under this tree shape. */
    def maxPos: Long = 1L << (minShift + 3 * depth)
  }

  final case class Index(refs: Seq[Ref]) {
    /** Lookup tolerant of `chr` prefixes on either side (the engine
      * normalizes `chrN` → `N` before filtering). */
    def ref(chrom: String): Option[Ref] = {
      val q = chrom.stripPrefix("chr")
      refs.find(r => r.name.stripPrefix("chr") == q)
    }
  }

  /** Sibling index path convention: `<data file>.tbi`. */
  def sibling(dataPath: Path): Path =
    new Path(dataPath.getParent, dataPath.getName + ".tbi")

  /** Sibling `.csi` (the 64-bit successor format; htslib writes it when
    * a chromosome outgrows tabix's 2^29 limit). */
  def csiSibling(dataPath: Path): Path =
    new Path(dataPath.getParent, dataPath.getName + ".csi")

  /** Read whichever sibling index exists — `.tbi` preferred, `.csi`
    * fallback; None when the file is unindexed.
    */
  def readSibling(fs: FileSystem, dataPath: Path): Option[Index] = {
    val tbi = sibling(dataPath)
    val csi = csiSibling(dataPath)
    if (fs.exists(tbi)) Some(read(fs, tbi))
    else if (fs.exists(csi)) Some(readCsi(fs, csi))
    else None
  }

  /** `idx`, checked against the `fileLen`-byte data file it indexes:
    * every chunk must run forwards and end within the file, and every
    * linear-index entry must point into it. An index whose voffs point
    * past EOF would plan splits and region chunks over bytes that do
    * not exist, and the scan would silently return fewer rows — so it
    * fails here, and the planners treat it like any unreadable index.
    */
  def fitting(idx: Index, fileLen: Long, what: Path): Index = {
    idx.refs.foreach { r =>
      r.bins.valuesIterator.flatten.foreach { c =>
        require(c.beg <= c.end && compressedOffset(c.end) <= fileLen,
          s"$what: implausible chunk voffs [${c.beg}, ${c.end}) " +
            s"for a $fileLen-byte file")
      }
      r.ioff.foreach(v => require(compressedOffset(v) <= fileLen,
        s"$what: linear-index voff $v points past the " +
          s"$fileLen-byte file"))
    }
    idx
  }

  def read(fs: FileSystem, tbiPath: Path): Index = {
    val in = new GZIPInputStream(fs.open(tbiPath), 65536)
    val bytes = try in.readAllBytes() finally in.close()
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

    val magic = Array.fill(4)(bb.get())
    require(magic.sameElements(Array('T'.toByte, 'B'.toByte, 'I'.toByte, 1.toByte)),
      s"$tbiPath is not a tabix index (bad magic)")
    val nRef = bb.getInt
    bb.getInt // format
    bb.getInt // col_seq
    bb.getInt // col_beg
    bb.getInt // col_end
    bb.getInt // meta char
    bb.getInt // skip
    val lNm = bb.getInt
    val nameBytes = new Array[Byte](lNm)
    bb.get(nameBytes)
    val names = new String(nameBytes, "UTF-8").split('\u0000').filter(_.nonEmpty)
    require(names.length == nRef,
      s"$tbiPath: ${names.length} names for $nRef references")

    val refs = mutable.ArrayBuffer.empty[Ref]
    for (i <- 0 until nRef) {
      var minV = Long.MaxValue
      var maxV = 0L
      val binMap = mutable.Map.empty[Int, mutable.ArrayBuffer[Chunk]]
      val nBin = bb.getInt
      for (_ <- 0 until nBin) {
        val bin = bb.getInt
        val nChunk = bb.getInt
        for (_ <- 0 until nChunk) {
          val beg = bb.getLong
          val end = bb.getLong
          if (bin != PseudoBin) {
            if (beg < minV) minV = beg
            if (end > maxV) maxV = end
            binMap.getOrElseUpdate(bin, mutable.ArrayBuffer.empty) += Chunk(beg, end)
          }
        }
      }
      val nIntv = bb.getInt
      val ioff = Array.fill(nIntv)(bb.getLong)
      refs += Ref(names(i), if (minV == Long.MaxValue) 0L else minV, maxV, ioff,
        binMap.view.mapValues(_.toArray).toMap)
    }
    Index(refs.toSeq)
  }

  /** Bins whose windows overlap the 0-based half-open region
    * [beg0, end0Ex) — the tabix/CSI spec's `reg2bins`. Level l of a
    * (minShift, depth) tree has bin offset (8^l - 1)/7 and window width
    * 2^(minShift + 3·(depth - l)); the tabix defaults (14, 5) give the
    * familiar 0 / 1-8 / 9-72 / 73-584 / 585-4680 / 4681-37448 layout
    * with 16 kb finest windows and positions < 2^29.
    */
  def reg2bins(beg0: Long, end0Ex: Long, minShift: Int = 14,
      depth: Int = 5): Seq[Int] = {
    val maxPos = 1L << (minShift + 3 * depth)
    val beg = math.max(0L, math.min(beg0, maxPos - 1))
    val end = math.max(beg, math.min(end0Ex, maxPos) - 1) // inclusive
    val out = mutable.ArrayBuffer.empty[Int]
    for (l <- 0 to depth) {
      val offset = ((1L << (3 * l)) - 1) / 7
      val shift = minShift + 3 * (depth - l)
      for (k <- (offset + (beg >> shift)).toInt to (offset + (end >> shift)).toInt)
        out += k
    }
    out.toSeq
  }

  /** File chunks containing every record whose START lies in the
    * 0-based half-open region [beg0, end0Ex): union of the covering
    * bins' chunk lists, floored by the linear index, sorted and
    * coalesced ([[coalesce]]). The result bounds BOTH ends of the scan
    * — its last chunk end is the region's end in the file, not the
    * chromosome's.
    *
    * (Bin membership covers interval OVERLAP, a superset of interval
    * start — pos-predicate evaluation in the reader drops the rest.)
    */
  def regionChunks(r: Ref, beg0: Long, end0Ex: Long): Seq[Chunk] = {
    if (end0Ex <= beg0) return Nil
    val window = (beg0 >> r.minShift).toInt
    val minOff =
      if (window < r.nIntv && r.ioff(window) > 0L) r.ioff(window) else r.minVoff
    val cs = reg2bins(beg0, end0Ex, r.minShift, r.depth).iterator
      .flatMap(b => r.bins.getOrElse(b, Array.empty[Chunk]))
      .filter(_.end > minOff)
      .map(c => Chunk(math.max(c.beg, minOff), c.end))
      .toArray
    coalesce(cs)
  }

  /** Minimal `.csi` reader (htslib "CSI index file format v1",
    * samtools.github.io/hts-specs/CSIv1.pdf): gzip-compressed
    * little-endian binary — magic "CSI\1", min_shift, depth, then an
    * aux block that for tabix-style CSI carries the tabix header
    * (format/columns/meta/skip + NUL-terminated names), then per
    * reference a binning index whose bins carry a 64-bit `loffset`
    * (the linear-index replacement) and chunk lists. Parsed into the
    * same [[Ref]] shape as `.tbi` — no linear index (empty ioff; the
    * floor falls back to minVoff) but the tree shape (min_shift,
    * depth) drives [[reg2bins]], so offsets beyond tabix's 2^29
    * position limit still prune.
    */
  def readCsi(fs: FileSystem, csiPath: Path): Index =
    readCsi(fs, csiPath, None)

  /** [[readCsi]] with a CONTIG-TABLE fallback for non-tabix CSI: a
    * `.bcf.csi` (htslib convention) carries NO names in its aux block —
    * reference i is the BCF header's contig i — so the caller passes
    * the decoded contig table and the refs are named from it. A
    * tabix-style aux with names still wins when present.
    */
  def readCsi(fs: FileSystem, csiPath: Path,
      contigNames: Option[IndexedSeq[String]]): Index = {
    val in = new GZIPInputStream(fs.open(csiPath), 65536)
    val bytes = try in.readAllBytes() finally in.close()
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

    val magic = Array.fill(4)(bb.get())
    require(magic.sameElements(Array('C'.toByte, 'S'.toByte, 'I'.toByte, 1.toByte)),
      s"$csiPath is not a CSI index (bad magic)")
    val minShift = bb.getInt
    val depth = bb.getInt
    // Bounds keep all downstream index math exact: bin ids at level l are
    // < (8^(l+1)-1)/7, Int-safe only for depth ≤ 9, and maxPos shifts
    // 1L << (minShift + 3·depth). A corrupt header must fail HERE, loudly
    // — overflowed bin ids would silently mis-prune a scan to zero rows.
    require(minShift >= 1 && minShift <= 32 && depth >= 0 && depth <= 9,
      s"$csiPath: implausible CSI tree shape (min_shift=$minShift, depth=$depth)")
    val lAux = bb.getInt
    val aux = new Array[Byte](lAux)
    bb.get(aux)
    // tabix-style aux: 7 little-endian ints (format, col_seq, col_beg,
    // col_end, meta, skip, l_nm) then the concatenated NUL-terminated
    // names; non-tabix CSI (e.g. BCF) has no names and is rejected below
    val names: Array[String] =
      if (lAux >= 28) {
        val ab = ByteBuffer.wrap(aux).order(ByteOrder.LITTLE_ENDIAN)
        ab.position(24)
        val lNm = ab.getInt
        if (lNm > 0 && 28 + lNm <= lAux) {
          val nm = new Array[Byte](lNm)
          ab.get(nm)
          new String(nm, "UTF-8").split('\u0000').filter(_.nonEmpty)
        } else Array.empty
      } else Array.empty

    val nRef = bb.getInt
    // The engine prunes BY NAME (pushed chrom vs ref names): an index
    // whose aux block carries no usable names cannot prune safely —
    // every lookup would miss and the scan would silently return zero
    // rows for data that exists. Fail loudly, like the .tbi reader —
    // unless the caller supplied the format's own contig table (BCF).
    // the caller's contig table substitutes ONLY for the genuinely
    // BCF-style case (no aux name table at all) — a PRESENT-but-
    // mismatched aux table is corrupt and must fail loudly like the
    // .tbi reader, not be silently renamed into a wrong positional
    // mapping that mis-prunes by chromosome
    val refNames: IndexedSeq[String] =
      if (names.length == nRef) names.toIndexedSeq
      else contigNames match {
        case Some(cs) if names.isEmpty && cs.length >= nRef => cs.take(nRef)
        case _ => throw new IllegalArgumentException(
          s"$csiPath: ${names.length} sequence names in aux block for " +
            s"$nRef references (non-tabix CSI? cannot prune by " +
            "chromosome name without the caller's contig table)")
      }
    // bins at or past the tree's real-bin count are stats pseudo-bins
    val pseudo = (((1L << (3 * (depth + 1))) - 1) / 7).toInt
    val refs = mutable.ArrayBuffer.empty[Ref]
    for (i <- 0 until nRef) {
      var minV = Long.MaxValue
      var maxV = 0L
      val binMap = mutable.Map.empty[Int, mutable.ArrayBuffer[Chunk]]
      val nBin = bb.getInt
      for (_ <- 0 until nBin) {
        val bin = bb.getInt
        bb.getLong // loffset: unused (minVoff floor is safe without it)
        val nChunk = bb.getInt
        for (_ <- 0 until nChunk) {
          val beg = bb.getLong
          val end = bb.getLong
          if (bin < pseudo) {
            if (beg < minV) minV = beg
            if (end > maxV) maxV = end
            binMap.getOrElseUpdate(bin, mutable.ArrayBuffer.empty) += Chunk(beg, end)
          }
        }
      }
      refs += Ref(refNames(i), if (minV == Long.MaxValue) 0L else minV, maxV,
        Array.empty[Long], binMap.view.mapValues(_.toArray).toMap, minShift, depth)
    }
    Index(refs.toSeq)
  }

  /** Record-start virtual offsets usable as SPLIT boundaries for a
    * full-file scan: every chunk begin and every non-zero linear-index
    * entry points at the first byte of some record (the tabix writer
    * emits both as record starts), so bounding a partition at one of
    * them never cuts a record in half. Sorted distinct, across all
    * reference sequences (records of consecutive refs are contiguous in
    * the file, so one global boundary list serves the whole file).
    */
  def splitCandidates(idx: Index): Array[Long] = {
    val cands = idx.refs.iterator.flatMap { r =>
      r.bins.valuesIterator.flatten.map(_.beg) ++ r.ioff.iterator.filter(_ > 0L)
    }.toArray
    java.util.Arrays.sort(cands)
    cands.distinct
  }

  /** Greedy subdivision of the record range [begVoff, endVoffEx) at
    * candidate record starts spaced ≥ maxSplit COMPRESSED bytes apart —
    * the voff-bounded sub-ranges a splittable bgzf scan plans as
    * partitions. `cands` must be sorted ascending. Always returns at
    * least the undivided range.
    */
  def subdivide(begVoff: Long, endVoffEx: Long, cands: Array[Long],
      maxSplit: Long): Seq[(Long, Long)] = {
    val bounds = mutable.ArrayBuffer(begVoff)
    cands.foreach { v =>
      if (v > begVoff && v < endVoffEx &&
          compressedOffset(v) >= compressedOffset(bounds.last) + maxSplit)
        bounds += v
    }
    bounds.indices.map { i =>
      (bounds(i), if (i + 1 < bounds.length) bounds(i + 1) else endVoffEx)
    }.toSeq
  }

  /** Sort chunks and merge any pair closer than one BGZF block in
    * COMPRESSED space. The block-gap guarantee is load-bearing for the
    * reader: a partition's raw read overshoots its last chunk's end by
    * at most [[MaxBlockSize]] (to finish that block), so ranges ≥ one
    * block apart never double-read a record.
    */
  def coalesce(chunks: Array[Chunk]): Seq[Chunk] = {
    val sorted = chunks.sortBy(c => (c.beg, c.end))
    val out = mutable.ArrayBuffer.empty[Chunk]
    sorted.foreach { c =>
      out.lastOption match {
        case Some(p) if compressedOffset(c.beg) <=
            compressedOffset(p.end) + MaxBlockSize =>
          if (c.end > p.end) out(out.length - 1) = Chunk(p.beg, c.end)
        case _ => out += c
      }
    }
    out.toSeq
  }

  def compressedOffset(voff: Long): Long = voff >>> 16
  def uncompressedOffset(voff: Long): Int = (voff & 0xffff).toInt

  /** The SMALLEST bin fully containing [beg0, end0Ex) — standard
    * reg2bin. A record straddling a window boundary files under the
    * parent bin, which every overlapping query's [[reg2bins]] list
    * includes — filing it under the deepest bin of `beg` alone would
    * let a query that overlaps only the record's tail miss it.
    */
  def reg2bin(beg0: Long, end0Ex: Long, minShift: Int = 14,
      depth: Int = 5): Int = {
    val end = math.max(beg0, end0Ex - 1)
    var s = minShift
    var l = depth
    while (l > 0) {
      if ((beg0 >> s) == (end >> s))
        return ((((1L << (3 * l)) - 1) / 7) + (beg0 >> s)).toInt
      s += 3; l -= 1
    }
    0
  }

  /** STREAMING index accumulator — feed it (chrom, pos, refLen,
    * record-start voff, record-end voff) in file order and it builds
    * the binning index (adjacent-chunk merge), the 2^14 linear index,
    * and the sortedness checks, exactly as [[buildForBgzfVcf]] derives
    * them from a re-read. This is what lets the `format("vcf"|"bcf")`
    * writers ([[GraftWrite]]) record the index during the emit:
    * [[BgzfOutputStream.voff]] supplies the offsets as blocks are laid
    * down, so the shard is never read back. The geometry is htslib's
    * default (minShift 14, depth 5), escalated in depth only when the
    * positions outgrow it ([[chosenDepth]]).
    */
  final class Builder(context: => String = "stream") {
    val minShift = 14
    // per ref, the record log (beg0, end0Ex, v0, v1) in file order —
    // binning is DEFERRED to build() so the tree depth can escalate
    // once the largest position is known (htslib keeps its in-memory
    // index per file the same way; ~32 bytes/record)
    private val refs = mutable.LinkedHashMap.empty[String,
      (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long],
        mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long])]
    private val seen = mutable.Set.empty[String]
    private var curChrom: String = null
    private var lastPos = -1L
    /** Largest 0-based EXCLUSIVE record end seen — the `.tbi` vs `.csi`
      * decision input (tabix's tree covers positions < 2^29). */
    var maxEnd0: Long = 0L

    def record(chrom: String, pos: Long, refLen: Int,
        v0: Long, v1: Long): Unit = {
      if (chrom != curChrom) {
        require(seen.add(chrom),
          s"$context is not sorted: chromosome $chrom appears in two runs")
        curChrom = chrom
        lastPos = -1L
      }
      require(pos >= lastPos,
        s"$context is not position-sorted at $chrom:$pos")
      lastPos = pos
      val beg0 = pos - 1
      val end0 = pos - 1 + math.max(1, refLen)
      if (end0 > maxEnd0) maxEnd0 = end0
      val (begs, ends, v0s, v1s) = refs.getOrElseUpdate(chrom,
        (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty,
          mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
      begs += beg0; ends += end0; v0s += v0; v1s += v1
    }

    def isEmpty: Boolean = refs.isEmpty

    /** The depth actually used: tabix's 5, escalated until the
      * (minShift, depth) tree covers the largest end seen — the htslib
      * rule behind its automatic `.csi` fallback. */
    def chosenDepth: Int = {
      var d = 5
      while ((1L << (minShift + 3 * d)) < maxEnd0) d += 1
      d
    }

    def build(): Index = {
      val d = chosenDepth
      Index(refs.map { case (name, (begs, ends, v0s, v1s)) =>
        val bins =
          mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Chunk]]
        val ioff = mutable.ArrayBuffer.empty[Long] // -1 = unset
        var i = 0
        while (i < begs.length) {
          val bin = reg2bin(begs(i), ends(i), minShift, d)
          bins.get(bin) match {
            case Some(cs) if cs.last.end == v0s(i) =>
              cs(cs.length - 1) = Chunk(cs.last.beg, v1s(i))
            case _ =>
              bins.getOrElseUpdate(bin, mutable.ArrayBuffer.empty) +=
                Chunk(v0s(i), v1s(i))
          }
          // linear index: first (= smallest, input is voff-ordered)
          // record voff per 2^minShift window the record overlaps.
          // The in-build sentinel is -1, NOT 0: voff 0 is a real
          // offset (the first record of a shard), and using 0 as the
          // sentinel would let the next record overwrite its slot —
          // clipping the first record out of every region query.
          // Unset windows serialize as the format's 0 (readers fall
          // back to minVoff).
          val w1 = ((ends(i) - 1) >> minShift).toInt
          while (ioff.length <= w1) ioff += -1L
          var w = (begs(i) >> minShift).toInt
          while (w <= w1) {
            if (ioff(w) == -1L) ioff(w) = v0s(i)
            w += 1
          }
          i += 1
        }
        val chunks = bins.valuesIterator.flatten.toSeq
        Ref(name, chunks.map(_.beg).min, chunks.map(_.end).max,
          ioff.map(v => if (v == -1L) 0L else v).toArray,
          bins.view.mapValues(_.toArray).toMap, minShift, d)
      }.toSeq)
    }
  }

  /** Build an [[Index]] for one position-sorted BGZF VCF shard by
    * walking its blocks with [[BgzfLineReader]] — the re-read reference
    * the writers' in-write index ([[Builder]]) is checked against.
    * Record spans follow the INFO `END=` span or the REF footprint
    * ([[graft.sources.BcfWriter.spanOfLen]]), so deletions crossing a
    * window boundary land in the covering parent bin ([[reg2bin]]).
    * Refuses unsorted shards loudly (an index over unsorted data
    * silently drops rows at query time).
    */
  def buildForBgzfVcf(fs: FileSystem, dataPath: Path): Index = {
    val len = fs.getFileStatus(dataPath).getLen
    val endVoff = len << 16
    val r = new BgzfLineReader(fs.open(dataPath), 0L, len)
    try {
      val builder = new Builder(dataPath.toString)
      var v0 = r.nextVoff()
      var done = v0 == -1L
      while (!done) {
        val line = r.readLine()
        if (line == null) done = true
        else {
          val v1 = r.nextVoff() match { case -1L => endVoff; case v => v }
          if (line.nonEmpty && line.charAt(0) != '#') {
            val t1 = line.indexOf('\t')
            val t2 = line.indexOf('\t', t1 + 1)
            val t3 = line.indexOf('\t', t2 + 1)
            val t4 = line.indexOf('\t', t3 + 1)
            require(t1 > 0 && t2 > t1 && t3 > t2 && t4 > t3,
              s"$dataPath: malformed VCF line at voff $v0")
            // INFO is field 8 (after ALT, QUAL, FILTER) — parsed for
            // END= so band/symbolic records bin over their full span,
            // exactly htslib's tabix VCF preset behavior
            val t5 = line.indexOf('\t', t4 + 1)
            val t6 = if (t5 < 0) -1 else line.indexOf('\t', t5 + 1)
            val t7 = if (t6 < 0) -1 else line.indexOf('\t', t6 + 1)
            val info =
              if (t7 < 0) ""
              else {
                val t8 = line.indexOf('\t', t7 + 1)
                line.substring(t7 + 1, if (t8 < 0) line.length else t8)
              }
            val pos = line.substring(t1 + 1, t2).toLong
            builder.record(line.substring(0, t1), pos,
              graft.sources.BcfWriter.spanOfLen(pos, t4 - t3 - 1, info),
              v0, v1)
          }
          v0 = v1
          if (v0 == endVoff) done = true
        }
      }
      builder.build()
    } finally r.close()
  }

  /** Write `idx` as a `.tbi` at `out` — the classic tabix format
    * ([[read]]'s exact field layout: VCF preset aux header, binning
    * index, 16 kb linear index). Only valid for the fixed tabix
    * geometry (minShift 14, depth 5) and positions < 2^29 — callers
    * outgrow that into [[writeCsi]] (the `format("vcf")` writer
    * decides per shard, as htslib's tabix does).
    */
  def writeTbi(fs: FileSystem, out: Path, idx: Index): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit =
      (0 until 4).foreach(b => bos.write((v >>> (8 * b)) & 0xff))
    def i64(v: Long): Unit =
      (0 until 8).foreach(b => bos.write(((v >>> (8 * b)) & 0xff).toInt))
    bos.write('T'); bos.write('B'); bos.write('I'); bos.write(1)
    i32(idx.refs.length)
    i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0) // VCF preset
    val names = idx.refs.map(_.name + "\u0000").mkString.getBytes("UTF-8")
    i32(names.length); bos.write(names)
    idx.refs.foreach { r =>
      require(r.minShift == 14 && r.depth == 5,
        s"tbi requires the fixed tabix geometry, got (${r.minShift}, ${r.depth})")
      i32(r.bins.size)
      r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        i32(bin); i32(chunks.length)
        chunks.foreach { c => i64(c.beg); i64(c.end) }
      }
      i32(r.ioff.length)
      r.ioff.foreach(i64)
    }
    val gz = new java.util.zip.GZIPOutputStream(fs.create(out, true))
    try gz.write(bos.toByteArray) finally gz.close()
  }

  /** Write `idx` as a `.csi` at `out` (htslib CSI v1 layout — the
    * format [[readCsi]] reads; tabix aux header, no linear index,
    * loffset 0). Everything goes through the Hadoop filesystem of
    * `out`, so hdfs/s3a/local all work. `tabixAux = false` writes the
    * EMPTY aux block htslib uses for `.bcf.csi` — the reference names
    * live in the BCF header's contig table, not the index
    * ([[readCsi]]'s `contigNames` fallback reads that shape back).
    */
  def writeCsi(fs: FileSystem, out: Path, idx: Index,
      minShift: Int = 14, depth: Int = 5,
      tabixAux: Boolean = true): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit =
      (0 until 4).foreach(b => bos.write((v >>> (8 * b)) & 0xff))
    def i64(v: Long): Unit =
      (0 until 8).foreach(b => bos.write(((v >>> (8 * b)) & 0xff).toInt))
    bos.write('C'); bos.write('S'); bos.write('I'); bos.write(1)
    i32(minShift); i32(depth)
    if (tabixAux) {
      val names = idx.refs.map(_.name + "\u0000").mkString.getBytes("UTF-8")
      i32(28 + names.length) // l_aux
      i32(2); i32(1); i32(2); i32(0); i32('#'); i32(0) // tabix-style aux
      i32(names.length); bos.write(names)
    } else {
      i32(0) // l_aux -- BCF-style: contig identities come from the data
    }
    i32(idx.refs.length)
    idx.refs.foreach { r =>
      i32(r.bins.size)
      r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
        i32(bin); i64(0L); i32(chunks.length)
        chunks.foreach { c => i64(c.beg); i64(c.end) }
      }
    }
    val gz = new java.util.zip.GZIPOutputStream(fs.create(out, true))
    try gz.write(bos.toByteArray) finally gz.close()
  }

  /** BGZF blocks are at most 64 KiB compressed — reading this many raw
    * bytes past a block start always covers the whole block. */
  val MaxBlockSize: Long = 65536L
}
