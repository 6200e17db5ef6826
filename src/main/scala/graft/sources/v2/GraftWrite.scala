package graft.sources.v2

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.sources.{BcfReader, BcfWriter}

/** DataSource V2 WRITE path for the `vcf` and `bcf` formats — the
  * engine's one VCF/BCF emitter (`df.write.format("bcf")
  * .mode("append").save(dir)`), the twin of the `format("vcf"|"bcf")`
  * scans. BCF records encode through [[BcfWriter]]
  * (`encodePrologue`/`encodeRecord`/`composeHeader`/CSI padding), and
  * the landings read back through `format("vcf"|"bcf")` split and
  * region-pruned by their in-write indexes. Sorting and sharding stay
  * with the caller: `repartitionByRange(chrom, pos)` +
  * `sortWithinPartitions(chrom, pos)` gives globally coordinate-sorted,
  * indexable shards.
  *
  * Layout: one self-contained shard per partition DIRECTLY under the
  * save path (`part-<partition>-<task>.bcf` + `.csi` sibling, or
  * `part-…-….vcf`), so `spark.read.format(...).load(dir)` of the same
  * path round-trips with no layout knowledge.
  *
  * Options:
  *  - `header` / `headerPath`: the VCF header text (inline / a file;
  *    [[graft.sources.VcfReader.headerLines]] renders one from parsed
  *    metadata).
  *    When ABSENT each task synthesizes a per-shard header from its
  *    own rows' vocabulary ([[BcfWriter.composeHeader]]) — rows are
  *    spooled to task-local disk (O(record) memory, one extra local
  *    IO pass) because a BCF body encodes against the header
  *    dictionary, which isn't known until the shard's rows have been
  *    seen. At 100 TB prefer passing the real header: single-pass
  *    streaming, no spool.
  *  - `bgzf` (vcf only, default false): stream each text shard
  *    through [[BgzfOutputStream]] as `part-….vcf.gz`.
  *  - `index` (default true for bcf and for bgzf vcf): build the
  *    `.csi`/`.tbi` sibling during the emit. Requires each partition
  *    position-sorted (`repartitionByRange(chrom, pos)` +
  *    `sortWithinPartitions` upstream); unsorted input fails loudly
  *    ("not position-sorted"), never writes a wrong index. Set
  *    `"false"` for unsorted dumps. A vcf index needs `bgzf`: tabix
  *    virtual offsets exist only in BGZF, so `index=true` on plain
  *    text is rejected.
  *
  * COMMIT PROTOCOL (speculation-safe by construction): every attempt
  * writes `.stage-`-prefixed names that embed the task attempt id —
  * no two attempts ever touch the same path — and renames to the
  * visible name only in `DataWriter.commit`, which Spark's output
  * commit coordinator grants to exactly ONE attempt per partition.
  * The `.csi` renames BEFORE the shard, so a visible shard is never
  * missing its index; a task dying mid-write leaves only `.`-hidden
  * litter that every reader here skips. `SaveMode.Overwrite`
  * (SupportsTruncate) clears prior `.bcf`/`.csi`/`.vcf` files under
  * the directory before tasks launch.
  *
  * Schema: ACCEPT_ANY_SCHEMA — fields are resolved BY NAME against
  * the canonical 10-column wide schema ([[VcfDataSource.schema]]);
  * `chrom`/`pos`/`ref` are required, everything else defaults to the
  * missing value (`.` / empty genotypes), so a sites-only frame
  * writes without fabricating columns.
  */
private[graft] object GraftWrite {

  /** Resolved by-name field mapping (index, or -1 = absent).
    * `posIsLong` records the pos column's actual type so [[extract]]
    * dispatches getInt/getLong correctly — reading a LongType slot via
    * `row.get(_, IntegerType)` on an UnsafeRow silently returns the
    * low 32 bits. */
  final case class FieldMap(chrom: Int, pos: Int, id: Int, ref: Int,
      alt: Int, qual: Int, filter: Int, info: Int, format: Int,
      genotypes: Int, posIsLong: Boolean = false)

  def resolve(schema: StructType): FieldMap = {
    def idx(name: String, ok: DataType => Boolean, what: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (i >= 0) require(ok(schema.fields(i).dataType),
        s"column '$name' must be $what, got ${schema.fields(i).dataType}")
      i
    }
    def str(n: String) = idx(n, _ == StringType, "STRING")
    val fm = FieldMap(
      chrom = str("chrom"),
      pos = idx("pos", t => t == IntegerType || t == LongType,
        "INT or BIGINT"),
      id = str("id"), ref = str("ref"), alt = str("alt"),
      qual = str("qual"), filter = str("filter"), info = str("info"),
      format = str("format"),
      genotypes = idx("genotypes",
        t => t == MapType(StringType, StringType, true) ||
          t == MapType(StringType, StringType, false),
        "MAP<STRING,STRING>"),
      posIsLong = schema.fields.exists(f =>
        f.name.equalsIgnoreCase("pos") && f.dataType == LongType))
    require(fm.chrom >= 0 && fm.pos >= 0 && fm.ref >= 0,
      s"vcf/bcf write needs chrom, pos, ref columns; got " +
        schema.fieldNames.mkString(", "))
    fm
  }

  /** One row, extracted to the writer's canonical shape. */
  final case class Rec(chrom: String, pos: Int, id: String, ref: String,
      alt: String, qual: String, filter: String, info: String,
      format: String, gtKeys: Array[String], gtVals: Array[String])

  /** `missingCall` is what a NULL call value in `genotypes` becomes —
    * the writer's own encoding of an absent sample (`./.` in VCF text,
    * `.` in BCF), so NULL and absent never diverge. */
  def extract(row: InternalRow, fm: FieldMap, missingCall: String): Rec = {
    def s(i: Int): String =
      if (i < 0 || row.isNullAt(i)) "." else row.getUTF8String(i).toString
    require(!row.isNullAt(fm.chrom) && !row.isNullAt(fm.pos) &&
      !row.isNullAt(fm.ref), "chrom/pos/ref must be non-null")
    val pos =
      if (fm.posIsLong) {
        val l = row.getLong(fm.pos)
        require(l >= Int.MinValue && l <= Int.MaxValue,
          s"pos $l exceeds the VCF/BCF 32-bit position range")
        l.toInt
      } else row.getInt(fm.pos)
    val (ks, vs) =
      if (fm.genotypes < 0 || row.isNullAt(fm.genotypes))
        (Array.empty[String], Array.empty[String])
      else {
        val m = row.getMap(fm.genotypes)
        val n = m.numElements()
        val ks = new Array[String](n); val vs = new Array[String](n)
        var i = 0
        while (i < n) {
          ks(i) = m.keyArray().getUTF8String(i).toString
          vs(i) =
            if (m.valueArray().isNullAt(i)) missingCall
            else m.valueArray().getUTF8String(i).toString
          i += 1
        }
        (ks, vs)
      }
    Rec(s(fm.chrom), pos, s(fm.id), s(fm.ref), s(fm.alt), s(fm.qual),
      s(fm.filter), s(fm.info), s(fm.format), ks, vs)
  }

  /** Incremental vocabulary for executor-side header synthesis,
    * gathered row-by-row during the spool pass and rendered by
    * [[BcfWriter.composeHeader]]. Vocabulary-bounded.
    */
  final class Vocab {
    val contigs = mutable.LinkedHashSet.empty[String]
    val filters = mutable.LinkedHashSet.empty[String]
    val infos = mutable.LinkedHashSet.empty[String]
    val formats = mutable.LinkedHashSet.empty[String]
    val samples = mutable.LinkedHashSet.empty[String]
    def add(r: Rec): Unit = {
      contigs += r.chrom
      if (r.filter != ".") r.filter.split(";").foreach { f =>
        if (f.nonEmpty) filters += f
      }
      if (r.info != ".") r.info.split(";").foreach { e =>
        if (e.nonEmpty) infos += e.split("=", 2).head
      }
      if (r.format != ".") r.format.split(":").foreach { k =>
        if (k.nonEmpty) formats += k
      }
      r.gtKeys.foreach(samples += _)
    }
    def header: String = BcfWriter.composeHeader(contigs.toSeq,
      filters.toSeq, infos.toSeq, formats.toSeq, samples.toSeq)
  }

  def readHeaderOption(options: java.util.Map[String, String],
      conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val inline = Option(options.get("header"))
    val fromPath = Option(options.get("headerpath")).map { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val in = fs.open(hp)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    }
    inline.orElse(fromPath).map { h =>
      if (h.endsWith("\n")) h else h + "\n"
    }
  }

  def samplePanel(headerText: String): Seq[String] = {
    val line = headerText.linesIterator
      .find(l => l.startsWith("#") && !l.startsWith("##"))
      .getOrElse(throw new IllegalArgumentException(
        "header has no #CHROM column line"))
    val cols = line.split("\t", -1).toSeq
    if (cols.length > 9) cols.drop(9) else Seq.empty
  }

  // ---- row spool (task-local temp file; O(record) memory) ----

  private def writeStr(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    o.writeInt(b.length); o.write(b)
  }
  private def readStr(i: DataInputStream): String = {
    val n = i.readInt(); val b = new Array[Byte](n)
    i.readFully(b); new String(b, StandardCharsets.UTF_8)
  }

  final class Spool {
    private val file = java.io.File.createTempFile("graft-shard-spool", ".bin")
    private val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(file), 1 << 16))
    var count = 0L
    def add(r: Rec): Unit = {
      writeStr(out, r.chrom); out.writeInt(r.pos)
      writeStr(out, r.id); writeStr(out, r.ref); writeStr(out, r.alt)
      writeStr(out, r.qual); writeStr(out, r.filter); writeStr(out, r.info)
      writeStr(out, r.format)
      out.writeInt(r.gtKeys.length)
      var i = 0
      while (i < r.gtKeys.length) {
        writeStr(out, r.gtKeys(i)); writeStr(out, r.gtVals(i)); i += 1
      }
      count += 1
    }
    def replay(f: Rec => Unit): Unit = {
      out.close()
      val in = new DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(file), 1 << 16))
      try {
        var done = false
        while (!done) {
          val chrom = try readStr(in) catch { case _: EOFException =>
            done = true; null }
          if (!done) {
            val pos = in.readInt()
            val id = readStr(in); val ref = readStr(in)
            val alt = readStr(in); val qual = readStr(in)
            val filter = readStr(in); val info = readStr(in)
            val format = readStr(in)
            val n = in.readInt()
            val ks = new Array[String](n); val vs = new Array[String](n)
            var i = 0
            while (i < n) { ks(i) = readStr(in); vs(i) = readStr(in); i += 1 }
            f(Rec(chrom, pos, id, ref, alt, qual, filter, info, format,
              ks, vs))
          }
        }
      } finally in.close()
    }
    def delete(): Unit = { try out.close() catch { case _: Exception => } ;
      file.delete(): Unit }
  }
}

final case class GraftShardCommit(visible: Seq[String])
    extends WriterCommitMessage

final class GraftWriteBuilder(kind: String, dir: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new GraftBatchWrite(kind, dir, info, doTruncate)
}

final class GraftBatchWrite(kind: String, dir: String,
    info: LogicalWriteInfo, truncate: Boolean)
    extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def description(): String = s"GraftWrite[$kind] $dir"

  override def createBatchWriterFactory(
      phys: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side: resolve options, validate the by-name schema
    // mapping, clear prior data for Overwrite BEFORE tasks launch
    val spark = SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val fm =
      if (kind == "bgen") null // BgenDataWriter resolves its own shape
      else GraftWrite.resolve(info.schema())
    val header = GraftWrite.readHeaderOption(info.options(), hconf)
    // vcf: bgzf opt-in; index defaults ON under bgzf (a bgzf landing
    // without its index loses splittability for no reason), OFF for
    // plain text (tabix voffs are BGZF-only). bcf: index default ON.
    val bgzf = kind == "vcf" &&
      Option(info.options().get("bgzf")).exists(_.toBoolean)
    val indexOpt = Option(info.options().get("index")).map(_.toBoolean)
    require(!(kind == "vcf" && !bgzf && indexOpt.contains(true)),
      "format(\"vcf\") option index=true needs bgzf=true: tabix " +
        "virtual offsets exist only in BGZF, so a plain-text landing " +
        "cannot be indexed")
    val index = (kind == "bcf" || bgzf) && indexOpt.getOrElse(true)
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (truncate && fs.exists(p)) {
      val exts = Seq(".bcf", ".csi", ".vcf", ".vcf.gz", ".tbi", ".bgen")
      val it = fs.listFiles(p, true)
      val old = mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next().getPath
        if (exts.exists(f.getName.endsWith)) old += f
      }
      old.foreach(fs.delete(_, false))
    }
    fs.mkdirs(p)
    val bgenBits = Option(info.options().get("bits"))
      .map(_.toInt).getOrElse(8)
    val bgenZlib = Option(info.options().get("zlib"))
      .forall(_.toBoolean)
    new GraftWriterFactory(kind, dir, fm, header, index,
      spark.sparkContext.broadcast(ScanSupport.confKv(hconf)), bgzf,
      info.schema(),
      bgenBits, bgenZlib)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // roll back any task-committed (already visible) shards — through
    // the SESSION's Hadoop conf (a bare `new Configuration()` drops
    // every spark.hadoop.* setting: s3a credentials, endpoints — and
    // the deletes would be silently swallowed on object stores)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    messages.foreach {
      case GraftShardCommit(paths) => paths.foreach { s =>
        val p = new Path(s)
        try p.getFileSystem(conf).delete(p, false)
        catch { case _: Exception => }
      }
      case _ =>
    }
  }
}

final class GraftWriterFactory(kind: String, dir: String,
    fm: GraftWrite.FieldMap, header: Option[String], index: Boolean,
    confKv: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]],
    bgzf: Boolean = false, schema: StructType = null,
    bgenBits: Int = 8, bgenZlib: Boolean = true)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val conf = ScanSupport.conf(confKv.value)
    if (kind == "bgen")
      new BgenDataWriter(dir, schema, bgenBits, bgenZlib, conf,
        partitionId, taskId)
    else if (kind == "bcf")
      new BcfDataWriter(dir, fm, header, index, conf, partitionId, taskId)
    else
      new VcfDataWriter(dir, fm, header, bgzf, index, conf, partitionId,
        taskId)
  }
}

/** One BCF shard per partition. Header given → single-pass streaming
  * encode; header absent → spool rows locally, synthesize the shard's
  * header from its own vocabulary, then encode (see [[GraftWrite]]).
  */
final class BcfDataWriter(dir: String, fm: GraftWrite.FieldMap,
    header: Option[String], index: Boolean,
    conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  import GraftWrite._

  private val dirPath = new Path(dir)
  private val fs: FileSystem = dirPath.getFileSystem(conf)
  private val fin = new Path(dirPath, f"part-$partitionId%05d-$taskId%d.bcf")
  private val stage = new Path(dirPath, "." + "stage-" + fin.getName)
  private val stageCsi = new Path(dirPath,
    "." + "stage-" + fin.getName + ".csi")

  // streaming state (header-given mode), opened on first row
  private var hdr: BcfReader.BcfHeader = _
  private var samples: Seq[String] = _
  private var bgz: BgzfOutputStream = _
  private var builder: TabixIndex.Builder = _
  // spool state (synth mode)
  private var spool: Spool = _
  private var vocab: Vocab = _
  private var wrote = false

  private def openStream(headerText: String): Unit = {
    hdr = BcfReader.decodeHeaderText(headerText)
    require(hdr.contigs.nonEmpty,
      "header must carry ##contig lines (the BCF contig table)")
    samples = hdr.samples
    bgz = new BgzfOutputStream(fs.create(stage, true))
    builder = if (index) new TabixIndex.Builder(fin.toString) else null
    bgz.write(BcfWriter.encodePrologue(headerText))
  }

  private def emit(r: Rec): Unit = {
    val gmap = r.gtKeys.zip(r.gtVals).toMap
    val calls = samples.map(s => gmap.getOrElse(s, "."))
    val v0 = bgz.voff
    bgz.write(BcfWriter.encodeRecord(hdr, r.chrom, r.pos, r.id, r.ref,
      r.alt, r.qual, r.filter, r.info, r.format, calls))
    if (builder != null)
      builder.record(hdr.contigs(BcfWriter.resolveRid(hdr, r.chrom)),
        r.pos.toLong, BcfWriter.spanOf(r.pos, r.ref, r.info), v0, bgz.voff)
  }

  override def write(row: InternalRow): Unit = {
    val r = extract(row, fm, ".")
    if (!wrote) {
      wrote = true
      header match {
        case Some(h) => openStream(h)
        case None => spool = new Spool; vocab = new Vocab
      }
    }
    if (spool != null) { vocab.add(r); spool.add(r) }
    else emit(r)
  }

  override def commit(): WriterCommitMessage = {
    if (!wrote) return GraftShardCommit(Seq.empty) // empty partition
    if (spool != null) {
      openStream(vocab.header)
      try spool.replay(emit) finally { spool.delete(); spool = null }
    }
    bgz.finish(); bgz.close(); bgz = null
    var visible = List(fin.toString)
    // .csi first: a visible shard is never missing its index
    if (builder != null && !builder.isEmpty) {
      TabixIndex.writeCsi(fs, stageCsi, BcfWriter.paddedIndex(hdr, builder),
        14, builder.chosenDepth, tabixAux = false)
      val finCsi = TabixIndex.csiSibling(fin)
      require(fs.rename(stageCsi, finCsi),
        s"commit rename $stageCsi -> $finCsi failed")
      visible ::= finCsi.toString
    }
    require(fs.rename(stage, fin), s"commit rename $stage -> $fin failed")
    GraftShardCommit(visible)
  }

  override def abort(): Unit = {
    if (bgz != null) { try bgz.close() catch { case _: Exception => } }
    if (spool != null) spool.delete()
    try fs.delete(stage, false) catch { case _: Exception => }
    try fs.delete(stageCsi, false) catch { case _: Exception => }
  }

  override def close(): Unit = {
    if (bgz != null) { try bgz.close() catch { case _: Exception => };
      bgz = null }
    if (spool != null) { spool.delete(); spool = null }
  }
}

/** One self-contained VCF text shard per partition (header + lines) —
  * the text twin of [[BcfDataWriter]], same option/commit semantics;
  * absent samples and NULL call values are emitted as `./.`, and a
  * header with no samples writes true 8-column sites-only lines (no
  * FORMAT). With `bgzf=true` the shard streams through
  * [[BgzfOutputStream]] as `part-….vcf.gz` (a valid multi-member gzip
  * any gunzip reads), and with `index=true` (default under bgzf;
  * requires position-sorted partitions) the record virtual offsets
  * are captured DURING the write and a `.tbi` sibling lands next to
  * the shard — `.csi` when the positions exceed tabix's fixed
  * geometry, htslib's own escalation rule — so the DSv2-written TEXT
  * landing is voff-splittable and region-prunable through
  * `format("vcf")`.
  */
final class VcfDataWriter(dir: String, fm: GraftWrite.FieldMap,
    header: Option[String], bgzf: Boolean, index: Boolean,
    conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  import GraftWrite._

  private val dirPath = new Path(dir)
  private val fs: FileSystem = dirPath.getFileSystem(conf)
  private val ext = if (bgzf) ".vcf.gz" else ".vcf"
  private val fin =
    new Path(dirPath, f"part-$partitionId%05d-$taskId%d$ext")
  private val stage = new Path(dirPath, "." + "stage-" + fin.getName)

  private var out: java.io.OutputStream = _
  private var bgz: BgzfOutputStream = _
  private var builder: TabixIndex.Builder = _
  private var samples: Seq[String] = _
  private var spool: Spool = _
  private var vocab: Vocab = _
  private var wrote = false
  // staged index path, tracked as a field so abort()/close() can clean
  // it up when commit() dies between writing it and the renames
  private var stageIdx: Path = _

  private def openStream(headerText: String): Unit = {
    samples = samplePanel(headerText)
    if (bgzf) {
      bgz = new BgzfOutputStream(fs.create(stage, true))
      out = bgz
      if (index) builder = new TabixIndex.Builder(fin.toString)
    } else
      out = new java.io.BufferedOutputStream(fs.create(stage, true), 1 << 16)
    out.write(headerText.getBytes(StandardCharsets.UTF_8))
  }

  private def emit(r: Rec): Unit = {
    val gmap = r.gtKeys.zip(r.gtVals).toMap
    val fixed = Seq(r.chrom, r.pos.toString, r.id, r.ref, r.alt, r.qual,
      r.filter, r.info) ++
      (if (samples.nonEmpty) Seq(r.format) else Nil)
    val calls = samples.map(s => gmap.getOrElse(s, "./."))
    val v0 = if (builder != null) bgz.voff else 0L
    out.write(((fixed ++ calls).mkString("\t") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    if (builder != null)
      // END-aware span (BcfWriter.spanOf — htslib's tabix VCF preset
      // parses INFO END=): banded-gVCF/symbolic records bin over the
      // whole band, so external region queries inside the band hit
      builder.record(r.chrom, r.pos.toLong,
        BcfWriter.spanOf(r.pos, r.ref, r.info), v0, bgz.voff)
  }

  override def write(row: InternalRow): Unit = {
    val r = extract(row, fm, "./.")
    if (!wrote) {
      wrote = true
      header match {
        case Some(h) => openStream(h)
        case None => spool = new Spool; vocab = new Vocab
      }
    }
    if (spool != null) { vocab.add(r); spool.add(r) }
    else emit(r)
  }

  override def commit(): WriterCommitMessage = {
    if (!wrote) return GraftShardCommit(Seq.empty)
    if (spool != null) {
      openStream(vocab.header)
      try spool.replay(emit) finally { spool.delete(); spool = null }
    }
    if (bgz != null) bgz.finish()
    out.close(); out = null; bgz = null
    var visible = List(fin.toString)
    if (builder != null && !builder.isEmpty) {
      // classic .tbi iff the shard fits tabix's fixed geometry,
      // else .csi at the escalated depth (htslib's fallback rule);
      // index renamed BEFORE the shard — never an index-less shard
      val idx = builder.build()
      val finIdx =
        if (builder.chosenDepth == 5 && builder.maxEnd0 <= (1L << 29))
          TabixIndex.sibling(fin)
        else TabixIndex.csiSibling(fin)
      stageIdx = new Path(dirPath, "." + "stage-" + finIdx.getName)
      if (finIdx.getName.endsWith(".tbi"))
        TabixIndex.writeTbi(fs, stageIdx, idx)
      else TabixIndex.writeCsi(fs, stageIdx, idx, 14, builder.chosenDepth)
      require(fs.rename(stageIdx, finIdx),
        s"commit rename $stageIdx -> $finIdx failed")
      stageIdx = null
      visible ::= finIdx.toString
      builder = null
    }
    require(fs.rename(stage, fin), s"commit rename $stage -> $fin failed")
    GraftShardCommit(visible)
  }

  override def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Exception => } }
    if (spool != null) spool.delete()
    try fs.delete(stage, false) catch { case _: Exception => }
    if (stageIdx != null) {
      try fs.delete(stageIdx, false) catch { case _: Exception => }
      stageIdx = null
    }
  }

  override def close(): Unit = {
    if (out != null) { try out.close() catch { case _: Exception => };
      out = null }
    if (spool != null) { spool.delete(); spool = null }
    if (stageIdx != null) {
      try fs.delete(stageIdx, false) catch { case _: Exception => }
      stageIdx = null
    }
  }
}
