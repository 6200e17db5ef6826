package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Minimal SQLITE 3 file reader/writer — just enough of the
  * documented format (sqlite.org/fileformat2.html) to consume and
  * emit `.bgi` indexes (bgenix's sqlite sidecar for BGEN files, the
  * index UK Biobank releases actually ship). No query engine, no
  * journal, no indexes: a full table-btree scan on the read side and
  * a bottom-up btree build for sequential-rowid inserts on the write
  * side. Anything outside that surface — WAL files, overflow
  * payloads, non-UTF8 encodings, freelists in files we read — fails
  * loudly rather than mis-decoding.
  *
  * Scale posture: a `.bgi` is index-sized (≈100 bytes/variant — tens
  * of MB for a biobank chromosome vs hundreds of GB of genotypes),
  * so the whole file rides driver memory and the read replaces the
  * per-file BGEN metadata pass (the `format("bgen")` planner's offset
  * walk) with a seek-free scan of the index alone.
  */
object SqliteLite {

  // ---- varint (1-9 bytes, big-endian 7-bit groups, 9th has 8) ----
  private def readVarint(d: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val b = d(off + i) & 0xff
      if ((b & 0x80) == 0) return (v << 7 | b, i + 1)
      v = v << 7 | (b & 0x7f)
      i += 1
    }
    ((v << 8) | (d(off + 8) & 0xff), 9)
  }

  private[sources] def writeVarint(v: Long): Array[Byte] = {
    require(v >= 0, s"negative varint $v unsupported")
    if (v <= 0x7f) Array(v.toByte)
    else {
      val groups = new Array[Int](9)
      var n = 0
      var x = v
      while (x != 0 || n == 0) { groups(n) = (x & 0x7f).toInt; x >>>= 7; n += 1 }
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        out(i) = ((groups(n - 1 - i) | (if (i < n - 1) 0x80 else 0))).toByte
        i += 1
      }
      out
    }
  }

  private def u16(d: Array[Byte], o: Int): Int =
    ((d(o) & 0xff) << 8) | (d(o + 1) & 0xff)
  private def u32(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)

  /** A parsed database held fully in memory (index-sized files). */
  final class Db private[SqliteLite] (data: Array[Byte]) {
    require(data.length >= 100 &&
      new String(data, 0, 16, StandardCharsets.ISO_8859_1)
        .startsWith("SQLite format 3"),
      "not a SQLite 3 file")
    val pageSize: Int = {
      val raw = u16(data, 16)
      if (raw == 1) 65536 else raw
    }
    require(pageSize >= 512 && (pageSize & (pageSize - 1)) == 0,
      s"bad page size $pageSize")
    private val reserved = data(20) & 0xff
    val usable: Int = pageSize - reserved
    require((u32(data, 56) == 1L),
      "only UTF-8 text encoding supported")

    private def pageOff(page: Int): Int = (page - 1) * pageSize

    /** Decode the record payload at `off` (no overflow support —
      * loud). Returns column values: null / java.lang.Long /
      * java.lang.Double / String / Array[Byte]. */
    private def readRecord(off: Int, len: Long): Array[Any] = {
      val (hdrLen, n0) = readVarint(data, off)
      var hp = off + n0
      val hEnd = off + hdrLen.toInt
      var dp = hEnd
      val vals = Seq.newBuilder[Any]
      while (hp < hEnd) {
        val (st, n) = readVarint(data, hp)
        hp += n
        st match {
          case 0L => vals += null
          case t if t >= 1L && t <= 6L =>
            val w = t match {
              case 1L => 1; case 2L => 2; case 3L => 3; case 4L => 4
              case 5L => 6; case _ => 8
            }
            var v = (data(dp).toLong) // sign-extends
            var i = 1
            while (i < w) { v = (v << 8) | (data(dp + i) & 0xffL); i += 1 }
            vals += java.lang.Long.valueOf(v)
            dp += w
          case 7L =>
            var bits = 0L
            var i = 0
            while (i < 8) { bits = (bits << 8) | (data(dp + i) & 0xffL); i += 1 }
            vals += java.lang.Double.valueOf(
              java.lang.Double.longBitsToDouble(bits))
            dp += 8
          case 8L => vals += java.lang.Long.valueOf(0L)
          case 9L => vals += java.lang.Long.valueOf(1L)
          case t if t >= 12L =>
            val blobLen = ((t - (if (t % 2 == 0) 12L else 13L)) / 2L).toInt
            if (t % 2 == 0) {
              vals += java.util.Arrays.copyOfRange(data, dp, dp + blobLen)
            } else {
              vals += new String(data, dp, blobLen, StandardCharsets.UTF_8)
            }
            dp += blobLen
          case t => throw new IllegalArgumentException(
            s"unsupported serial type $t")
        }
      }
      require(dp - off <= len,
        s"record decode overran its declared payload ($len bytes)")
      vals.result().toArray
    }

    /** Full scan of the btree rooted at `root` in key order; emits
      * (rowid, columns). Handles BOTH storage forms: rowid tables
      * (page types 5/13) and WITHOUT ROWID tables stored as index
      * btrees (types 2/10 — bgenix's `Variant` PRIMARY KEY form,
      * where interior cells carry REAL rows that an in-order
      * traversal must emit exactly once; rowid reported as 0). */
    private def walk(root: Int,
        out: (Long, Array[Any]) => Unit): Unit = {
      val base = pageOff(root)
      val hdr = base + (if (root == 1) 100 else 0)
      val ptype = data(hdr) & 0xff
      val nCells = u16(data, hdr + 3)
      // htslib-independent overflow bounds (sqlite fileformat2 §B-tree
      // Pages): table leaf X = U−35; index pages X = ((U−12)·64/255)−23
      val maxLocalTable = usable - 35
      val maxLocalIndex = ((usable - 12) * 64 / 255) - 23
      ptype match {
        case 5 => // interior table: children left-to-right, then rightmost
          var i = 0
          while (i < nCells) {
            val cp = base + u16(data, hdr + 12 + 2 * i)
            walk(u32(data, cp).toInt, out)
            i += 1
          }
          walk(u32(data, hdr + 8).toInt, out)
        case 13 => // leaf table
          var i = 0
          while (i < nCells) {
            val cp = base + u16(data, hdr + 8 + 2 * i)
            val (payLen, n1) = readVarint(data, cp)
            val (rowid, n2) = readVarint(data, cp + n1)
            require(payLen <= maxLocalTable,
              s"overflow payload ($payLen bytes) unsupported — " +
                "the .bgi row surface never needs it")
            out(rowid, readRecord(cp + n1 + n2, payLen))
            i += 1
          }
        case 2 => // interior index: in-order, cells ARE rows
          var i = 0
          while (i < nCells) {
            val cp = base + u16(data, hdr + 12 + 2 * i)
            walk(u32(data, cp).toInt, out)
            val (payLen, n1) = readVarint(data, cp + 4)
            require(payLen <= maxLocalIndex,
              s"overflow index payload ($payLen bytes) unsupported")
            out(0L, readRecord(cp + 4 + n1, payLen))
            i += 1
          }
          walk(u32(data, hdr + 8).toInt, out)
        case 10 => // leaf index
          var i = 0
          while (i < nCells) {
            val cp = base + u16(data, hdr + 8 + 2 * i)
            val (payLen, n1) = readVarint(data, cp)
            require(payLen <= maxLocalIndex,
              s"overflow index payload ($payLen bytes) unsupported")
            out(0L, readRecord(cp + n1, payLen))
            i += 1
          }
        case t => throw new IllegalArgumentException(
          s"unsupported btree page type $t at page $root")
      }
    }

    /** (name → (rootpage, CREATE sql)) from sqlite_master. */
    lazy val tables: Map[String, (Int, String)] = {
      val m = Map.newBuilder[String, (Int, String)]
      walk(1, (_, cols) => {
        // sqlite_master: (type, name, tbl_name, rootpage, sql)
        if (cols.length >= 5 && cols(0) == "table")
          m += cols(1).asInstanceOf[String] ->
            ((cols(3).asInstanceOf[java.lang.Long].intValue(),
              cols(4).asInstanceOf[String]))
      })
      m.result()
    }

    /** Full-scan a table by name, ascending rowid. */
    def scan(table: String): Seq[Array[Any]] = {
      val (root, _) = tables.getOrElse(table,
        throw new IllegalArgumentException(
          s"table '$table' not in this database (has: " +
            s"${tables.keys.mkString(", ")})"))
      val out = Seq.newBuilder[Array[Any]]
      walk(root, (_, cols) => out += cols)
      out.result()
    }
  }

  /** Read a whole database file through the Hadoop FS (driver-side;
    * index-sized files only — loudly bounded). */
  def open(spark: SparkSession, path: String,
      maxBytes: Long = 2L << 30): Db = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    require(st.getLen <= maxBytes,
      s"$path is ${st.getLen} bytes — larger than the $maxBytes " +
        "driver-side bound for index files")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](st.getLen.toInt)
      var off = 0
      while (off < buf.length) {
        val r = in.read(buf, off, buf.length - off)
        require(r >= 0, s"$path truncated while reading")
        off += r
      }
      new Db(buf)
    } finally in.close()
  }

  // ======================= writer =======================

  /** One column value to encode: null, Long, Double, String or
    * Array[Byte]. */
  private def serialOf(v: Any): (Long, Array[Byte]) = v match {
    case null => (0L, Array.empty[Byte])
    case l: Long =>
      if (l == 0L) (8L, Array.empty[Byte])
      else if (l == 1L) (9L, Array.empty[Byte])
      else {
        // minimal two's-complement width among 1,2,3,4,6,8
        def fits(bits: Int): Boolean =
          l >= -(1L << (bits - 1)) && l < (1L << (bits - 1))
        val (st, w) =
          if (fits(8)) (1L, 1) else if (fits(16)) (2L, 2)
          else if (fits(24)) (3L, 3) else if (fits(32)) (4L, 4)
          else if (fits(48)) (5L, 6) else (6L, 8)
        val b = new Array[Byte](w)
        var i = 0
        while (i < w) { b(w - 1 - i) = ((l >> (8 * i)) & 0xff).toByte; i += 1 }
        (st, b)
      }
    case d: Double =>
      val bits = java.lang.Double.doubleToLongBits(d)
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(7 - i) = ((bits >> (8 * i)) & 0xff).toByte; i += 1 }
      (7L, b)
    case s: String =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      (13L + 2L * b.length, b)
    case a: Array[Byte] => (12L + 2L * a.length, a)
    case other => throw new IllegalArgumentException(
      s"unsupported column value ${other.getClass}")
  }

  private def record(cols: Seq[Any]): Array[Byte] = {
    val st = cols.map(serialOf)
    val typeBytes = st.map(t => writeVarint(t._1))
    // header length includes its own varint — sizes here are < 128
    val bodyLen = typeBytes.map(_.length).sum
    val hdrLen = bodyLen + 1
    require(hdrLen < 128, "record header too wide")
    val out = new java.io.ByteArrayOutputStream()
    out.write(writeVarint(hdrLen.toLong))
    typeBytes.foreach(out.write)
    st.foreach(t => out.write(t._2))
    out.toByteArray
  }

  private final val PageSize = 4096

  /** Build a single-table database — see [[writeTables]]. */
  def writeTable(spark: SparkSession, path: String, table: String,
      create: String, rows: Iterator[Seq[Any]]): Unit =
    writeTables(spark, path, Seq((table, create, rows)))

  /** Build a database of one or more tables: each `create` is the
    * literal CREATE statement recorded in sqlite_master, rows insert
    * with rowids 1..n per table. Bottom-up btree per table: leaves
    * fill in rowid order, interior levels stack until one root
    * remains. Payloads must fit their page (no overflow — loudly
    * checked; `.bgi` rows are ~100 B). */
  def writeTables(spark: SparkSession, path: String,
      tables: Seq[(String, String, Iterator[Seq[Any]])]): Unit = {
    val usable = PageSize
    val maxLocal = usable - 35
    val pages = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def emit(pg: Array[Byte]): Int = { pages += pg; pages.length + 1 }

    final case class PageBuf(cells: Seq[Array[Byte]], maxRowid: Long)
    def leafPage(pb: PageBuf): Array[Byte] = {
      val pg = new Array[Byte](PageSize)
      pg(0) = 13
      val n = pb.cells.length
      pg(3) = (n >> 8).toByte; pg(4) = (n & 0xff).toByte
      var contentStart = usable
      var i = 0
      pb.cells.foreach { c =>
        contentStart -= c.length
        System.arraycopy(c, 0, pg, contentStart, c.length)
        pg(8 + 2 * i) = (contentStart >> 8).toByte
        pg(8 + 2 * i + 1) = (contentStart & 0xff).toByte
        i += 1
      }
      pg(5) = (contentStart >> 8).toByte; pg(6) = (contentStart & 0xff).toByte
      pg
    }

    def buildTable(rows: Iterator[Seq[Any]]): Int = {
      val leaves = Seq.newBuilder[PageBuf]
      var cur = Seq.newBuilder[Array[Byte]]
      var curBytes = 0
      var curCells = 0
      var rowid = 0L
      var curMax = 0L
      def flushLeaf(): Unit = if (curCells > 0) {
        leaves += PageBuf(cur.result(), curMax)
        cur = Seq.newBuilder[Array[Byte]]; curBytes = 0; curCells = 0
      }
      rows.foreach { r =>
        rowid += 1
        val pay = record(r)
        require(pay.length <= maxLocal,
          s"row $rowid payload ${pay.length} B exceeds the " +
            s"no-overflow bound $maxLocal")
        val cell = {
          val o = new java.io.ByteArrayOutputStream()
          o.write(writeVarint(pay.length.toLong))
          o.write(writeVarint(rowid))
          o.write(pay)
          o.toByteArray
        }
        if (8 + 2 * (curCells + 1) + curBytes + cell.length > usable)
          flushLeaf()
        cur += cell; curBytes += cell.length; curCells += 1; curMax = rowid
      }
      flushLeaf()
      val leafPages = leaves.result()
      require(leafPages.nonEmpty, "cannot write an empty table")
      var level: Seq[(Int, Long)] =
        leafPages.map(pb => (emit(leafPage(pb)), pb.maxRowid))
      while (level.length > 1) {
        val next = Seq.newBuilder[(Int, Long)]
        var group = Seq.newBuilder[(Int, Long)]
        var gBytes = 0
        var gCount = 0
        def flushInterior(): Unit = {
          val kids = group.result()
          if (kids.nonEmpty) {
            val pg = new Array[Byte](PageSize)
            pg(0) = 5
            val inner = kids.dropRight(1)
            val n = inner.length
            pg(3) = (n >> 8).toByte; pg(4) = (n & 0xff).toByte
            val right = kids.last
            pg(8) = ((right._1 >> 24) & 0xff).toByte
            pg(9) = ((right._1 >> 16) & 0xff).toByte
            pg(10) = ((right._1 >> 8) & 0xff).toByte
            pg(11) = (right._1 & 0xff).toByte
            var contentStart = usable
            var i = 0
            inner.foreach { case (child, key) =>
              val kb = writeVarint(key)
              val cell = new Array[Byte](4 + kb.length)
              cell(0) = ((child >> 24) & 0xff).toByte
              cell(1) = ((child >> 16) & 0xff).toByte
              cell(2) = ((child >> 8) & 0xff).toByte
              cell(3) = (child & 0xff).toByte
              System.arraycopy(kb, 0, cell, 4, kb.length)
              contentStart -= cell.length
              System.arraycopy(cell, 0, pg, contentStart, cell.length)
              pg(12 + 2 * i) = (contentStart >> 8).toByte
              pg(12 + 2 * i + 1) = (contentStart & 0xff).toByte
              i += 1
            }
            pg(5) = (contentStart >> 8).toByte
            pg(6) = (contentStart & 0xff).toByte
            next += ((emit(pg), kids.last._2))
            group = Seq.newBuilder[(Int, Long)]; gBytes = 0; gCount = 0
          }
        }
        level.foreach { kid =>
          // conservative: 13 B/cell worst case + 12 B header
          if (12 + 2 * (gCount + 1) + gBytes + 13 > usable) flushInterior()
          group += kid; gBytes += 13; gCount += 1
        }
        flushInterior()
        level = next.result()
      }
      level.head._1
    }

    val roots = tables.map { case (name, create, rows) =>
      (name, create, buildTable(rows))
    }

    // page 1: header + sqlite_master leaf with one row per table
    val masterCells = roots.zipWithIndex.map {
      case ((name, create, root), i) =>
        val rec = record(Seq("table", name, name, root.toLong, create))
        val o = new java.io.ByteArrayOutputStream()
        o.write(writeVarint(rec.length.toLong))
        o.write(writeVarint((i + 1).toLong))
        o.write(rec)
        o.toByteArray
    }
    require(100 + 8 + masterCells.map(c => 2 + c.length).sum <= usable,
      "sqlite_master rows too large for page 1")
    val page1 = new Array[Byte](PageSize)
    val magic = "SQLite format 3\u0000".getBytes(StandardCharsets.ISO_8859_1)
    System.arraycopy(magic, 0, page1, 0, 16)
    page1(16) = (PageSize >> 8).toByte; page1(17) = (PageSize & 0xff).toByte
    page1(18) = 1; page1(19) = 1 // legacy file format
    page1(21) = 64; page1(22) = 32; page1(23) = 32
    val nPages = pages.length + 1
    page1(28) = ((nPages >> 24) & 0xff).toByte
    page1(29) = ((nPages >> 16) & 0xff).toByte
    page1(30) = ((nPages >> 8) & 0xff).toByte
    page1(31) = (nPages & 0xff).toByte
    page1(43) = 1 // schema cookie
    page1(47) = 1 // schema format 1
    page1(59) = 1 // text encoding utf-8 (bytes 56-59 big-endian)
    page1(100) = 13
    val nM = masterCells.length
    page1(103) = (nM >> 8).toByte; page1(104) = (nM & 0xff).toByte
    var cStart = usable
    var mi = 0
    masterCells.foreach { c =>
      cStart -= c.length
      System.arraycopy(c, 0, page1, cStart, c.length)
      page1(108 + 2 * mi) = (cStart >> 8).toByte
      page1(108 + 2 * mi + 1) = (cStart & 0xff).toByte
      mi += 1
    }
    page1(105) = (cStart >> 8).toByte; page1(106) = (cStart & 0xff).toByte

    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try {
      out.write(page1)
      pages.foreach(out.write)
    } finally out.close()
  }
}
