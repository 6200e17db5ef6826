package graft.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, InterpretedOrdering, RowOrdering, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A sorted per-chromosome index over closed intervals — the small side
  * of every range join, collected to the driver with one job and bound
  * to generated code by reference (the [[QuantBank]] pattern), so no
  * value enters the generated source.
  *
  * Per chromosome the intervals are sorted by start, each carrying the
  * max end of its implicit augmented interval tree (the IITree of Li &
  * Rong, "Bedtk: finding interval overlap with implicit interval tree",
  * Bioinformatics 37(9), 2021): an overlap probe costs O(log n + hits).
  * A nearest-ready index also holds, per sorted position, the row with
  * the prefix max of `(end, start, payload…)` and the suffix min of
  * `(start, end, payload…)` under Spark's struct ordering — the left and
  * right neighbours of any position are one binary search away.
  *
  * Every probe hit is the interval's row minus its chromosome column
  * (`payloadType`, in input column order); rows with a null chromosome,
  * start or end are not indexed, so they never match.
  */
final class IntervalIndex private (
    val payloadType: StructType,
    chroms: Array[String],
    segOff: Array[Int],
    roots: Array[Int],
    starts: Array[Long],
    ends: Array[Long],
    maxEnds: Array[Long],
    rowBytes: Array[Byte],
    rowOff: Array[Int],
    leftBest: Array[Int],
    rightBest: Array[Int]) extends Serializable {

  def size: Int = starts.length
  def nearestReady: Boolean = leftBest != null

  @transient private lazy val segOf: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    chroms.indices.foreach(i => m.put(UTF8String.fromString(chroms(i)), i))
    m
  }

  @transient private lazy val rows: Array[UnsafeRow] = Array.tabulate(size) { i =>
    val r = new UnsafeRow(payloadType.length)
    r.pointTo(rowBytes, Platform.BYTE_ARRAY_OFFSET + rowOff(i), rowOff(i + 1) - rowOff(i))
    r
  }

  private def segment(chrom: UTF8String): Int = {
    val s = segOf.get(chrom)
    if (s == null) -1 else s.intValue
  }

  /** Rows of the intervals on `chrom` that overlap the closed `[st, en]`,
    * in start order: `start <= en && st <= end`.
    */
  def hits(chrom: UTF8String, st: Long, en: Long): ArrayData = {
    val seg = segment(chrom)
    if (seg < 0) IntervalKernels.Empty
    else {
      val off = segOff(seg)
      val n = segOff(seg + 1) - off
      var out: Array[AnyRef] = null
      var nOut = 0
      def emit(i: Int): Unit = {
        if (out == null) out = new Array[AnyRef](4)
        else if (nOut == out.length) out = java.util.Arrays.copyOf(out, nOut * 2)
        out(nOut) = rows(i)
        nOut += 1
      }
      // top-down traversal of the implicit tree: a node at x on level k
      // covers [x − 2^k + 1, x + 2^k − 1]; each stack entry packs
      // (x, k, left-child-done) into one long
      val root = roots(seg)
      val stack = new Array[Long](2 * root + 4)
      var t = 0
      stack(0) = ((1L << root) - 1) << 8 | root.toLong << 1
      t = 1
      while (t > 0) {
        t -= 1
        val x = stack(t) >>> 8
        val k = ((stack(t) >>> 1) & 0x7f).toInt
        if (k <= 3) {
          // small subtree: linear scan in start order
          val i0 = x >> k << k
          val i1 = math.min(i0 + (1L << (k + 1)) - 1, n.toLong)
          var i = (off + i0).toInt
          val stop = (off + i1).toInt
          while (i < stop && starts(i) <= en) {
            if (st <= ends(i)) emit(i)
            i += 1
          }
        } else if ((stack(t) & 1L) == 0) {
          val y = x - (1L << (k - 1)) // left child; may lie past n
          stack(t) |= 1L
          t += 1
          if (y >= n || maxEnds(off + y.toInt) >= st) {
            stack(t) = y << 8 | (k - 1).toLong << 1
            t += 1
          }
        } else if (x < n && starts(off + x.toInt) <= en) {
          if (st <= ends(off + x.toInt)) emit(off + x.toInt)
          stack(t) = (x + (1L << (k - 1))) << 8 | (k - 1).toLong << 1
          t += 1
        }
      }
      if (nOut == 0) IntervalKernels.Empty
      else new GenericArrayData(if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
    }
  }

  /** The left and right neighbours of `pos` on `chrom` as one
    * `(__bl, __br)` struct in a one-element array: `__bl` is the max
    * `(end, start, payload…)` interval starting at or before pos, `__br`
    * the min `(start, end, payload…)` one starting at or after it. Empty
    * when the chromosome has no interval.
    */
  def nearest(chrom: UTF8String, pos: Long): ArrayData = {
    val seg = segment(chrom)
    if (seg < 0) IntervalKernels.Empty
    else {
      val off = segOff(seg)
      val end = segOff(seg + 1)
      // first sorted index with start > pos, and first with start >= pos
      val after = IntervalKernels.firstAbove(starts, off, end, pos)
      val from = IntervalKernels.firstAbove(starts, off, end, pos - 1)
      val l = if (after > off) rows(leftBest(after - 1)) else null
      val r = if (from < end) rows(rightBest(from)) else null
      new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](l, r))))
    }
  }

  // plan strings show the shape, never the values
  override def toString: String =
    s"IntervalIndex(rows=$size, chroms=${chroms.length}${if (nearestReady) ", nearest" else ""})"
}

object IntervalIndex {

  /** Spark's own bound on the rows of a broadcast relation
    * (`BroadcastExchangeExec`); the byte bound is
    * `spark.sql.maxBroadcastTableSize`.
    */
  val MaxRows: Long = 512000000L

  /** Whether a collected side of `rows` rows and `bytes` bytes stays
    * inside Spark's broadcast-table bounds (the same strict tests).
    */
  def fits(rows: Long, bytes: Long, maxBytes: Long): Boolean =
    rows < MaxRows && bytes < maxBytes

  /** Collect `intervals` (chromCol, startCol, endCol, …) into an index
    * with one job. `op` and `side` name the operator and the input for
    * the size guard's message; `nearest` adds the neighbour tables.
    */
  def collect(intervals: DataFrame, chromCol: String, startCol: String,
      endCol: String, op: String, side: String,
      nearest: Boolean = false): IntervalIndex = {
    val payloadNames = intervals.columns.toSeq.filterNot(_ == chromCol)
    val payload = struct(payloadNames.map(c => col(s"`$c`")): _*)
    val picked = intervals
      .select(col(chromCol).cast("string").as("c"), col(startCol).cast("long").as("s"),
        col(endCol).cast("long").as("e"), payload.as("p"))
      .where(col("c").isNotNull && col("s").isNotNull && col("e").isNotNull)
    val payloadType = picked.schema(3).dataType.asInstanceOf[StructType]
    val collected = Bridge.collectInternal(picked)
    val nf = payloadType.length
    val n = collected.length
    val bytes = collected.iterator.map(_.getStruct(3, nf).asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    val maxBytes = SQLConf.get.maxBroadcastTableSizeInBytes
    require(fits(n.toLong, bytes, maxBytes),
      s"$op: the $side side holds $n rows ($bytes bytes), past Spark's broadcast-table " +
        s"bounds ($MaxRows rows, $maxBytes bytes); the $side must be the small side " +
        "— it is collected into a per-chromosome index")
    require(bytes <= Int.MaxValue - 16, s"$op: the $side side's $n rows take $bytes bytes, " +
      s"past the 2 GB one index holds; the $side must be the small side")
    if (nearest) {
      val bad = payloadType.fields.filterNot(f => RowOrdering.isOrderable(f.dataType))
      require(bad.isEmpty, s"$op: interval columns ${bad.map(_.name).mkString(", ")} " +
        "are not orderable, so the nearest tie rule cannot compare them")
    }

    // chromosome-major, start-sorted order
    val order = collected.indices
      .map(i => (collected(i).getUTF8String(0).toString, collected(i).getLong(1),
        collected(i).getLong(2), i))
      .sorted.map(_._4).toArray
    val chroms = scala.collection.mutable.ArrayBuffer.empty[String]
    val segOff = scala.collection.mutable.ArrayBuffer.empty[Int]
    val starts = new Array[Long](n)
    val ends = new Array[Long](n)
    val rowOff = new Array[Int](n + 1)
    val rowBytes = new Array[Byte](math.toIntExact(bytes))
    var j = 0
    while (j < n) {
      val r = collected(order(j))
      val c = r.getUTF8String(0).toString
      if (chroms.isEmpty || chroms.last != c) { chroms += c; segOff += j }
      starts(j) = r.getLong(1)
      ends(j) = r.getLong(2)
      val p = r.getStruct(3, nf).asInstanceOf[UnsafeRow]
      p.writeToMemory(rowBytes, Platform.BYTE_ARRAY_OFFSET + rowOff(j))
      rowOff(j + 1) = rowOff(j) + p.getSizeInBytes
      j += 1
    }
    segOff += n
    val offs = segOff.toArray
    val maxEnds = new Array[Long](n)
    val roots = Array.tabulate(chroms.length)(s =>
      IntervalKernels.buildTree(starts, ends, maxEnds, offs(s), offs(s + 1) - offs(s)))

    val (leftBest, rightBest) =
      if (!nearest) (null, null)
      else {
        val si = payloadNames.indexOf(startCol)
        val ei = payloadNames.indexOf(endCol)
        val rest = payloadNames.indices.filterNot(i => i == si || i == ei)
        val restTypes = rest.map(i => payloadType(i).dataType)
        val ord = InterpretedOrdering.forSchema(Seq(LongType, LongType) ++ restTypes)
        def key(j: Int, first: Long, second: Long): InternalRow = {
          val p = collected(order(j)).getStruct(3, nf)
          new GenericInternalRow((Seq[Any](first, second) ++
            rest.map(i => p.get(i, payloadType(i).dataType))).toArray)
        }
        val lk = Array.tabulate(n)(j => key(j, ends(j), starts(j)))
        val rk = Array.tabulate(n)(j => key(j, starts(j), ends(j)))
        val lb = new Array[Int](n)
        val rb = new Array[Int](n)
        offs.indices.init.foreach { s =>
          var i = offs(s)
          while (i < offs(s + 1)) {
            lb(i) = if (i == offs(s) || ord.gt(lk(i), lk(lb(i - 1)))) i else lb(i - 1)
            i += 1
          }
          i = offs(s + 1) - 1
          while (i >= offs(s)) {
            rb(i) = if (i == offs(s + 1) - 1 || ord.lt(rk(i), rk(rb(i + 1)))) i else rb(i + 1)
            i -= 1
          }
        }
        (lb, rb)
      }
    new IntervalIndex(payloadType, chroms.toArray, offs, roots, starts, ends,
      maxEnds, rowBytes, rowOff, leftBest, rightBest)
  }
}

/** Static helpers behind [[IntervalIndex]] and the two expressions. */
object IntervalKernels {

  val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  def hits(ix: IntervalIndex, chrom: UTF8String, st: Long, en: Long): ArrayData =
    ix.hits(chrom, st, en)

  def nearest(ix: IntervalIndex, chrom: UTF8String, pos: Long): ArrayData =
    ix.nearest(chrom, pos)

  /** First index in `[from, until)` of the sorted `a` whose value
    * exceeds `v` (`until` when none does).
    */
  def firstAbove(a: Array[Long], from: Int, until: Int, v: Long): Int = {
    var lo = from
    var hi = until
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Fill `maxEnds` for the start-sorted segment `[off, off + n)` as an
    * implicit interval tree (leaves at even positions, level-k nodes at
    * positions ≡ 2^k − 1 mod 2^(k+1)); returns the root level.
    */
  def buildTree(starts: Array[Long], ends: Array[Long], maxEnds: Array[Long],
      off: Int, n: Int): Int = {
    var lastI = 0L
    var last = 0L
    var i = 0L
    while (i < n) {
      lastI = i
      maxEnds(off + i.toInt) = ends(off + i.toInt)
      last = maxEnds(off + i.toInt)
      i += 2
    }
    var k = 1
    while ((1L << k) <= n) {
      val x = 1L << (k - 1)
      val step = x << 2
      i = (x << 1) - 1
      while (i < n) {
        val el = maxEnds(off + (i - x).toInt)
        val er = if (i + x < n) maxEnds(off + (i + x).toInt) else last
        maxEnds(off + i.toInt) = math.max(ends(off + i.toInt), math.max(el, er))
        i += step
      }
      lastI = if (((lastI >> k) & 1L) != 0) lastI - x else lastI + x
      if (lastI < n && maxEnds(off + lastI.toInt) > last) last = maxEnds(off + lastI.toInt)
      k += 1
    }
    k - 1
  }
}

/** Shared shape of the two probes: children are the chromosome
  * (string) and bigint coordinates; a null child gives an empty array,
  * so a null never matches.
  */
sealed abstract class IntervalProbeExpr extends Expression {
  def index: IntervalIndex
  protected def kernelName: String
  protected def kernel(chrom: UTF8String, coords: Seq[Long]): ArrayData

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) IntervalKernels.Empty
    else kernel(vs.head.asInstanceOf[UTF8String], vs.tail.map(_.asInstanceOf[Long]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intervalIndex", index, classOf[IntervalIndex].getName)
    val cs = children.map(_.genCode(ctx))
    val anyNull = cs.map(_.isNull.toString).mkString(" || ")
    val code =
      s"""
         |${cs.map(_.code.toString).mkString("\n")}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ($anyNull)
         |  ? graft.expressions.IntervalKernels.Empty()
         |  : graft.expressions.IntervalKernels.$kernelName($ref, ${cs.map(_.value).mkString(", ")});
       """.stripMargin
    ev.copy(code = Block.BlockHelper(new StringContext(code)).code(), isNull = FalseLiteral)
  }
}

/** `interval_hits(chrom, start, end, index)`: the rows of the indexed
  * intervals overlapping the closed `[start, end]` (a point is
  * `[pos, pos]`), as array<payload struct>.
  */
case class IntervalHitsExpr(index: IntervalIndex, children: Seq[Expression])
    extends IntervalProbeExpr {
  override def prettyName: String = "interval_hits"
  override def dataType: DataType = ArrayType(index.payloadType, containsNull = false)
  override protected def kernelName: String = "hits"
  override protected def kernel(chrom: UTF8String, coords: Seq[Long]): ArrayData =
    index.hits(chrom, coords(0), coords(1))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IntervalHitsExpr = copy(children = newChildren)
}

/** `interval_nearest(chrom, pos, index)`: the left and right neighbours
  * of `pos` (see [[IntervalIndex.nearest]]).
  */
case class IntervalNearestExpr(index: IntervalIndex, children: Seq[Expression])
    extends IntervalProbeExpr {
  require(index.nearestReady, "interval_nearest needs an index collected with nearest = true")
  override def prettyName: String = "interval_nearest"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("__bl", index.payloadType, nullable = true),
    StructField("__br", index.payloadType, nullable = true))), containsNull = false)
  override protected def kernelName: String = "nearest"
  override protected def kernel(chrom: UTF8String, coords: Seq[Long]): ArrayData =
    index.nearest(chrom, coords(0))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): IntervalNearestExpr = copy(children = newChildren)
}

object IntervalExprs {
  private def key(chrom: Column, coords: Column*): Seq[Expression] =
    (chrom.cast("string") +: coords.map(_.cast("long"))).map(Bridge.expression)

  def hits(chrom: Column, start: Column, end: Column, index: IntervalIndex): Column =
    Bridge.column(IntervalHitsExpr(index, key(chrom, start, end)))

  def nearest(chrom: Column, pos: Column, index: IntervalIndex): Column =
    Bridge.column(IntervalNearestExpr(index, key(chrom, pos)))
}
