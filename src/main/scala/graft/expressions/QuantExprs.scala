package graft.expressions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, KnownNotNull}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The codebooks of one vector quantizer: M subspaces × K codewords ×
  * `sub` dims, each codeword labelled by `ids(k)` (ascending). An IVF
  * coarse quantizer is the M = 1 bank whose codewords are the nlist
  * centroids, labelled by centroid id; a PQ bank labels its codewords
  * 0..K−1. A RESIDUAL PQ bank also carries the IVF centroids its
  * codewords are relative to (`cellIds` ascending, `cells` their
  * vectors): the kernels compute `‖v − (c[cell] + r)‖²`, never the
  * nlist × M × K shifted copies.
  *
  * The bank rides generated code as ONE reference object, so the
  * generated text is the same for every bank of a shape — a training
  * loop's iterations hit Spark's codegen cache instead of re-compiling
  * literals. Equality is by value, so equal banks canonicalize equal.
  */
final class QuantBank private (
    val ids: Array[Long],
    val books: Array[Array[Array[Double]]],
    val exact: Boolean,
    val cellIds: Array[Long],
    val cells: Array[Array[Double]]) extends Serializable {
  val m: Int = books.length
  val k: Int = ids.length
  val sub: Int = books(0)(0).length
  def residual: Boolean = cellIds.nonEmpty

  /** Index of `cell` in the centroid set, or −1 when absent. */
  def cellIndex(cell: Long): Int = {
    val i = java.util.Arrays.binarySearch(cellIds, cell)
    if (i < 0) -1 else i
  }

  @transient private lazy val key = (ids.toSeq, books.toSeq.map(_.toSeq.map(_.toSeq)), exact,
    cellIds.toSeq, cells.toSeq.map(_.toSeq))
  override def equals(o: Any): Boolean = o match {
    case b: QuantBank => key == b.key
    case _ => false
  }
  override def hashCode: Int = key.hashCode

  // plan strings show the shape, never the values
  override def toString: String =
    s"QuantBank(m=$m, k=$k, sub=$sub${if (residual) s", nlist=${cellIds.length}" else ""})"
}

object QuantBank {

  /** IVF coarse quantizer over (cid, centroid) pairs: the input vector
    * must have exactly the centroid dimension (any other length, or a
    * null element, gives a null distance — the `l2sq` contract).
    */
  def centroids(cents: Seq[(Long, Seq[Double])]): QuantBank = {
    require(cents.nonEmpty, "a centroid bank needs at least one centroid")
    val dims = cents.map(_._2.length).distinct
    require(dims.length == 1, s"centroids must share one dimension, got $dims")
    val sorted = cents.sortBy(_._1)
    new QuantBank(sorted.map(_._1).toArray,
      Array(sorted.map(_._2.toArray).toArray), exact = true,
      Array.empty, Array.empty)
  }

  /** PQ codebooks `books(m)(k)`, flat or (with `cents`) residual.
    * Subspace m reads elements [m·sub, (m+1)·sub) of the input — the
    * `slice` contract: a vector too short for a subspace (or with a
    * null element in it) gives null distances there, and a longer one's
    * tail is ignored.
    */
  def codebooks(books: Seq[Seq[Seq[Double]]],
      cents: Seq[(Long, Seq[Double])] = Nil): QuantBank = {
    require(books.nonEmpty && books.head.nonEmpty, "codebooks must be non-empty")
    val k = books.head.length
    val sub = books.head.head.length
    require(books.forall(bk => bk.length == k && bk.forall(_.length == sub)),
      s"every subspace needs $k codewords of $sub dims")
    val sorted = cents.sortBy(_._1)
    val cellIds = sorted.map(_._1).toArray
    require(cellIds.distinct.length == cellIds.length,
      "residual centroid ids must be distinct")
    require(cents.forall(_._2.length == books.length * sub),
      s"residual centroids must have ${books.length * sub} dims")
    new QuantBank((0 until k).map(_.toLong).toArray,
      books.map(_.map(_.toArray).toArray).toArray, exact = false,
      cellIds, sorted.map(_._2.toArray).toArray)
  }
}

/** Static kernels behind [[NearestCodeExpr]] and [[AdcTableExpr]] —
  * each expression is one call into here.
  *
  * Distances are bit-identical to `VectorExprs.l2sq(subvector, codeword)`
  * over pre-shifted codewords: the same element widening, the same
  * strict left-to-right `s += (x − y)²` fold, with `y = c + r` for a
  * residual bank (the double a pre-shifted codeword holds) and `y = r`
  * for a flat one. A subspace whose slice is short, or holds a
  * null element, has a null distance to every codeword.
  */
object QuantKernels {

  val CodeType: StructType = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("code", LongType, nullable = false)))

  /** The `vf` element code of a vector column: double 0, float 1, long 2,
    * int 3 (the `VectorExprs.elem` widening). */
  def vecCode(dt: DataType): Int = dt match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case ArrayType(IntegerType, _) => 3
    case other => throw new IllegalArgumentException(
      s"a quantizer expects array<double|float|long|int> vectors, got ${other.simpleString}")
  }

  /** Whether subspace `mi` of `v` yields distances (see object doc). */
  private def valid(v: ArrayData, bank: QuantBank, mi: Int): Boolean = {
    val n = v.numElements()
    val off = mi * bank.sub
    if (if (bank.exact) n != bank.sub else n < off + bank.sub) return false
    var j = 0
    while (j < bank.sub) {
      if (v.isNullAt(off + j)) return false
      j += 1
    }
    true
  }

  private def dist(v: ArrayData, vf: Int, bank: QuantBank, cent: Array[Double],
      mi: Int, kk: Int): Double = {
    val r = bank.books(mi)(kk)
    val off = mi * bank.sub
    var s = 0.0
    var j = 0
    while (j < bank.sub) {
      val x = VectorExprs.elem(v, off + j, vf)
      val y = if (cent == null) r(j) else cent(off + j) + r(j)
      val d = x - y
      s += d * d
      j += 1
    }
    s
  }

  /** Spark's double ordering: NaN after every number. */
  @inline private def before(a: Double, b: Double): Boolean =
    a < b || (java.lang.Double.isNaN(b) && !java.lang.Double.isNaN(a))

  private val Missing = new Array[Double](0)

  /** Centroid of the row's cell: null for a flat bank, [[Missing]] when
    * a residual bank has no such cell (or the cell is null).
    */
  private def centroid(bank: QuantBank, cellNull: Boolean, cell: Long): Array[Double] =
    if (!bank.residual) null
    else if (cellNull) Missing
    else {
      val i = bank.cellIndex(cell)
      if (i < 0) Missing else bank.cells(i)
    }

  /** Per subspace, the `n` nearest codewords as (d, code) structs in
    * (distance, code) order — Spark's struct ordering: a null distance
    * first, NaN last, ties to the lower code. Null for a residual row
    * whose cell is null or not in the bank; a null `v` has null
    * distances everywhere.
    */
  def nearestK(bank: QuantBank, v: ArrayData, vf: Int, cellNull: Boolean,
      cell: Long, n: Int): ArrayData = {
    val cent = centroid(bank, cellNull, cell)
    if (cent eq Missing) null
    else {
      val top = math.min(n, bank.k)
      val out = new Array[Any](bank.m * top)
      val bestD = new Array[Double](top)
      val bestK = new Array[Int](top)
      var mi = 0
      while (mi < bank.m) {
        if (v == null || !valid(v, bank, mi)) {
          var t = 0
          while (t < top) { out(mi * top + t) = row(null, bank.ids(t)); t += 1 }
        } else {
          var filled = 0
          var kk = 0
          while (kk < bank.k) {
            val d = dist(v, vf, bank, cent, mi, kk)
            if (filled < top || before(d, bestD(top - 1))) {
              // insertion point after every entry not worse than d, so
              // equal distances keep the lower code first
              var p = math.min(filled, top - 1)
              while (p > 0 && before(d, bestD(p - 1))) {
                bestD(p) = bestD(p - 1); bestK(p) = bestK(p - 1); p -= 1
              }
              bestD(p) = d; bestK(p) = kk
              if (filled < top) filled += 1
            }
            kk += 1
          }
          var t = 0
          while (t < top) {
            out(mi * top + t) = row(java.lang.Double.valueOf(bestD(t)), bank.ids(bestK(t)))
            t += 1
          }
        }
        mi += 1
      }
      new GenericArrayData(out)
    }
  }

  private def row(d: java.lang.Double, code: Long): InternalRow =
    new GenericInternalRow(Array[Any](d, code))

  /** The M×K asymmetric-distance table, entry m·K + k = distance of
    * subspace m to codeword k (null where the subspace is invalid).
    * Null for a residual row whose cell is null or not in the bank.
    */
  def adcTableK(bank: QuantBank, v: ArrayData, vf: Int, cellNull: Boolean,
      cell: Long): ArrayData = {
    val cent = centroid(bank, cellNull, cell)
    if (cent eq Missing) null
    else {
      val out = new Array[Any](bank.m * bank.k)
      var mi = 0
      while (mi < bank.m) {
        if (v != null && valid(v, bank, mi)) {
          var kk = 0
          while (kk < bank.k) {
            out(mi * bank.k + kk) = java.lang.Double.valueOf(dist(v, vf, bank, cent, mi, kk))
            kk += 1
          }
        }
        mi += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** One codeword's Lloyd partials: per dim the element count `n`, null
  * elements included, and the exact sum of the non-null decimal(18,6)
  * elements as a 128-bit unscaled integer; and the objective term, the
  * sum of its vectors' non-null winning distances. Decimal addition is
  * exact, so partials merge in any order to the sum Spark's
  * `sum(decimal(18,6))` returns.
  */
final class LloydSlot extends Serializable {
  private var n, hi, lo = Array.emptyLongArray
  private var some = Array.emptyBooleanArray
  private var qe = 0.0

  /** Dims this codeword saw elements at: [0, dims). */
  def dims: Int = n.length
  def count(dim: Int): Long = n(dim)
  def objective: Double = qe

  private[expressions] def reserve(len: Int): Unit = if (len > n.length) {
    n = java.util.Arrays.copyOf(n, len)
    hi = java.util.Arrays.copyOf(hi, len)
    lo = java.util.Arrays.copyOf(lo, len)
    some = java.util.Arrays.copyOf(some, len)
  }

  /** Counts an element at `dim`; a null `x` counts but adds nothing. */
  private[expressions] def addElem(dim: Int, x: Decimal): Unit = {
    n(dim) += 1
    if (x != null) {
      val l = x.toUnscaledLong
      add(dim, l >> 63, l)
    }
  }

  private[expressions] def addDist(d: Double): Unit = qe += d

  private def add(d: Int, h: Long, l: Long): Unit = {
    val a = lo(d)
    val r = a + l
    hi(d) += h + (if (java.lang.Long.compareUnsigned(r, a) < 0) 1L else 0L)
    lo(d) = r
    some(d) = true
  }

  /** The sum at `dim` as decimal(28,6), Spark's `sum` result type: null
    * when every element was null, and past 28 digits null (or, with
    * `ansi`, an overflow error) like Spark's overflowing sum.
    */
  def sum(dim: Int, ansi: Boolean): java.math.BigDecimal =
    if (!some(dim)) null
    else {
      val h = hi(dim)
      val l = lo(dim)
      val unscaled =
        if (h == (l >> 63)) java.math.BigInteger.valueOf(l)
        else java.math.BigInteger.valueOf(h).shiftLeft(64)
          .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(l)))
      val s = new java.math.BigDecimal(unscaled, 6)
      if (s.precision <= 28) s
      else if (ansi) throw new ArithmeticException(s"decimal(28,6) sum overflow: $s")
      else null
    }

  /** Adds `o` into this one and returns it. */
  def merge(o: LloydSlot): LloydSlot = {
    reserve(o.dims)
    var d = 0
    while (d < o.dims) {
      n(d) += o.n(d)
      if (o.some(d)) add(d, o.hi(d), o.lo(d))
      d += 1
    }
    qe += o.qe
    this
  }
}

/** The partials of one Lloyd re-estimation over a bank's codewords, one
  * [[LloydSlot]] per codeword that captured a vector: slot m·K + k for
  * subspace m, codeword k (an IVF cell is slot k of its M = 1 bank).
  */
final class LloydSums private (private val slots: Array[LloydSlot]) extends Serializable {

  /** Slot `s`'s partials; None when it captured nothing. */
  def apply(s: Int): Option[LloydSlot] = Option(slots(s))

  /** The objective: every slot's term, summed in slot order. */
  def objective: Double = slots.iterator.filter(_ != null).map(_.objective).sum

  private def slot(s: Int): LloydSlot = {
    if (slots(s) == null) slots(s) = new LloydSlot
    slots(s)
  }

  /** Adds `o` into this one and returns it. */
  def merge(o: LloydSums): LloydSums = {
    for (s <- slots.indices if o.slots(s) != null) slot(s).merge(o.slots(s))
    this
  }

  private def touched: Iterator[(Int, LloydSlot)] =
    slots.iterator.zipWithIndex.collect { case (c, s) if c != null => s -> c }
}

object LloydSums {

  def empty(bank: QuantBank): LloydSums = new LloydSums(new Array[LloydSlot](bank.m * bank.k))

  /** The most partial bytes a round sends to the driver as task results
    * (see [[reduce]]); a quarter of `spark.driver.maxResultSize` when
    * that is smaller. */
  val DirectBytes: Long = 16L << 20

  /** Casts a double to decimal(18,6) by Spark's rule under the session's
    * ANSI mode: the residual re-estimation casts `x − c[cell][p]`.
    */
  def decimalCast(): Expression = org.apache.spark.sql.catalyst.expressions.Cast(
    org.apache.spark.sql.catalyst.expressions.BoundReference(0, DoubleType, nullable = true),
    DecimalType(18, 6))

  /** One re-estimation round over `rows` (see [[fold]]) as one job: each
    * task folds its partition into one partial. A partial holds at most
    * codewords × dims × 25 bytes (dims = the bank's dimension; only a
    * vector longer than that, which the quantizer scores null, goes
    * past it). When partitions × that bound fits [[DirectBytes]], the
    * job is one stage and the driver merges the partials in partition
    * order. Past it, the executors merge them first, per codeword
    * through `reduceByKey` as Spark MLlib's KMeans does (one shuffle),
    * so the driver receives about one partial's bytes whatever the
    * partition count, and `spark.driver.maxResultSize` bounds the bank,
    * not the partition count.
    */
  def reduce(rows: RDD[InternalRow], bank: QuantBank, vf: Int, cast: Expression): LloydSums = {
    val partials = rows.mapPartitions(it => Iterator(fold(bank, vf, cast, it)))
    val parts = partials.getNumPartitions
    val slots = bank.m * bank.k
    val maxResult = rows.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val limit = if (maxResult > 0) math.min(DirectBytes, maxResult / 4) else DirectBytes
    if (parts.toLong * slots * (bank.sub * 25L + 64) <= limit)
      partials.collect().foldLeft(empty(bank))(_ merge _)
    else {
      val out = empty(bank)
      partials.flatMap(_.touched).reduceByKey(_ merge _, math.min(parts, slots)).collect()
        .foreach { case (s, c) => out.slots(s) = c }
      out
    }
  }

  /** One partition's partials. Each row is (v, dv) — the vector and its
    * elements cast to decimal(18,6) — under a flat bank, and (v, cell)
    * under a residual one, whose residual components `x − c[cell][p]`
    * go through `cast` ([[decimalCast]]). Each row is assigned with
    * [[QuantKernels.nearestK]]: the (distance, code) ties, NaN and
    * wrong-length handling of every quantizer operator. Every element p
    * of the vector counts at (slot of its subspace's code, its dim):
    * under an IVF (exact) bank all of them, dim p; under a PQ bank those
    * of the M subspaces, dim p mod sub. A residual row whose cell is
    * null or not in the bank, and a null vector, add nothing.
    */
  def fold(bank: QuantBank, vf: Int, cast: Expression,
      rows: Iterator[InternalRow]): LloydSums = {
    val out = empty(bank)
    val one = new GenericInternalRow(1)
    while (rows.hasNext) {
      val row = rows.next()
      val v = if (row.isNullAt(0)) null else row.getArray(0)
      val cellNull = bank.residual && row.isNullAt(1)
      val cell = if (bank.residual && !cellNull) row.getLong(1) else 0L
      val nc = if (v == null) null else QuantKernels.nearestK(bank, v, vf, cellNull, cell, 1)
      if (nc != null && v.numElements() > 0) {
        val len = if (bank.exact) v.numElements() else math.min(v.numElements(), bank.m * bank.sub)
        val cent = if (bank.residual) bank.cells(bank.cellIndex(cell)) else null
        val dv = if (bank.residual) null else row.getArray(1)
        val subspaces = if (bank.exact) 1 else (len + bank.sub - 1) / bank.sub
        var mi = 0
        while (mi < subspaces) {
          val hit = nc.getStruct(mi, 2)
          val c = out.slot(mi * bank.k + java.util.Arrays.binarySearch(bank.ids, hit.getLong(1)))
          if (!hit.isNullAt(0)) c.addDist(hit.getDouble(0))
          val from = mi * bank.sub
          val until = if (bank.exact) len else math.min(len, from + bank.sub)
          c.reserve(until - from)
          var p = from
          while (p < until) {
            c.addElem(p - from,
              if (v.isNullAt(p)) null
              else if (dv != null) dv.getDecimal(p, 18, 6)
              else {
                one.update(0, VectorExprs.elem(v, p, vf) - cent(p))
                cast.eval(one).asInstanceOf[Decimal]
              })
            p += 1
          }
          mi += 1
        }
      }
    }
    out
  }
}

/** Shared shape of the two quantizer expressions: children are the
  * vector and, for a residual bank, its IVF cell (bigint).
  */
sealed abstract class QuantExpr extends Expression {
  def bank: QuantBank
  /** [[QuantKernels]] method, called as (bank, v, vf, cellNull, cell, extra…). */
  protected def kernelName: String
  protected def extraArgs: Seq[Any] = Nil
  protected def kernel(v: ArrayData, vf: Int, cellNull: Boolean, cell: Long): ArrayData

  override def nullable: Boolean = bank.residual

  private def vf: Int = QuantKernels.vecCode(children.head.dataType)

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case ArrayType(DoubleType | FloatType | LongType | IntegerType, _) +: cell
        if cell == (if (bank.residual) Seq(LongType) else Nil) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double|float|long|int>" +
        s"${if (bank.residual) ", bigint cell" else ""}), got ${other.map(_.simpleString)}")
  }

  override def eval(input: InternalRow): Any = {
    val cell = children.lift(1).map(_.eval(input)).orNull
    kernel(children.head.eval(input).asInstanceOf[ArrayData], vf,
      bank.residual && cell == null, if (cell == null) 0L else cell.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bankRef = ctx.addReferenceObj("quantBank", bank, classOf[QuantBank].getName)
    val v = children.head.genCode(ctx)
    val cell = children.lift(1).map(_.genCode(ctx))
    val args = Seq(bankRef, s"${v.isNull} ? null : ${v.value}", vf,
      cell.fold("false")(_.isNull.toString), cell.fold("0L")(_.value.toString)) ++ extraArgs
    val code =
      s"""
         |${v.code}
         |${cell.fold("")(_.code.toString)}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.expressions.QuantKernels.$kernelName(${args.mkString(", ")});
         |boolean ${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    ev.copy(code = Block.BlockHelper(new StringContext(code)).code())
  }
}

/** `nearest_code(v, bank[, cell])`: per subspace the `n` nearest
  * codewords as array<struct<d, code>> of length M·min(n, K), subspace
  * major (see [[QuantKernels.nearestK]]).
  */
case class NearestCodeExpr(bank: QuantBank, n: Int, children: Seq[Expression])
    extends QuantExpr {
  require(n >= 1, s"n must be >= 1, got $n")
  override def prettyName: String = "nearest_code"
  override def dataType: DataType = ArrayType(QuantKernels.CodeType, containsNull = false)
  override protected def kernelName: String = "nearestK"
  override protected def extraArgs: Seq[Any] = Seq(n)
  override protected def kernel(v: ArrayData, vf: Int, cellNull: Boolean, cell: Long): ArrayData =
    QuantKernels.nearestK(bank, v, vf, cellNull, cell, n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCodeExpr = copy(children = newChildren)
}

/** `adc_table(v, bank[, cell])`: the M×K distance table as an
  * array<double> (see [[QuantKernels.adcTableK]]).
  */
case class AdcTableExpr(bank: QuantBank, children: Seq[Expression]) extends QuantExpr {
  override def prettyName: String = "adc_table"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override protected def kernelName: String = "adcTableK"
  override protected def kernel(v: ArrayData, vf: Int, cellNull: Boolean, cell: Long): ArrayData =
    QuantKernels.adcTableK(bank, v, vf, cellNull, cell)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdcTableExpr = copy(children = newChildren)
}

object QuantExprs {
  private def args(v: Column, bank: QuantBank, cell: Option[Column]): Seq[Expression] = {
    require(cell.isDefined == bank.residual, "a residual bank needs a cell column, a flat one none")
    (v +: cell.map(_.cast("long")).toSeq).map(Bridge.expression)
  }

  def nearestCode(v: Column, bank: QuantBank, n: Int = 1,
      cell: Option[Column] = None): Column =
    Bridge.column(NearestCodeExpr(bank, n, args(v, bank, cell)))

  def adcTable(v: Column, bank: QuantBank, cell: Option[Column] = None): Column =
    Bridge.column(AdcTableExpr(bank, args(v, bank, cell)))

  /** Entry `i` of a [[nearestCode]] result's code (or distance) field.
    * A flat bank never yields a null array or a null code, so its code
    * column keeps the non-null type the literal argmin had — a nullable
    * one would add `isnotnull` filters that re-run the kernel.
    */
  def codeAt(nc: Column, i: Int, bank: QuantBank): Column = {
    val c = nc.getItem(i).getField("code")
    if (bank.residual) c else Bridge.column(KnownNotNull(Bridge.expression(c)))
  }

  def distAt(nc: Column, i: Int): Column = nc.getItem(i).getField("d")
}
