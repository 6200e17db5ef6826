package graft.expressions

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

  private def vf: Int = children.head.dataType match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case _ => 3
  }

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
