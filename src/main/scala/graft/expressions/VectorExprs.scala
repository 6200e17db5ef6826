package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen kernels for the ANN hot path (dot / squared-L2 /
  * cosine over embedding arrays).
  *
  * The HOF formulation (`aggregate(zip_with(...))`) is NOT codegen'd —
  * higher-order functions are CodegenFallback in Spark, so every probe
  * comparison ran an interpreted fold over 64-element arrays (SURVEY §8
  * learned the same lesson on minhash). These expressions compile to one
  * static-method call inside WholeStageCodegen; cosine is additionally
  * FUSED (a·b, a·a, b·b in a single pass instead of three).
  *
  * Semantics preserved from the fold form, so the DuckDB oracles keep
  * matching bit-for-bit: strict left-to-right double accumulation,
  * float elements widened per-element, NULL result on length mismatch
  * or any NULL element (zip_with pads / null-propagates the same way).
  */
object VectorExprs {

  def dot(a: Column, b: Column): Column =
    Bridge.column(DotExpr(Bridge.expression(a), Bridge.expression(b)))

  def l2sq(a: Column, b: Column): Column =
    Bridge.column(L2SqExpr(Bridge.expression(a), Bridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineExpr(Bridge.expression(a), Bridge.expression(b)))

  /** One-pass pair sums over two aligned dosage arrays (see
    * [[LdSumsExpr]]): [n, Σx, Σy, Σx², Σy², Σxy] over the positions
    * where BOTH entries are ≥ 0 (negative = missing-call sentinel).
    */
  def ldSums(xs: Column, ys: Column): Column =
    Bridge.column(LdSumsExpr(Bridge.expression(xs), Bridge.expression(ys)))

  // ---- scalar kernels (called from generated code) ---------------------
  // Boxed Double returns: null encodes "invalid input" (length mismatch /
  // null element) so codegen can set isNull — one small box per row is
  // noise next to the interpreted-fold alternative.

  /** Element accessor by type code: 0=double 1=float 2=long 3=int —
    * integral embeddings (quantized int8/int32 stored as int/long) widen
    * per element exactly like the old HOF form's cast did.
    */
  @inline private[expressions] def elem(a: ArrayData, i: Int, code: Int): Double = code match {
    case 0 => a.getDouble(i)
    case 1 => a.getFloat(i).toDouble
    case 2 => a.getLong(i).toDouble
    case _ => a.getInt(i).toDouble
  }

  def dotK(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, af)
      val y = elem(b, i, bf)
      s += x * y
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  def l2sqK(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, af)
      val y = elem(b, i, bf)
      val d = x - y
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Fused cosine: ab / (sqrt(aa) * sqrt(bb)), each sum its own strict
    * left-to-right accumulator — bit-identical to three separate folds.
    */
  def cosineK(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, af)
      val y = elem(b, i, bf)
      ab += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
  }

  /** One-pass k-permutation minhash kernel: for each j,
    * min over x of (x·a(j) + b(j)) mod m. Null elements skipped; an
    * empty/all-null input yields null (no shingles → no signature).
    */
  def minhashK(arr: ArrayData, as: Array[Long], bs: Array[Long],
      mod: Long): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val x = arr.getLong(i)
        var j = 0
        while (j < k) {
          val h = (x * as(j) + bs(j)) % mod
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (!any) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** 64-bit SimHash over DISTINCT token rolling-hashes, bit-identical
    * to Dedup.simhashTable's aggregation: each hash x1 (already mod
    * 1e9+7) derives x2/x3 by the 48271-MCG chain, bits 0-29 vote from
    * x1, 30-59 from x2, 60-63 from x3, and a bit sets when its ±1 vote
    * sum is strictly positive. Empty array → null (simhashTable's
    * explode drops token-less docs entirely; the per-row twin must not
    * invent an all-zeros hash for them). Null elements are skipped.
    */
  def simhash64K(a: ArrayData): java.lang.Long = {
    val n = a.numElements()
    var voted = false
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x1 = a.getLong(i)
        val x2 = (x1 * 48271L + 11L) % 999999937L
        val x3 = (x2 * 48271L + 11L) % 999999937L
        voted = true
        var b = 0
        while (b < 64) {
          val src = if (b < 30) x1 >> b else if (b < 60) x2 >> (b - 30) else x3 >> (b - 60)
          votes(b) += (if ((src & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    if (!voted) return null
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  /** Kernel of [[LdSumsExpr]]: null on length mismatch; skips positions
    * where either dosage is negative (missing sentinel).
    */
  def ldSumsK(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var cnt = 0L; var sx = 0L; var sy = 0L
    var sxx = 0L; var syy = 0L; var sxy = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      val y = b.getLong(i)
      if (x >= 0L && y >= 0L) {
        cnt += 1; sx += x; sy += y
        sxx += x * x; syy += y * y; sxy += x * y
      }
      i += 1
    }
    new GenericArrayData(Array[Any](cnt, sx, sy, sxx, syy, sxy))
  }

  /** [[ldSumsK]] over array<tinyint> dosage vectors — the carried-
    * payload diet for the LD pair join: a diploid dosage is {-1,0,1,2}
    * so a byte slot carries it exactly, and the pair join's exchange +
    * sort buffers shrink 8× vs array<long> (the q208 GC fix). Byte →
    * long widening before the products keeps every sum bit-identical
    * to the long kernel.
    */
  def ldSumsKB(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var cnt = 0L; var sx = 0L; var sy = 0L
    var sxx = 0L; var syy = 0L; var sxy = 0L
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      if (x >= 0L && y >= 0L) {
        cnt += 1; sx += x; sy += y
        sxx += x * x; syy += y * y; sxy += x * y
      }
      i += 1
    }
    new GenericArrayData(Array[Any](cnt, sx, sy, sxx, syy, sxy))
  }

  /** One-pass 32-bit simhash kernel over long token hashes. */
  def simhash32K(a: ArrayData): Long = {
    val n = a.numElements()
    val votes = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = a.getLong(i)
        var b = 0
        while (b < 32) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Shared shape of the three vector kernels: array of any numeric
  * fixed-width element (double/float/long/int — ints cover quantized
  * embeddings) ×2 → double, nullable (length mismatch / null element →
  * NULL). Unsupported element types fail at ANALYSIS time via
  * checkInputDataTypes, not mid-job.
  */
abstract class VectorBinaryExpr extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Kernel name in [[VectorExprs]]. */
  protected def kernel: String

  protected def call(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double

  /** Element-type code for the kernels (resolved by eval time). */
  private def elemCode(e: Expression): Int = e.dataType match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case ArrayType(IntegerType, _) => 3
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<double|float|long|int> inputs, got $other")
  }

  private def supported(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType | FloatType | LongType | IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (supported(left.dataType) && supported(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float|long|int> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    call(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemCode(left), elemCode(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val af = elemCode(left)
    val bf = elemCode(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecRes")
      s"""
      java.lang.Double $r = graft.expressions.VectorExprs.$kernel($a, $b, $af, $bf);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
      """
    })
  }
}

/** One-pass LD pair-sum kernel over two position-ALIGNED int64 dosage
  * arrays (one slot per cohort sample, negative = missing call): emits
  * [n, Σx, Σy, Σx², Σy², Σxy] as exact longs over the CO-CALLED
  * positions — the per-pair genotype-correlation substrate without
  * exploding pairs × samples rows. NULL on length mismatch (arrays
  * from different cohort layouts) rather than silent truncation.
  */
case class LdSumsExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ld_sums"

  // array<long> (original) or array<tinyint> (the q208 payload diet —
  // byte dosage slots shrink the pair join's carried vectors 8×); the
  // byte kernel widens before the products so sums are bit-identical
  private def isByte: Boolean = left.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<long> or two array<tinyint> " +
          s"inputs, got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isByte)
      VectorExprs.ldSumsKB(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VectorExprs.ldSumsK(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (isByte) "ldSumsKB" else "ldSumsK"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("ldRes")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $r =
        graft.expressions.VectorExprs.$kernel($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LdSumsExpr =
    copy(left = l, right = r)
}

case class DotExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "vec_dot"
  override protected def kernel: String = "dotK"
  override protected def call(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double =
    VectorExprs.dotK(a, b, af, bf)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExpr =
    copy(left = l, right = r)
}

case class L2SqExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "vec_l2sq"
  override protected def kernel: String = "l2sqK"
  override protected def call(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double =
    VectorExprs.l2sqK(a, b, af, bf)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqExpr =
    copy(left = l, right = r)
}

case class CosineExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "vec_cosine"
  override protected def kernel: String = "cosineK"
  override protected def call(a: ArrayData, b: ArrayData, af: Int, bf: Int): java.lang.Double =
    VectorExprs.cosineK(a, b, af, bf)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineExpr =
    copy(left = l, right = r)
}

/** 32-bit SimHash over an array of token hashes: bit b of the result is
  * set when the per-bit ±1 majority vote over elements is positive — one
  * pass with 32 counters, codegen'd. Replaces the HOF formulation
  * (32 interpreted aggregate() folds per row: the streaming near-dup
  * path's dominant cost, and the same CodegenFallback lesson as dot).
  * NULL elements are skipped (vote 0), matching the HOF's null-addition
  * semantics closely enough for fingerprinting; a NULL array → NULL.
  */
case class Simhash32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"
  override def nullable: Boolean = true

  // ArrayData.getLong reads raw 8-byte slots: a non-long element type
  // (array<int> is 4-byte-packed) would yield garbage, so reject it at
  // analysis time like VectorBinaryExpr does.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    VectorExprs.simhash32K(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expressions.VectorExprs.simhash32K($a)")

  override protected def withNewChildInternal(newChild: Expression): Simhash32Expr =
    copy(child = newChild)
}

/** 64-bit SimHash over an array of DISTINCT token rolling-hashes — the
  * per-row codegen'd twin of Dedup.simhashTable's explode + 64-vote
  * aggregation (which a stream cannot run statelessly). Bit-identical
  * by construction: same x1→x2→x3 MCG bit sources, same strict-majority
  * rule; NULL array or token-less doc → NULL, mirroring the
  * aggregation's absent row. One pass, 64 counters, no CodegenFallback.
  */
case class Simhash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    VectorExprs.simhash64K(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("sh64")
      s"""
      java.lang.Long $r = graft.expressions.VectorExprs.simhash64K($a);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash64Expr =
    copy(child = newChild)
}

/** k-permutation MinHash signature over an array of shingle hashes —
  * one pass with k running mins (h_j(x) = (a_j·x + b_j) mod m), codegen'd.
  * Replaces the HOF formulation (k interpreted array_min(transform(…))
  * folds per row — k passes over the array, all CodegenFallback: the
  * same lesson as dot/simhash32, SURVEY §8). Coefficient banks are
  * Seq in the case class (array fields break expression equality) and
  * shipped into generated code as reference objects. NULL array or a
  * shingle-less doc → NULL signature.
  */
case class MinhashSigExpr(child: Expression, as: Seq[Long], bs: Seq[Long],
    mod: Long) extends UnaryExpression {
  require(as.length == bs.length && as.nonEmpty,
    s"coefficient banks must align: ${as.length} vs ${bs.length}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> input, got ${other.simpleString}")
  }

  @transient private lazy val asArr = as.toArray
  @transient private lazy val bsArr = bs.toArray

  override protected def nullSafeEval(a: Any): Any =
    VectorExprs.minhashK(a.asInstanceOf[ArrayData], asArr, bsArr, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashAs", asArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashBs", bsArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("sig")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $r =
        graft.expressions.VectorExprs.minhashK($c, $aRef, $bRef, ${mod}L);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}
