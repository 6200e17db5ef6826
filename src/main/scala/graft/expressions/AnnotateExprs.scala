package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** pandasVCF's per-call annotation (variant_annotations.py:15-127) as
  * static kernels over the raw call bytes — the ONE implementation of
  * allele and zygosity semantics behind
  * [[graft.operators.VariantAnnotator.annotate]] and the
  * [[graft.functions.VariantFunctions]] Column wrappers:
  *
  *  - GT is the call's first `:`-subfield, whatever FORMAT says (a
  *    GT-less record's first value is read as its GT); NULL, `./.`,
  *    `.|.`, `.` and empty GTs are missing calls;
  *  - phase is `|` if GT holds a `|`, else `/` if it holds a `/`, else
  *    `-`; gt1/gt2 are the texts before and after the first `/` or
  *    `|` (gt2 up to the next one; NULL for a haploid call);
  *  - an allele index resolves against `[REF, alt1, alt2, …]` (ALT split
  *    on `,`, empties kept): a NULL or `.` index is `.`; one or more
  *    ASCII digits within range is that allele; anything else — empty,
  *    signed, fractional, non-digit, out of range — is NULL;
  *  - zygosity keeps the reference's branch ORDER and CASE-WHEN's
  *    three-valued NULL handling (a comparison with NULL never fires a
  *    branch, so a NULL allele falls through to `het-ref` unless the
  *    other allele is `.`).
  *
  * Every returned string is either a constant or a zero-copy view into
  * the input's bytes; the only per-call allocation is the output row.
  */
object CallAnnotationKernel {
  private val Dot = UTF8String.fromString(".")
  private val Phased = UTF8String.fromString("|")
  private val Unphased = UTF8String.fromString("/")
  private val Haploid = UTF8String.fromString("-")
  private val HomRef = UTF8String.fromString("hom-ref")
  private val HomMiss = UTF8String.fromString("hom-miss")
  private val HetMiss = UTF8String.fromString("het-miss")
  private val HetAlt = UTF8String.fromString("het-alt")
  private val HomAlt = UTF8String.fromString("hom-alt")
  private val HetRef = UTF8String.fromString("het-ref")

  /** Field layout of [[annotateCalls]]' rows. */
  val CallSchema: StructType = StructType(Seq(
    StructField("sample_id", StringType, nullable = false),
    StructField("call", StringType, nullable = true),
    StructField("gt", StringType, nullable = true),
    StructField("phase", StringType, nullable = false),
    StructField("gt1", StringType, nullable = true),
    StructField("gt2", StringType, nullable = true),
    StructField("a1", StringType, nullable = true),
    StructField("a2", StringType, nullable = true),
    StructField("zygosity", StringType, nullable = false)))

  @inline private def byteAt(s: UTF8String, i: Int): Byte =
    Platform.getByte(s.getBaseObject, s.getBaseOffset + i)

  private def view(s: UTF8String, from: Int, until: Int): UTF8String =
    UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, until - from)

  /** `[REF, alt1, alt2, …]`; a NULL ALT gives a NULL table. */
  private def alleles(ref: UTF8String, alt: UTF8String): Array[UTF8String] = {
    if (alt == null) return null
    val n = alt.numBytes
    var commas = 0
    var i = 0
    while (i < n) { if (byteAt(alt, i) == ',') commas += 1; i += 1 }
    val out = new Array[UTF8String](commas + 2)
    out(0) = ref
    var k = 1
    var st = 0
    i = 0
    while (i <= n) {
      if (i == n || byteAt(alt, i) == ',') { out(k) = view(alt, st, i); k += 1; st = i + 1 }
      i += 1
    }
    out
  }

  /** The allele named by the index text `s[from, until)`. */
  private def alleleAt(table: Array[UTF8String], s: UTF8String,
      from: Int, until: Int): UTF8String = {
    if (until - from == 1 && byteAt(s, from) == '.') return Dot
    if (table == null || until == from) return null
    var v = 0
    var i = from
    while (i < until) {
      val b = byteAt(s, i)
      if (b < '0' || b > '9') return null
      v = v * 10 + (b - '0')
      if (v >= table.length) return null
      i += 1
    }
    table(v)
  }

  def alleleBase(ref: UTF8String, alt: UTF8String, idx: UTF8String): UTF8String =
    if (idx == null) Dot else alleleAt(alleles(ref, alt), idx, 0, idx.numBytes)

  def zygosity(ref: UTF8String, a1: UTF8String, a2: UTF8String): UTF8String =
    if (ref != null && ref.equals(a1) && ref.equals(a2)) HomRef
    else if (Dot.equals(a1) && Dot.equals(a2)) HomMiss
    else if (Dot.equals(a1) || Dot.equals(a2)) HetMiss
    else if (ref == null || a1 == null || a2 == null) HetRef
    else if (!a1.equals(ref) && !a2.equals(ref)) { if (a1.equals(a2)) HomAlt else HetAlt }
    else HetRef

  /** One call's GT parse; one instance serves all calls of a row. */
  private final class Gt {
    var end = 0 // GT = call[0, end)
    var sep = -1 // first '/' or '|' in GT; -1 for a haploid call
    var end2 = 0 // gt2 = call[sep + 1, end2)
    var phase: UTF8String = _
    var a1: UTF8String = _
    var a2: UTF8String = _
    var zygosity: UTF8String = _
  }

  /** Parses `call` into `g`; false for a missing call. */
  private def parse(table: Array[UTF8String], ref: UTF8String,
      call: UTF8String, g: Gt): Boolean = {
    if (call == null) return false
    val n = call.numBytes
    var end = 0
    var sep = -1
    var sep2 = -1
    var pipe = false
    while (end < n && byteAt(call, end) != ':') {
      val b = byteAt(call, end)
      if (b == '|' || b == '/') {
        if (b == '|') pipe = true
        if (sep < 0) sep = end else if (sep2 < 0) sep2 = end
      }
      end += 1
    }
    if (end == 0 || (end == 1 && byteAt(call, 0) == '.') ||
      (end == 3 && sep == 1 && byteAt(call, 0) == '.' && byteAt(call, 2) == '.'))
      return false
    g.end = end
    g.sep = sep
    g.end2 = if (sep2 < 0) end else sep2
    g.phase = if (pipe) Phased else if (sep >= 0) Unphased else Haploid
    g.a1 = alleleAt(table, call, 0, if (sep < 0) end else sep)
    g.a2 = if (sep < 0) Dot else alleleAt(table, call, sep + 1, g.end2)
    g.zygosity = zygosity(ref, g.a1, g.a2)
    true
  }

  /** Hom-ref calls among a wide row's genotypes (0 for a NULL map). */
  def homRefCount(ref: UTF8String, alt: UTF8String, genotypes: MapData): Int = {
    if (genotypes == null) return 0
    val table = alleles(ref, alt)
    val calls = genotypes.valueArray()
    val g = new Gt
    var hr = 0
    var i = 0
    while (i < calls.numElements()) {
      if (!calls.isNullAt(i) && parse(table, ref, calls.getUTF8String(i), g) &&
        (g.zygosity eq HomRef)) hr += 1
      i += 1
    }
    hr
  }

  /** A wide row's non-missing calls as [[CallSchema]] rows, hom-refs
    * left out when `dropHomRef` (empty for a NULL map). */
  def annotateCalls(ref: UTF8String, alt: UTF8String, genotypes: MapData,
      dropHomRef: Boolean): ArrayData = {
    if (genotypes == null) return new GenericArrayData(Array.empty[Any])
    val table = alleles(ref, alt)
    val samples = genotypes.keyArray()
    val calls = genotypes.valueArray()
    val n = calls.numElements()
    val out = new Array[Any](n)
    val g = new Gt
    var k = 0
    var i = 0
    while (i < n) {
      val call = if (calls.isNullAt(i)) null else calls.getUTF8String(i)
      if (parse(table, ref, call, g) && !(dropHomRef && (g.zygosity eq HomRef))) {
        out(k) = new GenericInternalRow(Array[Any](
          samples.getUTF8String(i), call, view(call, 0, g.end), g.phase,
          view(call, 0, if (g.sep < 0) g.end else g.sep),
          if (g.sep < 0) null else view(call, g.sep + 1, g.end2),
          g.a1, g.a2, g.zygosity))
        k += 1
      }
      i += 1
    }
    new GenericArrayData(if (k == n) out else out.take(k))
  }

  /** The call's subfield under FORMAT key `key`, found by position in
    * the row's own FORMAT (first match); `part >= 0` then takes that
    * `,`-separated part (empties kept). NULL when FORMAT, the key, the
    * subfield (a legally dropped trailing one) or the part is absent. */
  def formatField(format: UTF8String, call: UTF8String, key: UTF8String,
      part: Int): UTF8String = {
    if (format == null || call == null) return null
    val fn = format.numBytes
    val kn = key.numBytes
    var pos = 0
    var st = 0
    var found = false
    while (!found && st <= fn) {
      var e = st
      while (e < fn && byteAt(format, e) != ':') e += 1
      if (e - st == kn && sameBytes(format, st, key)) found = true
      else { pos += 1; st = e + 1 }
    }
    if (!found) return null
    val s = nth(call, 0, call.numBytes, ':', pos)
    if (s < 0) return null
    var e = s
    while (e < call.numBytes && byteAt(call, e) != ':') e += 1
    if (part < 0) return view(call, s, e)
    val ps = nth(call, s, e, ',', part)
    if (ps < 0) return null
    var pe = ps
    while (pe < e && byteAt(call, pe) != ',') pe += 1
    view(call, ps, pe)
  }

  /** `s[from, from + key.numBytes)` == key, byte for byte. */
  private def sameBytes(s: UTF8String, from: Int, key: UTF8String): Boolean = {
    var i = 0
    while (i < key.numBytes) {
      if (byteAt(s, from + i) != byteAt(key, i)) return false
      i += 1
    }
    true
  }

  /** Start of the `k`-th (0-based) `sep`-separated piece of
    * `s[from, until)`, or -1 when there are fewer pieces. */
  private def nth(s: UTF8String, from: Int, until: Int, sep: Char, k: Int): Int = {
    var i = from
    var left = k
    while (left > 0) {
      while (i < until && byteAt(s, i) != sep) i += 1
      if (i >= until) return -1
      i += 1
      left -= 1
    }
    i
  }
}

/** An expression that is ONE static call on [[CallAnnotationKernel]]:
  * every child's value goes in as is, NULL as null, so the kernel (not
  * NULL propagation) owns the NULL semantics. `literals` are extra
  * trailing Java arguments fixed at plan time. */
sealed abstract class AnnotationKernelExpr extends Expression {
  protected def kernel: String
  protected def inputTypes: Seq[DataType]
  protected def literals(ctx: CodegenContext): Seq[String] = Nil
  protected def evalKernel(args: Seq[Any]): Any

  private def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (MapType(ka, va, _), MapType(kb, vb, _)) => ka == kb && va == vb
    case _ => a == b
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == inputTypes.length &&
      children.zip(inputTypes).forall { case (c, t) => sameType(c.dataType, t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects " +
      s"${inputTypes.map(_.simpleString).mkString("(", ", ", ")")}, got " +
      s"${children.map(_.dataType.simpleString).mkString("(", ", ", ")")}")

  override def eval(input: InternalRow): Any = evalKernel(children.map(_.eval(input)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val args = evals.map(e => s"${e.isNull} ? null : ${e.value}") ++ literals(ctx)
    val jt = CodeGenerator.javaType(dataType)
    val value = s"$jt ${ev.value} = graft.expressions.CallAnnotationKernel." +
      s"$kernel(${args.mkString(", ")});"
    val code = evals.map(_.code.toString) :+ value :+
      (if (nullable) s"boolean ${ev.isNull} = ${ev.value} == null;" else "")
    val block = Block.BlockHelper(new StringContext(code.mkString("\n"))).code()
    if (nullable) ev.copy(code = block) else ev.copy(code = block, isNull = FalseLiteral)
  }
}

/** (ref, alt, allele index) → allele base (see [[CallAnnotationKernel]]). */
case class AlleleBaseExpr(ref: Expression, alt: Expression, idx: Expression)
    extends AnnotationKernelExpr {
  override def children: Seq[Expression] = Seq(ref, alt, idx)
  override def prettyName: String = "allele_base"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  protected def kernel = "alleleBase"
  protected def inputTypes = Seq(StringType, StringType, StringType)
  protected def evalKernel(a: Seq[Any]): Any = CallAnnotationKernel.alleleBase(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String],
    a(2).asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AlleleBaseExpr = copy(c(0), c(1), c(2))
}

/** (ref, a1, a2) → zygosity, never NULL (see [[CallAnnotationKernel]]). */
case class ZygosityExpr(ref: Expression, a1: Expression, a2: Expression)
    extends AnnotationKernelExpr {
  override def children: Seq[Expression] = Seq(ref, a1, a2)
  override def prettyName: String = "zygosity"
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  protected def kernel = "zygosity"
  protected def inputTypes = Seq(StringType, StringType, StringType)
  protected def evalKernel(a: Seq[Any]): Any = CallAnnotationKernel.zygosity(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String],
    a(2).asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ZygosityExpr = copy(c(0), c(1), c(2))
}

/** (ref, alt, genotypes) → the wide row's hom-ref call count. */
case class HomRefCountExpr(ref: Expression, alt: Expression, genotypes: Expression)
    extends AnnotationKernelExpr {
  override def children: Seq[Expression] = Seq(ref, alt, genotypes)
  override def prettyName: String = "hom_ref_count"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  protected def kernel = "homRefCount"
  protected def inputTypes = Seq(StringType, StringType, MapType(StringType, StringType))
  protected def evalKernel(a: Seq[Any]): Any = CallAnnotationKernel.homRefCount(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String],
    a(2).asInstanceOf[MapData])
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HomRefCountExpr = copy(c(0), c(1), c(2))
}

/** (ref, alt, genotypes) → the wide row's annotated call rows
  * ([[CallAnnotationKernel.CallSchema]]); `inline` turns them into rows. */
case class AnnotateCallsExpr(ref: Expression, alt: Expression,
    genotypes: Expression, dropHomRef: Boolean) extends AnnotationKernelExpr {
  override def children: Seq[Expression] = Seq(ref, alt, genotypes)
  override def prettyName: String = "annotate_calls"
  override def dataType: DataType =
    ArrayType(CallAnnotationKernel.CallSchema, containsNull = false)
  override def nullable: Boolean = false
  protected def kernel = "annotateCalls"
  protected def inputTypes = Seq(StringType, StringType, MapType(StringType, StringType))
  override protected def literals(ctx: CodegenContext): Seq[String] =
    Seq(dropHomRef.toString)
  protected def evalKernel(a: Seq[Any]): Any = CallAnnotationKernel.annotateCalls(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String],
    a(2).asInstanceOf[MapData], dropHomRef)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AnnotateCallsExpr = copy(c(0), c(1), c(2))
}

/** (format, call) → the call's `key` subfield, or its `part`-th comma
  * part when `part >= 0` (see [[CallAnnotationKernel.formatField]]). */
case class FormatFieldExpr(format: Expression, call: Expression,
    key: String, part: Int) extends AnnotationKernelExpr {
  @transient private lazy val keyU = UTF8String.fromString(key)
  override def children: Seq[Expression] = Seq(format, call)
  override def prettyName: String = "format_field"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  protected def kernel = "formatField"
  protected def inputTypes = Seq(StringType, StringType)
  override protected def literals(ctx: CodegenContext): Seq[String] = Seq(
    ctx.addReferenceObj("formatKey", keyU, "org.apache.spark.unsafe.types.UTF8String"),
    part.toString)
  protected def evalKernel(a: Seq[Any]): Any = CallAnnotationKernel.formatField(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String], keyU, part)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FormatFieldExpr = copy(format = c(0), call = c(1))
}
