package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Genome-backed and PL-posterior kernels behind [[graft.operators
  * .Liftover]]'s destination-REF validation and [[graft.operators
  * .VariantQc.phaseByTransmission]]'s PL-aware arm. Same design rules
  * as [[LeftAlignExpr]]: ONE static call per row inside whole-stage
  * codegen, the genome riding the generated code as a [[Genome]]
  * HANDLE — zero shuffle, scan-speed. A broadcast handle
  * ([[graft.sources.FastaReader.readGenome]]) ships the sequence
  * once per executor and resolves once per stage; an inline handle
  * closure-ships (small partial maps only — the 3 GB whole-genome
  * map must never ride task closures).
  */
object GenomeExprs {

  /** `genome_slice(chrom, pos1, len)` — the destination-assembly base
    * fetch behind liftover REF validation (Picard LiftoverVcf /
    * `bcftools +liftover` both check the lifted REF against the target
    * FASTA): the `len` bases at 1-BASED `pos1` of `genome(chrom)`,
    * uppercased; NULL when the contig is absent from the (possibly
    * partial) map or the slice runs off the contig — callers treat
    * NULL as "unvalidatable", never as a mismatch.
    *
    * The [[Genome]] overload is the scale path: a broadcast handle
    * rides the plan, the sequence ships once per executor. The `Map`
    * overload wraps [[Genome.inline]] — closure-shipped, small maps
    * only.
    */
  def genomeSlice(genome: Genome, chrom: Column,
      pos1: Column, len: Column): Column =
    Bridge.column(GenomeSliceExpr(genome, Bridge.expression(chrom),
      Bridge.expression(pos1), Bridge.expression(len)))

  def genomeSlice(genome: Map[String, String], chrom: Column,
      pos1: Column, len: Column): Column =
    genomeSlice(Genome.inline(genome), chrom, pos1, len)

  /** `gt_swap(call, k)` — REF⇄ALT(k) genotype remap after a liftover
    * allele swap (Picard's flipped-genotype rewrite): in the FIRST
    * colon-field of a VCF call string, allele index `0` becomes `k`
    * and `k` becomes `0` (other indices, separators `/`/`|`, `.`, and
    * every non-GT subfield ride verbatim). `k` is 1-based among ALTs —
    * exactly `array_position(alts, dst_ref)`.
    */
  def gtSwap(call: Column, k: Column): Column =
    Bridge.column(GtSwapExpr(Bridge.expression(call), Bridge.expression(k)))

  /** `alt_flip(alt)` — the minus-strand liftover rewrite of a
    * comma-separated ALT: each pure `[ACGTacgt]+` token is
    * reverse-complemented; symbolic, `.` and empty tokens ride verbatim.
    * Null for a null ALT. The one-call form of
    * `array_join(transform(split(alt, ","), flip), ",")`.
    */
  def altFlip(alt: Column): Column = Bridge.column(AltFlipExpr(Bridge.expression(alt)))

  /** `alt_swap(alt, from, to)` — every comma-separated token of `alt`
    * equal to `from` becomes `to`, the others ride verbatim: liftover's
    * REF⇄ALT swap. Null when any input is null.
    */
  def altSwap(alt: Column, from: Column, to: Column): Column =
    Bridge.column(AltSwapExpr(Bridge.expression(alt), Bridge.expression(from),
      Bridge.expression(to)))

  /** `trio_phase_pl(pl_child, pl_mother, pl_father)` — the PL-weighted
    * max-posterior transmission resolution of a double-het trio (GATK
    * PhaseByTransmission's likelihood core, hard-call `ambiguous`
    * class only): over the 27 biallelic trio genotype configurations,
    * minimize `100·(PLm+PLf+PLc) + penalty` where penalty is the
    * centi-PL Mendelian transmission prior −10·log₁₀ P(gc|gm,gf)
    * (0 / 301 / 602 for probability 1 / ½ / ¼; inconsistent
    * configurations excluded) — integer-exact, first minimum in
    * (gm, gf, gc) lexicographic order wins, so an oracle can replay
    * the argmin bit for bit. Returns struct(phased_gt, phase_status):
    * `phased_pl` with the pat|mat string when the winning
    * configuration determines transmission, `ambiguous` when the
    * winner is still the all-het configuration, NULL when any PL
    * string is not a 3-entry non-negative int vector.
    */
  def trioPhasePl(plChild: Column, plMother: Column,
      plFather: Column): Column =
    Bridge.column(TrioPhasePlExpr(Bridge.expression(plChild),
      Bridge.expression(plMother), Bridge.expression(plFather)))

  /** `snp_codon(chrom, pos, alt, strand, cds_start, cds_end)` — the
    * [[graft.operators.Consequence.snpConsequence]] codon walk as one
    * compiled call (see [[CsqKernel.snpCodon]]). */
  def snpCodonStruct(genome: Genome, chrom: Column, pos: Column,
      alt: Column, strand: Column, cs: Column, ce: Column): Column =
    Bridge.column(SnpCodonExpr(genome,
      Seq(chrom, pos, alt, strand, cs, ce).map(Bridge.expression)))

  /** `csq_label(chrom, pos, ref, alt, strand, cds_start, cds_end)` —
    * [[graft.operators.Consequence.csq]]'s whole post-join ladder as
    * one compiled call (see [[CsqKernel.csqLabel]]). */
  def csqLabel(genome: Genome, flank: Int, chrom: Column, pos: Column,
      ref: Column, alt: Column, strand: Column, cs: Column,
      ce: Column): Column =
    Bridge.column(CsqLabelExpr(genome, flank,
      Seq(chrom, pos, ref, alt, strand, cs, ce).map(Bridge.expression)))

  /** `exon_snp(...)` — [[graft.operators.Consequence
    * .snpConsequenceExons]]'s per-row walk as one compiled call (see
    * [[ExonCsqKernel.exonSnp]]). */
  def exonSnp(genome: Genome, flank: Int, chrom: Column, pos: Column,
      alt: Column, strand: Column, ex: Column, total: Column,
      gs: Column, ge: Column): Column =
    Bridge.column(ExonSnpExpr(genome, flank,
      Seq(chrom, pos, alt, strand, ex, total, gs, ge)
        .map(Bridge.expression)))

  /** `exon_csq_label(...)` — [[graft.operators.Consequence.csqExons]]'s
    * whole post-join ladder as one compiled call (see
    * [[ExonCsqKernel.exonCsqLabel]]). */
  def exonCsqLabel(genome: Genome, flank: Int, chrom: Column,
      pos: Column, ref: Column, alt: Column, strand: Column, ex: Column,
      total: Column, gs: Column, ge: Column): Column =
    Bridge.column(ExonCsqLabelExpr(genome, flank,
      Seq(chrom, pos, ref, alt, strand, ex, total, gs, ge)
        .map(Bridge.expression)))
}

object GenomeSliceKernel {
  /** Nullable kernel: see [[GenomeExprs.genomeSlice]]. */
  def slice(chromU: UTF8String, pos1: Long, len: Int,
      genome: java.util.HashMap[String, String]): UTF8String = {
    if (len <= 0) return null
    val seq = genome.get(chromU.toString)
    if (seq == null) return null
    if (pos1 < 1L || pos1 - 1L + len > seq.length) return null
    val i = (pos1 - 1L).toInt
    UTF8String.fromString(seq.substring(i, i + len))
  }
}

/** (chrom, pos1, len) → string slice of the genome (see
  * [[GenomeExprs.genomeSlice]]); the [[Genome]] HANDLE rides the
  * generated code as a reference object — an inline handle carries
  * the map, a broadcast handle carries only the broadcast id and the
  * map resolves ONCE per stage from the executor's block manager
  * (never a per-task multi-GB ship). Nullable by design.
  */
case class GenomeSliceExpr(genome: Genome,
    chrom: Expression, pos: Expression, len: Expression)
    extends TernaryExpression {
  override def first: Expression = chrom
  override def second: Expression = pos
  override def third: Expression = len
  override def prettyName: String = "genome_slice"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (chrom.dataType, pos.dataType, len.dataType) match {
      case (StringType, LongType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, bigint, int), got $other")
    }

  @transient private lazy val genomeRef = genome.resolve()

  override protected def nullSafeEval(c: Any, p: Any, l: Any): Any =
    GenomeSliceKernel.slice(c.asInstanceOf[UTF8String],
      p.asInstanceOf[Long], l.asInstanceOf[Int], genomeRef)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gRef = ctx.addReferenceObj("genome", genome,
      "graft.expressions.Genome")
    // resolve the broadcast once per stage instance, not per row
    val gMap = ctx.addMutableState("java.util.HashMap", "genomeMap",
      v => s"$v = $gRef.resolve();")
    nullSafeCodeGen(ctx, ev, (c, p, l) => s"""
      ${ev.value} = graft.expressions.GenomeSliceKernel.slice($c, $p, $l, $gMap);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): GenomeSliceExpr =
    copy(chrom = newFirst, pos = newSecond, len = newThird)
}

object GtSwapKernel {
  /** See [[GenomeExprs.gtSwap]]: remap allele indices 0⇄k in the first
    * colon-field; everything else verbatim. */
  def swap(callU: UTF8String, k: Int): UTF8String = {
    if (k <= 0) return callU
    val s = callU.toString
    val gtEnd = { val c = s.indexOf(':'); if (c < 0) s.length else c }
    val kStr = Integer.toString(k)
    val sb = new java.lang.StringBuilder(s.length + 4)
    var i = 0
    while (i < gtEnd) {
      var j = i
      while (j < gtEnd && s.charAt(j) != '/' && s.charAt(j) != '|') j += 1
      val tok = s.substring(i, j)
      if (tok == "0") sb.append(kStr)
      else if (tok == kStr) sb.append('0')
      else sb.append(tok)
      if (j < gtEnd) sb.append(s.charAt(j))
      i = j + 1
    }
    sb.append(s.substring(gtEnd))
    UTF8String.fromString(sb.toString)
  }
}

/** (call, k) → the call with GT allele indices 0⇄k swapped (see
  * [[GenomeExprs.gtSwap]]). */
case class GtSwapExpr(call: Expression, k: Expression)
    extends BinaryExpression {
  override def left: Expression = call
  override def right: Expression = k
  override def prettyName: String = "gt_swap"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (call.dataType, k.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, int), got $other")
    }

  override protected def nullSafeEval(c: Any, kk: Any): Any =
    GtSwapKernel.swap(c.asInstanceOf[UTF8String], kk.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, kk) =>
      s"graft.expressions.GtSwapKernel.swap($c, $kk)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GtSwapExpr =
    copy(call = newLeft, k = newRight)
}

/** Token rewrites of a comma-separated ALT (see [[GenomeExprs.altFlip]]
  * and [[GenomeExprs.altSwap]]): the tokens are `split(alt, ",")`'s,
  * empty ones included, and the commas come back where they were. */
object AltKernel {
  private def pure(s: String, from: Int, until: Int): Boolean = until > from && {
    var i = from
    while (i < until && "ACGTacgt".indexOf(s.charAt(i)) >= 0) i += 1
    i == until
  }

  private def complement(c: Char): Char = c match {
    case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
    case 'a' => 't'; case 'c' => 'g'; case 'g' => 'c'; case _ => 'a'
  }

  def flip(altU: UTF8String): UTF8String = {
    val s = altU.toString
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i <= s.length) {
      val j = { val c = s.indexOf(',', i); if (c < 0) s.length else c }
      if (pure(s, i, j)) { var p = j - 1; while (p >= i) { out.append(complement(s.charAt(p))); p -= 1 } }
      else out.append(s, i, j)
      if (j < s.length) out.append(',')
      i = j + 1
    }
    UTF8String.fromString(out.toString)
  }

  def swap(altU: UTF8String, fromU: UTF8String, toU: UTF8String): UTF8String = {
    val s = altU.toString
    val from = fromU.toString
    val to = toU.toString
    val out = new java.lang.StringBuilder(s.length + to.length)
    var i = 0
    while (i <= s.length) {
      val j = { val c = s.indexOf(',', i); if (c < 0) s.length else c }
      if (j - i == from.length && s.startsWith(from, i)) out.append(to)
      else out.append(s, i, j)
      if (j < s.length) out.append(',')
      i = j + 1
    }
    UTF8String.fromString(out.toString)
  }
}

/** (alt) → the minus-strand-flipped ALT (see [[GenomeExprs.altFlip]]). */
case class AltFlipExpr(alt: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def child: Expression = alt
  override def prettyName: String = "alt_flip"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = alt.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $other")
  }
  override protected def nullSafeEval(a: Any): Any = AltKernel.flip(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expressions.AltKernel.flip($a)")
  override protected def withNewChildInternal(newChild: Expression): AltFlipExpr =
    copy(alt = newChild)
}

/** (alt, from, to) → `alt` with its `from` tokens replaced by `to` (see
  * [[GenomeExprs.altSwap]]). */
case class AltSwapExpr(alt: Expression, from: Expression, to: Expression)
    extends TernaryExpression {
  override def first: Expression = alt
  override def second: Expression = from
  override def third: Expression = to
  override def prettyName: String = "alt_swap"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    (alt.dataType, from.dataType, to.dataType) match {
      case (StringType, StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string, string), got $other")
    }
  override protected def nullSafeEval(a: Any, f: Any, t: Any): Any = AltKernel.swap(
    a.asInstanceOf[UTF8String], f.asInstanceOf[UTF8String], t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, f, t) => s"graft.expressions.AltKernel.swap($a, $f, $t)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AltSwapExpr =
    copy(alt = newFirst, from = newSecond, to = newThird)
}

object TrioPhaseKernel {
  /** Parse a VCF PL string into exactly 3 non-negative ints; null on
    * anything else (missing, haploid arity, '.', junk). */
  private def parse3(u: UTF8String): Array[Int] = {
    if (u == null) return null
    val s = u.toString
    val parts = s.split(",", -1)
    if (parts.length != 3) return null
    val out = new Array[Int](3)
    var i = 0
    while (i < 3) {
      val p = parts(i)
      if (p.isEmpty || p.length > 8) return null
      var v = 0
      var j = 0
      while (j < p.length) {
        val ch = p.charAt(j)
        if (ch < '0' || ch > '9') return null
        v = v * 10 + (ch - '0')
        j += 1
      }
      out(i) = v
      i += 1
    }
    out
  }

  /** Centi-PL transmission penalty −10·log₁₀ P(gc | gm, gf) for
    * dosage genotypes 0/1/2, or −1 when P = 0 (Mendelian-impossible).
    * Probability 1 → 0, ½ → 301, ¼ → 602 (−10·log₁₀ rounded to
    * centi-PL — integer-exact for the oracle replay). */
  private def penalty(gc: Int, gm: Int, gf: Int): Int = {
    // transmitted-allele distribution per parent: hom0 → {0},
    // hom2 → {1}, het → {0 w.p. ½, 1 w.p. ½}
    def lo(g: Int): Int = if (g == 2) 1 else 0 // smallest transmissible
    def hi(g: Int): Int = if (g == 0) 0 else 1 // largest transmissible
    val dMin = lo(gm) + lo(gf)
    val dMax = hi(gm) + hi(gf)
    if (gc < dMin || gc > dMax) return -1
    (gm == 1, gf == 1) match {
      case (false, false) => 0 // both fixed: P = 1
      case (true, true) => if (gc == 1) 301 else 602 // ½ / ¼ / ¼
      case _ => 301 // one het: two equally likely dosages
    }
  }

  private val Ambiguous = UTF8String.fromString("ambiguous")
  private val PhasedPl = UTF8String.fromString("phased_pl")
  private val Gt = Array.tabulate(2, 2)((p, m) =>
    UTF8String.fromString(s"$p|$m"))

  /** See [[GenomeExprs.trioPhasePl]]. Null when any PL is unusable. */
  def resolve(plC: UTF8String, plM: UTF8String,
      plF: UTF8String): GenericInternalRow = {
    val c = parse3(plC); val m = parse3(plM); val f = parse3(plF)
    if (c == null || m == null || f == null) return null
    var best = Int.MaxValue
    var bm = -1; var bf = -1; var bc = -1
    var gm = 0
    while (gm < 3) {
      var gf = 0
      while (gf < 3) {
        var gc = 0
        while (gc < 3) {
          val pen = penalty(gc, gm, gf)
          if (pen >= 0) {
            val s = 100 * (m(gm) + f(gf) + c(gc)) + pen
            if (s < best) { best = s; bm = gm; bf = gf; bc = gc }
          }
          gc += 1
        }
        gf += 1
      }
      gm += 1
    }
    // bm/bf/bc always set: (gm=gc-min config) is never all-excluded
    if (bc == 1 && bm == 1 && bf == 1)
      return new GenericInternalRow(Array[Any](null, Ambiguous))
    // paternal-first convention (the hard-call arm's pinned order)
    val (pat, mat) =
      if (bc == 0) (0, 0)
      else if (bc == 2) (1, 1)
      else if (bf == 0) (0, 1) // father can only give 0
      else if (bf == 2) (1, 0)
      else if (bm == 0) (1, 0) // father het, mother fixed
      else (0, 1)              // bm == 2
    new GenericInternalRow(Array[Any](Gt(pat)(mat), PhasedPl))
  }
}

/** (pl_child, pl_mother, pl_father) → struct(phased_gt, phase_status)
  * (see [[GenomeExprs.trioPhasePl]]). */
case class TrioPhasePlExpr(plChild: Expression, plMother: Expression,
    plFather: Expression) extends TernaryExpression {
  override def first: Expression = plChild
  override def second: Expression = plMother
  override def third: Expression = plFather
  override def prettyName: String = "trio_phase_pl"
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("phased_gt", StringType, nullable = true),
    StructField("phase_status", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(plChild, plMother, plFather).map(_.dataType) match {
      case Seq(StringType, StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string, string), got $other")
    }

  override protected def nullSafeEval(c: Any, m: Any, f: Any): Any =
    TrioPhaseKernel.resolve(c.asInstanceOf[UTF8String],
      m.asInstanceOf[UTF8String], f.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, m, f) => s"""
      ${ev.value} = graft.expressions.TrioPhaseKernel.resolve($c, $m, $f);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): TrioPhasePlExpr =
    copy(plChild = newFirst, plMother = newSecond, plFather = newThird)
}
