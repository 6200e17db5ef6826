package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.{AlleleBaseExpr, ZygosityExpr}

/** Column-level variant annotation semantics of the reference, re-expressed
  * as codegen-friendly Catalyst expressions (builtins or graft's own
  * codegen'd kernels — no UDFs, so every classifier inlines into
  * WholeStageCodegen and stays pushdown/prune-transparent).
  *
  * Reference semantics preserved from:
  *  - vartype:   /root/reference/variant_annotations.py:130-162
  *  - zygosity:  /root/reference/variant_annotations.py:64-127
  *  - alleles:   /root/reference/variant_annotations.py:15-61
  *  - chrom fix: /root/reference/pandasvcf.py:177
  */
object VariantFunctions {

  /** Strip a leading `chr` prefix (reference pandasvcf.py:177). */
  def normalizeChrom(chrom: Column): Column = regexp_replace(chrom, "^chr", "")

  /** Comma count in ALT. The reference docstring says {0,1} but the code
    * (variant_annotations.py:504) emits the comma COUNT — we keep the
    * code's behavior: 0 = biallelic, n = n+1 alt alleles.
    */
  def multiallele(alt: Column): Column = size(split(alt, ",")) - 1

  /** `|` if phased, `/` if unphased, `-` for haploid calls
    * (variant_annotations.py:24-31).
    */
  def phase(gt: Column): Column =
    when(gt.contains("|"), lit("|"))
      .when(gt.contains("/"), lit("/"))
      .otherwise(lit("-"))

  private def gtParts(gt: Column): Column = split(gt, "[/|]")

  /** Numeric allele index strings; gt2 is NULL for haploid calls
    * (the reference leaves GT2 = NaN, variant_annotations.py:53-57).
    */
  def gt1(gt: Column): Column = element_at(gtParts(gt), 1)
  def gt2(gt: Column): Column = {
    val p = gtParts(gt)
    when(size(p) >= 2, element_at(p, 2))
  }

  /** Base string for one allele index into `[REF, alt1, alt2, …]`
    * (0-based): `.` (or a NULL index) stays `.`. Any index that is not
    * a run of ASCII digits within range — out of range, negative,
    * signed, fractional, empty or non-numeric (malformed VCF) — yields
    * NULL rather than failing the job, unlike the reference which
    * raises. Backed by [[graft.expressions.CallAnnotationKernel]], the
    * kernel `VariantAnnotator.annotate` runs per call.
    */
  def alleleBase(ref: Column, alt: Column, gtIdx: Column): Column =
    Bridge.column(AlleleBaseExpr(
      Bridge.expression(ref), Bridge.expression(alt), Bridge.expression(gtIdx)))

  /** Variant type of one allele vs REF: ref | snp | mnp | del | indel |
    * ins — exact algorithm of variant_annotations.py:130-162 (prefix
    * character comparison, length-difference driven). Backed by a native
    * codegen expression (graft.expressions.VartypeExpr) — the HOF
    * formulation fell out of WholeStageCodegen and dominated annotate
    * time at bench scale.
    */
  def vartype(ref: Column, allele: Column): Column =
    graft.expressions.StringExprs.vartype(ref, allele)

  /** Column twin of [[graft.expressions.StringExprs.isSymbolicAlt]]
    * (VCF 4.2 §5): `*` spanning allele, `<ID>` symbolic SV, or
    * square-bracket breakend. Base-arithmetic operators (trim,
    * left-align, consequence) use this to pass such alleles through
    * unmangled.
    */
  def isSymbolicAlt(a: Column): Column =
    a === "*" ||
      (length(a) >= 2 && a.startsWith("<") && a.endsWith(">")) ||
      a.contains("[") || a.contains("]")

  /** Zygosity of a diploid call — branch ORDER matters and mirrors
    * variant_annotations.py:64-127 exactly (hom-ref wins over missing),
    * with CASE-WHEN NULL semantics (a NULL comparison fires no branch).
    * Backed by [[graft.expressions.CallAnnotationKernel]].
    */
  def zygosity(ref: Column, a1: Column, a2: Column): Column =
    Bridge.column(ZygosityExpr(
      Bridge.expression(ref), Bridge.expression(a1), Bridge.expression(a2)))

  /** True for calls the reference drops before annotating
    * (variant_annotations.py:618-620): `./.`, `.|.`, `.` or empty.
    */
  def isMissingCall(gt: Column): Column =
    gt.isNull || gt.isin("./.", ".|.", ".", "")
}
