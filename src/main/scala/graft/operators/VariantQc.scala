package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sample-relatedness QC over the annotated long genotype frame (the
  * [[VariantAnnotator]] output) — the cohort-level checks downstream of
  * the reference's per-sample annotate/zygosity surface
  * (variant_annotations.py:15-768 derives the per-call columns these
  * pairwise statistics aggregate).
  */
object VariantQc {

  /** KING-robust pairwise kinship counts (Manichaikul et al. 2010,
    * Bioinformatics 26(22) — the between-family estimator): over the
    * sites where BOTH samples of a pair carry a called diploid
    * genotype,
    *
    *   φ̂ = (N_het,het − 2·N_opp) / (N_het_a + N_het_b)
    *
    * with N_opp the opposite-homozygote count (both hom, different
    * alleles). Duplicates/MZ twins sit near 0.5, parent-offspring near
    * 0.25, unrelated pairs near (often below) 0 — the standard cohort
    * screen for sample swaps, unexpected relatedness, and contamination
    * (which depresses het counts asymmetrically). Returns the integer
    * evidence counts per (sample_a, sample_b); callers derive the ratio
    * (keeping division out of the operator keeps every output column
    * exact).
    *
    * Scale shape: one self-join of the long frame on the site key —
    * both sides are the SAME annotate plan (ReusedExchange; zero
    * exchanges on a site-bucketed landing) — then ONE aggregation on
    * the pair key. Per-site fan-out is S·(S−1)/2 pairs: quadratic in
    * cohort width, linear in sites — run cohort batches or a pruned
    * SNP panel at biobank width, exactly as production KING does.
    * Sites with any uncalled/haploid member ('.'-padded by the
    * annotator) are excluded per pair, as in practice.
    */
  def kinshipCounts(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      a1Col: String = "a1", a2Col: String = "a2"): DataFrame = {
    def calledDiploid(c: String) = col(c).isNotNull && col(c) =!= "."
    val g = ann
      .filter(calledDiploid(a1Col) && calledDiploid(a2Col))
      .select(siteKey.map(col) ++ Seq(
        col(sampleCol).as("__s"),
        (col(a1Col) =!= col(a2Col)).as("__het"),
        when(col(a1Col) === col(a2Col), col(a1Col)).as("__hom")): _*)
    // r17 (guide §2.1): self-join g against ITSELF — renaming the
    // sides before the join made the two exchange inputs structurally
    // different, so each side re-ran the whole upstream chain
    // (annotate → panel semi-join, 4 identical 1.27M-row map stages in
    // the q208 profile); with both children canonically equal the
    // pair join plans ONE shuffle map stage read twice (ReusedExchange)
    val eqKeys = siteKey.map(k => col(s"ka.$k") === col(s"kb.$k"))
      .reduce(_ && _)
    g.as("ka").join(g.as("kb"), eqKeys && col("ka.__s") < col("kb.__s"))
      .select(col("ka.__s").as("sample_a"), col("kb.__s").as("sample_b"),
        col("ka.__het").as("het_a"), col("kb.__het").as("het_b"),
        col("ka.__hom").as("hom_a"), col("kb.__hom").as("hom_b"))
      .groupBy("sample_a", "sample_b")
      .agg(
        count(lit(1)).as("n_sites"),
        sum(when(col("het_a"), 1L).otherwise(0L)).as("n_het_a"),
        sum(when(col("het_b"), 1L).otherwise(0L)).as("n_het_b"),
        sum(when(col("het_a") && col("het_b"), 1L).otherwise(0L)).as("n_hethet"),
        sum(when(col("hom_a").isNotNull && col("hom_b").isNotNull &&
          col("hom_a") =!= col("hom_b"), 1L).otherwise(0L)).as("n_opp"))
  }

  /** RELATEDNESS PRUNING — reduce the cohort to an unrelated sample
    * panel (the plink2 `--king-cutoff` step every GWAS/PCA pipeline
    * runs first: related samples violate the independence assumption
    * of association tests and bend PCA axes toward families): pairs
    * whose KING φ̂ (micro-floored, the q91 spelling) reaches
    * `phiMicroMin` drop their HIGHER-keyed sample — the [[ldPrune]]
    * order-free rule: no greedy scan state, deterministic under any
    * partitioning, whole related chains prune. plink's iterative
    * max-degree heuristic keeps slightly more samples but is
    * inherently sequential (documented trade, same as q117's).
    * Returns the KEPT sample panel.
    *
    * Shape: [[kinshipCounts]] (the S²/2 pair agg — batch or pre-prune
    * at biobank width, as there) + one tiny distinct + one anti-join
    * on the sample id: the corpus-side cost IS kinshipCounts.
    */
  def kinshipPrune(
      ann: DataFrame, phiMicroMin: Long,
      sampleCol: String = "sample_id"): DataFrame = {
    require(phiMicroMin >= -1000000L && phiMicroMin <= 1000000L,
      s"phiMicroMin must be a micro-kinship in [-1e6, 1e6], got $phiMicroMin")
    val den = col("n_het_a") + col("n_het_b")
    val phiMicro = floor(
      (col("n_hethet") - lit(2L) * col("n_opp")).cast("double") / den
        * lit(1000000.0)).cast("long")
    val dropped = kinshipCounts(ann, sampleCol)
      .filter(den > 0L && phiMicro >= phiMicroMin)
      .select(col("sample_b").as(sampleCol))
      .distinct()
    ann.select(col(sampleCol)).distinct()
      .join(dropped, Seq(sampleCol), "left_anti")
  }

  /** PRODUCTION KING SNP PANEL — the pre-prune every biobank-width
    * kinship run needs before paying [[kinshipCounts]]' honest S²/2
    * pair math per site (the r11-verdict cost knob): restrict the
    * cohort to a pruned COMMON-SNP panel — the KING/plink2 recommended
    * posture (Manichaikul 2010 runs on autosomal common SNPs;
    * `plink2 --make-king` docs say prune first) —
    *
    *   1. biallelic SNP sites only (1-base REF/ALT, non-symbolic),
    *   2. site MAF ≥ `mafMicroMin` over called diploid dosages
    *      (micro-floored, engine-replayable),
    *   3. LD-pruned via [[ldPrune]] at (`maxDist`, `r2MicroMax`),
    *
    * returning `ann` SEMI-JOINED to the kept panel — feed the result
    * to [[kinshipCounts]] / [[relatednessClasses]] / [[kinshipPrune]].
    * φ̂ is a RATIO of concordance counts, so a representative common
    * panel preserves the degree classes while cutting the per-pair
    * site cost by orders of magnitude (spec pins class preservation
    * on a planted duplicate + unrelated fixture).
    *
    * Shape: one site-keyed MAF agg + one semi-join (co-keyed with the
    * annotate site exchange), the q117 ldPrune substrate on the
    * ALREADY MAF-thinned frame (the prune's pair join only sees
    * common SNPs), one final site-keyed semi-join. No sample-pair
    * work at all — that stays in the downstream kinship call, now on
    * panel-width data.
    */
  def kinshipPanel(
      ann: DataFrame,
      mafMicroMin: Long = 50000L,
      maxDist: Int = 10000,
      r2MicroMax: Long = 200000L,
      sampleCol: String = "sample_id",
      keptSitesPath: Option[String] = None): DataFrame = {
    require(mafMicroMin >= 0L && mafMicroMin <= 500000L,
      s"mafMicroMin must be a micro-MAF in [0, 5e5], got $mafMicroMin")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val snp = ann.filter(col("multiallele") === 0 &&
      length(col("ref")) === 1 && length(col("alt")) === 1 &&
      !graft.functions.VariantFunctions.isSymbolicAlt(col("alt")) &&
      called("gt1") && called("gt2"))
    val siteKey = Seq("chrom", "pos", "ref", "alt")
    // MAF floor as ONE window over the site key, not a self-semi-join:
    // the join spelling re-ran the whole upstream chain (annotate
    // included) once per join side — the window carries the call rows
    // through a single site exchange and the filter rides it (the
    // r12-verdict q208 fix; same exchange the semi join's left side
    // paid anyway)
    val site = Window.partitionBy(siteKey.map(col): _*)
    val common = snp
      .withColumn("__b",
        sum(col("gt1").cast("long") + col("gt2").cast("long")).over(site))
      .withColumn("__c", lit(2L) * count(lit(1)).over(site))
      .filter(floor(
        least(col("__b"), col("__c") - col("__b")).cast("double") /
          col("__c").cast("double") * lit(1000000.0)).cast("long")
        >= mafMicroMin)
      .drop("__b", "__c")
    // LINEAGE CUT on the kept-panel SITE LIST ([[Lineage.cut]]): the
    // list feeds the final semi-join AND every downstream kinship
    // self-join side — uncut, each consumer re-runs annotate → MAF →
    // the whole LD prune (measured 800 exec-core-s on the sf0.1 gate;
    // cut, the chain runs once). The cut holds site KEYS only (the
    // variant catalog, ~40 GB at biobank scale). `keptSitesPath` LANDS
    // the catalog as a parquet table instead and reads it back (the
    // larger-than-cluster fallback, now an API flag — spec pins
    // path-vs-checkpoint panel identity).
    val pruned = ldPrune(common, maxDist, r2MicroMax, sampleCol)
    val kept = keptSitesPath match {
      case None => Lineage.cut(pruned)
      case Some(path) =>
        pruned.write.mode("overwrite").parquet(path)
        ann.sparkSession.read.parquet(path)
    }
    ann.join(kept, siteKey, "left_semi")
  }

  /** KING RELATEDNESS-CLASS table (Manichaikul et al. 2010 Table 1;
    * plink2 `--make-king-table`'s verdict column): classify every
    * sample pair by the KING-robust kinship estimate into the
    * powers-of-two degree bands, splitting first degree into
    * parent-offspring vs full siblings by the IBS0 rate — PO pairs
    * share an allele at EVERY site (opposite homozygotes ≈ 0, only
    * genotyping error), sibs don't. The cohort QC read before any
    * pedigree is trusted: duplicates flag sample swaps/contamination,
    * unexpected PO/FS flag pedigree errors.
    *
    *   φ̂ micro > 353553 (1/2^1.5)  duplicate / MZ twin
    *   φ̂ micro > 176776 (1/2^2.5)  parent_offspring when
    *                               ibs0 < `poIbs0MicroMax`, else
    *                               full_sib
    *   φ̂ micro > 88388  (1/2^3.5)  second_degree
    *   φ̂ micro > 44194  (1/2^4.5)  third_degree
    *   else                        unrelated
    *
    * φ̂ and IBS0/N are each ONE micro-floored double division of exact
    * int64 counts (the [[kinshipCounts]]/q91 spelling) and the band
    * tests compare the FLOORED values — deterministic, engine-
    * replayable. Pairs with zero het evidence (φ̂ undefined) are
    * excluded, as plink does. Corpus cost IS [[kinshipCounts]] (the
    * honest S²/2 pair aggregation — pre-prune at biobank width); the
    * classification is a narrow projection on the panel²-bounded pair
    * table.
    */
  def relatednessClasses(
      ann: DataFrame, sampleCol: String = "sample_id",
      poIbs0MicroMax: Long = 5000L): DataFrame = {
    require(poIbs0MicroMax >= 0L && poIbs0MicroMax <= 1000000L,
      s"poIbs0MicroMax must be a micro-rate in [0, 1e6], got $poIbs0MicroMax")
    val den = col("n_het_a") + col("n_het_b")
    kinshipCounts(ann, sampleCol)
      .filter(den > 0L)
      .withColumn("kinship_micro",
        floor((col("n_hethet") - lit(2L) * col("n_opp")).cast("double")
          / den.cast("double") * lit(1000000.0)).cast("long"))
      .withColumn("ibs0_micro",
        floor(col("n_opp").cast("double") / col("n_sites").cast("double")
          * lit(1000000.0)).cast("long"))
      .withColumn("relationship",
        when(col("kinship_micro") > 353553L, "duplicate")
          .when(col("kinship_micro") > 176776L,
            when(col("ibs0_micro") < poIbs0MicroMax, "parent_offspring")
              .otherwise("full_sib"))
          .when(col("kinship_micro") > 88388L, "second_degree")
          .when(col("kinship_micro") > 44194L, "third_degree")
          .otherwise("unrelated"))
  }

  /** Hardy-Weinberg equilibrium counts + chi-square per BIALLELIC site
    * — the standard site-QC filter (HWE-violating sites flag genotyping
    * artifacts: allele dropout, paralogous mapping, batch effects).
    * Over called DIPLOID genotypes only (haploid and any-'.' calls
    * excluded, multi-allelic sites excluded — classical HWE is
    * biallelic; run [[VariantNorm.splitMultiallelic]] first if needed):
    * n0/n1/n2 = hom-ref/het/hom-alt counts, and the 1-df chi-square in
    * its EXACT closed form
    *
    *   χ² = n·D² / (A²·B²),  D = n1² − 4·n0·n2, A = 2n0+n1, B = n1+2n2
    *
    * (algebraically identical to Σ(obs−exp)²/exp with p̂ = A/2n: the
    * residuals are −D/4n, D/2n, −D/4n) — every term an exact int64
    * until ONE final division, micro-floored, so the statistic is
    * bit-identical across engines and partitionings. Monomorphic sites
    * (A = 0 or B = 0) define χ² = 0. Int64 is exact to ~3000 diploid
    * samples per site (n·D² ≤ 16n⁵ must stay under 2⁶³); biobank-width
    * cohorts pass `decimalLift = true`, which carries the products in
    * decimal(38,0) and replaces the floored double divide with an
    * exact integral divide — exact to ~1.4M diploid samples per site
    * (16n⁵·10⁶ ≤ 10³⁸), at the cost of leaving whole-stage codegen's
    * long arithmetic for decimal. The two paths agree at small width
    * (identity spec-pinned); the default stays int64 so the q105
    * oracle hash and small-cohort plans are unchanged.
    *
    * Shape: ONE partial-aggregated site-keyed groupBy — zero exchanges
    * on a (chrom, pos_bucket)-bucketed landing, the §4 contract.
    */
  def hweBySite(
      ann: DataFrame,
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      decimalLift: Boolean = false): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val counted = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .groupBy(siteKey.map(col): _*)
      .agg(
        sum(when(col("zygosity") === "hom-ref", 1L).otherwise(0L)).as("n0"),
        sum(when(col("zygosity") === "het-ref", 1L).otherwise(0L)).as("n1"),
        sum(when(col("zygosity") === "hom-alt", 1L).otherwise(0L)).as("n2"))
    val a = lit(2L) * col("n0") + col("n1")
    val b = col("n1") + lit(2L) * col("n2")
    val d = col("n1") * col("n1") - lit(4L) * col("n0") * col("n2")
    val n = col("n0") + col("n1") + col("n2")
    if (decimalLift) {
      // int64 sub-products (d ≤ 4n², a·b ≤ 4n² — safe far past the
      // decimal ceiling); only the 5th-power composites go decimal
      val dec = "decimal(38,0)"
      counted
        .withColumn("__num",
          n.cast(dec) * d.cast(dec) * d.cast(dec) * lit(1000000L).cast(dec))
        .withColumn("__den", a.cast(dec) * a.cast(dec) * b.cast(dec) * b.cast(dec))
        .withColumn("hwe_micro",
          when(a === 0L || b === 0L, 0L)
            .otherwise(expr("__num DIV __den")))
        .drop("__num", "__den")
    } else {
      counted.withColumn("hwe_micro",
        when(a === 0L || b === 0L, 0L).otherwise(
          floor((n * d * d).cast("double") / ((a * a) * (b * b)).cast("double")
            * lit(1000000.0)).cast("long")))
    }
  }

  /** CASE-CONTROL ASSOCIATION per site — the COCHRAN-ARMITAGE trend
    * test (Armitage 1955; the additive-model scan `plink --assoc`
    * family runs genome-wide, and the population complement of q107's
    * family-based TDT): per biallelic site with case genotype counts
    * (r0, r1, r2), control counts (s0, s1, s2), dosage weights
    * t = (0, 1, 2),
    *
    *   A = r1 + 2r2,  B = n1 + 2n2,  C = n1 + 4n2   (nᵢ = rᵢ + sᵢ)
    *   χ²_trend = N·(N·A − R·B)² / (R·(N−R)·(N·C − B²))
    *
    * — the 1-df additive trend statistic, every term an exact int64
    * product until ONE final division, micro-floored ([[hweBySite]]'s
    * determinism pattern; sites where the variance term or a cohort is
    * empty define 0). Int64-exact to ~3000 samples/site (N·num² ≤
    * 4N⁵); `decimalLift = true` is the [[hweBySite]] decimal(38,0)
    * pattern — int64 sub-products (num ≤ 2N², R·S ≤ N²/4, N·C−B² ≤
    * 4N² — safe far past the decimal ceiling), only the 5th-power
    * composites go decimal, and the floored double divide becomes an
    * exact integral DIV: exact to ~1.2M diploid samples per site
    * (4N⁵·10⁶ ≤ 10³⁸). The two paths agree at small width
    * (spec-pinned); the default stays int64 so the q168 oracle hash
    * and small-cohort plans are unchanged. Effect DIRECTION is `trend_sign`
    * (sign of N·A − R·B: +1 = ALT enriched in cases), so downstream
    * meta-analysis can form signed z-scores.
    *
    * Shape: ONE conditional-sum site-keyed groupBy — both cohorts'
    * counts come out of the same pass, NO joins (the q119 posture);
    * zero exchanges on a site-bucketed landing.
    *
    * `dosageCol = Some("DS")` switches to the IMPUTATION-DOSAGE scan
    * ([[trendTestDosage]] — plink2 --glm on DS with GT fallback);
    * the default None keeps the hard-call path and its output schema
    * byte-identical (the q168 oracle hash is unchanged).
    */
  def trendTest(
      ann: DataFrame,
      cases: Seq[String], controls: Seq[String],
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      decimalLift: Boolean = false,
      dosageCol: Option[String] = None,
      gpCol: String = "GP"): DataFrame = {
    require(cases.nonEmpty && controls.nonEmpty,
      "both cohorts must be non-empty")
    require(cases.intersect(controls).isEmpty,
      s"cohorts overlap: ${cases.intersect(controls)}")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val inCase = col(sampleCol).isin(cases: _*)
    val inCtrl = col(sampleCol).isin(controls: _*)
    if (dosageCol.isDefined)
      return trendTestDosage(ann, inCase, inCtrl, siteKey, dosageCol.get,
        gpCol)
    val dose = col("gt1").cast("long") + col("gt2").cast("long")
    def cnt(member: org.apache.spark.sql.Column, d: Long) =
      sum(when(member && dose === d, 1L).otherwise(0L))
    val counted = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2") &&
        (inCase || inCtrl))
      .groupBy(siteKey.map(col): _*)
      .agg(
        cnt(inCase, 0L).as("r0"), cnt(inCase, 1L).as("r1"),
        cnt(inCase, 2L).as("r2"),
        cnt(inCtrl, 0L).as("s0"), cnt(inCtrl, 1L).as("s1"),
        cnt(inCtrl, 2L).as("s2"))
    val rTot = col("r0") + col("r1") + col("r2")
    val sTot = col("s0") + col("s1") + col("s2")
    val n = rTot + sTot
    val n1 = col("r1") + col("s1")
    val n2 = col("r2") + col("s2")
    val a = col("r1") + lit(2L) * col("r2")
    val b = n1 + lit(2L) * n2
    val c = n1 + lit(4L) * n2
    val num = n * a - rTot * b
    val signed = counted.withColumn("trend_sign",
      when(num > 0L, 1).when(num < 0L, -1).otherwise(0))
    if (decimalLift) {
      val dec = "decimal(38,0)"
      signed
        .withColumn("__num", n.cast(dec) * num.cast(dec) * num.cast(dec) *
          lit(1000000L).cast(dec))
        .withColumn("__den", (rTot * sTot).cast(dec) *
          (n * c - b * b).cast(dec))
        .withColumn("trend_micro",
          when(col("__den") === 0, 0L)
            .otherwise(expr("__num DIV __den")))
        .drop("__num", "__den")
    } else {
      val vden = rTot * sTot * (n * c - b * b)
      signed.withColumn("trend_micro",
        when(vden === 0L, 0L).otherwise(
          floor((n * num * num).cast("double") / vden.cast("double")
            * lit(1000000.0)).cast("long")))
    }
  }

  /** DOSAGE trend scan (the `dosageCol` mode of [[trendTest]] —
    * plink2 `--glm` on imputed DS): the Cochran-Armitage statistic
    * with per-individual scores generalizes to χ² = N·r² over the
    * (dosage, case-indicator) correlation,
    *
    *   χ² = N·(N·Sxy − R·Sx)² / ((N·Sx2 − Sx²)·R·(N−R))
    *
    * (Sx/Sxy/Sx2 the total/case dosage sums and the dosage square
    * sum; with hard-call x this reduces ALGEBRAICALLY to the count
    * form above — spec-pinned). x is the call's MICRO dosage:
    * [[dosageMicro]]-parsed DS with GT-hard-call fallback, rows with
    * neither dropping out. Every sum is an exact int64/decimal fold
    * and the statistic is ONE exact decimal(38,0) floor-division,
    * micro-floored — engine-replayable. The micro²·N⁵-shaped
    * composite bounds exactness to ~7.5k samples per site
    * (4·10¹⁸·N⁵ ≤ 10³⁸); genuinely wider cohorts should pre-thin to
    * milli-precision dosages upstream (the composite drops to
    * 4·10¹²·N⁵ → ~190k samples) — the gate runs far inside the
    * ceiling either way.
    *
    * Shape: identical to the count path — ONE conditional-sum
    * site-keyed groupBy, no joins, zero exchanges on a site-bucketed
    * landing.
    */
  private def trendTestDosage(
      ann: DataFrame, inCase: Column, inCtrl: Column,
      siteKey: Seq[String], ds: String, gpCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val agg = ann
      .filter(col("multiallele") === 0 && (inCase || inCtrl))
      .select(siteKey.map(col) ++ Seq(
        inCase.as("__case"),
        dosageLadder(ann, ds, gpCol).as("__x")): _*)
      .filter(col("__x").isNotNull)
      .groupBy(siteKey.map(col): _*)
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("__case"), 1L).otherwise(0L)).as("n_cases"),
        sum(col("__x")).as("dose_sum_micro"),
        sum(when(col("__case"), col("__x")).otherwise(0L))
          .as("case_dose_sum_micro"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sx2"))
    val n = col("n_total").cast(dec)
    val r = col("n_cases").cast(dec)
    val num = n * col("case_dose_sum_micro").cast(dec) -
      r * col("dose_sum_micro").cast(dec)
    val den = (n * col("__sx2") -
      col("dose_sum_micro").cast(dec) * col("dose_sum_micro").cast(dec)) *
      r * (n - r)
    agg
      .withColumn("trend_sign",
        when(num > 0, 1).when(num < 0, -1).otherwise(0))
      .withColumn("__num", n * num * num * lit(1000000L).cast(dec))
      .withColumn("__den", den)
      .withColumn("trend_micro",
        when(col("__den") === 0, 0L)
          .otherwise(expr("__num DIV __den")))
      .drop("__sx2", "__num", "__den")
  }

  /** META-ANALYSIS across association studies — weighted STOUFFER
    * combination (Stouffer 1949; the sample-size-weighted form METAL's
    * `SCHEME SAMPLESIZE` popularized for GWAS, Willer et al. 2010):
    * per site, each study contributes a SIGNED z from its trend scan
    * (z = sign·√χ², [[trendTest]]'s trend_sign/trend_micro), and
    *
    *   Z = Σ wᵢ·zᵢ / √(Σ wᵢ²)   (sum over the CONTRIBUTING studies)
    *
    * — evidence pointing the same direction compounds, conflicting
    * directions cancel (exactly what a naive χ² sum gets wrong).
    * The normalizer is PER SITE over the studies that actually cover
    * it (METAL's convention): a site observed by a subset of studies
    * is normalized by that subset's √Σwᵢ², so its Z stays a
    * standard-normal z rather than being deflated by absent studies'
    * weights. Determinism: zᵢ_micro = sign·⌊√(trend_micro·10⁶)⌋ is
    * one correctly-rounded IEEE sqrt of an exact long; Σ wᵢ·zᵢ_micro
    * and Σ wᵢ² are exact int64 sums (order-free); √(Σwᵢ²) is one
    * correctly-rounded IEEE sqrt of an exact long; one final floored
    * divide. Sites absent from a study simply contribute nothing
    * (available-case meta, `n_studies` reports coverage).
    *
    * Shape: union of the studies' trend frames (each ONE site groupBy,
    * no joins) + one site-keyed partial agg — zero extra exchanges on
    * a site-bucketed landing.
    */
  def metaStouffer(
      studies: Seq[(DataFrame, Long)],
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    require(studies.nonEmpty, "no studies to combine")
    require(studies.forall(_._2 > 0L), "study weights must be positive")
    val tagged = studies.map { case (df, w) =>
      df.select(siteKey.map(col) ++ Seq(
        (col("trend_sign").cast("long") *
          floor(sqrt(col("trend_micro").cast("double") * lit(1000000.0)))
            .cast("long") * lit(w)).as("__wz"),
        lit(w * w).as("__w2")): _*)
    }.reduce(_ unionByName _)
    tagged
      .groupBy(siteKey.map(col): _*)
      .agg(count(lit(1)).as("n_studies"),
        sum(col("__wz")).as("wz_sum"),
        sum(col("__w2")).as("__w2s"))
      .withColumn("z_micro",
        floor(col("wz_sum").cast("double") /
          sqrt(col("__w2s").cast("double"))).cast("long"))
      .drop("__w2s")
  }

  /** Windowed NUCLEOTIDE DIVERSITY π — `vcftools --window-pi`'s
    * statistic, the population-genetics density signal (diversity dips
    * flag selective sweeps, spikes flag balancing selection or mapping
    * artifacts): per polymorphic biallelic site with b ALT alleles of
    * c called, π = 2·b·(c−b)/(c·(c−1)) — the probability two randomly
    * drawn alleles differ (the unbiased heterozygosity estimator) —
    * micro-floored per site after ONE double division over exact int64
    * products (the [[hweBySite]] determinism pattern), then summed
    * EXACTLY per fixed window of `windowSize` bases. Monomorphic sites
    * carry π = 0 and are excluded (vcftools' variant-sites
    * convention); `n_sites` counts the polymorphic sites per window.
    * Windows follow vcftools' 1-BASED convention: bin = (pos−1) DIV
    * windowSize, so position windowSize itself still belongs to the
    * first window (bin 0 covers [1, windowSize]).
    *
    * Shape: the [[hweBySite]] count substrate (one partial-aggregated
    * site groupBy, zero exchanges on a site-bucketed landing) + one
    * (chrom, bin) partial agg — the bin is a prefix of the site key's
    * order, so a range-partitioned landing keeps this exchange-free
    * too.
    */
  def windowPi(ann: DataFrame, windowSize: Long = 1000L): DataFrame = {
    require(windowSize >= 1L, s"windowSize must be >= 1, got $windowSize")
    val b = col("n1") + lit(2L) * col("n2")
    val c = lit(2L) * (col("n0") + col("n1") + col("n2"))
    hweBySite(ann)
      .withColumn("__b", b).withColumn("__c", c)
      .filter(col("__b") > 0L && col("__b") < col("__c"))
      .withColumn("__pi", floor(
        (lit(2L) * col("__b") * (col("__c") - col("__b"))).cast("double")
          / (col("__c") * (col("__c") - lit(1L))).cast("double")
          * lit(1000000.0)).cast("long"))
      .groupBy(col("chrom"),
        expr(s"(pos - 1) DIV $windowSize").as("bin"))
      .agg(count(lit(1)).as("n_sites"), sum(col("__pi")).as("pi_sum_micro"))
  }

  /** Per-sample SINGLETON counts — `plink --singletons` / the
    * rare-variant QC signal (a sample carrying many cohort-private
    * alleles flags contamination, population outliers, or batch
    * artifacts; singleton density is also the input to rare-variant
    * burden work): a singleton site has TOTAL alt dosage exactly 1
    * across called diploid genotypes, and its one het carrier scores
    * it. Min-dosage duplicate resolution as [[grmPairs]]. Returns
    * (sample_id, n_singletons) for carriers of ≥ 1 singleton.
    *
    * Shape: one site-keyed dosage groupBy, one site agg, one
    * site-keyed join BACK to the same dosage frame (ReusedExchange on
    * a site-bucketed landing), one sample agg.
    */
  def singletonCounts(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val g = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) ++ Seq(
        col(sampleCol).as("__s"),
        (col("gt1").cast("long") + col("gt2").cast("long")).as("__d")): _*)
      .groupBy((siteKey.map(col) :+ col("__s")): _*)
      .agg(min(col("__d")).as("__d"))
    val freq = g.groupBy(siteKey.map(col): _*).agg(sum(col("__d")).as("__b"))
    g.join(freq, siteKey)
      .filter(col("__b") === 1L && col("__d") === 1L)
      .groupBy(col("__s").as(sampleCol))
      .agg(count(lit(1)).as("n_singletons"))
  }

  /** Composite SITE-QC GATE — the standard pre-analysis variant filter
    * (every GWAS/burden pipeline's first step, the genomics twin of the
    * corpus-side Gopher gate): per biallelic site, call rate, minor
    * allele frequency, and the [[hweBySite]] chi-square, each with a
    * rule flag and the conjunction `keep` —
    *
    *   r_call_rate: called-diploid samples / totalSamples ≥ min
    *   r_maf:       min(A, B)/(A + B) ≥ min (A/B = ref/alt alleles)
    *   r_hwe:       χ² ≤ max (HWE-violating sites flag artifacts)
    *
    * Flags returned, not filtered, so pipelines audit per-rule kill
    * rates before committing (the q120 posture); `.filter(col
    * ("keep"))` is the production gate. Determinism: every rule is an
    * exact integer cross-product comparison (n·10⁶ ≥ min·S, min(A,B)·
    * 10⁶ ≥ min·(A+B), χ²_micro ≤ max) — the reported ratios are the
    * usual micro-floored single divisions. Multi-allelic and
    * any-missing calls are excluded exactly as [[hweBySite]] does;
    * totalSamples is caller-supplied (the cohort panel width — sites
    * where a sample is missing entirely must still count it in the
    * call-rate denominator, which no per-site scan can know).
    *
    * Shape: ONE partial-aggregated site groupBy (the hweBySite plan)
    * plus a narrow projection — zero exchanges on a site-bucketed
    * landing.
    */
  def siteQcGate(
      ann: DataFrame,
      totalSamples: Int,
      minCallRateMicro: Long = 900000L,
      minMafMicro: Long = 10000L,
      maxHweMicro: Long = 3841000L,
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    require(totalSamples > 0, s"totalSamples must be positive: $totalSamples")
    val h = hweBySite(ann, siteKey)
    val n = col("n0") + col("n1") + col("n2")
    val a = lit(2L) * col("n0") + col("n1")
    val b = col("n1") + lit(2L) * col("n2")
    val minAb = least(a, b)
    h.select(
        (siteKey.map(col) :+ col("n0") :+ col("n1") :+ col("n2") :+
          col("hwe_micro")): _*)
      .withColumn("call_rate_micro",
        floor(n.cast("double") / lit(totalSamples.toDouble) * lit(1000000.0))
          .cast("long"))
      .withColumn("maf_micro",
        when(a + b === 0L, 0L).otherwise(
          floor(minAb.cast("double") / (a + b).cast("double")
            * lit(1000000.0)).cast("long")))
      .withColumn("r_call_rate",
        n * lit(1000000L) >= lit(minCallRateMicro) * totalSamples.toLong)
      .withColumn("r_maf",
        minAb * lit(1000000L) >= lit(minMafMicro) * (a + b))
      .withColumn("r_hwe", col("hwe_micro") <= maxHweMicro)
      .withColumn("keep", col("r_call_rate") && col("r_maf") && col("r_hwe"))
  }

  /** Per-sample INBREEDING coefficient (the `plink --het` F statistic —
    * the standard per-sample QC for consanguinity, contamination
    * (depressed F), and genotyping batch effects): over biallelic
    * called-diploid calls,
    *
    *   F = (O_hom − E_hom) / (N − E_hom) = (Σe − O_het·1) / Σe
    *
    * where e = per-site expected heterozygosity 2p̂q̂ = A·B/(2n²) with
    * A = 2n0+n1 (ref alleles), B = n1+2n2 (alt alleles), n the site's
    * called-diploid depth. No small-sample correction (plink's
    * 2n/(2n−1) factor) — documented, and constant-free so the statistic
    * stays a ratio of exact integers. Determinism: each site's e is
    * micro-floored from ONE double division of exact int64 products
    * (the [[hweBySite]] pattern), per-sample sums are then exact longs,
    * and F is one final micro-floored division — bit-identical across
    * engines and partitionings.
    *
    * Scale shape: one site-keyed groupBy of the long frame + one
    * site-keyed join BACK to the same frame (both sides the same
    * annotate plan — ReusedExchange; zero exchanges on a site-bucketed
    * landing) + one tiny per-sample agg.
    */
  def inbreedingF(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val bi = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) ++ Seq(
        col(sampleCol),
        (col("a1") === col("a2")).as("__hom")): _*)
    val a = lit(2L) * col("n0") + col("n1")
    val b = col("n1") + lit(2L) * col("n2")
    val n = col("n0") + col("n1") + col("n2")
    val counted = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .groupBy(siteKey.map(col): _*)
      .agg(
        sum(when(col("zygosity") === "hom-ref", 1L).otherwise(0L)).as("n0"),
        sum(when(col("zygosity") === "het-ref", 1L).otherwise(0L)).as("n1"),
        sum(when(col("zygosity") === "hom-alt", 1L).otherwise(0L)).as("n2"))
      .withColumn("ehet_micro",
        when(n === 0L, 0L).otherwise(
          floor((a * b).cast("double") / (lit(2L) * n * n).cast("double")
            * lit(1000000.0)).cast("long")))
      .select((siteKey.map(col) :+ col("ehet_micro")): _*)
    val perCall = bi.join(counted, siteKey)
    val ehetSum = sum(col("ehet_micro"))
    val obsHet = sum(when(!col("__hom"), 1L).otherwise(0L))
    perCall
      .groupBy(sampleCol)
      .agg(
        count(lit(1)).as("n_sites"),
        sum(when(col("__hom"), 1L).otherwise(0L)).as("n_obs_hom"),
        ehetSum.as("ehet_sum_micro"),
        when(ehetSum === 0L, 0L).otherwise(
          floor((ehetSum - obsHet * lit(1000000L)).cast("double")
            / ehetSum.cast("double") * lit(1000000.0)).cast("long"))
          .as("f_micro"))
  }

  /** GENOTYPE-BASED SEX INFERENCE (`plink --check-sex`): the
    * per-sample X-chromosome inbreeding F with plink's band
    * classification — males are hemizygous on X, so genuine
    * heterozygous X calls are (nearly) impossible and a male sample
    * reads F ≈ 1, a female F ≈ 0; the mismatch against recorded sex is
    * the classic sample-swap catch, run before anything downstream
    * consumes the pedigree. [[inbreedingF]] restricted to `xChrom`,
    * then bands on the micro-FLOORED F (engine-replayable):
    * F > maleMinMicro (plink's 0.8) → `male`, F < femaleMaxMicro
    * (plink's 0.2) → `female`, else `unknown`. PAR handling is the
    * caller's (exclude pseudo-autosomal sites upstream, plink's
    * `--split-x` posture); samples with NO usable X calls emit
    * nothing — join the sample panel downstream to surface them as
    * ambiguous. Corpus cost = [[inbreedingF]] over the X slice (the
    * chrom filter pushes to the scan).
    */
  def sexCheck(
      ann: DataFrame, xChrom: String,
      sampleCol: String = "sample_id",
      maleMinMicro: Long = 800000L,
      femaleMaxMicro: Long = 200000L): DataFrame = {
    require(femaleMaxMicro <= maleMinMicro,
      s"need femaleMaxMicro <= maleMinMicro, got " +
        s"$femaleMaxMicro > $maleMinMicro")
    inbreedingF(ann.filter(col("chrom") === xChrom), sampleCol)
      .withColumn("inferred_sex",
        when(col("f_micro") > maleMinMicro, "male")
          .when(col("f_micro") < femaleMaxMicro, "female")
          .otherwise("unknown"))
  }

  /** POLYGENIC SCORE (the `plink --score` shape): per-sample
    * Σ_k β_k · x_k over a WEIGHT PANEL — `weights` keyed by the full
    * site key with an integer `beta_micro` effect column (published
    * GWAS weights ship as fixed-precision decimals; micro units keep
    * the whole score exact int64, engine-replayable, immune to float
    * summation order). x is the biallelic ALT dosage from called
    * diploid genotypes. Returns (sampleCol, n_sites, n_alt,
    * score_micro); divide by n_sites downstream for plink's
    * `--score ... sum`-vs-average variants. `dosageCol = Some("DS")`
    * switches x to the typed imputation dosage with GT fallback
    * (plink2 --score on DS — see the branch comment; output becomes
    * n_sites/n_ds/dose_sum_micro/score_pico); the default None keeps
    * this path and its output schema byte-identical (q138's hash).
    *
    * Scale shape: a score panel is bounded by the GWAS (10⁴–10⁶ rows),
    * so it BROADCASTS — the cohort's call stream never shuffles for
    * the join; the only exchange is the final per-sample aggregation,
    * partial-aggregated. Linear in calls, unlike the pairwise
    * relatedness operators.
    */
  def polygenicScore(
      ann: DataFrame, weights: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      dosageCol: Option[String] = None,
      gpCol: String = "GP"): DataFrame = dosageCol match {
    case None =>
      def called(c: String) = col(c).isNotNull && col(c) =!= "."
      ann
        .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
        .select(siteKey.map(col) ++ Seq(
          col(sampleCol),
          ((col("gt1") === "1").cast("long") +
            (col("gt2") === "1").cast("long")).as("__x")): _*)
        .join(broadcast(weights), siteKey)
        .groupBy(col(sampleCol))
        .agg(
          count(lit(1)).as("n_sites"),
          sum(col("__x")).as("n_alt"),
          sum(col("__x") * col("beta_micro")).as("score_micro"))
    case Some(ds) =>
      // IMPUTATION-DOSAGE scoring (plink2 --score on FORMAT DS — the
      // biobank posture: UK Biobank/TOPMed callsets ship imputed
      // dosages and production PGS runs on DS, not GT hard calls):
      // x = the call's typed dosage in MICRO units via the
      // DS > GP > GT ladder ([[dosageMicro]] fixed-6-decimal parse;
      // [[gpDosageMicro]] folds a GP triple to P(het) + 2·P(hom-alt)
      // where the frame carries GP — minimac/Beagle ship GP-only
      // callsets), falling back to the GT hard-call dosage when no
      // typed rung parses (plink's dosage-certainty fallback), the
      // row dropping out only when ALL are unusable. n_ds counts the
      // typed-dosage-sourced rows (DS or GP, not GT fallback). Σ β_micro·x_micro is an exact
      // int64 PICO-unit fold (order-free), so the score is
      // engine-replayable with zero float summation. Same broadcast
      // shape as the GT path; output adds the DS-coverage count
      // (n_ds) and swaps n_alt/score_micro for dose_sum_micro/
      // score_pico. NOTE: this consumes [[VariantAnnotator.annotate]]
      // output, which drops fully-missing GT calls — a dosage-only
      // record (GT ./. but DS present) does not reach the fold; run
      // [[VariantAnnotator.callFromPl]] first on such callsets.
      val dsm = typedDosageMicro(ann, ds, gpCol)
      val gtm = gtDosageMicro
      ann
        .filter(col("multiallele") === 0)
        .select(siteKey.map(col) ++ Seq(
          col(sampleCol), dsm.as("__ds"), gtm.as("__gtm")): _*)
        .withColumn("__x", coalesce(col("__ds"), col("__gtm")))
        .filter(col("__x").isNotNull)
        .join(broadcast(weights), siteKey)
        .groupBy(col(sampleCol))
        .agg(
          count(lit(1)).as("n_sites"),
          sum(when(col("__ds").isNotNull, 1L).otherwise(0L)).as("n_ds"),
          sum(col("__x")).as("dose_sum_micro"),
          sum(col("__x") * col("beta_micro")).as("score_pico"))
  }

  /** Typed-DS parse to MICRO units: a dosage string with ≤ 6 decimal
    * places (how imputation pipelines write DS) parses EXACTLY via one
    * guarded decimal cast — `1.25` → 1250000L; anything else (missing
    * `.`, junk, >6 decimals — which would round differently across
    * engines) yields NULL so the caller's GT fallback takes over. The
    * rlike guard keeps the cast ANSI-safe and the whole expression
    * codegen'd.
    */
  private def dosageMicro(c: Column): Column =
    when(c.rlike("^[0-9]{1,12}(\\.[0-9]{1,6})?$"),
      (c.cast("decimal(20,6)") * lit(1000000L)).cast("long"))

  /** Typed-GP parse to MICRO dosage units: `Number=G` genotype
    * probabilities `P(0/0),P(0/1),P(1/1)` (how minimac/Beagle emit
    * imputed confidence when DS is absent) reduce EXACTLY to the
    * expected ALT dosage DS = P(het) + 2·P(hom-alt) — two micro
    * parses ([[dosageMicro]]'s ladder: ≤ 6 decimals each, int64
    * arithmetic, engine-replayable) and one fold. A GP that is
    * missing (`.`), malformed, not a biallelic triple, or carries
    * > 6 decimals yields NULL so the next fallback rung takes over —
    * the same refusal contract as DS. Values are taken at face value
    * (minimac emits normalized triples; no renormalization).
    */
  private def gpDosageMicro(c: Column): Column = {
    val part = "[0-9]{1,12}(\\.[0-9]{1,6})?"
    val parts = split(c, ",")
    def micro(i: Int) =
      (element_at(parts, i).cast("decimal(20,6)") * lit(1000000L))
        .cast("long")
    when(c.rlike(s"^$part,$part,$part$$"), micro(2) + lit(2L) * micro(3))
  }

  /** The typed-dosage rung stack for `df`'s own schema, PRECEDENCE
    * DS > GP: the DS parse where the column exists, then the
    * GP-derived dosage where that column exists. Columns absent from
    * the frame contribute NO rung (not a NULL literal), so a DS-only
    * frame plans exactly the pre-GP expression — every carry-over
    * dosage-gate hash is byte-identical. NULL (no rungs or all
    * refused) hands over to [[gtDosageMicro]] in [[dosageLadder]].
    */
  private def typedDosageMicro(
      df: DataFrame, dsCol: String, gpCol: String): Column = {
    val rungs =
      (if (df.columns.contains(dsCol)) Seq(dosageMicro(col(dsCol)))
       else Nil) ++
      (if (df.columns.contains(gpCol)) Seq(gpDosageMicro(col(gpCol)))
       else Nil)
    // a dosage-mode call on a frame with NEITHER typed column is a
    // caller error (unmaterialized DS, or a column-name typo) — the
    // silent alternative would run GT hard calls while the caller
    // believes they ran an imputation-dosage analysis
    require(rungs.nonEmpty,
      s"neither dosage column '$dsCol' nor '$gpCol' exists in the " +
        s"frame (columns: ${df.columns.mkString(", ")}) — materialize " +
        "one via annotate(formatKeys = ...) or name the right column")
    if (rungs.length == 1) rungs.head
    else coalesce(rungs: _*)
  }

  /** The full dosage ladder DS > GP > GT-hard-call. */
  private def dosageLadder(
      df: DataFrame, dsCol: String, gpCol: String): Column =
    coalesce(typedDosageMicro(df, dsCol, gpCol), gtDosageMicro)

  /** GT hard-call ALT dosage in MICRO units on called diploid rows
    * (NULL otherwise) — the fallback substrate for the dosage modes;
    * equals 10⁶·(gt1+gt2) which on the biallelic (multiallele=0)
    * slice is the ALT-allele count.
    */
  private def gtDosageMicro: Column = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    when(called("gt1") && called("gt2"),
      (col("gt1").cast("long") + col("gt2").cast("long")) * lit(1000000L))
  }

  /** IMPUTATION INFO SCORE per site (the MaCH/minimac `Rsq` — the
    * quality metric every GWAS filters imputed sites on, e.g.
    * `INFO > 0.8` before association): the ratio of the EMPIRICAL
    * dosage variance to the variance expected under perfect binomial
    * calls,
    *
    *   INFO = Var(DS) / (2·p̂·(1−p̂)),  p̂ = ΣDS / 2n
    *
    * — a well-imputed common site has dosages hugging 0/1/2 (ratio
    * → 1), an uncertain one has them shrunk toward 2p (ratio → 0).
    * With x in exact MICRO units (S = Σx, Q = Σx², U = 10⁶) the ratio
    * reduces to the exact rational 2(nQ − S²)/(S(2nU − S)) — decimal
    * (38,0) products and ONE floored division, engine-replayable,
    * exact past any cohort (8·10¹⁸·n² ≤ 10³⁸ → n ≤ 3.5·10⁹).
    * Monomorphic dosage (S = 0 or S = 2nU) defines 0, plink/minimac's
    * convention; Var > expected (possible on real data) reports > 10⁶
    * raw, as minimac does. Same DS > GP > GT dosage ladder as the
    * dosage [[polygenicScore]].
    *
    * Shape: ONE site-keyed partial-aggregated groupBy — zero joins,
    * zero exchanges on a site-bucketed landing.
    */
  def imputationInfoScore(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      dosageCol: String = "DS",
      gpCol: String = "GP"): DataFrame = {
    val dec = "decimal(38,0)"
    val agg = ann
      .filter(col("multiallele") === 0)
      .select(siteKey.map(col) :+
        dosageLadder(ann, dosageCol, gpCol).as("__x"): _*)
      .filter(col("__x").isNotNull)
      .groupBy(siteKey.map(col): _*)
      .agg(
        count(lit(1)).as("n_called"),
        sum(col("__x")).as("dose_sum_micro"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__q"))
    val n = col("n_called").cast(dec)
    val s = col("dose_sum_micro").cast(dec)
    val den = s * (n * lit(2000000L).cast(dec) - s)
    agg
      .withColumn("__num",
        (n * col("__q") - s * s) * lit(2000000L).cast(dec))
      .withColumn("__den", den)
      .withColumn("info_micro",
        when(col("__den") === 0, 0L)
          .otherwise(expr("__num DIV __den")))
      .drop("__q", "__num", "__den")
  }

  /** DOSAGE↔HARD-CALL CONCORDANCE per sample — the imputation-QC
    * swap check (the per-sample companion of [[imputationInfoScore]]'s
    * per-site read): on calls carrying BOTH a typed dosage (DS, or the
    * [[gpDosageMicro]]-derived GP rung on GP-only callsets) and a
    * called diploid GT, |DS − GT| should hug 0 for the sample's own
    * data — a
    * sample whose dosages systematically disagree with its hard calls
    * was swapped/contaminated between calling and imputation (the
    * classic post-imputation sanity pass). Per sample: compared-call
    * count, exact Σ|DS−GT| micro, its floored mean, the count of
    * deviations above `thresholdMicro` (default 0.5 — "the best-guess
    * genotype disagrees"), and the floored micro discordance rate.
    * All int64-exact, engine-replayable.
    *
    * Shape: ONE sample-keyed partial-aggregated groupBy — zero joins,
    * zero exchanges beyond the |samples|-row rollup.
    */
  def dosageConcordance(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      dosageCol: String = "DS",
      thresholdMicro: Long = 500000L,
      gpCol: String = "GP"): DataFrame = {
    require(thresholdMicro >= 0L,
      s"thresholdMicro must be >= 0, got $thresholdMicro")
    val dev = abs(typedDosageMicro(ann, dosageCol, gpCol) - gtDosageMicro)
    ann
      .filter(col("multiallele") === 0)
      .select(col(sampleCol), dev.as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col(sampleCol))
      .agg(
        count(lit(1)).as("n_compared"),
        sum(col("__d")).as("dev_sum_micro"),
        sum(when(col("__d") > thresholdMicro, 1L).otherwise(0L))
          .as("n_discordant"))
      .withColumn("mean_dev_micro",
        expr("dev_sum_micro DIV n_compared"))
      .withColumn("discordant_micro",
        expr("(n_discordant * 1000000) DIV n_compared"))
  }

  /** DOSAGE-MEAN allele frequency per site (the imputed-AF convention:
    * AF = Σ DS / 2n over the samples with a usable dosage — what
    * `bcftools +fill-tags -- -t AF` computes when pointed at DS, and
    * the MAF substrate association/PGS filtering should use on imputed
    * data instead of hard-call counting): per site, the usable-sample
    * count, the typed-dosage-sourced count (DS or GP — the
    * [[gpDosageMicro]] rung serves GP-only imputed callsets), the
    * exact micro dosage sum, and af_micro = ⌊Σx / 2n⌋ (one integer
    * division over exact int64 — engine-replayable). Same
    * DS > GP > GT dosage ladder as the dosage [[polygenicScore]].
    *
    * Shape: ONE site-keyed partial-aggregated groupBy — zero joins,
    * zero exchanges on a site-bucketed landing.
    */
  def dosageAf(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      dosageCol: String = "DS",
      gpCol: String = "GP"): DataFrame = {
    val dsm = typedDosageMicro(ann, dosageCol, gpCol)
    ann
      .filter(col("multiallele") === 0)
      .select(siteKey.map(col) ++ Seq(
        dsm.as("__ds"), gtDosageMicro.as("__gtm")): _*)
      .withColumn("__x", coalesce(col("__ds"), col("__gtm")))
      .filter(col("__x").isNotNull)
      .groupBy(siteKey.map(col): _*)
      .agg(
        count(lit(1)).as("n_called"),
        sum(when(col("__ds").isNotNull, 1L).otherwise(0L)).as("n_ds"),
        sum(col("__x")).as("dose_sum_micro"))
      .withColumn("af_micro",
        expr("dose_sum_micro DIV (2 * n_called)"))
  }

  /** Pairwise GENETIC-RELATIONSHIP-MATRIX entries (the GCTA/VanRaden
    * 2008 allele-frequency-standardized estimator — J Dairy Sci 91:4414;
    * Yang et al. 2011 GCTA): over biallelic called-diploid calls at
    * sites polymorphic in the cohort,
    *
    *   G_ab = (1/N_ab) · Σ_k (x_ak − 2p_k)(x_bk − 2p_k) / (2 p_k q_k)
    *
    * with x the ALT dosage and p_k the cohort ALT frequency at site k.
    * The GRM is the other half of the relatedness toolbox next to
    * [[kinshipCounts]]: KING is robust to population structure, the GRM
    * IS the structure (its eigenvectors are the PCA ancestry axes, its
    * entries feed REML/BLUP heritability). Diagonal entries (a = b)
    * are included — G_aa − 1 estimates inbreeding.
    *
    * Determinism: with p = b/(2n) (b ALT alleles, a = 2n−b REF alleles
    * over n called-diploid samples at the site), the per-site summand
    * reduces to the exact rational 2·(n·x_a − b)(n·x_b − b)/(a·b) —
    * int64 products, micro-floored after ONE double division (the
    * [[hweBySite]] pattern), summed exactly, then one final floored
    * division by N_ab. Int64-exact far past any real cohort at the
    * per-site step (|n·x − b| ≤ 2n); the per-pair sum stays exact longs.
    * `decimalLift = true` replaces BOTH floored double divides with
    * exact FLOOR division in integer/decimal arithmetic (signed
    * numerators need the pmod-adjusted spelling — DIV truncates toward
    * zero, floor must round toward −∞): exact to n ~ 10¹⁵ per site
    * (8n²·10⁶ ≤ 10³⁸). The two paths agree at small width
    * (spec-pinned); the default stays int64+double so the q118 oracle
    * hash is unchanged.
    * Monomorphic sites (a = 0 or b = 0) are excluded as GCTA does —
    * the standardization divides by 2pq. Duplicate/conflicting
    * (site, sample) records resolve to the MIN dosage first (the
    * [[ldR2Pairs]] rule — deterministic on malformed merges).
    *
    * Scale shape: one per-(site, sample) min agg, one site-keyed freq
    * agg and a site-keyed self-join — all three hash on the site key or
    * a superset of it, the self-join's two sides are the SAME plan
    * (ReusedExchange; zero exchanges on a site-bucketed landing) —
    * then ONE pair-keyed agg. Per-site fan-out is S(S+1)/2 pairs:
    * quadratic in cohort width, linear in sites — batch cohorts or an
    * LD-pruned panel at biobank width, exactly as GCTA does.
    */
  def grmPairs(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      decimalLift: Boolean = false): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val g = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) ++ Seq(
        col(sampleCol).as("__s"),
        (col("gt1").cast("long") + col("gt2").cast("long")).as("__d")): _*)
      .groupBy((siteKey.map(col) :+ col("__s")): _*)
      .agg(min(col("__d")).as("__d"))
    val freq = g
      .groupBy(siteKey.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__b"))
      .withColumn("__a", lit(2L) * col("__n") - col("__b"))
      .filter(col("__a") > 0L && col("__b") > 0L)
    val za = col("__n") * col("d_a") - col("__b")
    val zb = col("__n") * col("d_b") - col("__b")
    // signed exact floor division: DIV truncates toward zero, floor
    // must round toward −∞ — subtract pmod first (den > 0)
    def floorDiv(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast("long")
    val termMicro =
      if (decimalLift) {
        val dec = "decimal(38,0)"
        floorDiv((lit(2L) * za * zb).cast(dec) * lit(1000000L).cast(dec),
          (col("__a") * col("__b")).cast(dec))
      } else floor(
        (lit(2L) * za * zb).cast("double") / (col("__a") * col("__b")).cast("double")
          * lit(1000000.0)).cast("long")
    val pairSum = sum(termMicro)
    val grmMicro =
      if (decimalLift) floorDiv(pairSum, count(lit(1)))
      else floor(pairSum.cast("double") / count(lit(1)).cast("double"))
        .cast("long")
    // r17 (guide §2.1): self-join g against ITSELF — renaming the
    // sides before the join made the two exchange inputs structurally
    // different, so each side re-ran the whole upstream chain
    // (annotate → dosage agg); with both children canonically equal
    // the pair join plans ONE shuffle map stage read twice
    // (ReusedExchange) — the kinshipCounts fix, second body
    val eqKeys = siteKey.map(k => col(s"ga.$k") === col(s"gb.$k"))
      .reduce(_ && _)
    g.as("ga").join(g.as("gb"), eqKeys && col("ga.__s") <= col("gb.__s"))
      .select(siteKey.map(k => col(s"ga.$k").as(k)) ++ Seq(
        col("ga.__s").as("sample_a"), col("gb.__s").as("sample_b"),
        col("ga.__d").as("d_a"), col("gb.__d").as("d_b")): _*)
      .join(freq, siteKey)
      .groupBy("sample_a", "sample_b")
      .agg(
        count(lit(1)).as("n_sites"),
        pairSum.as("grm_sum_micro"),
        grmMicro.as("grm_micro"))
  }

  /** Genotype PCA — POPULATION STRUCTURE axes (the `plink --pca` /
    * EIGENSTRAT smartpca shape, Patterson et al. 2006): eigendecompose
    * the [[grmPairs]] relationship matrix and return each sample's
    * top-k principal-component coordinates (eigenvector scaled by
    * √eigenvalue) plus the eigenvalues. The PCs are the ancestry
    * covariates every association study conditions on, and the
    * complement of [[fstByChrom]]'s two-cohort summary when cohort
    * labels are unknown.
    *
    * Scale shape: the corpus-side work IS [[grmPairs]] (site-keyed
    * self-join + one pair agg — linear in sites); the eigenproblem is
    * S×S, driver-side by the same smallness argument as centroids
    * (a cohort has a fixed sample panel — and at biobank width one
    * runs the GRM on an LD-pruned panel first, as the published
    * pipelines do). Determinism: the matrix entries are grmPairs'
    * micro-floored exact integers, the Jacobi sweep
    * ([[Similarity.jacobiEigen]]) has a fixed rotation order, and each
    * component's sign is normalized (largest-|coordinate| positive,
    * lowest index on ties) — a pure function of the input rows
    * regardless of partitioning. Pairs sharing NO polymorphic site get
    * relationship 0 (no evidence).
    */
  def genotypePca(
      ann: DataFrame, k: Int,
      sampleCol: String = "sample_id"): (DataFrame, Seq[Double]) = {
    val (df, evs, _) = genotypePcaWithGrm(ann, k, sampleCol)
    (df, evs)
  }

  /** [[genotypePca]] plus the collected (sample_a, sample_b, grm_micro)
    * upper-triangle rows the eigen actually decomposed — the
    * invariant-gate form (q123): callers can verify the eigen equation
    * G·v = λ·v against the exact matrix without a second [[grmPairs]]
    * corpus pass. Same driver-side S×S posture as [[genotypePca]].
    */
  def genotypePcaWithGrm(
      ann: DataFrame, k: Int,
      sampleCol: String = "sample_id")
      : (DataFrame, Seq[Double], Array[(String, String, Long)]) = {
    require(k >= 1, s"k must be positive, got $k")
    val rows = grmPairs(ann, sampleCol)
      .select("sample_a", "sample_b", "grm_micro").collect()
    require(rows.nonEmpty, "genotypePca over an empty cohort")
    val samples = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val s = samples.length
    require(k <= s, s"k=$k exceeds cohort width $s")
    val ix = samples.zipWithIndex.toMap
    val m = Array.ofDim[Double](s, s)
    rows.foreach { r =>
      val (i, j) = (ix(r.getString(0)), ix(r.getString(1)))
      val v = r.getLong(2) / 1e6
      m(i)(j) = v
      m(j)(i) = v
    }
    val (values, vectors) = Similarity.jacobiEigen(m)
    val order = values.zipWithIndex.sortBy { case (v, i2) => (-v, i2) }.map(_._2)
    val top = order.take(k)
    val comps = top.map { c =>
      val v = vectors.map(_(c))
      val mx = v.indices.maxBy(p => (math.abs(v(p)), -p))
      if (v(mx) < 0) v.map(x => -x) else v
    }
    val evs = top.map(values(_)).toSeq
    val spark = ann.sparkSession
    import spark.implicits._
    val df = samples.zipWithIndex.map { case (sid, i) =>
      (sid, comps.zip(evs).map { case (c, ev) =>
        c(i) * math.sqrt(math.max(ev, 0.0))
      }.toSeq)
    }.toSeq.toDF(sampleCol, "pcs")
    (df, evs,
      rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))))
  }

  /** Project NEW samples onto an EXISTING cohort's PC axes — the
    * EIGENSTRAT `lsqproject` / "project onto the 1000G PCs" step every
    * association pipeline runs when fresh samples arrive and the
    * ancestry axes must NOT move (re-running [[genotypePca]] on the
    * union would let the new samples bend the axes toward themselves —
    * the projection-bias direction Patterson et al. warn about; here
    * the reference axes are frozen). Allele frequencies come from the
    * REFERENCE cohort only, sites restricted to reference-polymorphic
    * ones, so a new sample is scored against the reference's
    * standardization exactly. Coordinates via the spectral identity
    * x_c = Σᵢ K(x,i)·p_i(c) / λ_c with K the cross-relationship row
    * computed by the [[grmPairs]] kernel (same min-dosage resolution,
    * same micro-floored per-site terms): a reference sample re-entered
    * as "new" recovers its own coordinate exactly (KU = λU —
    * spec-pinned). Components with λ_c ≈ 0 carry no variance and
    * project to 0 rather than dividing by noise.
    *
    * Scale shape: reference PCA as [[genotypePca]]; the new-side cost
    * is one site-keyed equi-join of new dosages × reference dosages ×
    * the frequency frame (all hash on the site key) + one pair agg +
    * one broadcast join against the S·k PC rows — new samples never
    * shuffle against each other, so arrival batches scale linearly.
    * This convenience form re-derives the reference model per call;
    * production arrival loops should compute [[genotypePca]] ONCE and
    * use [[projectOntoModel]] per batch (axes frozen is the point —
    * re-running the eigen per batch pays the reference pass every
    * time for the same answer).
    */
  def projectOntoPcs(
      refAnn: DataFrame, newAnn: DataFrame, k: Int,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    val (pcsDf, evs) = genotypePca(refAnn, k, sampleCol)
    projectOntoModel(refAnn, pcsDf, evs, newAnn, sampleCol, siteKey)
  }

  /** [[projectOntoPcs]] with a PRECOMPUTED reference model — the
    * production per-batch shape: (pcs, eigenvalues) from ONE
    * [[genotypePca]] run, reused across every arrival batch.
    */
  def projectOntoModel(
      refAnn: DataFrame, pcsDf: DataFrame, evs: Seq[Double],
      newAnn: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    require(evs.nonEmpty, "empty eigenvalue list — not a PCA model")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    def dosage(ann: DataFrame) = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) ++ Seq(
        col(sampleCol).as("__s"),
        (col("gt1").cast("long") + col("gt2").cast("long")).as("__d")): _*)
      .groupBy((siteKey.map(col) :+ col("__s")): _*)
      .agg(min(col("__d")).as("__d"))
    // r17: a LAZY cut of gRef (it feeds both the frequency frame and
    // the cross-GRM join side) was measured FLAT on q152 (5.73 →
    // 5.69 s, exec 61.8 → 68.4) — the shared dosage exchange already
    // amortizes the double reference — so the cut was reverted.
    val gRef = dosage(refAnn)
    val freq = gRef
      .groupBy(siteKey.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__b"))
      .withColumn("__a", lit(2L) * col("__n") - col("__b"))
      .filter(col("__a") > 0L && col("__b") > 0L)
    val za = col("__n") * col("d_a") - col("__b")
    val zb = col("__n") * col("d_b") - col("__b")
    val termMicro = floor(
      (lit(2L) * za * zb).cast("double") / (col("__a") * col("__b")).cast("double")
        * lit(1000000.0)).cast("long")
    val pairSum = sum(termMicro)
    val cross = dosage(newAnn)
      .select(siteKey.map(col) ++ Seq(
        col("__s").as("sample_new"), col("__d").as("d_a")): _*)
      .join(gRef.select(siteKey.map(col) ++ Seq(
        col("__s").as("sample_ref"), col("__d").as("d_b")): _*), siteKey)
      .join(freq, siteKey)
      .groupBy("sample_new", "sample_ref")
      .agg(floor(pairSum.cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("grm_micro"))
    val refPcs = pcsDf.select(col(sampleCol).as("sample_ref"),
      posexplode(col("pcs")).as(Seq("c", "p")))
    val evSafe = evs.map(ev => if (ev > 1e-9) ev else 0.0)
    cross.join(broadcast(refPcs), "sample_ref")
      .groupBy(col("sample_new"), col("c"))
      .agg(sum(col("grm_micro").cast("double") / 1e6 * col("p")).as("__kp"))
      .withColumn("__ev", element_at(typedLit(evSafe), col("c") + 1))
      .withColumn("__x",
        when(col("__ev") > 0.0, col("__kp") / col("__ev")).otherwise(lit(0.0)))
      .groupBy(col("sample_new").as(sampleCol))
      .agg(transform(
        array_sort(collect_list(struct(col("c"), col("__x")))),
        s => s.getField("__x")).as("pcs"))
  }

  /** Per-site HUDSON F_ST numerator/denominator between two sample
    * cohorts (Hudson et al. 1992 as formulated in Bhatia et al. 2013,
    * Genome Res 23:1514 — the estimator they recommend over
    * Weir-Cockerham for its insensitivity to unequal sample sizes):
    * per biallelic site with pop ALT counts b₁/b₂ over c₁/c₂ called
    * alleles (p̂ᵢ = bᵢ/cᵢ),
    *
    *   N = (p̂₁−p̂₂)² − p̂₁q̂₁/(c₁−1) − p̂₂q̂₂/(c₂−1)
    *   D = p̂₁q̂₂ + p̂₂q̂₁
    *
    * and the reported statistic is the RATIO OF SUMS Σ N_k / Σ D_k
    * (never the mean of ratios — Bhatia's headline pitfall). Both N and
    * D are exact rationals over int64 products; each is micro-floored
    * after ONE double division ([[hweBySite]] determinism pattern),
    * summed exactly per chromosome, and the final ratio is one more
    * floored division. Sites need ≥ 2 called alleles in EACH cohort
    * (the c−1 terms); int64-exact to ~2k diploid samples per cohort
    * (c⁶-order composites). `decimalLift = true` carries every product
    * in decimal(38,0) with an exact pmod-floored integral division
    * (valid for the SIGNED numerator because the denominator is
    * positive) — exact to ~85k diploid samples per cohort
    * (4c⁶·10⁶ ≤ 10³⁸ at c alleles/cohort); identity at small width is
    * spec-pinned vs BigInt, default keeps the q119 oracle hashes.
    *
    * Scale shape: ONE site-keyed groupBy with conditional partial
    * aggregation (no joins — both cohorts' counts come out of the same
    * pass; zero exchanges on a site-bucketed landing) + one per-chrom
    * agg.
    */
  def fstByChrom(
      ann: DataFrame,
      popA: Seq[String], popB: Seq[String],
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      decimalLift: Boolean = false): DataFrame =
    fstRollup(
      fstPerSite(ann, popA, popB, sampleCol, siteKey, decimalLift),
      Seq(col(siteKey.head)))

  /** WINDOWED Hudson F_ST — the per-window scan (vcftools
    * `--fst-window-size` / the selection-scan view: F_ST peaks localize
    * sweeps, a per-chrom number cannot): identical per-site N/D micros
    * to [[fstByChrom]] (same estimator, same `decimalLift` posture),
    * rolled up per (chrom, bin) with [[windowPi]]'s binning convention
    * (`(pos − 1) DIV windowSize`) so π and F_ST windows align
    * row-for-row in a joint diversity/differentiation scan. Ratio of
    * sums WITHIN the window (never mean-of-ratios — Bhatia's pitfall
    * applies per window too). Same shape: one site groupBy + one
    * window agg; the bin is a projection of the site key, so the
    * rollup rides the site exchange's partials.
    */
  def fstByWindow(
      ann: DataFrame,
      popA: Seq[String], popB: Seq[String],
      windowSize: Long = 1000L,
      sampleCol: String = "sample_id",
      decimalLift: Boolean = false): DataFrame = {
    require(windowSize >= 1L, s"windowSize must be >= 1, got $windowSize")
    fstRollup(
      fstPerSite(ann, popA, popB, sampleCol,
        Seq("chrom", "pos", "ref", "alt"), decimalLift),
      Seq(col("chrom"), expr(s"(pos - 1) DIV $windowSize").as("bin")))
  }

  private def fstRollup(perSite: DataFrame, keys: Seq[Column]): DataFrame = {
    val nSum = sum(col("__nm"))
    val dSum = sum(col("__dm"))
    perSite
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_sites"),
        nSum.as("num_sum_micro"),
        dSum.as("den_sum_micro"),
        when(dSum > 0L,
          floor(nSum.cast("double") / dSum.cast("double") * lit(1000000.0))
            .cast("long")).otherwise(0L).as("fst_micro"))
  }

  private def fstPerSite(
      ann: DataFrame,
      popA: Seq[String], popB: Seq[String],
      sampleCol: String,
      siteKey: Seq[String],
      decimalLift: Boolean): DataFrame = {
    require(popA.nonEmpty && popB.nonEmpty, "both cohorts need samples")
    require(popA.intersect(popB).isEmpty,
      s"cohorts overlap: ${popA.intersect(popB)}")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val d = (col("gt1").cast("long") + col("gt2").cast("long"))
    def inPop(p: Seq[String]) = col(sampleCol).isin(p: _*)
    val sums = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2") &&
        (inPop(popA) || inPop(popB)))
      .groupBy(siteKey.map(col): _*)
      .agg(
        sum(when(inPop(popA), d).otherwise(0L)).as("__b1"),
        sum(when(inPop(popA), 2L).otherwise(0L)).as("__c1"),
        sum(when(inPop(popB), d).otherwise(0L)).as("__b2"),
        sum(when(inPop(popB), 2L).otherwise(0L)).as("__c2"))
      .filter(col("__c1") >= 2L && col("__c2") >= 2L)
    val (b1, c1, b2, c2) = (col("__b1"), col("__c1"), col("__b2"), col("__c2"))
    // N over the common denominator c1²c2²(c1−1)(c2−1); D over c1·c2.
    val nNum = (b1 * c2 - b2 * c1) * (b1 * c2 - b2 * c1) * (c1 - 1L) * (c2 - 1L) -
      b1 * (c1 - b1) * c2 * c2 * (c2 - 1L) -
      b2 * (c2 - b2) * c1 * c1 * (c1 - 1L)
    val nDen = c1 * c1 * c2 * c2 * (c1 - 1L) * (c2 - 1L)
    val dNum = b1 * (c2 - b2) + b2 * (c1 - b1)
    val dDen = c1 * c2
    val perSite =
      if (decimalLift) {
        // every FACTOR cast before multiplying — the int64 path wraps
        // inside nNum itself past ~2k samples/cohort, not just at the
        // ×10⁶ step (the ldR2Pairs lift, rebuilt from factors)
        val dec = "decimal(38,0)"
        def dc(x: Column) = x.cast(dec)
        val diff = dc(b1) * dc(c2) - dc(b2) * dc(c1)
        val nNumD = diff * diff * dc(c1 - 1L) * dc(c2 - 1L) -
          dc(b1) * dc(c1 - b1) * dc(c2) * dc(c2) * dc(c2 - 1L) -
          dc(b2) * dc(c2 - b2) * dc(c1) * dc(c1) * dc(c1 - 1L)
        val nDenD = dc(c1) * dc(c1) * dc(c2) * dc(c2) *
          dc(c1 - 1L) * dc(c2 - 1L)
        val dNumD = dc(b1) * dc(c2 - b2) + dc(b2) * dc(c1 - b1)
        val dDenD = dc(c1) * dc(c2)
        val m = lit(1000000L).cast(dec)
        // floor division for SIGNED numerators over the positive
        // denominator: pmod ≥ 0, so (x − pmod(x, y)) / y = ⌊x/y⌋
        def fdiv(num: Column, den: Column) =
          ((num * m - pmod(num * m, den)) / den).cast("long")
        sums.select(
          siteKey.map(col) ++ Seq(
            fdiv(nNumD, nDenD).as("__nm"),
            fdiv(dNumD, dDenD).as("__dm")): _*)
      } else sums.select(
        siteKey.map(col) ++ Seq(
          floor(nNum.cast("double") / nDen.cast("double") * lit(1000000.0))
            .cast("long").as("__nm"),
          floor(dNum.cast("double") / dDen.cast("double") * lit(1000000.0))
            .cast("long").as("__dm")): _*)
    perSite
  }

  /** Trio TRANSMISSION-DISEQUILIBRIUM counts per chromosome (Spielman
    * et al. 1993 — the family-based association test): over biallelic
    * sites where child/mother/father are all called diploid, count ALT
    * transmissions from HETEROZYGOUS parents. The per-site counts are
    * fully determined without phase: with d = child ALT dosage
    * (gt1+gt2), h = # hom-alt parents, t = # het parents,
    *
    *   b = d − h   (ALT transmissions from het parents)
    *   c = t − b   (REF transmissions from het parents)
    *
    * and 0 ≤ b ≤ t certifies Mendelian consistency (both-hom-ref parent
    * with an ALT child ⇒ b > t; both-hom-alt with a het child ⇒ b < 0 —
    * exactly the violating configurations q80 counts). McNemar's
    * χ² = (B−C)²/(B+C) over the summed counts — integer arithmetic to
    * ONE micro-floored division, the [[hweBySite]] determinism pattern.
    *
    * Scale shape: three filtered views of ONE annotate plan joined on
    * the site key (ReusedExchange, zero exchanges on a site-bucketed
    * landing — the q80 shape) + one per-chrom agg.
    */
  def tdtByChrom(
      ann: DataFrame,
      childId: String, motherId: String, fatherId: String,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    def view(sid: String, p: String) = ann
      .filter(col(sampleCol) === sid &&
        col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) ++ Seq(
        (col("gt1").cast("long") + col("gt2").cast("long")).as(s"${p}_d"),
        (col("gt1") =!= col("gt2")).as(s"${p}_het")): _*)
    val trio = view(childId, "c")
      .join(view(motherId, "m"), siteKey)
      .join(view(fatherId, "f"), siteKey)
    def homAlt(p: String) =
      when(!col(s"${p}_het") && col(s"${p}_d") === 2L, 1L).otherwise(0L)
    def het(p: String) = when(col(s"${p}_het"), 1L).otherwise(0L)
    val withBc = trio
      .withColumn("__t", het("m") + het("f"))
      .withColumn("__b", col("c_d") - (homAlt("m") + homAlt("f")))
      .filter(col("__b") >= 0L && col("__b") <= col("__t") && col("__t") > 0L)
      .withColumn("__c", col("__t") - col("__b"))
    val bSum = sum(col("__b"))
    val cSum = sum(col("__c"))
    withBc
      .groupBy("chrom")
      .agg(
        count(lit(1)).as("n_informative"),
        bSum.as("n_b"),
        cSum.as("n_c"),
        when(bSum + cSum === 0L, 0L).otherwise(
          floor(((bSum - cSum) * (bSum - cSum)).cast("double")
            / (bSum + cSum).cast("double") * lit(1000000.0)).cast("long"))
          .as("tdt_micro"))
  }

  /** TRIO PHASING BY TRANSMISSION — the GATK PhaseByTransmission /
    * `whatshap --ped` hard-call core, the step that turns a trio
    * callset into haplotypes without reads: at biallelic sites the
    * child's unphased genotype is resolved into `paternal|maternal`
    * whenever EXACTLY ONE allele assignment is Mendelian-consistent
    * with the parents' genotypes.
    *
    * Rules per site (child alleles x/y, parent allele sets F, M; a
    * missing/uncalled parent constrains nothing):
    *  - HOM child: trivially `x|x` — `phased`, unless a CALLED parent
    *    lacks x entirely (a Mendelian violation → `violation`,
    *    genotype left unphased NULL);
    *  - HET child: assignment (pat=x, mat=y) is valid iff x ∈ F and
    *    y ∈ M; the mirror likewise. Exactly one valid → `phased` with
    *    that order; both valid (e.g. both parents het) → `ambiguous`
    *    (no read-free evidence — GATK leaves these unphased too);
    *    neither → `violation`;
    *  - child uncalled → `uncalled`.
    *
    * Output: siteKey + the child's input `gt`, `phased_gt`
    * (`pat|mat`, NULL unless `phased`), `phase_status`. The
    * paternal-first order is this engine's pinned convention (VCF
    * fixes none; callers needing maternal-first swap the split).
    *
    * Shape: three filtered views of ONE annotate plan, child LEFT
    * JOINED to each parent on the site key (ReusedExchange; child
    * rows with absent parents still emit) + one narrow CASE
    * projection. Zero extra exchanges on a site-bucketed landing —
    * the q80/tdt trio shape.
    *
    * PL-AWARE ARM (`plCol` non-null — GATK PhaseByTransmission's
    * likelihood mode): rows the hard-call rules leave `ambiguous`
    * (both allele assignments Mendelian-consistent — the double-het
    * configuration, the most common informative one) are re-resolved
    * by the max-posterior trio genotype configuration over the three
    * samples' PLs ([[graft.expressions.GenomeExprs.trioPhasePl]] —
    * the 27-configuration integer argmin with centi-PL transmission
    * priors). A winner that re-calls a parent away from het (the PLs
    * carried more information than the hard call) phases the child as
    * `phased_pl`; a winner that keeps all three het stays
    * `ambiguous`, and rows with missing/non-diploid PL in ANY trio
    * member keep the hard-call result byte-identical. Other statuses
    * (`phased`/`violation`/`uncalled`) are never touched — the PL arm
    * only refines what hard calls cannot decide. Still one narrow
    * codegen'd projection: the kernel runs only on the ambiguous
    * rows' already-joined PL strings, no extra exchange.
    */
  def phaseByTransmission(
      ann: DataFrame,
      childId: String, motherId: String, fatherId: String,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      plCol: String = null): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val withPl = plCol != null
    def view(sid: String, p: String) = ann
      .filter(col(sampleCol) === sid && col("multiallele") === 0)
      .select(siteKey.map(col) ++ Seq(
        col("gt").as(s"${p}_gt"),
        when(called("gt1"), col("gt1")).as(s"${p}_a1"),
        when(called("gt2"), col("gt2")).as(s"${p}_a2")) ++
        (if (withPl) Seq(col(plCol).as(s"${p}_pl")) else Nil): _*)
    val trio = view(childId, "c")
      .join(view(motherId, "m"), siteKey, "left")
      .join(view(fatherId, "f"), siteKey, "left")
    // projection shared with [[phaseTrios]] — the two cannot drift
    phaseProjection(trio, siteKey, withPl)
  }

  /** WHOLE-PEDIGREE PHASING — [[phaseByTransmission]] over EVERY trio
    * of a cohort in ONE pass (the `.ped`-driven shape real family
    * studies run: [[graft.sources.PedReader.trios]] hands the list):
    * instead of one 3-view self-join per trio (N trios = 3N scans of
    * the annotate plan), each call row is tagged with its (trio,
    * role) through a BROADCAST role map — a sample parenting several
    * children simply tags multiply — and ONE aggregation on
    * (siteKey, child_id) pivots the three roles side by side. Same
    * phasing semantics as [[phaseByTransmission]] column for column
    * (the projection logic is shared), plus a `child_id` output
    * column; sites where the CHILD has no call row emit nothing
    * (exactly the single-trio contract — a parent-only site never
    * fabricates a trio row).
    *
    * Shape: one broadcast hash join + ONE shuffle on
    * (siteKey, child_id) — scales with cohort size, not trio count.
    * Assumes the annotate frame is unique per (site, sample) (the
    * reader contract); duplicate rows would collapse by max.
    */
  def phaseTrios(
      ann: DataFrame,
      trios: Seq[(String, String, String)],
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      plCol: String = null): DataFrame = {
    require(trios.nonEmpty, "phaseTrios needs at least one trio")
    val spark = ann.sparkSession
    import spark.implicits._
    val withPl = plCol != null
    val roles = trios.flatMap { case (c, m, f) =>
      Seq((c, c, "c"), (m, c, "m"), (f, c, "f"))
    }.toDF(sampleCol, "child_id", "__role")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val tagged = ann.filter(col("multiallele") === 0)
      .join(broadcast(roles), Seq(sampleCol))
    def pick(role: String, c: Column) =
      max(when(col("__role") === role, c))
    val aggs =
      Seq(pick("c", lit(1)).as("__has_c"),
        pick("c", col("gt")).as("c_gt")) ++
      Seq("c", "m", "f").flatMap(p => Seq(
        pick(p, when(called("gt1"), col("gt1"))).as(s"${p}_a1"),
        pick(p, when(called("gt2"), col("gt2"))).as(s"${p}_a2"))) ++
      (if (withPl) Seq("c", "m", "f").map(p =>
        pick(p, col(plCol)).as(s"${p}_pl")) else Nil)
    val trio = tagged
      .groupBy((siteKey.map(col) :+ col("child_id")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("__has_c") === 1)
      .drop("__has_c")
    phaseProjection(trio, siteKey :+ "child_id", withPl)
  }

  /** The shared hard-call + PL-arm projection over a pivoted trio
    * frame carrying `c_gt`, `{c,m,f}_a1/_a2` (and `_pl` when
    * `withPl`) — factored so [[phaseByTransmission]] and
    * [[phaseTrios]] cannot drift. */
  private def phaseProjection(trio: DataFrame, keyCols: Seq[String],
      withPl: Boolean): DataFrame = {
    def has(p: String, a: Column): Column =
      col(s"${p}_a1") === a || col(s"${p}_a2") === a
    def parentCalled(p: String): Column =
      col(s"${p}_a1").isNotNull && col(s"${p}_a2").isNotNull
    def can(p: String, a: Column): Column = !parentCalled(p) || has(p, a)
    val x = col("c_a1"); val y = col("c_a2")
    val childCalled = x.isNotNull && y.isNotNull
    val aOk = can("f", x) && can("m", y) // pat=x, mat=y
    val bOk = can("f", y) && can("m", x) // pat=y, mat=x
    val hardGt =
      when(childCalled && x === y && aOk,
        concat(x, lit("|"), x))
        .when(childCalled && x =!= y && aOk && !bOk,
          concat(x, lit("|"), y))
        .when(childCalled && x =!= y && bOk && !aOk,
          concat(y, lit("|"), x))
    val hardStatus =
      when(!childCalled, "uncalled")
        .when(x === y, when(aOk, "phased").otherwise("violation"))
        .when(aOk && bOk, "ambiguous")
        .when(aOk || bOk, "phased")
        .otherwise("violation")
    val base = trio.select(
      keyCols.map(col) ++ Seq(
        col("c_gt").as("gt"),
        hardGt.as("phased_gt"),
        hardStatus.as("phase_status")) ++
        (if (withPl) Seq(col("c_pl"), col("m_pl"), col("f_pl"))
         else Nil): _*)
    if (!withPl) base
    else {
      val pl = graft.expressions.GenomeExprs.trioPhasePl(
        col("c_pl"), col("m_pl"), col("f_pl"))
      base
        .withColumn("__pl", when(col("phase_status") === "ambiguous", pl))
        .withColumn("phased_gt",
          coalesce(col("__pl.phased_gt"), col("phased_gt")))
        .withColumn("phase_status",
          coalesce(col("__pl.phase_status"), col("phase_status")))
        .drop("__pl", "c_pl", "m_pl", "f_pl")
    }
  }

  /** DE NOVO mutation candidates per trio — the hard-call core of the
    * GATK PossibleDeNovo annotation and `bcftools +trio-dnm2`'s
    * prefilter, the screen every rare-disease trio analysis runs: at
    * biallelic sites where child, mother and father are ALL called
    * diploid, the child is HETEROZYGOUS (ALT dosage 1) and BOTH
    * parents are hom-ref — the one configuration a single germline
    * de novo event produces. A hom-alt child of two hom-ref parents is
    * a DOUBLE Mendelian impossibility (caller-artifact posture — q80's
    * violation counter's territory), not a de novo candidate:
    * excluded, spec-pinned. Emitted candidates feed downstream
    * depth/GQ/allele-balance confidence gating ([[siteQc]],
    * [[hetAlleleBalance]]) exactly as GATK tiers
    * lowConfDeNovo/hiConfDeNovo. One row per (trio, site):
    * (child, mother, father, siteKey...).
    *
    * Scale shape: the trio panel is parameter-small → ONE broadcast
    * join tags the child view with its parents; the mother/father
    * views then join co-keyed on (siteKey, parent id), all three views
    * reading ONE annotate plan (ReusedExchange — the q80/q107 trio
    * shape); the candidate filter is a narrow post-join predicate. No
    * windows, no skew hazard: per-(site, parent) multiplicity is
    * bounded by the trio panel.
    */
  def deNovoCandidates(
      ann: DataFrame, trios: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val geno = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) :+ col(sampleCol).as("__s") :+
        (col("gt1").cast("long") + col("gt2").cast("long")).as("__d"): _*)
    val tr = trios.select(col("child"), col("mother"), col("father"))
    val c = geno.join(broadcast(tr), col("__s") === col("child"))
      .select(siteKey.map(col) ++ Seq(col("child"), col("mother"),
        col("father"), col("__d").as("c_d")): _*)
    val m = geno.select(siteKey.map(col) ++ Seq(col("__s").as("mother"),
      col("__d").as("m_d")): _*)
    val f = geno.select(siteKey.map(col) ++ Seq(col("__s").as("father"),
      col("__d").as("f_d")): _*)
    c.join(m, siteKey :+ "mother")
      .join(f, siteKey :+ "father")
      .filter(col("c_d") === 1L && col("m_d") === 0L && col("f_d") === 0L)
      .select(col("child") +: col("mother") +: col("father") +:
        siteKey.map(col): _*)
  }

  /** Pairwise LINKAGE-DISEQUILIBRIUM r² between nearby biallelic sites
    * (the unphased genotype-correlation estimator — plink `--r2`'s
    * default): for every same-chromosome site pair within `maxDist` bp,
    * the squared Pearson correlation of ALT-dosage vectors over samples
    * called diploid at BOTH sites,
    *
    *   r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    *
    * — every term an exact int64 (dosages ∈ {0,1,2}) until ONE final
    * micro-floored division; a zero denominator (either site
    * monomorphic over the shared called set) defines 0. Int64-exact to
    * ~38k samples per pair (cov² ≤ 16n⁴ < 2⁶³); lift the products to
    * decimal(38,0) for biobank width, as with [[hweBySite]]. The
    * substrate of LD pruning, tag-SNP selection, and the LD-decay QC
    * curve.
    *
    * Scale shape — GENOTYPE-MATRIX ROWS, the plink/Hail layout: each
    * site is first reduced to ONE row carrying its cohort dosage
    * array (one slot per sample, −1 = missing; the site groupBy rides
    * the annotate window's site partitioning — zero extra exchange),
    * so pair generation and the statistics never touch per-sample
    * rows. Pairs come from a position-bucket rule — the left side
    * is emitted into buckets ⌊pos/maxDist⌋ and ⌊pos/maxDist⌋+1, the
    * right into its own, so each in-range pair (ordered by the
    * composite site key) arises EXACTLY once from one equi-join on
    * (chrom, bucket) — carrying both arrays WITH them; the six pair
    * sums are then ONE codegen kernel call per pair
    * ([[graft.expressions.VectorExprs.ldSums]]). The first cut of
    * this operator attached dosages by exploding pairs × samples
    * through two site-keyed joins — 103 s of the 105-query bench at
    * sf0.1; this shape is the same statistic at pair-row cost.
    * Work is linear in sites for fixed maxDist and window density; at
    * biobank width run it on an LD-panel subset exactly as plink does.
    *
    * Duplicate (site, sample) records — including CONFLICTING ones
    * (two different calls for one key, which the testdata's colliding
    * derivation keys actually produce at sf0.1) — resolve to the
    * MINIMUM dosage in a dedicated per-(site, sample) aggregation:
    * deterministic, engine-replayable, and the statistic stays
    * well-defined on malformed merges (normalize upstream for real
    * callsets; [[graft.sources.VcfReader.mergeCohort]] refuses them).
    */
  /** @param withDprime additionally emit `dprime_micro` — the
    *   COMPOSITE D' (Weir 1996's phasing-free composite
    *   disequilibrium, the unphased-genotype statistic plink reports
    *   next to r²): Δ̂ = cov(X,Y)/(2n²) in allele-frequency units over
    *   the co-called subset, normalized by the allelic bound
    *   D'max = min(p_A·q_B, q_A·p_B) for Δ̂>0 / min(p_A·p_B, q_A·q_B)
    *   for Δ̂<0 — which reduces to ONE exact signed FLOOR division of
    *   int64 cross-products: 2·cov·10⁶ / min-term (the pmod-adjusted
    *   spelling; signed, zero when either site is monomorphic in the
    *   subset; composite D' may exceed |1| under HWE departure —
    *   reported raw, as plink does). Default off keeps the q111/q117
    *   plans and hashes byte-identical. */
  /** Per-site cohort dosage VECTOR table (chrom, pos, ref, alt, __xs)
    * — the shared substrate of [[ldR2Pairs]] and [[ldPrune]] (both
    * reference it; building it ONCE per plan lets the two references
    * meet in a ReusedExchange instead of re-running the upstream
    * annotate chain — the r12-verdict q208 fix).
    *
    * Dosage rides as TINYINT end-to-end: a diploid dosage is {0,1,2}
    * (-1 = missing slot), so byte slots carry it exactly and the pair
    * join's exchange + sort buffers shrink 8× vs the original
    * array<long> spelling. [[graft.expressions.VectorExprs.ldSums]]
    * widens byte → long BEFORE the products, so every sum — and every
    * downstream r²/D'/prune hash — is bit-identical.
    */
  private def ldSiteVecs(ann: DataFrame, sampleCol: String): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val g = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(col("chrom"), col("pos"), col("ref"), col("alt"),
        col(sampleCol).as("__s"),
        (col("gt1").cast("int") + col("gt2").cast("int"))
          .cast("tinyint").as("__d"))
    // cohort sample list: driver-small by definition (a callset has a
    // fixed sample panel — the centroid/codebook smallness argument)
    val samples = g.select(col("__s")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // per-(site, sample) MIN dosage first, then the array build off a
    // clean map. Two aggs = one extra exchange of the call rows, but
    // the single-agg alternative (conflict resolution via nested
    // filter/transform/array_min HOFs inside the per-site lambda) runs
    // INTERPRETED per site and measured 30% slower at sf0.1 (37.3 s vs
    // 28.6 s isolated) — §8's CodegenFallback lesson again.
    val g2 = g.groupBy("chrom", "pos", "ref", "alt", "__s")
      .agg(min(col("__d")).as("__d"))
    g2.groupBy("chrom", "pos", "ref", "alt")
      .agg(map_from_entries(
        collect_list(struct(col("__s"), col("__d")))).as("__m"))
      .select(col("chrom"), col("pos"), col("ref"), col("alt"),
        transform(typedLit(samples),
          sid => coalesce(element_at(col("__m"), sid),
            lit(-1).cast("tinyint"))).as("__xs"))
  }

  def ldR2Pairs(
      ann: DataFrame,
      maxDist: Int,
      sampleCol: String = "sample_id",
      decimalLift: Boolean = false,
      withDprime: Boolean = false): DataFrame = {
    require(maxDist > 0, s"maxDist must be positive, got $maxDist")
    ldPairsFromVecs(ldSiteVecs(ann, sampleCol), maxDist, decimalLift,
      withDprime)
  }

  /** PUBLIC handle on the [[ldSiteVecs]] substrate so callers running
    * SEVERAL LD statistics over one cohort (r² decay + D' + prune —
    * the q111/q117/q192 family) can build/land the per-site dosage
    * vector table ONCE and feed it to [[ldR2PairsOverVecs]] /
    * [[ldPruneOverVecs]]: the vector build is the family's whole
    * upstream (two exchanges + the cohort-panel discovery pass), and
    * in a real deployment it is the natural thing to persist between
    * LD runs. Bit-identical to the internal path — [[ldR2Pairs]] is
    * exactly `ldR2PairsOverVecs(ldSiteVectors(ann), …)`.
    */
  def ldSiteVectors(ann: DataFrame,
      sampleCol: String = "sample_id"): DataFrame =
    ldSiteVecs(ann, sampleCol)

  /** [[ldR2Pairs]] over a prebuilt [[ldSiteVectors]] table. */
  def ldR2PairsOverVecs(
      siteVecs: DataFrame,
      maxDist: Int,
      decimalLift: Boolean = false,
      withDprime: Boolean = false): DataFrame = {
    require(maxDist > 0, s"maxDist must be positive, got $maxDist")
    ldPairsFromVecs(siteVecs, maxDist, decimalLift, withDprime)
  }

  /** Pair statistics over a prebuilt [[ldSiteVecs]] table — split out
    * so [[ldPrune]] can reference ONE vector plan from both its pair
    * path and its site list (ReusedExchange; one `samples` discovery
    * pass, not two).
    */
  private def ldPairsFromVecs(
      siteVecs: DataFrame,
      maxDist: Int,
      decimalLift: Boolean,
      withDprime: Boolean): DataFrame = {
    val bkt = (col("pos").cast("long") / lit(maxDist.toLong)).cast("long")
    // r18 (guide §2.2/§2.5 — partition count for a CPU-dense stage):
    // AQE's byte-based coalescing shrank the (chrom, __bk) pair stage
    // to HALF the configured width (22 MB of vector rows hit the 1 MB
    // min-partition floor → 16 partitions at local[32]) while the
    // stage's cost is the per-CANDIDATE ldSums kernel, not its bytes —
    // q117's single hottest stage (98 of 110 exec-core-s warm) ran on
    // half the cores. Pin both join inputs at the session's configured
    // shuffle width: explicit-N keyed repartitions are exempt from AQE
    // coalescing, and the width tracks the deployment's own
    // spark.sql.shuffle.partitions (thousands at cluster scale), so
    // nothing here is local-mode-tuned.
    val nPart = siteVecs.sparkSession.sessionState.conf.numShufflePartitions
    val left = siteVecs
      .withColumn("__bk", explode(array(bkt, bkt + 1L)))
      .select(col("chrom"), col("__bk"), col("pos").as("pos_a"),
        col("ref").as("ref_a"), col("alt").as("alt_a"),
        col("__xs").as("__xa"))
      .repartition(nPart, col("chrom"), col("__bk"))
    val right = siteVecs
      .select(col("chrom"), bkt.as("__bk"), col("pos").as("pos_b"),
        col("ref").as("ref_b"), col("alt").as("alt_b"),
        col("__xs").as("__xb"))
      .repartition(nPart, col("chrom"), col("__bk"))
    // r17: the composite-site-key order spelled as plain boolean
    // algebra — the struct(...) < struct(...) spelling built two
    // structs per CANDIDATE pair (in-bucket candidates outnumber
    // surviving pairs) just to compare them lexicographically
    val keyLt = col("pos_a") < col("pos_b") ||
      (col("pos_a") === col("pos_b") && (col("ref_a") < col("ref_b") ||
        (col("ref_a") === col("ref_b") && col("alt_a") < col("alt_b"))))
    // r17 (guide §3.1): hash-join the buckets — sort-merge SORTED both
    // sides' dosage-ARRAY payload rows per (chrom, bucket); the build
    // side is the un-exploded vector table, hash-partitioned first, so
    // partition-local builds stay bucket-bounded at any scale
    val pairs = left.join(right.hint("shuffle_hash"), Seq("chrom", "__bk"))
      .filter(col("pos_b") - col("pos_a") <= maxDist.toLong && keyLt)
      .withColumn("__sums",
        graft.expressions.VectorExprs.ldSums(col("__xa"), col("__xb")))
    def s(i: Int) = element_at(col("__sums"), i + 1)
    val (n, sx, sy, sxx, syy, sxy) = (s(0), s(1), s(2), s(3), s(4), s(5))
    val cov = n * sxy - sx * sy
    val va = n * sxx - sx * sx
    val vb = n * syy - sy * sy
    // default: int64 products + ONE floored double divide — cov² ≤
    // 16n⁴ wraps int64 past ~27k co-called samples; decimalLift
    // carries the 4th-power composites in decimal(38,0) with an exact
    // integral DIV (cov² ≥ 0, no sign adjustment needed): exact to
    // ~15M samples (16n⁴·10⁶ ≤ 10³⁸). Identity at small width is
    // spec-pinned; default keeps the q111/q117 oracle hashes.
    val r2 =
      if (decimalLift) {
        val dec = "decimal(38,0)"
        (((cov.cast(dec) * cov.cast(dec) * lit(1000000L).cast(dec)) -
          pmod(cov.cast(dec) * cov.cast(dec) * lit(1000000L).cast(dec),
            va.cast(dec) * vb.cast(dec))) /
          (va.cast(dec) * vb.cast(dec))).cast("long")
      } else
        floor((cov * cov).cast("double") / (va * vb).cast("double")
          * lit(1000000.0)).cast("long")
    val base = pairs.select(
        col("chrom"), col("pos_a"), col("ref_a"), col("alt_a"),
        col("pos_b"), col("ref_b"), col("alt_b"),
        n.as("n"),
        when(va === 0L || vb === 0L, 0L).otherwise(r2).as("r2_micro"))
      // a pair with NO co-called sample carries no evidence — plink
      // drops it, and so did the join-based formulation structurally
      .filter(col("n") > 0L)
    if (!withDprime) base
    else {
      val twoN = lit(2L) * n
      val dmax = when(cov > 0L, least(sx * (twoN - sy), (twoN - sx) * sy))
        .otherwise(least(sx * sy, (twoN - sx) * (twoN - sy)))
      pairs.select(
          col("chrom"), col("pos_a"), col("ref_a"), col("alt_a"),
          col("pos_b"), col("ref_b"), col("alt_b"),
          n.as("n"),
          when(va === 0L || vb === 0L, 0L).otherwise(r2).as("r2_micro"),
          cov.as("__cov"), dmax.as("__dmax"))
        .filter(col("n") > 0L)
        .withColumn("dprime_micro",
          when(col("__cov") === 0L || col("__dmax") === 0L, 0L)
            .otherwise(expr(
              "(2 * __cov * 1000000 - pmod(2 * __cov * 1000000, __dmax)) " +
                "DIV __dmax")))
        .drop("__cov", "__dmax")
    }
  }

  /** LD PRUNING (`plink --indep-pairwise` analogue with an ORDER-FREE
    * drop rule): drop every site that is r²-linked (≥ `r2MicroMax`) to
    * a LOWER-keyed site within `maxDist` — the [[Dedup.semanticDedup]]
    * rule applied to the LD graph. plink's greedy window sweep is
    * inherently sequential (each decision depends on the previous
    * keep-set); the any-lower-linked-neighbor rule is deterministic,
    * engine-replayable, and fully parallel, at the cost of pruning
    * slightly MORE aggressively on linkage chains (a site drops even
    * when its lower-keyed neighbor also dropped — exactly q90's
    * documented chain trade). Returns the kept site keys.
    *
    * Shape: [[ldR2Pairs]] (bucket equi-join + kernel) filtered to
    * linked pairs, higher-keyed side distinct'd, one anti-join against
    * the distinct site list.
    */
  def ldPrune(
      ann: DataFrame,
      maxDist: Int,
      r2MicroMax: Long,
      sampleCol: String = "sample_id"): DataFrame =
    // ONE vector plan feeds both the site list and the pair path —
    // the two references meet in a ReusedExchange instead of each
    // re-running the upstream chain (annotate included); the site set
    // is identical to the old ann-derived distinct (siteVecs IS the
    // per-site rollup of the same filter), and one `samples`
    // discovery pass replaces two (the r12-verdict q208 fix)
    ldPruneOverVecs(ldSiteVecs(ann, sampleCol), maxDist, r2MicroMax)

  /** [[ldPrune]] over a prebuilt [[ldSiteVectors]] table. */
  def ldPruneOverVecs(
      vecs: DataFrame,
      maxDist: Int,
      r2MicroMax: Long): DataFrame = {
    require(maxDist > 0, s"maxDist must be positive, got $maxDist")
    require(r2MicroMax >= 0L && r2MicroMax <= 1000000L,
      s"r2MicroMax must be a micro-fraction in [0, 1e6], got $r2MicroMax")
    val sites = vecs.select("chrom", "pos", "ref", "alt")
    val dropped = ldPairsFromVecs(vecs, maxDist,
        decimalLift = false, withDprime = false)
      .filter(col("r2_micro") >= r2MicroMax)
      .select(col("chrom"), col("pos_b").as("pos"),
        col("ref_b").as("ref"), col("alt_b").as("alt"))
      .distinct()
    sites.join(dropped, Seq("chrom", "pos", "ref", "alt"), "left_anti")
  }

  /** RUNS OF HOMOZYGOSITY per (sample, chromosome) — the autozygosity
    * scan (`plink --homozyg` / bcftools roh shape; long runs flag
    * consanguinity, uniparental disomy, and reference-panel sample
    * swaps): over biallelic called-diploid calls ordered along the
    * chromosome, maximal stretches of consecutive homozygous calls
    * (a1 = a2, hom-ref and hom-alt both count, as in plink). A
    * heterozygous call BREAKS the run — unless `maxHetRun` > 0, the
    * allowed-het relaxation (plink `--homozyg-het` motivation: one
    * genotyping error in a megabase run must not fragment it): a block
    * of AT MOST `maxHetRun` CONSECUTIVE het calls is BRIDGED (the runs
    * on both sides fuse; the bridged hets are reported in `n_het` when
    * interior to the run), while a longer het block still breaks. The
    * block-length rule keeps the segmentation order-theoretic and
    * unique — no greedy scan state, so it stays one windowed pipeline
    * and replays in portable SQL. Sites missing for the sample are
    * simply absent from its sequence (they neither extend nor break).
    * Runs shorter than `minSites` HOM calls are dropped; run bounds
    * and n_sites always come from hom calls only (edge hets never
    * extend a run).
    *
    * Shape: gaps-and-islands, generalized — ONE (sample, chrom)
    * exchange feeds every step: site row_number, a running het count
    * (their difference is constant exactly on maximal het blocks,
    * giving block sizes via an unordered window), a running count of
    * BREAKER hets (block > maxHetRun) as the island key, and two
    * one-sided running hom counts marking interior hets; then one agg
    * on the island key. All windows share the (sample, chrom)
    * clustering — Catalyst inserts sorts between them, never a second
    * exchange. The site order includes gt as a tiebreak; every derived
    * quantity depends only on the row MULTISET per (sample, chrom), so
    * the islands are invariant to how row_number resolves the
    * testdata's full-duplicate rows (the r5 oracle catch).
    */
  def rohSegments(
      ann: DataFrame,
      minSites: Int = 3,
      sampleCol: String = "sample_id",
      maxHetRun: Int = 0): DataFrame = {
    require(maxHetRun >= 0, s"maxHetRun must be >= 0, got $maxHetRun")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val bi = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(col(sampleCol).as("sample_id"), col("chrom"), col("pos"),
        col("ref"), col("alt"), col("gt"),
        (col("a1") === col("a2")).as("__hom"))
    val w = Window.partitionBy("sample_id", "chrom")
      .orderBy("pos", "ref", "alt", "gt")
    val wRun = Window.partitionBy("sample_id", "chrom").orderBy("__rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val het = !col("__hom")
    val rn = bi.withColumn("__rn", row_number().over(w))
    // strict mode short-circuits the block machinery: every het breaks
    // (block size is irrelevant at maxHetRun = 0), keeping the classic
    // two-window plan
    val flagged =
      if (maxHetRun == 0) rn.withColumn("__breaker", het)
      else rn
        // het-block id: __rn − running-het-count is constant exactly on
        // maximal consecutive-het blocks (hom rows alias the adjacent
        // block's id but never read __bsz)
        .withColumn("__hb",
          col("__rn") - sum(when(het, 1L).otherwise(0L)).over(wRun))
        .withColumn("__bsz",
          sum(when(het, 1L).otherwise(0L)).over(
            Window.partitionBy(col("sample_id"), col("chrom"), col("__hb"))))
        .withColumn("__breaker", het && col("__bsz") > maxHetRun)
    val seq = flagged.withColumn("__isl",
      sum(when(col("__breaker"), 1L).otherwise(0L)).over(wRun))
    val wIsl = Window
      .partitionBy(col("sample_id"), col("chrom"), col("__isl"))
      .orderBy(col("__rn"))
    val homsBefore = sum(when(col("__hom"), 1L).otherwise(0L))
      .over(wIsl.rowsBetween(Window.unboundedPreceding, -1))
    val homsAfter = sum(when(col("__hom"), 1L).otherwise(0L))
      .over(wIsl.rowsBetween(1, Window.unboundedFollowing))
    val survivors = seq.filter(!col("__breaker"))
    val interior =
      if (maxHetRun == 0) survivors.withColumn("__interior_het", lit(false))
      else survivors.withColumn("__interior_het",
        het && homsBefore > 0L && homsAfter > 0L)
    interior
      .groupBy("sample_id", "chrom", "__isl")
      .agg(
        sum(when(col("__hom"), 1L).otherwise(0L)).as("n_sites"),
        min(when(col("__hom"), col("pos"))).as("run_start"),
        max(when(col("__hom"), col("pos"))).as("run_end"),
        sum(when(col("__interior_het"), 1L).otherwise(0L)).as("n_het"))
      .filter(col("n_sites") >= minSites)
      .drop("__isl")
  }

  /** GENOMIC INBREEDING from runs of homozygosity — F_ROH per sample
    * (McQuillan et al. 2008, the plink `--homozyg` summary statistic):
    * the fraction of the surveyed genome covered by ROH segments,
    *
    *   F_ROH = Σ segment lengths / Σ per-chrom surveyed span,
    *
    * the direct genomic measure of autozygosity — preferred over the
    * q106 site-frequency F at biobank scale because it needs no
    * allele-frequency reference and localizes WHERE the autozygosity
    * sits. The denominator is the data-driven surveyed span (per
    * sample and chrom, max called-site pos − min called-site pos,
    * summed over chroms — the span [[rohSegments]]'s site set actually
    * covers; a fixed genome length would deflate F on sparse panels),
    * over exactly the same biallelic fully-called site set the
    * segment sweep uses. froh_micro is one exact integer division.
    * Samples with no qualifying run report 0, not absent.
    *
    * Shape: the [[rohSegments]] windows plus TWO partial-aggregated
    * groupBys (segments→sample, sites→sample·chrom→sample) and one
    * panel-sized join — nothing beyond the sweep's own exchanges.
    */
  def frohBySample(
      ann: DataFrame, minSites: Int = 3,
      sampleCol: String = "sample_id", maxHetRun: Int = 0): DataFrame = {
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val segs = rohSegments(ann, minSites, sampleCol, maxHetRun)
      .groupBy("sample_id")
      .agg(sum(col("run_end") - col("run_start")).as("roh_bp"))
    val span = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .groupBy(col(sampleCol).as("sample_id"), col("chrom"))
      .agg((max(col("pos")) - min(col("pos"))).as("__sp"))
      .groupBy("sample_id").agg(sum(col("__sp")).as("span_bp"))
    span.join(segs, Seq("sample_id"), "left")
      .select(col("sample_id"),
        coalesce(col("roh_bp"), lit(0L)).as("roh_bp"),
        col("span_bp"))
      .withColumn("froh_micro",
        expr("roh_bp * 1000000 DIV greatest(span_bp, 1)"))
  }

  /** COMPOUND-HETEROZYGOTE detection per (sample, gene) — the
    * recessive-disease screen clinical pipelines run after annotation
    * (two different damaged copies of one gene, one per haplotype,
    * knock the gene out even though neither variant is homozygous):
    * collect a sample's het calls inside each gene interval and
    * classify the configuration.
    *
    *   - `trans` — phased evidence places an alt on BOTH haplotypes
    *     (n_hap1 ≥ 1 and n_hap2 ≥ 1): confirmed compound het. A single
    *     phased het-alt site (1|2) qualifies by itself — its two alt
    *     alleles are distinct variants in trans.
    *   - `candidate` — ≥ 2 het sites but at least one is UNPHASED:
    *     trans cannot be confirmed or excluded (the follow-up is
    *     parental phasing; flagging these is the operator's point).
    *   - `cis` — ≥ 2 het sites, fully phased, all alts on one
    *     haplotype: one working copy remains, NOT compound het (the
    *     false positive an unphased-only caller reports).
    *   - `single` — one het site only.
    *
    * Haploid and half-missing calls never enter (their zygosity is
    * het-miss, excluded with hom classes). Gene assignment is one
    * [[RangeJoin.pointInInterval]] probe of the genes' interval index
    * (narrow, never a range cross join), and the rollup is ONE
    * partial-aggregated groupBy(sample, gene).
    */
  def compoundHet(
      ann: DataFrame, genes: DataFrame,
      geneIdCol: String = "region_id",
      sampleCol: String = "sample_id"): DataFrame = {
    val het = ann
      .filter(col("zygosity").isin("het-ref", "het-alt"))
      .select(col(sampleCol).as("sample_id"), col("chrom"), col("pos"),
        (col("phase") === "|" && col("gt1") =!= "0").as("__h1"),
        (col("phase") === "|" && col("gt2") =!= "0").as("__h2"),
        (col("phase") === "/").as("__unph"))
    RangeJoin.pointInInterval(het, genes)
      .groupBy(col("sample_id"), col(geneIdCol))
      .agg(
        count(lit(1)).as("n_sites"),
        sum(when(col("__h1"), 1L).otherwise(0L)).as("n_hap1"),
        sum(when(col("__h2"), 1L).otherwise(0L)).as("n_hap2"),
        sum(when(col("__unph"), 1L).otherwise(0L)).as("n_unphased"))
      .withColumn("status",
        when(col("n_hap1") >= 1L && col("n_hap2") >= 1L, "trans")
          .when(col("n_sites") >= 2L && col("n_unphased") >= 1L, "candidate")
          .when(col("n_sites") >= 2L, "cis")
          .otherwise("single"))
  }

  /** Per-sample HET ALLELE-BALANCE QC from the AD (allelic depth)
    * FORMAT field — the GATK hard-filter family's contamination and
    * genotyping-error signal (GATK docs: AB for a clean ref/alt het
    * should sit near 0.5; a sample whose hets systematically skew
    * toward the reference is contaminated, and a site-level skew flags
    * a mis-called genotype). For every BIALLELIC ref/alt het call
    * (zygosity het-ref, multiallele 0 — at a multiallelic site the
    * 2-field AD's alt depth need not be the CALLED alt, and a het-alt
    * 1/2 call has no single balance, so both are excluded, documented
    * GATK posture) with positive total depth:
    *
    *   AB = altDepth / (refDepth + altDepth)
    *
    * and the call is in-band iff minMicro ≤ AB·10⁶ ≤ maxMicro —
    * evaluated as the exact integer cross-products
    * alt·10⁶ ≥ min·(ref+alt) (never a float division; the q120/q124
    * no-floats-in-decisions rule). Returns one row per sample:
    * n_het (biallelic ref/alt hets), n_eval (with depth), n_ok /
    * n_low / n_high, and ab_ok_micro = ⌊10⁶·n_ok/n_eval⌋ — the
    * per-sample in-band fraction a cohort screens for outliers.
    *
    * Shape: one narrow projection off the annotate frame + ONE
    * partial-aggregated groupBy(sample) — samples are the cohort
    * panel, so the result is panel-sized; no joins, no windows. */
  def hetAlleleBalance(
      ann: DataFrame,
      minMicro: Long = 200000L,
      maxMicro: Long = 800000L,
      sampleCol: String = "sample_id",
      refDepthCol: String = "AD_0",
      altDepthCol: String = "AD_1"): DataFrame = {
    require(minMicro >= 0L && minMicro <= maxMicro && maxMicro <= 1000000L,
      s"need 0 <= minMicro <= maxMicro <= 1000000, got [$minMicro, $maxMicro]")
    val r = col(refDepthCol).cast("long")
    val a = col(altDepthCol).cast("long")
    val tot = r + a
    val eval = r.isNotNull && a.isNotNull && r >= 0L && a >= 0L && tot > 0L
    val low = a * lit(1000000L) < lit(minMicro) * tot
    val high = a * lit(1000000L) > lit(maxMicro) * tot
    ann
      .filter(col("zygosity") === "het-ref" && col("multiallele") === 0)
      .groupBy(col(sampleCol).as("sample_id"))
      .agg(
        count(lit(1)).as("n_het"),
        sum(when(eval, 1L).otherwise(0L)).as("n_eval"),
        sum(when(eval && !low && !high, 1L).otherwise(0L)).as("n_ok"),
        sum(when(eval && low, 1L).otherwise(0L)).as("n_low"),
        sum(when(eval && high, 1L).otherwise(0L)).as("n_high"))
      .withColumn("ab_ok_micro",
        floor(col("n_ok") * lit(1000000.0) /
          greatest(col("n_eval"), lit(1L))).cast("long"))
  }

  /** PER-SAMPLE CONTAMINATION estimate from hom-alt reference reads —
    * the CHARR estimator (Lu et al. 2023, Bioinformatics — Hail/gnomAD's
    * VerifyBamID-free contamination check): at a genuinely homozygous-
    * ALT site a clean sample has (almost) no REF reads, so the REF
    * read fraction there measures DNA from somebody else; averaged
    * with the allele-frequency correction
    *
    *   CHARR = mean over hom-alt calls of  refAF / (1 − p)
    *
    * (p = cohort ALT frequency: a contaminant contributes REF reads at
    * rate 1−p, so dividing recovers the contamination fraction).
    * Values ≳ 2–5% flag swaps/mixing before any downstream analysis.
    * Cohort AF comes from the SAME call set (the reference-free
    * posture; pass a biobank AF table upstream by overriding the
    * frequency band). Sites with p outside [afMinMicro, afMaxMicro]
    * are excluded (extreme-AF sites carry no signal and p → 1
    * degenerates), as are calls without positive depth.
    *
    * Determinism: the per-call summand refAF/(1−p) =
    * r·2n / ((r+a)·(2n−b)) is ONE micro-floored double division of
    * exact int64 products (the [[hweBySite]] pattern); the mean is an
    * exact integral DIV. Shape: one site-keyed dosage agg for AF +
    * one co-keyed join BACK to the call frame (ReusedExchange on a
    * site-bucketed landing — the [[singletonCounts]] shape) + ONE
    * partial-aggregated groupBy(sample); output is panel-sized.
    */
  def contaminationCharr(
      ann: DataFrame,
      sampleCol: String = "sample_id",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt"),
      refDepthCol: String = "AD_0", altDepthCol: String = "AD_1",
      afMinMicro: Long = 50000L, afMaxMicro: Long = 950000L): DataFrame = {
    require(afMinMicro >= 0L && afMinMicro <= afMaxMicro &&
      afMaxMicro < 1000000L,
      s"need 0 <= afMin <= afMax < 1e6, got [$afMinMicro, $afMaxMicro]")
    def called(c: String) = col(c).isNotNull && col(c) =!= "."
    val g = ann
      .filter(col("multiallele") === 0 && called("gt1") && called("gt2"))
      .select(siteKey.map(col) ++ Seq(
        col(sampleCol).as("__s"), col("zygosity"),
        (col("gt1").cast("long") + col("gt2").cast("long")).as("__d"),
        col(refDepthCol).cast("long").as("__r"),
        col(altDepthCol).cast("long").as("__a")): _*)
    val freq = g
      .groupBy(siteKey.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__b"))
      .filter(col("__b") * lit(1000000L) >= lit(afMinMicro) * lit(2L) * col("__n") &&
        col("__b") * lit(1000000L) <= lit(afMaxMicro) * lit(2L) * col("__n"))
    val tot = col("__r") + col("__a")
    g.filter(col("zygosity") === "hom-alt" &&
        col("__r").isNotNull && col("__a").isNotNull &&
        col("__r") >= 0L && col("__a") >= 0L && tot > 0L)
      .join(freq, siteKey)
      .withColumn("__c", floor(
        (col("__r") * lit(2L) * col("__n")).cast("double") /
          (tot * (lit(2L) * col("__n") - col("__b"))).cast("double")
        * lit(1000000.0)).cast("long"))
      .groupBy(col("__s").as("sample_id"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("__c")).as("charr_sum_micro"))
      .withColumn("charr_micro",
        expr("charr_sum_micro DIV n_sites"))
  }

  /** [[hetAlleleBalance]] extended to MULTIALLELIC sites — the
    * `Number=R`/`Number=.` reading of AD: instead of the fixed 2-field
    * split (which cannot know WHICH alt a 0/2 call's depth refers to,
    * the reason [[hetAlleleBalance]] excludes multiallelics), index the
    * raw comma-separated AD vector by the CALLED allele indices: for
    * any het g1/g2 (g1 ≠ g2, both called), AB = AD[g2]/(AD[g1]+AD[g2])
    * — for 0/1 that is exactly the biallelic alt/(ref+alt) (identity
    * with [[hetAlleleBalance]] spec-pinned on biallelic input); for
    * 0/2 it reads the SECOND alt's depth; for a 1/2 het-alt it is the
    * balance between the two called alts (GATK's generalized het AB).
    * Same exact integer cross-product band test, same panel-sized
    * one-groupBy shape; calls whose AD vector is too short or
    * non-numeric fall out of n_eval, not into a wrong band.
    */
  def hetAlleleBalanceByCalledAllele(
      ann: DataFrame,
      minMicro: Long = 200000L,
      maxMicro: Long = 800000L,
      sampleCol: String = "sample_id",
      adCol: String = "AD"): DataFrame = {
    require(minMicro >= 0L && minMicro <= maxMicro && maxMicro <= 1000000L,
      s"need 0 <= minMicro <= maxMicro <= 1000000, got [$minMicro, $maxMicro]")
    val parts = split(col(adCol), ",")
    val g1 = col("gt1").cast("int")
    val g2 = col("gt2").cast("int")
    val r = try_element_at(parts, g1 + 1).cast("long")
    val a = try_element_at(parts, g2 + 1).cast("long")
    val tot = r + a
    val eval = r.isNotNull && a.isNotNull && r >= 0L && a >= 0L && tot > 0L
    val low = a * lit(1000000L) < lit(minMicro) * tot
    val high = a * lit(1000000L) > lit(maxMicro) * tot
    ann
      .filter(col("zygosity").isin("het-ref", "het-alt") &&
        g1.isNotNull && g2.isNotNull && g1 =!= g2)
      .groupBy(col(sampleCol).as("sample_id"))
      .agg(
        count(lit(1)).as("n_het"),
        sum(when(eval, 1L).otherwise(0L)).as("n_eval"),
        sum(when(eval && !low && !high, 1L).otherwise(0L)).as("n_ok"),
        sum(when(eval && low, 1L).otherwise(0L)).as("n_low"),
        sum(when(eval && high, 1L).otherwise(0L)).as("n_high"))
      .withColumn("ab_ok_micro",
        floor(col("n_ok") * lit(1000000.0) /
          greatest(col("n_eval"), lit(1L))).cast("long"))
  }
}
