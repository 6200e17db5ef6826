package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{AnnotateCallsExpr, FormatFieldExpr, HomRefCountExpr}
import graft.functions.VariantFunctions._

/** Spark-native re-expression of the reference's flagship
  * `add_variant_annotations` (pandasvcf.py:186-288,
  * variant_annotations.py:534-768).
  *
  * The reference loops FORMAT groups in Python, stacks with pandas, and
  * multiprocess-forks per chunk. Here the whole thing is ONE declarative
  * plan over two compiled kernels ([[graft.expressions.CallAnnotationKernel]]):
  *
  *   hom_ref_count(ref, alt, genotypes)     -- per SITE row: its hom-ref calls
  *   sum(...) over (chrom, pos, ref, alt)   -- hom_ref_counts, pooled across
  *                                             rows sharing a site key
  *   inline(annotate_calls(...))            -- wide→long: each call parsed
  *                                             once into gt, phase, gt1, gt2,
  *                                             a1, a2, zygosity
  *   vartype / format_field projections     -- per call, positional through
  *                                             the row's own FORMAT (mixed
  *                                             FORMATs without grouping)
  *
  * The window is the ONLY shuffle, and it moves site rows, not call rows.
  * At cluster scale, pre-partitioning the input by (chrom) lets that
  * exchange reuse the ingest partitioning (see VcfReader.toParquet), and
  * everything else is embarrassingly parallel.
  */
object VariantAnnotator {

  /** @param splitColumns reference `split_columns` — FORMAT key → expected
    *                     field count; `AD -> 2` yields `AD_0, AD_1`.
    * @param dropHomRef   reference `drop_hom_ref`: drop hom-ref rows
    *                     AFTER counting them into hom_ref_counts.
    * @param formatKeys   FORMAT subfield keys to materialize as columns
    *                     (beyond GT; an empty key is refused). None =
    *                     the keys the input's FORMAT strings use, found
    *                     by [[discoverFormatKeys]] when annotate is
    *                     called: one job over the FORMAT column, one
    *                     stage, no exchange.
    */
  final case class Options(
      splitColumns: Map[String, Int] = Map.empty,
      dropHomRef: Boolean = true,
      formatKeys: Option[Seq[String]] = None)

  /** Wide graft VCF frame (chrom, pos, ref, alt, format,
    * genotypes MAP<sample,call>) → long annotated frame keyed
    * (chrom, pos, ref, alt, sample_id) with columns
    * gt, phase, gt1, gt2, a1, a2, multiallele, zygosity,
    * hom_ref_counts, vartype1, vartype2 (+ FORMAT subfields). A FORMAT
    * subfield the call does not carry (a legally dropped trailing one)
    * is NULL. A subfield column whose name another output column
    * already has (a key `AD_0` beside the split of `AD`) fails a
    * `require` naming both.
    */
  def annotate(df: DataFrame, opts: Options = Options()): DataFrame = {
    opts.formatKeys.foreach(ks => require(!ks.contains(""),
      "Options.formatKeys holds the empty key \"\"; a FORMAT subfield column needs a name"))
    val keys = opts.formatKeys.getOrElse(discoverFormatKeys(df))
    val (ref, alt, genotypes) = (col("ref"), col("alt"), col("genotypes"))
    val (refE, altE, genotypesE) =
      (Bridge.expression(ref), Bridge.expression(alt), Bridge.expression(genotypes))

    // hom_ref_counts per site (variant_annotations.py:165-180), counted
    // BEFORE the optional hom-ref drop, on the wide rows: each row counts
    // its own hom-ref calls and the window pools rows sharing a site key.
    // Reference emits -1 when a chunk had no hom-ref at all — a chunking
    // artifact we replace with the true count (0). Missing-ALT sites are
    // dropped first (variant_annotations.py:568).
    val site = Window.partitionBy("chrom", "pos", "ref", "alt")
    val sites = df
      .filter(alt =!= ".")
      .select(col("chrom"), col("pos"), ref, alt, col("format"), genotypes,
        multiallele(alt).as("multiallele"),
        Bridge.column(HomRefCountExpr(refE, altE, genotypesE)).as("__hr"))
      .withColumn("hom_ref_counts", sum(col("__hr")).over(site))

    // wide→long: the generator emits each kept call already annotated,
    // so the per-call kernel runs once per call and no filter follows
    val calls = sites
      .select(col("chrom"), col("pos"), ref, alt, col("format"),
        col("multiallele"), col("hom_ref_counts"),
        inline(Bridge.column(
          AnnotateCallsExpr(refE, altE, genotypesE, opts.dropHomRef))))
    val passed = Seq("chrom", "pos", "ref", "alt", "sample_id", "gt", "phase",
      "gt1", "gt2", "a1", "a2", "multiallele", "zygosity", "hom_ref_counts")
    val annotations = passed.map(col) ++ Seq(
      vartype(ref, col("a1")).as("vartype1"), vartype(ref, col("a2")).as("vartype2"))

    // FORMAT subfields as typed columns; split_columns exploded by comma
    def field(k: String, part: Int): Column = Bridge.column(FormatFieldExpr(
      Bridge.expression(col("format")), Bridge.expression(col("call")), k, part))
    val fields = keys.distinct.filter(_ != "GT").flatMap { k =>
      opts.splitColumns.get(k) match {
        case Some(n) => (0 until n).map(i => (s"${k}_$i", s"part $i of FORMAT key $k", field(k, i)))
        case None => Seq((k, s"FORMAT key $k", field(k, -1)))
      }
    }
    // two output columns of one name (as the session resolves names)
    // fail here, so neither silently hides the other
    val caseSensitive = df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    val named = (passed ++ Seq("vartype1", "vartype2")).map(n => (n, s"annotate column $n")) ++
      fields.map { case (n, what, _) => (n, what) }
    named.foldLeft(Map.empty[String, String]) { case (seen, (n, what)) =>
      val key = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
      require(!seen.contains(key), s"output column $n ($what) collides with ${seen(key)}")
      seen.updated(key, s"$n ($what)")
    }
    calls.select(annotations ++ fields.map { case (n, _, c) => c.as(n) }: _*)
  }

  /** GENOTYPE-LEVEL FORMAT-PREDICATE MASKING — the `bcftools filter -e
    * 'FMT/GQ<20 | FMT/DP<10' --set-GTs .` core, the first step of every
    * production QC pipeline: set low-confidence CALLS to missing BEFORE
    * any downstream QC consumes them (q72 sample QC, q91 kinship, q105
    * HWE, q196 de novo — a masked call simply drops out of annotate's
    * called-genotype stream).
    *
    * `pred` receives a typed-field accessor — `f("DP")` is the call's
    * DP subfield as a string Column resolved through the row's OWN
    * FORMAT layout (mixed FORMATs per file work; a key absent from the
    * row's FORMAT yields NULL) — and returns the MASK condition.
    * NULL predicate values keep the call (bcftools' missing-value
    * comparison semantics). Masking replaces every allele index in the
    * GT subfield with `.` — ploidy AND phase separator preserved
    * (`0/1` → `./.`, `1|2` → `.|.`, haploid `1` → `.`) — and leaves
    * every other FORMAT subfield verbatim, exactly `--set-GTs .`.
    *
    * A record whose FORMAT does not carry GT as subfield 1 (legal —
    * e.g. a `DP:AD` pileup record; VCF 4.2 §1.6.2 only mandates GT
    * FIRST *if present*) passes through untouched: the rewrite would
    * otherwise mask the digits of whatever field happens to sit first.
    *
    * Shape: ONE narrow projection — a `transform_values` over the
    * genotypes map (the lambda is referenced once, so the §8
    * CodegenFallback staging rule is satisfied); zero shuffles at any
    * scale.
    */
  def setGtMissing(
      df: DataFrame, pred: (String => Column) => Column): DataFrame = {
    val fmtKeys = split(col("format"), ":")
    val gtIsFirst = try_element_at(fmtKeys, lit(1)) === "GT"
    df.withColumn("genotypes",
      transform_values(col("genotypes"), (_, call) => {
        val parts = split(call, ":")
        def field(k: String): Column = {
          val idx = array_position(fmtKeys, k).cast("int")
          when(idx > 0, try_element_at(parts, idx))
        }
        val gt = element_at(parts, 1)
        val maskedGt = regexp_replace(gt, "[0-9]+", ".")
        val masked = concat(maskedGt,
          call.substr(length(gt) + 1, length(call)))
        when(gtIsFirst && coalesce(pred(field), lit(false)), masked)
          .otherwise(call)
      }))
  }

  /** INFO TAG REFILL — the `bcftools +fill-tags -- -t NS,AN,AC,AF`
    * core: recompute the genotype-derived INFO tags from the calls
    * actually present and REWRITE the info string, because after any
    * subsetting/merging/masking operation (drop samples, q102 merge,
    * [[setGtMissing]]) the stored AC/AN/AF lie — and every downstream
    * consumer (q61 spectra, q138 PGS, site filters) reads them.
    *
    *   NS  samples with a non-missing GT
    *   AN  called ALLELES (haploid calls count 1, `.` parts don't)
    *   AC  per-ALT counts, `Number=A` comma list in allele order
    *   AF  AC/AN, micro-floored and emitted as a fixed 6-decimal
    *       string (built from integer digits — engine-identical, no
    *       float formatting)
    *
    * Existing NS/AN/AC/AF entries are stripped wherever they sit and
    * the recomputed block is appended in fixed order; every other
    * INFO key rides verbatim. A `.` or NULL INFO is treated as EMPTY
    * (bcftools +fill-tags still writes the tags — a bare concat would
    * null-propagate and erase the recomputed block). Missing-ALT (`.`)
    * sites get NS/AN only (no alleles to count). Rows whose genotypes
    * map is empty or NULL (sites-only records) SURVIVE the refill with
    * NS=0;AN=0 and all-zero AC/AF — the per-site aggregates join back
    * LEFT, not inner. Rows sharing a site key pool their samples — run
    * after [[VariantNorm.splitMultiallelic]]/dedup if site keys can
    * collide.
    *
    * Shape (r17): ONE explode chain + one (key, part) partial agg +
    * one site-keyed agg + one site-keyed join back — all on the same
    * key prefix, so a site-bucketed landing pays zero extra
    * exchanges; the rebuild is a narrow projection. The input subtree
    * is referenced twice (the explode chain and the join-back) —
    * callers with an expensive upstream should cut it (q241's lazy
    * lineage cut).
    */
  def fillInfoTags(
      df: DataFrame,
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    val k = siteKey.map(col)
    // r17 (guide §2.1): ONE explode chain — the previous spelling
    // built the call rows TWICE (once for the NS agg, once for the
    // allele-part agg) and joined df a third time, so the operator's
    // input subtree ran 3× (q241's jointGenotype upstream, q211's
    // map explode). The call-level NS vote now rides the part rows
    // (the FIRST part of a non-missing call votes 1) through a single
    // (key, part) aggregation. Semantics unchanged and still POOLED
    // per site key (q211's k-colliding site-mates contract): a null
    // __gt splits to no rows and was a 0 NS vote before; a missing
    // call's first part votes 0; every non-"." part (empties and
    // garbage included, trailing empties kept by split) counts into
    // AN exactly as before.
    val parts = df.select(k :+
        explode(col("genotypes")).as(Seq("__sid", "__call")): _*)
      .select(k :+ substring_index(col("__call"), ":", 1).as("__gt"): _*)
      .select(k ++ Seq(
        (!isMissingCall(col("__gt"))).as("__ok"),
        posexplode(split(col("__gt"), "[/|]")).as(Seq("__pi", "__p"))): _*)
    val counts = parts
      .groupBy(k :+ col("__p"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__pi") === 0 && col("__ok"), 1L).otherwise(0L))
          .as("__nsp"))
      .groupBy(k: _*)
      .agg(
        sum(col("__nsp")).as("__ns"),
        sum(when(col("__p") =!= ".", col("__c")).otherwise(0L)).as("__an"),
        map_from_entries(collect_list(
          when(col("__p") =!= ".", struct(col("__p"), col("__c")))))
          .as("__acm"))
    val nAlts = size(split(col("alt"), ","))
    // __ns/__an coalesce to 0 below: a sites-only row (empty/NULL
    // genotypes) has no lng rows, so the LEFT joins leave them NULL;
    // the NULL __acm map already yields 0-AC through try_element_at.
    val nsc = coalesce(col("__ns"), lit(0L))
    val anc = coalesce(col("__an"), lit(0L))
    val acArr = transform(sequence(lit(1), nAlts),
      i => coalesce(try_element_at(col("__acm"), i.cast("string")), lit(0L)))
    def afStr(ac: Column): Column = {
      val m = when(anc === 0L, 0L).otherwise(
        floor(ac.cast("double") / anc.cast("double")
          * lit(1000000.0)).cast("long"))
      concat((m / lit(1000000L)).cast("long").cast("string"), lit("."),
        lpad((m % lit(1000000L)).cast("string"), 6, "0"))
    }
    // '.'/NULL INFO = empty (VCF 4.2 §1.6.1 '.' = no info; bcftools
    // +fill-tags still writes the tags — concat on a NULL info would
    // null-propagate and erase the whole rebuilt string)
    val base = when(col("info").isNull || col("info") === ".", lit(""))
      .otherwise(col("info"))
    val stripped = regexp_replace(
      regexp_replace(base, "(^|;)(NS|AN|AC|AF)=[^;]*", ""),
      "^;", "")
    val tail = concat(
      lit("NS="), nsc, lit(";AN="), anc,
      when(col("alt") =!= ".", concat(
        lit(";AC="), array_join(acArr, ","),
        lit(";AF="), array_join(transform(acArr, c => afStr(c)), ",")))
        .otherwise(lit("")))
    df.join(counts, siteKey, "left")
      .withColumn("info",
        concat(when(stripped === "", lit("")).otherwise(concat(stripped,
          lit(";"))), tail))
      .drop("__ns", "__an", "__acm")
  }

  /** TAG REMOVAL — the `bcftools annotate -x INFO/DP,FORMAT/AD` core,
    * the slimming pass production pipelines run before shipping a
    * callset (a joint-called biobank VCF is mostly per-caller QC
    * baggage; dropping it shrinks the landing by multiples):
    *
    *  - `infoTags`: each named key is removed as a WHOLE
    *    `;`-delimited entry, `key=value` and bare FLAG forms both —
    *    the INFO is split on `;` and entries whose key (the text
    *    before the first `=`) matches are dropped, so removing `DP`
    *    can never eat a `DP4=…` entry (a regex strip with an optional
    *    value group matched the tag as a PREFIX of longer keys and
    *    ate the separator — DP/DP4 and DB/DBSNP coexist in standard
    *    bcftools callsets); an emptied INFO becomes `.` (as does a
    *    NULL one).
    *  - `formatTags`: the named subfields are dropped from FORMAT and
    *    from every call POSITIONALLY through the row's OWN layout
    *    (mixed FORMATs work); calls carrying fewer subfields than
    *    FORMAT declares (legal trailing drop) lose only the fields
    *    they actually have. `GT` is not removable (it anchors every
    *    genotype consumer; bcftools likewise refuses). A legal
    *    GT-less record (e.g. FORMAT `DP:AD`) CAN empty out entirely —
    *    emptied format/call strings land as the VCF `.` convention,
    *    matching the INFO branch.
    *
    * Absent tags are a no-op. Shape: ONE narrow projection — the
    * per-call keep-filter is a bounded index lambda referenced once
    * (§8 staging rule); zero shuffles at any scale.
    */
  def removeTags(
      df: DataFrame,
      infoTags: Seq[String] = Seq.empty,
      formatTags: Seq[String] = Seq.empty): DataFrame = {
    require(!formatTags.contains("GT"), "FORMAT/GT is not removable")
    // r17 (guide §4): the split/filter/try_element_at HOF trees ran
    // INTERPRETED per call entry (q224's hot projection); each strip
    // is now one compiled static call
    // ([[graft.expressions.TagStripKernel]] — mirrored entry for
    // entry, the previous Column form kept verbatim in
    // VariantAnnotatorSpec's parity pin). The per-call strip still
    // flows through transform_values, whose per-entry work is now a
    // single kernel call (the callFromPl pattern).
    val afterInfo =
      if (infoTags.isEmpty) df
      else df.withColumn("info",
        Bridge.column(graft.expressions.StripInfoExpr(
          Bridge.expression(col("info")), infoTags)))
    if (formatTags.isEmpty) afterInfo
    else afterInfo
      .withColumn("genotypes",
        transform_values(col("genotypes"), (_, call) =>
          Bridge.column(graft.expressions.StripCallExpr(
            Bridge.expression(call), Bridge.expression(col("format")),
            formatTags))))
      .withColumn("format",
        Bridge.column(graft.expressions.StripFormatExpr(
          Bridge.expression(col("format")), formatTags)))
  }

  /** GENOTYPE REFINEMENT FROM LIKELIHOODS — call each sample's GT from
    * its `Number=G` PL field (the `bcftools +tag2tag` / GATK
    * best-genotype convention: phred-scaled likelihoods, SMALLEST is
    * most likely, FIRST minimum wins ties): replace the GT subfield
    * with the argmin genotype `j/k` (unphased, alleles recovered from
    * the VCF-spec triangular index `F(j,k) = k(k+1)/2 + j` by the
    * exact inverse k = ⌊(√(8i+1)−1)/2⌋, j = i − k(k+1)/2), leaving
    * every other FORMAT subfield verbatim. A MISSING GT with a valid
    * PL gets CALLED (that is the point of refinement); a call whose
    * PL is absent, malformed, carries `.` entries, or disagrees with
    * the site's genotype count (n+1)(n+2)/2 passes through untouched —
    * as does every call on a record whose FORMAT does not carry GT as
    * subfield 1 (a `DP:AD` record is legal; rewriting its first field
    * would corrupt a non-GT value, the [[setGtMissing]] guard).
    *
    * Shape: ONE narrow transform_values projection (the
    * [[setGtMissing]] class — the lambda is referenced once and every
    * inner fold is bounded by the ≤(n+1)(n+2)/2-entry PL); zero
    * shuffles at any scale.
    */
  def callFromPl(df: DataFrame, plKey: String = "PL"): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // Per-call computation = ONE compiled kernel
    // ([[graft.expressions.CallFromPlKernel]]): the r13-audited
    // Column-level single-fold was semantically right but ran
    // INTERPRETED inside transform_values (HOF bodies get no codegen
    // and no common-subexpression reuse), allocating a struct + a
    // handful of UTF8Strings per PL entry per call — 17 of the sf0.1
    // gate's 20 wall seconds were GC. The kernel parses each call
    // once with two allocations total (suffix + output), same
    // semantics entry for entry (argmin-PL with first-minimum ties,
    // arity = (nAlts+1)(nAlts+2)/2, digit/overflow guards mirroring
    // the non-ANSI int cast, NULL = keep original); the map structure
    // still flows through transform_values, whose per-entry work is
    // now a single static call.
    df.withColumn("genotypes",
      transform_values(col("genotypes"), (_, call) =>
        coalesce(Bridge.column(graft.expressions.CallFromPlExpr(
          Bridge.expression(col("format")),
          Bridge.expression(col("alt")),
          Bridge.expression(call), plKey)), call)))
  }

  private val log = org.slf4j.LoggerFactory.getLogger(VariantAnnotator.getClass)

  /** The discovery-scan warning text, exposed so the spec can assert
    * the exact message users will grep their driver logs for. */
  private[graft] val DiscoveryScanWarning: String =
    "annotate(): no Options.formatKeys supplied — discovering FORMAT " +
      "keys with one single-stage scan of the input's FORMAT column. " +
      "At scale, pass Options.formatKeys (or use the typed-header " +
      "reader) to avoid reading the corpus twice."

  /** Count of discovery-scan warnings emitted — the spec asserts the
    * warning fires exactly on the formatKeys=None path (log4j appender
    * capture is classloader-fragile under sbt's layered loaders). */
  private[graft] val discoveryScanWarnings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The FORMAT keys `df` uses, sorted, like csv schema inference: one
    * fold job over its `format` column planned once
    * ([[Bridge.PlannedScan]]), one stage, no exchange. Each task splits
    * its FORMAT strings as `split(format, ":")` does (trailing empties
    * kept, a string equal to the row before it skipped) into a set of
    * distinct keys; the driver unions them. A null FORMAT (a sites-only
    * row) and an empty key add nothing. Runs before annotate's
    * missing-ALT filter, so a key only those rows use still becomes a
    * column.
    */
  private[graft] def discoverFormatKeys(df: DataFrame): Seq[String] = {
    // still a second read of the input — convenient in a notebook, a
    // silent 2× read at 100 TB; say so loudly every time it happens
    discoveryScanWarnings.incrementAndGet()
    log.warn(DiscoveryScanWarning)
    val perTask = new Bridge.PlannedScan(df.select(col("format"))).run(_.mapPartitions { rows =>
      val colon = UTF8String.fromString(":")
      val keys = mutable.HashSet.empty[String]
      var last: UTF8String = null
      rows.foreach { r =>
        val f = if (r.isNullAt(0)) null else r.getUTF8String(0)
        if (f != null && f != last) {
          f.split(colon, -1).foreach(k => if (k.numBytes > 0) keys += k.toString)
          last = f.clone()
        }
      }
      Iterator.single(keys.toArray)
    }.collect())
    perTask.flatten.distinct.sorted.toSeq
  }

  /** Long annotated frame → per-site zygosity profile; the groupBy twin
    * of the window above for aggregate-style consumers.
    */
  def siteSummary(annotated: DataFrame): DataFrame =
    annotated
      .groupBy("chrom", "pos", "ref", "alt")
      .pivot("zygosity",
        Seq("hom-ref", "het-ref", "hom-alt", "het-alt", "het-miss", "hom-miss"))
      .count()

  /** Long → wide: one column per sample holding `field` (the notebook's
    * `unstack(level=4)`, ipynb/pandasVCF_example.ipynb). Pass `samples`
    * to skip pivot's value-discovery scan (mandatory at scale — and
    * beware: 2500 samples = 2500 columns; prefer the long form for
    * anything but small cohorts).
    */
  def unstackBySample(
      annotated: DataFrame,
      field: String = "gt",
      samples: Option[Seq[String]] = None): DataFrame = {
    val g = annotated.groupBy("chrom", "pos", "ref", "alt")
    val p = samples.fold(g.pivot("sample_id"))(ss => g.pivot("sample_id", ss))
    p.agg(first(col(field)))
  }
}
