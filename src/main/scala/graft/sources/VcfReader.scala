package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VariantFunctions

/** The paper-parity VCF surface: `VCF(filename, sample_id, cols,
  * chunksize)` (pandasvcf.py:76-99) as [[read]] over
  * `spark.read.format("vcf")` ([[v2.VcfDataSource]], the only VCF read
  * path — byte-range splits for plain text, index-driven splits and
  * region pruning for bgzipped files with a `.tbi`/`.csi` sibling),
  * plus the header helpers, cohort merge/intersection, typed INFO/
  * FORMAT extraction and the parquet/bucketed landings.
  */
object VcfReader {

  /** Parsed `##key=value` header + the `#CHROM...` column line
    * (reference: pandasvcf.py:102-120, VCF.header_df / samples /
    * all_columns).
    */
  final case class VcfMetadata(
      headerKv: Seq[(String, String)],
      columns: Seq[String],
      samples: Seq[String])

  /** Standard leading VCF columns; everything after FORMAT is a sample. */
  private val FixedCols =
    Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT")

  /** Driver-side header parse: reads only the leading `#` lines (the
    * reference likewise assumes ≤5000 header lines, vcf_metadata.py:8).
    */
  def metadata(spark: SparkSession, path: String): VcfMetadata = {
    import spark.implicits._
    val head = spark.read.textFile(path).limit(5000).collect()
      .takeWhile(_.startsWith("#"))
    fromHeaderLines(head.toSeq)
  }

  private[graft] def fromHeaderLines(lines: Seq[String]): VcfMetadata = {
    val kv = lines.filter(_.startsWith("##")).map { l =>
      val s = l.stripPrefix("##").split("=", 2)
      (s(0), if (s.length > 1) s(1) else "")
    }
    val colLine = lines.lastOption.filter(_.startsWith("#CHROM"))
      .getOrElse(throw new IllegalArgumentException(
        "VCF header has no #CHROM column line"))
    val cols = colLine.split("\t").toSeq
    VcfMetadata(kv, cols, cols.drop(FixedCols.length))
  }

  /** The inverse of [[fromHeaderLines]]: `##key=value` lines + the
    * `#CHROM…` column line, the `header` option of
    * `df.write.format("vcf"|"bcf")`. A bare `##line` (no `=`; parsed
    * as an empty value) is re-emitted bare rather than as `##line=`.
    *
    * `##contig` IDs are normalized the same way the reader normalizes
    * CHROM (strip the leading `chr` — VariantFunctions.normalizeChrom):
    * the data lines carry normalized chrom values, so a byte-faithful
    * `<ID=chr22,…>` contig line would make the emitted file internally
    * inconsistent (header names no chromosome the body uses).
    */
  def headerLines(meta: VcfMetadata): Seq[String] =
    meta.headerKv.map {
      case (k, "") => s"##$k"
      // the VCF spec fixes no attribute order — match ID= after '<' or ','
      case ("contig", v) => s"##contig=${v.replaceFirst("([<,])ID=chr", "$1ID=")}"
      case (k, v) => s"##$k=$v"
    } :+ meta.columns.mkString("\t")

  /** Read a VCF file/glob into the wide graft schema:
    * `chrom, pos, id, ref, alt, qual, filter, info, format,
    * genotypes MAP<sample,call>` — `format("vcf")` plus the reference's
    * projections. A map column keeps the schema fixed for any sample
    * count — a 2500-sample VCF (reference README workload) would
    * otherwise blow up codegen with 2500 string columns. Malformed data
    * lines are skipped and counted in the scan's `malformedLines`
    * metric.
    *
    * @param sampleIds subset of samples to keep, in the order given
    *                  (reference `sample_id=`, pandasvcf.py:122-132);
    *                  None = all. Every id must be in the header.
    * @param dedupe    drop fully duplicated rows like the reference's
    *                  get_vcf_df_chunk (pandasvcf.py:175) — opt-in since
    *                  it costs a shuffle at scale.
    * @param cols      fixed-column projection (reference `cols=`,
    *                  pandasvcf.py:76-99): reference-style names
    *                  (`#CHROM`, `POS`, …) or graft names, case
    *                  insensitive, output in the order given; None =
    *                  all. The projection reaches the scan, so dropped
    *                  columns are never built.
    */
  def read(
      spark: SparkSession,
      path: String,
      sampleIds: Option[Seq[String]] = None,
      dedupe: Boolean = false,
      cols: Option[Seq[String]] = None): DataFrame = {
    val raw = spark.read.format("vcf").load(path)
    val parsed = sampleIds.fold(raw) { ids =>
      val missing = ids.diff(metadata(spark, path).samples)
      require(missing.isEmpty,
        s"samples not in the header of $path: ${missing.mkString(",")}")
      raw.withColumn("genotypes", map_from_arrays(typedLit(ids),
        array(ids.map(id => element_at(col("genotypes"), id)): _*)))
    }
    val projected = cols.fold(parsed) { cs =>
      parsed.select(cs.map(c =>
        col(c.stripPrefix("#").toLowerCase(java.util.Locale.ROOT))): _*)
    }
    if (dedupe) projected.dropDuplicates() else projected
  }

  /** COHORT MERGE — the `bcftools merge` analogue one step beyond the
    * single-file reference surface: N single-sample (or small-cohort)
    * VCF frames → ONE multi-sample genotypes-map frame, the matrix
    * every cohort operator here consumes (sample concordance, trio
    * Mendel, kinship) without hand-assembly. Site-keyed on
    * (chrom, pos, ref, alt) — records that agree on all four merge;
    * differing ALT representations stay separate rows (run a
    * normalizer first; silently unifying ALTs is how merges corrupt
    * genotype indices). A sample missing a site gets the explicit
    * no-call `./.`, bcftools' `-missing-to-ref`-off default. Site
    * columns (id/qual/filter/info/format) come from the LOWEST-index
    * input carrying the site — deterministic, and the caller controls
    * priority by input order.
    *
    * Scale shape: union of N scans → ONE exchange (the site-key
    * groupBy, partial map-side agg); the output genotype map is
    * rebuilt against the full cohort sample list (a fixed literal), so
    * map ordering is deterministic regardless of aggregation order.
    * Sample id sets must be disjoint (bcftools refuses duplicates
    * without --force-samples; so do we).
    *
    * @param inputs (frame, its sample ids) pairs — frames in the
    *               [[parseLines]]/DSv2 schema.
    */
  def mergeCohort(inputs: Seq[(DataFrame, Seq[String])]): DataFrame = {
    require(inputs.nonEmpty, "mergeCohort needs at least one input")
    val allSamples = inputs.flatMap(_._2)
    require(allSamples.distinct == allSamples,
      s"duplicate sample ids across cohort inputs: " +
        allSamples.diff(allSamples.distinct).distinct.mkString(","))
    val tagged = inputs.zipWithIndex.map { case ((df, _), i) =>
      df.select(col("chrom"), col("pos"), col("ref"), col("alt"),
        col("id"), col("qual"), col("filter"), col("info"), col("format"),
        col("genotypes"), lit(i).as("__src"))
    }.reduce(_ unionByName _)
    tagged
      .groupBy("chrom", "pos", "ref", "alt")
      .agg(
        min_by(struct(col("id"), col("qual"), col("filter"), col("info"),
          col("format")), col("__src")).as("__site"),
        // disjoint sample sets ⇒ keys collide only if ONE input carries
        // a site twice — malformed, and map_from_entries fails loudly
        map_from_entries(flatten(collect_list(map_entries(col("genotypes")))))
          .as("__g"))
      .select(col("chrom"), col("pos"), col("ref"), col("alt"),
        col("__site.id").as("id"), col("__site.qual").as("qual"),
        col("__site.filter").as("filter"), col("__site.info").as("info"),
        col("__site.format").as("format"),
        map_from_arrays(
          typedLit(allSamples),
          transform(typedLit(allSamples), sid =>
            coalesce(element_at(col("__g"), sid), lit("./.")))).as("genotypes"))
  }

  /** CALLSET INTERSECTION flags (`bcftools isec` analogue): N callsets
    * → one row per distinct site key carrying an `in_i` presence flag
    * per input plus `n_sets`, the private/shared/concordance report
    * every multi-caller comparison starts from (caller A ∩ caller B,
    * sites private to the new batch, …). Site-keyed like
    * [[mergeCohort]] and with the same normalization caveat: differing
    * ALT representations are different sites — normalize first.
    *
    * Scale shape: union of N scans (column-pruned to the site key) →
    * ONE site-key groupBy with map-side partial max — no joins at any
    * N; duplicate sites within one input collapse in the same agg.
    */
  def isecSites(
      callsets: Seq[DataFrame],
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    require(callsets.nonEmpty, "isecSites needs at least one callset")
    val tagged = callsets.zipWithIndex.map { case (df, i) =>
      df.select(siteKey.map(col) :+ lit(i).as("__src"): _*)
    }.reduce(_ unionByName _)
    val flags = callsets.indices.map(i =>
      max(when(col("__src") === i, 1).otherwise(0)).cast("int").as(s"in_$i"))
    tagged
      .groupBy(siteKey.map(col): _*)
      .agg(flags.head, flags.tail: _*)
      .withColumn("n_sets",
        callsets.indices.map(i => col(s"in_$i")).reduce(_ + _))
  }

  /** Transfer annotation columns from a SITES-ONLY reference onto a
    * callset by site key — the `bcftools annotate -a` / dbSNP-rsID
    * path (stamp rsIDs, population AFs, clinical flags onto every
    * matching record; the day-one use of the q68 sites-only read).
    * Left join: unmatched callset rows keep NULL annotations and are
    * never dropped. Duplicate reference sites — dbSNP has them — are
    * resolved to the MINIMUM transferred-column struct per site first
    * (deterministic, engine-replayable; a raw join would fan the
    * callset out row-per-duplicate and make "which copy won"
    * partitioning-dependent). Transferred columns get `prefix` so
    * names can't collide with callset columns (refused on collision).
    *
    * Scale shape: one partial-aggregated groupBy on the REFERENCE
    * (the smaller side after column pruning) + one site-keyed
    * equi-join — zero exchanges for the callset on a site-bucketed
    * landing, broadcastable when the reference is a pruned panel.
    */
  def transferSiteAnnotations(
      callset: DataFrame, reference: DataFrame,
      cols: Seq[String], prefix: String = "ref_",
      siteKey: Seq[String] = Seq("chrom", "pos", "ref", "alt")): DataFrame = {
    require(cols.nonEmpty, "transferSiteAnnotations needs columns to transfer")
    val outNames = cols.map(prefix + _)
    val clash = outNames.intersect(callset.columns.toSeq)
    require(clash.isEmpty, s"transferred names collide with callset: $clash")
    val resolved = reference
      .groupBy(siteKey.map(col): _*)
      .agg(min(struct(cols.map(col): _*)).as("__a"))
      .select(siteKey.map(col) ++
        cols.zip(outNames).map { case (c, o) => col(s"__a.$c").as(o) }: _*)
    callset.join(resolved, siteKey, "left")
  }

  /** [[mergeCohort]] over file paths: each header is read driver-side
    * for its sample list, each body through [[read]]. */
  def readCohort(spark: SparkSession, paths: Seq[String]): DataFrame =
    mergeCohort(paths.map(p => (read(spark, p), metadata(spark, p).samples)))

  /** Parse raw VCF body lines (column `value`) given the header's column
    * list. Pure narrow projection — stays in WholeStageCodegen.
    */
  def parseLines(
      lines: DataFrame,
      columns: Seq[String],
      samples: Seq[String]): DataFrame = {
    val idx = columns.zipWithIndex.toMap
    val f = split(col("value"), "\t")
    def fc(name: String) = element_at(f, idx(name) + 1)
    def opt(name: String) =
      if (idx.contains(name)) fc(name) else lit(null).cast("string")

    val gmap = map_from_arrays(
      array(samples.map(lit(_)): _*),
      array(samples.map(sm => fc(sm)): _*))

    lines.select(
      VariantFunctions.normalizeChrom(fc("#CHROM")).as("chrom"),
      fc("POS").cast("int").as("pos"),
      opt("ID").as("id"),
      fc("REF").as("ref"),
      fc("ALT").as("alt"),
      opt("QUAL").as("qual"),
      opt("FILTER").as("filter"),
      opt("INFO").as("info"),
      opt("FORMAT").as("format"),
      gmap.as("genotypes"))
  }

  /** INFO `key=value;...` → MAP (flag-style keys get value ""). */
  def infoMap(info: Column): Column = str_to_map(info, lit(";"), lit("="))

  /** One `##INFO=<...>`/`##FORMAT=<...>` declaration: field id, arity
    * (`1`, `A`, `.`, …) and declared VCF type.
    */
  final case class FieldDecl(id: String, number: String, typ: String)

  private def parseDecl(v: String): Option[FieldDecl] = {
    def part(k: String): Option[String] =
      s"""$k=([^,>]+)""".r.findFirstMatchIn(v).map(_.group(1))
    part("ID").map(id =>
      FieldDecl(id, part("Number").getOrElse("."), part("Type").getOrElse("String")))
  }

  /** Parsed `##INFO` declarations (reference stores but never uses them,
    * pandasvcf.py:102-120 / vcf_metadata.py; here Number/Type drive typed
    * extraction — see [[withTypedInfo]]).
    */
  def infoDecls(meta: VcfMetadata): Seq[FieldDecl] =
    meta.headerKv.collect { case ("INFO", v) => parseDecl(v) }.flatten

  /** Parsed `##FORMAT` declarations. Their ids can feed
    * `VariantAnnotator.Options(formatKeys = ...)` directly — the header
    * already knows the FORMAT vocabulary, so the discovery scan is
    * never needed on a declared file.
    */
  def formatDecls(meta: VcfMetadata): Seq[FieldDecl] =
    meta.headerKv.collect { case ("FORMAT", v) => parseDecl(v) }.flatten

  /** Declared VCF type → Spark cast; try_cast so one malformed record
    * degrades to NULL instead of failing a 100 TB job under ANSI.
    */
  private def castTo(c: Column, typ: String): Column = typ match {
    case "Integer" => c.try_cast("long")
    case "Float" => c.try_cast("double")
    case _ => c // String / Character stay strings
  }

  /** Typed INFO columns driven by the header declarations: one
    * `INFO_<id>` column per declaration — Integer→long, Float→double,
    * Flag→boolean presence, Number≠1 → typed array. The manual q17-style
    * `element_at(...).cast(...)` becomes schema-driven.
    */
  def withTypedInfo(df: DataFrame, decls: Seq[FieldDecl]): DataFrame = {
    val m = infoMap(col("info"))
    decls.foldLeft(df) { (d, decl) =>
      val raw = element_at(m, decl.id)
      val typed = decl match {
        // flags carry no value — presence is the datum
        case FieldDecl(id, _, "Flag") => array_contains(split(col("info"), ";"), id)
        case FieldDecl(_, "0", _) => raw.isNotNull
        case FieldDecl(_, "1", t) => castTo(raw, t)
        case FieldDecl(_, _, t) => transform(split(raw, ","), x => castTo(x, t))
      }
      d.withColumn(s"INFO_${decl.id}", typed)
    }
  }

  /** 1-based position of allele `allele` (0 = REF, i = ALT i) in a
    * `Number=R` INFO/FORMAT array — the VCF-spec cardinality gnomAD/
    * GATK headers use for per-allele counts including the reference
    * (e.g. AD): `element_at(INFO_X, rIndex(lit(0)))` reads the REF
    * value, `rIndex(altIdx)` the ALT's, where `altIdx` is the 1-based
    * ALT index a `posexplode(split(alt, ','))` yields (+1). The typed
    * array itself comes from [[withTypedInfo]]; these helpers are the
    * positional-alignment half the reference's notebooks do by hand
    * after a multi-allelic explode (pandasvcf.py:32's INFO passthrough
    * upgraded to spec cardinalities).
    */
  def rIndex(allele: Column): Column = (allele + 1).cast("int")

  /** 1-based position of the diploid genotype (j, k), j ≤ k (alleles
    * 0 = REF, i = ALT i), in a `Number=G` array — the VCF-spec genotype
    * ordering `F(j, k) = k(k+1)/2 + j` behind PL/GL/GP fields. For ALT
    * i the three single-ALT genotypes sit at `gIndex(0, 0)` (hom-ref),
    * `gIndex(0, i)` (het) and `gIndex(i, i)` (hom-alt) — the alignment
    * a multi-allelic split (bcftools norm, GATK) applies to PL.
    * `k(k+1)` is even, so the division is exact.
    */
  def gIndex(j: Column, k: Column): Column =
    ((k * (k + 1)) / 2 + j + 1).cast("int")

  /** Typed FORMAT subfield columns on an annotated long frame (the
    * string columns VariantAnnotator emits per FORMAT key), cast per the
    * `##FORMAT` declarations.
    */
  def withTypedFormat(annotated: DataFrame, decls: Seq[FieldDecl]): DataFrame =
    decls.filter(d => d.id != "GT" && annotated.columns.contains(d.id))
      .foldLeft(annotated) { (df, decl) =>
        decl.number match {
          case "1" => df.withColumn(decl.id, castTo(col(decl.id), decl.typ))
          case _ => df.withColumn(decl.id,
            transform(split(col(decl.id), ","), x => castTo(x, decl.typ)))
        }
      }

  /** Header key/values as a DataFrame — parity with the reference's
    * `VCF.header_df` (pandasvcf.py:102-120).
    */
  def headerDf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val m = metadata(spark, path)
    (m.headerKv :+ ("SampleIDs" -> m.samples.mkString(",")) :+
      ("ColumnHeader" -> m.columns.mkString(",")))
      .toDF("header_key", "header_value")
  }

  /** ~1 Mb genomic position bucket — the second landing shuffle key.
    * Coarse enough that a bucket is one locality unit for site-keyed
    * work, fine enough that one human chromosome fans out over ~250
    * reducers instead of one.
    */
  def posBucket(pos: Column): Column = shiftright(pos, 20).cast("int")

  /** Recommended landing path for huge VCFs: one pass text→parquet,
    * directory-partitioned by chromosome so downstream region queries
    * prune, but SHUFFLED by (chrom, pos bucket): hashing on chrom alone
    * would serialize each chromosome through a single reducer — at
    * 100 TB that is a multi-TB straggler task (and its OOM), not a
    * layout. ~250 writers per human chromosome keeps every task
    * bounded while `partitionBy` still lands one directory per chrom.
    */
  def toParquet(spark: SparkSession, vcfPath: String, outPath: String): Unit =
    read(spark, vcfPath)
      .repartition(col("chrom"), posBucket(col("pos")))
      .write.mode("overwrite")
      .partitionBy("chrom")
      .parquet(outPath)

  /** The one definition of the bucketed landing layout, shared by the
    * overwrite and append paths so the spec cannot drift between them.
    */
  private def landBucketed(spark: SparkSession, vcfPath: String, table: String,
      buckets: Int, mode: String): Unit =
    read(spark, vcfPath)
      .withColumn("pos_bucket", posBucket(col("pos")))
      .write.mode(mode)
      .bucketBy(buckets, "chrom", "pos_bucket")
      .sortBy("chrom", "pos_bucket")
      .format("parquet")
      .saveAsTable(table)

  /** Bucketed-table landing variant: materializes `pos_bucket` and
    * `bucketBy(n, chrom, pos_bucket)` so repeated site-keyed work over
    * the landed table — aggregation or a self/fact join keyed on
    * (chrom, pos_bucket, …) — plans ZERO exchanges: the table's bucket
    * layout already satisfies the clustered distribution (the SURVEY §4
    * co-location promise; mechanism proven generically in
    * BucketedJoinSpec). Use over [[toParquet]] when the table is read
    * many times by site.
    */
  def toBucketedTable(spark: SparkSession, vcfPath: String, table: String,
      buckets: Int = 128): Unit =
    landBucketed(spark, vcfPath, table, buckets, "overwrite")

  /** Append one ingest batch into a bucketed landing table (created on
    * first use) — the multi-batch arrival path [[compactBucketedTable]]
    * exists for: each append lays one file per (writer task × bucket),
    * so compact on a maintenance cadence once small files accumulate.
    * Spark validates the declared bucket spec against the existing
    * table, so a drifted `buckets` count fails loudly instead of
    * corrupting the layout.
    */
  def appendToBucketedTable(spark: SparkSession, vcfPath: String, table: String,
      buckets: Int = 128): Unit =
    landBucketed(spark, vcfPath, table, buckets, "append")

  private def landPartitionedBucketed(spark: SparkSession, vcfPath: String,
      table: String, buckets: Int, mode: String): Unit =
    read(spark, vcfPath)
      .withColumn("pos_bucket", posBucket(col("pos")))
      .write.mode(mode)
      .partitionBy("chrom")
      .bucketBy(buckets, "pos_bucket")
      .sortBy("pos_bucket")
      .format("parquet")
      .saveAsTable(table)

  /** Directory-partitioned + bucketed landing: one directory per
    * chromosome (region queries PRUNE whole chroms at planning — the
    * [[toParquet]] layout's strength) AND `bucketBy(n, pos_bucket)`
    * within each (bucketing on chrom itself is illegal when it is the
    * partition column). The trade vs [[toBucketedTable]]: site-keyed
    * (chrom, pos_bucket) aggregation keeps ONE exchange — the bucket
    * spec alone can't witness the chrom component — in exchange for
    * O(1-chrom) scans on region work. Pick by the dominant read:
    * region-sliced → this; repeated whole-corpus site-keyed → bucket-only.
    */
  def toPartitionedBucketedTable(spark: SparkSession, vcfPath: String,
      table: String, buckets: Int = 32): Unit =
    landPartitionedBucketed(spark, vcfPath, table, buckets, "overwrite")

  /** Append an ingest batch to a [[toPartitionedBucketedTable]] landing. */
  def appendToPartitionedBucketedTable(spark: SparkSession, vcfPath: String,
      table: String, buckets: Int = 32): Unit =
    landPartitionedBucketed(spark, vcfPath, table, buckets, "append")

  /** Compact a bucketed landing table in place (generic — any bucketed
    * parquet table, optionally directory-partitioned; not just VCF
    * landings). A bucketed write emits one file per (writer task ×
    * bucket), so B append batches leave ≥B small files per bucket; at
    * 100 TB the scan then pays B× the file-open/footer overhead and the
    * driver plans B× the splits.
    *
    * The rewrite shuffles ONCE on the bucket columns into exactly
    * `numBuckets` partitions — `repartition(n, cols)`'s
    * pmod(murmur3, n) is the same function Spark uses for bucket-id
    * assignment, so each reducer holds exactly one bucket. Bucket-only
    * tables write exactly one file per bucket; directory-partitioned
    * tables write one file per (partition, bucket) — each reducer holds
    * ALL rows of its bucket, and the dynamic-partition writer splits
    * them by directory, so no per-partition iteration (and no
    * per-partition job) is needed. The rewrite lands under the
    * identical partition/bucket/sort spec, preserving the layout
    * bit-for-bit, so downstream plans survive compaction unchanged
    * (spec-proven).
    *
    * Swap mechanics differ by layout, because catalogs differ:
    *
    *  - BUCKET-ONLY tables swap by rename, crash-safe ordering:
    *    original → `__old`, compacted → original, drop `__old`. A
    *    failure between any two statements leaves a fully queryable
    *    table recoverable by a single RENAME (never a window with no
    *    table under either name).
    *  - PARTITIONED tables never rename: a renamed managed table keeps
    *    its per-PARTITION locations pointing at the old paths (the
    *    catalog moves only the table directory), so a post-rename DROP
    *    of the set-aside table deletes the partition directories the
    *    NEW data just moved into. Instead the compacted copy is staged
    *    to a scratch path and DYNAMIC-partition-overwrite-INSERTed into
    *    the original — the INSERT maintains partition metadata itself,
    *    the table stays continuously queryable, and a mid-commit
    *    failure leaves each partition either old-fragmented or
    *    new-compacted, both with identical rows. (Cost: the compacted
    *    bytes are written twice — stage + insert — the price of never
    *    renaming a partitioned table.)
    */
  def compactBucketedTable(spark: SparkSession, table: String): Unit = {
    // parse (not wrap) the name so qualified identifiers like
    // `db.events` resolve to the right database instead of being read
    // as a single-part name in the current one
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"table $table is not bucketed — nothing to compact"))
    val bcols = spec.bucketColumnNames
    val pcols = meta.partitionColumnNames
    // read FILES at a path, not the table: when the repartition
    // expressions equal the source table's own bucket spec, the planner
    // elides the exchange as redundant (while also planning the scan
    // un-bucketed — "Bucketed: false (disabled by query planner)"), and
    // the write then emits one file per (scan split × bucket),
    // compacting nothing. Partition-column values come from directory
    // names; type INFERENCE is disabled (a chrom directory of "1".."22"
    // must not come back as ints) and the strings are cast to the table
    // schema's exact types instead
    def readTyped(path: String): DataFrame = {
      val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val oldInfer = spark.conf.get(inferKey)
      val raw = try {
        spark.conf.set(inferKey, "false")
        spark.read.parquet(path)
      } finally spark.conf.set(inferKey, oldInfer)
      raw.select(meta.schema.map { f =>
        if (pcols.contains(f.name))
          // a null partition value lands in the hive default dir; undo it
          nullif(col(f.name), lit("__HIVE_DEFAULT_PARTITION__"))
            .cast(f.dataType).as(f.name)
        else col(f.name)
      }: _*)
    }
    def oneFilePerBucket(df: DataFrame): DataFrame =
      df.repartition(spec.numBuckets, bcols.map(col): _*)
    if (pcols.isEmpty) {
      val tmpIdent = ident.copy(table = s"${ident.table}__compacting")
      val tmp = tmpIdent.quotedString
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      val writer = oneFilePerBucket(readTyped(meta.location.toString))
        .write.mode("overwrite")
        .bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
      val sorted = spec.sortColumnNames match {
        case Nil => writer
        case s => writer.sortBy(s.head, s.tail: _*)
      }
      sorted.format("parquet").saveAsTable(tmp)
      val oldIdent = ident.copy(table = s"${ident.table}__old")
      spark.sql(s"DROP TABLE IF EXISTS ${oldIdent.quotedString}")
      spark.sql(s"ALTER TABLE ${ident.quotedString} RENAME TO ${oldIdent.quotedString}")
      spark.sql(s"ALTER TABLE $tmp RENAME TO ${ident.quotedString}")
      spark.sql(s"DROP TABLE ${oldIdent.quotedString}")
    } else {
      // stage a plain (partition-dir, unbucketed) copy to break the
      // self-read, then bucket-shuffle it back INTO the table: the
      // INSERT inherits the table's bucket/sort spec from the catalog,
      // and with one task per bucket holding all of its rows the
      // dynamic-partition writer emits one file per (partition, bucket)
      val stagePath = meta.location.toString.stripSuffix("/") + "__compacting_stage"
      val hPath = new org.apache.hadoop.fs.Path(stagePath)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val oldMode = spark.conf.get(modeKey)
      try {
        readTyped(meta.location.toString)
          .write.mode("overwrite").partitionBy(pcols: _*).parquet(stagePath)
        spark.conf.set(modeKey, "dynamic")
        oneFilePerBucket(readTyped(stagePath))
          .write.mode("overwrite").insertInto(ident.quotedString)
      } finally {
        spark.conf.set(modeKey, oldMode)
        fs.delete(hPath, true)
      }
    }
  }
}
