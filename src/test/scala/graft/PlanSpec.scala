package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: these assert the *physical plan properties* that
  * make the operators scale — pushdown reaching the scan, broadcast on
  * small dims, bounded shuffle counts — so a regression in plan shape
  * fails CI even while results stay correct.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Plan-tree traversal that descends into AQE query stages. */
  private object stages
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q02 filter and projection reach the parquet scan") {
    val p = formatted("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema: only the 4 needed columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"))
  }

  test("q03 joins broadcast the dimension tables") {
    val p = planOf("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01 aggregate is partial-merged (map-side combine)") {
    val p = planOf("q01_pricing_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("annotate plan has exactly one exchange (the site window)") {
    import graft.operators.VariantAnnotator
    val ann = VariantAnnotator.annotate(
      graft.queries.SyntheticVariants.wide(spark, dir),
      VariantAnnotator.Options(formatKeys = Some(Seq("GT", "DP", "AD"))))
    val plan = ann.queryExecution.executedPlan.toString
    // one exchange from the deliberate repartition of the tiny source,
    // one for the window — and nothing else
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"unexpected shuffles:\n$plan")
    assert(plan.contains("Window"), plan)
    ann.collect() // finalize AQE so codegen spans are visible
    val fin = ann.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lines = fin.linesIterator.toIndexedSeq
    val gen = lines.indexWhere(_.contains("Generate inline(annotate_calls("))
    assert(gen >= 0, fin)
    // tree order: every exchange prints BELOW the generator, so the
    // window shuffles wide site rows, never the exploded call rows
    val below = lines.indices.filter(i => lines(i).contains("Exchange"))
    assert(below.nonEmpty && below.forall(_ > gen),
      s"an exchange sits above the call generator:\n$fin")
    // '*(n)' prefix = inside a WholeStageCodegen stage
    for (k <- Seq("Generate inline(annotate_calls(", "hom_ref_count(")) {
      val line = lines.find(_.contains(k)).getOrElse(fail(s"$k missing:\n$fin"))
      assert(line.trim.matches("""^\+?-?\s*\*\(\d+\).*"""), s"$k not codegen'd:\n$fin")
    }
  }

  test("custom expressions appear codegen'd, not as BatchEvalPython/UDF") {
    val df = graft.queries.SyntheticVariants.wide(spark, dir)
      .select(graft.functions.VariantFunctions.vartype(col("ref"), col("alt")).as("v"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("vartype"), p)
    assert(!p.contains("BatchEval"), p)
    df.collect() // finalize AQE so codegen spans are visible
    val wsc = df.queryExecution.executedPlan.toString
    // '*(n)' prefix = inside a WholeStageCodegen stage
    val vartypeLine = wsc.linesIterator.find(_.contains("vartype(")).get
    assert(vartypeLine.trim.matches("""^\+?-?\s*\*\(\d+\).*"""), wsc)
  }

  test("q194 sequence packing: corpus windows are block-partitioned, " +
      "block offsets broadcast, no cartesian") {
    val p = planOf("q194_sequence_pack")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    // the ≤blocks-row offsets frame joins back via broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // every corpus-sized window is partitioned by the block key; the
    // one SinglePartition exchange feeds only the aggregated totals
    // frame (bounded by the blocks parameter)
    val single = p.linesIterator.count(_.contains("SinglePartition"))
    assert(single <= 1, s"unexpected global funnel:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    // agg on __blk + window sort on __blk + totals single-partition
    // window + the gate's output ordering
    assert(exchanges <= 4, s"shuffle budget exceeded:\n$p")
  }

  test("q43 kmeans step builds in single-stage jobs and plans as a driver-local frame") {
    // the Lloyd step is one fold job over the scan at build time (no
    // join, no window, no (cell, dim) shuffle); what q43 returns is a
    // local frame of its k×d rows
    var q: org.apache.spark.sql.DataFrame = null
    val built = jobsAndStagesOf { q = SparkEntry.queries("q43_kmeans_step")(spark, dir) }
    // the parquet schema read, the centroid collect and the fold
    assert(built.jobs <= 3 && built.stages === built.jobs && built.shuffles === 0,
      s"building q43: $built")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && !p.contains("Scan parquet"), p)
  }

  test("q26 stratified sample stays narrow: only agg + output exchanges") {
    val p = planOf("q26_stratified_sample")
    // the hash-gate filter itself is narrow; the plan's only exchanges
    // are the groupBy aggregation and the ordered tiny output
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"sampling filter must not add a shuffle:\n$p")
  }

  test("q40 brute-force top-k broadcasts the probe side") {
    val p = planOf("q40_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q177 hard negatives broadcast the probe batch and pre-reduce " +
      "the per-probe top-k below the exchange") {
    val p = planOf("q177_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial WindowGroupLimit before the exchange:\n$p")
  }

  test("pq ADC top-k pre-reduces below the exchange (partial WindowGroupLimit)") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val books = Similarity.pqCodebooks(e.filter(col("vec_id").between(200, 207)), m = 4)
    val top = Similarity.pqAdcTopK(
      Similarity.pqEncode(e, books), e.filter(col("vec_id") < 5), books, k = 5)
    top.collect()
    val p = top.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // rnk<=5 over row_number must trigger the partial top-k BELOW the
    // shuffle: the exchange then moves ≤ k·|probes| rows per partition,
    // not the broadcast cross-join output
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial WindowGroupLimit before the exchange:\n$p")
  }

  test("ivf+pq composed search: corpus unshuffled, probe side broadcast, partial top-k") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val books = Similarity.pqCodebooks(e.filter(col("vec_id").between(200, 207)), m = 4)
    val codes = Similarity.pqEncode(Similarity.ivfAssign(e, cents), books, keep = Seq("cell"))
    val top = Similarity.pqAdcTopKInCells(
      codes, Similarity.ivfAssignTopN(e.filter(col("vec_id") < 5), cents, nprobe = 2),
      books, k = 5)
    top.collect()
    val p = top.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the cell equi-join must broadcast the (tiny) probe side — the
    // encoded corpus is the billion-row side and must never move
    assert(p.contains("BroadcastHashJoin"), s"cell join must broadcast probes:\n$p")
    assert(!p.contains("Exchange hashpartitioning(cell"),
      s"corpus must not shuffle on cell:\n$p")
    assert(!p.contains("Exchange hashpartitioning(cand_id"),
      s"corpus must not shuffle on cand_id:\n$p")
    // and the per-probe top-k pre-reduces below the one probe exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial WindowGroupLimit before the exchange:\n$p")
  }

  test("residual ivf+pq search keeps the composed shape: corpus unshuffled, probes broadcast") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // seed residual books (the q69 construction), then one training step
    // so the gate covers the TRAINED-book search plan too (q70's shape)
    val seedBooks = Similarity.seedResidualBooks(
      e.filter(col("vec_id").between(200, 207)), cents, m = 4)
    val asg = Similarity.ivfAssign(e, cents)
    val books = Similarity.pqTrainStepResidual(asg, cents, seedBooks)
    val codes = Similarity.pqEncodeResidual(asg, cents, books)
    val top = Similarity.pqAdcTopKResidual(
      codes, Similarity.ivfAssignTopN(e.filter(col("vec_id") < 5), cents, nprobe = 2),
      cents, books, k = 5)
    top.collect()
    val p = top.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the residual bank is bound INSIDE the projection — the corpus
    // side must stay an unshuffled scan under a broadcast
    assert(p.contains("BroadcastHashJoin"), s"cell join must broadcast probes:\n$p")
    assert(!p.contains("Exchange hashpartitioning(cell"),
      s"corpus must not shuffle on cell:\n$p")
    assert(!p.contains("Exchange hashpartitioning(cand_id"),
      s"corpus must not shuffle on cand_id:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial WindowGroupLimit before the exchange:\n$p")
  }

  test("residual big-nlist fallback search: corpus unshuffled, one bounded probe exchange") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    // 300 cells: past the 256-centroid limit that used to switch the
    // family onto a broadcast-codeword join; the kernels have one path
    val cents = e.filter(col("vec_id") < 300)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val seedBooks = Similarity.seedResidualBooks(
      e.filter(col("vec_id").between(300, 307)), cents, m = 4)
    val asg = Similarity.ivfAssign(e, cents)
    val codes = Similarity.pqEncodeResidual(asg, cents, seedBooks)
    val top = Similarity.pqAdcTopKResidual(
      codes, Similarity.ivfAssignTopN(e.filter(col("vec_id") < 5), cents, nprobe = 2),
      cents, seedBooks, k = 5)
    top.collect()
    val p = top.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // probe tables broadcast; the encoded corpus side must never
    // hash-shuffle on its own keys
    assert(p.contains("BroadcastHashJoin"), s"cell join must broadcast probes:\n$p")
    assert(!p.contains("Exchange hashpartitioning(cell"),
      s"corpus must not shuffle on cell:\n$p")
    assert(!p.contains("Exchange hashpartitioning(cand_id"),
      s"corpus must not shuffle on cand_id:\n$p")
    // per-probe top-k still pre-reduces below the one probe exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial WindowGroupLimit before the exchange:\n$p")
    // the encode is one narrow projection: no exchange of any kind
    val encP = codes.queryExecution.executedPlan.toString
    assert(!encP.contains("Exchange"), s"residual encode must not exchange:\n$encP")
  }

  test("q77 chunking and q78 shard shuffle stay narrow") {
    // chunking: one generator per doc, no join/window, and NO hash
    // exchange at all — the only exchanges are the fixture's
    // round-robin fan-outs and the ordered output's range partitioning
    val p77 = planOf("q77_doc_chunking")
    assert(!p77.contains("Join") && !p77.contains("Window"), p77)
    assert(!p77.contains("Exchange hashpartitioning"),
      s"chunking itself must not shuffle:\n$p77")
    // shard shuffle: the position assignment is a narrow projection —
    // the single hash exchange is the gate's own per-shard aggregation
    val p78 = planOf("q78_shard_shuffle")
    assert(!p78.contains("Join") && !p78.contains("Window"), p78)
    assert(p78.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"shard assignment must be narrow:\n$p78")
  }

  test("range joins (q81, q82, q83, q101, q132, q233 and the bare operators) " +
      "are one narrow interval-index probe, also with codegen fallback off") {
    // each range join is a Generate over interval_hits/interval_nearest:
    // no join node (so no nested loop, no Cartesian product), no
    // exchange feeding the probe, no interpreted CodegenFallback; with
    // spark.sql.codegen.fallback=false a stage Janino rejects fails
    import spark.implicits._
    import graft.operators.{Gvcf, Liftover, RangeJoin}
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      for (name <- Seq("q81_region_join", "q82_interval_overlap", "q83_nearest_feature",
          "q101_nearest_unbounded", "q132_liftover", "q233_liftover"))
        PlanGates.assertNarrowProbe(name, SparkEntry.queries(name)(spark, dir), bare = false)
      // the ALT flip and swap are kernel calls, not transform lambdas
      for (name <- Seq("q233_liftover", "q239_liftover_swap", "q244_liftover_chainfile"))
        PlanGates.assertCompiledAbove(name, SparkEntry.queries(name)(spark, dir))
      val points = Seq(("1", 25), ("1", 70), ("2", 45)).toDF("chrom", "pos")
      val intervals = Seq(("1", 10, 40, "a"), ("1", 100, 130, "b"), ("2", 50, 60, "c"))
        .toDF("chrom", "start", "end", "name")
      val chain = Seq(("1", 10, 39, "c1", 100, "-"))
        .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
      val gv = Seq(("1", 20, "A", "<NON_REF>", "END=99"))
        .toDF("chrom", "pos", "ref", "alt", "info")
      val bare = Seq(
        "pointInInterval" -> RangeJoin.pointInInterval(points, intervals),
        "intervalOverlap" -> RangeJoin.intervalOverlap(intervals,
          intervals.select($"chrom", $"start".as("r_start"), $"end".as("r_end"))),
        "nearestInterval" -> RangeJoin.nearestInterval(points, intervals, 50L),
        "RangeJoin.liftover" -> RangeJoin.liftover(points, chain),
        "Liftover.liftover" -> Liftover.liftover(
          points.withColumn("ref", lit("A")).withColumn("alt", lit("C")), chain),
        "Gvcf.locusQuery" -> Gvcf.locusQuery(gv, points))
      for ((label, q) <- bare) PlanGates.assertNarrowProbe(label, q)
    } finally spark.conf.set(key, old)
  }

  test("q79/q80 family QC read ONE annotate plan via ReusedExchange") {
    // the concordance/trio joins consume two (three) filtered views of
    // the same annotated frame — the site-window exchange must be
    // computed once and reused, not re-derived per view
    for (name <- Seq("q79_sample_concordance", "q80_trio_mendel",
        "q91_kinship", "q106_inbreeding", "q107_tdt")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("ReusedExchange"),
        s"$name re-derives the annotate subtree:\n$p")
    }
  }

  test("q168/q169 association scans: one conditional-sum site groupBy, " +
      "no joins; the meta's two studies share ONE annotate plan") {
    val t = SparkEntry.queries("q168_assoc_trend")(spark, dir)
    t.collect()
    val pt = t.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // both cohorts' genotype tables come out of the SAME pass — a join
    // here would double the substrate cost for a conditional sum
    assert(!pt.contains("Join"), s"trend scan must not join:\n$pt")
    val m = SparkEntry.queries("q169_meta_stouffer")(spark, dir)
    m.collect()
    val pm = m.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(pm.contains("ReusedExchange") || pm.contains("TableCacheQueryStage"),
      s"meta's two studies must reuse the annotate subtree:\n$pm")
  }

  test("q111 ld pairs are bucket equi-joins on (chrom, bucket), never nested loops") {
    val q = SparkEntry.queries("q111_ld_decay")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"ld pair generation must stay an equi-join:\n$p")
    // the pair statistics are ONE codegen kernel call per pair — no
    // per-sample explosion, no dosage joins (the 103 s → 28.6 s rewrite)
    assert(p.contains("ld_sums"), s"pair sums must use the kernel:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins === 1, s"exactly the (chrom, bucket) pair join expected:\n$p")
  }

  test("q108/q162 roh: every island window and the run agg share ONE " +
      "(sample, chrom) exchange") {
    for (name <- Seq("q108_roh", "q162_roh_het")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly one hashpartitioning(sample_id, chrom): all five
      // window stages (site rn, het cumsum, block size, island key,
      // interior-hom counts) cluster on (sample, chrom) subsets —
      // Catalyst inserts sorts between them, never a second shuffle —
      // and the (sample, chrom, isl) groupBy is satisfied by the
      // subset partitioning
      val keyed = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(sample_id"))
      assert(keyed === 1, s"$name must shuffle once on (sample, chrom):\n$p")
      // strict mode short-circuits to the classic two-window plan;
      // the relaxed path adds het cumsum, block size, and the
      // interior-hom counts
      val expectWindows = if (name == "q108_roh") 2 else 5
      assert(p.linesIterator.count(_.contains("Window ")) === expectWindows, p)
    }
  }

  test("q87 bm25 top-k plans as TakeOrderedAndProject, never a global sort") {
    val q = SparkEntry.queries("q87_bm25_topk")(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    // orderBy + limit must fuse: per-partition partial top-k, k rows to
    // the driver — a Sort + GlobalLimit shape ships every candidate row
    assert(p.contains("TakeOrderedAndProject"), s"top-k did not fuse:\n$p")
  }

  test("q71 familiarity joins the reference vocabulary by broadcast") {
    val q = SparkEntry.queries("q71_ngram_familiarity")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the vocabulary is top-K — driver-small by construction — so the
    // corpus-side ngram stream must never sort-merge against it
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge on ngram:\n$p")
  }

  test("jaccard shingle table is shared via ReusedExchange, not a cache") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", n = 3, threshold = 0.5)
    pairs.collect() // finalize AQE so reuse nodes are visible
    // executedPlan.toString appends the pre-AQE "Initial Plan" where the
    // subtree textually repeats — assert on the final plan only
    val p = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the expensive scan→explode→hash→distinct subtree must run ONCE:
    // its shuffle output feeds both self-join sides and the set-size
    // aggregation through reuse nodes, with no InMemory relation pinned
    assert(!p.contains("InMemoryTableScan"),
      s"shingle table must not be cached by default:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage") ||
      p.contains("ShuffleQueryStage"),
      s"expected shared shuffle stages:\n$p")
    // only one scan of the documents parquet in the whole plan
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("Scan parquet"))
    assert(scans <= 1, s"shingle subtree must not be recomputed per consumer:\n$p")
  }

  test("minhash LSH: signatures are a narrow projection below the (band, key) " +
      "exchange, and both join sides read it once via ReusedExchange") {
    import graft.operators.Dedup
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val pairs = Dedup.minhashLshPairs(docs, "id", "text", n = 5, bands = 4)
    pairs.collect() // finalize AQE so query stages and reuse are visible
    val plan = pairs.queryExecution.executedPlan
    def onBandKey(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: AttributeReference => a.name }.toSet ==
          Set("band", "key")
      case _ => false
    }
    val bandEx = stages.collect(plan) { case e: ShuffleExchangeExec if onBandKey(e) => e }
    assert(bandEx.size == 1, s"expected ONE (band, key) exchange:\n$plan")
    val aggs = stages.collect(bandEx.head.child) { case a: BaseAggregateExec => a }
    assert(aggs.isEmpty,
      s"signatures must need no aggregate below the band exchange:\n$plan")
    val reused = stages.collect(plan) {
      case r: ReusedExchangeExec if r.child.isInstanceOf[ShuffleExchangeExec] &&
        onBandKey(r.child.asInstanceOf[ShuffleExchangeExec]) => r
    }
    assert(reused.size == 1,
      s"the other join side must reuse the band exchange:\n$plan")
  }

  /** Per-row expressions of `df`'s plan that run interpreted: any
    * `CodegenFallback`, array HOF or lambda. Aggregate functions are left
    * out on purpose: `collect_list` is an imperative aggregate that
    * ObjectHashAggregate evaluates as such by design.
    */
  private def interpretedExprs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    stages.collect(df.queryExecution.executedPlan) { case n => n }.flatMap(_.expressions)
      .flatMap(_.collect {
        case e: CodegenFallback if !e.isInstanceOf[AggregateFunction] => e
        case e: HigherOrderFunction => e
        case e: LambdaFunction => e
      }).map(_.prettyName).distinct
  }

  test("shingle, winnowing and minhash-band plans hold no CodegenFallback " +
      "expression (no array HOF or lambda)") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val plans = Seq(
      "shingleTable" -> Dedup.shingleTable(docs, "id", "text", 5),
      "winnowingFingerprints" -> Dedup.winnowingFingerprints(docs, "id", "text", 5, 4),
      "minhashBands" -> Dedup.minhashBands(docs, "id", "text", 5, 4),
      "minhashBands(maxDocFreq)" ->
        Dedup.minhashBands(docs, "id", "text", 5, 4, maxDocFreq = Some(50)))
    for ((name, df) <- plans) {
      val fallbacks = interpretedExprs(df)
      assert(fallbacks.isEmpty, s"$name evaluates interpreted: $fallbacks\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("q42/q48/q66/q69/q70 quantizer plans hold no CodegenFallback " +
      "expression (no array HOF or lambda)") {
    for (name <- Seq("q42_ivf_ann", "q48_ivf_nprobe_recall", "q66_pq_trained_recall",
        "q69_ivfpq_residual_recall", "q70_ivfpq_trained_recall")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val fallbacks = interpretedExprs(df)
      assert(fallbacks.isEmpty, s"$name evaluates interpreted: $fallbacks\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("q118 grm: self-join sides share the dosage plan via ReusedExchange") {
    val q = SparkEntry.queries("q118_grm")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"grm sides must reuse one min-dosage exchange:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"grm must stay site-keyed equi-joins:\n$p")
  }

  test("q119 fst: one conditional-sum pass, no joins anywhere") {
    val q = SparkEntry.queries("q119_fst")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"both cohorts must come out of ONE agg:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"site counts must partial-aggregate map-side:\n$p")
  }

  test("q120 quality gate: scalar rules narrow, top-word count partial-aggregated") {
    val q = SparkEntry.queries("q120_quality_gate")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("partial_count") || p.contains("partial_max"),
      s"top-word count must partial-aggregate:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  test("q125 coverage sweep: one chrom window, events partial-aggregated") {
    val q = SparkEntry.queries("q125_coverage_depth")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Window"), p)
    assert(p.contains("partial_sum"),
      s"event deltas must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"), s"the sweep joins nothing:\n$p")
  }

  test("q130 cms: grid partial-aggregated, probe joins a broadcast grid") {
    val q = SparkEntry.queries("q130_cms_freq")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"the parameter-bounded grid must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"cell counts must partial-aggregate map-side (the exchange " +
        s"carries the grid, never the item stream):\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  test("q131 melt is ONE Expand over one scan, not per-measure rescans") {
    val q = SparkEntry.queries("q131_melt")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Expand"), s"unpivot must compile to Expand:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"melt must read the corpus ONCE, saw $scans scans:\n$p")
    assert(!p.contains("Union"), s"no per-measure union of rescans:\n$p")
  }

  test("q133 domain gate: flags join co-keyed on id, one domain agg") {
    val q = SparkEntry.queries("q133_domain_gate")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the domain aggregation must partial-aggregate:\n$p")
  }

  test("q136 pagerank: every round is equi-joins, no nested loops") {
    val q = SparkEntry.queries("q136_pagerank")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pagerank rounds must stay key-equi-joins:\n$p")
    assert(p.contains("partial_sum"),
      s"contribution sums must partial-aggregate map-side:\n$p")
  }

  test("q141 winnowing: window sketch then equi-join, no nested loops") {
    val q = SparkEntry.queries("q141_winnowing")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("Window"), s"the per-window min is a window aggregate:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pairs must come from the fingerprint equi-join:\n$p")
  }

  test("q137/q144/q145 event transforms: partial-aggregated, no nested loops") {
    Seq("q137_retention", "q144_scd2", "q145_anomaly_days").foreach { name =>
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"$name must stay key-equi everything:\n$p")
    }
  }

  test("q149 triangles: orientation + wedge + closing are all equi-joins") {
    val q = SparkEntry.queries("q149_triangles")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"degree-ordered triangle counting must never go all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"degree and triangle counts must partial-aggregate:\n$p")
  }

  test("q153 typo pairs: deletion-key bucket join, no all-pairs scan") {
    val q = SparkEntry.queries("q153_typo_pairs")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"SymSpell candidates must come from the deletion-key equi-join:\n$p")
    // the vocab groupBy crushes the token stream before key fan-out
    assert(p.contains("partial_count"),
      s"the vocabulary count must partial-aggregate map-side:\n$p")
  }

  test("q151 rrf fusion: bounded ranking inputs, fused window group-limits") {
    val q = SparkEntry.queries("q151_rrf_fusion")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the dense arm's brute-force probe is crossJoin(broadcast(probes))
    // — a BroadcastNestedLoopJoin with a BOUNDED probe side is that
    // operator's documented shape (q40); what must never appear is an
    // unbroadcast cartesian
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast all-pairs anywhere in the fusion plan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the fused top-k must pre-reduce per partition, not global-sort:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the sparse arm's top-20 must stay TakeOrderedAndProject:\n$p")
  }

  test("q157 upsert apply: max-struct partial agg — keys shuffle, " +
      "history never enters a window sort") {
    val q = SparkEntry.queries("q157_upsert_apply")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("partial_max") || p.contains("partial_count"),
      s"the latest-state pick must reduce map-side:\n$p")
    assert(!p.contains("Window"),
      s"the window spelling shuffles every change row into a sort — " +
        s"the exchange must carry keys, not history:\n$p")
  }

  test("q138 polygenic score: panel broadcasts, call stream never shuffles for the join") {
    val q = SparkEntry.queries("q138_polygenic_score")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"the GWAS panel is bounded — it must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the call stream must not shuffle into the panel join:\n$p")
  }

  test("q189 dsir: ONE corpus pass — model tables broadcast, no " +
      "corpus-side sort-merge, top-n stays TakeOrdered") {
    val q = SparkEntry.queries("q189_dsir_select")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"both models' unigram/bigram tables are capped — broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle into a model join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"gumbel-top-n must not global-sort:\n$p")
  }

  test("q188 charr: AF side and call side share ONE scan substrate " +
      "via ReusedExchange; the sample rollup pre-reduces") {
    val q = SparkEntry.queries("q188_contamination")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"the frequency join must reuse the call-frame exchange:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the per-sample mean must reduce map-side:\n$p")
  }

  test("q186 ranking metrics: co-keyed scoring join, partial-agg " +
      "probe rollups, the qrels window only over the judgment side") {
    val q = SparkEntry.queries("q186_rank_eval")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-probe aggregates must pre-reduce:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scoring must stay a co-keyed equi-join:\n$p")
  }

  test("q187 vocabulary drift: token join is a full-outer equi-join, " +
      "totals broadcast back — never a per-group window") {
    val q = SparkEntry.queries("q187_vocab_drift")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin"),
      s"the vocabulary union must be a full-outer join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row totals must broadcast onto the token frame:\n$p")
    assert(!p.contains("Window"),
      s"per-group totals must NOT be a window (single-task funnel):\n$p")
  }

  test("r12 operators keep their contracted shapes: sv-norm narrow, " +
      "mask narrow, harmonize one equi-join, kn-lm no nested loops") {
    // q204 normalize over the SV callset: generator + projection, no
    // join, no exchange before the ordered output
    val p204 = planOf("q204_sv_alt_norm").split("== Initial Plan ==").head
    assert(!p204.contains("Join"), s"sv normalize must not join:\n$p204")
    // q206 masking: transform_values ahead of annotate — still exactly
    // the annotate plan class (no extra exchange from the mask)
    val p206 = formatted("q206_set_gt_missing")
    assert(!p206.contains("CartesianProduct") &&
      !p206.contains("BroadcastNestedLoopJoin"), p206)
    // q210 harmonization: ONE equi-join, never a nested loop
    val q210 = SparkEntry.queries("q210_allele_harmonize")(spark, dir)
    q210.collect()
    val p210 = q210.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p210.contains("BroadcastNestedLoopJoin") &&
      !p210.contains("CartesianProduct"),
      s"harmonize must stay an equi-join:\n$p210")
    // q209 KN scoring: LM joins are hash equi-joins; the only
    // BNLJ-class node allowed is the 1-row B-total broadcast
    val q209 = SparkEntry.queries("q209_kn_lm_score")(spark, dir)
    q209.collect()
    val p209 = q209.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p209.contains("CartesianProduct"), p209)
    assert(p209.contains("BroadcastHashJoin") ||
      p209.contains("SortMergeJoin") || p209.contains("ShuffledHashJoin"),
      s"kn-lm count joins must be equi-joins:\n$p209")
  }

  test("dosage modes (q214/q215/q216): the weight panel joins by " +
      "broadcast (the call stream never shuffles for it), the trend " +
      "and AF scans are join-free conditional-sum groupBys") {
    val q214 = SparkEntry.queries("q214_pgs_dosage")(spark, dir)
    q214.collect()
    val p214 = q214.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p214.contains("BroadcastHashJoin"),
      s"the GWAS weight panel must broadcast:\n$p214")
    assert(!p214.contains("SortMergeJoin") &&
      !p214.contains("CartesianProduct"),
      s"the cohort call stream must not shuffle for the panel:\n$p214")
    for (name <- Seq("q215_trend_dosage", "q216_dosage_af")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"$name must not join:\n$p")
    }
  }

  test("split-vep family and gVCF shapes: q217/q224 are join-free " +
      "narrow pipelines, q218 range-joins by bucket equi-join, q226's " +
      "only nested-loop-class node is the broadcast sample-panel grid") {
    for (name <- Seq("q217_split_vep", "q224_remove_tags")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"$name must stay join-free:\n$p")
    }
    val q218 = SparkEntry.queries("q218_gvcf_locus")(spark, dir)
    q218.collect()
    val p218 = q218.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p218.contains("BroadcastNestedLoopJoin") &&
      !p218.contains("CartesianProduct"),
      s"gvcf locus query must stay the bucket equi-join:\n$p218")
    val q226 = SparkEntry.queries("q226_gvcf_cohort_state")(spark, dir)
    q226.collect()
    val p226 = q226.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p226.contains("CartesianProduct"), p226)
    // the loci × sample-panel grid is the one legitimate
    // broadcast-loop node (parameter-small panel, the q203 eval-side
    // precedent); the coverage join itself must be a hash equi-join
    val bnlj = p226.linesIterator
      .count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the panel grid may nest-loop:\n$p226")
    assert(p226.contains("BroadcastHashJoin") ||
      p226.contains("SortMergeJoin") || p226.contains("ShuffledHashJoin"),
      s"coverage must attach by equi-join:\n$p226")
  }

  test("r14 shapes: q228 GP-dosage and q230 split-then-dose are " +
      "join-free single-agg pipelines; q229 joint genotyping keeps " +
      "the q226 plan (bucket equi-join coverage, only the broadcast " +
      "sample-panel grid may nest-loop — the PL fold adds no exchange)") {
    for (name <- Seq("q228_gp_dosage_af", "q230_split_dosage_af")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"$name must not join:\n$p")
    }
    val q229 = SparkEntry.queries("q229_gvcf_joint_call")(spark, dir)
    q229.collect()
    val p229 = q229.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p229.contains("CartesianProduct"), p229)
    val bnlj229 = p229.linesIterator
      .count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj229 <= 1, s"only the panel grid may nest-loop:\n$p229")
    assert(p229.contains("BroadcastHashJoin") ||
      p229.contains("SortMergeJoin") || p229.contains("ShuffledHashJoin"),
      s"coverage must attach by equi-join:\n$p229")
  }

  test("q235 semantic dedup joins on equi-keys, never a nested loop; " +
      "q234 trio phasing reads ONE annotate plan") {
    {
      val q = SparkEntry.queries("q235_semantic_dedup")(spark, dir)
      q.collect()
      val pl = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!pl.contains("BroadcastNestedLoopJoin") &&
        !pl.contains("CartesianProduct"),
        s"q235_semantic_dedup planned as a nested loop:\n$pl")
      assert(pl.contains("Join"), pl)
    }
    // the trio's three sample views must share one annotate scan
    val q = SparkEntry.queries("q234_phase_by_transmission")(spark, dir)
    q.collect()
    val pl = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(pl.contains("ReusedExchange") || pl.contains("ReusedSubquery"),
      s"trio views re-ran the annotate plan instead of reusing it:\n$pl")
  }

  test("r16 gates: liftover REF-validation (q239) keeps the equi-join " +
      "shape (the genome fetch is a narrow codegen projection, never a " +
      "join); PL phasing (q240) keeps q234's ReusedExchange and adds " +
      "NO exchange; BGEN dosage (q242) is join-free") {
    for (name <- Seq("q239_liftover_swap", "q240_phase_pl")) {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      val pl = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!pl.contains("BroadcastNestedLoopJoin") &&
        !pl.contains("CartesianProduct"),
        s"$name planned as a nested loop:\n$pl")
    }
    val q240 = SparkEntry.queries("q240_phase_pl")(spark, dir)
    q240.collect()
    val p240 = q240.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p240.contains("ReusedExchange") || p240.contains("ReusedSubquery"),
      s"q240's trio views re-ran the annotate plan:\n$p240")
    // the PL arm must be a projection over the joined rows — same
    // exchange count as the hard-call q234 plan
    val q234 = SparkEntry.queries("q234_phase_by_transmission")(spark, dir)
    q234.collect()
    def exchanges(s: String) =
      "(?<!Reused)Exchange".r.findAllIn(s).size
    val p234 = q234.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(exchanges(p240) <= exchanges(p234) + 1, // +1: the pl column
      s"PL arm added exchanges: q240=${exchanges(p240)} " +
        s"q234=${exchanges(p234)}")
    val q242 = SparkEntry.queries("q242_bgen_dosage")(spark, dir)
    q242.collect()
    val p242 = q242.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p242.contains("Join"),
      s"bgen dosage fold must be join-free:\n$p242")
  }
}
