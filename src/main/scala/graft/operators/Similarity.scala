package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.expressions.{LloydSlot, LloydSums, QuantBank, QuantExprs, QuantKernels}
import graft.queries.QueryUtil.avg6

/** Vector similarity over embedding columns (Array[Float]/Array[Double]).
  *
  * Dot/cosine/L2 are strict left-to-right folds in DOUBLE — deterministic
  * and engine-portable (the DuckDB oracle reproduces them exactly) —
  * implemented as native codegen expressions (graft.expressions
  * .VectorExprs). The previous HOF form (`aggregate(zip_with(...))`) was
  * NOT codegen'd — array HOFs are CodegenFallback — so every probe
  * comparison ran an interpreted fold; the native kernels are one static
  * call inside WholeStageCodegen, and cosine fuses its three sums into a
  * single pass.
  */
object Similarity {

  /** Σ a_i·b_i with a double accumulator in element order. */
  def dot(a: Column, b: Column): Column = graft.expressions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExprs.cosine(a, b)

  /** Brute-force cosine top-k: every probe against the whole corpus.
    * The probe side is small by construction and broadcast, so the scan
    * side never shuffles — at 100 TB this is one pass over the corpus
    * per probe batch. Rank ties break on candidate id (deterministic).
    */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    c.crossJoin(broadcast(p))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("cosine", cosine(col("cv"), col("pv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("probe_id", "cand_id", "rnk", "cosine")
  }

  /** HARD-NEGATIVE MINING for retrieval/embedding training (the
    * DPR/ANCE data step — Karpukhin et al. 2020, Xiong et al. 2021):
    * for each probe, the top-k most-similar candidates whose LABEL
    * DIFFERS from the probe's — the near-miss examples a contrastive
    * loss needs (random negatives are trivially separable; the model
    * only learns from negatives that LOOK like positives). Same-label
    * candidates and the probe itself are excluded BEFORE ranking, so
    * the k slots are all true negatives.
    *
    * This is the exact (brute-force) form — the auditable baseline
    * and the oracle target. At corpus scale the label filter composes
    * unchanged into the bucketed paths (IVF cell-restricted probes
    * [[ivfAssignTopN]] / LSH buckets): filter after the candidate
    * join, before the per-probe top-k. Probes are parameter-small
    * (the training batch being mined), so the broadcast side is the
    * probe set — the [[bruteForceTopK]] shape; the per-probe top-k
    * compiles to WindowGroupLimit (partial per-partition pre-reduce).
    * Determinism: cosine folds in index order (VectorExprs.dot) —
    * bit-identical doubles across engines; ties break by cand_id.
    */
  def hardNegatives(
      corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      col(labelCol).as("cand_label"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      col(labelCol).as("probe_label"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    c.crossJoin(broadcast(p))
      .filter(col("cand_id") =!= col("probe_id") &&
        col("cand_label") =!= col("probe_label"))
      .withColumn("cosine", cosine(col("cv"), col("pv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("probe_id", "probe_label", "cand_id", "cand_label", "rnk",
        "cosine")
  }

  /** MAXIMAL MARGINAL RELEVANCE reranking (Carbonell & Goldstein
    * 1998) — the diversity pass between retrieval and consumption
    * (RAG context assembly, dedup of a result page): a plain top-k
    * returns k paraphrases of the best hit; MMR greedily picks
    *
    *   argmax_c  λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * so each pick is relevant AND far from what is already chosen.
    * λ = 10⁶ is plain top-k by relevance; λ = 0 is pure diversity.
    *
    * Input is the per-probe CANDIDATE pool from a first-stage
    * retriever (parameter-small by contract — m ≈ tens per probe, the
    * [[bruteForceTopK]]/IVF/LSH output), NOT the corpus: the greedy
    * loop is k ROUNDS of candidate-pool-sized joins (each round one
    * co-keyed join to the selected set, one partial-agg max-penalty
    * groupBy, one per-probe WindowGroupLimit pick), so cost is
    * O(k·|probes|·m) rows — the corpus is never touched. The pool is
    * cut once and runs past [[Lineage.Every]] rounds cut mid-run
    * ([[Lineage]] owns the policy).
    *
    * Determinism: scores are exact int64 (λ_micro·rel_micro −
    * (10⁶−λ_micro)·pen_micro; penalties micro-floored cosines whose
    * doubles fold in index order), ties break by cand_id. Round 1 has
    * an empty penalty set and maximizes λ·rel alone (at λ = 0 that
    * degenerates to the id tiebreak — documented, spec-pinned).
    * Probes with fewer than k candidates return them all.
    */
  def mmrRerank(
      cands: DataFrame, k: Int, lambdaMicro: Long,
      probeCol: String = "probe_id", candCol: String = "cand_id",
      relCol: String = "rel_micro", vecCol: String = "cv"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaMicro >= 0L && lambdaMicro <= 1000000L,
      s"lambdaMicro must be in [0, 1000000], got $lambdaMicro")
    // the candidate pool is re-referenced by EVERY round's penalty +
    // score joins, so an un-cut pool subtree (q183: bruteForceTopK's
    // crossJoin + window + embedding join) re-ran once per reference —
    // cut it unconditionally; it is parameter-small by contract
    val base = Lineage.cut(cands.select(col(probeCol).as("probe_id"),
      col(candCol).as("cand_id"), col(relCol).cast("long").as("rel_micro"),
      col(vecCol).as("__v")))
    val wPick = Window.partitionBy("probe_id")
      .orderBy(col("__score").desc, col("cand_id").asc)
    def top1(scored: DataFrame, rnk: Int): DataFrame = scored
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(col("probe_id"), col("cand_id"), col("rel_micro"), col("__v"),
        lit(rnk).as("rnk"))
    var selected = top1(
      base.withColumn("__score", col("rel_micro") * lit(lambdaMicro)), 1)
    var remaining = base.join(selected.select("probe_id", "cand_id"),
      Seq("probe_id", "cand_id"), "left_anti")
    for (r <- 2 to k) {
      val pen = remaining
        .join(selected.select(col("probe_id"), col("__v").as("__sv")),
          Seq("probe_id"))
        .groupBy("probe_id", "cand_id")
        .agg(max(floor(cosine(col("__v"), col("__sv")) * lit(1000000.0))
          .cast("long")).as("__pen"))
      val scored = remaining.join(pen, Seq("probe_id", "cand_id"))
        .withColumn("__score",
          col("rel_micro") * lit(lambdaMicro) -
            lit(1000000L - lambdaMicro) * col("__pen"))
      val picked = top1(scored, r)
      selected = selected.unionAll(picked)
      remaining = remaining.join(picked.select("probe_id", "cand_id"),
        Seq("probe_id", "cand_id"), "left_anti")
      // each round appends joins to BOTH running frames — deep reranks
      // cut both mid-run for bounded plans instead of an analyzer
      // blowup at k ≈ 64
      if (Lineage.due(r, k)) {
        selected = Lineage.cut(selected)
        remaining = Lineage.cut(remaining)
      }
    }
    selected.select("probe_id", "cand_id", "rnk", "rel_micro")
  }

  /** Squared L2 distance, deterministic ordered fold. */
  def l2sq(a: Column, b: Column): Column = graft.expressions.VectorExprs.l2sq(a, b)

  /** IVF cell assignment: nearest centroid (L2, centroid-id tiebreak)
    * per vector — the coarse quantizer of an IVF index. Search = assign
    * the probe, scan only its cell (`nprobe=1`; widen by taking top-n
    * cells).
    *
    * The centroid set is collected to the driver (it is small by
    * definition — the same rows a join would broadcast) and bound by
    * reference into ONE `nearest_code` kernel call per row
    * ([[graft.expressions.QuantExprs]]): a narrow projection at every
    * nlist, zero shuffle, fully codegen, and the same generated code for
    * every centroid set. Ties and oddities follow Spark's struct order
    * over (distance, cid): equal distances go to the lower cid, a NaN
    * distance ranks last, and a vector of the wrong length (null
    * distances) lands in the lowest cid. The previous cross-join +
    * row_number-window formulation hash-shuffled the ENTIRE corpus on
    * the vector id just to reduce k rows back to one — a full 100 TB
    * exchange the plan gate now forbids.
    */
  def ivfAssign(
      vecs: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): DataFrame = {
    // NOTE: collecting the centroid side runs a (tiny) job at
    // plan-build time — the training-loop semantics callers want:
    // centroid values freeze when the assignment is built.
    val cents = collectCentroids(centroids, centIdCol, centVecCol)
    require(cents.nonEmpty, "ivfAssign needs at least one centroid")
    val bank = QuantBank.centroids(cents)
    vecs.select(col(idCol), col(vecCol),
        QuantExprs.nearestCode(col(vecCol), bank).as("__nc"))
      .select(col(idCol), col(vecCol), QuantExprs.codeAt(col("__nc"), 0, bank).as("cell"))
  }

  /** SemDeDup within-cell near-duplicate PAIRS (Abbas et al. 2023 —
    * the pair step of the q235 composition): over an [[ivfAssign]]ed
    * corpus, the (a, b) id pairs (a < b) whose cosine clears
    * `minCosMicro` (micro-floored — the engines' exact comparison
    * convention), joined ONLY within a cell — no all-pairs path
    * exists at any scale.
    *
    * `cellCap` (0 = off, the default — bit-identical to the inline
    * q235 spelling): within-cell pairs are QUADRATIC in cell size, so
    * ONE skewed giant cell (a near-duplicate-saturated crawl cluster,
    * or a too-small nlist) can dominate the whole job. Production
    * SemDeDup caps cluster size for exactly this reason; with
    * `cellCap = c > 0` each cell is split into deterministic id-order
    * sub-cells of at most `c` vectors (row_number over the cell, id
    * order) and pairs are restricted to a sub-cell — bounding
    * per-join-key work at c·(c−1)/2 at the documented cost of
    * MISSING cross-sub-cell duplicates (the same recall trade the
    * capped production variant makes; rows keep their `cell` so the
    * caller sees the split). Cost of the cap: the ranking window adds
    * one cell-keyed exchange+sort ahead of the (cell, sub)-keyed pair
    * join — worth it exactly when one cell's quadratic pair cost
    * dominates, which is when you reach for the cap.
    */
  def semDeDupPairs(
      assigned: DataFrame, minCosMicro: Long, cellCap: Int = 0,
      idCol: String = "vec_id", vecCol: String = "v",
      cellCol: String = "cell"): DataFrame = {
    require(cellCap >= 0, s"cellCap must be >= 0, got $cellCap")
    val withSub =
      if (cellCap == 0) assigned.withColumn("__sub", lit(0))
      else assigned.withColumn("__sub",
        ((row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(cellCol)).orderBy(col(idCol))) - 1)
          / cellCap).cast("int"))
    val a = withSub.select(col(cellCol), col("__sub"),
      col(idCol).as("a_id"), col(vecCol).as("av"))
    val b = withSub.select(col(cellCol), col("__sub"),
      col(idCol).as("b_id"), col(vecCol).as("bv"))
    a.join(b, Seq(cellCol, "__sub"))
      .filter(col("a_id") < col("b_id"))
      .filter(floor(cosine(col("av"), col("bv")) * lit(1000000.0))
        .cast("long") >= lit(minCosMicro))
      .select(col(cellCol), col("a_id"), col("b_id"))
  }

  /** Scale path: random-hyperplane LSH bucket id (sign bits of `planes`
    * dot products packed into a long). Equal buckets → candidate set;
    * probe only its bucket instead of the corpus. Planes are fixed
    * literals so bucketing is reproducible.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      // same strict left-to-right fold as the old aggregate(zip_with(…))
      // form, but codegen'd (HOFs are CodegenFallback; this was the last
      // interpreted fold in the ANN path)
      val d = dot(vec, array(p.map(lit): _*))
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Top-n cell assignment for PROBES (`nprobe > 1` search): each input
    * row fans out to its n nearest cells, in (distance, cid) order.
    * Narrow like [[ivfAssign]] — one top-n `nearest_code` kernel call
    * per row, then the n cells explode. Meant for the probe side
    * (small); corpus rows keep single-cell assignment.
    */
  def ivfAssignTopN(
      vecs: DataFrame, centroids: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): DataFrame = {
    require(nprobe > 0)
    val cents = collectCentroids(centroids, centIdCol, centVecCol)
    require(cents.nonEmpty, "ivfAssignTopN needs at least one centroid")
    vecs
      .select(col(idCol), col(vecCol), explode(QuantExprs.nearestCode(
        col(vecCol), QuantBank.centroids(cents), nprobe)).as("__c"))
      .select(col(idCol), col(vecCol), col("__c.code").as("cell"))
  }

  // ---- Lloyd training ------------------------------------------------
  //
  // Every Lloyd trainer (k-means, flat and residual PQ) re-estimates
  // through ONE fold, the way Spark MLlib's KMeans runs one aggregation
  // per iteration over one input RDD: the training frame is planned once,
  // and each round is one job whose tasks assign their rows with the
  // quantizer kernel (`QuantKernels.nearestK`: the same bank, tie rule and
  // NaN/wrong-length handling as every IVF/PQ operator) and sum, per
  // (codeword, dim), the element count and the exact decimal(18,6) sum
  // ([[graft.expressions.LloydSums]]). The job is one stage while the
  // partials sent to the driver stay small (`LloydSums.DirectBytes`:
  // 16 MB, at most a quarter of spark.driver.maxResultSize); past that
  // the executors merge them per codeword with one shuffle first
  // (`LloydSums.reduce`). The driver applies avg6: per-dim values are
  // projected to decimal(18,6) BEFORE summing, decimal addition is exact,
  // and the mean is one IEEE divide of the rounded sum — bit-identical on
  // any partitioning and in DuckDB, the contract the relational oracles
  // use.

  private val KmeansStepSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("dim", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("c", DoubleType, nullable = true)))

  /** The training frame, planned once: (v, v cast to array<decimal(18,6)>
    * by Spark — its ANSI, NaN and overflow rules) for a flat bank,
    * (v, cell) for a residual one.
    */
  private def lloydScan(vecs: DataFrame, residual: Boolean, vecCol: String): Bridge.PlannedScan =
    new Bridge.PlannedScan(vecs.select(col(vecCol),
      if (residual) col("cell").cast("long") else col(vecCol).cast("array<decimal(18,6)>")))

  /** One re-estimation round under `bank`: one job over `scan`. */
  private def lloydRound(scan: Bridge.PlannedScan, bank: QuantBank): LloydSums = {
    val vf = QuantKernels.vecCode(scan.schema.head.dataType)
    val cast = if (bank.residual) LloydSums.decimalCast() else null
    scan.run(LloydSums.reduce(_, bank, vf, cast))
  }

  private def ansi(vecs: DataFrame): Boolean =
    vecs.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean

  /** The avg6 mean of codeword `c` at `dim` (0-based); null when every
    * element there was null. */
  private def lloydMean(c: LloydSlot, dim: Int, ansi: Boolean): java.lang.Double =
    avg6(c.sum(dim, ansi), c.count(dim))

  /** `slot`'s re-estimated codeword over the dims it saw, or None when it
    * captured nothing (the caller keeps the old one). */
  private def learned(sums: LloydSums, slot: Int, ansi: Boolean): Option[Seq[Double]] =
    sums(slot).map(c => (0 until c.dims).map { d =>
      val m = lloydMean(c, d, ansi)
      require(m != null, s"codeword $slot averages only null elements at dim ${d + 1}")
      m.doubleValue
    })

  /** One Lloyd (k-means) iteration — how IVF centroids are actually
    * learned before [[ivfAssign]] serves queries: assign every vector to
    * its nearest centroid, re-estimate each centroid as the per-cell
    * per-dimension mean. Returned long-form (cell, dim, n, c) as a
    * driver-local frame sorted by (cell, dim), built with one centroid
    * collect and one fold job over `vecs` (see "Lloyd training"). `n`
    * counts every element of the cell's vectors at that dim, null ones
    * included; `c` is null when all of them were null. A cell that
    * captured no element has no rows.
    */
  def kmeansStep(
      vecs: DataFrame, centroids: DataFrame, vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): DataFrame = {
    val cents = collectCentroids(centroids, centIdCol, centVecCol)
    require(cents.nonEmpty, "kmeansStep needs at least one centroid")
    val bank = QuantBank.centroids(cents)
    val sums = lloydRound(lloydScan(vecs, residual = false, vecCol), bank)
    val a = ansi(vecs)
    val rows = for (slot <- 0 until bank.k; c <- sums(slot).toSeq; d <- 0 until c.dims)
      yield Row(bank.ids(slot), d + 1, c.count(d), lloydMean(c, d, a))
    vecs.sparkSession.createDataFrame(rows.asJava, KmeansStepSchema)
  }

  /** Widen a [[kmeansStep]] result back to (cid, cv) centroid vectors —
    * the feedback edge of the training loop. Small output (k rows); the
    * sort-by-dim array rebuild happens per cell, off the hot path.
    */
  def kmeansCentroids(step: DataFrame): DataFrame =
    step.groupBy(col("cell").as("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s("c")).as("cv"))

  /** Total IVF quantization error `Σ_v min_c ‖v − c‖²` — the k-means
    * objective: ONE narrow codegen scan summing each vector's
    * [[ivfAssign]] winning distance. Empty input scores 0 (an empty set
    * is perfectly quantized).
    */
  def ivfQuantError(
      vecs: DataFrame, centroids: DataFrame,
      vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): Double = {
    val cents = collectCentroids(centroids, centIdCol, centVecCol)
    require(cents.nonEmpty, "ivfQuantError needs at least one centroid")
    val summed = vecs
      .select(QuantExprs.distAt(
        QuantExprs.nearestCode(col(vecCol), QuantBank.centroids(cents)), 0).as("qe"))
      .agg(sum(col("qe"))).collect()(0)
    if (summed.isNullAt(0)) 0.0 else summed.getDouble(0)
  }

  /** Train IVF centroids to CONVERGENCE — the production loop upstream
    * of [[ivfAssign]] serving: iterate the [[kmeansStep]] re-estimation,
    * freezing each round's (driver-small) centroids, until the
    * objective's relative improvement drops below `relTol` or `maxIters`
    * is hit. Returns the BEST-objective centroids seen and the full
    * objective history (seed value first), so callers can log the curve
    * and gate on it like the specs do: a final round whose
    * decimal-rounding drift nudges the objective up is recorded in the
    * history but its centroids are not adopted. A cell that captures no
    * vectors in a round keeps its previous centroid (same contract as
    * [[pqTrainStep]]'s empty codewords) — k never silently shrinks.
    *
    * `vecs` is planned once, and each history entry costs ONE fold job
    * over it (see "Lloyd training"). That job yields both the objective of
    * the round's centroids (each cell's non-null winning distances over
    * vectors with at least one element — [[ivfQuantError]] up to
    * summation order) and the re-estimation that becomes the next
    * round's: one seed collect plus maxIters+1 jobs at most, each one
    * stage while its partials fit `LloydSums.DirectBytes`. Nothing
    * iterative lives on the executors.
    */
  def kmeansTrain(
      vecs: DataFrame, seeds: DataFrame,
      maxIters: Int = 10, relTol: Double = 1e-3, vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): (DataFrame, Seq[Double]) = {
    require(maxIters >= 0 && relTol >= 0)
    val spark = vecs.sparkSession
    import spark.implicits._
    var cents = collectCentroids(seeds, centIdCol, centVecCol)
    require(cents.nonEmpty, "kmeansTrain needs at least one seed centroid")
    val scan = lloydScan(vecs, residual = false, vecCol)
    val a = ansi(vecs)
    val hist = scala.collection.mutable.ListBuffer.empty[Double]
    var best = cents
    var bestErr = Double.NaN
    var it = 0
    var stop = false
    while (!stop) {
      val bank = QuantBank.centroids(cents)
      val sums = lloydRound(scan, bank)
      val err = sums.objective
      if (it == 0) { bestErr = err; hist += err }
      else {
        if (err < bestErr) { best = cents; bestErr = err }
        // decimal-rounded means can drift the objective by ~1e-6/dim, so
        // "no meaningful improvement" is the stop, not strict decrease
        stop = hist.last - err <= relTol * math.max(hist.last, Double.MinPositiveValue)
        hist += err
      }
      if (it == maxIters) stop = true
      if (!stop) {
        val next = (0 until bank.k).flatMap(s => learned(sums, s, a).map(bank.ids(s) -> _)).toMap
        // empty cells keep their previous centroid — k never shrinks
        cents = cents.map { case (cid, cv) => cid -> next.getOrElse(cid, cv) }
        it += 1
      }
    }
    (best.toDF(centIdCol, centVecCol), hist.toSeq)
  }

  // ---- scalar (int8) quantization ------------------------------------

  /** Train per-dimension INT8 scalar-quantization bounds (the SQ8
    * compression rung BELOW the PQ family — 4× over float32 with a
    * trivially vectorizable decode; what FAISS calls
    * `ScalarQuantizer(QT_8bit)`): per-dim corpus min/max. Returns
    * (mins, maxs) — driver-small by PARAMETER (2·dim doubles, the
    * centroid/codebook class), and pure SELECTION (no arithmetic), so
    * the bounds are exact floats identical on any engine. One explode +
    * one partial-aggregated groupBy over the corpus; at 100 TB train on
    * a sample exactly as with k-means seeds.
    */
  def sqTrain(vecs: DataFrame, vecCol: String = "v"): (Seq[Double], Seq[Double]) = {
    val mm = vecs
      .select(posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__i")
      .agg(min(col("__x")).as("mn"), max(col("__x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(mm.nonEmpty, "sqTrain over an empty corpus")
    (mm.map(_._2).toSeq, mm.map(_._3).toSeq)
  }

  /** INT8 scalar-quantize a vector column against trained bounds:
    * code_d = clamp₂₅₅ ⌊(x − min_d)/scale_d + ½⌋ with
    * scale_d = (max_d − min_d)/255 (a constant-dim collapses to code
    * 0, reconstructing to min_d). Appends `code` (int64 array),
    * `recon` (the dequantized vector) and `err` (squared L2
    * reconstruction error via the codegen [[l2sq]] kernel — summed in
    * index order, engine-identical doubles).
    *
    * Scale shape: NARROW — the bounds ride as broadcast literals, the
    * encode is one projection (zero shuffles at any corpus size),
    * pushdown-transparent; recon/err exist for auditing and are
    * droppable columns, the stored artifact is (id, code) at 1/4 the
    * vector bytes. Half-up rounding is spelled ⌊x+½⌋ explicitly —
    * `round()`'s half-even vs half-away semantics differ across
    * engines (§5).
    */
  def sqEncode(
      vecs: DataFrame, idCol: String, vecCol: String,
      mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    require(mins.nonEmpty && mins.length == maxs.length,
      s"bad bounds: ${mins.length} mins vs ${maxs.length} maxs")
    require(mins.zip(maxs).forall { case (mn, mx) => mx >= mn },
      "max < min in sq bounds")
    val scales = mins.zip(maxs).map { case (mn, mx) => (mx - mn) / 255.0 }
    val minsL = typedLit(mins)
    val scalesL = typedLit(scales)
    val codes = transform(col(vecCol), (x, i) => {
      val mn = element_at(minsL, i + 1)
      val sc = element_at(scalesL, i + 1)
      when(sc === 0.0, lit(0L)).otherwise(
        least(lit(255L), floor((x - mn) / sc + lit(0.5)).cast("long")))
    })
    val recon = transform(col("code"), (c, i) =>
      element_at(minsL, i + 1) + c.cast("double") * element_at(scalesL, i + 1))
    vecs.select(col(idCol), col(vecCol), codes.as("code"))
      .withColumn("recon", recon)
      .withColumn("err",
        graft.expressions.VectorExprs.l2sq(col(vecCol), col("recon")))
  }

  // ---- product quantization ------------------------------------------
  //
  // Every PQ operator has ONE implementation over a QuantBank, narrow at
  // any nlist: `nearest_code` for encode/train/error, `adc_table` for
  // search. Flat PQ is residual PQ against a zero centroid (`0.0 + r` is
  // r bit for bit), so the flat names run the shared code on a flat bank
  // and the …Residual names on the books plus the IVF centroids, keyed
  // by each row's `cell`.

  /** PQ codebooks from a driver-small seed frame: codeword k of
    * subspace m = the m-th subvector of the k-th seed (sorted by id).
    * Real systems train each subspace with k-means ([[kmeansStep]] runs
    * per subspace unchanged); the seed form keeps the gate queries
    * deterministic, exactly like ivfAssign's seeded centroids.
    * Result shape: codebooks(m)(k) = codeword vector.
    */
  def pqCodebooks(
      seeds: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "v"): Seq[Seq[Seq[Double]]] = {
    val rows = seeds
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).map(_._2)
    require(rows.nonEmpty, "pqCodebooks needs at least one seed vector")
    val d = rows.head.length
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val sub = d / m
    (0 until m).map(mi => rows.map(v => v.slice(mi * sub, (mi + 1) * sub)).toSeq)
  }

  /** The residual bank: `books` relative to the collected centroids. */
  private def residualBank(
      centroids: DataFrame, books: Seq[Seq[Seq[Double]]],
      centIdCol: String, centVecCol: String, op: String): QuantBank = {
    val cents = collectCentroids(centroids, centIdCol, centVecCol)
    require(cents.nonEmpty, s"$op needs at least one centroid")
    QuantBank.codebooks(books, cents)
  }

  /** `df` plus `__nc`: per subspace the nearest codeword of `bank` (a
    * residual bank reads the row's `cell`; an unknown cell gives null).
    */
  private def withCodes(df: DataFrame, bank: QuantBank, vecCol: String): DataFrame =
    df.withColumn("__nc", QuantExprs.nearestCode(col(vecCol), bank,
      cell = if (bank.residual) Some(col("cell")) else None))

  /** One Lloyd iteration over ALL subspaces: one fold job over `vecs`
    * (see "Lloyd training" above). Each row's per-subspace code comes
    * from the `nearest_code` kernel, and every element of the
    * M subspaces counts at (subspace, code, dim); a longer vector's tail
    * is ignored, the kernel's `slice` contract. A residual bank averages
    * the residual `x − c[cell][p]` (computed in double, cast to
    * decimal(18,6) by Spark's rule) and skips rows whose cell is null or
    * not in the centroid set. Codewords that captured nothing keep their
    * value in `bank`.
    */
  private def trainStep(
      vecs: DataFrame, bank: QuantBank, vecCol: String): Seq[Seq[Seq[Double]]] = {
    val sums = lloydRound(lloydScan(vecs, bank.residual, vecCol), bank)
    val a = ansi(vecs)
    bank.books.toSeq.zipWithIndex.map { case (book, mi) =>
      book.toSeq.zipWithIndex.map { case (old, k) =>
        learned(sums, mi * bank.k + k, a).getOrElse(old.toSeq)
      }
    }
  }

  /** One Lloyd iteration over ALL PQ subspaces: ONE fold job over `vecs`
    * ([[trainStep]]). Decimal-exact means, so the trained books are
    * bit-deterministic and the DuckDB oracle replays them.
    */
  def pqTrainStep(
      vecs: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      vecCol: String = "v"): Seq[Seq[Seq[Double]]] =
    trainStep(vecs, QuantBank.codebooks(codebooks), vecCol)

  /** `df`'s id, `keep` columns and `code_0..code_{M-1}` (int). */
  private def encode(df: DataFrame, bank: QuantBank, idCol: String, vecCol: String,
      keep: Seq[String]): DataFrame =
    withCodes(df, bank, vecCol).select(col(idCol) +: keep.map(col) ++:
      (0 until bank.m).map(mi =>
        QuantExprs.codeAt(col("__nc"), mi, bank).cast("int").as(s"code_$mi")): _*)

  /** PQ encoding — the 100 TB ANN memory story: each vector compresses
    * to M small codes (M bytes at K ≤ 256), so a billion-vector index
    * fits where raw floats never would. Per subspace the nearest
    * codeword (distance, then lower k) — one narrow zero-shuffle
    * projection like [[ivfAssign]]; output carries only
    * (id, keep…, code_0..code_{M-1}). `keep` carries index metadata
    * (e.g. the IVF cell) through the same projection.
    */
  def pqEncode(
      vecs: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String = "vec_id", vecCol: String = "v",
      keep: Seq[String] = Nil): DataFrame =
    encode(vecs, QuantBank.codebooks(codebooks), idCol, vecCol, keep)

  /** Top-k by asymmetric distance: `p` holds (probe_id[, cell], __dt)
    * with each probe's M×K `adc_table`; candidates join it on `cell`
    * when present (cell-restricted search), else cross it. The looked-up
    * sum runs in a fixed left-to-right add order — deterministic,
    * oracle-replicable; ties break on candidate id.
    */
  private def adcSearch(codes: DataFrame, p: DataFrame, bank: QuantBank, k: Int,
      idCol: String): DataFrame = {
    val adc = (0 until bank.m).map(mi =>
      element_at(col("__dt"), col(s"code_$mi") + (mi * bank.k + 1))).reduce(_ + _)
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("cand_id").asc)
    val cands = codes.withColumnRenamed(idCol, "cand_id")
    // a corpus vector lives in exactly ONE cell, so the equi-join emits
    // each (probe, candidate) pair at most once — no dedup needed
    (if (p.columns.contains("cell")) cands.join(broadcast(p), "cell")
      else cands.crossJoin(broadcast(p)))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("adc", adc)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("probe_id", "cand_id", "rnk", "adc")
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * probe precomputes its M×K distance table ONCE (narrow, broadcast
    * with the probe), and the corpus scan reduces to M array lookups +
    * (M-1) adds per row — no float vector is ever read at search time.
    * Approximate L2 ranking; ties break on candidate id. The probe
    * side is broadcast, and the `rnk <= k` filter over row_number
    * triggers Spark's PARTIAL WindowGroupLimit below the exchange
    * (PlanSpec-pinned), so each map partition pre-reduces to k rows
    * per probe before the shuffle — the exchange moves at most
    * k·|probes| rows per input partition, never the cross-join.
    */
  def pqAdcTopK(
      codes: DataFrame, probes: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      k: Int, idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val bank = QuantBank.codebooks(codebooks)
    adcSearch(codes, probes.select(col(idCol).as("probe_id"),
      QuantExprs.adcTable(col(vecCol), bank).as("__dt")), bank, k, idCol)
  }

  // ---- residual IVF+PQ ------------------------------------------------

  /** Collect a (small-by-contract) centroid frame to the driver ONCE —
    * the hoist for pipelines that feed the same centroids into several
    * operators. Every operator in this family re-collects its centroid
    * argument at plan-build time (the freeze-the-values training-loop
    * contract), and when that argument is a SOURCE-derived frame each
    * re-collect is a separate tiny job re-scanning the source: the
    * r17-measured q70 gate paid ~8 such jobs (assign, 3 train steps,
    * encode, probe assign, ADC — pure driver/scheduling wall, exec
    * ~4 core-s). Collect here once, re-wrap with [[centroidFrame]], and
    * every downstream plan-build collect resolves against the
    * LocalRelation driver-side — no job, no source re-scan, identical
    * values (this is also the freeze semantics made explicit).
    */
  def collectCentroids(centroids: DataFrame,
      centIdCol: String = "cid", centVecCol: String = "cv"): Seq[(Long, Seq[Double])] =
    centroids
      .select(col(centIdCol).cast("long"), col(centVecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** Re-wrap an already-collected centroid seq as a driver-local frame
    * (LocalRelation): the operators' internal plan-build collects read
    * it without launching a job. Column types are the collected
    * (long, array<double>) — what [[collectCentroids]] casts to.
    */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Long, Seq[Double])],
      centIdCol: String = "cid", centVecCol: String = "cv"): DataFrame = {
    import spark.implicits._
    cents.toDF(centIdCol, centVecCol)
  }

  /** RESIDUAL PQ encoding: vectors (already carrying their [[ivfAssign]]
    * `cell`) encode `v − c[cell]` against the residual books. The codes
    * approximate `v ≈ c[cell] + r[code]`, the layout every production
    * IVF+PQ index uses because residuals cluster far tighter than raw
    * vectors (quantization error drops at the same M×K budget). The
    * kernel computes `‖v − (c[cell] + r)‖² = ‖(v − c) − r‖²` on the
    * ORIGINAL vector, so no residual is ever materialized: one narrow
    * projection at any nlist, zero exchanges. A row whose cell is not in
    * the centroid set keeps its row with null codes.
    */
  def pqEncodeResidual(
      vecsWithCell: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): DataFrame = {
    val bank = residualBank(centroids, codebooks, centIdCol, centVecCol,
      "pqEncodeResidual")
    encode(vecsWithCell, bank, idCol, vecCol, Seq("cell"))
  }

  /** One Lloyd iteration over RESIDUAL PQ codebooks, all subspaces in
    * ONE fold job over `vecsWithCell` ([[trainStep]] on the residual
    * bank): assignment argmins on the ORIGINAL
    * vectors (the [[pqEncodeResidual]] kernel), the re-estimation mean
    * over the per-scalar residual `x − c[cell][p]`. Decimal-exact means
    * as everywhere (per-dim residuals to decimal(18,6) before summing, one
    * IEEE divide), so the trained books are bit-deterministic and the
    * DuckDB oracle replays every iteration. Codewords that captured no
    * vectors keep their previous value; rows whose cell is null or not in
    * the centroid set do not train.
    */
  def pqTrainStepResidual(
      vecsWithCell: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): Seq[Seq[Seq[Double]]] = {
    trainStep(vecsWithCell, residualBank(centroids, codebooks, centIdCol, centVecCol,
      "pqTrainStepResidual"), vecCol)
  }

  /** Total residual quantization error `Σ_v Σ_m min_k ‖(v−c[cell])−r_k‖²`
    * under the given residual books — the Lloyd training objective, one
    * narrow scan over the ORIGINAL vectors (no residual
    * materialization). The training diagnostic: each
    * [[pqTrainStepResidual]] must not increase it (assignment and mean
    * steps each minimize it; the decimal-rounded mean can drift it by at
    * most ~1e-6 per dim). Rows whose cell is not in the centroid set
    * contribute nothing.
    */
  def pqResidualQuantError(
      vecsWithCell: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): Double = {
    val bank = residualBank(centroids, codebooks, centIdCol, centVecCol,
      "pqResidualQuantError")
    val summed = withCodes(vecsWithCell, bank, vecCol)
      .select((0 until bank.m).map(mi => QuantExprs.distAt(col("__nc"), mi))
        .reduce(_ + _).as("qe"))
      .agg(sum(col("qe"))).collect()(0)
    if (summed.isNullAt(0)) 0.0 else summed.getDouble(0)
  }

  /** Seed residual codebooks — the residual-space analogue of
    * [[pqCodebooks]], shared by the q69/q70 gates and their specs so
    * the construction cannot drift between operator, oracle, and spec:
    * each seed vector's codeword is its residual vs its OWN cell's
    * centroid (`seed − c[cell]`), seeds ordered by id, M subspaces.
    */
  def seedResidualBooks(
      seeds: DataFrame, centroids: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): Seq[Seq[Seq[Double]]] = {
    val centMap = collectCentroids(centroids, centIdCol, centVecCol).toMap
    val seedRows = ivfAssign(seeds, centroids, idCol, vecCol, centIdCol, centVecCol)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
      .sortBy(_._1)
    require(seedRows.nonEmpty, "seedResidualBooks needs at least one seed vector")
    val d = seedRows.head._2.length
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val sub = d / m
    (0 until m).map { mi =>
      seedRows.toSeq.map { case (_, v, cell) =>
        val c = centMap(cell)
        (mi * sub until (mi + 1) * sub).map(i => v(i) - c(i)): Seq[Double]
      }
    }
  }

  /** ADC top-k over a RESIDUAL-encoded corpus, restricted to each
    * probe's cells: per (probe, cell) row the M×K `adc_table` is taken
    * against that cell's centroid plus the residual books, so the
    * looked-up sum approximates `‖probe − (c[cell] + r[code])‖²` — true
    * IVF+PQ asymmetric distance. Same broadcast equi-join on `cell` and
    * partial-WindowGroupLimit shape as [[pqAdcTopKInCells]]; the corpus
    * never re-shuffles.
    */
  def pqAdcTopKResidual(
      codes: DataFrame, probes: DataFrame, centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], k: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv"): DataFrame = {
    val bank = residualBank(centroids, codebooks, centIdCol, centVecCol,
      "pqAdcTopKResidual")
    adcSearch(codes, probes.select(col(idCol).as("probe_id"), col("cell"),
      QuantExprs.adcTable(col(vecCol), bank, Some(col("cell"))).as("__dt")),
      bank, k, idCol)
  }

  /** End-to-end trained IVF+PQ index build — the one-call production
    * recipe composing the trained pieces in order: [[kmeansTrain]] the
    * coarse quantizer from `seeds` to convergence, [[ivfAssign]] the
    * corpus, seed ([[seedResidualBooks]]) and Lloyd-train
    * ([[pqTrainStepResidual]]) the residual codebooks, then
    * [[pqEncodeResidual]] the corpus. Returns
    * (centroids, residual books, encoded corpus) — everything search
    * needs: probes go through [[ivfAssignTopN]] + [[pqAdcTopKResidual]].
    * Every stage is the individually-gated operator; this is only the
    * composition. Training costs one seed collect plus one fold job per
    * k-means history entry, and one per PQ iteration over the persisted
    * assignment. Each is one stage while its per-partition partials fit
    * `LloydSums.DirectBytes` (at nlist 1024 and 128 dims, about 4
    * partitions); past that its executors merge the partials per
    * codeword through one shuffle, so the driver receives about one
    * partial (codewords × dims × 25 bytes) whatever the partition count.
    * Centroids and books are driver-small either way; only the final
    * encode scans the whole corpus, so a 100 TB corpus trains on a
    * sample.
    */
  def ivfPqBuild(
      vecs: DataFrame, seeds: DataFrame, bookSeeds: DataFrame, m: Int,
      kmeansIters: Int = 5, pqIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "v",
      centIdCol: String = "cid", centVecCol: String = "cv",
      persistCodes: Boolean = true)
      : (DataFrame, Seq[Seq[Seq[Double]]], DataFrame) = {
    val (cents, _) = kmeansTrain(vecs, seeds, kmeansIters,
      vecCol = vecCol, centIdCol = centIdCol, centVecCol = centVecCol)
    // the assignment is scanned by EVERY training iteration and the
    // final encode — persisted once here so pqIters iterations cost
    // pqIters aggregations over the cached (id, v, cell) rows, not
    // pqIters+1 recomputations of the assignment over `vecs` (spills to
    // disk if the corpus outgrows executor memory; it stays cached for
    // the returned encode's consumer to materialize from)
    val asg = ivfAssign(vecs, cents, idCol, vecCol, centIdCol, centVecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var books = seedResidualBooks(bookSeeds, cents, m,
      idCol, vecCol, centIdCol, centVecCol)
    for (_ <- 0 until pqIters)
      books = pqTrainStepResidual(asg, cents, books, vecCol, centIdCol, centVecCol)
    // Release the assignment cache either way — it is a build-time
    // intermediate, not an output, and repeated builds in one session
    // must not accumulate cached corpora. persistCodes=true (default):
    // the encode materializes through the still-warm assignment and
    // the returned `codes` frame IS the persisted index — the ONE
    // handle a caller holds for the index's lifetime and unpersists to
    // release (an index is built to be probed repeatedly; a throwaway
    // build should pass false). persistCodes=false: nothing stays
    // cached — the lazy encode recomputes the assignment once when the
    // consumer materializes it (the narrow ivfAssign argmin, no
    // shuffle), and the training-loop caching win is unaffected.
    val lazyCodes = pqEncodeResidual(asg, cents, books,
      idCol, vecCol, centIdCol, centVecCol)
    val codes = if (persistCodes) {
      val c = lazyCodes
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    } else lazyCodes
    asg.unpersist(blocking = false)
    (cents, books, codes)
  }

  /** IVF+PQ composed search — the standard billion-vector production
    * layout: IVF bounds the SCAN (only the probe's `nprobe` cells of
    * the corpus are touched), PQ bounds the MEMORY (M code bytes per
    * corpus vector at search time). `codes` is the PQ-encoded corpus
    * carrying its [[ivfAssign]] `cell`; `probes` is one row per
    * (probe, cell) from [[ivfAssignTopN]]. The probe side — with its
    * per-probe M×K ADC distance tables — broadcasts into an equi-join
    * ON `cell`, so the corpus never re-shuffles (same zero-corpus-
    * exchange shape as the plain IVF search), and the `rnk <= k`
    * row_number filter pre-reduces below the one probe-keyed exchange
    * via partial WindowGroupLimit (same as [[pqAdcTopK]]).
    */
  def pqAdcTopKInCells(
      codes: DataFrame, probes: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      k: Int, idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    val bank = QuantBank.codebooks(codebooks)
    adcSearch(codes, probes.select(col(idCol).as("probe_id"), col("cell"),
      QuantExprs.adcTable(col(vecCol), bank).as("__dt")), bank, k, idCol)
  }

  /** Trained PCA basis: per-dim mean, orthonormal components (rows,
    * descending eigenvalue), and the eigenvalues — all driver-small
    * (d + k·d + k doubles, the centroid/codebook class).
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double])

  /** Distributed PCA training — the dimensionality-reduction stage in
    * front of the ANN ladder (PCA→IVF/PQ is the classic recipe for
    * high-d embeddings; OPQ's initialization is exactly this): ONE
    * corpus pass accumulates the d per-dim means and the d(d+1)/2
    * upper-triangle second moments as DECIMAL-EXACT sums (the
    * [[kmeansStep]] pattern — aggregation order can't flip bits, so
    * the covariance, and therefore the whole model, is bit-identical
    * under any partitioning), then the d×d eigenproblem is solved
    * DRIVER-SIDE by cyclic Jacobi — d is a model parameter (64–1024),
    * never data-scale, the same driver-smallness argument as
    * centroids/codebooks. Components are sign-normalized (largest-
    * magnitude entry positive) so the basis is unique. Covariance is
    * the biased (1/n) form. Like k-means/PQ training, run this on a
    * SAMPLE at 100 TB: the moment pass's explode is d² rows per vector
    * — a training-set cost, never a corpus cost; [[pcaProject]] is the
    * narrow corpus-scale path.
    */
  def pcaTrain(
      vecs: DataFrame, k: Int,
      vecCol: String = "v"): PcaModel = {
    import graft.queries.QueryUtil.dec
    require(k > 0, s"k must be positive, got $k")
    val moments = vecs
      .select(posexplode(col(vecCol)).as(Seq("__i", "__xi")),
        col(vecCol).as("__v"))
      .select(col("__i"), col("__xi"),
        posexplode(col("__v")).as(Seq("__j", "__xj")))
      .filter(col("__j") >= col("__i"))
      .groupBy("__i", "__j")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__xi"))).as("si"),
        sum(dec(col("__xi") * col("__xj"))).as("sij"))
      .collect()
    require(moments.nonEmpty, "pcaTrain over an empty corpus")
    val d = moments.map(_.getInt(0)).max + 1
    require(k <= d, s"k=$k exceeds dimensionality d=$d")
    val n = moments.head.getAs[Long]("n") // identical in every group
    val mean = new Array[Double](d)
    val cov = Array.ofDim[Double](d, d)
    moments.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val sij = r.getDecimal(4).doubleValue()
      if (i == j) mean(i) = r.getDecimal(3).doubleValue() / n
      cov(i)(j) = sij / n
    }
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = cov(i)(j) - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    // order by descending eigenvalue (index tiebreak), sign-normalize
    val order = values.zipWithIndex.sortBy { case (v, ix) => (-v, ix) }.map(_._2)
    val comps = order.take(k).map { ix =>
      val c = vectors.map(_(ix))
      val m = c.indices.maxBy(p => (math.abs(c(p)), -p))
      if (c(m) < 0) c.map(x => -x) else c
    }
    PcaModel(mean, comps, order.take(k).map(values(_)))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — fixed
    * sweep order and threshold, so the result is a pure function of the
    * (decimal-exact) covariance. Returns (eigenvalues, column-eigvecs).
    */
  private[operators] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** OPQ-lite dimension ALLOCATION (Ge et al. 2013's parametric
    * initialization, eigenvalue-interleaved): reorder a full-rank PCA
    * basis so that consecutive components land in DIFFERENT PQ
    * subspaces — subspace s gets components s, s+m, s+2m, … in
    * descending-eigenvalue order. The rotation decorrelates
    * cross-subspace structure (each rotated subspace is effectively
    * low-dimensional → the quantizer gets the 1-d error rate), and the
    * interleave balances per-subspace energy (PQ's fixed per-subspace
    * codebook budget is spent worst on unbalanced variance). Feed the
    * result to [[pcaProject]] and PQ-train in the projected space —
    * the composition spec measures the error drop on cross-boundary
    * correlated data.
    */
  def opqOrder(model: PcaModel, m: Int): PcaModel = {
    val d = model.components.length
    require(m > 0 && d % m == 0,
      s"component count $d must divide into $m subspaces")
    val sub = d / m
    val perm = (0 until m).flatMap(si => (0 until sub).map(j => j * m + si))
    PcaModel(model.mean,
      perm.map(model.components).toArray,
      perm.map(model.eigenvalues).toArray)
  }

  /** Project vectors onto a trained PCA basis — the CORPUS-scale path:
    * k codegen'd dot products per row against literal component vectors
    * (one compile per index, the encode/search amortization), centering
    * folded into a precomputed scalar offset per component
    * (proj = ⟨x, c⟩ − ⟨μ, c⟩ — the vector never materializes x−μ).
    * Narrow end to end: zero shuffles at any scale.
    */
  def pcaProject(
      vecs: DataFrame, model: PcaModel,
      vecCol: String = "v", outCol: String = "pv"): DataFrame = {
    import graft.expressions.VectorExprs
    val comps = model.components.map { c =>
      val offset = c.zip(model.mean).map { case (ci, mi) => ci * mi }.sum
      (c, offset)
    }
    vecs.withColumn(outCol, array(comps.map { case (c, off) =>
      VectorExprs.dot(col(vecCol), typedLit(c.toSeq)) - lit(off)
    }: _*))
  }

  /** EMBEDDING-SPACE DRIFT between two corpus snapshots — the
    * embedding-side complement of the token-distribution JSD
    * ([[graft.operators.Drift.vocabularyDrift]]/q187): per group
    * (source, language, label), the COSINE between the two snapshots'
    * centroid vectors, plus both centroid norms and member counts.
    * A drifting encoder, an injected cluster, or a scraper regression
    * moves a group's centroid long before per-pair near-dup rates
    * notice; this is the standing monitor an embedding pipeline runs
    * between snapshot builds (the drift alarm in front of ANN-index
    * rebuilds — a moved centroid invalidates IVF cell assignments).
    *
    * Determinism: per-dimension sums accumulate in decimal(38,12)
    * (the [[pcaTrain]] posture — exact, order-free under any
    * partitioning), means are ONE decimal→double cast + ONE double
    * division per dimension, and the per-group dot/norm folds run
    * LEFT-TO-RIGHT over the dimension-sorted mean arrays (the q34
    * dot-product spelling — a fixed double-add sequence both engines
    * replay bit-for-bit); cosine is one expression over those folds,
    * micro-floored; a zero centroid on either side reports 0 by
    * contract.
    *
    * A group present in only ONE snapshot (appeared or vanished —
    * itself a strong drift signal) is REPORTED, not dropped: the
    * centroid tables meet in a FULL OUTER join, the one-sided group's
    * counterpart count reads 0, its counterpart norm 0, and the cosine
    * 0 by the zero-centroid contract. Ragged vector lengths within a
    * group take the MAX per-dim member count as the group's n
    * (deterministic, unlike first()).
    *
    * Shape: per snapshot ONE posexplode + partial-aggregated
    * groupBy(group, dim) — the exchange carries |groups|·d rows per
    * partition after map-side combine, never the vector corpus — then
    * a (group, dim)-keyed join of two parameter-small centroid tables
    * and one |groups|-row rollup. Zero corpus-side joins.
    */
  def centroidDrift(
      a: DataFrame, b: DataFrame,
      groupCol: String, vecCol: String): DataFrame = {
    def cent(df: DataFrame, side: String) = df
      .select(col(groupCol).as("g"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("g", "d")
      .agg(
        sum(col("x").cast("decimal(38,12)")).as(s"__s_$side"),
        count(lit(1)).as(s"__n_$side"))
    // full outer: one-sided groups surface with 0-count/0-norm
    // counterparts; their missing side's mean coalesces to 0.0 so the
    // folds stay null-free and the zero-centroid contract fires
    val j = cent(a, "a").join(cent(b, "b"), Seq("g", "d"), "full_outer")
      .select(col("g"), col("d"),
        coalesce(col("__s_a").cast("double") / col("__n_a").cast("double"),
          lit(0.0)).as("ma"),
        coalesce(col("__s_b").cast("double") / col("__n_b").cast("double"),
          lit(0.0)).as("mb"),
        col("__n_a"), col("__n_b"))
    val folded = j.groupBy("g")
      .agg(
        sort_array(collect_list(struct(col("d"), col("ma"), col("mb"))))
          .as("__v"),
        coalesce(max(col("__n_a")), lit(0L)).as("n_a"),
        coalesce(max(col("__n_b")), lit(0L)).as("n_b"))
      // fixed left-to-right double folds over the d-sorted means —
      // one aggregate HOF each, referenced once (§8 staging rule)
      .withColumn("__dot", aggregate(col("__v"), lit(0.0),
        (acc, e) => acc + e.getField("ma") * e.getField("mb")))
      .withColumn("__na", aggregate(col("__v"), lit(0.0),
        (acc, e) => acc + e.getField("ma") * e.getField("ma")))
      .withColumn("__nb", aggregate(col("__v"), lit(0.0),
        (acc, e) => acc + e.getField("mb") * e.getField("mb")))
    folded.select(
      col("g").as(groupCol), col("n_a"), col("n_b"),
      floor(sqrt(col("__na")) * lit(1000000.0)).cast("long")
        .as("norm_a_micro"),
      floor(sqrt(col("__nb")) * lit(1000000.0)).cast("long")
        .as("norm_b_micro"),
      when(col("__na") === 0.0 || col("__nb") === 0.0, 0L)
        .otherwise(floor(col("__dot") /
          (sqrt(col("__na")) * sqrt(col("__nb"))) * lit(1000000.0))
          .cast("long")).as("centroid_cos_micro"))
  }
}
