package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixing: pick a per-stratum
  * fraction of rows (domain/language mixing weights) with a hash gate
  * instead of rand(), so the sample is reproducible run-to-run, stable
  * under repartitioning, and identically computable by any engine — the
  * properties a 100 TB data pipeline needs (rand() resamples on every
  * retry/recompute of a task, silently changing the corpus).
  *
  * Execution shape: a narrow filter — no shuffle, no state; at scale it
  * streams through the scan at I/O speed and composes with predicate
  * pushdown on the stratum column.
  */
object Sampling {

  /** Multiplicative-congruential hash → uniform bucket in [0, buckets).
    * The mod-p reduction BETWEEN the multiply and the bucket mod is
    * load-bearing: without it, `(id * A) mod buckets` collapses to
    * `(id mod buckets) * A mod buckets` — a fixed bijection of the id's
    * low residue, so structured ids (multiples of 1000, fixed low
    * digits) sample all-or-nothing. `(id mod p) * A mod p` is a full
    * bijection of [0, p) (gcd(A, p) = 1), whose low residues mix all of
    * the id's bits. Max intermediate (p-1)·A ≈ 2.65e18 < 2^63; exact
    * integer arithmetic in any engine.
    */
  val HashPrime = 1000000007L
  val HashMult  = 2654435761L

  def hashBucket(id: Column, buckets: Int): Column =
    pmod(pmod(pmod(id, lit(HashPrime)) * lit(HashMult), lit(HashPrime)),
      lit(buckets.toLong))

  /** The per-stratum keep decision as a Column — the ONE definition of
    * the gate, shared by [[stratified]] and pipelines that stage it as
    * a flag (q73's funnel): `hashBucket(id) < rate(stratum)·buckets`,
    * unlisted strata always false.
    */
  def stratifiedFlag(
      stratum: Column, id: Column,
      rates: Map[String, Double], buckets: Int = 1000): Column = {
    require(rates.values.forall(r => r >= 0 && r <= 1), s"rates must be in [0,1]: $rates")
    val threshold: Column = rates.foldLeft(lit(-1L)) { case (acc, (s, r)) =>
      when(stratum === s, lit(math.round(r * buckets))).otherwise(acc)
    }
    hashBucket(id, buckets) < threshold
  }

  /** Keep a deterministic `rates(stratum)` fraction of each stratum
    * (unlisted strata are dropped). Rates are in [0,1], resolved at
    * 1/`buckets` granularity.
    */
  def stratified(
      df: DataFrame, stratumCol: String, idCol: String,
      rates: Map[String, Double], buckets: Int = 1000): DataFrame =
    df.filter(stratifiedFlag(col(stratumCol), col(idCol), rates, buckets))

  /** Second mixing multiplier for [[shardShuffle]] — a different
    * constant than [[HashMult]] so the shuffle ORDER decorrelates from
    * the [[stratified]] sampling gate (both start from the same first
    * mixing round). 48271 is the MINSTD generator multiplier;
    * (p−1)·48271 ≈ 4.8e13 ≪ 2^63, exact in any engine.
    */
  val OrderMult = 48271L

  /** Second mixing multiplier for [[graft.operators.Dedup
    * .leakFreeSplit]]'s cluster-hash draw — distinct from BOTH
    * [[HashMult]] (so the split decorrelates from the [[stratified]]
    * sampling gate: with one shared round, every sampled singleton
    * cluster would land on the same side) and [[OrderMult]] (so it
    * also decorrelates from [[shardShuffle]]'s shard assignment).
    * 69621 is the classic MINSTD-variant multiplier;
    * (p−1)·69621 ≈ 7.0e13 ≪ 2^63, exact in any engine.
    */
  val SplitMult = 69621L

  /** Fourth mixing multiplier, for [[weightedSampleWor]]'s exponential
    * race — distinct from [[HashMult]]/[[OrderMult]]/[[SplitMult]] so
    * the weighted draw decorrelates from the sampling gate, the shard
    * shuffle, and the split. 16807 is the original MINSTD multiplier;
    * (p−1)·16807 ≈ 1.7e13 ≪ 2^63, exact in any engine.
    */
  val WorMult = 16807L

  /** Per-stratum WEIGHTED sampling WITHOUT replacement — exactly
    * min(k, n) distinct rows per stratum with inclusion biased by
    * weight: the Efraimidis-Spirakis 2006 exponential race (key
    * u^(1/w), keep the top k — equivalently rank by ln(u)/w), the
    * exactly-k complement of [[ppsSystematic]]'s with-multiplicity
    * draw (PPS replays an item ⌈w·k/W⌉ times; a training-data draw
    * that must not repeat rows wants THIS form). u comes from a
    * dedicated MCG mixing round of the id ([[WorMult]] — decorrelated
    * from the gate/shuffle/split rounds), so the draw is deterministic
    * across engines, retries, and partitionings — no rand().
    * Determinism of the KEY: ln(u) is micro-quantized FIRST (libm's
    * last ulp is engine-variant; the floor makes both engines agree
    * except within one ulp of a boundary — the q110 DSIR log
    * precedent), and only THEN divided by the weight — one correctly-
    * rounded IEEE divide of an exact integer by the weight value,
    * bit-identical in any engine. Quantizing AFTER the division would
    * shrink key resolution proportionally to w and collapse heavy
    * strata onto the id tiebreak (caught in review — regression
    * spec-pinned). Weights are real-valued (ES is defined on
    * positive reals — fractional weights are in-contract, NOT
    * truncated); non-positive weights can never win a race leg and
    * are dropped. Ties broken by id. Output keeps the caller's
    * columns unchanged.
    *
    * Shape: one narrow key projection + one per-stratum top-k that
    * compiles to WindowGroupLimit (partial per-partition top-k before
    * the stratum exchange — the q83 pre-reduce); the full stratum
    * never funnels through one task.
    */
  def weightedSampleWor(
      df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val m1 = pmod(pmod(col(idCol), lit(HashPrime)) * lit(HashMult),
      lit(HashPrime))
    val m2 = pmod(m1 * lit(WorMult), lit(HashPrime))
    val u = (m2 + lit(1L)).cast("double") / lit((HashPrime + 1L).toDouble)
    val lnMicro = floor(log(u) * lit(1000000.0)).cast("long")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__k").desc, col(idCol).asc)
    val cols = df.columns.map(col)
    df.withColumn("__w", col(weightCol).cast("double"))
      .filter(col("__w") > 0.0)
      .withColumn("__k", lnMicro.cast("double") / col("__w"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(cols: _*)
  }

  /** Deterministic global training-order SHUFFLE — the last step of a
    * pretraining pipeline (a model must not see the corpus in crawl
    * order): every row gets a reproducible pseudo-random position
    * (`shard`, `shuffle_key`) from two multiplicative-congruential
    * mixing rounds of its id. Write `.repartition(col("shard"))
    * .sortWithinPartitions("shuffle_key")` partitioned by shard and the
    * training run reads shards in order — a fully shuffled sequence,
    * bit-identical across retries, repartitioning, and engines (rand()
    * resamples per task retry and silently reorders the corpus). ONE
    * shuffle at any scale; distinct ids below [[HashPrime]] get
    * distinct keys (both rounds are bijections of [0, p)), so the
    * order admits no engine-dependent ties.
    */
  def shardShuffle(df: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val m1 = pmod(pmod(col(idCol), lit(HashPrime)) * lit(HashMult), lit(HashPrime))
    val m2 = pmod(m1 * lit(OrderMult), lit(HashPrime))
    df.withColumn("shuffle_key", m2)
      .withColumn("shard", pmod(col("shuffle_key"), lit(shards.toLong)).cast("int"))
  }

  /** TEMPERATURE-scaled corpus mixing — the standard multilingual /
    * multi-domain rebalancing step (sampling probability ∝ n_s^α pulls
    * head strata down and tail strata up; α = 1 is natural proportions,
    * α → 0 is uniform): per-stratum target counts t_s =
    * ⌊budget · n_s^α / Σ n^α⌋ from DRIVER-collected stratum counts
    * (driver-small — the centroid-stats pattern), then each stratum
    * keeps its t_s members of smallest mixed hash — the [[stratified]]
    * MCG bijection, so the draw is deterministic across engines,
    * retries, and repartitioning, and nested budgets are honored
    * (a stratum's 100-doc draw is a superset of its 50-doc draw).
    *
    * ONE exchange: the per-stratum rank window keys on the stratum.
    * Strata with t_s = 0 drop entirely; rows with a NULL stratum are
    * excluded from the mix (explicit filter — see the inline note).
    *
    * Determinism contract (§5): the default α = 0.5 computes weights
    * with `sqrt` — correctly rounded in IEEE 754, so any engine
    * reproduces t_s exactly. Other α use `pow`, whose last ulp is
    * libm-variant: fine in production, but a cross-engine oracle
    * should stick to 0.5. The weight total folds in stratum-ascending
    * order — replays must sum in the same order.
    */
  /** Above this stratum count the inlined target CASE chain hits the
    * codegen-size wall; the targets become a broadcast (stratum,
    * target) frame instead.
    */
  private val InlineStratumLimit = 256

  def temperatureMix(
      df: DataFrame, stratumCol: String, idCol: String,
      budget: Long, alpha: Double = 0.5,
      inlineLimit: Int = InlineStratumLimit): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    // the driver-side target table keys strata by string value and the
    // weight fold orders by it — refuse other types up front rather
    // than failing opaquely in the collect
    require(df.schema(stratumCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"temperatureMix needs a string stratum column; " +
        s"'$stratumCol' is ${df.schema(stratumCol).dataType.simpleString}")
    // NULL strata are excluded from the mix (documented drop): a null
    // key would NPE the driver-side string sort, and both the CASE
    // chain and the broadcast equi-join below would silently drop the
    // rows anyway — make the drop explicit and uniform across paths.
    val clean = df.filter(col(stratumCol).isNotNull)
    val targets =
      strataTargets(clean, stratumCol, count(lit(1)), budget, alpha)
    val ranked = clean.withColumn("__rn",
      row_number().over(mixWindow(stratumCol, idCol)))
    filterByTarget(ranked, stratumCol, col("__rn"), targets, inlineLimit)
  }

  /** TOKEN-budget temperature mixing — [[temperatureMix]] with the
    * budget, the stratum masses, and the per-stratum cutoff all in
    * units of `costCol` (token counts in a training mix; any
    * non-negative integral cost works): t_s = ⌊budget · m_s^α / Σ m^α⌋
    * where m_s is the stratum's total cost, and each stratum keeps its
    * docs in the deterministic MCG-hash order while the INCLUSIVE
    * running cost stays ≤ t_s (so a stratum may undershoot by up to
    * one doc, never overshoot). This is the budget real mixes are
    * specified in — a doc-count target over variable-length docs can
    * miss a token target by the length skew of whichever docs hash
    * low.
    *
    * Same plan shape as [[temperatureMix]]: ONE exchange (the stratum
    * window — the running sum rides the same sort as the rank), inline
    * CASE targets below `inlineLimit`, broadcast target join above.
    * Rows with a NULL stratum or NULL cost are excluded (documented
    * drop); the cost column must be an integral type and negative
    * costs are refused driver-side (they would make the running sum
    * non-monotone and the cutoff meaningless). A zero-mass stratum
    * (target 0) drops entirely, zero-cost rows included — the
    * explicit target > 0 clause in the cutoff.
    */
  def temperatureMixTokens(
      df: DataFrame, stratumCol: String, idCol: String, costCol: String,
      budget: Long, alpha: Double = 0.5,
      inlineLimit: Int = InlineStratumLimit): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(df.schema(stratumCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"temperatureMixTokens needs a string stratum column; " +
        s"'$stratumCol' is ${df.schema(stratumCol).dataType.simpleString}")
    // integral only: a string cost would cast('long') to NULL (skipped
    // by the window sum but kept by the pre-cast null filter —
    // position-dependent free rides) and a NaN double casts to 0;
    // refuse both classes up front instead
    require(Seq("tinyint", "smallint", "int", "bigint")
        .contains(df.schema(costCol).dataType.simpleString),
      s"temperatureMixTokens needs an integral cost column; " +
        s"'$costCol' is ${df.schema(costCol).dataType.simpleString}")
    val clean = df.filter(col(stratumCol).isNotNull)
      .filter(col(costCol).isNotNull)
    val targets = strataTargets(clean, stratumCol,
      when(min(col(costCol).cast("long")) < 0, lit(-1L))
        .otherwise(sum(col(costCol).cast("long"))),
      budget, alpha)
    val cum = clean.withColumn("__ct",
      sum(col(costCol).cast("long")).over(mixWindow(stratumCol, idCol)))
    filterByTarget(cum, stratumCol, col("__ct"), targets, inlineLimit)
  }

  /** Driver-side per-stratum budget targets shared by the mix family:
    * collect each stratum's mass (doc count or token cost — always
    * driver-small, one row per stratum), weight by mass^α with the
    * stratum-ascending left fold both engines replay, and floor the
    * budget split. A negative collected mass means the caller's
    * aggregate detected invalid input (negative costs) — refused here
    * so the error surfaces before any shuffle.
    */
  private def strataTargets(clean: DataFrame, stratumCol: String,
      mass: Column, budget: Long, alpha: Double): Seq[(String, Long)] = {
    val counts = clean.groupBy(col(stratumCol)).agg(mass.as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    require(counts.nonEmpty, "temperature mix over an empty corpus")
    require(counts.forall(_._2 >= 0),
      s"negative stratum mass (negative costs?): " +
        counts.filter(_._2 < 0).map(_._1).mkString(", "))
    val ws = counts.map { case (st, n) =>
      st -> (if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha))
    }
    val wTot = ws.foldLeft(0.0)(_ + _._2) // stratum-ascending left fold
    ws.map { case (st, w) =>
      st -> math.floor(budget.toDouble * w / wTot).toLong
    }.toSeq
  }

  /** The mix family's ONE exchange: per-stratum window ordered by the
    * full-bijection rank hash (no bucket mod — finest-grained
    * deterministic order, ties impossible for distinct ids below
    * HashPrime), id-ascending tiebreak.
    */
  private def mixWindow(stratumCol: String, idCol: String) = {
    val rh = pmod(pmod(col(idCol), lit(HashPrime)) * lit(HashMult), lit(HashPrime))
    Window.partitionBy(col(stratumCol)).orderBy(rh.asc, col(idCol).asc)
  }

  /** Keep rows whose per-stratum measure (rank or running cost) stays
    * within the stratum's target: inline CASE chain below
    * `inlineLimit`, broadcast (stratum, target) join above — the plan
    * gains no exchange either way. A zero-target stratum drops
    * ENTIRELY on both measures: ranks (≥ 1) exclude it naturally, but
    * a zero-COST row's inclusive running cost can be 0 ≤ 0, so the
    * explicit target > 0 clause is what keeps a zero-mass stratum from
    * flooding the mix with free rows the temperature formula assigned
    * no share.
    */
  private def filterByTarget(measured: DataFrame, stratumCol: String,
      measure: Column, targets: Seq[(String, Long)],
      inlineLimit: Int): DataFrame = {
    if (targets.length <= inlineLimit) {
      val tCol = targets.foldLeft(lit(0L)) { case (acc, (st, t)) =>
        when(col(stratumCol) === st, lit(t)).otherwise(acc)
      }
      measured.filter(measure <= tCol && tCol > 0).drop("__rn", "__ct")
    } else {
      val spark = measured.sparkSession
      import spark.implicits._
      val tdf = targets.toDF(stratumCol, "__t")
      measured.join(broadcast(tdf), Seq(stratumCol))
        .filter(measure <= col("__t") && col("__t") > 0)
        .drop("__rn", "__ct", "__t")
    }
  }

  /** DSIR-style IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the hashed-ngram
    * variant): score every raw document by how target-like its hashed
    * n-gram feature distribution is,
    *
    *   log w(doc) = Σ_b cnt_b(doc) · ln λ_b,
    *   λ_b = p̂_target(b) / p̂_raw(b)   (add-one smoothed)
    *
    * over `buckets` feature buckets (word unigrams + bigrams, the
    * public rolling hash mod `buckets`). High-weight docs are the ones
    * importance resampling keeps when fitting a raw crawl to a curated
    * target (Wikipedia-like, textbook-like, …).
    *
    * Determinism contract (the gate pattern): λ_b's numerator and
    * denominator are EXACT int64 products — (t_b+1)·(R+K) and
    * (r_b+1)·(T+K) — so each bucket's ln argument is one IEEE divide
    * of exactly-converted integers, micro-floored ONCE per bucket
    * (`buckets` values total, not per doc); per-doc weights are then
    * exact integer dot products. The only cross-engine wobble left is
    * ln's final ulp — floor(1e6·ln) flips only if 1e6·ln lands within
    * ~1 ulp of an integer, vanishing at `buckets` values per corpus.
    * Counts lift to decimal beyond ~4·10⁹ feature instances per bucket
    * times corpus totals (int64 product bound), documented not stubbed.
    *
    * Shape: one (id, bucket) groupBy of the exploded feature stream
    * (≤ `buckets` rows per doc survive the map-side partial agg), the
    * two bucket histograms (`buckets` rows each — driver-small by
    * PARAMETER, like centroids/codebooks), a broadcast join of the
    * λ table, one per-doc agg. The corpus text itself is read once and
    * never shuffled — only (id, bucket, cnt) rows move.
    */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 64): DataFrame = {
    import graft.expressions.StringExprs.{ngramHashes, tokenHashes}
    import graft.functions.TextFunctions.{cleanAscii, wsTokens}
    val toks = wsTokens(lower(cleanAscii(col(textCol))))
    val feats = df
      .select(col(idCol).as("id"), isTarget.as("__tgt"),
        explode(concat(tokenHashes(toks), ngramHashes(toks, 2))).as("fh"))
      .select(col("id"), col("__tgt"), pmod(col("fh"), lit(buckets.toLong)).as("b"))
    val perDoc = feats.groupBy("id", "b").agg(count(lit(1)).as("cnt"))
    def hist(f: DataFrame) = f.groupBy("b").agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    val allBuckets = spark.range(buckets).select(col("id").as("b"))
    val tb = hist(feats.filter(col("__tgt")))
      .withColumnRenamed("n", "tn")
    val rb = hist(feats).withColumnRenamed("n", "rn")
    val lam = allBuckets
      .join(tb, Seq("b"), "left").join(rb, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("tn"), lit(0L)).as("tn"),
        coalesce(col("rn"), lit(0L)).as("rn"))
    val withTotals = lam.crossJoin(broadcast(
      lam.agg(sum("tn").as("T"), sum("rn").as("R"))))
    val k = lit(buckets.toLong)
    val llr = withTotals.select(col("b"),
      floor(log(
        ((col("tn") + 1L) * (col("R") + k)).cast("double") /
          ((col("rn") + 1L) * (col("T") + k)).cast("double"))
        * lit(1000000.0)).cast("long").as("llr_micro"))
    perDoc.join(broadcast(llr), Seq("b"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("llr_micro")).as("logw_micro"))
  }

  /** EPOCH-CAPPED token-budget WATERFILL — the mixing-layer allocation
    * problem upstream of [[temperatureMix]]'s draw: given per-source
    * token counts n_i and per-source REPEAT CAPS c_i (max epochs, micro
    * fixed-point — data quality decides how often a source may be
    * re-seen before it hurts), spend a total budget B by raising one
    * common water level t (epochs) until Σ n_i·min(t, c_i) meets B:
    * every source repeats at the same rate until its own cap stops it.
    * This is the standard repeat-capped allocation a pretraining mix
    * computes before any sampling happens.
    *
    * The level is found EXACTLY in one window pass over the strata
    * sorted by cap: with cappedBefore_j = Σ_{c_i < seg} c_i·n_i
    * (decimal-exact — the product overflows int64 at real token
    * volumes) and remTok_j = Σ_{i≥j} n_i, the segment candidate is
    * t_j = (B·10⁶ − cappedBefore_j) DIV remTok_j (exact integral
    * divide), valid iff c_{j-1} ≤ t_j < c_j; if no segment holds, the
    * budget covers every cap and t = max c_i. All integer/decimal
    * arithmetic — bit-deterministic, engine-replayable. Returns
    * (stratum, n_tokens, cap_micro, epochs_micro = min(t, c_i),
    * alloc_tokens = n_i·epochs_micro DIV 10⁶); Σ alloc ≤ B, short of
    * it by at most remTok (the level's integer floor) + one DIV floor
    * per stratum. Non-positive token counts or caps can receive no
    * allocation and are dropped.
    *
    * Shape: the strata frame is parameter-small (sources, not rows),
    * so the single-partition window and the broadcast of the 1-row
    * level are driver-small by PARAMETER — the kmeans-centroid rule.
    */
  def epochWaterfill(
      strata: DataFrame, stratumCol: String, tokensCol: String,
      capMicroCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0L, s"budget must be >= 0, got $budgetTokens")
    // no upper budget bound: B·10⁶ lives only in BigDecimal /
    // DECIMAL(38,0) arithmetic — a 15T-token budget is in-contract
    val w = Window.orderBy(col("__c").asc, col(stratumCol).asc)
    val bMicro = java.math.BigDecimal.valueOf(budgetTokens)
      .multiply(java.math.BigDecimal.valueOf(1000000L))
    val base = strata.select(col(stratumCol),
        col(tokensCol).cast("long").as("__n"),
        col(capMicroCol).cast("long").as("__c"))
      .filter(col("__n") > 0L && col("__c") > 0L)
    val cand = base
      .withColumn("__cm", col("__c").cast("decimal(38,0)") * col("__n"))
      .withColumn("__cappedBefore", coalesce(
        sum(col("__cm")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0).cast("decimal(38,0)")))
      .withColumn("__remTok", sum(col("__n")).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__t",
        expr(s"CAST((CAST('$bMicro' AS DECIMAL(38,0)) - __cappedBefore)" +
          " DIV __remTok AS BIGINT)"))
      .withColumn("__lo", coalesce(lag(col("__c"), 1).over(w), lit(0L)))
      .withColumn("__ok",
        col("__lo") <= col("__t") && col("__t") < col("__c"))
    val lvl = cand.agg(
        min(when(col("__ok"), col("__t"))).as("__tv"),
        max(col("__c")).as("__cmax"))
      .select(coalesce(col("__tv"), col("__cmax")).as("__lvl"))
    base.crossJoin(broadcast(lvl))
      .select(col(stratumCol),
        col("__n").as("n_tokens"), col("__c").as("cap_micro"),
        least(col("__c"), col("__lvl")).as("epochs_micro"),
        expr("CAST(CAST(__n AS DECIMAL(38,0))" +
          " * least(__c, __lvl) DIV 1000000 AS BIGINT)").as("alloc_tokens"))
  }

  /** Fifth mixing multiplier, for [[materializeMix]]'s fractional-epoch
    * order (L'Ecuyer 1988's 40692 MRG component — decorrelated from
    * every other mixing round here). */
  val MixMult = 40692L

  /** MATERIALIZE a waterfill allocation into the actual TRAINING LIST
    * — the step that turns [[epochWaterfill]]'s per-source token
    * allocation into (stratum, id, epoch) rows a run can read: each
    * doc of a source repeats ⌊epochs⌋ times (the full epochs), and the
    * FRACTIONAL epoch is filled by a deterministic prefix of the
    * source's docs in MCG-hash order — docs whose exclusive cumulative
    * token count is below the remainder get one extra pass, so the
    * materialized token mass per source lands within one doc of
    * alloc_tokens, every engine/retry/partitioning agreeing on WHICH
    * docs fill the fraction (the [[shardShuffle]] determinism
    * argument; ties broken by id).
    *
    * Scale shape: the allocation frame is parameter-small (sources) →
    * broadcast join; the per-source running token sum — the one
    * inherently sequential piece — is the classic TWO-PHASE
    * distributed prefix sum: docs land in `blocks` hash-order blocks,
    * block totals partial-aggregate (one small exchange), block
    * OFFSETS are a window over the ≤`blocks`-row per-source frame, and
    * the doc-level cumsum windows only within (source, block) — its
    * partitions are corpus/blocks-bounded, so no source ever funnels
    * through one task (the skew trap a naive per-source window is).
    * The epoch fan-out is one generator (explode of a bounded range —
    * caps are small by policy).
    */
  def materializeMix(
      docs: DataFrame, stratumCol: String, idCol: String,
      tokensCol: String, alloc: DataFrame, blocks: Int = 1024): DataFrame = {
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    val blockWidth = (HashPrime + blocks - 1) / blocks
    val m1 = pmod(pmod(col(idCol), lit(HashPrime)) * lit(HashMult),
      lit(HashPrime))
    val key = pmod(m1 * lit(MixMult), lit(HashPrime))
    val d = docs
      .join(broadcast(alloc.select(col(stratumCol),
        expr("epochs_micro DIV 1000000").as("__f"),
        col("alloc_tokens"), col("n_tokens").as("__srcTok"))), stratumCol)
      .withColumn("__rem",
        col("alloc_tokens") - col("__f") * col("__srcTok"))
      .withColumn("__k", key)
      // integral DIV, not double division: the double spelling is
      // numerically safe at today's HashPrime but the repo's
      // no-floats-in-decisions rule keys every deterministic
      // assignment in exact integer arithmetic
      .withColumn("__blk", expr(s"__k DIV $blockWidth"))
    val blockTotals = d.groupBy(col(stratumCol), col("__blk"))
      .agg(sum(col(tokensCol).cast("long")).as("__bt"))
      .withColumn("__boff", coalesce(
        sum(col("__bt")).over(
          Window.partitionBy(col(stratumCol)).orderBy(col("__blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__bt")
    val wDoc = Window.partitionBy(col(stratumCol), col("__blk"))
      .orderBy(col("__k"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(blockTotals, Seq(stratumCol, "__blk"))
      .withColumn("__cum",
        col("__boff") + coalesce(sum(col(tokensCol).cast("long")).over(wDoc),
          lit(0L)))
      .withColumn("__e",
        col("__f") + when(col("__cum") < col("__rem"), 1L).otherwise(0L))
      .filter(col("__e") > 0L)
      .select(col(stratumCol), col(idCol),
        explode(sequence(lit(1L), col("__e"))).as("epoch"))
  }

  /** Per-stratum SYSTEMATIC PPS sampling (probability proportional to
    * size, Madow 1949) — the weighted draw the mixing layer needs when
    * items differ in cost (tokens, bytes) and inclusion probability
    * should follow weight exactly: order the stratum by the MCG hash
    * (the engine-replayable stand-in for a random permutation), lay
    * the items' integer weights end to end, and select at every k-th
    * of the total mass — item i is drawn
    * ⌈(C_i+w_i)·k/W⌉ − ⌈C_i·k/W⌉ times (C_i = exclusive prefix sum),
    * so E[n_draws] = k·w_i/W EXACTLY, heavy items (w_i > W/k) draw
    * multiple times (honest PPS — a with-replacement-style multiplicity,
    * reported in `n_draws`), and the whole draw is int64 ceil-division
    * — no floats, engine-identical, retry-stable. Returns the selected
    * rows plus (weight, n_draws).
    *
    * Shape: one window exchange on the stratum key (two window steps
    * over the SAME sort — the prefix sum reuses the total's exchange),
    * one narrow filter. Stratum size bounds the window partition, the
    * operator's documented scale posture (the q89/q97 mix family's).
    */
  def ppsSystematic(
      df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = mixWindow(stratumCol, idCol)
    val wAll = Window.partitionBy(col(stratumCol))
    df.withColumn("__w", col(weightCol).cast("long"))
      // non-positive weights carry no selection interval and are
      // DROPPED (zero mass can't be drawn; a negative weight would
      // corrupt the running prefix, so it is excluded rather than
      // absorbed — callers wanting loud failure validate upstream)
      .filter(col("__w") > 0L)
      .withColumn("__c", coalesce(
        sum(col("__w")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      // overflow gate: the largest intermediate is __tot·k + __tot − 1
      // (at __c + __w = __tot), and the non-ANSI int64 multiply WRAPS
      // silently past 2^63 — token/byte weights reach there at
      // W ≈ 1e14 with k ≈ 1e5. __tot is per-stratum, so the bound is
      // checkable exactly where the product happens: raise on the row
      // rather than return wrong draws. Strata below
      // Long.MaxValue/(k+1) total mass (≈ 9.2e18/(k+1)) replay the
      // unguarded arithmetic unchanged.
      .withColumn("n_draws",
        expr(s"CASE WHEN __tot > ${Long.MaxValue / (k + 1L)}L THEN" +
          " CAST(raise_error(CONCAT('ppsSystematic: stratum total weight '," +
          s" __tot, ' times k = $k overflows int64 — reduce k or split" +
          " the stratum')) AS BIGINT)" +
          s" ELSE ((__c + __w) * $k + __tot - 1) DIV __tot" +
          s" - (__c * $k + __tot - 1) DIV __tot END"))
      .filter(col("n_draws") > 0L)
      .drop("__c", "__tot")
      .withColumnRenamed("__w", "weight")
  }
}
