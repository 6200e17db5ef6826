package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RETRIEVAL RANKING EVALUATION — nDCG@k / recall@k / MRR against
  * graded gold judgments (Järvelin & Kekäläinen 2002 for DCG; the
  * TREC/BEIR/MTEB metric battery every retrieval or RAG pipeline
  * reports): the measurement side of the retrieval family (q41/q42/
  * q45/q48 build the ranked lists, [[Similarity.mmrRerank]] reorders
  * them — this scores them against labels).
  *
  * Definitions (per probe, cutoff k):
  *  - gain(rel) = 2^rel − 1 (graded; binary labels degrade to 1),
  *    discount(i) = 1/log2(i+1);
  *    DCG@k = Σ_{i≤k} gain(rel_i)·discount(i), IDCG@k = the same sum
  *    over the probe's gold rels sorted descending, nDCG = DCG/IDCG.
  *  - recall@k = |relevant retrieved in top-k| / |gold relevant|.
  *  - MRR = 1/rank of the first relevant hit (0 when none).
  *
  * Determinism (the q180 micro-floor pattern): discount(i) is a
  * PER-RANK micro constant ⌊10⁶·ln(2)/ln(i+1)⌋ — one floored IEEE
  * expression of a small integer, spelled identically in the oracle —
  * so DCG/IDCG are exact int64 sums of gain·disc products (order-free),
  * and nDCG/recall/MRR are single exact integer divisions
  * (ndcg_micro = dcg·10⁶ DIV idcg). Gains cap at rel ≤ 20 (2^20·10⁶
  * per term keeps any real list in int64). Duplicate gold rows keep
  * MAX rel; probes with no gold report zeros rather than dropping.
  *
  * Shape: ranked≤k is a filter; gold dedup + ideal ranking is one
  * per-probe window over the QRELS (judgment lists are tens of rows
  * per probe — parameter-small per key, no skew); the scoring join is
  * co-keyed (probe, cand) and every aggregation is a partial-agg
  * groupBy(probe). Zero corpus-side work beyond the ranked lists
  * themselves.
  */
object RankEval {

  /** BRADLEY-TERRY preference aggregation (Bradley & Terry 1952;
    * Hunter 2004's MM iteration) — turn a corpus of PAIRWISE
    * preference labels into per-item strength scores: the
    * Chatbot-Arena-style leaderboard step, and the aggregation every
    * RLHF preference-data pipeline runs over (winner, loser) labels
    * to rank MODELS, ANNOTATORS, or POLICIES (the item set is
    * parameter-small — the centroid class; the comparisons are the
    * corpus). MM update p_i ← w_i / Σ_j n_ij/(p_i + p_j), scores
    * renormalized to mean 10⁶ each round (BT is scale-free; the
    * normalization pins the gauge).
    *
    * Determinism — integer fixed-point throughout (the q136 PageRank
    * posture): per-opponent terms are n_ij·⌊10¹²/(p_i+p_j)⌋ (one
    * integral DIV, exact int64 sums), the two scale-up divisions run
    * in decimal(38,0) with integral DIV (wins and pair counts can be
    * billions — int64 products would wrap), and the deterministic
    * sub-micro floor leak is identical in any engine. Items that
    * never win pin to score 0 (the MLE boundary — their true BT
    * strength is 0; they still serve as opponents, and
    * greatest(·,1) guards the all-zero pair denominators that
    * rounding can produce).
    *
    * Shape: ONE corpus pass (groupBy(winner, loser) count); every MM
    * round runs on the item-pair table (items²-bounded — tiny), its
    * lineage cut mid-run by [[Lineage]]. Returns (item, wins,
    * n_comparisons, score_micro).
    */
  def bradleyTerryMicro(
      comparisons: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val w = comparisons
      .groupBy(col(winnerCol).as("a"), col(loserCol).as("b"))
      .agg(count(lit(1)).as("__w"))
    // the caller's one action materializes e/wins once and every MM
    // round reads the cut blocks
    val e = Lineage.cut(w.select(col("a"), col("b"), col("__w"))
      .unionByName(w.select(col("b").as("a"), col("a").as("b"), col("__w")))
      .groupBy("a", "b").agg(sum(col("__w")).as("__n")))
    val wins = Lineage.cut(e.select(col("a").as("item"))
      .distinct()
      .join(w.groupBy(col("a").as("item")).agg(sum(col("__w")).as("wins")),
        Seq("item"), "left")
      .na.fill(0L, Seq("wins"))
      .join(e.groupBy(col("a").as("item")).agg(sum(col("__n")).as("n_comparisons")),
        Seq("item")))
    val dec = "decimal(38,0)"
    var p = wins.select(col("item"), lit(1000000L).as("p"))
    for (i <- 1 to iters) {
      val d = e
        .join(p.select(col("item").as("a"), col("p").as("__pa")), Seq("a"))
        .join(p.select(col("item").as("b"), col("p").as("__pb")), Seq("b"))
        .select(col("a"), (col("__n") *
          expr("1000000000000 DIV greatest(__pa + __pb, 1)")).as("__t"))
        .groupBy("a").agg(sum(col("__t")).as("__s"))
      val q = wins.select(col("item"), col("wins"))
        .join(d.select(col("a").as("item"), col("__s")), Seq("item"))
        .withColumn("__p1", when(col("wins") === 0L || col("__s") <= 0L, 0L)
          .otherwise(expr(
            s"CAST(CAST(wins AS $dec) * 1000000000000 AS $dec) DIV __s")))
      val tot = q.agg(sum(col("__p1")).as("__tp"),
        count(lit(1)).as("__k"))
      val next = q.crossJoin(broadcast(tot))
        .select(col("item"),
          when(col("__tp") <= 0L, lit(0L)).otherwise(expr(
            s"CAST(CAST(__p1 AS $dec) * (__k * 1000000) AS $dec) DIV __tp"))
            .as("p"))
      p = if (Lineage.due(i, iters)) Lineage.cut(next) else next
    }
    wins.join(p, Seq("item"))
      .select(col("item"), col("wins"), col("n_comparisons"),
        col("p").as("score_micro"))
  }

  /** discount(i)·10⁶ as an exact long: ⌊10⁶·ln(2)/ln(i+1)⌋. */
  private def discMicro(rank: org.apache.spark.sql.Column) =
    floor(lit(1000000.0) * log(lit(2.0)) / log(rank.cast("double") + 1.0))
      .cast("long")

  /** @param ranked (probeCol, candCol, rankCol) — 1-based ranks from a
    *               retriever (dense per probe).
    * @param qrels  (probeCol, candCol, relCol) — graded relevance,
    *               rel > 0 means relevant; 0 ≤ rel ≤ 20.
    * @return one row per probe appearing in EITHER input: n_ranked,
    *         n_gold, hits, recall_micro, mrr_micro, dcg_micro,
    *         idcg_micro, ndcg_micro.
    */
  def rankingMetrics(
      ranked: DataFrame, qrels: DataFrame, k: Int,
      probeCol: String = "probe_id", candCol: String = "cand_id",
      rankCol: String = "rnk", relCol: String = "rel"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gold = qrels
      .groupBy(col(probeCol).as("probe_id"), col(candCol).as("cand_id"))
      .agg(max(col(relCol).cast("long")).as("__rel"))
    val topk = ranked
      .select(col(probeCol).as("probe_id"), col(candCol).as("cand_id"),
        col(rankCol).cast("long").as("__rnk"))
      .filter(col("__rnk") <= k.toLong)
    // rel clamps at 20 (2^20·10⁶ per term keeps any real list in
    // int64; a stray huge grade must not shiftleft into garbage)
    val gain = expr("shiftleft(1L, CAST(least(__rel, 20) AS INT))") - 1L
    val scored = topk
      .join(gold, Seq("probe_id", "cand_id"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0L)))
      .groupBy("probe_id")
      .agg(
        count(lit(1)).as("n_ranked"),
        sum(when(col("__rel") > 0L, 1L).otherwise(0L)).as("hits"),
        min(when(col("__rel") > 0L, col("__rnk"))).as("__first"),
        sum(gain * discMicro(col("__rnk"))).as("dcg_micro"))
    // ideal ranking: the probe's gold rels sorted descending (cand_id
    // ties for determinism), discounted at ranks 1..min(n_gold, k)
    val wIdeal = Window.partitionBy("probe_id")
      .orderBy(col("__rel").desc, col("cand_id").asc)
    val ideal = gold
      .filter(col("__rel") > 0L)
      .withColumn("__irnk", row_number().over(wIdeal).cast("long"))
      .groupBy("probe_id")
      .agg(
        count(lit(1)).as("n_gold"),
        sum(when(col("__irnk") <= k.toLong,
          gain * discMicro(col("__irnk"))).otherwise(0L)).as("idcg_micro"))
    scored.join(ideal, Seq("probe_id"), "full")
      .select(
        col("probe_id"),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr("coalesce(hits, 0) * 1000000 DIV greatest(coalesce(n_gold, 0), 1)")
          .as("recall_micro"),
        coalesce(expr("1000000 DIV __first"), lit(0L)).as("mrr_micro"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        expr("coalesce(dcg_micro, 0) * 1000000 DIV greatest(coalesce(idcg_micro, 0), 1)")
          .as("ndcg_micro"))
  }
}
