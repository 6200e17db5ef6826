package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Drift, RankEval}

/** Hand-computed retrieval metrics and drift divergences. */
class RankEvalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** The operator's per-rank discount, spelled independently. */
  private def disc(i: Int): Long =
    math.floor(1000000.0 * math.log(2.0) / math.log(i + 1.0)).toLong

  test("rankingMetrics: graded nDCG/recall/MRR hand-replayed; " +
      "unretrieved gold deflates recall and IDCG-ranks ahead; " +
      "no-gold and no-ranked probes report zeros") {
    val ranked = Seq(
      (1L, "a", 1), (1L, "b", 2), (1L, "c", 3), (1L, "e", 4),
      (2L, "x", 1),
      (4L, "y", 1))
      .toDF("probe_id", "cand_id", "rnk")
    val qrels = Seq(
      (1L, "b", 2), (1L, "c", 1), (1L, "d", 3), // d never retrieved
      (1L, "b", 1),                             // dup judgment: max wins
      (3L, "z", 2))                             // probe 3 never ranked
      .toDF("probe_id", "cand_id", "rel")
    val got = RankEval.rankingMetrics(ranked, qrels, k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))))
      .toMap
    // probe 1: gains b=3, c=1, d=7 (gold-only)
    val dcg = 3L * disc(2) + 1L * disc(3)
    val idcg = 7L * disc(1) + 3L * disc(2) + 1L * disc(3)
    assert(got(1L) === ((3L, 3L, 2L, 2000000L / 3L, 500000L, dcg, idcg,
      dcg * 1000000L / idcg)))
    // probe 2: ranked, no gold at all → zeros
    assert(got(2L) === ((1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // probe 3: gold, never ranked → zeros except n_gold/idcg
    assert(got(3L) === ((0L, 1L, 0L, 0L, 0L, 0L, 3L * disc(1), 0L)))
    // probe 4: ranked, no gold
    assert(got(4L)._2 === 0L)
    // k cutoff: probe 1's rank-4 'e' must not enter n_ranked
    assert(got(1L)._1 === 3L)
    intercept[IllegalArgumentException] {
      RankEval.rankingMetrics(ranked, qrels, k = 0)
    }
  }

  test("rankingMetrics: binary labels degrade to classic nDCG; " +
      "perfect ranking scores 10^6") {
    val ranked = Seq((1L, "a", 1), (1L, "b", 2))
      .toDF("probe_id", "cand_id", "rnk")
    val qrels = Seq((1L, "a", 1), (1L, "b", 1))
      .toDF("probe_id", "cand_id", "rel")
    val r = RankEval.rankingMetrics(ranked, qrels, k = 10)
      .select("recall_micro", "mrr_micro", "ndcg_micro")
      .as[(Long, Long, Long)].head()
    assert(r === ((1000000L, 1000000L, 1000000L)))
  }

  test("bradleyTerryMicro: the MM fixed-point replays in plain Scala; " +
      "stronger items outrank weaker; never-winners pin to 0 but " +
      "still serve as opponents") {
    import graft.operators.RankEval
    // A beats B 3-1, A beats C 2-0, B-C split 2-2, D loses to A 0-2
    val cmp = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A")) ++
      Seq.fill(2)(("A", "C")) ++ Seq.fill(2)(("B", "C")) ++
      Seq.fill(2)(("C", "B")) ++ Seq.fill(2)(("A", "D")))
      .toDF("winner", "loser")
    def got(iters: Int) = RankEval.bradleyTerryMicro(cmp, "winner", "loser", iters)
      .select("item", "wins", "n_comparisons", "score_micro")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // independent fixed-point replay
    val wd = Map(("A", "B") -> 3L, ("B", "A") -> 1L, ("A", "C") -> 2L,
      ("B", "C") -> 2L, ("C", "B") -> 2L, ("A", "D") -> 2L)
    val e = (wd.toSeq ++ wd.toSeq.map { case ((a, b), n) => ((b, a), n) })
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val items = Seq("A", "B", "C", "D")
    val wins = items.map(i =>
      i -> wd.collect { case ((a, _), n) if a == i => n }.sum).toMap
    def replay(iters: Int): Map[String, Long] = {
      var p = items.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val s = items.map(i => i -> e.collect {
          case ((a, b), n) if a == i =>
            n * (1000000000000L / math.max(p(i) + p(b), 1L))
        }.sum).toMap
        val q = items.map(i => i -> (if (wins(i) == 0L || s(i) <= 0L) 0L
          else (BigInt(wins(i)) * BigInt("1000000000000") / s(i)).toLong)).toMap
        val tp = q.values.map(BigInt(_)).sum
        p = items.map(i => i -> (if (tp <= 0) 0L
          else (BigInt(q(i)) * (items.size * 1000000L) / tp).toLong)).toMap
      }
      p
    }
    // iters = 9 cuts lineage mid-run (rounds 4 and 8), iters = 3 never
    for (iters <- Seq(3, 9)) {
      val (g, p) = (got(iters), replay(iters))
      items.foreach { i =>
        val nc = e.collect { case ((a, _), n) if a == i => n }.sum
        assert(g(i) === ((wins(i), nc, p(i))), s"item $i at iters = $iters")
      }
      assert(g("A")._3 > g("B")._3 && g("B")._3 > g("C")._3,
        s"strength ordering broke: $g")
      assert(g("D")._3 === 0L)
    }
    intercept[IllegalArgumentException] {
      RankEval.bradleyTerryMicro(cmp, "winner", "loser", iters = 0)
    }
  }

  // ---- vocabulary drift ----

  test("vocabularyDrift: identical snapshots score 0; a disjoint " +
      "vocabulary scores ln 2 per side; hand-replayed mixed case") {
    def toks(ts: (String, Int)*) =
      ts.flatMap { case (t, n) => Seq.fill(n)(t) }.toDF("token")
    val same = toks("a" -> 3, "b" -> 1)
    val z = Drift.vocabularyDrift(same, same)
      .select("jsd_micro", "vocab_shared").as[(Long, Long)].head()
    assert(z === ((0L, 2L)))
    // fully disjoint: JSD = ln 2 — per-term and per-side floors land
    // at 693146 micro (each side floor(2·693147/4) = 346573)
    val d = Drift.vocabularyDrift(toks("a" -> 2), toks("b" -> 2))
      .select("jsd_micro", "vocab_a", "vocab_b", "vocab_shared")
      .as[(Long, Long, Long, Long)].head()
    assert(d._1 === 693146L)
    assert((d._2, d._3, d._4) === ((1L, 1L, 0L)))
    // mixed: a = {x:3, y:1}, b = {x:1, y:3} — replay the micro floors
    val got = Drift.vocabularyDrift(toks("x" -> 3, "y" -> 1),
        toks("x" -> 1, "y" -> 3))
      .select("n_tokens_a", "n_tokens_b", "jsd_micro")
      .as[(Long, Long, Long)].head()
    def lnMicro(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den.toDouble) * 1000000.0).toLong
    // p/m ratios: token t side1 = 2·c1·T2/(c1·T2 + c2·T1)
    val s1 = 3L * lnMicro(2 * 3 * 4, 3 * 4 + 1 * 4) +
      1L * lnMicro(2 * 1 * 4, 1 * 4 + 3 * 4)
    val s2 = 1L * lnMicro(2 * 1 * 4, 3 * 4 + 1 * 4) +
      3L * lnMicro(2 * 3 * 4, 1 * 4 + 3 * 4)
    def fdiv(n: Long, d: Long) = Math.floorDiv(n, d)
    assert(got === ((4L, 4L, fdiv(s1, 8) + fdiv(s2, 8))))
  }

  test("vocabularyDrift: per-group drift, and absent-side tokens " +
      "count ln 2 on their present side only") {
    val a = Seq(("s1", "a"), ("s1", "a"), ("s2", "q"))
      .toDF("source", "token")
    val b = Seq(("s1", "a"), ("s1", "a"), ("s2", "r"))
      .toDF("source", "token")
    val got = Drift.vocabularyDrift(a, b, groupCols = Seq("source"))
      .select("source", "jsd_micro").as[(String, Long)].collect().toMap
    assert(got("s1") === 0L)
    assert(got("s2") === 693146L) // 2 × floor(693147/2)
  }
}
