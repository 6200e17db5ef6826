package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graphs

class GraphsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("pageRank: a cycle is an exact fixed point at uniform 1e6") {
    // out-degree 1 everywhere → p' = 150000 + 850000·1e6 DIV 1e6 = 1e6
    // exactly, every round — integer arithmetic holds the fixed point
    // with zero leak
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val p = Graphs.pageRankMicro(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(p === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L,
      4L -> 1000000L))
  }

  test("pageRank: hand-computed two rounds with a dangling sink") {
    // 1→3, 2→3; node 3 dangling (its mass leaks — the documented
    // variant). Round 1: in(3) = 1e6 + 1e6 → p(3) = 150000 + 1 700 000;
    // round 2: in(3) = 150000·2 → p(3) = 150000 + 255 000.
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val p1 = Graphs.pageRankMicro(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(p1 === Map(1L -> 150000L, 2L -> 150000L, 3L -> 1850000L))
    val p2 = Graphs.pageRankMicro(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(p2 === Map(1L -> 150000L, 2L -> 150000L, 3L -> 405000L))
  }

  test("pageRank: symmetrized graphs conserve mass up to the integer leak") {
    val pairs = Seq((1L, 10L), (2L, 10L), (3L, 10L), (3L, 11L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val p = Graphs.pageRankMicro(edges, iters = 4)
      .as[(Long, Long)].collect()
    val n = p.length
    val total = p.map(_._2).sum
    // every node has out-edges: mass only leaks via DIV floors,
    // < 1 micro per (node, round) per division step
    assert(total <= n * 1000000L, s"total $total exceeds initial mass")
    assert(total >= n * 1000000L - n.toLong * 4 * 2, s"leak too big: $total")
    // determinism under repartitioning
    val p2 = Graphs.pageRankMicro(edges.repartition(7), iters = 4)
      .as[(Long, Long)].collect()
    assert(p.toSet === p2.toSet)
  }

  test("pageRank: deep runs cut lineage without changing a single score") {
    // iters = 9 cuts twice (rounds 4 and 8): the cut run must equal a
    // plain-Scala replay of the int64 recurrence
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 4L))
    val cut = Graphs.pageRankMicro(pairs.toDF("src", "dst"), iters = 9)
      .as[(Long, Long)].collect().toMap
    val out = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var p = pairs.flatMap(e => Seq(e._1, e._2)).map(_ -> 1000000L).toMap
    for (_ <- 1 to 9) {
      val in = pairs.groupMapReduce(_._2)(e => p(e._1) / out(e._1))(_ + _)
      p = p.map { case (v, _) => v -> (150000L + 850000L * in.getOrElse(v, 0L) / 1000000L) }
    }
    assert(cut === p)
  }

  test("triangles: K4 has 4, each counted once at its ≺-min pivot; " +
      "squares have none; dirty edges canonicalize") {
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles. All degrees equal (3), so
    // ≺ falls back to id — pivots are the two smallest vertices of
    // each triangle's id-min: {1,2,3}→1, {1,2,4}→1, {1,3,4}→1,
    // {2,3,4}→2
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    // dirty input: duplicates, reversed copies, a self-loop
    val edges = (k4 ++ k4.map(_.swap) ++ Seq((3L, 3L), (1L, 2L)))
      .toDF("src", "dst")
    val tri = Graphs.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(tri === Map(1L -> 3L, 2L -> 1L), tri)
    assert(tri.values.sum === 4L)
    // a 4-cycle (square) is triangle-free
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(Graphs.triangleCounts(sq).count() === 0L)
    // a star (viral hub) is triangle-free AND generates zero wedges at
    // the hub: all oriented edges point INTO the high-degree center
    val star = (1L to 20L).map(i => (100L, i)).toDF("src", "dst")
    assert(Graphs.triangleCounts(star).count() === 0L)
  }

  test("edgeSupport: K4 edges all support 2; a bridge supports 0 (absent); " +
      "Σ support = 3 × triangles") {
    // K4 ∪ a pendant bridge (4,5): every K4 edge sits in exactly 2 of
    // the 4 triangles; the bridge is in none and must not appear
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L))).toDF("src", "dst")
    val sup = Graphs.edgeSupport(edges)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(sup.size === 6, sup)               // the 6 K4 edges only
    assert(sup.values.forall(_ === 2L), sup)  // each in 2 triangles
    assert(!sup.contains((4L, 5L)))
    // bookkeeping identity: each triangle contributes 3 edge slots
    val nTri = Graphs.triangleCounts(edges)
      .agg(org.apache.spark.sql.functions.sum("n_tri"))
      .collect()(0).getLong(0)
    assert(sup.values.sum === 3L * nTri)
  }

  test("trussEdges: 4-truss keeps K4 and prunes the pendant triangle; " +
      "cascades drain a triangle strip; 5-truss of K4 is empty") {
    // K4 ∪ pendant triangle (4,5,6): pendant edges support 1, K4
    // edges support 2 — at k = 4 (support ≥ 2) the pendant dies in
    // one round and K4 survives unchanged
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))).toDF("src", "dst")
    val t4 = Graphs.trussEdges(edges, k = 4)
      .as[(Long, Long)].collect().toSet
    assert(t4 === k4.toSet, t4)
    // CASCADE: triangles (1,2,3) and (2,3,4) share edge (2,3) — round
    // 1 prunes the support-1 edges, which orphans (2,3) (support now
    // 0), round 2 prunes it: empty, and convergence must handle the
    // multi-round drain
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graphs.trussEdges(strip, k = 4).count() === 0L)
    // K4 edges support exactly 2 — a 5-truss (support ≥ 3) is empty
    assert(Graphs.trussEdges(k4.toDF("src", "dst"), k = 5).count() === 0L)
    // and k = 3 keeps every triangle edge of the pendant fixture
    assert(Graphs.trussEdges(edges, k = 3).count() === 9L)
  }

  test("kCoreNodes: peels the periphery with cascades; the core keeps " +
      "its OWN degrees") {
    // K4 with a chain 4-5-6 hanging off: 3-core peels 6 (deg 1), then
    // 5 (deg 1 after the cascade), leaving K4 at degree 3 each — the
    // chain requires TWO rounds, so convergence is genuinely iterative
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val core3 = Graphs.kCoreNodes(edges, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3)
    // 1-core of the same graph keeps everyone, with SUBGRAPH degrees
    val core1 = Graphs.kCoreNodes(edges, k = 1)
      .as[(Long, Long)].collect().toMap
    assert(core1(4L) === 4L && core1(6L) === 1L && core1.size === 6)
    // 5-core of K4 is empty (max degree 3)
    assert(Graphs.kCoreNodes(k4.toDF("src", "dst"), k = 5).count() === 0L)
  }
}
