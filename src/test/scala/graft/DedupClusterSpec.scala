package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupClusterSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("transitive chain collapses to one component with min-id label") {
    // path graph 1-2-3-4-5 plus separate pair 10-11: diameter forces
    // several propagation rounds
    val m = comps(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("pair order does not matter (undirected)") {
    val m = comps(Seq((5L, 4L), (3L, 4L), (2L, 3L)))
    assert(m.values.toSet === Set(2L))
  }

  test("mergeComponents: incremental ≡ batch, cross-batch bridges merge " +
      "standing components, untouched state persists") {
    // batch 1: {1,2} and {5,6}; singleton 9 labels itself
    val state = Dedup.connectedComponents(
      Seq((1L, 2L), (5L, 6L), (9L, 9L)).toDF("id_a", "id_b"))
    // batch 2: 2-5 BRIDGES the two standing components; 20-21 is new
    val out = Dedup
      .mergeComponents(state, Seq((2L, 5L), (20L, 21L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      9L -> 9L, 20L -> 20L, 21L -> 20L))
    // ≡ one batch CC over the full pair history
    val batch = comps(Seq((1L, 2L), (5L, 6L), (9L, 9L), (2L, 5L), (20L, 21L)))
    assert(out === batch)
  }

  test("representatives keeps min id per cluster and singletons themselves") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "lonely"))
      .toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.representatives(docs, "id", pairs)
      .select("id", "cluster", "is_rep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 9L, true)))
  }

  test("a cluster whose min-id doc was filtered out still elects a survivor") {
    // pairs computed on the full corpus, docs is a filtered view missing
    // doc 1 (e.g. a quality gate removed it): doc 2 must become the rep
    val docs = Seq((2L, "b"), (3L, "c")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.representatives(docs, "id", pairs)
      .select("id", "cluster", "is_rep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out === Set((2L, 1L, true), (3L, 1L, false)))
  }

  test("reliable checkpointing reaches the same fixed point") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    withCheckpointDir { dir =>
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === referenceLabels(pairs))
      // the session's directory made the cuts durable: files under it
      val root = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
      val files = java.nio.file.Files.walk(root)
      val written = try files.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally files.close()
      assert(written > 0, s"no checkpoint files under $dir")
    }
  }

  /** Plain-Scala union-find: every node of `pairs` → its component's min. */
  private def referenceLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def withCoalescing[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, old)
  }

  test("property: labels are the component min id on random paths, stars, " +
      "cliques and forests with self, duplicate and reversed pairs, " +
      "coalesced or at 8 partitions, local or reliable") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    def shape(ids: Seq[Long]): Gen[Seq[(Long, Long)]] = Gen.oneOf(
      Gen.const(ids.zip(ids.tail)),                                     // path
      Gen.const(ids.tail.map(ids.head -> _)),                           // star
      Gen.const(ids.combinations(2).map(c => (c(0), c(1))).toSeq),      // clique
      Gen.sequence[Seq[(Long, Long)], (Long, Long)](ids.indices.tail    // random tree
        .map(i => Gen.choose(0, i - 1).map(j => (ids(j), ids(i))))))
    val graph: Gen[Seq[(Long, Long)]] = for {
      sizes <- Gen.listOfN(6, Gen.choose(1, 12))
      picked <- Gen.pick(sizes.sum, 0L until 500L)
      order <- Gen.long
      ids = new scala.util.Random(order).shuffle(picked.toVector)
      comps <- Gen.sequence[Seq[Seq[(Long, Long)]], Seq[(Long, Long)]](
        sizes.scanLeft(0)(_ + _).zip(sizes).map { case (at, n) => shape(ids.slice(at, at + n)) })
      edges = comps.flatten
      dups <- Gen.someOf(edges)
      selfs <- Gen.someOf(ids)
      flips <- Gen.listOfN(edges.length + dups.length, Gen.prob(0.5))
    } yield (edges ++ dups).zip(flips).map { case (e, f) => if (f) e.swap else e } ++
      selfs.map(i => (i, i))
    def check(pairs: Seq[(Long, Long)]): Boolean = {
      val want = referenceLabels(pairs)
      val df = pairs.toDF("id_a", "id_b")
      for (coalesce <- Seq(true, false); reliable <- Seq(false, true)) {
        def run() = withCoalescing(coalesce) {
          Dedup.connectedComponents(df).as[(Long, Long)].collect()
        }
        val got = if (reliable) withCheckpointDir(_ => run()) else run()
        assert(got.length === want.size && got.toMap === want,
          s"coalesce=$coalesce reliable=$reliable pairs=$pairs")
      }
      true
    }
    assert(check(Seq.empty))
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(6)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), Prop.forAllNoShrink(graph)(check))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("a pair list that coalesces to one partition: connectedComponents " +
      "runs ≤ 3 jobs, representatives ≤ 6") {
    // near-dup shaped: two template stars, a chain and a bridge pair
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (10L, 11L),
      (10L, 12L), (20L, 21L), (21L, 22L), (22L, 23L), (30L, 31L)).toDF("id_a", "id_b")
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("id", "text")
    val cc = jobsOf(Dedup.connectedComponents(pairs).collect())
    assert(cc <= 3, s"connectedComponents ran $cc jobs")
    val reps = jobsOf(Dedup.representatives(docs, "id", pairs).collect())
    assert(reps <= 6, s"representatives ran $reps jobs")
  }

  test("bestPerCluster keeps the max-score member, ties to lowest id") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (9L, 4L))
      .toDF("id", "score")
    val cc = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    val out = Dedup.bestPerCluster(docs, cc, "id", "score")
      .select("cluster", "id", "score", "n_members")
      .as[(Long, Long, Long, Long)].collect().toSet
    // cluster 1: scores (5,9,9) → doc 2 wins the 9-tie; singleton 9 elects
    // itself with n_members 1
    assert(out === Set((1L, 2L, 9L, 3L), (9L, 9L, 4L, 1L)))
  }

  test("bestPerCluster beats min-id election when the original is better") {
    // the truncated mirror carries the SMALLER id: min-id keeps the worse
    // copy, bestPerCluster keeps the clean original
    val docs = Seq((1L, 10L), (2L, 80L)).toDF("id", "n_tok")
    val cc = Dedup.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"))
    val best = Dedup.bestPerCluster(docs, cc, "id", "n_tok")
      .select("id").as[Long].collect().toSeq
    assert(best === Seq(2L))
    val minId = Dedup.representatives(docs, "id",
        Seq((1L, 2L)).toDF("id_a", "id_b"))
      .filter(col("is_rep")).select("id").as[Long].collect().toSeq
    assert(minId === Seq(1L), "control: min-id election keeps the mirror")
  }

  test("a 10k-node path spread over 8 partitions converges") {
    // diameter 9999: far past any per-hop round budget. Uncoalesced, the
    // path's edges land in 8 partitions, so nodes straddle and the
    // large-star/small-star merge loop must run
    val n = 10000L
    val order = new scala.util.Random(7).shuffle((0L until n - 1).toVector)
    val pairs = order.map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i))
      .toDF("id_a", "id_b").repartition(8)
    val m = withCoalescing(false) {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    }
    assert(m.length === n)
    assert(m.forall(_._2 == 0L), m.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("leakFreeSplit: near-dup clusters never straddle the split") {
    // clusters: {1,2,3} (chain), {10,11}, singletons 20, 21
    val docs = (Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L))
      .map(i => (i, s"text $i")).toDF("id", "text")
    val cc = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
    val out = Dedup.leakFreeSplit(docs, cc, "id", testPermille = 500)
      .select("id", "cluster", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length === 7)
    // the whole point: one split value per cluster, tautologically
    out.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.map(_._3).distinct.length === 1,
        s"cluster $cl straddles the split: ${rows.mkString(",")}")
    }
    // labels: min-id for clustered docs, self for singletons
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(byId === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
    // deterministic across runs and partitioning
    val again = Dedup.leakFreeSplit(docs.repartition(5), cc, "id",
        testPermille = 500)
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(again === out.map(r => (r._1, r._3)).toSet)
    intercept[IllegalArgumentException] {
      Dedup.leakFreeSplit(docs, cc, "id", testPermille = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.leakFreeSplit(docs, cc, "id", testPermille = 1000)
    }
  }

  test("leakFreeSplit decorrelates from the stratified sampling gate") {
    import graft.operators.Sampling
    // singleton clusters (no pairs): with a shared hash round, every
    // doc kept by a 20% sampling gate would land in 'test' at 200‰ —
    // the SplitMult second round must break that correlation
    val ids = (0L until 2000L)
    val docs = ids.map(i => (i, s"text $i")).toDF("id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(noPairs)
    val test = Dedup.leakFreeSplit(docs, cc, "id", testPermille = 200)
      .filter(col("split") === "test").select("id").as[Long].collect().toSet
    val sampled = docs
      .filter(Sampling.stratifiedFlag(lit("x"), col("id"), Map("x" -> 0.2)))
      .select("id").as[Long].collect().toSet
    // both draw ~20%, but they must not draw the SAME ~20%
    val overlap = (test & sampled).size.toDouble / sampled.size
    assert(overlap < 0.5,
      f"split correlates with the sampling gate: ${overlap * 100}%.0f%% overlap")
    assert(test.nonEmpty && sampled.nonEmpty)
  }

  test("deletionNeighborPairs: exactly the edit-distance-1 pairs — " +
      "insert/delete/substitute found, key-sharing distance-2 killed") {
    // cat↔cart (insert), cat↔cut (substitute), cat↔ct / cut↔ct
    // (delete); dog isolated; ab/ba share BOTH deletion keys yet sit
    // at distance 2 — the verify step must kill them; cart↔cut at
    // distance 2 share no key at all
    val toks = Seq("cat", "cat", "cart", "cut", "ct", "dog", "ab", "ba")
      .toDF("tok")
    val pairs = Dedup.deletionNeighborPairs(toks, "tok")
      .as[(String, String, Long, Long)].collect().toSet
    assert(pairs === Set(
      ("cart", "cat", 1L, 2L), ("cat", "ct", 2L, 1L),
      ("cat", "cut", 2L, 1L), ("ct", "cut", 1L, 1L)), pairs)
    // occurrence counts carried: "cat" appears twice
    assert(pairs.find(_._1 == "cart").get._4 === 2L)
  }

  test("dedupYieldReport: singletons counted, min-id survivor's weight " +
      "kept, removable docs/weight per cluster-size bucket") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 20L),           // cluster A: keep 1 (w 10), drop 20
      (3L, 5L), (4L, 7L), (5L, 9L),   // cluster B: keep 3 (w 5), drop 16
      (6L, 100L),                     // singleton via clusters row
      (7L, 50L))                      // singleton ABSENT from clusters
      .toDF("id", "n_tok")
    val clusters = Seq(
      (1L, 1L), (2L, 1L),
      (3L, 3L), (4L, 3L), (5L, 3L),
      (6L, 6L))
      .toDF("id", "cluster")
    val got = Dedup.dedupYieldReport(docs, clusters)
      .select("cluster_size", "n_clusters", "n_docs", "weight_total",
        "n_removable_docs", "weight_removable")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, 150L, 0L, 0L)))
    assert(got(2L) === ((2L, 1L, 2L, 30L, 1L, 20L)))
    assert(got(3L) === ((3L, 1L, 3L, 21L, 2L, 16L)))
    // whole corpus accounted: docs sum across buckets = 7
    assert(got.values.map(_._3).sum === 7L)
  }
}
