package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative GRAPH algebra beyond [[Dedup.connectedComponents]]'
  * contraction: damped PageRank as a fixed number of
  * join-aggregate rounds — the relational rendering of the power
  * iteration every distributed graph engine (GraphX/Pregel) runs, with
  * the scores in MICRO fixed-point int64 so every round is exact
  * integer arithmetic: bit-deterministic, engine-replayable, immune to
  * float summation order. The price of integer division is a
  * deterministic downward mass leak of < 1 per (node, round) micro —
  * identical on every engine, so oracles replay it bit-for-bit.
  */
object Graphs {

  /** `iters` damped-PageRank rounds over directed `edges` (src, dst).
    * p₀ = 10⁶ per node;
    * pᵢ₊₁(v) = (10⁶ − damp) + damp·Σ_{(u,v)∈E} (pᵢ(u) DIV out(u)) DIV 10⁶.
    * Dangling nodes (no out-edges) contribute nothing — their mass
    * leaks instead of redistributing (the "leaky" variant; symmetrize
    * the edge set upstream when conservation matters). Returns
    * (node, p) for every node of the graph.
    *
    * Shape per round: one src-keyed equi-join of edges × scores (both
    * sides hash on the same key — the exchange layout is reusable
    * round to round), one partial-aggregated groupBy(dst), one left
    * join back onto the node set. Each round deepens the plan chain
    * (like the k-means training loop), so the node set and the
    * degree-joined edge table are cut once, and runs past
    * [[Lineage.Every]] rounds cut the score table's lineage mid-run
    * ([[Lineage]] owns the policy). Runs of ≤ [[Lineage.Every]] rounds
    * keep the score chain declarative (the oracled q136 path). Note the
    * scores frame is |V| rows — broadcastable for moderate graphs.
    */
  def pageRankMicro(
      edges: DataFrame, iters: Int,
      dampMicro: Long = 850000L): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    require(dampMicro >= 0L && dampMicro <= 1000000L,
      s"dampMicro must be a micro-fraction in [0, 1e6], got $dampMicro")
    val nodes0 = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    val withDeg0 = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("__outdeg")), "src")
    // EVERY round re-reads these — cut them unconditionally (r17: the
    // uncut declarative chain re-ran the edge scan + degree agg per
    // iteration: q136's 3 rounds re-derived the lineitem distinct ~7×
    // inside one job; the lazy cut computes each once and the rounds
    // read the persisted blocks)
    val nodes = Lineage.cut(nodes0)
    val withDeg = Lineage.cut(withDeg0)
    val base = lit(1000000L - dampMicro)
    var p = nodes.withColumn("p", lit(1000000L))
    for (i <- 1 to iters) {
      val inSum = withDeg
        .join(p, col("src") === col("node"))
        .select(col("dst").as("node"), expr("p DIV __outdeg").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__in"))
      val next = nodes.join(inSum, Seq("node"), "left")
        .select(col("node"),
          (base + expr(s"$dampMicro * coalesce(__in, 0L) DIV 1000000"))
            .as("p"))
      // prior checkpoint blocks are released by the ContextCleaner as
      // references drop, so storage holds ~2 rounds of |V| rows
      p = if (Lineage.due(i, iters)) Lineage.cut(next) else next
    }
    p
  }

  /** TRIANGLE counting per pivot node — the clustering-coefficient /
    * community-density primitive, in the degree-ordered-orientation
    * shape every distributed implementation uses (Cohen 2009,
    * "Graph Twiddling in a MapReduce World"; Suri & Vassilvitskii
    * 2011): orient each undirected edge from its (degree, id)-smaller
    * endpoint to the larger, enumerate wedges only at each edge's
    * SMALLEST vertex, and close them against the oriented edge set.
    * Every triangle is counted exactly once — at its ≺-minimal vertex
    * — and the per-node wedge fan-out is bounded by O(√m) regardless
    * of raw degree: a viral hub with degree 10⁶ generates NO wedges
    * at itself (all its edges point INTO it), which is the difference
    * between this plan and a quadratic blowup at 100 TB. Returns
    * (node, n_tri) for pivot nodes of ≥ 1 triangle.
    *
    * Shape: one distinct + one degree agg + three equi-joins (wedge
    * join on the pivot key, closing join on the oriented pair) + one
    * count — no cartesian, no window, AQE free to broadcast the
    * degree side. Input edges may be directed/duplicated/looped; they
    * are canonicalized first.
    */
  def triangleCounts(edges: DataFrame,
      broadcastClose: Boolean = false): DataFrame =
    triangleList(edges, broadcastClose)
      .groupBy(col("s").as("node")).agg(count(lit(1)).as("n_tri"))

  /** Per-EDGE triangle SUPPORT — the k-truss substrate (Cohen 2008):
    * how many triangles each edge participates in. Support-0 edges are
    * the bridges/noise a community-detection pass prunes first; a
    * k-truss keeps edges with support ≥ k−2 (iterate prune →
    * re-support to convergence, [[trussEdges]]' fixed point — each
    * round is THIS operator over the
    * surviving edge set). Same enumeration cost as [[triangleCounts]]
    * (one triangle list, the degree-ordered O(√m) wedge bound), plus
    * a 3-edge fan-out and one canonical-pair partial agg. Returns
    * (u, v, support) with u < v for edges in ≥ 1 triangle.
    */
  def edgeSupport(edges: DataFrame,
      broadcastClose: Boolean = false): DataFrame = {
    def pair(x: String, y: String) = struct(
      least(col(x), col(y)).as("u"), greatest(col(x), col(y)).as("v"))
    triangleList(edges, broadcastClose)
      .select(explode(array(
        pair("s", "a"), pair("s", "b"), pair("a", "b"))).as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v"))
      .agg(count(lit(1)).as("support"))
  }

  /** k-TRUSS — the densest-community skeleton (Cohen 2008): the
    * maximal subgraph where EVERY edge sits in ≥ k−2 triangles,
    * computed as the standard fixed point: delete under-supported
    * edges, re-support the survivors (deletions can cascade — an edge
    * that was supported only by pruned triangles dies next round),
    * repeat until stable. Each round is one [[edgeSupport]] pass over
    * the surviving edge set + one anti-filter; lineage cut per round
    * ([[Lineage.cut]]), convergence count one action per round.
    * Returns the surviving canonical (u, v) edges.
    */
  def trussEdges(
      edges: DataFrame, k: Int, maxIter: Int = 25): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k = 3 keeps any triangle edge), got $k")
    // r17 (guide §5.2): LAZY cuts + the surviving count carried in a
    // var — each round pays ONE count action (which also materializes
    // the cut) instead of eager-checkpoint + two counts
    val minSup = (k - 2).toLong
    var cur = Lineage.cut(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var curCnt = cur.count()
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val sup = edgeSupport(
        cur.select(col("u").as("src"), col("v").as("dst")))
      val next = Lineage.cut(cur.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= minSup)
        .select("u", "v"))
      val nextCnt = next.count()
      done = curCnt - nextCnt == 0L
      cur = next
      curCnt = nextCnt
      i += 1
    }
    require(done, s"trussEdges did not converge in $maxIter rounds")
    cur
  }

  /** k-CORE node set — the DEGREE fixed point next to [[trussEdges]]'
    * support fixed point (Seidman 1983; the standard "peel the
    * periphery" community-cleanup): repeatedly delete nodes with
    * degree < k over the surviving subgraph until stable — deletions
    * cascade exactly like the truss (a node held at degree k by a
    * peeled neighbor dies next round). Each round is one degree agg +
    * one semi-join of edges against surviving nodes; lineage cut per
    * round ([[Lineage.cut]]), convergence count one action per round.
    * Returns the surviving (node, degree) rows — degree measured in the
    * FINAL subgraph, the k-core's own degrees (all ≥ k).
    */
  def kCoreNodes(
      edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // r17 (guide §5.2): LAZY cuts + carried count — one action per
    // round (see trussEdges)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
    var cur = Lineage.cut(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var curCnt = cur.count()
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val keep = degrees(cur).filter(col("degree") >= k.toLong)
        .select(col("node"))
      val next = Lineage.cut(cur
        .join(keep.select(col("node").as("u")), "u", "leftsemi")
        .join(keep.select(col("node").as("v")), "v", "leftsemi")
        .select("u", "v"))
      val nextCnt = next.count()
      done = curCnt - nextCnt == 0L
      cur = next
      curCnt = nextCnt
      i += 1
    }
    require(done, s"kCoreNodes did not converge in $maxIter rounds")
    degrees(cur)
  }

  /** The one triangle enumeration behind [[triangleCounts]] and
    * [[edgeSupport]]: canonicalize → degree-orient → wedge at the
    * ≺-minimal vertex → close. One row (s, a, b) per triangle, s ≺ a
    * ≺ b in the (degree, id) order.
    *
    * r17 join strategy (guide §3.1): every equi-join here hints
    * SHUFFLE_HASH — the wedge set is O(Σ d_out²) rows (41M at the
    * sf0.1 co-purchase graph, 34× the edge count) and a sort-merge
    * closing join SORTS it (measured: the close+count stage alone was
    * 255 exec-core-s of q159's 463; hash-joining the edge set skips
    * that sort; the build sides — oriented edges / degrees — are the
    * SMALL, |E|/|V|-bounded sides and partition-local builds stay
    * memory-safe at any scale because they are hash-partitioned
    * first). `broadcastClose = true` additionally broadcasts the
    * oriented edge set into the closing join so the wedge rows are
    * never exchanged at all — opt-in, for graphs whose edge set fits
    * an executor (callers document the bound; the sf0.1 gates' 1.2M
    * oriented edges ≈ 30 MB).
    */
  private def triangleList(edges: DataFrame,
      broadcastClose: Boolean = false): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("x"))
      .unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient by the total order ≺ = (degree, id): s ≺ t
    val ori = und
      .join(deg.select(col("x").as("u"), col("d").as("du"))
        .hint("shuffle_hash"), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv"))
        .hint("shuffle_hash"), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    val o1 = ori.select(col("s"), col("t").as("a"), col("dt").as("da"))
    val o2 = ori.select(col("s"), col("t").as("b"), col("dt").as("db"))
    val wedges = o1.join(o2.hint("shuffle_hash"),
      o1("s") === o2("s") &&
        (col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))))
      .select(o1("s").as("s"), col("a"), col("b"))
    val close = ori.select(col("s").as("a"), col("t").as("b"))
    val closeSide =
      if (broadcastClose) broadcast(close) else close.hint("shuffle_hash")
    wedges.join(closeSide, Seq("a", "b"))
      .select(col("s"), col("a"), col("b"))
  }
}
