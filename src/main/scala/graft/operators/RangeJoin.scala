package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{IntervalExprs, IntervalIndex}

/** Distributed genomic RANGE joins — the operators behind "which
  * gene/regulatory region does each variant fall in". Spark has no index
  * nested-loop join, and a naive `chrom = chrom AND pos BETWEEN start
  * AND end` plans the inequality as a per-chromosome broadcast nested
  * loop. Here the interval side — features, regions, chain blocks, the
  * small side in every genomics join — is collected once, when the
  * operator is called, into an [[graft.expressions.IntervalIndex]]: per
  * chromosome the intervals sorted by start with an implicit interval
  * tree (Li & Rong's IITree). The large side never shuffles: each of
  * its rows probes the index in one narrow compiled stage
  * (`interval_hits` for overlap, `interval_nearest` for the nearest
  * feature), O(log n + hits) per probe for any interval geometry, with
  * no bucket width to tune.
  *
  * Null rule, every operator: a row with a null chromosome, start, end
  * or position never matches. Size guard: the indexed side must fit
  * Spark's broadcast-table bounds, or the call fails naming the side
  * that must be the small one.
  */
object RangeJoin {

  /** Join `points` (chromCol, posCol, …) to every row of `intervals`
    * (chromCol, startCol, endCol, …) whose closed interval contains the
    * point. Output carries the point columns plus the interval's
    * non-chrom columns; an interval row contained twice matches twice.
    * `intervals` is the indexed (small) side.
    */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      chromCol: String = "chrom", posCol: String = "pos",
      startCol: String = "start", endCol: String = "end"): DataFrame = {
    val ix = IntervalIndex.collect(intervals, chromCol, startCol, endCol,
      "pointInInterval", "intervals")
    points.select(col("*"),
      inline(IntervalExprs.hits(col(chromCol), col(posCol), col(posCol), ix)))
  }

  /** Interval-interval OVERLAP join (closed intervals; `left` carries
    * `startCol`/`endCol`, `right` carries `rStartCol`/`rEndCol` — the
    * caller renames so output columns cannot collide). Output is the
    * left columns plus the right's non-chrom columns, each overlapping
    * row pair EXACTLY once. `right` is the indexed (small) side; each
    * left row probes it.
    */
  def intervalOverlap(
      left: DataFrame, right: DataFrame,
      chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end",
      rStartCol: String = "r_start", rEndCol: String = "r_end"): DataFrame = {
    val ix = IntervalIndex.collect(right, chromCol, rStartCol, rEndCol,
      "intervalOverlap", "right")
    left.select(col("*"),
      inline(IntervalExprs.hits(col(chromCol), col(startCol), col(endCol), ix)))
  }

  /** NEAREST-feature join — the distributed `bedtools closest -d`
    * analogue ("which gene is each intergenic variant closest to"): for
    * every point, the same-chrom interval minimizing
    * `dist = max(start − pos, pos − end, 0)`, kept when `dist ≤ maxDist`
    * (the default `Long.MaxValue` is the radius-free `bedtools closest`).
    * Points with no interval in radius, or on a chromosome with no
    * intervals, drop. Every point ROW emits at most one row, so
    * byte-identical duplicate point rows each keep their own output.
    *
    * Shape: the intervals are indexed (the small side) with their
    * neighbour tables, and each point probes `interval_nearest` in one
    * narrow stage: (a) the max-(end, start, payload…) interval among
    * starts ≤ pos — if its end ≥ pos the point is COVERED (dist 0), else
    * it is the true nearest LEFT neighbor (every uncovered start-≤-pos
    * interval ends before pos) — and (b) the min-(start, end, payload…)
    * interval among starts ≥ pos, the nearest RIGHT neighbor; emit the
    * nearer. Tie rule: covered, then left, then the left neighbor with
    * the max (end, start, payload…) / the right neighbor with the min
    * (start, end, payload…) — deterministic; `dist` itself is always
    * the true minimum, which is what aggregates downstream should read.
    * No exchange and no radius-dependent work for any interval geometry.
    * Interval payload + start/end columns must not collide with point
    * columns (caller renames, the [[intervalOverlap]] contract), and
    * `distCol` must not pre-exist on either input.
    */
  def nearestInterval(
      points: DataFrame, intervals: DataFrame,
      maxDist: Long = Long.MaxValue,
      chromCol: String = "chrom", posCol: String = "pos",
      startCol: String = "start", endCol: String = "end",
      distCol: String = "dist"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val ivPayload = intervals.columns.toSeq
      .filterNot(Set(chromCol, startCol, endCol))
    val clash = (ivPayload :+ startCol :+ endCol).filter(points.columns.contains)
    require(clash.isEmpty,
      s"interval columns $clash collide with point columns — rename them before the probe")
    require(!points.columns.contains(distCol) && !intervals.columns.contains(distCol),
      s"output column '$distCol' already exists on an input — pass distCol to rename it")
    val reserved = points.columns.filter(Set("__bl", "__br"))
    require(reserved.isEmpty,
      s"point columns ${reserved.mkString(", ")} collide with the probe's neighbour columns")
    val ix = IntervalIndex.collect(intervals, chromCol, startCol, endCol,
      "nearestInterval", "intervals", nearest = true)

    val ptCols = points.columns.toSeq.filterNot(_ == chromCol)
    val pos = col(posCol).cast("long")
    val covered = col("__bl").isNotNull && col(s"__bl.$endCol") >= pos
    val ld = when(col("__bl").isNotNull, (pos - col(s"__bl.$endCol")).cast("long"))
    val rd = when(col("__br").isNotNull, (col(s"__br.$startCol") - pos).cast("long"))
    val useLeft = covered ||
      (col("__bl").isNotNull && (col("__br").isNull || ld <= rd))
    val dist = when(covered, lit(0L)).otherwise(least(ld, rd))
    def pick(c: String) = when(useLeft, col(s"__bl.$c")).otherwise(col(s"__br.$c"))
    points
      .select(col("*"), inline(IntervalExprs.nearest(col(chromCol), col(posCol), ix)))
      .filter(dist <= maxDist)
      .select(col(chromCol) +: ptCols.map(col) ++:
        (Seq(startCol, endCol) ++ ivPayload).map(c => pick(c).as(c)) :+
        dist.as(distCol): _*)
  }

  /** MERGE overlapping (or `slack`-adjacent) intervals per chromosome —
    * the `bedtools merge` analogue, the normalization step upstream of
    * coverage math and target-region bookkeeping. Classic sweep as ONE
    * window pass: order intervals by (start, end) within each chrom,
    * prefix-max the ends of the PRECEDING rows, open a new block where
    * `start > prev_running_max_end + slack`, prefix-sum the block flags
    * into a block id, then one aggregation per (chrom, block) emits
    * (start, end, n_merged).
    *
    * Scale note: the window partitions by chromosome — per-partition
    * work is bounded by per-chrom interval counts (feature sets are
    * orders of magnitude smaller than the variant data they annotate;
    * the human genome's largest chromosome carries ~8% of features). A
    * bucket decomposition cannot replace the sweep here: merges CHAIN —
    * one overlapping pair at a bucket boundary can fuse blocks
    * arbitrarily far apart, which is connected components, not a join.
    */
  def mergeIntervals(
      intervals: DataFrame,
      chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end",
      slack: Long = 0L): DataFrame = {
    require(slack >= 0, s"slack must be non-negative, got $slack")
    val byPos = Window.partitionBy(col(chromCol))
      .orderBy(col(startCol).asc, col(endCol).asc)
    val prevMax = max(col(endCol)).over(
      byPos.rowsBetween(Window.unboundedPreceding, -1))
    val newBlock = when(
      prevMax.isNull || col(startCol) > prevMax + slack, 1L).otherwise(0L)
    intervals
      // two window steps over the SAME (partition, order): the second
      // reuses the first's exchange + sort — one shuffle total
      .withColumn("__new", newBlock)
      .withColumn("__blk", sum(col("__new")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(chromCol), col("__blk"))
      .agg(min(col(startCol)).as(startCol), max(col(endCol)).as(endCol),
        count(lit(1)).as("n_merged"))
      .drop("__blk")
  }

  /** SUBTRACT mask intervals from region intervals — the `bedtools
    * subtract` analogue, the other half of mask algebra next to
    * [[mergeIntervals]]: clip every region to the parts NO mask
    * covers (callability masks, blacklist regions, repeat tracks).
    * Output rows are the kept sub-intervals with the region's payload
    * columns preserved; regions fully covered emit nothing; regions
    * the mask never touches pass through whole.
    *
    * Contract: region rows must be UNIQUE on (chrom, start, end) —
    * the per-region gap walk keys on them (normalize with
    * [[mergeIntervals]] upstream if needed). The mask needs no
    * normalization: it is merged internally, so the per-region
    * overlapping mask spans are DISJOINT and the kept gaps fall out
    * of one `lag` pass.
    *
    * Scale shape: mask merge = [[mergeIntervals]]'s one window; the
    * region×mask pairing is one [[intervalOverlap]] probe of the merged
    * mask's index (each pair exactly once); the gap walk windows per REGION — the
    * partition is a region's own overlap count, never a chromosome;
    * the after-last-mask piece is one partial-aggregated groupBy on
    * the same key; untouched regions return via one anti-join. No
    * corpus-sized sort, no per-chrom funnel.
    */
  def subtractIntervals(
      regions: DataFrame, mask: DataFrame,
      chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end"): DataFrame = {
    val reserved = Seq("__bs", "__be", "__gs", "__ge", "__maxbe")
    require(!regions.columns.exists(reserved.contains),
      s"regions carries a reserved internal column " +
        s"(${reserved.mkString(", ")}); rename it first")
    val payload = regions.columns
      .filterNot(c => c == chromCol || c == startCol || c == endCol).toSeq
    val outCols = (Seq(chromCol, startCol, endCol) ++ payload).map(col)
    val bm = mergeIntervals(
        mask.select(col(chromCol), col(startCol), col(endCol)),
        chromCol, startCol, endCol)
      .select(col(chromCol), col(startCol).as("__bs"),
        col(endCol).as("__be"))
    val ov = intervalOverlap(regions, bm, chromCol, startCol, endCol,
      "__bs", "__be")
    val wR = Window
      .partitionBy(Seq(chromCol, startCol, endCol).map(col): _*)
      .orderBy(col("__bs"))
    // gap BEFORE each mask span: from the previous span's end (or the
    // region start) up to this span's start
    val before = ov
      .withColumn("__gs", greatest(col(startCol),
        coalesce(lag(col("__be"), 1).over(wR) + 1L, col(startCol))))
      .withColumn("__ge", col("__bs") - 1L)
      .filter(col("__gs") <= col("__ge"))
      .select(col(chromCol) +: col("__gs").as(startCol) +:
        col("__ge").as(endCol) +: payload.map(col): _*)
    // gap AFTER the region's last mask span
    val after = ov
      .groupBy((Seq(chromCol, startCol, endCol) ++ payload).map(col): _*)
      .agg(max(col("__be")).as("__maxbe"))
      .filter(col("__maxbe") < col(endCol))
      .select(col(chromCol) +: (col("__maxbe") + 1L).as(startCol) +:
        col(endCol) +: payload.map(col): _*)
    // untouched regions pass through whole
    val untouched = regions
      .join(ov.select(col(chromCol), col(startCol), col(endCol)).distinct(),
        Seq(chromCol, startCol, endCol), "left_anti")
      .select(outCols: _*)
    before.unionByName(after).unionByName(untouched)
  }

  /** Coordinate LIFTOVER — the UCSC liftOver / CrossMap analogue: map
    * each point (chromCol, posCol, …) through a CHAIN of alignment
    * blocks (chromCol, startCol, endCol → dstChromCol, dstStartCol,
    * strandCol) into target coordinates. A point inside a block's
    * closed source interval maps to
    * `dst_start + (pos − start)` on '+' blocks and
    * `dst_start + (end − pos)` on '−' blocks (the strand flip);
    * points no block covers survive with NULL target columns and
    * `mapped = false` — remap pipelines need the unmapped rows (they
    * are the QC output), so this is ONE outer probe of the chain's
    * index, not an inner join plus a second anti-join pass.
    *
    * Contract: chain blocks must be source-disjoint per chromosome
    * (the chain-file invariant) — overlapping blocks would duplicate
    * points. Scale shape: chain files are bounded by genome size, not
    * corpus size (~thousands of blocks), so the chain is the indexed
    * side and the point side — the 100 TB side — never shuffles and
    * keeps its partitioning.
    */
  def liftover(
      points: DataFrame, chain: DataFrame,
      chromCol: String = "chrom", posCol: String = "pos",
      startCol: String = "start", endCol: String = "end",
      dstChromCol: String = "dst_chrom", dstStartCol: String = "dst_start",
      strandCol: String = "strand"): DataFrame = {
    val ix = IntervalIndex.collect(
      chain.select(col(chromCol), col(startCol).as("__s"), col(endCol).as("__e"),
        col(dstChromCol).as("__dc"), col(dstStartCol).as("__ds"),
        col(strandCol).as("__st")),
      chromCol, "__s", "__e", "liftover", "chain")
    points.select(col("*"),
        inline_outer(IntervalExprs.hits(col(chromCol), col(posCol), col(posCol), ix)))
      .select(points.columns.map(col) ++ Seq(
        col("__dc").as("new_chrom"),
        when(col("__st") === "+", col("__ds") + (col(posCol) - col("__s")))
          .when(col("__st") === "-", col("__ds") + (col("__e") - col(posCol)))
          .as("new_pos")): _*)
      .withColumn("mapped", col("new_pos").isNotNull)
  }

  /** COVERAGE-DEPTH histogram over closed intervals — the `bedtools
    * genomecov` analogue ("how many bases are covered by exactly d
    * targets/reads/amplicons"), the QC summary capture-kit and
    * amplicon designs are judged by: per (chrom, depth ≥ 1), the
    * number of bases covered by exactly `depth` intervals.
    *
    * Shape: the classic ±1 EVENT SWEEP as declarative algebra — each
    * interval emits (start, +1) and (end+1, −1), coincident events
    * collapse in one partial-aggregated (chrom, pos) groupBy, a
    * per-chrom prefix sum turns deltas into the depth of the segment
    * [pos, next_pos), and one aggregation bins segment lengths by
    * depth. Like [[mergeIntervals]] (and unlike the indexed joins) the
    * sweep is the correct distributed shape here: depth CHAINS through
    * every preceding event, so no per-row probe can localize it, while the window's per-chrom partitions are bounded by
    * DISTINCT event positions (≤ 2·intervals). All arithmetic is exact
    * int64; the zero-depth gaps and the unbounded tail after the last
    * event carry no rows by construction (Σdeltas = 0 per chrom).
    */
  def coverageDepth(
      intervals: DataFrame,
      chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end"): DataFrame = {
    val ev = intervals
      .select(col(chromCol).as("chrom"),
        explode(array(
          struct(col(startCol).cast("long").as("pos"), lit(1L).as("d")),
          struct((col(endCol).cast("long") + 1L).as("pos"),
            lit(-1L).as("d")))).as("e"))
      .select(col("chrom"), col("e.pos").as("pos"), col("e.d").as("d"))
      .groupBy("chrom", "pos").agg(sum(col("d")).as("__delta"))
    val byPos = Window.partitionBy("chrom").orderBy("pos")
    ev
      .withColumn("depth", sum(col("__delta")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__next", lead(col("pos"), 1).over(byPos))
      .filter(col("depth") > 0L && col("__next").isNotNull)
      .groupBy(col("chrom"), col("depth"))
      .agg(sum(col("__next") - col("pos")).as("n_bases"))
  }
}
