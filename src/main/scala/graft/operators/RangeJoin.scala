package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed genomic RANGE join (point-in-interval) — the operator
  * behind "which gene/regulatory region does each variant fall in".
  * Spark has no index nested-loop join, and a naive
  * `chrom = chrom AND pos BETWEEN start AND end` plans the inequality
  * as a per-chromosome broadcast-nested-loop — quadratic per chrom at
  * 100 TB. The standard distributed reduction: decompose intervals into
  * the fixed-width position buckets they span (explode — intervals are
  * the small side and grow by span/width rows only), bucket the point
  * side's position, and EQUI-join on (chrom, bucket) with the exact
  * range predicate applied in-join. Candidates per point are bounded by
  * interval-density × (width/bucket + 1); both sides shuffle once on
  * (chrom, bucket) — or zero times when the points land pre-bucketed
  * (`VcfReader.toBucketedTable`'s (chrom, pos_bucket) layout uses the
  * same `pos >> 20` bucket function at the default shift).
  *
  * The nearest-feature join is not a bucket join: a point's nearest
  * interval may sit any number of buckets away, so [[nearestInterval]]
  * is one per-chromosome sort-merge sweep at every radius, with one
  * tie rule (covered, then left, then max end / min start).
  */
object RangeJoin {

  /** Join `points` (chromCol, posCol, …) to every row of `intervals`
    * (chromCol, startCol, endCol, …) whose closed interval contains the
    * point. Output carries the point columns plus the interval's
    * non-join columns. `bucketShift` sets the bucket width (2^shift bp)
    * — match it to interval width (width ≈ bucket ⇒ ≤2 buckets per
    * interval); the default 20 (~1 Mb) matches the landing layout.
    */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      chromCol: String = "chrom", posCol: String = "pos",
      startCol: String = "start", endCol: String = "end",
      bucketShift: Int = 20): DataFrame = {
    require(bucketShift >= 0 && bucketShift < 32,
      s"bucketShift must be in [0, 32), got $bucketShift")
    val iv = intervals.withColumn("__b",
      explode(sequence(
        shiftright(col(startCol), bucketShift),
        shiftright(col(endCol), bucketShift))))
      .alias("i")
    val p = points
      .withColumn("__b", shiftright(col(posCol), bucketShift))
      .alias("p")
    p.join(iv,
        col(s"p.$chromCol") === col(s"i.$chromCol") &&
          col("p.__b") === col("i.__b") &&
          col(s"p.$posCol").between(col(s"i.$startCol"), col(s"i.$endCol")))
      .drop(col(s"i.$chromCol"))
      .drop(col("p.__b")).drop(col("i.__b"))
  }

  /** Interval-interval OVERLAP join (closed intervals; `left` carries
    * `startCol`/`endCol`, `right` carries `rStartCol`/`rEndCol` — the
    * caller renames so output columns cannot collide). Same bucket
    * decomposition as [[pointInInterval]], both sides exploded; each
    * overlapping pair is emitted EXACTLY once because only the bucket
    * containing `max(start_l, start_r)` emits it — that bucket lies in
    * both spans precisely when the intervals overlap (max(start) ≤
    * min(end)), so no downstream distinct is needed (a distinct would
    * be a second shuffle of the full pair stream).
    */
  def intervalOverlap(
      left: DataFrame, right: DataFrame,
      chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end",
      rStartCol: String = "r_start", rEndCol: String = "r_end",
      bucketShift: Int = 20): DataFrame = {
    require(bucketShift >= 0 && bucketShift < 32,
      s"bucketShift must be in [0, 32), got $bucketShift")
    def burst(df: DataFrame, s: String, e: String) =
      df.withColumn("__b", explode(sequence(
        shiftright(col(s), bucketShift), shiftright(col(e), bucketShift))))
    val l = burst(left, startCol, endCol).alias("l")
    val r = burst(right, rStartCol, rEndCol).alias("r")
    l.join(r,
        col(s"l.$chromCol") === col(s"r.$chromCol") &&
          col("l.__b") === col("r.__b") &&
          col(s"l.$startCol") <= col(s"r.$rEndCol") &&
          col(s"r.$rStartCol") <= col(s"l.$endCol") &&
          col("l.__b") === shiftright(
            greatest(col(s"l.$startCol"), col(s"r.$rStartCol")), bucketShift))
      .drop(col(s"r.$chromCol"))
      .drop(col("l.__b")).drop(col("r.__b"))
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
    * Shape: one per-chromosome SORT-MERGE SWEEP, the [[mergeIntervals]]
    * window pattern: union the points with the intervals keyed at their
    * start coordinate, then over ONE (chrom)-partitioned ordering take
    * (a) the running max-end interval among starts ≤ pos — if its end
    * ≥ pos the point is COVERED (dist 0), else it is the true nearest
    * LEFT neighbor (every uncovered start-≤-pos interval ends before
    * pos) — and (b) in the reversed ordering the running min-start
    * interval among starts ≥ pos, the nearest RIGHT neighbor; emit the
    * nearer. Tie rule: covered, then left, then the left neighbor with
    * the max (end, start, payload…) / the right neighbor with the min
    * (start, end, payload…) — deterministic; `dist` itself is always
    * the true minimum, which is what aggregates downstream should read.
    *
    * Cost: ONE exchange on chrom (the second window reuses the first's
    * partitioning — opposite sort, no re-shuffle), O(points +
    * intervals) rows, no join fan-out and no radius-dependent work for
    * any interval geometry. Each chromosome is one task, the
    * [[mergeIntervals]] scale note. Interval payload + start/end columns
    * must not collide with point columns (caller renames, the
    * [[intervalOverlap]] contract), and `distCol` must not pre-exist on
    * either input.
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
      s"interval columns $clash collide with point columns — rename them before the sweep")
    require(!points.columns.contains(distCol) && !intervals.columns.contains(distCol),
      s"output column '$distCol' already exists on an input — pass distCol to rename it")
    val reserved = ivPayload.filter(Set("__e", "__s"))
    require(reserved.isEmpty,
      s"interval payload columns $reserved collide with the sweep's internal struct fields")

    // one unified event stream: interval rows enter at coord = start
    // carrying themselves twice — end-major for the left pass's running
    // max, start-major for the right pass's running min (struct
    // comparison is field-order lexicographic)
    val ivL = struct(col(endCol).as("__e") +: col(startCol).as("__s") +:
      ivPayload.map(col): _*)
    val ivR = struct(col(startCol).as("__s") +: col(endCol).as("__e") +:
      ivPayload.map(col): _*)
    val ptCols = points.columns.toSeq.filterNot(_ == chromCol)
    val iv = intervals.select(
      col(chromCol) +: col(startCol).cast("long").as("__coord") +:
        lit(0).as("__tag") +: ivL.as("__il") +: ivR.as("__ir") +:
        ptCols.map(c => lit(null).cast(points.schema(c).dataType).as(c)): _*)
    val ivLType = intervals.select(ivL).schema.head.dataType
    val ivRType = intervals.select(ivR).schema.head.dataType
    val pt = points.select(
      col(chromCol) +: col(posCol).cast("long").as("__coord") +:
        lit(1).as("__tag") +: lit(null).cast(ivLType).as("__il") +:
        lit(null).cast(ivRType).as("__ir") +: ptCols.map(col): _*)

    // intervals sort before points at equal coordinate (tag asc) so a
    // start == pos interval is visible to the covering test
    val wl = Window.partitionBy(col(chromCol))
      .orderBy(col("__coord").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wr = Window.partitionBy(col(chromCol))
      .orderBy(col("__coord").desc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pos = col("__coord")
    val covered = col("__bl").isNotNull && col("__bl.__e") >= pos
    val ld = when(col("__bl").isNotNull, (pos - col("__bl.__e")).cast("long"))
    val rd = when(col("__br").isNotNull, (col("__br.__s") - pos).cast("long"))
    val useLeft = covered ||
      (col("__bl").isNotNull && (col("__br").isNull || ld <= rd))
    val dist = when(covered, lit(0L)).otherwise(least(ld, rd))
    def pick(l: Column, r: Column) = when(useLeft, l).otherwise(r)
    iv.unionByName(pt)
      .withColumn("__bl", max(col("__il")).over(wl))
      .withColumn("__br", min(col("__ir")).over(wr))
      // `dist` is NULL only with no interval on either side, so the
      // radius test also drops points on interval-less chromosomes
      .filter(col("__tag") === 1 && dist <= maxDist)
      .select(col(chromCol) +: ptCols.map(col) ++: Seq(
        pick(col("__bl.__s"), col("__br.__s")).as(startCol),
        pick(col("__bl.__e"), col("__br.__e")).as(endCol)) ++:
        ivPayload.map(c => pick(col(s"__bl.$c"), col(s"__br.$c")).as(c)) :+
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
    * region×mask pairing is the [[intervalOverlap]] bucket equi-join
    * (each pair exactly once); the gap walk windows per REGION — the
    * partition is a region's own overlap count, never a chromosome;
    * the after-last-mask piece is one partial-aggregated groupBy on
    * the same key; untouched regions return via one anti-join. No
    * corpus-sized sort, no per-chrom funnel.
    */
  def subtractIntervals(
      regions: DataFrame, mask: DataFrame,
      chromCol: String = "chrom",
      startCol: String = "start", endCol: String = "end"): DataFrame = {
    val reserved = Seq("__bs", "__be", "__b", "__gs", "__ge", "__maxbe")
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
    * are the QC output), so this is ONE bucketed LEFT equi-join, not
    * an inner join plus a second anti-join pass over the corpus.
    *
    * Contract: chain blocks must be source-disjoint per chromosome
    * (the chain-file invariant) — overlapping blocks would duplicate
    * points. Scale shape: chain files are bounded by genome size, not
    * corpus size (~thousands of blocks), so the exploded chain
    * BROADCASTS and the point side — the 100 TB side — never
    * shuffles and keeps its partitioning.
    */
  def liftover(
      points: DataFrame, chain: DataFrame,
      chromCol: String = "chrom", posCol: String = "pos",
      startCol: String = "start", endCol: String = "end",
      dstChromCol: String = "dst_chrom", dstStartCol: String = "dst_start",
      strandCol: String = "strand",
      bucketShift: Int = 20): DataFrame = {
    require(bucketShift >= 0 && bucketShift < 32,
      s"bucketShift must be in [0, 32), got $bucketShift")
    val iv = chain.withColumn("__b",
      explode(sequence(
        shiftright(col(startCol), bucketShift),
        shiftright(col(endCol), bucketShift))))
      .alias("i")
    val p = points
      .withColumn("__b", shiftright(col(posCol), bucketShift))
      .alias("p")
    p.join(broadcast(iv),
        col(s"p.$chromCol") === col(s"i.$chromCol") &&
          col("p.__b") === col("i.__b") &&
          col(s"p.$posCol").between(col(s"i.$startCol"), col(s"i.$endCol")),
        "left")
      .withColumn("new_chrom", col(s"i.$dstChromCol"))
      .withColumn("new_pos",
        when(col(s"i.$strandCol") === "+",
          col(s"i.$dstStartCol") + (col(s"p.$posCol") - col(s"i.$startCol")))
          .when(col(s"i.$strandCol") === "-",
            col(s"i.$dstStartCol") + (col(s"i.$endCol") - col(s"p.$posCol"))))
      .withColumn("mapped", col("new_pos").isNotNull)
      .select(col("p.*") +: Seq(col("new_chrom"), col("new_pos"),
        col("mapped")): _*)
      .drop("__b")
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
    * depth. Like [[mergeIntervals]] (and unlike the bucket joins) the
    * sweep is the correct distributed shape here: depth CHAINS through
    * every preceding event, so a bucket decomposition cannot localize
    * it, while the window's per-chrom partitions are bounded by
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
