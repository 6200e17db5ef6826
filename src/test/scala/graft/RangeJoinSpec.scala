package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin

/** Hand-computed truth for the nearest-feature join (q83/q101's
  * operator) — the oracled gates aggregate distances per chrom, so the
  * pairwise contract (who matched whom, radius drops, one row per point
  * row, the sweep's tie rule: covered, then left, then max end / min
  * start) is pinned here, along with the other interval operators.
  */
class RangeJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val intervals = Seq(
    ("1", 10, 40, "g_a"),
    ("1", 100, 120, "g_b"),
    ("1", 100, 130, "g_c"), // same start as g_b, longer
    ("2", 50, 60, "g_d"))
    .toDF("chrom", "start", "end", "gene")

  test("nearestInterval: containment wins at dist 0, exactly once") {
    val points = Seq(("1", 25, "p_in")).toDF("chrom", "pos", "id")
    val got = RangeJoin.nearestInterval(points, intervals, maxDist = 50L)
      .collect()
    // g_a covers the point; g_b/g_c lie 75 away: exactly ONE row
    assert(got.length === 1)
    assert(got.head.getAs[String]("gene") === "g_a")
    assert(got.head.getAs[Long]("dist") === 0L)
  }

  test("nearestInterval: out-of-radius points drop; nearest-by-distance wins") {
    val points = Seq(
      ("1", 70, "p_mid"),   // 30 from g_a's end, 30 from g_b/g_c's start
      ("1", 95, "p_near"),  // 5 from g_b and g_c (tie), 55 from g_a
      ("1", 500, "p_far"),  // nothing within 50
      ("2", 45, "p_c2"),    // 5 from g_d; chrom 1 intervals must not leak
      ("3", 55, "p_c3"))    // right pos, wrong chrom
      .toDF("chrom", "pos", "id")
    val got = RangeJoin.nearestInterval(points, intervals, maxDist = 50L)
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[String]("gene"), r.getAs[Long]("dist"))).toMap
    assert(!got.contains("p_far"), "out-of-radius point leaked through")
    assert(!got.contains("p_c3"), "nearest join crossed chromosomes")
    assert(got("p_c2") === ("g_d", 5L))
    // p_mid: g_a end=40 → dist 30 on the left; g_b/g_c start=100 → dist
    // 30 on the right; an equal-distance tie picks the LEFT neighbor
    assert(got("p_mid") === ("g_a", 30L))
    // p_near: right neighbors g_b and g_c tie at dist 5 with equal
    // start; the min (start, end) right neighbor is the shorter g_b;
    // dist is the true minimum either way
    assert(got("p_near")._2 === 5L)
    assert(got("p_near")._1 === "g_b")
  }

  test("mergeIntervals: chains fuse, gaps split, slack bridges, one shuffle") {
    val iv = Seq(
      // chrom 1: [10,20] [15,40] [41,50] chain? 41 > 40 → new block at
      // slack 0, fused at slack 1; [100,110] isolated
      ("1", 10, 20), ("1", 15, 40), ("1", 41, 50), ("1", 100, 110),
      // containment: [5,90] swallows [10,20][30,40]
      ("2", 5, 90), ("2", 10, 20), ("2", 30, 40),
      // identical rows: tie order can't split them
      ("3", 7, 9), ("3", 7, 9))
      .toDF("chrom", "start", "end").repartition(3)
    def got(slack: Long) = RangeJoin.mergeIntervals(iv, slack = slack)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got(0L) === Set(
      ("1", 10, 40, 2L), ("1", 41, 50, 1L), ("1", 100, 110, 1L),
      ("2", 5, 90, 3L), ("3", 7, 9, 2L)))
    assert(got(1L) === Set(
      ("1", 10, 50, 3L), ("1", 100, 110, 1L),
      ("2", 5, 90, 3L), ("3", 7, 9, 2L)))
    // the sweep is ONE exchange: hash(chrom) serves the window AND both
    // groupings below it
    val plan = RangeJoin.mergeIntervals(iv).queryExecution.executedPlan
      .toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"interval merge shuffles more than once:\n$plan")
  }

  test("subtractIntervals: multi-cut, full cover, untouched, edge " +
      "clips, adjacent masks, overlapping masks merge, payload rides") {
    val regions = Seq(
      ("1", 10L, 100L, "a"),   // two interior masks → three pieces
      ("1", 200L, 300L, "b"),  // fully covered → nothing
      ("1", 400L, 450L, "c"),  // untouched → whole
      ("1", 500L, 600L, "d"),  // mask covers the start
      ("1", 700L, 800L, "e"),  // mask covers the end
      ("1", 900L, 950L, "f"),  // ADJACENT masks: no empty gap between;
                               // the e-mask [780,900] also clips base 900
      ("1", 1000L, 1100L, "g")) // overlapping masks must merge first
      .toDF("chrom", "start", "end", "name")
    val mask = Seq(
      ("1", 20L, 30L), ("1", 50L, 60L),
      ("1", 150L, 350L),
      ("1", 480L, 520L),
      ("1", 780L, 900L),
      ("1", 905L, 910L), ("1", 911L, 920L),
      ("1", 1010L, 1050L), ("1", 1040L, 1080L))
      .toDF("chrom", "start", "end")
    val out = RangeJoin.subtractIntervals(regions.repartition(3),
        mask.repartition(2))
      .as[(String, Long, Long, String)].collect().toSet
    assert(out === Set(
      ("1", 10L, 19L, "a"), ("1", 31L, 49L, "a"), ("1", 61L, 100L, "a"),
      ("1", 400L, 450L, "c"),
      ("1", 521L, 600L, "d"),
      ("1", 700L, 779L, "e"),
      ("1", 901L, 904L, "f"), ("1", 921L, 950L, "f"),
      ("1", 1000L, 1009L, "g"), ("1", 1081L, 1100L, "g")))
  }

  test("subtractIntervals property sweep: 15 seeded-random fixtures " +
      "match the plain-Scala complement exactly") {
    val rnd = new scala.util.Random(20260815L)
    // plain-Scala reference: per region, the complement of the union
    // of mask overlaps, walked base-free over sorted merged spans
    def reference(regions: Seq[(String, Long, Long)],
        masks: Seq[(String, Long, Long)]): Set[(String, Long, Long)] =
      regions.flatMap { case (c, s, e) =>
        val spans = masks.filter(m => m._1 == c && m._2 <= e && m._3 >= s)
          .map(m => (math.max(m._2, s), math.min(m._3, e)))
          .sortBy(identity)
          .foldLeft(List.empty[(Long, Long)]) {
            case (acc @ ((ps, pe) :: rest), (ms, me)) =>
              if (ms <= pe + 1) (ps, math.max(pe, me)) :: rest
              else (ms, me) :: acc
            case (Nil, m) => m :: Nil
          }.reverse
        var cur = s
        val kept = scala.collection.mutable.Buffer[(String, Long, Long)]()
        spans.foreach { case (ms, me) =>
          if (cur < ms) kept += ((c, cur, ms - 1))
          cur = math.max(cur, me + 1)
        }
        if (cur <= e) kept += ((c, cur, e))
        kept
      }.toSet
    (1 to 15).foreach { case_ =>
      // disjoint regions per chrom (unique-key contract) on 2 chroms
      val regions = (0 until 2).flatMap { ci =>
        var cur = 0L
        (0 until 1 + rnd.nextInt(8)).map { _ =>
          val s = cur + 1 + rnd.nextLong(30L)
          val e = s + rnd.nextLong(120L)
          cur = e
          (s"c$ci", s, e)
        }
      }
      val masks = (0 until rnd.nextInt(25)).map { _ =>
        val s = 1 + rnd.nextLong(800L)
        (s"c${rnd.nextInt(2)}", s, s + rnd.nextLong(60L))
      }
      val got =
        if (masks.isEmpty)
          RangeJoin.subtractIntervals(
            regions.toDF("chrom", "start", "end"),
            Seq(("zz", 1L, 1L)).toDF("chrom", "start", "end"))
            .as[(String, Long, Long)].collect().toSet
        else
          RangeJoin.subtractIntervals(
            regions.toDF("chrom", "start", "end"),
            masks.toDF("chrom", "start", "end"))
            .as[(String, Long, Long)].collect().toSet
      val want = reference(regions,
        if (masks.isEmpty) Seq(("zz", 1L, 1L)) else masks)
      assert(got === want, s"case $case_: regions=$regions masks=$masks")
    }
  }

  test("nearestInterval: deterministic plan (no synthetic row ids), " +
      "duplicate point rows each emit") {
    val points = Seq(("1", 25, "a"), ("1", 25, "b"), ("1", 25, "b"))
      .toDF("chrom", "pos", "id")
    // no nondeterministic expression anywhere in the plan: under AQE
    // re-planning or stage retry a monotonically_increasing_id key
    // could shift row identity; the sweep carries none
    val analyzed = RangeJoin.nearestInterval(points, intervals, maxDist = 50L)
      .queryExecution.analyzed
    val nondet = analyzed.collect {
      case p if p.expressions.exists(!_.deterministic) => p.nodeName }
    assert(nondet.isEmpty && !analyzed.toString.contains("monotonically_increasing_id"),
      s"nearestInterval plan carries a nondeterministic expression in: $nondet")
    // every point ROW is its own point: the byte-identical "b" rows
    // keep both outputs
    val ids = RangeJoin.nearestInterval(points, intervals, maxDist = 50L)
      .collect().map(_.getAs[String]("id")).sorted.toSeq
    assert(ids === Seq("a", "b", "b"))
  }

  test("nearestInterval unbounded: sweep matches hand truth, edges + ties + one exchange") {
    val points = Seq(
      ("1", 3, "p_before"),   // before the first interval: nearest g_a at 7
      ("1", 25, "p_in"),      // covered by g_a: dist 0
      ("1", 70, "p_tie"),     // 30 left to g_a's end, 30 right to g_b/g_c: tie → LEFT (g_a)
      ("1", 5000, "p_after"), // far past the last interval: g_c (end 130) wins over g_b (end 120)
      ("2", 45, "p_c2"),      // 5 from g_d; chrom-1 intervals must not leak
      ("3", 55, "p_none"))    // chromosome with no intervals: drops
      .toDF("chrom", "pos", "id")
    val got = RangeJoin.nearestInterval(points, intervals)
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[String]("gene"), r.getAs[Long]("dist"))).toMap
    assert(!got.contains("p_none"), "point on an interval-less chromosome leaked")
    assert(got("p_before") === ("g_a", 7L))
    assert(got("p_in") === ("g_a", 0L))
    assert(got("p_tie") === ("g_a", 30L), "equal-distance tie must pick the left neighbor")
    assert(got("p_after") === ("g_c", 4870L), "left neighbor must be the max-END interval")
    assert(got("p_c2") === ("g_d", 5L))
    // a radius keeps exactly the in-radius rows of the unbounded call
    val bounded = RangeJoin.nearestInterval(points, intervals, maxDist = 50L)
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[String]("gene"), r.getAs[Long]("dist"))).toMap
    assert(bounded === got.filter(_._2._2 <= 50L))
    // ONE exchange: the reversed second window reuses the chrom
    // partitioning — only a re-sort, never a re-shuffle
    val plan = RangeJoin.nearestInterval(points, intervals)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"nearest sweep shuffles more than once:\n$plan")
  }

  test("nearestInterval: every point emits at most one row (no bucket dup)") {
    // points sprayed across a long interval's radius: each must emit 0
    // or 1 rows, never more
    val points = (0 until 200).map(i => ("1", i * 3, s"p$i"))
      .toDF("chrom", "pos", "id")
    val out = RangeJoin.nearestInterval(points, intervals, maxDist = 40L)
      .groupBy("id").count().filter(col("count") > 1).collect()
    assert(out.isEmpty, s"duplicate emissions: ${out.mkString(",")}")
  }

  test("nearestInterval property sweep: 8 seeded-random fixtures × 4 " +
      "radii match the brute-force minimum dist and the tie rule, one " +
      "row per in-radius point row") {
    val rnd = new scala.util.Random(20261019L)
    type Iv = (String, Int, Int, String)
    def dist(pos: Int, iv: Iv): Long =
      math.max(math.max(iv._2 - pos, pos - iv._3), 0).toLong
    // the documented pick, in plain Scala: the max (end, start, gene)
    // interval starting at or before pos covers it or is the left
    // neighbor; the min (start, end, gene) one starting at or after pos
    // is the right neighbor; covered, then left on equal distance
    def pick(chrom: String, pos: Int, ivs: Seq[Iv]): Option[Iv] = {
      val on = ivs.filter(_._1 == chrom)
      val l = on.filter(_._2 <= pos).maxByOption(iv => (iv._3, iv._2, iv._4))
      val r = on.filter(_._2 >= pos).minByOption(iv => (iv._2, iv._3, iv._4))
      (l, r) match {
        case (Some(a), Some(b)) => Some(if (dist(pos, a) <= dist(pos, b)) a else b)
        case _ => l.orElse(r)
      }
    }
    (1 to 8).foreach { case_ =>
      // c0/c1 carry intervals, c2 none; some intervals nest inside
      // another, possibly sharing its start or end
      val base = (0 until 2).flatMap { ci =>
        (0 until 1 + rnd.nextInt(10)).map { k =>
          val s = rnd.nextInt(400)
          (s"c$ci", s, s + rnd.nextInt(60), s"g$ci-$k")
        }
      }
      val nested = base.filter(_ => rnd.nextInt(3) == 0).zipWithIndex.map {
        case ((c, s, e, g), k) =>
          val ns = s + rnd.nextInt(e - s + 1)
          (c, ns, ns + rnd.nextInt(e - ns + 1), s"$g-n$k")
      }
      val ivs = base ++ nested
      // equal-distance ties: a point midway between a left interval's
      // end and a right interval's start
      val ties = for {
        a <- ivs; b <- ivs
        if a._1 == b._1 && b._2 > a._3 && (b._2 - a._3) % 2 == 0
      } yield (a._1, (a._3 + b._2) / 2)
      val sites = (0 until 40).map(_ =>
          (s"c${rnd.nextInt(3)}", rnd.nextInt(500))) ++
        ivs.take(3).map(iv => (iv._1, iv._2 + (iv._3 - iv._2) / 2)) ++ // covered
        rnd.shuffle(ties).take(5)
      val points = sites.zipWithIndex.map { case ((c, p), i) => (c, p, s"p$i") }
      // byte-identical duplicate rows: each must emit its own row
      val rows = points ++ points.take(4)
      val pointsDf = rows.toDF("chrom", "pos", "id")
      val ivDf = ivs.toDF("chrom", "start", "end", "gene")
      for (radius <- Seq(0L, 7L, 40L, Long.MaxValue)) {
        val out =
          (if (radius == Long.MaxValue) RangeJoin.nearestInterval(pointsDf, ivDf)
           else RangeJoin.nearestInterval(pointsDf, ivDf, radius))
            .select("chrom", "pos", "id", "start", "end", "gene", "dist")
            .as[(String, Int, String, Int, Int, String, Long)].collect()
        val byId = out.groupBy(_._3)
        val ctx = s"case $case_ radius $radius: intervals=$ivs points=$rows"
        points.foreach { case (c, p, id) =>
          val onChrom = ivs.filter(_._1 == c)
          val want = onChrom.map(dist(p, _)).minOption.filter(_ <= radius)
          val got = byId.get(id).toSeq.flatten
          val copies = rows.count(_._3 == id)
          assert(got.length === (if (want.isDefined) copies else 0),
            s"$id at $c:$p emitted ${got.length} rows; $ctx")
          got.foreach { r =>
            assert(Some(r._7) === want, s"$id dist ${r._7} != brute-force $want; $ctx")
            assert(pick(c, p, ivs).contains((c, r._4, r._5, r._6)),
              s"$id picked ${(r._4, r._5, r._6)}, tie rule says ${pick(c, p, ivs)}; $ctx")
          }
        }
        assert(byId.keySet.subsetOf(points.map(_._3).toSet), ctx)
      }
    }
  }

  test("coverageDepth: hand-computed histogram, adjacency, chrom isolation") {
    import spark.implicits._
    val iv = Seq(
      // chrom 1: [10,19] ∪ [15,24] overlap on [15,19]; [30,30] is a
      // 1-base island; [40,44] and [45,49] are ADJACENT (depth stays 1
      // through the touching boundary, no spurious depth-2)
      ("1", 10, 19), ("1", 15, 24), ("1", 30, 30),
      ("1", 40, 44), ("1", 45, 49),
      // chrom 2 must not leak into chrom 1's prefix sums
      ("2", 10, 19))
      .toDF("chrom", "start", "end")
    val out = graft.operators.RangeJoin.coverageDepth(iv)
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(
      // chrom 1 depth 1: [10,15) 5 + [20,25) 5 + [30,31) 1 + [40,50) 10
      ("1", 1L, 21L),
      ("1", 2L, 5L),   // [15,20)
      ("2", 1L, 10L)))
    // identical-interval duplicates: depth doubles, bases don't
    val dup = Seq(("1", 10, 19), ("1", 10, 19)).toDF("chrom", "start", "end")
    val d2 = graft.operators.RangeJoin.coverageDepth(dup)
      .as[(String, Long, Long)].collect().toSet
    assert(d2 === Set(("1", 2L, 10L)))
  }

  test("liftover: strand shift + flip, boundaries exact, unmapped survive") {
    val chain = Seq(
      ("1", 10, 19, "c1", 100, "+"),
      ("1", 30, 39, "c1", 200, "-"),  // strand flip
      ("2", 5, 40, "c2", 500, "+"))
      .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
    val pts = Seq(
      ("1", 10), ("1", 19),           // '+' block boundaries
      ("1", 30), ("1", 39),           // '-' block boundaries
      ("1", 25),                      // in the gap → unmapped
      ("2", 33),                      // inside the straddling block
      ("3", 10))                      // chrom with no chain → unmapped
      .toDF("chrom", "pos")
    val out = graft.operators.RangeJoin.liftover(pts, chain)
    // every point emits EXACTLY one row — mapped or not
    assert(out.count() === 7)
    val m = out.collect().map(r => (r.getString(0), r.getInt(1)) ->
      (Option(r.getString(2)), Option(r.get(3)), r.getBoolean(4))).toMap
    assert(m(("1", 10)) === (Some("c1"), Some(100), true))
    assert(m(("1", 19)) === (Some("c1"), Some(109), true))
    // '-' maps start↔end: dst_start + (end - pos)
    assert(m(("1", 30)) === (Some("c1"), Some(209), true))
    assert(m(("1", 39)) === (Some("c1"), Some(200), true))
    assert(m(("1", 25)) === (None, None, false))
    assert(m(("2", 33)) === (Some("c2"), Some(528), true))
    assert(m(("3", 10)) === (None, None, false))
  }

  test("liftover roundtrip: the inverse chain restores every mapped point") {
    val chain = Seq(
      ("1", 10, 19, "c1", 100, "+"),
      ("1", 30, 39, "c1", 200, "-"))
      .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
    // the algebraic inverse: '+' blocks swap src/dst; '-' blocks stay
    // '-' with src = the reversed image interval
    val inverse = Seq(
      ("c1", 100, 109, "1", 10, "+"),
      ("c1", 200, 209, "1", 30, "-"))
      .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
    val pts = (10 to 19).map(("1", _)) ++ (30 to 39).map(("1", _))
    val once = graft.operators.RangeJoin
      .liftover(pts.toDF("chrom", "pos"), chain)
      .select(col("new_chrom").as("chrom"), col("new_pos").as("pos"),
        col("chrom").as("orig_chrom"), col("pos").as("orig_pos"))
    val back = graft.operators.RangeJoin
      .liftover(once, inverse)
      .select("orig_chrom", "orig_pos", "new_chrom", "new_pos", "mapped")
      .collect()
    assert(back.length === 20)
    back.foreach { r =>
      assert(r.getBoolean(4), s"roundtrip must map: $r")
      assert(r.getString(2) === r.getString(0) && r.getInt(3) === r.getInt(1),
        s"roundtrip must restore the original site: $r")
    }
  }

  test("liftover plan: one narrow index probe, point side never shuffles") {
    val chain = Seq(("1", 10, 19, "c1", 100, "+"))
      .toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand")
    val pts = Seq(("1", 12)).toDF("chrom", "pos")
    PlanGates.assertNarrowProbe("liftover", graft.operators.RangeJoin.liftover(pts, chain))
  }

  // ---- gVCF reference blocks (<NON_REF> + END spans) ----

  test("Gvcf.expandToSpans: END spans when declared and numeric, REF " +
      "footprint otherwise (multi-base deletions cover their run; " +
      "malformed/empty END falls back)") {
    import graft.operators.Gvcf
    val gv = Seq(
      ("1", 100, "A", "<NON_REF>", "END=199"),          // band
      ("1", 300, "T", "<DEL>", "DP=3;END=450;NS=2"),    // SV span, mid-INFO
      ("1", 500, "ACG", "A", "DP=9"),                   // footprint 500..502
      ("1", 600, "G", "C", "DP=1"),                     // SNV 600..600
      ("1", 700, "C", "<NON_REF>", "END="),             // empty → footprint
      ("1", 800, "CT", "<NON_REF>", "SOMEEND=900"),     // wrong key → footprint
      // partially-numeric END: the boundary-anchored extract must NOT
      // take the leading digits (END=12 would invert the span below
      // pos and cover nothing) — footprint fallback (r13 advisory)
      ("1", 900, "GA", "<NON_REF>", "END=12abc;DP=3"),
      ("1", 950, "G", "<NON_REF>", "DP=2;END=970"))     // trailing END ok
      .toDF("chrom", "pos", "ref", "alt", "info")
    val got = Gvcf.expandToSpans(gv)
      .select("pos", "start", "end").as[(Int, Int, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(100) === ((100, 199)))
    assert(got(300) === ((300, 450)))
    assert(got(500) === ((500, 502)))
    assert(got(600) === ((600, 600)))
    assert(got(700) === ((700, 700)))
    assert(got(800) === ((800, 801)))
    assert(got(900) === ((900, 901)))
    assert(got(950) === ((950, 970)))
  }

  test("Gvcf.locusQuery: probes hit covering bands at both closed " +
      "edges and inside, gaps emit nothing, chrom isolates, and the " +
      "plan is the bucket equi-join (never a nested loop)") {
    import graft.operators.Gvcf
    val gv = Seq(
      ("1", 100, "A", "<NON_REF>", "END=199", "b1"),
      ("1", 300, "ACG", "A", "DP=9", "d1"),             // 300..302
      ("2", 100, "A", "<NON_REF>", "END=199", "b2"))
      .toDF("chrom", "pos", "ref", "alt", "info", "rid")
    val loci = Seq(
      ("1", 100),   // band start edge → b1
      ("1", 199),   // band end edge (closed) → b1
      ("1", 150),   // inside → b1
      ("1", 200),   // one past END → gap
      ("1", 302),   // deletion footprint last base → d1
      ("1", 303),   // past footprint → gap
      ("2", 150),   // other chrom's band → b2
      ("3", 150))   // chrom with no records → gap
      .toDF("chrom", "pos")
    val q = Gvcf.locusQuery(gv, loci)
    val got = q.select("chrom", "pos", "rid")
      .as[(String, Int, String)].collect().toSet
    assert(got === Set(
      ("1", 100, "b1"), ("1", 199, "b1"), ("1", 150, "b1"),
      ("1", 302, "d1"), ("2", 150, "b2")))
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"gvcf locus query must never nested-loop:\n$plan")
  }

  test("Gvcf.cohortLocusState: per (locus, sample) the three-way " +
      "verdict — variant / ref_block / no_coverage — with the sample " +
      "panel gridded so absent coverage is reported, not conflated") {
    import graft.operators.Gvcf
    val gv = Seq(
      // sA: band over 100..199 + a variant at 150
      ("1", 100, "A", "<NON_REF>", "END=199", "sA", "0/0"),
      ("1", 150, "A", "T", "DP=9", "sA", "0/1"),
      // sB: band only over 180..220
      ("1", 180, "G", "<NON_REF>", "END=220", "sB", "0/0"))
      .toDF("chrom", "pos", "ref", "alt", "info", "sample_id", "gt")
    val loci = Seq(("1", 150), ("1", 210), ("1", 500))
      .toDF("chrom", "pos")
    val got = Gvcf.cohortLocusState(gv, loci)
      .select("pos", "sample_id", "state", "gt")
      .as[(Int, String, String, String)].collect().toSet
    assert(got === Set(
      // locus 150: sA has BOTH the band and the variant record
      (150, "sA", "variant", "0/1"),
      (150, "sA", "ref_block", "0/0"),
      (150, "sB", "no_coverage", null),
      (210, "sA", "no_coverage", null),
      (210, "sB", "ref_block", "0/0"),
      (500, "sA", "no_coverage", null),
      (500, "sB", "no_coverage", null)))
  }

  test("Gvcf.jointGenotype: argmin-PL recall with first-min ties and " +
      "GQ = second-min − min; a record whose GT disagrees with its own " +
      "PL gets corrected; ref bands recall through the same rule; " +
      "no_coverage is ./. with NULL gq; malformed/wrong-arity PL keeps " +
      "the record's GT (passthrough); a HAPLOID PL (nAlts+1 entries — " +
      "male chrX/Y) re-calls the argmin ALLELE as a single-allele GT") {
    import graft.operators.Gvcf
    val gv = Seq(
      // variant whose pipeline GT (0/1) disagrees with argmin (1/1):
      // PL [30, 12, 0] → i=2 → 1/1, gq = 12 − 0 = 12
      ("1", 100, "A", "T", "DP=9", "sA", "0/1", "30,12,0"),
      // exact TIE at slots 0 and 1 → FIRST minimum → 0/0, gq = 0
      ("1", 200, "C", "G", "DP=9", "sA", "0/1", "5,5,40"),
      // ref band: hom-ref likelihood band → 0/0, gq = 18
      ("1", 300, "G", "<NON_REF>", "END=350", "sA", "0/0", "0,18,255"),
      // malformed PL → passthrough GT, NULL gq
      ("1", 400, "T", "C", "DP=9", "sA", "1/1", "."),
      // HAPLOID: 2 slots for a biallelic site = one PL per ALLELE
      // (male chrX/Y) → argmin allele called as single-allele GT:
      // [7, 3] → allele 1, gq = 7 − 3 = 4 (corrects the planted 0)
      ("X", 500, "A", "G", "DP=9", "sA", "0", "7,3"),
      // haploid multiallelic (2 ALTs → 3 allele slots, ≠ the diploid
      // triangular 6): [9, 2, 30] → allele 1, gq = 9 − 2 = 7
      ("X", 600, "A", "G,T", "DP=9", "sA", "2", "9,2,30"),
      // WRONG arity (4 slots: neither triangular 3 nor haploid 2 for
      // one ALT) → passthrough GT, NULL gq
      ("1", 700, "C", "T", "DP=9", "sA", "0/1", "4,1,9,9"),
      // digits-only but Int-overflowing element → malformed, NOT an
      // ANSI CastOverflow (the r14 advisory) → passthrough
      ("1", 800, "G", "A", "DP=9", "sA", "0/1", "0,99999999999,10"),
      // sB covers only locus 100's neighborhood via a band
      ("1", 90, "A", "<NON_REF>", "END=120", "sB", "0/0", "0,30,200"))
      .toDF("chrom", "pos", "ref", "alt", "info", "sample_id", "gt", "pl")
    val loci = Seq(("1", 100), ("1", 200), ("1", 320), ("1", 400),
      ("X", 500), ("X", 600), ("1", 700), ("1", 800))
      .toDF("chrom", "pos")
    val got = Gvcf.jointGenotype(gv, loci)
      .select("pos", "sample_id", "state", "called_gt", "gq")
      .as[(Int, String, String, String, Option[Int])].collect().toSet
    assert(got === Set(
      (100, "sA", "variant", "1/1", Some(12)),   // corrected vs GT 0/1
      (100, "sB", "ref_block", "0/0", Some(30)),
      (200, "sA", "variant", "0/0", Some(0)),    // first-min tie
      (200, "sB", "no_coverage", "./.", None),
      (320, "sA", "ref_block", "0/0", Some(18)),
      (320, "sB", "no_coverage", "./.", None),
      (400, "sA", "variant", "1/1", None),       // malformed → passthrough
      (400, "sB", "no_coverage", "./.", None),
      (500, "sA", "variant", "1", Some(4)),      // haploid re-call
      (500, "sB", "no_coverage", "./.", None),
      (600, "sA", "variant", "1", Some(7)),      // haploid multiallelic
      (600, "sB", "no_coverage", "./.", None),
      (700, "sA", "variant", "0/1", None),       // wrong arity → passthrough
      (700, "sB", "no_coverage", "./.", None),
      (800, "sA", "variant", "0/1", None),       // overflow digits → passthrough
      (800, "sB", "no_coverage", "./.", None)))
  }

  test("Gvcf.bandGvcf: reference-confident runs collapse into <NON_REF> " +
      "END bands (GATK -GQB semantics) — a band breaks on GQ band edge, " +
      "coverage gap, or a variant interrupt; variants/multi-base refs " +
      "pass through verbatim; locusQuery over the banded output " +
      "classifies every covered locus identically to the unbanded input") {
    import graft.operators.Gvcf
    // sample sA, chrom 1: positions 100..109 with planted classes
    val rows = Seq(
      // run 1: pos 100-102 hom-ref, gq in [20,60) band
      ("sA", "1", 100, "A", "<NON_REF>", "0/0", 30, "."),
      ("sA", "1", 101, "C", "<NON_REF>", "0/0", 25, "."),
      ("sA", "1", 102, "G", "<NON_REF>", "0/0", 59, "."),
      // band edge: gq 60 starts a new band (edge at 60)
      ("sA", "1", 103, "T", "<NON_REF>", "0/0", 60, "."),
      ("sA", "1", 104, "A", "<NON_REF>", "0/0", 99, "."),
      // variant interrupts
      ("sA", "1", 105, "C", "T", "0/1", 45, "DP=9"),
      // resumes banding
      ("sA", "1", 106, "G", "<NON_REF>", "0/0", 33, "."),
      // GAP (107 missing)
      ("sA", "1", 108, "T", "<NON_REF>", "0/0", 34, "."),
      // multi-base ref: passthrough even though <NON_REF>
      ("sA", "1", 109, "TAC", "<NON_REF>", "0/0", 50, "."),
      // second sample: its own runs
      ("sB", "1", 100, "A", "<NON_REF>", "0/0", 10, "."),
      ("sB", "1", 101, "C", "<NON_REF>", "0/0", 15, "."))
      .toDF("sample_id", "chrom", "pos", "ref", "alt", "gt", "gq", "info")
    val banded = Gvcf.bandGvcf(rows)
    val got = banded
      .select("sample_id", "pos", "ref", "alt", "gt", "gq", "info")
      .as[(String, Int, String, String, String, Int, String)]
      .collect().toSet
    assert(got === Set(
      ("sA", 100, "A", "<NON_REF>", "0/0", 25, "END=102"),
      ("sA", 103, "T", "<NON_REF>", "0/0", 60, "END=104"),
      ("sA", 105, "C", "T", "0/1", 45, "DP=9"),
      ("sA", 106, "G", "<NON_REF>", "0/0", 33, "END=106"),
      ("sA", 108, "T", "<NON_REF>", "0/0", 34, "END=108"),
      ("sA", 109, "TAC", "<NON_REF>", "0/0", 50, "."),
      ("sB", 100, "A", "<NON_REF>", "0/0", 10, "END=101")))
    // round-trip: every input locus classifies identically through
    // locusQuery over banded vs unbanded (state via alt, per sample)
    val loci = rows.select(col("chrom"), col("pos")).distinct()
    def classify(g: org.apache.spark.sql.DataFrame) =
      Gvcf.locusQuery(g.withColumn("sid", col("sample_id")), loci)
        .select(col("chrom"), col("pos"), col("sid"),
          (col("alt") === "<NON_REF>").as("refish"))
        .as[(String, Int, String, Boolean)].collect().toSet
    assert(classify(banded) === classify(rows))
    // plan: the window exchange is REUSED by the run aggregation —
    // exactly one shuffle in the whole banding plan
    val exchanges = banded.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"bandGvcf must reuse the window partitioning, saw $exchanges")
  }

  test("bandGvcf → BcfWriter → format(\"bcf\") read → expandToSpans: a " +
      "banded single-sample gVCF emitted through the engine's own BCF " +
      "writer reads back with every probed locus covered identically " +
      "to the unbanded original (the full write-side round trip)") {
    import graft.operators.Gvcf
    val rows = Seq(
      ("sA", "1", 100, "A", "<NON_REF>", "0/0", 30, "."),
      ("sA", "1", 101, "C", "<NON_REF>", "0/0", 25, "."),
      ("sA", "1", 102, "G", "<NON_REF>", "0/0", 59, "."),
      ("sA", "1", 103, "T", "C", "0/1", 40, "DP=7"),
      ("sA", "1", 104, "A", "<NON_REF>", "0/0", 80, "."),
      ("sA", "1", 105, "C", "<NON_REF>", "0/0", 70, "."))
      .toDF("sample_id", "chrom", "pos", "ref", "alt", "gt", "gq", "info")
    val banded = Gvcf.bandGvcf(rows)
    // long form → the writer's wide shape: GT:GQ per-sample call
    val wideFrame = banded.select(
      col("chrom"), col("pos"), lit(".").as("id"), col("ref"),
      col("alt"), lit(".").as("qual"), lit("PASS").as("filter"),
      col("info"), lit("GT:GQ").as("format"),
      map(col("sample_id"),
        concat_ws(":", col("gt"), col("gq").cast("string")))
        .as("genotypes"))
    val out = TempDirs.create("graft-band-emit").toString
    wideFrame.repartitionByRange(1, col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .write.format("bcf").mode("overwrite").save(out)
    val back = spark.read.format("bcf").load(out)
      .withColumn("sample_id", lit("sA"))
    // every original locus is covered with the same ref-ish state
    val loci = rows.select(col("chrom"), col("pos")).distinct()
    val got = Gvcf.locusQuery(back, loci)
      .select(col("pos"), (col("alt") === "<NON_REF>").as("refish"))
      .as[(Int, Boolean)].collect().toSet
    assert(got === Set((100, true), (101, true), (102, true),
      (103, false), (104, true), (105, true)))
    // the emitted records ARE banded: fewer bcf rows than input loci
    assert(back.count() === 3) // band 100-102 + variant 103 + band 104-105
  }
}
