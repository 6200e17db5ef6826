package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.IntervalIndex
import graft.operators.{Gvcf, Liftover, RangeJoin}

/** The interval-index joins against plain-Scala brute force: every
  * operator's output multiset must equal the nested-loop answer over
  * closed intervals, on seeded heavy-tailed geometry with nested,
  * identical, zero-length and adjacent intervals, duplicate rows on both
  * sides, a chromosome with no intervals, and Int and Long coordinates.
  */
class IntervalIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private case class Iv(chrom: String, s: Long, e: Long, id: String)

  /** c0/c1 carry intervals (c2 none): mostly short, a heavy tail of
    * long ones, plus nested, identical-copy, zero-length and adjacent
    * intervals, and byte-identical duplicate rows.
    */
  private def geometry(rnd: scala.util.Random, n: Int, tag: String): Seq[Iv] = {
    def len(): Long = rnd.nextInt(100) match {
      case r if r < 80 => rnd.nextInt(20).toLong
      case r if r < 95 => rnd.nextInt(200).toLong
      case _ => rnd.nextInt(3000).toLong
    }
    val base = (0 until n).map { k =>
      val s = rnd.nextInt(5000).toLong
      Iv(s"c${rnd.nextInt(2)}", s, s + len(), s"$tag$k")
    }
    val nested = base.take(n / 4).zipWithIndex.map { case (iv, k) =>
      val ns = iv.s + rnd.nextLong(iv.e - iv.s + 1)
      Iv(iv.chrom, ns, ns + rnd.nextLong(iv.e - ns + 1), s"${iv.id}n$k")
    }
    val identical = base.slice(n / 4, n / 4 + 3).map(iv => iv.copy(id = s"${iv.id}i"))
    val zero = base.slice(n / 2, n / 2 + 3).map(iv => Iv(iv.chrom, iv.s, iv.s, s"${iv.id}z"))
    val adjacent = base.slice(3 * n / 4, 3 * n / 4 + 3).map(iv =>
      Iv(iv.chrom, iv.e + 1, iv.e + 1 + len(), s"${iv.id}a"))
    val all = base ++ nested ++ identical ++ zero ++ adjacent
    all ++ all.take(3) // duplicate rows
  }

  /** Random positions on c0..c2 plus every edge of the intervals and
    * the positions just outside them, with duplicate rows.
    */
  private def positions(rnd: scala.util.Random, ivs: Seq[Iv]): Seq[(String, Long, String)] = {
    val edges = ivs.take(12).flatMap(iv => Seq(iv.s - 1, iv.s, iv.e, iv.e + 1).map(iv.chrom -> _))
    val pts = (0 until 60).map(_ => (s"c${rnd.nextInt(3)}", rnd.nextInt(6000).toLong)) ++ edges
    val rows = pts.zipWithIndex.map { case ((c, p), i) => (c, p, s"p$i") }
    rows ++ rows.take(3)
  }

  /** The frame with its coordinate columns as Int or Long. */
  private def typed(df: DataFrame, asInt: Boolean, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(if (asInt) "int" else "long")))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  private val fixtures = (1 to 6).map(seed => seed -> new scala.util.Random(20261019L + seed))

  test("pointInInterval matches the brute-force containment multiset (Int and Long)") {
    for ((seed, rnd) <- fixtures; asInt <- Seq(true, false)) {
      val ivs = geometry(rnd, 20 + rnd.nextInt(40), "g")
      val pts = positions(rnd, ivs)
      val got = rows(RangeJoin.pointInInterval(
        typed(pts.toDF("chrom", "pos", "pid"), asInt, "pos"),
        typed(ivs.map(iv => (iv.chrom, iv.s, iv.e, iv.id)).toDF("chrom", "start", "end", "id"),
          asInt, "start", "end")))
      val want = (for {
        (c, p, pid) <- pts; iv <- ivs if iv.chrom == c && iv.s <= p && p <= iv.e
      } yield s"$c|$p|$pid|${iv.s}|${iv.e}|${iv.id}").sorted
      assert(got === want, s"seed $seed int=$asInt")
    }
  }

  test("intervalOverlap emits each overlapping pair exactly once (Int and Long)") {
    for ((seed, rnd) <- fixtures; asInt <- Seq(true, false)) {
      val left = geometry(rnd, 20 + rnd.nextInt(30), "l")
      val right = geometry(rnd, 20 + rnd.nextInt(30), "r")
      val got = rows(RangeJoin.intervalOverlap(
        typed(left.map(iv => (iv.chrom, iv.s, iv.e, iv.id)).toDF("chrom", "start", "end", "lid"),
          asInt, "start", "end"),
        typed(right.map(iv => (iv.chrom, iv.s, iv.e, iv.id)).toDF("chrom", "r_start", "r_end", "rid"),
          asInt, "r_start", "r_end")))
      val want = (for {
        l <- left; r <- right if l.chrom == r.chrom && l.s <= r.e && r.s <= l.e
      } yield s"${l.chrom}|${l.s}|${l.e}|${l.id}|${r.s}|${r.e}|${r.id}").sorted
      assert(got === want, s"seed $seed int=$asInt")
    }
  }

  /** Chain blocks over the fixture geometry: overlapping blocks give the
    * q233-style multi-map rows, uncovered points the unmapped ones.
    */
  private def chainOf(ivs: Seq[Iv]): Seq[(String, Long, Long, String, Long, String)] =
    ivs.zipWithIndex.map { case (iv, k) =>
      (iv.chrom, iv.s, iv.e, s"d${iv.chrom}", 1000L + 37L * k, if (k % 3 == 0) "-" else "+")
    }

  test("RangeJoin.liftover matches brute force: one row per covering block, " +
      "one unmapped row otherwise (Int and Long)") {
    for ((seed, rnd) <- fixtures; asInt <- Seq(true, false)) {
      val ivs = geometry(rnd, 10 + rnd.nextInt(20), "b")
      val chain = chainOf(ivs)
      val pts = positions(rnd, ivs)
      val got = rows(RangeJoin.liftover(
        typed(pts.toDF("chrom", "pos", "pid"), asInt, "pos"),
        typed(chain.toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand"),
          asInt, "start", "end", "dst_start")))
      val want = pts.flatMap { case (c, p, pid) =>
        val hits = chain.filter(b => b._1 == c && b._2 <= p && p <= b._3)
        if (hits.isEmpty) Seq(s"$c|$p|$pid|null|null|false")
        else hits.map { b =>
          val np = if (b._6 == "+") b._5 + (p - b._2) else b._5 + (b._3 - p)
          s"$c|$p|$pid|${b._4}|$np|true"
        }
      }.sorted
      assert(got === want, s"seed $seed int=$asInt")
    }
  }

  test("Liftover.liftover matches brute force: unmapped, lifted, flipped and " +
      "multi-mapped rows (Int and Long)") {
    def revcomp(a: String) = a.reverse.map(Map('A' -> 'T', 'C' -> 'G', 'G' -> 'C', 'T' -> 'A'))
    for ((seed, rnd) <- fixtures; asInt <- Seq(true, false)) {
      val ivs = geometry(rnd, 10 + rnd.nextInt(20), "b")
      val chain = chainOf(ivs)
      val vcf = positions(rnd, ivs).map { case (c, p, pid) =>
        (c, p, pid, Seq("A", "CG", "T")(rnd.nextInt(3)), Seq("G", "TA,C")(rnd.nextInt(2)))
      }
      val got = rows(Liftover.liftover(
        typed(vcf.toDF("chrom", "pos", "pid", "ref", "alt"), asInt, "pos"),
        typed(chain.toDF("chrom", "start", "end", "dst_chrom", "dst_start", "strand"),
          asInt, "start", "end", "dst_start"))
        .select("chrom", "pos", "pid", "lift_status", "lifted_chrom", "lifted_pos",
          "lifted_ref", "lifted_alt"))
      val want = vcf.flatMap { case (c, p, pid, ref, alt) =>
        val hits = chain.filter(b => b._1 == c && b._2 <= p && p <= b._3)
        if (hits.isEmpty) Seq(s"$c|$p|$pid|unmapped|null|null|null|null")
        else hits.map { b =>
          if (b._6 == "+") s"$c|$p|$pid|lifted|${b._4}|${b._5 + (p - b._2)}|$ref|$alt"
          else s"$c|$p|$pid|flipped|${b._4}|${b._5 + (b._3 - p)}|${revcomp(ref)}|" +
            alt.split(",").map(revcomp).mkString(",")
        }
      }.sorted
      assert(got === want, s"seed $seed int=$asInt")
    }
  }

  test("null rule: a null chrom, start, end or pos never matches, in any operator") {
    val ivs = Seq[(String, java.lang.Long, java.lang.Long, String)](
      ("1", 10L, 20L, "ok"),
      (null, 10L, 20L, "null-chrom"),
      // a null start would sort first and "cover" every point if indexed
      ("1", null, 1000L, "null-start"),
      ("1", 15L, null, "null-end"))
      .toDF("chrom", "start", "end", "id")
    val pts = Seq[(String, java.lang.Long, String)](
      ("1", 15L, "p"), (null, 15L, "null-chrom"), ("1", null, "null-pos"),
      ("1", 500L, "far"))
      .toDF("chrom", "pos", "pid")
    val pii = RangeJoin.pointInInterval(pts, ivs).select("pid", "id").as[(String, String)]
      .collect().toSet
    assert(pii === Set(("p", "ok")))
    val ov = RangeJoin.intervalOverlap(
        ivs.withColumnRenamed("id", "lid"),
        ivs.select(col("chrom"), col("start").as("r_start"), col("end").as("r_end"),
          col("id").as("rid")))
      .select("lid", "rid").as[(String, String)].collect().toSet
    assert(ov === Set(("ok", "ok")))
    // nearest: the null-start interval neither covers p nor is far's
    // left neighbour; the null-end one is no right neighbour; the
    // null-chrom point does not pair with the null-chrom interval
    val near = RangeJoin.nearestInterval(pts, ivs)
      .select("pid", "id", "dist").as[(String, String, Long)].collect().toSet
    assert(near === Set(("p", "ok", 0L), ("far", "ok", 480L)))
    val chain = ivs.select(col("chrom"), col("start"), col("end"),
      lit("d").as("dst_chrom"), lit(100L).as("dst_start"), lit("+").as("strand"))
    val lift = RangeJoin.liftover(pts, chain).select("pid", "new_pos", "mapped")
      .as[(String, Option[Long], Boolean)].collect().toSet
    assert(lift === Set(("p", Some(105L), true), ("null-chrom", None, false),
      ("null-pos", None, false), ("far", None, false)))
    val lift2 = Liftover.liftover(
        pts.withColumn("ref", lit("A")).withColumn("alt", lit("C")), chain)
      .select("pid", "lift_status").as[(String, String)].collect().toSet
    assert(lift2 === Set(("p", "lifted"), ("null-chrom", "unmapped"),
      ("null-pos", "unmapped"), ("far", "unmapped")))
    val gv = Seq[(String, java.lang.Integer, String)](
      ("1", 10, "END=20"), (null, 10, "END=20"), ("1", null, "END=20"))
      .toDF("chrom", "pos", "info").withColumn("ref", lit("A"))
    val lq = Gvcf.locusQuery(gv, pts.withColumn("pos", col("pos").cast("int")))
      .select("pid", "start").as[(String, Int)].collect().toSet
    assert(lq === Set(("p", 10)))
  }

  test("size guard: the collected side must stay inside Spark's broadcast-table bounds") {
    val maxBytes = 8L << 30
    assert(IntervalIndex.fits(IntervalIndex.MaxRows - 1, maxBytes - 1, maxBytes))
    assert(!IntervalIndex.fits(IntervalIndex.MaxRows, 0L, maxBytes))
    assert(!IntervalIndex.fits(0L, maxBytes, maxBytes))
    // the message names the operator, the row count and the small side
    val key = "spark.sql.maxBroadcastTableSize"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "16b")
    val err = try intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(Seq(("1", 5)).toDF("chrom", "pos"),
        Seq(("1", 1, 9, "a"), ("1", 2, 8, "b")).toDF("chrom", "start", "end", "id"))
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(err.getMessage.contains("pointInInterval") && err.getMessage.contains("2 rows") &&
      err.getMessage.contains("the intervals must be the small side"), err.getMessage)
  }
}
