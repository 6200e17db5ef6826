package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, RangeJoin, Similarity, VariantAnnotator}

/** Every per-layer metric, with its unit. A traced run reports all of them;
  * a layer its workload does not call reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.scan_mb_s" -> "MB/s",
    "sources.scan_partitions" -> "count", "sources.records_read" -> "count",
    "sources.malformed" -> "count",
    "annotate.self_s" -> "s", "annotate.ns_per_call" -> "ns",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_records" -> "count",
    "exchange.fetch_wait_s" -> "s",
    "rangejoin.point_s" -> "s", "rangejoin.overlap_s" -> "s",
    "rangejoin.nearest_s" -> "s", "rangejoin.depth_s" -> "s",
    "rangejoin.pairs_per_shuffle_row" -> "ratio",
    "dedup.lsh_s" -> "s", "dedup.cc_s" -> "s",
    "dedup.candidates_per_pair" -> "ratio", "dedup.recall" -> "ratio",
    "similarity.kmeans_s" -> "s", "similarity.kmeans_iters" -> "count",
    "similarity.semdedup_s" -> "s",
    "compile.codegen_classes" -> "count", "compile.codegen_s" -> "s",
    "compile.jit_s" -> "s",
    "driver.jobs" -> "count", "driver.stages" -> "count", "driver.plan_s" -> "s",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.core_util" -> "ratio",
    "exec.spill_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "host.steal_s" -> "s", "trace.overhead_s" -> "s")
  val units: Map[String, String] = all.toMap
}

/** One workload: untimed preparation and warm-up, then a closed loop of one
  * operation. Every operation's output is checked outside its timed region. */
abstract class Workload(val ctx: Ctx) {
  import Stats._
  protected def spark = ctx.spark
  protected def tr = ctx.tracer
  protected def ex = ctx.expect

  /** Untimed: checks what one operation cannot check cheaply. */
  def prepare(): Unit = ()
  /** One operation: (wall seconds, every check passed). */
  def op(): (Double, Boolean)
  /** Work items one operation completes, for `work_per_s`. */
  def work: Double
  /** Extra traced calls that split a layer out of the operation. */
  protected def probes(r: Report): Unit = ()

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def setLayer(r: Report, name: String, v: Double): Unit =
    r.metric(name, v, Layers.units(name))

  protected def spanMedian(name: String): Double = {
    val ss = tr.named(name)
    if (ss.isEmpty) 0.0 else median(ss.map(_.seconds))
  }

  def untraced(r: Report): Unit = {
    val walls = ctx.loop(ctx.seconds, Workload.MinTimedOps)(op())
    r.metric("work_per_s", work / median(walls), "1/s")
    r.receipts("op_s") = summary(walls)
  }

  /** Untraced and traced operations, alternating, then the probes. */
  def traced(r: Report): Unit = {
    startTracing(r)
    val (base, walls) = alternate(ctx.seconds)(op())
    probes(r)
    opLayers(r, base, walls)
  }

  protected def startTracing(r: Report): Unit = {
    Layers.all.foreach { case (n, u) => r.metric(n, 0.0, u) }
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Closed loop whose operations alternate untraced and traced, so the
    * two share the JIT's warm-up; returns (untraced, traced) walls. */
  protected def alternate(budget: Double)(op: => (Double, Boolean)): (Seq[Double], Seq[Double]) = {
    val walls = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    var i = 0
    ctx.loop(budget, 4) {
      if (i % 2 == 0) tr.disable() else tr.enable()
      val r = op
      walls(i % 2) += r._1
      i += 1
      r
    }
    tr.enable()
    (walls(0).toSeq, walls(1).toSeq)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Engine-layer metrics per operation (medians over the traced "op"
    * spans) and the tracing overhead. */
  protected def opLayers(r: Report, base: Seq[Double], walls: Seq[Double]): Unit = {
    val ops = tr.named("op")
    def per(f: Span => Double): Double = median(ops.map(f))
    def c(s: Span) = tr.subtree(s)
    setLayer(r, "exchange.shuffle_write_mb", per(c(_).shuffleBytes / 1e6))
    setLayer(r, "exchange.shuffle_records", per(c(_).shuffleRecords.toDouble))
    setLayer(r, "exchange.fetch_wait_s", per(c(_).fetchWaitMs / 1e3))
    setLayer(r, "exec.task_s", per(c(_).taskMs / 1e3))
    setLayer(r, "exec.cpu_s", per(c(_).cpuNs / 1e9))
    setLayer(r, "exec.core_util", per(s => c(s).taskMs / 1e3 / (s.seconds * ctx.cores)))
    setLayer(r, "exec.spill_mb", per(c(_).spillBytes / 1e6))
    setLayer(r, "driver.jobs", per(c(_).jobs.toDouble))
    setLayer(r, "driver.stages", per(c(_).stages.toDouble))
    setLayer(r, "driver.plan_s", per { s =>
      val f = c(s).firstJobMs
      if (f < 0) 0.0 else (f - s.startMs) / 1e3
    })
    setLayer(r, "compile.codegen_classes", per(_.jvm.codegenClasses.toDouble))
    setLayer(r, "compile.codegen_s", per(_.jvm.codegenMs / 1e3))
    setLayer(r, "compile.jit_s", per(_.jvm.jitMs / 1e3))
    setLayer(r, "jvm.gc_s", per(_.jvm.gcMs / 1e3))
    setLayer(r, "jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    setLayer(r, "host.steal_s", per(_.jvm.stealTicks / 100.0))
    setLayer(r, "trace.overhead_s", median(walls) - median(base))
    r.receipts("op_s_untraced") = summary(base)
    r.receipts("op_s_traced") = summary(walls)
  }
}

object Workload {
  /** A timed loop runs at least this many operations, however long they
    * take, so a median never rests on one or two samples. */
  val MinTimedOps = 3
}

/** The paper's flagship: bgzipped, indexed many-sample VCF through
  * `format("vcf")` into `VariantAnnotator.annotate` (drop hom-ref, AD
  * split), into a noop sink. */
final class VcfAnnotate(c: Ctx) extends Workload(c) {
  private val path = ctx.file("cohort.vcf.gz")
  private val opts = VariantAnnotator.Options(splitColumns = Map("AD" -> 2))
  private val used = Seq("chrom", "pos", "ref", "alt", "format", "genotypes")
  private val landing = new File(ctx.work, "wide.parquet").getPath

  private def vcf = spark.read.format("vcf").load(path)
  def work: Double = ex.get("calls").asDouble

  override def prepare(): Unit = {
    val rows = VariantAnnotator.annotate(vcf, opts)
      .groupBy("zygosity", "vartype1")
      .agg(count(lit(1)), sum(col("hom_ref_counts")),
        sum(col("AD_0").cast("long")), sum(col("AD_1").cast("long")))
      .collect()
    val hist = rows.map(x => s"${x.getString(0)}|${x.getString(1)}" -> x.getLong(2)).toMap
    val want = ex.get("hist").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    def total(i: Int) = rows.map(x => if (x.isNullAt(i)) 0L else x.getLong(i)).sum
    val ok = ctx.check("zygosity x vartype1 histogram", hist == want, s"$hist != $want") &
      ctx.check("sum hom_ref_counts", total(3) == ex.get("sum_hom_ref_counts").asLong,
        s"${total(3)}") &
      ctx.check("sum AD_0", total(4) == ex.get("sum_ad0").asLong, s"${total(4)}") &
      ctx.check("sum AD_1", total(5) == ex.get("sum_ad1").asLong, s"${total(5)}")
    ctx.record((0.0, ok))
  }

  def op(): (Double, Boolean) = {
    val obs = Observation("annotated")
    val (_, wall) = ctx.timed(tr.span("op") {
      tr.span("annotate") {
        noop(VariantAnnotator.annotate(vcf, opts)
          .observe(obs, count(lit(1)).as("n"), sum(col("hom_ref_counts")).as("h")))
      }
    })
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val h = m("h").asInstanceOf[Long]
    (wall, ctx.check("annotated rows", n == ex.get("rows").asLong, s"$n") &
      ctx.check("sum hom_ref_counts", h == ex.get("sum_hom_ref_counts").asLong, s"$h"))
  }

  override protected def probes(r: Report): Unit = {
    vcf.write.mode("overwrite").parquet(landing)
    val wide = spark.read.parquet(landing)
    for (_ <- 1 to 3) {
      tr.span("sources.scan")(noop(vcf.select(used.map(col): _*)))
      tr.span("annotate.landed")(noop(VariantAnnotator.annotate(wide, opts)))
      tr.span("annotate.landing_scan")(noop(wide.select(used.map(col): _*)))
    }
    val scan = tr.named("sources.scan")
    val scanS = spanMedian("sources.scan")
    setLayer(r, "sources.scan_s", scanS)
    setLayer(r, "sources.scan_mb_s", ex.get("text_bytes").asDouble / 1e6 / scanS)
    setLayer(r, "sources.scan_partitions", Stats.median(scan.map(_.counters.tasks.toDouble)))
    setLayer(r, "sources.records_read", Stats.median(scan.map(_.counters.scanRows.toDouble)))
    setLayer(r, "sources.malformed", Stats.median(scan.map(_.counters.scanMalformed.toDouble)))
    val self = spanMedian("annotate.landed") - spanMedian("annotate.landing_scan")
    setLayer(r, "annotate.self_s", self)
    setLayer(r, "annotate.ns_per_call", self * 1e9 / work)
  }
}

/** A sites-only parquet landing against heavy-tailed intervals: the four
  * interval operators at their default arguments. */
final class IntervalJoin(c: Ctx) extends Workload(c) {
  private def sites = spark.read.parquet(ctx.file("sites.parquet"))
  private def regions = spark.read.parquet(ctx.file("regions.parquet"))
  private def features = spark.read.parquet(ctx.file("features.parquet"))
  private val maxDist = ex.get("max_dist").asLong
  def work: Double = ex.get("sites").asDouble

  def op(): (Double, Boolean) = {
    val ((point, overlap, near, depth), wall) = ctx.timed(tr.span("op") {
      val point = tr.span("rangejoin.point") {
        RangeJoin.pointInInterval(sites, regions).count()
      }
      val overlap = tr.span("rangejoin.overlap") {
        RangeJoin.intervalOverlap(regions, features
          .withColumnRenamed("start", "r_start").withColumnRenamed("end", "r_end")).count()
      }
      val near = tr.span("rangejoin.nearest") {
        RangeJoin.nearestInterval(sites, features, maxDist)
          .agg(count(lit(1)), sum(col("dist"))).collect()(0)
      }
      val depth = tr.span("rangejoin.depth") {
        RangeJoin.coverageDepth(regions).collect()
      }
      (point, overlap, near, depth)
    })
    val gotDepth = depth.map(x => s"${x.getString(0)}|${x.getLong(1)}" -> x.getLong(2)).toMap
    val wantDepth = ex.get("depth").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val ok = ctx.check("point pairs", point == ex.get("point_pairs").asLong, s"$point") &
      ctx.check("overlap pairs", overlap == ex.get("overlap_pairs").asLong, s"$overlap") &
      ctx.check("nearest rows", near.getLong(0) == ex.get("nearest_rows").asLong,
        s"${near.getLong(0)}") &
      ctx.check("nearest dist sum", near.getLong(1) == ex.get("nearest_dist_sum").asLong,
        s"${near.getLong(1)}") &
      ctx.check("coverage depth", gotDepth == wantDepth, s"${gotDepth.size} rows")
    (wall, ok)
  }

  override protected def probes(r: Report): Unit = {
    Seq("point", "overlap", "nearest", "depth").foreach { n =>
      setLayer(r, s"rangejoin.${n}_s", spanMedian(s"rangejoin.$n"))
    }
    val pairs = ex.get("point_pairs").asDouble + ex.get("overlap_pairs").asDouble
    val rows = Stats.median(tr.named("op").map { op =>
      tr.children(op).filter(s => s.name == "rangejoin.point" || s.name == "rangejoin.overlap")
        .map(s => tr.subtree(s).shuffleRecords.toDouble).sum
    })
    // a plan that shuffles nothing reads the pair count, not 0
    setLayer(r, "rangejoin.pairs_per_shuffle_row", pairs / math.max(rows, 1.0))
  }
}

/** The training-data half: minhash-LSH near-duplicate pairs and their
  * representatives over a text corpus, then k-means and semantic dedup
  * over an embedding set. */
final class CorpusDedup(c: Ctx) extends Workload(c) {
  private def docs = spark.read.parquet(ctx.file("docs.parquet"))
  private def vecs = spark.read.parquet(ctx.file("vectors.parquet"))
  private val seedIds = ex.get("seed_vectors").elements().asScala.map(_.asLong).toSeq
  private val tau = ex.get("tau").asDouble
  private def idPairs(key: String): Set[(Long, Long)] = ex.get(key).elements().asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  private val planted = idPairs("planted_pairs")
  private val lshPairs = idPairs("lsh_pairs")
  private val wantCents = seedIds.zip(ex.get("kmeans_centroids").elements().asScala
    .map(_.elements().asScala.map(_.asDouble).toSeq)).toMap
  private val wantHist = ex.get("kmeans_hist").elements().asScala.map(_.asDouble).toSeq
  private val wantDropped = ex.get("semdedup_dropped").elements().asScala.map(_.asLong).toSet
  def work: Double = ex.get("docs").asDouble + ex.get("vectors").asDouble

  private var lastRecall, lastCandPerPair = 0.0
  private var lastIters = 0

  def op(): (Double, Boolean) = {
    val session = spark
    import session.implicits._
    val seeds = vecs.filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val ((pairs, reps, cents, hist, kept), wall) = ctx.timed(tr.span("op") {
      val pairs = tr.span("dedup.lsh") {
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          ex.get("shingle").asInt, ex.get("bands").asInt).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      val reps = tr.span("dedup.cc") {
        Dedup.representatives(docs, "doc_id", pairs.toSeq.toDF("id_a", "id_b"))
          .select("doc_id", "cluster", "is_rep").collect()
      }
      val (centDf, hist) = tr.span("similarity.kmeans")(Similarity.kmeansTrain(vecs, seeds))
      val kept = tr.span("similarity.semdedup") {
        Dedup.semanticDedup(vecs, centDf, tau).select("vec_id").collect().map(_.getLong(0))
      }
      (pairs, reps, centDf.collect(), hist, kept)
    })

    // near-duplicate pairs: exactly the generator's; recall of the planted ones
    val found = pairs.count(planted.contains)
    lastRecall = found.toDouble / planted.size
    lastCandPerPair = if (found > 0) pairs.length.toDouble / found else 0.0
    var ok = ctx.check("lsh pairs", pairs.toSet == lshPairs && pairs.toSet.size == pairs.length,
      s"${pairs.length} pairs, expected ${lshPairs.size}")

    // representatives: the components of exactly the returned pairs
    val uf = new UnionFind
    pairs.foreach { case (a, b) => uf.union(a, b) }
    val lab = uf.labels
    val badRep = reps.count { r =>
      val id = r.getLong(0)
      val want = lab.getOrElse(id, id)
      r.getLong(1) != want || r.getBoolean(2) != (id == want)
    }
    ok &= ctx.check("representatives", badRep == 0 && reps.length == ex.get("docs").asInt,
      s"$badRep wrong of ${reps.length}")

    // k-means: the generator's Lloyd run from the same seeds. Both round
    // means to 6 decimals, so centroids agree to rounding and objectives
    // to summation order.
    lastIters = hist.length - 1
    val cs = cents.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val centErr = if (cs.keySet != wantCents.keySet) Double.PositiveInfinity
      else cs.map { case (id, v) =>
        v.zip(wantCents(id)).map { case (a, b) => math.abs(a - b) }.max }.max
    ok &= ctx.check("kmeans centroids", centErr <= 1e-5, s"max coordinate error $centErr")
    ok &= ctx.check("kmeans objective history", hist.length == wantHist.length &&
      hist.zip(wantHist).forall { case (a, b) => math.abs(a - b) <= 1e-6 * b },
      s"$hist != $wantHist")

    // semantic dedup: exactly the generator's drop set
    val dropped = (0L until ex.get("vectors").asLong).toSet -- kept
    ok &= ctx.check("semantic dedup drop set",
      dropped == wantDropped && kept.distinct.length == kept.length,
      s"${dropped.size} dropped, expected ${wantDropped.size}")
    (wall, ok)
  }

  override protected def probes(r: Report): Unit = {
    setLayer(r, "dedup.lsh_s", spanMedian("dedup.lsh"))
    setLayer(r, "dedup.cc_s", spanMedian("dedup.cc"))
    setLayer(r, "dedup.candidates_per_pair", lastCandPerPair)
    setLayer(r, "dedup.recall", lastRecall)
    setLayer(r, "similarity.kmeans_s", spanMedian("similarity.kmeans"))
    setLayer(r, "similarity.kmeans_iters", lastIters)
    setLayer(r, "similarity.semdedup_s", spanMedian("similarity.semdedup"))
  }
}

/** Union-find over ids; a component's label is its smallest id. */
final class UnionFind {
  private val parent = mutable.HashMap.empty[Long, Long]
  def find(x: Long): Long = {
    val p = parent.getOrElseUpdate(x, x)
    if (p == x) x else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }
  def labels: Map[Long, Long] = parent.keys.toSeq.map(k => k -> find(k)).toMap
}
