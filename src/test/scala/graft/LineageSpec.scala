package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graphs, Lineage, RankEval, Similarity}

/** The lineage-cut policy lives in `graft.operators.Lineage` alone, and
  * its lazy cuts stay lazy. The job budgets are what the round loops run
  * with lazy cuts (Bradley–Terry reads 60–62 from run to run); with
  * eager cuts the same calls run 33, 64 and 138 jobs. */
class LineageSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("only Lineage cuts lineage in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: no $root")
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Lineage.scala")
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if l.contains("localCheckpoint(") || l.contains(".checkpoint(") =>
            s"$p:${i + 1}: ${l.trim}"
        }
      }
      finally files.close()
    assert(hits.isEmpty, "cut through Lineage.cut instead:\n" + hits.mkString("\n"))
  }

  test("pageRankMicro(iters = 9) runs ≤ 29 jobs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 4L))
      .toDF("src", "dst")
    val jobs = jobsOf(Graphs.pageRankMicro(edges, iters = 9).collect())
    assert(jobs <= 29, s"pageRankMicro ran $jobs jobs")
  }

  test("bradleyTerryMicro(iters = 9) runs ≤ 62 jobs") {
    val cmp = Seq(("A", "B"), ("A", "B"), ("B", "A"), ("A", "C"), ("B", "C"),
      ("C", "B"), ("A", "D")).toDF("winner", "loser")
    val jobs = jobsOf(RankEval.bradleyTerryMicro(cmp, "winner", "loser", iters = 9).collect())
    assert(jobs <= 62, s"bradleyTerryMicro ran $jobs jobs")
  }

  test("mmrRerank(k = 12) runs ≤ 133 jobs") {
    val pool = (1L to 40L).map { i =>
      val ang = i.toDouble / 40.0 * math.Pi / 2
      (0L, i, 1000000L - i * 7919L % 900000L, Seq(math.cos(ang), math.sin(ang)))
    }.toDF("probe_id", "cand_id", "rel_micro", "cv")
    val jobs = jobsOf(Similarity.mmrRerank(pool, k = 12, 500000L).collect())
    assert(jobs <= 133, s"mmrRerank ran $jobs jobs")
  }

  test("a live cut keeps the plan it cut, and so that plan's SQL-metric accumulators, " +
      "through GC") {
    // built in a method, so nothing but the cut can keep the pre-cut frame
    def cutOf(): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
      val pre = spark.range(0, 1000, 1, 4).selectExpr("id * 2 AS x").filter("x % 3 = 0")
      val cut = Lineage.cut(pre)
      (cut, pre.queryExecution.executedPlan.collect { case p => p.metrics.values.map(_.id) }
        .flatten)
    }
    val (cut, ids) = cutOf()
    assert(ids.nonEmpty)
    // the first job materializes the lazy cut and truncates its lineage;
    // a task of the pre-cut plan that reports after a GC collected that
    // plan's accumulators is dropped with "Failed to update accumulator"
    assert(cut.count() === 334)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(20) }
    val dead = ids.filterNot(org.apache.spark.SparkInternals.accumulatorLive)
    assert(dead.isEmpty, s"accumulators $dead of the cut plan were collected while the cut lives")
    assert(cut.count() === 334)
  }
}
