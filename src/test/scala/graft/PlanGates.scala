package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.expressions.{IntervalHitsExpr, IntervalNearestExpr}

/** Plan gates for the interval-index probe shared by `PlanSpec` and
  * `RangeJoinSpec`.
  */
object PlanGates extends AdaptiveSparkPlanHelper {

  private def isProbe(p: SparkPlan): Boolean = p match {
    case g: GenerateExec => g.generator.exists {
      case _: IntervalHitsExpr | _: IntervalNearestExpr => true
      case _ => false
    }
    case _ => false
  }

  /** Runs `df`, then asserts on its final plan: the range join is a
    * Generate over an interval-index probe; no join node (so no nested
    * loop or Cartesian product) anywhere, no `CodegenFallback` expression
    * in the probe stage; and no exchange the planner inserted for the
    * probe (with `bare`, no exchange in the plan at all).
    */
  def assertNarrowProbe(label: String, df: DataFrame, bare: Boolean = true): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    val probes = collect(plan) { case p if isProbe(p) => p }
    assert(probes.nonEmpty, s"$label: no interval-index probe:\n$text")
    val joins = collect(plan) { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"$label: the range join planned a join (${joins.mkString(", ")}):\n$text")
    assert(!text.contains("CartesianProduct") && !text.contains("NestedLoopJoin"),
      s"$label planned as a nested loop:\n$text")
    // the probe stage: each probe and the narrow operators below it
    val stage = probes.flatMap(below(_).init)
    val fallback = stage.filter(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback])))
    assert(fallback.isEmpty,
      s"$label: interpreted CodegenFallback in ${fallback.map(_.nodeName).mkString(", ")}:\n$text")
    if (bare) {
      val ex = collect(plan) { case e: Exchange => e.nodeName }
      assert(ex.isEmpty, s"$label: the bare probe shuffles (${ex.mkString(", ")}):\n$text")
    }
    // the probe needs no distribution: no planner-inserted exchange
    // (ENSURE_REQUIREMENTS) or broadcast feeds it; a repartition the
    // point side asked for itself may
    probes.foreach { g =>
      below(g).last match {
        case s: QueryStageExec => assert(!planned(s.plan), s"$label: an exchange feeds the probe:\n$text")
        case e: Exchange => assert(!planned(e), s"$label: an exchange feeds the probe:\n$text")
        case _ =>
      }
    }
  }

  /** Runs `df`, then asserts that every projection in the narrow chain
    * above an interval-index probe is whole-stage codegen'd and holds no
    * lambda: an array HOF (CodegenFallback) keeps its projection
    * interpreted, outside the probe's compiled stage.
    */
  def assertCompiledAbove(label: String, df: DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    val compiled = collect(plan) { case w: WholeStageCodegenExec => codegenNodes(w.child) }.flatten
    val above = collect(plan) { case p: ProjectExec if below(p).exists(isProbe) => p }
    assert(above.nonEmpty, s"$label: no projection above an interval-index probe:\n$text")
    above.foreach { p =>
      assert(compiled.exists(_ eq p),
        s"$label: a projection above the probe is not whole-stage codegen'd:\n$text")
      assert(!p.projectList.exists(_.exists(_.isInstanceOf[LambdaFunction])),
        s"$label: a projection above the probe holds a lambda:\n$text")
    }
  }

  /** The operators one whole-stage codegen stage compiles. */
  private def codegenNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(codegenNodes)
  }

  private def planned(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeLike => s.shuffleOrigin == ENSURE_REQUIREMENTS
    case _: BroadcastExchangeLike => true
    case _ => false
  }

  /** `p` and the chain of narrow single-child operators below it, ending
    * at the first node that is not one (an exchange, a stage, a scan…).
    */
  private def below(p: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    out += p
    var c = p.children.head
    while (c.children.length == 1 && !c.isInstanceOf[Exchange] &&
        !c.isInstanceOf[QueryStageExec] && narrow(c)) {
      out += c
      c = c.children.head
    }
    out += c
    out.result()
  }

  private def narrow(p: SparkPlan): Boolean = p.nodeName match {
    case "Project" | "Filter" | "InputAdapter" | "ColumnarToRow" | "Generate" |
        "AQEShuffleRead" => true
    case n => n.startsWith("WholeStageCodegen")
  }
}
