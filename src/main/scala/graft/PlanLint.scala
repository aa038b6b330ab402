package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Interpreted-expression tripwire (round-14 task: the round-13 HOF
  * cliff — `q_curate_badwords` at 24.9 s from per-field duplicated
  * higher-order functions inside a signal struct — shipped in a close
  * artifact because janino failures log `ERROR CodeGenerator` while
  * interpreted HOFs and CodegenFallback expressions are SILENT: the
  * plan runs, just 10–50× slower per row).
  *
  * [[interpreted]] walks a physical plan and names every expression
  * class that evaluates interpreted inside an otherwise-codegen'd
  * operator: anything implementing [[CodegenFallback]] (its `doGenCode`
  * emits a per-row call into interpreted `eval`, with an InternalRow
  * materialization per call) — which includes every
  * [[HigherOrderFunction]] (transform/filter/aggregate/zip_with …) and
  * `from_json`/jsonpath. The lint rides [[graft.Profiler]]'s
  * QueryExecutionListener: EVERY action run inside a profiler scope
  * (including in-gate index builds and protocol steps, not just the
  * final frame) is linted off the timed path into that scope's record,
  * and [[graft.Bench]] fails the close on classes not in the gate's
  * documented whitelist. */
object PlanLint {

  /** Subtree components of a higher-order function — the parent HOF
    * node is the signal; reporting its lambda plumbing is noise. */
  private val Structural = Set("LambdaFunction", "NamedLambdaVariable")

  /** Distinct simple class names of interpreted expressions anywhere in
    * the plan (AQE and query-stage wrappers unwrapped — the executed
    * plan of an adaptive query is a leaf node hiding the real tree). */
  def interpreted(plan: SparkPlan): Set[String] = {
    val found = scala.collection.mutable.Set.empty[String]
    def scanExpr(e: Expression): Unit = {
      e match {
        case _: HigherOrderFunction => found += e.getClass.getSimpleName
        case _: CodegenFallback
            if !Structural(e.getClass.getSimpleName) =>
          found += e.getClass.getSimpleName
        case _ =>
      }
      e.children.foreach(scanExpr)
    }
    flatten(plan).foreach(_.expressions.foreach(scanExpr))
    found.toSet
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }
}
