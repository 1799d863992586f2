package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{ExprId, Expression, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Registry-wide physical-plan lint: renders every ExtQueries plan at
  * a given SF and reports scale anti-patterns — CartesianProduct
  * (never acceptable) and BroadcastNestedLoopJoin (acceptable ONLY
  * when the broadcast side is metadata-sized by construction: 1-row
  * stats frames, probe-quantile literals, bounded grids), plus
  * lambda bodies that recompute a lambda-invariant subtree per
  * element ([[invariantLambdaSubtrees]]). The spec twin
  * (`RegistryPlanLintSpec`) pins the exact allowlists so a new query
  * can't quietly ship a cartesian plan or a per-element recompute.
  *
  * runMain graft.tools.PlanLint [sfDir]
  */
object PlanLint {
  /** Lambda-invariant work: for every `LambdaFunction` in `plan`, the
    * maximal subtrees of its body that use none of its variables (nor
    * a variable of a lambda nested between it and the subtree) and are
    * neither a leaf nor foldable. A higher-order function evaluates
    * such a subtree once per array element although its value is the
    * same for every element — `split(trim(text))` inside a shingle
    * lambda re-splits the document once per shingle. Nested lambdas
    * are never reported as subtrees themselves; each is checked as a
    * lambda of its own. */
  def invariantLambdaSubtrees(plan: LogicalPlan): Seq[Expression] = {
    def bound(e: Expression): Set[ExprId] = e.collect {
      case l: LambdaFunction =>
        l.arguments.collect { case v: NamedLambdaVariable => v.exprId }
    }.flatten.toSet
    def free(e: Expression): Set[ExprId] =
      e.collect { case v: NamedLambdaVariable => v.exprId }.toSet -- bound(e)
    def invariantIn(l: LambdaFunction): Seq[Expression] = {
      val scope = bound(l)
      def walk(e: Expression): Seq[Expression] = e match {
        case _: LambdaFunction if free(e).intersect(scope).isEmpty => Nil
        case _ if free(e).intersect(scope).isEmpty =>
          if (e.children.isEmpty || e.foldable) Nil else Seq(e)
        case _ => e.children.flatMap(walk)
      }
      walk(l.function)
    }
    plan.flatMap(_.expressions)
      .flatMap(_.collect { case l: LambdaFunction => l })
      .flatMap(invariantIn).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.create()
    for ((name, fn) <- graft.registry.ExtQueries.queries.toSeq.sortBy(_._1)) {
      try {
        val qe = fn(spark, sfDir).queryExecution
        val plan = qe.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin")
        if (cart || bnlj)
          println(s"[planlint] $name cartesian=$cart bnlj=$bnlj")
        // single-partition windows: every row in one task — fatal at
        // corpus scale, acceptable only on metadata-sized frames
        val global = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        if (global.nonEmpty)
          println(s"[planlint] $name global_windows=${global.size}")
        // quality_score must compute once per row: the punct-ratio
        // regex is its distinctive marker (see RegistryPlanLintSpec)
        val marker = "[^A-Za-z0-9 ]"
        val hits = {
          val s = qe.optimizedPlan.toString
          var (n, i) = (0, s.indexOf(marker))
          while (i >= 0) { n += 1; i = s.indexOf(marker, i + 1) }
          n
        }
        if (hits > 0) println(s"[planlint] $name score_markers=$hits")
        val inv = invariantLambdaSubtrees(qe.optimizedPlan)
        if (inv.nonEmpty)
          println(s"[planlint] $name invariant_lambda=${inv.size} " +
            inv.head.sql.take(100))
      } catch {
        case NonFatal(e) =>
          println(s"[planlint] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    println("[planlint] done")
    spark.stop()
  }
}
