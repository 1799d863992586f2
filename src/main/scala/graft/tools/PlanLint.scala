package graft.tools

import scala.util.control.NonFatal

/** Registry-wide physical-plan lint: renders every ExtQueries plan at
  * a given SF and reports scale anti-patterns — CartesianProduct
  * (never acceptable) and BroadcastNestedLoopJoin (acceptable ONLY
  * when the broadcast side is metadata-sized by construction: 1-row
  * stats frames, probe-quantile literals, bounded grids). The spec
  * twin (`RegistryPlanLintSpec`) pins the exact allowlist so a new
  * query can't quietly ship a cartesian plan.
  *
  * runMain graft.tools.PlanLint [sfDir]
  */
object PlanLint {
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
      } catch {
        case NonFatal(e) =>
          println(s"[planlint] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    println("[planlint] done")
    spark.stop()
  }
}
