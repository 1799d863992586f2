package graft.tools

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{SparkEntry, SparkSpec}

/** [[Profile]] times a query's full output and reports the plan that
  * output actually ran, through the same function its main prints. */
class ProfileToolSpec extends SparkSpec {

  private val derived = Set("gross_amount", "discount_amount", "net_amount",
    "is_discounted", "order_year", "order_month")

  /** Names every alias in an executed plan defines, through AQE. */
  private def aliases(p: SparkPlan): Set[String] = p match {
    case a: AdaptiveSparkPlanExec => aliases(a.executedPlan)
    case q: QueryStageExec => aliases(q.plan)
    case other => other.expressions.flatMap(_.collect {
      case a: Alias => a.name }).toSet ++ other.children.flatMap(aliases)
  }

  test("model_sales_fact: final plan of the noop write, full output, " +
      "layer counters") {
    val Seq(arm) = Profile.profile(spark, "model_sales_fact", sf0001, 2)
    assert(arm.name === "base" && arm.reps.size === 2)
    assert(arm.reps.forall(r => r.rows > 0 && r.outputS > 0))
    // no exchange, so no adaptive wrapper: the write ran this plan as is
    assert(!arm.plan.toString.contains("isFinalPlan=false"), arm.plan)
    assert(derived.subsetOf(aliases(arm.plan)), arm.plan)
    // what `.count()` runs: the same columns pruned away
    val counted = SparkEntry.queries("model_sales_fact")(spark, sf0001)
      .groupBy().count().queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case a: Alias => a.name }))
    assert((derived & counted.toSet).isEmpty)
    assert(arm.layers.jobs > 0 && arm.layers.tasks > 0 &&
      arm.layers.cpuNs > 0, arm.layers)
    assert(arm.stages.nonEmpty && arm.stages.map(_._2.tasks).sum ===
      arm.layers.tasks)
  }

  test("--ab interleaves a set and an unset arm, each with the final " +
      "adaptive plan its write ran, and restores the conf") {
    val key = "spark.graft.spreadMaxBytes"
    val before = spark.conf.getOption(key)
    val arms = Profile.profile(spark, "agg_group_having_dups", sf0001, 1,
      Some(key -> "0"))
    assert(arms.map(_.name) === Seq(s"$key=0", s"$key unset"))
    assert(arms.forall(a => a.reps.size == 1 && a.layers.stages > 0))
    arms.foreach(a =>
      assert(a.plan.toString.contains("isFinalPlan=true"), a.plan))
    assert(spark.conf.getOption(key) === before)
  }
}
