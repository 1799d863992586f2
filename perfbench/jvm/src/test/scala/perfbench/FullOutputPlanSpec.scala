package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.sys.process._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark times a query's whole output. `.count()` lets Catalyst
  * prune every derived column away, which hid the real cost of
  * `model_sales_fact`; this spec keeps that blind spot from returning. */
class FullOutputPlanSpec extends AnyFunSuite {

  private val derived = Set("sale_ts_iso", "gross_amount", "discount_amount",
    "net_amount", "is_discounted", "order_year", "order_month")

  /** Output names of every projection in the executed plan. */
  private def projected(plan: SparkPlan): Set[String] = plan match {
    case a: AdaptiveSparkPlanExec => projected(a.executedPlan)
    case q: QueryStageExec => projected(q.plan)
    case p: ProjectExec =>
      p.projectList.collect { case a: Alias => a.name }.toSet ++
        projected(p.child)
    case other => other.children.flatMap(projected).toSet
  }

  test("the benchmark's action computes model_sales_fact's derived " +
      "columns; .count() prunes them") {
    val corpus = Files.createTempDirectory("perfbench-corpus").toString
    assert(Seq("python3", "../corpus.py", corpus, "0.001").! == 0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def planOf(action: DataFrame => Unit): Set[String] = {
      org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
      plans.synchronized(plans.clear())
      action(graft.SparkEntry.queries("model_sales_fact")(spark, corpus))
      org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
      plans.synchronized(plans.map(projected).foldLeft(Set.empty[String])(_ ++ _))
    }
    try {
      val full = planOf(df => assert(FullOutput.run(df) > 0))
      assert(derived.subsetOf(full), s"noop plan projects only $full")
      val counted = planOf(df => assert(df.count() > 0))
      assert((derived & counted).isEmpty,
        s".count() plan still computes ${derived & counted}")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpus))
    }
  }
}
