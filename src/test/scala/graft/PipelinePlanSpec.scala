package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.registry.RetailQueries

/** The refresh's plan shape: one source exchange per pipeline; the
  * EXTRACT gate and one fused clean + model write run on that shuffle,
  * and nothing is cached. */
class PipelinePlanSpec extends SparkSpec {

  /** Jobs, stages and SQL executions seen on the listener bus, plus the
    * executed plan of every finished SQL execution. */
  private final class Recorder extends SparkListener
      with QueryExecutionListener {
    // (SQL execution id or -1, (stage id, id of the RDD the stage
    // computes) per stage — a shuffle's map stage re-planned by a later
    // job gets a new stage id but computes the same RDD)
    val jobs = new ConcurrentLinkedQueue[(Long, Seq[(Int, Int)])]
    val submitted = new ConcurrentLinkedQueue[Int]
    // (stage id, input bytes)
    val completed = new ConcurrentLinkedQueue[(Int, Long)]
    // SQL execution id -> physical plan as first planned
    val executions = new ConcurrentHashMap[Long, String]
    // (action name, final executed plan)
    val plans = new ConcurrentLinkedQueue[(String, String)]

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.add((exec, j.stageInfos.map(s =>
        (s.stageId, s.rddInfos.head.id))))
      ()
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      submitted.add(s.stageInfo.stageId); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      completed.add((s.stageInfo.stageId,
        s.stageInfo.taskMetrics.inputMetrics.bytesRead))
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, s.physicalPlanDescription); ()
      case _ => ()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      plans.add((f, qe.executedPlan.toString)); ()
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  /** Runs the sales pipeline at sf0.001 under a [[Recorder]], with four
    * shuffle partitions left uncoalesced: on one partition every
    * distribution is satisfied, and the plan shape would prove nothing. */
  private def recordSalesRun(): Recorder = {
    val wh = Files.createTempDirectory("wh").toString
    val logs = Files.createTempDirectory("logs").toString
    val p = new Pipeline(spark, wh, logs, RetailQueries.AsOf,
      metros = RetailQueries.MetroNations,
      regionMap = RetailQueries.NationRegionMap)
    val confs = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    // the session is shared: start the run from an empty cache manager
    spark.catalog.clearCache()
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      p.run("sales", RetailQueries.sales(spark, sf0001),
        Some(Seq(col("sale_date"), col("customer_id"), col("product_id"),
          col("store_id"), col("quantity"), col("unit_price"),
          col("discount_pct"))))
      // the date_dim write is the run's last execution; wait for the
      // async bus to deliver it
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!rec.plans.asScala.exists(_._2.contains("/date_dim,")) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(
        spark.conf.set(k, _)) }
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
    rec
  }

  private lazy val rec = recordSalesRun()

  test("a sales run reads lineitem in one stage, and later jobs skip " +
      "the staged shuffle's map stage") {
    val submitted = rec.submitted.asScala.toSeq
    val stageExec = rec.jobs.asScala.flatMap { case (exec, stages) =>
      stages.map { case (id, _) => id -> exec } }.toMap
    val lineitemReads = rec.completed.asScala.collect {
      case (id, bytes) if bytes > 0 && Option(rec.executions.get(
          stageExec.getOrElse(id, -1L))).exists(_.contains("lineitem")) => id
    }.toSeq
    assert(lineitemReads.size === 1, lineitemReads)
    // the map stage that stage ran, and every job that depends on it
    val mapRdd = rec.jobs.asScala.flatMap(_._2)
      .collectFirst { case (id, rdd) if id == lineitemReads.head => rdd }.get
    val dependents = rec.jobs.asScala.toSeq.filter(_._2.exists(_._2 == mapRdd))
    val mapRuns = dependents.flatMap(_._2).filter(_._2 == mapRdd)
      .map(_._1).distinct.count(submitted.contains)
    assert(mapRuns === 1, dependents)
    // the EXTRACT gate and T1 both consume it without re-running it
    val skipping = dependents.count(_._2.exists { case (id, rdd) =>
      rdd == mapRdd && !submitted.contains(id) })
    assert(skipping >= 2, dependents)
  }

  test("the EXTRACT gate and the fused clean+model write plan no hash " +
      "exchange") {
    val plans = rec.plans.asScala.toSeq
    val staging = plans.filter(_._2.contains("lineitem"))
    assert(staging.size === 1 && staging.head._2.contains(
      "Exchange hashpartitioning(sale_id"), staging)
    val gate = plans.filter(_._2.contains("_graft_h"))
    assert(gate.nonEmpty, "no gate execution recorded")
    // T1's dedup window, T2's model projection and the staging write
    // are one execution
    val fused = plans.filter(_._2.contains("row_number"))
    assert(fused.size === 1, fused)
    Seq("net_amount", "InsertIntoHadoopFsRelationCommand",
      "sales_fact_staging").foreach(w =>
      assert(fused.head._2.contains(w), s"$w:\n${fused.head._2}"))
    (gate ++ fused).foreach { case (_, p) =>
      assert(!p.toLowerCase.contains("hashpartitioning"), p) }
  }

  test("a run caches nothing") {
    (rec.executions.asScala.values ++ rec.plans.asScala.map(_._2))
      .foreach(p => assert(!p.contains("InMemoryTableScan") &&
        !p.contains("InMemoryRelation"), p))
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }
}
