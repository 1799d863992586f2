package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec}
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
    // each finished execution's final operator tree, partition counts
    // aside (see [[shape]])
    val shapes = new ConcurrentLinkedQueue[String]

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
      plans.add((f, qe.executedPlan.toString))
      shapes.add(shape(qe.executedPlan)); ()
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  /** An executed plan's operator tree, one node name per line, with
    * what only a partition count changes left out: adaptive execution's
    * wrappers and its shuffle reads (a coalesced read, or none). Whole-
    * stage codegen boundaries stay, so two plans of one shape generate
    * the same code. */
  private def shape(plan: SparkPlan): String = {
    def walk(p: SparkPlan, depth: Int): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case r: AQEShuffleReadExec => walk(r.child, depth)
      case _ => ("  " * depth + p.nodeName) +:
        p.children.flatMap(walk(_, depth + 1))
    }
    walk(plan, 0).mkString("\n")
  }

  /** Four shuffle partitions left uncoalesced: on one partition every
    * distribution is satisfied, and the plan shape would prove nothing. */
  private val fourPartitions = Map("spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Runs the sales pipeline at sf0.001 under a [[Recorder]], with
    * `confs` set for the run. */
  private def recordSalesRun(confs: Map[String, String]): Recorder = {
    val wh = Files.createTempDirectory("wh").toString
    val logs = Files.createTempDirectory("logs").toString
    val p = new Pipeline(spark, wh, logs, RetailQueries.AsOf,
      metros = RetailQueries.MetroNations,
      regionMap = RetailQueries.NationRegionMap)
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

  private lazy val rec = recordSalesRun(fourPartitions)

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
    // exactly one other execution reads it, without re-running it: the
    // fused write, which holds the dup gate's hash, T1's window and the
    // staging write, and no exchange (its scan of the staged shuffle
    // names the shuffle's hashpartitioning)
    val staging = dependents.filter(_._2.exists { case (id, rdd) =>
      rdd == mapRdd && submitted.contains(id) }).map(_._1).distinct
    val readers = dependents.map(_._1).distinct.filterNot(staging.contains)
    assert(readers.size === 1, dependents)
    val plan = rec.executions.get(readers.head)
    Seq("_graft_h", "row_number", "sales_fact_staging").foreach(w =>
      assert(plan.contains(w), s"$w:\n$plan"))
    assert(!plan.toLowerCase.contains("exchange"), plan)
  }

  test("the EXTRACT gate and the fused clean+model write plan no hash " +
      "exchange") {
    val plans = rec.plans.asScala.toSeq
    val staging = plans.filter(_._2.contains("lineitem"))
    assert(staging.size === 1 && staging.head._2.contains(
      "Exchange hashpartitioning(sale_id"), staging)
    // the dup gate's row hash, T1's dedup window, T2's model projection
    // and the staging write are one execution
    val gate = plans.filter(_._2.contains("_graft_h"))
    val fused = plans.filter(_._2.contains("row_number"))
    assert(fused.size === 1, fused)
    assert(gate == fused, gate)
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

  test("a staged shuffle coalesced to one partition runs the operator " +
      "trees of an uncoalesced one") {
    // the benchmark warms up on a 2% corpus, whose staged shuffles
    // coalesce to one partition; a plan shape that changed with the
    // partition count would compile its code again in the timed run
    val one = recordSalesRun(Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m"))
    val four = recordSalesRun(fourPartitions)
    assert(one.plans.asScala.exists(_._2.contains("coalesced")) &&
      !four.plans.asScala.exists(_._2.contains("coalesced")))
    val (a, b) = (one.shapes.asScala.toSeq, four.shapes.asScala.toSeq)
    assert(a.size === b.size, s"${a.mkString("\n\n")}\n----\n${b.mkString("\n\n")}")
    a.zip(b).foreach { case (x, y) => assert(x === y, s"\n$x\n----\n$y") }
  }
}
