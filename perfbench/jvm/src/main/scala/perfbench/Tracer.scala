package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed op: epoch-ms bounds of the op, its construct call and its
  * output write. */
final case class OpSpan(idx: Int, name: String, t0: Long, t1: Long, t2: Long) {
  def wallS: Double = (t2 - t0) / 1e3
  def contains(t: Long): Boolean = t >= t0 && t <= t2
}

/** The benchmark's own instruments: a SparkListener for jobs, stages and
  * task metrics, a StreamingQueryListener for micro-batch progress and a
  * QueryExecutionListener for the executed plans (artifact reads). Events
  * are only recorded while attached; `drain` waits for the asynchronous
  * bus before anything is read. Jobs are tied to ops by the job group the
  * benchmark thread sets (`Tracer.group`); jobs from other threads fall
  * back to the op whose time window holds their start. */
final class Tracer(spark: SparkSession, artifactRoot: String) {
  import Tracer._

  final class Job(val id: Int, val start: Long, val group: Option[String],
                  val stages: Seq[Int]) { var end: Long = -1L }
  final class Stage(val id: Int) {
    var submitted: Long = -1L
    var firstLaunch: Long = Long.MaxValue
    var tasks = 0
    var runMs, deserMs, resultSerMs, gcMs = 0L
    var cpuNs, shuffleW, shuffleR, spill, input, output = 0L
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.HashMap.empty[Int, Stage]
  val progress = mutable.ArrayBuffer.empty[Progress]
  /** (epoch ms, distinct artifact dirs scanned) per finished SQL action. */
  val artifactScans = mutable.ArrayBuffer.empty[(Long, Set[String])]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      jobs += new Job(e.jobId, e.time, g, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stage(e.stageInfo.stageId).submitted =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      val s = stage(e.stageId)
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.resultSerMs += m.resultSerializationTime
        s.gcMs += m.jvmGCTime
        s.shuffleW += m.shuffleWriteMetrics.bytesWritten
        s.shuffleR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
        : Unit = Tracer.this.synchronized {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress += Progress(p.id.toString, parseTs(p.timestamp),
        d("triggerExecution"), d("walCommit") + d("commitOffsets"),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val dirs = scannedPaths(qe.executedPlan).filter(_.contains(artifactRoot))
        .map(p => p.substring(0, p.indexOf('/',
          p.indexOf(artifactRoot) + artifactRoot.length + 1) match {
            case -1 => p.length
            case i => i
          }))
      Tracer.this.synchronized {
        artifactScans += (System.currentTimeMillis() -> dirs.toSet)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = ()
  }

  /** Starts recording; events still queued from before are delivered
    * first, so they are not recorded. */
  def attach(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)

  /** Jobs tied to each of `ops`: by job group first, then by time
    * window. Jobs of the `others` (traced executions whose figures are
    * not reported) are left out; the counts are (by window,
    * unattributed). */
  def jobsByOp(ops: Seq[OpSpan], others: Seq[OpSpan] = Nil)
      : (Map[Int, Seq[Job]], Int, Int) = synchronized {
    val byIdx = ops.map(o => o.idx -> o).toMap
    var byWindow, unattributed = 0
    val pairs = jobs.toSeq.flatMap { j =>
      j.group.collect { case GroupRe(i) => i.toInt } match {
        case Some(i) if byIdx.contains(i) => Some(i -> j)
        // another op's
        case Some(_) => None
        case None if j.group.contains(VerifyGroup) => None
        case None => ops.find(_.contains(j.start)) match {
          case Some(o) => byWindow += 1; Some(o.idx -> j)
          case None if others.exists(_.contains(j.start)) => None
          case None => unattributed += 1; None
        }
      }
    }
    (pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
      byWindow, unattributed)
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.tasks > 0)
  }
}

object Tracer {
  final case class Progress(queryId: String, start: Long, triggerMs: Long,
                            walMs: Long, stateRows: Long, stateBytes: Long)
  val GroupRe = """perfbench-op-(\d+)""".r
  /** Untimed verification writes; never attributed to an op. */
  val VerifyGroup = "perfbench-verify"
  def group(idx: Int): String = s"perfbench-op-$idx"

  def parseTs(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch { case _: Throwable => System.currentTimeMillis() }

  /** Every file path read by a scan in the executed plan, including
    * adaptive query stages. */
  def scannedPaths(plan: SparkPlan): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toUri.getPath)
      case other =>
        other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** Total length of time covered by the union of the intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def listAll(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) listAll(f) else Seq(f))
}
