package graft.tools

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Cumulative task-metric snapshot (deltas via [[TaskSnap.minus]]).
  * `runMs` is executor task-thread wall (includes IO/scheduler wait —
  * inflatable by writeback and contention); `cpuNs` is the CPU the
  * tasks actually consumed — the contamination-proof statistic: a
  * foreign process stealing cores stretches wall but cannot add to
  * OUR tasks' cpu time, so probe runs of the same plan over the same
  * data must agree on it. */
final case class TaskSnap(runMs: Long, cpuNs: Long, input: Long,
                          shuffleRead: Long, shuffleWrite: Long,
                          gcMs: Long = 0L, spill: Long = 0L,
                          tasks: Long = 0L, stages: Long = 0L,
                          jobs: Long = 0L) {
  def minus(o: TaskSnap): TaskSnap = TaskSnap(runMs - o.runMs,
    cpuNs - o.cpuNs, input - o.input, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, gcMs - o.gcMs, spill - o.spill,
    tasks - o.tasks, stages - o.stages, jobs - o.jobs)
  def plus(o: TaskSnap): TaskSnap = TaskSnap(runMs + o.runMs,
    cpuNs + o.cpuNs, input + o.input, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, gcMs + o.gcMs, spill + o.spill,
    tasks + o.tasks, stages + o.stages, jobs + o.jobs)
  def cpuSec: Double = cpuNs / 1e9
  def taskSec: Double = runMs / 1e3
  /** GC wall inside task windows (jvmGCTime — part of runMs, NOT of
    * cpuNs: stop-the-world pauses park the task thread). */
  def gcSec: Double = gcMs / 1e3
}

object TaskSnap {
  val Zero: TaskSnap = TaskSnap(0, 0, 0, 0, 0)
}

/** Per-task metric tally on the listener bus — the shared measurement
  * instrument of the scale probe and [[Profile]]'s layer counters
  * (task metrics, not wall clocks a loaded machine can stretch). It
  * also counts jobs started and stages completed. Two read paths:
  *
  *  - cumulative [[snap]] deltas, for code that brackets a sequential
  *    region (the scale probe's per-query bytes);
  *  - [[window]] / [[stageCosts]] aggregation over per-event
  *    timestamps (task finish, job start, stage completion), for a
  *    region bounded by the caller's own currentTimeMillis clock.
  *
  * Events arrive async off the task path; [[quiesce]] waits (bounded)
  * for the stream to drain before a snapshot is read. */
final class TaskTally extends SparkListener {
  // (finish epoch ms, stage id, the task's metrics with tasks = 1)
  private val tasks =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, TaskSnap)]
  private val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]
  private val stageEnds = new java.util.concurrent.ConcurrentLinkedQueue[Long]
  private val events = new AtomicLong
  private val total = new AtomicReference(TaskSnap.Zero)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobStarts.add(j.time)
    total.updateAndGet(t => t.copy(jobs = t.jobs + 1))
    ()
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    stageEnds.add(s.stageInfo.completionTime
      .getOrElse(System.currentTimeMillis()))
    total.updateAndGet(t => t.copy(stages = t.stages + 1))
    ()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      val s = TaskSnap(m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, tasks = 1)
      tasks.add((if (t.taskInfo != null) t.taskInfo.finishTime else 0L,
        t.stageId, s))
      total.updateAndGet(_.plus(s))
      ()
    }
  }

  def snap(): TaskSnap = total.get

  private def tasksIn(w0: Long, w1: Long): Seq[(Long, Int, TaskSnap)] =
    tasks.asScala.filter(t => t._1 >= w0 && t._1 <= w1).toSeq

  /** Sum of tasks whose finish timestamp, jobs whose start and stages
    * whose completion lie in [w0, w1] (epoch ms, inclusive). */
  def window(w0: Long, w1: Long): TaskSnap = {
    def in(q: java.util.Collection[Long]): Long =
      q.asScala.count(t => t >= w0 && t <= w1).toLong
    tasksIn(w0, w1).map(_._3).foldLeft(TaskSnap.Zero)(_ plus _)
      .copy(stages = in(stageEnds), jobs = in(jobStarts))
  }

  /** Per-stage sums of the tasks finishing in [w0, w1] with each
    * stage's slowest task (ms), heaviest executor run time first. */
  def stageCosts(w0: Long, w1: Long): Seq[(Int, TaskSnap, Long)] =
    tasksIn(w0, w1).groupBy(_._2).toSeq.map { case (id, ts) =>
      (id, ts.map(_._3).foldLeft(TaskSnap.Zero)(_ plus _),
        ts.map(_._3.runMs).max)
    }.sortBy(-_._2.runMs)

  /** Wait (bounded) until no new listener events for two polls. */
  def quiesce(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5_000_000_000L
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(150)
      val e = events.get()
      if (e == last) stable += 1 else { stable = 0; last = e }
    }
  }
}
