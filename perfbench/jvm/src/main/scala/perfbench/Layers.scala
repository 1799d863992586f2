package perfbench

import java.io.File

/** Reduces the traced ops of a window to per-layer figures (sums over
  * the workload's traced ops) and builds the span tree. Artifact builds
  * are split at `readyMs`, the end of set-up. */
object Layers {

  def compute(t: Tracer, w: Main.Window, cores: Int, artifactRoot: String,
              built: Seq[(Long, Long)], readyMs: Long)
      : Seq[(String, Double)] = {
    val ops = w.spans
    val results = w.traced
    val (byOp, byWindow, unattributed) = t.jobsByOp(ops, w.pairSpans)
    val allJobs = byOp.values.flatten.toSeq
    val stages = t.stagesOf(allJobs)
    val mb = 1024.0 * 1024.0
    val wall = ops.map(_.wallS).sum

    val constructJobs = ops.map(o =>
      byOp.getOrElse(o.idx, Nil).count(_.start < o.t1)).sum
    val driverGapMs = ops.map { o =>
      val iv = byOp.getOrElse(o.idx, Nil).map(j =>
        (math.max(j.start, o.t0),
          math.min(if (j.end < 0) o.t2 else j.end, o.t2)))
      (o.t2 - o.t0) - Tracer.covered(iv)
    }.sum
    val schedDelayMs = stages.filter(s => s.submitted > 0 &&
      s.firstLaunch != Long.MaxValue)
      .map(s => math.max(0L, s.firstLaunch - s.submitted)).sum
    val runMs = stages.map(_.runMs).sum

    // pipeline ops: their stage logs, and Spark-level write volume
    // against bytes read
    val pipes = results.flatMap(_.pipe)
    def stageS(name: String) = pipes.map(_.stages.getOrElse(name, 0.0)).sum
    val pipeIdx = results.filter(_.pipe.isDefined).map(_.idx).toSet
    val pipeStagesRun = t.stagesOf(byOp.filter(kv => pipeIdx(kv._1))
      .values.flatten.toSeq)
    val written = pipeStagesRun.map(_.output).sum
    val read = pipeStagesRun.map(_.input).sum

    val setupBuilds = built.filter(_._1 < readyMs)
    val attaches = t.synchronized {
      t.artifactScans.filter(a => ops.exists(_.contains(a._1)))
        .map(_._2.size).sum
    }
    val storeBytes = Tracer.listAll(new File(artifactRoot)).map(_.length).sum

    // streaming: progress events tied to the op whose window holds them
    val (streamOps, progress) = t.synchronized {
      val prog = t.progress.toSeq.flatMap(p =>
        ops.find(_.contains(p.start)).map(_ -> p))
      (prog.map(_._1).distinct, prog)
    }
    val triggerMs = progress.map(_._2.triggerMs).sum
    val firstBatchMs = streamOps.map { o =>
      progress.filter(_._1 == o).map(p => p._2.start + p._2.triggerMs)
        .min - o.t0
    }.sum
    val lastState = progress.groupBy(_._2.queryId).values
      .map(_.maxBy(_._2.start)._2).toSeq

    Seq(
      "registry.construct_s" -> results.map(_.constructS).sum,
      "registry.construct_jobs" -> constructJobs.toDouble,
      "registry.output_s" -> results.map(_.outputS).sum,
      "spark.jobs" -> allJobs.size.toDouble,
      "spark.jobs_by_window" -> byWindow.toDouble,
      "spark.unattributed_job_frac" ->
        (if (allJobs.isEmpty && unattributed == 0) 0.0
         else unattributed.toDouble / (allJobs.size + unattributed)),
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.sched_delay_s" -> schedDelayMs / 1e3,
      "spark.deser_s" -> stages.map(_.deserMs).sum / 1e3,
      "spark.result_ser_s" -> stages.map(_.resultSerMs).sum / 1e3,
      "spark.driver_gap_s" -> driverGapMs / 1e3,
      "spark.codegen_compiles" -> results.map(_.codegenCompiles).sum.toDouble,
      "spark.executor_run_s" -> runMs / 1e3,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.busy_frac" -> (if (wall > 0) runMs / 1e3 / (wall * cores) else 0.0),
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleW).sum / mb,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleR).sum / mb,
      "spark.spill_mb" -> stages.map(_.spill).sum / mb,
      "spark.input_mb" -> stages.map(_.input).sum / mb,
      "pipeline.extract_s" -> stageS("EXTRACT"),
      "pipeline.transform_p1_s" -> stageS("TRANSFORM_P1"),
      "pipeline.transform_p2_s" -> stageS("TRANSFORM_P2"),
      "pipeline.load_date_dim_s" -> stageS("LOAD_DATE_DIM"),
      "pipeline.load_s" -> stageS("LOAD"),
      "load.bytes_written_mb" -> written / mb,
      "load.files_written" -> pipes.map(_.files).sum.toDouble,
      "load.write_amp" -> (if (read > 0) written.toDouble / read else 0.0),
      "artifact.builds_setup" -> setupBuilds.size.toDouble,
      "artifact.build_s" -> setupBuilds.map(_._2).sum / 1e3,
      "artifact.builds_timed" -> built.count(_._1 >= readyMs).toDouble,
      "artifact.attaches" -> attaches.toDouble,
      "artifact.store_mb" -> storeBytes / mb,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.first_batch_s" -> firstBatchMs / 1e3,
      "streaming.trigger_s" -> triggerMs / 1e3,
      "streaming.overhead_s" ->
        (streamOps.map(_.wallS).sum - triggerMs / 1e3),
      "streaming.wal_commit_s" -> progress.map(_._2.walMs).sum / 1e3,
      "streaming.state_rows" -> lastState.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastState.map(_.stateBytes).sum / mb
    )
  }

  /** The span tree: op -> construct / output -> Spark jobs, each with
    * its self time (own time minus its children's covered time). */
  def spans(t: Tracer, ops: Seq[OpSpan]): Seq[Map[String, Any]] = {
    val (byOp, _, _) = t.jobsByOp(ops)
    def jobSpans(o: OpSpan, lo: Long, hi: Long) = byOp.getOrElse(o.idx, Nil)
      .filter(j => j.start >= lo && j.start < hi).map { j =>
        val end = if (j.end < 0) hi else math.min(j.end, o.t2)
        (j.id, j.start, end)
      }
    def span(name: String, lo: Long, hi: Long, kids: Seq[(Long, Long)],
             children: Seq[Map[String, Any]]): Map[String, Any] = Map(
      "name" -> name, "start_ms" -> lo, "end_ms" -> hi,
      "self_ms" -> ((hi - lo) - Tracer.covered(kids)),
      "children" -> children)
    ops.map { o =>
      val parts = Seq(("construct", o.t0, o.t1), ("output", o.t1, o.t2))
        .map { case (n, lo, hi) =>
          val js = jobSpans(o, lo, hi)
          span(n, lo, hi, js.map(j => (j._2, j._3)),
            js.map(j => span(s"job ${j._1}", j._2, j._3, Nil, Nil)))
        }
      span(s"op ${o.idx} ${o.name}", o.t0, o.t2,
        Seq((o.t0, o.t1), (o.t1, o.t2)), parts)
    }
  }
}
