package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.FullOutput

/** The profiling front door for registered queries:
  *
  *   runMain graft.tools.Profile <name>[,<name>...] [sfDir] [--reps N]
  *     [--ab key=value]
  *
  * It runs on the [[graft.Session]] every main shares, so it measures
  * the configuration the bench times (sfDir defaults to
  * `SPARK_GRAFT_SF_DIR`). For each query:
  *  - one untimed warm-up per arm (JIT, codegen, staging, attaches);
  *  - `N` timed reps per arm (default 3), each a [[FullOutput.time]]:
  *    from the query call to its FULL output in Spark's noop sink,
  *    split into `construct_s` and `output_s`, with
  *    [[graft.Bench.repHygiene]] between reps, and the rep's
  *    `codegen_compiles` (Spark's `CodegenMetrics`: Janino compiles
  *    the codegen cache missed, so a warm rep whose plan shape changed
  *    shows a non-zero count) and `codegen_ms` (the time those
  *    compiles took, from `CodeGenerator.compileTime`);
  *  - with `--ab key=value`, two arms interleaved rep by rep: the conf
  *    set, and unset (a runtime conf read at query construction, e.g.
  *    `spark.graft.spreadMaxBytes=0`); ambient load and JIT state hit
  *    both arms alike. Min/median per arm;
  *  - per arm, its last rep's layer counters from a [[TaskTally]]:
  *    jobs, stages, tasks, executor run/CPU/GC time, input bytes and
  *    records (scans and cached-block reads; a parquet scan can report
  *    ~0 bytes but still counts its records), shuffle read/write,
  *    spill, and the heaviest stages, each with its own input and
  *    shuffle read, so a second scan of a source shows as a second
  *    stage with input;
  *  - that rep's final post-AQE plan, taken from the noop write's own
  *    QueryExecution. A plan read off the DataFrame after some other
  *    action was never executed (`isFinalPlan=false`). */
object Profile {

  /** One arm's timed reps and each rep's codegen compiles and compile
    * milliseconds, plus its last rep's counters and plan. */
  final case class Arm(name: String, reps: Seq[FullOutput.Timing],
                       compiles: Seq[Long], codegenMs: Seq[Double],
                       layers: TaskSnap,
                       stages: Seq[(Int, TaskSnap, Long)], plan: SparkPlan)

  /** Janino compiles so far in this JVM. */
  private def compiles(): Long = org.apache.spark.metrics.source
    .CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent in Janino compiles so far in this JVM. */
  private def compileNs(): Long = org.apache.spark.sql.catalyst
    .expressions.codegen.CodeGenerator.compileTime

  /** The QueryExecution of each timed noop write, keyed by its tag. */
  private final class WriteCapture extends QueryExecutionListener {
    private val seen = new ConcurrentHashMap[String, QueryExecution]
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.observedMetrics.keys.filter(_.startsWith(FullOutput.Tag))
        .foreach(seen.put(_, qe))
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
    /** Waits (bounded) for the async listener bus to deliver `tag`. */
    def take(tag: String): QueryExecution = {
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!seen.containsKey(tag) && System.nanoTime() < deadline)
        Thread.sleep(10)
      Option(seen.remove(tag))
        .getOrElse(sys.error(s"no execution event for $tag"))
    }
  }

  def profile(spark: SparkSession, name: String, sfDir: String, reps: Int,
              ab: Option[(String, String)] = None): Seq[Arm] = {
    val arms: Seq[(String, () => Unit)] = ab match {
      case None => Seq("base" -> (() => ()))
      case Some((k, v)) => Seq(s"$k=$v" -> (() => spark.conf.set(k, v)),
        s"$k unset" -> (() => spark.conf.unset(k)))
    }
    val prior = ab.flatMap { case (k, _) => spark.conf.getOption(k) }
    val tally = new TaskTally
    val capture = new WriteCapture
    spark.sparkContext.addSparkListener(tally)
    spark.listenerManager.register(capture)

    // (rep, its codegen compiles, their ms, its epoch-ms window, the
    // write's QueryExecution)
    def once(setArm: () => Unit)
        : (FullOutput.Timing, Long, Double, Long, Long, QueryExecution) = {
      setArm()
      val (c0, n0) = (compiles(), compileNs())
      val w0 = System.currentTimeMillis()
      val rep = FullOutput.time(spark, name, sfDir)
      val w1 = System.currentTimeMillis()
      val (c1, n1) = (compiles(), compileNs())
      val qe = capture.take(rep.tag)
      graft.Bench.repHygiene(spark)
      (rep, c1 - c0, (n1 - n0) / 1e6, w0, w1, qe)
    }

    try {
      arms.foreach { case (_, set) => once(set) } // untimed warm-ups
      val runs = (1 to reps).flatMap(_ => arms.map { case (arm, set) =>
        arm -> once(set) })
      tally.quiesce()
      arms.map { case (arm, _) =>
        val mine = runs.collect { case (`arm`, r) => r }
        val (_, _, _, w0, w1, qe) = mine.last
        Arm(arm, mine.map(_._1), mine.map(_._2), mine.map(_._3),
          tally.window(w0, w1), tally.stageCosts(w0, w1), qe.executedPlan)
      }
    } finally {
      ab.foreach { case (k, _) =>
        prior.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.listenerManager.unregister(capture)
      spark.sparkContext.removeSparkListener(tally)
    }
  }

  def main(args: Array[String]): Unit = {
    def parse(rest: List[String], pos: Vector[String], reps: Int,
              ab: Option[(String, String)])
        : (Vector[String], Int, Option[(String, String)]) = rest match {
      case Nil => (pos, reps, ab)
      case "--reps" :: n :: t => parse(t, pos, n.toInt, ab)
      case "--ab" :: kv :: t =>
        val Array(k, v) = kv.split("=", 2)
        parse(t, pos, reps, Some(k -> v))
      case p :: t => parse(t, pos :+ p, reps, ab)
    }
    val (pos, reps, ab) = parse(args.toList, Vector.empty, 3, None)
    val names = pos.head.split(",").toSeq
    val sfDir = pos.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: Profile <name>[,<name>...] [sfDir] " +
        "[--reps N] [--ab key=value] (sfDir or SPARK_GRAFT_SF_DIR)"))
    val spark = graft.Session.create()
    graft.Tables.load(spark, sfDir, "lineitem").count() // session warm
    def mb(b: Long): Double = b / 1048576.0
    for (name <- names; arm <- profile(spark, name, sfDir, reps, ab)) {
      val p = s"[profile] $name ${arm.name}"
      arm.reps.lazyZip(arm.compiles).lazyZip(arm.codegenMs).zipWithIndex
        .foreach { case ((r, c, ms), i) =>
          println(f"$p rep${i + 1} construct_s=${r.constructS}%.3f " +
            f"output_s=${r.outputS}%.3f total_s=${r.totalS}%.3f " +
            f"rows=${r.rows} codegen_compiles=$c codegen_ms=$ms%.1f")
        }
      val ts = arm.reps.map(_.totalS).sorted
      println(f"$p min ${ts.head}%.3f / median ${ts(ts.size / 2)}%.3f s " +
        s"over $reps reps (1 untimed warm-up)")
      val l = arm.layers
      println(f"$p layers: jobs=${l.jobs} stages=${l.stages} " +
        f"tasks=${l.tasks} executor_run_s=${l.taskSec}%.2f " +
        f"cpu_s=${l.cpuSec}%.2f gc_s=${l.gcSec}%.2f " +
        f"input_mb=${mb(l.input)}%.2f input_records=${l.inputRecords} " +
        f"shuffle_read_mb=${mb(l.shuffleRead)}%.2f " +
        f"shuffle_write_mb=${mb(l.shuffleWrite)}%.2f " +
        f"spill_mb=${mb(l.spill)}%.2f")
      arm.stages.take(12).foreach { case (id, s, maxMs) =>
        println(f"[stage] id=$id%-4d tasks=${s.tasks}%-4d " +
          f"run_s=${s.taskSec}%7.2f max_task_s=${maxMs / 1e3}%6.2f " +
          f"input_mb=${mb(s.input)}%8.2f " +
          f"input_records=${s.inputRecords}%-9d " +
          f"shuffle_read_mb=${mb(s.shuffleRead)}%8.2f " +
          f"shuffle_write_mb=${mb(s.shuffleWrite)}%8.2f")
      }
      println(s"$p final plan of the noop write:")
      println(arm.plan.toString.take(20000))
    }
    spark.stop()
  }
}
