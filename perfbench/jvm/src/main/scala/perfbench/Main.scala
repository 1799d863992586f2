package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ext.{ArtifactStore, PairStage, Similarity}
import graft.registry.PipelineQueries

/** Runs one benchmark workload in this JVM.
  *
  * Usage: perfbench.Main --corpus DIR --warm-corpus DIR --ops FILE
  *          --seconds N --trace 0|1 --setup KIND --out DIR
  *   --corpus DIR     parquet corpus (perfbench/corpus.py)
  *   --warm-corpus DIR  a small copy of it for warm-up runs
  *   --ops FILE       the op sequence: one cycle per line, op names
  *                    separated by spaces
  *   --seconds N      the timed window; cycles always run to their end
  *   --trace 0|1      attach the instruments and report per-layer
  *                    figures (see [[window]])
  *   --setup KIND     artifact builds and warm-up before the window:
  *                    construct (one construct call per distinct op, no
  *                    output) | curation | warm (each op once over the
  *                    warm-up corpus) | stream (warm, plus the stream
  *                    gate's artifact)
  *   --out DIR        run directory: result.json, spans.json and the
  *                    verified outputs (verify/<op>/) land here
  *
  * Each op is timed from the call into the registered query function
  * until its whole output has been written to the `noop` sink
  * ([[FullOutput]]). The first execution of each distinct op is followed
  * by an untimed re-execution of the returned frame into parquet, which
  * the caller checks against the DuckDB oracle; every timed execution's
  * row count must equal that verified count. An artifact built after
  * set-up is an error of the run.
  */
object Main {

  /** What one pipeline op's own stage log and warehouse held. */
  final case class PipeRun(sourceRows: Long, stages: Map[String, Double],
      files: Long)

  /** How an op execution ran: `Plain` in an untraced run; in a traced
    * run `Traced` (its figures are the per-layer ones) and the overhead
    * pair `PairPlain`/`PairTraced`. */
  sealed abstract class Mode(val name: String, val instrumented: Boolean)
  case object Plain extends Mode("plain", false)
  case object Traced extends Mode("traced", true)
  case object PairPlain extends Mode("pair_plain", false)
  case object PairTraced extends Mode("pair_traced", true)

  final case class OpResult(idx: Int, cycle: Int, name: String, mode: Mode,
      constructS: Double, outputS: Double, rows: Long, error: String,
      pipe: Option[PipeRun], codegenCompiles: Long) {
    def wallS: Double = constructS + outputS
  }

  val json: JsonMapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()

  def writeJson(f: File, v: Any): Unit = json.writeValue(f, v)

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val corpus = new File(opt("corpus")).getAbsolutePath
    val warmCorpus = new File(opt("warm-corpus")).getAbsolutePath
    val out = new File(opt("out")).getAbsoluteFile
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val setup = opt.getOrElse("setup", "none")
    val cycles = Files.readAllLines(Paths.get(opt("ops"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+").toSeq)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val artifactRoot = new File(out, "artifacts").getAbsolutePath
    val verifyDir = new File(out, "verify")

    val spark = session(cores, artifactRoot, new File(out, "warehouse"))
    val registry = SparkEntry.queries
    val tracer = if (trace) Some(new Tracer(spark, artifactRoot)) else None

    // ---- set-up: warm-up and every artifact the ops attach ----
    val sessionMs = System.currentTimeMillis()
    val distinct = cycles.flatten.distinct
    // A JVM's first run of an op pays class loading, code generation and
    // JIT worth up to a third of its time, and that share varies from
    // run to run; the warm-up runs each op once over the small corpus.
    val warmOps = setup == "warm" || setup == "stream"
    if (!warmOps) graft.Tables.load(spark, corpus, "lineitem").count()
    setup match {
      case "construct" => distinct.foreach { n =>
        // a construct call stages whatever artifacts the op attaches
        try registry(n)(spark, corpus)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] set-up construct of $n failed: $e") }
      }
      case "stream" =>
        PairStage.minhashCorpusSigs(spark, corpus, excludeMod = 3)
      case "curation" =>
        val nc = Similarity.autoCentroids(PairStage.corpusCard(spark, corpus)._1)
        PairStage.ivfCorpusCells(spark, corpus, nc, iters = 2)
        PairStage.ivfCentroids(spark, corpus, nc, iters = 2)
      case _ => ()
    }
    val warmMs = System.currentTimeMillis()
    if (warmOps) {
      distinct.foreach(n => FullOutput.run(registry(n)(spark, warmCorpus)))
      PipelineQueries.clearScratch(spark)
    }
    val readyMs = System.currentTimeMillis()
    val setupS = (readyMs - jvmStartMs) / 1e3

    // ---- timed window ----
    val verified = mutable.LinkedHashMap.empty[String, Long]
    val w = window(spark, registry, corpus, cycles, seconds, verifyDir,
      verified, tracer)
    // (built at epoch ms, build wall ms) of every artifact in the store
    val built = ArtifactStore.manifest(spark).collect().toSeq.map(r =>
      (r.getAs[Long]("built_unix_ms"), r.getAs[Long]("build_wall_ms")))
    val buildsTimed = built.count(_._1 >= readyMs)
    val oracle = SparkEntry.oracleSql
    writeJson(new File(out, "oracle_sql.json"),
      verified.keys.flatMap(n => oracle.get(n).map(n -> _)).toMap)

    val layers: Seq[(String, Double)] = tracer.map { t =>
      Layers.compute(t, w, cores, artifactRoot, built, readyMs) ++
        FunctionCost.measure(spark, corpus, t)
    }.getOrElse(Nil)
    tracer.foreach { t =>
      writeJson(new File(out, "spans.json"), Layers.spans(t, w.spans))
    }

    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter(kv => kv._1.startsWith("spark.sql") ||
        kv._1.startsWith("spark.graft") || kv._1 == "spark.master")
    writeJson(new File(out, "result.json"), Map(
      "setup_s" -> setupS,
      "setup_parts" -> Map("jvm_s" -> (mainMs - jvmStartMs) / 1e3,
        "session_s" -> (sessionMs - mainMs) / 1e3,
        "artifacts_s" -> (warmMs - sessionMs) / 1e3,
        "warmup_s" -> (readyMs - warmMs) / 1e3),
      "cycles" -> w.cycles,
      "peak_rss_mb" -> peakRssMb(),
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "confs" -> confs.toMap,
      "verified_rows" -> verified,
      "artifact_builds_timed" -> buildsTimed,
      "ops" -> w.results.map(r => Map(
        "idx" -> r.idx, "cycle" -> r.cycle, "name" -> r.name,
        "mode" -> r.mode.name, "construct_s" -> r.constructS,
        "output_s" -> r.outputS, "wall_s" -> r.wallS, "rows" -> r.rows,
        "source_rows" -> r.pipe.map(_.sourceRows), "error" -> r.error)),
      "layers" -> layers.toMap))
    spark.stop()
  }

  /** One timed window: its ops, the spans of the `Traced` ones and
    * those of the `PairTraced` ones. */
  final case class Window(results: Seq[OpResult], spans: Seq[OpSpan],
      pairSpans: Seq[OpSpan], cycles: Int) {
    def traced: Seq[OpResult] = results.filter(_.mode == Traced)
  }

  /** Runs whole cycles until `seconds` of op time have passed. With a
    * tracer each op runs three times: `Traced`, in the state an
    * untraced run times it in, then the overhead pair, untraced and
    * traced in an order that alternates from op to op, so that both
    * halves are repeat executions (an op's first execution at full
    * scale in a JVM is the slow one). The instruments are attached only
    * around traced executions. The first execution of each distinct op
    * is re-executed into parquet outside the timing (`verified` records
    * its row count); every later execution's row count must match
    * it. */
  def window(spark: SparkSession,
             registry: Map[String, (SparkSession, String) => DataFrame],
             corpus: String, cycles: Seq[Seq[String]], seconds: Double,
             verifyDir: File, verified: mutable.Map[String, Long],
             tracer: Option[Tracer]): Window = {
    val results = mutable.ArrayBuffer.empty[OpResult]
    val spans = mutable.ArrayBuffer.empty[OpSpan]
    val pairSpans = mutable.ArrayBuffer.empty[OpSpan]
    val pipeRuns = mutable.Set.empty[String]
    var timedS = 0.0
    var idx = 0
    var cycleNo = 0

    def runOp(name: String, mode: Mode): OpResult = {
      if (mode.instrumented) tracer.foreach(_.attach())
      val codegen0 = codegenCompiles()
      spark.sparkContext.setJobGroup(Tracer.group(idx), name)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var n1 = n0
      var df: DataFrame = null
      val (rows, err) =
        try {
          df = registry(name)(spark, corpus)
          n1 = System.nanoTime()
          (FullOutput.run(df), null)
        } catch { case e: Throwable =>
          if (n1 == n0) n1 = System.nanoTime()
          (-1L, e.toString.take(300))
        }
      val n2 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      val codegen = codegenCompiles() - codegen0
      if (mode.instrumented) tracer.foreach(_.detach())
      val span = OpSpan(idx, name, t0, t0 + (n1 - n0) / 1000000L,
        t0 + (n2 - n0) / 1000000L)
      if (mode == Traced) spans += span
      if (mode == PairTraced) pairSpans += span
      timedS += (n2 - n0) / 1e9
      var error = err
      // untimed: verify the first execution of each distinct op
      if (error == null && !verified.contains(name)) {
        spark.sparkContext.setJobGroup(Tracer.VerifyGroup, name)
        try {
          val (o, obs) = FullOutput.observed(df)
          o.write.mode("overwrite")
            .parquet(new File(verifyDir, name).getAbsolutePath)
          verified(name) = obs.get("rows").asInstanceOf[Long]
        } catch { case e: Throwable =>
          error = s"verification write failed: ${e.toString.take(300)}"
        }
        spark.sparkContext.clearJobGroup()
      }
      if (error == null && verified.get(name).exists(_ != rows))
        error = s"row count $rows != verified ${verified(name)}"
      val pipe =
        if (name.startsWith("pipeline_")) Some(pipelineRecord(spark, pipeRuns))
        else None
      val r = OpResult(idx, cycleNo, name, mode, (n1 - n0) / 1e9,
        (n2 - n1) / 1e9, rows, error, pipe, codegen)
      idx += 1
      r
    }

    while (cycleNo < cycles.size && (cycleNo == 0 || timedS < seconds)) {
      cycles(cycleNo).zipWithIndex.foreach { case (name, pos) =>
        val modes =
          if (tracer.isEmpty) Seq(Plain)
          else if (pos % 2 == 0) Seq(Traced, PairPlain, PairTraced)
          else Seq(Traced, PairTraced, PairPlain)
        modes.foreach(m => results += runOp(name, m))
      }
      if (cycles(cycleNo).exists(_.startsWith("pipeline_"))) {
        PipelineQueries.clearScratch(spark)
        pipeRuns.clear()
      }
      cycleNo += 1
    }
    Window(results.toSeq, spans.toSeq, pairSpans.toSeq, cycleNo)
  }

  /** The session every benchmark JVM runs: `local[cores]`, the bench's
    * SQL confs, and an artifact root and warehouse of its own. */
  def session(cores: Int, artifactRoot: String, warehouse: File)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.artifactRoot", artifactRoot)
      .config("spark.sql.warehouse.dir", warehouse.toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Janino compilations so far (Spark's codegen metrics source). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** VmHWM of this JVM, in MB (0 where /proc is unavailable). */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  /** The pipeline runs under this session's scratch root that are not in
    * `seen` (which gains them): the source rows their EXTRACT stages
    * read, per-stage seconds from their own stage logs, and the data
    * files their warehouses hold. Read before the scratch is reclaimed. */
  def pipelineRecord(spark: SparkSession, seen: mutable.Set[String])
      : PipeRun = {
    val root = new File(System.getProperty("java.io.tmpdir"),
      s"graft_pipe_${spark.sparkContext.applicationId}")
    val runs = Option(root.listFiles()).toSeq.flatten
      .filter(r => seen.add(r.getName))
    val entries = runs.flatMap { r =>
      val log = new File(r, "logs/etl_stage_log.jsonl")
      if (!log.exists) Nil
      else Files.readAllLines(log.toPath).asScala.toSeq
        .filter(_.trim.nonEmpty).map(json.readTree)
        .filter(_.path("status").asText == "SUCCESS")
    }
    val stages = entries.groupBy(_.path("stage_name").asText).map {
      case (k, es) => k -> es.map(e =>
        (java.time.Instant.parse(e.path("end_time").asText).toEpochMilli -
          java.time.Instant.parse(e.path("start_time").asText).toEpochMilli)
          / 1e3).sum
    }
    val sourceRows = entries.filter(_.path("stage_name").asText == "EXTRACT")
      .map(_.path("rows_out").asLong).sum
    val files = runs.flatMap(r => Tracer.listAll(new File(r, "wh")))
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    PipeRun(sourceRows, stages, files.toLong)
  }
}
