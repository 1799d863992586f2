package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on
  * SPARK_GRAFT_SF_DIR (default sf0.1), each from the query call to its
  * whole output in Spark's noop sink ([[FullOutput.time]]).
  *
  * Methodology (designed so a number can be trusted, not just read):
  *  - AMBIENT LOAD is gated before the session spins up
  *    ([[MaxLoad]]); loadavg samples at every rep-block boundary land
  *    in the artifact's "loadavg" field for forensics;
  *  - AMBIENT LOAD IS ALSO MEASURED PER REP BLOCK, mid-flight, with a
  *    signal the bench cannot pollute: loadavg mid-run is dominated by
  *    our own executor threads (r9's gate passed at 1.36 and load
  *    arrived DURING the blocks), so each block instead measures
  *    FOREIGN cpu — /proc/stat busy jiffies minus this JVM's own
  *    /proc/self/stat jiffies over the block's wall time = average
  *    cores consumed by everything that is not the bench. A block
  *    above the gate ([[MaxAmbient]], [[SkewFrac]]) is DISCARDED and
  *    re-run once (global budget [[MaxReruns]]); a still-contaminated
  *    re-run keeps its numbers and stamps env_suspect. Per-block
  *    foreign-cpu averages land in "ambient", the bench's own
  *    per-block cores in "self_cores", re-run count in "reruns";
  *  - the per-query MIN is reported alongside the median and is THE
  *    regression-compare statistic: on a shared box ambient load only
  *    ever ADDS time, so the min over interleaved reps is the
  *    clean-machine estimator (r8+r9 both proved it: every apparent
  *    median regression sat at min parity). The previous artifact's
  *    per-query mins (qmin field of SPARK_GRAFT_BENCH_OUT, read BEFORE
  *    overwriting) are compared and every query past
  *    [[RegressThreshold]] lands in a sorted "regressions" table — the
  *    bench itself names suspects instead of leaving the diff to the
  *    reader;
  *  - reps are INTERLEAVED, not consecutive: rep r runs ALL queries in
  *    a seeded-shuffled order before rep r+1 starts. All queries share
  *    one JVM/session, so GC pressure, ContextCleaner timing and
  *    block-manager state couple neighbors — consecutive reps of one
  *    query all land in the same session regime and a median of them
  *    can still be pure session noise (round 3 measured 7.9x swings on
  *    byte-identical code this way). Shuffling per rep gives each
  *    query three different neighborhoods;
  *  - the pipeline_* family runs in its OWN pass, after everything
  *    else, with more reps (SPARK_GRAFT_BENCH_PIPE_REPS, default 7 — a
  *    deeper median is robust to a rep or two lost to background
  *    writeback) and a scratch reclaim plus fs sync between reps.
  *    These four queries write a temp warehouse and read it back;
  *    interleaving them with the others let their dirty-page writeback
  *    and cache churn leak into every neighbor, and vice versa — round
  *    4 measured a 2.9x rep spread on pipeline_sales_e2e that way;
  *  - the per-query MEDIAN is reported (driver contract), and the
  *    [min, median, max] spread is emitted under "spread" so a
  *    regression can be told apart from variance: if the spread
  *    brackets both rounds' numbers the swing is noise, not a plan
  *    change.
  *
  * Per-stage attribution is not this main's job: `perfbench/run.py
  * --trace 1` reports the pipeline's per-stage seconds and
  * [[graft.tools.Profile]] one query's per-Spark-stage counters.
  *
  * Output: the FULL artifact (all medians, mins, spreads, rows and
  * errors) is written to SPARK_GRAFT_BENCH_OUT (default
  * BENCH_LOCAL.json). Stdout gets ONE COMPACT line — total and
  * per-query median/min for the headline set only — kept well under
  * 2 KB because the bench's caller parses it from a bounded tail of
  * captured output; the round-4/5 full line (~8 KB) overflowed that
  * tail and was recorded as `parsed: null`. Query failures are NOT
  * swallowed: they are printed to stderr as they happen, listed in the
  * "errors" field (first few on stdout, all in the file), and make the
  * exit code 1 — a crashing query can never masquerade as a fast one.
  */
object Bench {

  /** Headline set for the compact stdout line: the four e2e pipelines
    * (the baseline-comparable numbers) plus the most expensive or
    * plan-interesting representatives of each operator family. */
  private val Headline = Seq(
    "pipeline_sales_e2e", "pipeline_customers_e2e",
    "pipeline_products_e2e", "pipeline_stores_e2e",
    "model_sales_fact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_clusters", "dedup_incremental", "sim_ivf_topk",
    "stream_interval_join", "stream_session", "chunk_documents",
    "text_top_terms", "sink_partitioned_pruned", "join_salted_skew",
    "corpus_curation_v2", "lsh_recall_report", "graph_pagerank",
    "join_bloom_prefilter", "dedup_bloom_incremental",
    "graph_triangles", "text_bpe_tokenize", "sim_ivf_incremental",
    "sim_ivf_filtered_topk", "stream_neardup_gate")

  /** Pre-session ambient gate (r8 lesson: the committed artifact
    * absorbed a 2.6x penalty from a loaded machine and reported a
    * phantom regression). Only the PRE-SESSION sample measures ambient
    * load — once our executor threads spin up, loadavg is dominated by
    * the bench itself. Above this 1-minute loadavg the bench waits (up
    * to [[LoadRetries]] x 30s) for it to drain; if it never does, it
    * proceeds but stamps the artifact env_suspect so the number is
    * read as contaminated rather than trusted. */
  private val MaxLoad = 2.0
  private val LoadRetries = 6

  /** Per-block foreign-core gate, SEPARATE from (and far tighter than)
    * the pre-session loadavg gate: r11's artifact passed blocks at
    * 0.25-0.52 foreign cores under the shared 2.0 threshold and
    * produced a 32-row regression table that was mostly ambient noise
    * — un-citable either way. 0.3 cores sits above measured
    * clean-machine jitter (r10: every block <=0.09) and well below the
    * contamination that poisoned r11, so a dirty block re-runs instead
    * of passing. */
  private val MaxAmbient = 0.3

  /** Attribution-skew allowance (see [[selfCoresOf]]): the effective
    * gate is max(MaxAmbient, SkewFrac * selfCores) so a block at sf1
    * intensity (~11 self-cores) is not failed by its own accounting
    * skew while the sf0.1 gate stays at ~0.3-0.4 — r11's 0.52-core
    * contamination still trips it. */
  private val SkewFrac = 0.06

  /** Rerun budget 6 (r15, was 4): the r14 close-out EXHAUSTED the
    * budget and had to KEEP a block at 1.24 foreign cores, which both
    * flipped env_suspect and produced a 7-row regression table that
    * round-15 probes showed was almost entirely that contamination
    * (stream_neardup_gate "2.23x" probed FASTER than its r13
    * baseline). Two more reruns cost ~2 block-times in the worst case
    * and buy the artifact a real chance of staying clean on a host
    * with bursty ambient activity. */
  private val MaxReruns = 6

  /** A query is named a regression when its statistic exceeds this
    * multiple of the previous artifact's (see [[regressions]]). */
  private val RegressThreshold = 1.3

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000

  /** Rep hygiene between timed runs, shared by this bench,
    * [[graft.tools.BenchAdjudicate]] and [[graft.tools.Profile]]: drop
    * cached frames, reclaim the pipeline family's temp warehouses and
    * flush the writeback left behind (deleting un-synced scratch
    * cancels it, so it cannot ambush the next rep mid-flight), then
    * collect dead blocks and finished-query garbage. */
  private[graft] def repHygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    registry.PipelineQueries.clearScratch(spark)
    try { new ProcessBuilder("sync").start().waitFor(); () }
    catch { case _: Exception => () }
    System.gc()
  }

  /** The first line of a /proc file through `parse`, or `orElse` if it
    * is unreadable (e.g. non-Linux). */
  private def procLine[T](path: String, orElse: T)(parse: String => T): T =
    try {
      val src = scala.io.Source.fromFile(path)
      try parse(src.getLines().next()) finally src.close()
    } catch { case NonFatal(_) => orElse }

  /** 1-minute load average from /proc/loadavg (-1 if unreadable).
    * Sampled BEFORE the session spins up, this is ambient machine
    * load; sampled mid-run it includes the bench's own executors and is
    * recorded for forensics only. */
  private def loadavg(): Double =
    procLine("/proc/loadavg", -1.0)(_.split("\\s+")(0).toDouble)

  /** Jiffies the whole MACHINE spent busy (everything except idle and
    * iowait) since boot — /proc/stat's aggregate "cpu" line. */
  private def machineBusyJiffies(): Long = procLine("/proc/stat", -1L) { l =>
    val f = l.trim.split("\\s+").drop(1).map(_.toLong)
    f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  }

  /** Jiffies THIS process (all threads, incl. GC) has consumed —
    * /proc/self/stat utime+stime. comm (field 2) may contain spaces,
    * so fields are indexed after the closing paren. */
  private def selfJiffies(): Long = procLine("/proc/self/stat", -1L) { l =>
    val rest = l.substring(l.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong // utime, stime
  }

  /** USER_HZ: the /proc jiffy unit. Hardwired 100 — the value on every
    * mainstream Linux and not portably readable from the JVM; it only
    * scales a number compared against a same-unit threshold. */
  private val JiffiesPerSec = 100.0

  private[graft] final case class CpuSnap(busy: Long, self: Long, nanos: Long)
  private[graft] def cpuSnap(): CpuSnap =
    CpuSnap(machineBusyJiffies(), selfJiffies(), System.nanoTime())

  /** Average FOREIGN cores busy over the window [a, b]: machine busy
    * cpu minus this JVM's own — the ambient-load signal that, unlike
    * loadavg, is immune to the bench's own executor threads. -1 if
    * /proc was unreadable (non-Linux). */
  private[graft] def ambientCores(a: CpuSnap, b: CpuSnap): Double = {
    val wall = (b.nanos - a.nanos) / 1e9
    if (a.busy < 0 || b.busy < 0 || a.self < 0 || b.self < 0 || wall <= 0)
      -1.0
    else math.max(0L, (b.busy - a.busy) - (b.self - a.self)) /
      JiffiesPerSec / wall
  }

  /** Average cores THIS JVM consumed over the window — the foreign
    * signal's denominator. The machine's tick-sampled aggregate and
    * the scheduler's per-process accounting drift a few percent apart
    * under load, so "foreign" carries a phantom component roughly
    * proportional to the bench's OWN consumption (measured at sf1:
    * up to ~1.0 phantom core at ~11 self-cores on a machine running
    * nothing else, vs <=0.08 at sf0.1's ~6 self-cores). The gate
    * threshold must therefore scale with self, not sit at an
    * absolute. */
  private[graft] def selfCoresOf(a: CpuSnap, b: CpuSnap): Double = {
    val wall = (b.nanos - a.nanos) / 1e9
    if (a.self < 0 || b.self < 0 || wall <= 0) -1.0
    else (b.self - a.self).toDouble / JiffiesPerSec / wall
  }

  /** Queries whose current min regressed past `threshold` x the
    * previous min (both must be positive), worst first. A small
    * absolute floor (`minDelta`, seconds) keeps sub-second queries
    * from tripping the RATIO on scheduler jitter — back-to-back
    * identical-code runs showed 1.3-1.6x "regressions" on 0.1-0.3s
    * queries whose absolute delta was scheduling noise. Public and
    * pure so the spec can plant a deliberate slowdown and watch it
    * trip. */
  def regressions(prevMin: Map[String, Double], curMin: Map[String, Double],
                  threshold: Double,
                  minDelta: Double = 0.2): Seq[(String, Double)] =
    curMin.toSeq.flatMap { case (k, c) =>
      prevMin.get(k).filter(p => p > 0 && c > 0 && c - p > minDelta)
        .map(p => k -> c / p)
    }.filter(_._2 > threshold).sortBy(-_._2)

  /** The artifact format version this bench writes and the only one its
    * reader accepts. 3 = every query timed to its full output in the
    * noop sink ("sink":"noop") with per-query "rows". Schema 2 and
    * older timed `.count()`, which column pruning lets skip derived
    * columns and aggregate values, so their numbers cannot be compared
    * with these; a LARGER version is a future format this reader must
    * not guess at. */
  val ArtifactSchema = 3

  private val Json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One JSON object: "schema" and "sink", then `fields` in order
    * (Scala maps and sequences become objects and arrays). Writes both
    * the artifact and the compact stdout line. */
  private[graft] def artifactJson(fields: (String, Any)*): String =
    Json.writeValueAsString(ListMap(
      Seq("schema" -> ArtifactSchema, "sink" -> "noop") ++ fields: _*))

  /** A previous artifact's JSON root: None if the file is absent or
    * unparsable (the compare is then skipped, never fatal) or is not
    * schema [[ArtifactSchema]]. */
  private def priorArtifact(path: String): Option[JsonNode] =
    try {
      val root = Json.readTree(new java.io.File(path))
      val schema = root.path("schema").asInt(0)
      if (schema != ArtifactSchema) {
        System.err.println(s"BENCH: prior artifact $path is schema " +
          s"$schema, not $ArtifactSchema - skipping the regression " +
          "compare rather than misreading it")
        None
      } else Some(root)
    } catch { case NonFatal(_) => None }

  /** A prior artifact's per-query numbers under `field` (none unless
    * it is an object). */
  private def priorField(path: String, field: String): Map[String, Double] =
    priorArtifact(path).map(_.path(field)).filter(_.isObject)
      .fold(Map.empty[String, Double])(_.fields().asScala
        .map(e => e.getKey -> e.getValue.asDouble(-1.0)).toMap)

  /** Per-query mins from a previous bench artifact (the "qmin" field). */
  def priorMins(path: String): Map[String, Double] = priorField(path, "qmin")

  /** Per-query MEDIANS from a previous artifact (the "queries" field)
    * — the regression statistic at reps < 3, where a "min" is just
    * the better of two samples (r13's sf1 run flagged 42 rows on
    * identical code whose medians summed to 0.992x the prior
    * artifact). Same schema guard and failure tolerance as
    * [[priorMins]]. */
  def priorMedians(path: String): Map[String, Double] =
    priorField(path, "queries")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val pipeReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_PIPE_REPS", "7")
      .toInt.max(1)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")

    // pre-session ambient-load gate (see MaxLoad)
    val (loadStart, loadWaits) = Iterator.iterate((loadavg(), 0)) {
      case (load, waits) =>
        System.err.println(f"BENCH: ambient load $load%.2f > $MaxLoad%.1f, " +
          s"waiting 30s (${waits + 1}/$LoadRetries)")
        Thread.sleep(30000)
        (loadavg(), waits + 1)
    }.find { case (l, w) => l < 0 || l <= MaxLoad || w >= LoadRetries }.get
    val envSuspect = loadStart >= 0 && loadStart > MaxLoad
    if (envSuspect) System.err.println(
      f"BENCH: ambient load still $loadStart%.2f after $loadWaits waits " +
        "- artifact will be flagged env_suspect")
    // labeled loadavg samples embedded in the artifact (label -> value)
    val loadSamples =
      scala.collection.mutable.LinkedHashMap("pre_session" -> loadStart)

    val spark = Session.create()

    // warm-up: session, codegen, file listing
    Tables.load(spark, sfDir, "lineitem").count()

    val names = SparkEntry.queries.keys.toSeq.sorted
    // the pipeline family writes+reads a temp warehouse per run; it
    // benches in its own isolated pass (see scaladoc)
    val (pipeNames, steadyNames) = names.partition(_.startsWith("pipeline_"))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = names.map(n =>
      n -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val rows = scala.collection.mutable.TreeMap[String, Long]()

    // mid-flight contamination: per-block foreign-cpu samples, reruns used
    var rerunsUsed = 0
    var blockSuspect = false
    val ambient = scala.collection.mutable.LinkedHashMap[String, Double]()
    val selfLoad = scala.collection.mutable.LinkedHashMap[String, Double]()

    def runOne(name: String): Unit =
      try {
        val t = FullOutput.time(spark, name, sfDir)
        times(name) += t.totalS
        rows(name) = t.rows
      } catch {
        case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"BENCH FAILURE in $name -> $msg")
          errors(name) = msg.take(300)
      } finally {
        // queries own caches for intra-query reuse; drop them (and
        // dead blocks via an explicit GC) so one query's residue
        // cannot throttle the next
        spark.catalog.clearCache()
        System.gc()
      }

    // untimed run outside the gated windows; a real failure re-surfaces timed
    def untimed(name: String): Unit =
      try { FullOutput.time(spark, name, sfDir); () }
      catch { case NonFatal(_) => () }
      finally spark.catalog.clearCache()

    // Runs one rep block with the foreign-cpu window around it. If the
    // window shows more foreign cores than the gate, the block's timings
    // are rolled back (errors are kept — they are not timing noise) and
    // the block re-runs ONCE, budget permitting; a still-contaminated
    // re-run keeps its numbers and flips the env_suspect stamp. The
    // ambient window covers ONLY the timed queries — scratch reclaim /
    // sync after a pipe block flushes OUR writeback through kernel
    // threads, which the self-jiffies subtraction cannot claim.
    def gatedBlock(label: String, order: Seq[String],
                   betweenAttempts: () => Unit = () => (),
                   rerun: Boolean = false): Unit = {
      val mark = times.map { case (k, b) => k -> b.length }
      val snap0 = cpuSnap()
      for (name <- order if !errors.contains(name)) runOne(name)
      val snap1 = cpuSnap()
      val amb = ambientCores(snap0, snap1)
      val self = selfCoresOf(snap0, snap1)
      val key = if (rerun) s"${label}_rerun" else label
      ambient(key) = r3(amb)
      selfLoad(key) = r3(self)
      val gate = math.max(MaxAmbient, SkewFrac * math.max(0.0, self))
      if (amb > gate && !rerun && rerunsUsed < MaxReruns) {
        System.err.println(
          f"BENCH: $label saw $amb%.2f foreign cores (> $gate%.2f gate " +
            f"at $self%.1f self-cores) - discarding and re-running the block")
        times.foreach { case (k, b) => b.takeInPlace(mark(k)) }
        rerunsUsed += 1
        betweenAttempts()
        gatedBlock(label, order, betweenAttempts, rerun = true)
      } else if (amb > gate) blockSuspect = true
    }

    // Pre-build the session-staged artifacts (LSH/jaccard pair tables,
    // IVF/PQ/int8 indexes, trained BPE) with ONE untimed touch of a
    // consumer per family BEFORE the first gated block: a first-use
    // build is a parquet write inside a timed query, whose kernel
    // writeback jiffies are not in /proc/self — the bench's own staging
    // I/O would read as foreign CPU and spend the rerun budget on a
    // false contamination signal, while attributing build cost to
    // whichever staged-family query the rep-1 shuffle happens to order
    // first. Every timed rep then sees only read-side work, which is
    // also the deployed steady-state shape these queries claim to
    // measure. Params match the registry's canonical calls, so the
    // touched build IS the one the timed reps read.
    for (name <- Seq("sim_ivf_topk", "sim_pq_topk", "sim_int8_rerank_topk",
           "graph_pagerank", "dedup_clusters", "vocab_bpe_merges",
           "vocab_bpe_merges64", "sim_ivf_incremental",
           "stream_neardup_gate", "sim_ivf_filtered_topk",
           "sim_ivfpq_topk",
           // r16 session-2 staged artifacts: the snapshot shingle-set
           // frame and the semantic gate's stale fit + corpus index
           "corpus_novelty_curve", "stream_semdedup_gate")
         if SparkEntry.queries.contains(name)) untimed(name)
    // flush the staging writeback outside the gated windows
    repHygiene(spark)

    for (rep <- 1 to reps) {
      // deterministic per-rep shuffle: every query gets a different
      // neighborhood each rep (fixed seeds keep runs reproducible)
      val order = new scala.util.Random(0x9E3779B9L * rep).shuffle(steadyNames)
      gatedBlock(s"steady_rep$rep", order)
      loadSamples(s"post_steady_rep$rep") = loadavg()
    }

    // the pipeline family is write-heavy; dirty pages accumulated by
    // the 130-query steady pass above would otherwise flush mid-rep
    // and ambush individual pipeline reps (measured: 2.7x rep spread
    // with the max landing wherever writeback did). Flush ONCE before
    // the pass and after each rep so every rep starts with a clean
    // writeback queue.
    repHygiene(spark)
    // one UNTIMED warm-up rep: the pipeline family's code paths
    // (gates, clean, model, load, log sinks) first run here, so their
    // JIT/codegen warm-up and the first big post-steady-pass GC land
    // outside the timed reps (measured: first pipe rep ~2x steady)
    for (name <- pipeNames if !errors.contains(name)) untimed(name)
    repHygiene(spark)
    for (rep <- 1 to pipeReps) {
      val order = new scala.util.Random(0x51ED2701L * rep).shuffle(pipeNames)
      gatedBlock(s"pipe_rep$rep", order, () => repHygiene(spark))
      // reclaim this rep's temp warehouses (bounds scratch to one
      // rep's worth), outside the ambient window on purpose (gatedBlock)
      repHygiene(spark)
      loadSamples(s"post_pipe_rep$rep") = loadavg()
    }

    // (name, trimmed min, median, trimmed max, untrimmed min) of each
    // timed query; failed or untimed queries are absent
    val results = names.filter(n => !errors.contains(n) && times(n).nonEmpty)
      .map { name =>
        val all = times(name).sorted
        // pipeline family: trim ONE rep from each end before reporting
        // the spread — the write-heavy pass is exposed to background
        // writeback/load bursts a single rep can absorb, and with >= 5
        // reps the symmetric trim leaves the MEDIAN identical while the
        // spread describes the reproducible middle instead of the worst
        // ambush (flagged "pipe_trim" in the artifact)
        val ts = if (name.startsWith("pipeline_") && all.length >= 5)
          all.drop(1).dropRight(1) else all
        (name, ts.head, ts(ts.length / 2), ts.last, all.head)
      }
    // true (untrimmed) per-query min — the regression-compare statistic
    val qmin = ListMap(results.map(r => r._1 -> r._5): _*)
    val medians = ListMap(results.map(r => r._1 -> r._3): _*)
    // compare against the PREVIOUS artifact (read before the overwrite
    // below), skipped if there is no comparable prior file. Statistic
    // choice: at reps >= 3 the min is a meaningful floor; at reps < 3
    // it is the better of two samples and flags noise (the r13 sf1
    // lesson, SCALE.md) — compare medians there instead
    val useMin = reps >= 3
    val regressStat = if (useMin) "min" else "median"
    val regress =
      if (useMin) regressions(priorMins(outFile), qmin, RegressThreshold)
      else regressions(priorMedians(outFile), medians, RegressThreshold)
    if (regress.nonEmpty) System.err.println(s"BENCH: ${regress.size} " +
      s"$regressStat-statistic regression(s) > ${RegressThreshold}x vs prior:" +
      regress.map { case (k, r) => f"\n  $k: $r%.2fx" }.mkString)
    val total = r3(medians.values.sum)
    loadSamples("end") = loadavg()
    // suspect if the pre-session gate failed OR any KEPT rep block ran
    // with foreign cpu above the gate (post-rerun)
    val suspect = envSuspect || blockSuspect
    def rounded(kv: Seq[(String, Double)]) =
      ListMap(kv.map { case (k, v) => k -> r3(v) }: _*)

    val full = artifactJson(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> medians, "rows" -> rows,
      "sf" -> sfDir, "reps" -> reps, "pipe_reps" -> pipeReps,
      "pipe_trim" -> 1, "load_waits" -> loadWaits, "loadavg" -> loadSamples,
      "ambient" -> ambient, "self_cores" -> selfLoad,
      "env_suspect" -> suspect, "reruns" -> rerunsUsed, "qmin" -> qmin,
      "regress_stat" -> regressStat,
      "regressions" -> rounded(regress),
      "spread" -> ListMap(results.map(r => r._1 -> Seq(r._2, r._3, r._4)): _*),
      "errors" -> errors)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // The compact line (see the scaladoc's Output paragraph): headline
    // {median, min} per query — the median is the contract
    // statistic, the min the clean-machine estimator the regression
    // compare runs on. Over the limit, errors keep only their names.
    def compactLine(errChars: Int): String = artifactJson(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> ListMap(Headline.filter(medians.contains).map(k =>
        k -> ListMap("median" -> r3(medians(k)), "min" -> r3(qmin(k)))): _*),
      "sf" -> sfDir, "reps" -> reps, "pipe_reps" -> pipeReps,
      "nqueries" -> names.size, "nerrors" -> errors.size,
      "load_start" -> loadStart, "env_suspect" -> suspect,
      "reruns" -> rerunsUsed, "regress_n" -> regress.size,
      "regress_top" -> rounded(regress.take(3)),
      "errors" -> ListMap(errors.toSeq.take(3).map { case (k, v) =>
        k -> v.take(errChars) }: _*),
      "detail" -> outFile)
    val line = Seq(80, 0).map(compactLine).find(_.length <= 1900)
      .getOrElse(compactLine(0))
    // stop FIRST, print LAST: the JSON must be the process's final
    // stdout line (build.sbt routes forked stdout through verbatim and
    // suppresses sbt's own trailer for the same reason)
    spark.stop()
    println(line)
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
