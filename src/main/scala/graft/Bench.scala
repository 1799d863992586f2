package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on
  * SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Methodology (designed so a number can be trusted, not just read):
  *  - AMBIENT LOAD is gated and recorded: /proc/loadavg is sampled
  *    before the session spins up (the only moment loadavg measures
  *    the MACHINE rather than the bench's own 32 threads); if it
  *    exceeds SPARK_GRAFT_BENCH_MAXLOAD (default 2.0) the bench waits
  *    up to SPARK_GRAFT_BENCH_LOAD_RETRIES x 30s for it to drain and,
  *    failing that, stamps the artifact `env_suspect` so a
  *    contaminated number cannot be read as a regression (round 8's
  *    committed artifact absorbed a 2.6x ambient penalty silently).
  *    Samples at every rep-block boundary land in the artifact's
  *    "loadavg" field for forensics;
  *  - AMBIENT LOAD IS ALSO MEASURED PER REP BLOCK, mid-flight, with a
  *    signal the bench cannot pollute: loadavg mid-run is dominated by
  *    our own 32 executor threads (r9's gate passed at 1.36 and load
  *    arrived DURING the blocks), so each block instead measures
  *    FOREIGN cpu — /proc/stat busy jiffies minus this JVM's own
  *    /proc/self/stat jiffies over the block's wall time = average
  *    cores consumed by everything that is not the bench. A block
  *    whose foreign-cpu average exceeds
  *    max(SPARK_GRAFT_BENCH_MAXAMBIENT, skewFrac * ownCores) is
  *    DISCARDED and re-run once (global budget
  *    SPARK_GRAFT_BENCH_RERUNS); the skew term exists because
  *    tick-sampled machine jiffies and scheduler-accounted process
  *    jiffies diverge a few percent under load, which reads as
  *    phantom foreign cpu proportional to the bench's own intensity
  *    (~1.0 core at sf1's ~11 self-cores on an otherwise idle box).
  *    If the re-run is still contaminated (or the budget is spent)
  *    its numbers are kept and the artifact is stamped env_suspect.
  *    Per-block foreign-cpu averages land in "ambient", the bench's
  *    own per-block cores in "self_cores", re-run count in "reruns";
  *  - the per-query MIN is reported alongside the median and is THE
  *    regression-compare statistic: on a shared box ambient load only
  *    ever ADDS time, so the min over interleaved reps is the
  *    clean-machine estimator (r8+r9 both proved it: every apparent
  *    median regression sat at min parity). At startup the previous
  *    artifact's per-query mins (qmin field of SPARK_GRAFT_BENCH_OUT,
  *    read BEFORE overwriting) are loaded and every query whose
  *    min/prev-min ratio exceeds SPARK_GRAFT_BENCH_REGRESS (default
  *    1.3) lands in a sorted "regressions" table — the bench itself
  *    names suspects instead of leaving the diff to the reader;
  *  - the session is warmed with a trivial scan first so the first
  *    timed query does not pay JVM/session startup;
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
  *    writeback) plus a scratch reclaim and an fs sync between reps
  *    (flushing dirty pages left by the steady pass so writeback
  *    cannot ambush a rep mid-flight). These four queries write a
  *    temp warehouse and read it back; interleaving them with the
  *    other 117 let their dirty-page writeback and cache churn leak
  *    into every neighbor, and vice versa — round 4 measured a 2.9x
  *    rep spread on pipeline_sales_e2e that way. Deleting the
  *    un-synced scratch between reps CANCELS pending writeback rather
  *    than flushing it;
  *  - between queries the cache is cleared and (unless
  *    SPARK_GRAFT_BENCH_GC=0) a System.gc() drops dead blocks and
  *    finished-query garbage, so one query's residue cannot throttle
  *    the next;
  *  - the per-query MEDIAN is reported (driver contract), and the
  *    [min, median, max] spread is emitted under "spread" so a
  *    regression can be told apart from variance: if the spread
  *    brackets both rounds' numbers the swing is noise, not a plan
  *    change. The pipeline family's spread is TRIMMED by one rep at
  *    each end ("pipe_trim":1; median unaffected by the symmetric
  *    trim) — with 7 reps of a write-heavy pass on a shared box, a
  *    single rep lost to a background writeback/load burst says
  *    nothing about the plan;
  *  - the sales pipeline is additionally run once with its per-stage
  *    wall seconds parsed from its own stage log ("stages" field) —
  *    the reference's reporting granularity — so a headline regression
  *    is attributable to a stage, not a 7s blob.
  *
  * Output: the FULL artifact (all medians + spreads + stages + errors)
  * is written to SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL.json).
  * Stdout gets ONE COMPACT line — total, per-query medians for the
  * headline set only, stages — kept well under 2 KB because the
  * driver parses the bench from a bounded tail of captured output; the
  * round-4/5 full line (~8 KB) overflowed that tail and the driver
  * recorded `parsed: null`. Query failures are NOT swallowed: they are
  * printed to stderr as they happen, listed in the "errors" field
  * (first few on stdout, all in the file), and make the exit code 1 —
  * a crashing query can never masquerade as a fast one.
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

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000

  /** Rep hygiene between timed runs, shared by this bench,
    * [[graft.tools.BenchAdjudicate]] and [[graft.tools.Profile]]: drop
    * cached frames, reclaim the pipeline family's temp warehouses and
    * flush the writeback left behind (deleting un-synced scratch
    * cancels it, so it cannot ambush the next rep mid-flight), then
    * optionally collect dead blocks and finished-query garbage. */
  private[graft] def repHygiene(spark: SparkSession, gc: Boolean = true)
      : Unit = {
    spark.catalog.clearCache()
    registry.PipelineQueries.clearScratch(spark)
    try { new ProcessBuilder("sync").start().waitFor(); () }
    catch { case _: Exception => () }
    if (gc) System.gc()
  }

  /** 1-minute load average from /proc/loadavg (-1 if unreadable, e.g.
    * non-Linux). Sampled BEFORE the session spins up, this is ambient
    * machine load; sampled mid-run it includes the bench's own
    * executors and is recorded for forensics only. */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** Jiffies the whole MACHINE spent busy (everything except idle and
    * iowait) since boot — /proc/stat's aggregate "cpu" line. */
  private def machineBusyJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      } finally src.close()
    } catch { case NonFatal(_) => -1L }

  /** Jiffies THIS process (all threads, incl. GC) has consumed —
    * /proc/self/stat utime+stime. comm (field 2) may contain spaces,
    * so fields are indexed after the closing paren. */
  private def selfJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      try {
        val line = src.getLines().next()
        val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
        rest(11).toLong + rest(12).toLong // utime, stime
      } finally src.close()
    } catch { case NonFatal(_) => -1L }

  /** USER_HZ: the /proc jiffy unit. Hardwired 100 — the value on every
    * mainstream Linux and not portably readable from the JVM; it only
    * scales a number compared against a same-unit threshold. */
  private val JiffiesPerSec = 100.0

  private[graft] final case class CpuSnap(busy: Long, self: Long, nanos: Long)
  private[graft] def cpuSnap(): CpuSnap =
    CpuSnap(machineBusyJiffies(), selfJiffies(), System.nanoTime())

  /** Average FOREIGN cores busy over the window [a, b]: machine busy
    * cpu minus this JVM's own — the ambient-load signal that, unlike
    * loadavg, is immune to the bench's own 32 threads. -1 if /proc was
    * unreadable (non-Linux). */
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

  /** The artifact format version this bench writes (and the newest its
    * reader understands). 2 = {median,min} headline objects, per-block
    * foreign-core ambient, env_suspect covering mid-flight
    * contamination. Artifacts without the field are pre-versioning
    * (≤r11) and still parse; a LARGER version is a future format this
    * reader must not guess at. */
  val ArtifactSchema = 2

  /** A previous artifact's JSON root: None if the file is absent or
    * unparsable (the compare is then skipped, never fatal) or declares
    * a newer schema than [[ArtifactSchema]]. */
  private def priorArtifact(path: String): Option[JsonNode] =
    try {
      val root = new ObjectMapper().readTree(new java.io.File(path))
      val schema = Option(root.get("schema")).map(_.asInt(0))
      if (schema.exists(_ > ArtifactSchema)) {
        System.err.println(s"BENCH: prior artifact $path declares " +
          s"schema ${schema.get} > $ArtifactSchema - skipping the " +
          "regression compare rather than misreading it")
        None
      } else Some(root)
    } catch { case NonFatal(_) => None }

  /** An artifact object's fields (none unless `n` is an object). */
  private def fields(n: JsonNode): Iterator[(String, JsonNode)] =
    if (n == null || !n.isObject) Iterator.empty
    else n.fields().asScala.map(e => e.getKey -> e.getValue)

  /** Per-query mins from a previous bench artifact: the "qmin" field,
    * falling back to "spread" minima ([lo,med,hi]) for artifacts
    * written before qmin existed. */
  def priorMins(path: String): Map[String, Double] =
    priorArtifact(path).fold(Map.empty[String, Double]) { root =>
      val qmin = fields(root.get("qmin"))
        .map { case (k, v) => k -> v.asDouble(-1.0) }.toMap
      if (qmin.nonEmpty) qmin
      else fields(root.get("spread")).collect {
        case (k, arr) if arr.isArray && arr.size() >= 1 =>
          k -> arr.get(0).asDouble(-1.0)
      }.toMap
    }

  /** Per-query MEDIANS from a previous artifact (the "queries" field)
    * — the regression statistic at reps < 3, where a "min" is just
    * the better of two samples (r13's sf1 run flagged 42 rows on
    * identical code whose medians summed to 0.992x the prior
    * artifact). Same schema guard and failure tolerance as
    * [[priorMins]]. */
  def priorMedians(path: String): Map[String, Double] =
    priorArtifact(path).fold(Map.empty[String, Double])(root =>
      fields(root.get("queries"))
        .map { case (k, v) => k -> v.asDouble(-1.0) }.toMap)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val pipeReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_PIPE_REPS", "7")
      .toInt.max(1)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val gcBetween = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") != "0"

    // Ambient-load gate (r8 lesson: the committed artifact absorbed a
    // 2.6x penalty from a loaded machine and reported a phantom
    // regression). Only the PRE-SESSION sample measures ambient load —
    // once our 32 executor threads spin up, loadavg is dominated by
    // the bench itself. If ambient load exceeds the threshold, wait
    // (bounded) for it to drain; if it never does, proceed but stamp
    // the artifact env_suspect so the number is read as contaminated
    // rather than trusted.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "2.0").toDouble
    val loadRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_RETRIES", "6")
      .toInt.max(0)
    var loadStart = loadavg()
    var loadWaits = 0
    while (loadStart >= 0 && loadStart > maxLoad && loadWaits < loadRetries) {
      System.err.println(
        f"BENCH: ambient load $loadStart%.2f > $maxLoad%.1f, " +
          s"waiting 30s (${loadWaits + 1}/$loadRetries)")
      Thread.sleep(30000)
      loadWaits += 1
      loadStart = loadavg()
    }
    val envSuspect = loadStart >= 0 && loadStart > maxLoad
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

    // mid-flight contamination machinery: per-block foreign-cpu
    // samples, and a bounded budget of whole-block re-runs.
    //
    // The foreign-core gate is SEPARATE from (and far tighter than)
    // the pre-session loadavg gate: r11's artifact passed blocks at
    // 0.25-0.52 foreign cores under the shared maxLoad=2.0 threshold
    // and produced a 32-row regression table that was mostly ambient
    // noise — un-citable either way. 0.3 cores sits above measured
    // clean-machine jitter (r10: every block <=0.09) and well below
    // the contamination that poisoned r11, so a dirty block re-runs
    // instead of passing.
    val maxAmbient = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXAMBIENT", "0.3")
      .toDouble
    // Attribution-skew allowance: tick-sampled machine jiffies vs the
    // scheduler's per-process jiffies diverge a few percent under
    // load, all of which lands in "foreign". The effective gate is
    // max(maxAmbient, skewFrac * selfCores) so a 32-thread block at
    // sf1 intensity (~11 self-cores) is not failed by its own
    // accounting skew while the sf0.1 gate stays at ~0.3-0.4 — r11's
    // 0.52-core contamination still trips it.
    val skewFrac = sys.env.getOrElse("SPARK_GRAFT_BENCH_SKEWFRAC", "0.06")
      .toDouble
    // rerun budget 6 (r15, was 4): the r14 close-out EXHAUSTED the
    // budget and had to KEEP a block at 1.24 foreign cores, which both
    // flipped env_suspect and produced a 7-row regression table that
    // round-15 probes showed was almost entirely that contamination
    // (stream_neardup_gate "2.23x" probed FASTER than its r13
    // baseline). Two more reruns cost ~2 block-times in the worst
    // case and buy the artifact a real chance of staying clean on a
    // host with bursty ambient activity.
    val maxReruns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUNS", "6")
      .toInt.max(0)
    var rerunsUsed = 0
    var blockSuspect = false
    val ambient = scala.collection.mutable.LinkedHashMap[String, Double]()
    val selfLoad = scala.collection.mutable.LinkedHashMap[String, Double]()

    def runOne(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        times(name) += (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"BENCH FAILURE in $name -> $msg")
          errors(name) = msg.take(300)
      } finally {
        // queries own caches for intra-query reuse; drop them (and,
        // optionally, dead blocks via an explicit GC) so one query's
        // residue cannot throttle the next
        spark.catalog.clearCache()
        if (gcBetween) System.gc()
      }
    }

    // Runs one rep block with the foreign-cpu window around it. If the
    // window shows more than maxLoad foreign cores, the block's timings
    // are rolled back (errors are kept — they are not timing noise) and
    // the block re-runs ONCE, budget permitting; a still-contaminated
    // re-run keeps its numbers and flips the env_suspect stamp. The
    // ambient window covers ONLY the timed queries — scratch reclaim /
    // sync after a pipe block flushes OUR writeback through kernel
    // threads, which the self-jiffies subtraction cannot claim.
    def gatedBlock(label: String, order: Seq[String],
                   betweenAttempts: () => Unit = () => ()): Unit = {
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        val mark = times.map { case (k, b) => k -> b.length }
        val snap0 = cpuSnap()
        for (name <- order if !errors.contains(name)) runOne(name)
        val snap1 = cpuSnap()
        val amb = ambientCores(snap0, snap1)
        val self = selfCoresOf(snap0, snap1)
        val key = if (attempt == 1) label else s"${label}_rerun"
        ambient(key) = r3(amb)
        selfLoad(key) = r3(self)
        val gate = math.max(maxAmbient, skewFrac * math.max(0.0, self))
        if (amb > gate && attempt == 1 && rerunsUsed < maxReruns) {
          System.err.println(
            f"BENCH: $label saw $amb%.2f foreign cores (> $gate%.2f gate " +
              f"at $self%.1f self-cores) - discarding and re-running the block")
          times.foreach { case (k, b) => b.takeInPlace(mark(k)) }
          rerunsUsed += 1
          betweenAttempts()
        } else {
          if (amb > gate) blockSuspect = true
          done = true
        }
      }
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
         if SparkEntry.queries.contains(name)) {
      try { SparkEntry.queries(name)(spark, sfDir).count(); () }
      catch { case NonFatal(_) => () } // a real failure re-surfaces timed
      finally spark.catalog.clearCache()
    }
    // flush the staging writeback outside the gated windows
    repHygiene(spark, gcBetween)

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
    repHygiene(spark, gcBetween)
    // one UNTIMED warm-up rep: the pipeline family's code paths
    // (gates, clean, model, load, log sinks) first run here, so their
    // JIT/codegen warm-up and the first big post-steady-pass GC land
    // outside the timed reps (measured: first pipe rep ~2x steady)
    for (name <- pipeNames if !errors.contains(name)) {
      try { SparkEntry.queries(name)(spark, sfDir).count(); () }
      catch { case NonFatal(_) => () } // a real failure re-surfaces timed
      finally spark.catalog.clearCache()
    }
    repHygiene(spark, gcBetween)
    for (rep <- 1 to pipeReps) {
      val order = new scala.util.Random(0x51ED2701L * rep).shuffle(pipeNames)
      gatedBlock(s"pipe_rep$rep", order, () => repHygiene(spark, gcBetween))
      // reclaim this rep's temp warehouses: bounds scratch to one
      // rep's worth and cancels its pending writeback. Outside the
      // ambient window on purpose (see gatedBlock)
      repHygiene(spark, gcBetween)
      loadSamples(s"post_pipe_rep$rep") = loadavg()
    }

    // per-stage attribution for the headline pipeline. MEDIANED over 3
    // probe runs: a single-shot probe is one more sample of the same
    // write-heavy pass the medians above needed 7 reps to pin down —
    // r7's lone probe caught a writeback burst and reported LOAD 3x
    // while the e2e median IMPROVED, so round-over-round stage numbers
    // were incoherent with the headline they attribute.
    //
    // r11: attribution is TASK METRICS, not wall clocks (VERDICT r10
    // #3 — three rounds of 2x probe-sum disagreement were ambient
    // noise stretching wall). A TaskTally on the listener bus collects
    // per-task executor run/cpu time and bytes; sales stages map
    // listener task timestamps into the pipeline log's stage windows,
    // curation stages bracket quiesced cumulative snapshots. The
    // trust flag and fusion gain run on CPU time — a foreign process
    // stealing cores stretches wall but cannot add to our tasks' cpu,
    // so same-plan probe runs must agree on it.
    // 5 probes (r12, was 3): the cpu-sum trust flag needs enough
    // samples to tell one disturbed probe (GC/spill regime flip —
    // now visible via per-probe gc + spill sums) from genuine
    // probe-to-probe disagreement; with >=5 the flag runs on the
    // middle three (one trim each end), the same discipline the
    // pipeline spread already uses.
    val stageReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_STAGE_REPS", "5")
      .toInt.max(1)
    val stageTally = new graft.tools.TaskTally
    spark.sparkContext.addSparkListener(stageTally)
    // One UNTIMED warm-up probe + an explicit GC between probe runs:
    // each probe materializes 5 per-stage checkpoints whose blocks are
    // only reclaimed after the referencing frames are GC'd — without
    // the collection the blocks pile up and the probe slows ~2.5x PER
    // RUN (r10 measured sums [4.5, 15.0, 37.5] on a clean machine;
    // with GC, the same probe measured [4.7, 4.3, 4.3]). The curation
    // probe loop below always collected; this one now matches.
    try { registry.PipelineQueries.salesStageSeconds(spark, sfDir); () }
    catch { case NonFatal(_) => () }
    repHygiene(spark, gcBetween)
    val stageRuns: Seq[Seq[(String, Double, graft.tools.TaskSnap)]] =
      (1 to stageReps).flatMap { _ =>
        val run =
          try {
            val win = registry.PipelineQueries.salesStageWindows(spark, sfDir)
            stageTally.quiesce()
            Some(win.map { case (n, a, b) =>
              (n, (b - a) / 1e3, stageTally.window(a, b)) })
          } catch { case NonFatal(e) =>
            System.err.println(s"stage probe failed: ${e.getMessage}")
            None
          }
        repHygiene(spark, gcBetween)
        run
      }
    def medBy(runs: Seq[Seq[(String, Double, graft.tools.TaskSnap)]],
              of: ((String, Double, graft.tools.TaskSnap)) => Double)
        : Seq[(String, Double)] =
      if (runs.isEmpty) Seq.empty
      else runs.head.map(_._1).map { k =>
        val vs = runs.flatMap(_.collect { case t @ (`k`, _, _) => of(t) })
          .sorted
        k -> vs(vs.length / 2)
      }
    val stages: Seq[(String, Double)] = medBy(stageRuns, _._2)
    val stagesCpu: Seq[(String, Double)] = medBy(stageRuns, _._3.cpuSec)
    val stagesTask: Seq[(String, Double)] = medBy(stageRuns, _._3.taskSec)
    val stagesShufMb: Seq[(String, Double)] =
      medBy(stageRuns, _._3.shuffleWrite / 1048576.0)
    val stagesGc: Seq[(String, Double)] = medBy(stageRuns, _._3.gcSec)

    // the FUSED pipeline's task metrics (one untimed tally-bracketed
    // run): the like-for-like denominator for the cpu fusion gain —
    // staged-sum wall over fused-min wall compared two different
    // clocks under different load; staged cpu over fused cpu compares
    // the same work counted the same way.
    val fusedSnap: Option[graft.tools.TaskSnap] =
      try {
        stageTally.quiesce()
        val pre = stageTally.snap()
        SparkEntry.queries("pipeline_sales_e2e")(spark, sfDir).count()
        stageTally.quiesce()
        Some(stageTally.snap().minus(pre))
      } catch { case NonFatal(e) =>
        System.err.println(s"fused tally run failed: ${e.getMessage}")
        None
      } finally repHygiene(spark, gcBetween)

    // per-stage attribution for the LLM-side composed flagship
    // (corpus_curation_v2), same 3-run median discipline + tally
    val curRuns: Seq[Seq[(String, Double, graft.tools.TaskSnap)]] =
      (1 to stageReps).flatMap { _ =>
        val run =
          try Some(registry.QueryShared.curationV2StageMetrics(spark, sfDir,
            Some(stageTally)))
          catch { case NonFatal(e) =>
            System.err.println(s"curation stage probe failed: ${e.getMessage}")
            None
          }
        repHygiene(spark, gcBetween)
        run
      }
    val curStages: Seq[(String, Double)] = medBy(curRuns, _._2)
    val curStagesCpu: Seq[(String, Double)] = medBy(curRuns, _._3.cpuSec)

    // true (untrimmed) per-query min — the regression-compare statistic
    val qmin = names.flatMap { name =>
      val ts = times(name)
      if (errors.contains(name) || ts.isEmpty) None
      else Some(name -> ts.min)
    }.toMap
    // compare against the PREVIOUS artifact (read before the overwrite
    // below); threshold configurable, compare skipped if no prior file
    val regressThreshold = sys.env.getOrElse("SPARK_GRAFT_BENCH_REGRESS",
      "1.3").toDouble
    // statistic choice: at reps >= 3 the min is a meaningful floor; at
    // reps < 3 it is the better of two samples and flags noise (the
    // r13 sf1 lesson, SCALE.md) — compare medians there instead
    val useMin = reps >= 3
    val regressStat = if (useMin) "min" else "median"
    val curMed = names.flatMap { name =>
      val ts = times(name)
      if (errors.contains(name) || ts.isEmpty) None
      else Some(name -> { val s = ts.sorted; s(s.size / 2) })
    }.toMap
    val regress =
      if (useMin) regressions(priorMins(outFile), qmin, regressThreshold)
      else regressions(priorMedians(outFile), curMed, regressThreshold)
    if (regress.nonEmpty) {
      System.err.println(s"BENCH: ${regress.size} $regressStat-statistic " +
        s"regression(s) > ${regressThreshold}x vs previous artifact:")
      regress.foreach { case (k, r) =>
        System.err.println(f"  $k: ${r}%.2fx") }
    }

    val results = names.map { name =>
      val all = times(name).sorted
      // pipeline family: trim ONE rep from each end before reporting
      // the spread — the write-heavy pass is exposed to background
      // writeback/load bursts a single rep can absorb, and with >= 5
      // reps the symmetric trim leaves the MEDIAN identical while the
      // spread describes the reproducible middle instead of the worst
      // ambush (flagged "trimmed" in the artifact)
      val ts = if (name.startsWith("pipeline_") && all.length >= 5)
        all.drop(1).dropRight(1) else all
      if (errors.contains(name) || ts.isEmpty) (name, -1.0, -1.0, -1.0)
      else (name, ts.head, ts(ts.length / 2), ts.last)
    }
    def jobj(pairs: Seq[String]): String = pairs.mkString("{", ",", "}")
    val qsFull = jobj(results.map { case (k, _, med, _) =>
      "\"" + k + "\":" + med })
    val spread = jobj(results.map { case (k, lo, med, hi) =>
      "\"" + k + s"""\":[$lo,$med,$hi]""" })
    def escErr(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ") + "\""
    val errFull = jobj(errors.toSeq.map { case (k, v) =>
      "\"" + k + "\":" + escErr(v) })
    val stageJson = jobj(stages.map { case (k, v) => "\"" + k + "\":" + v })
    val curJson = jobj(curStages.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    // Stage-probe trust, r11: the flag runs on CPU-TIME probe sums.
    // Wall-sum agreement (r10's check) still conflated ambient load
    // with real variance — a foreign process stretches every wall
    // clock, but it cannot add to OUR tasks' executorCpuTime, so
    // three back-to-back runs of the same staged plan must agree on
    // cpu or something is genuinely wrong with the measurement (plan
    // change, spill regime flip). The wall sums stay in the artifact
    // as context; the trust decision no longer reads them.
    //
    // fusion_gain, r11: CPU over CPU. The old staged-wall-sum over
    // fused-wall-min compared two different clocks taken under
    // different load; `fusion_gain_cpu` = (median staged cpu sum) /
    // (fused run's cpu) counts the same work the same way — a stable
    // >1 number quantifying what whole-pipeline fusion buys over
    // materialize-every-stage execution (at 100 TB: the case for NOT
    // checkpointing between pipeline stages). The wall-based
    // fusion_gain is kept for artifact continuity.
    val salesMin = times.get("pipeline_sales_e2e")
      .filter(_.nonEmpty).map(_.min).getOrElse(-1.0)
    val stageSum = stages.map(_._2).sum
    val probeSums = stageRuns.map(_.map(_._2).sum)
    val probeCpuSums = stageRuns.map(_.map(_._3.cpuSec).sum)
    val probeGcSums = stageRuns.map(_.map(_._3.gcSec).sum)
    val probeSpillMb = stageRuns.map(_.map(_._3.spill).sum / 1048576.0)
    // Trust flag on the MIDDLE probes' cpu sums (one trim each end
    // when >=5 probes — same discipline as the pipeline spread): one
    // probe caught in a GC/spill regime flip (visible in the gc/spill
    // sums above) is sample noise for the per-stage MEDIANS actually
    // reported, not probe disagreement. With <5 probes the untrimmed
    // r11 rule applies.
    val cpuTrim = {
      val s = probeCpuSums.sorted
      if (s.length >= 5) s.drop(1).dropRight(1) else s
    }
    val stagesSuspect = cpuTrim.isEmpty ||
      (cpuTrim.max - cpuTrim.min) > 0.4 * cpuTrim.min
    val fusionGain =
      if (salesMin > 0 && stageSum > 0) r3(stageSum / salesMin) else -1.0
    val stageCpuSum = stagesCpu.map(_._2).sum
    val fusionGainCpu = fusedSnap match {
      case Some(f) if f.cpuSec > 0 && stageCpuSum > 0 =>
        r3(stageCpuSum / f.cpuSec)
      case _ => -1.0
    }
    val total = r3(results.map(_._3).filter(_ >= 0).sum)

    loadSamples("end") = loadavg()
    val loadJson = jobj(loadSamples.toSeq.map { case (k, v) =>
      "\"" + k + "\":" + v })
    val ambientJson = jobj(ambient.toSeq.map { case (k, v) =>
      "\"" + k + "\":" + v })
    val selfLoadJson = jobj(selfLoad.toSeq.map { case (k, v) =>
      "\"" + k + "\":" + v })
    val qminJson = jobj(names.filter(qmin.contains).map(k =>
      "\"" + k + "\":" + qmin(k)))
    val regressJson = jobj(regress.map { case (k, r) =>
      "\"" + k + "\":" + r3(r) })
    // suspect if the pre-session gate failed OR any KEPT rep block ran
    // with foreign cpu above the gate (post-rerun)
    val suspect = envSuspect || blockSuspect
    val stageCpuJson = jobj(stagesCpu.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    val stageTaskJson = jobj(stagesTask.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    val stageShufJson = jobj(stagesShufMb.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    val curCpuJson = jobj(curStagesCpu.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    val fusedJson = fusedSnap.map(f =>
      s"""{"cpu_sec":${r3(f.cpuSec)},"task_sec":${r3(f.taskSec)},""" +
        s""""shuffle_write_mb":${r3(f.shuffleWrite / 1048576.0)}}""")
      .getOrElse("null")
    val stageGcJson = jobj(stagesGc.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    // "schema":2 — the artifact format version (driver ADVICE r11 #7):
    // 2 = per-query headline values are {median,min} objects, ambient
    // is foreign-cores per block, env_suspect covers mid-flight
    // contamination. Readers (BenchArtifactSpec) assert on it so a
    // silent format drift fails loudly instead of misparsing.
    val full =
      s"""{"schema":2,""" +
        s""""metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
        s""""sf":"$sfDir","reps":$reps,"pipe_reps":$pipeReps,"pipe_trim":1,""" +
        s""""stage_reps":$stageReps,"stages":$stageJson,""" +
        s""""stages_cpu":$stageCpuJson,"stages_task":$stageTaskJson,""" +
        s""""stages_shuffle_write_mb":$stageShufJson,""" +
        s""""stages_gc":$stageGcJson,""" +
        s""""fused_sales":$fusedJson,""" +
        s""""curation_stages_cpu":$curCpuJson,""" +
        s""""stages_suspect":$stagesSuspect,"fusion_gain":$fusionGain,""" +
        s""""fusion_gain_cpu":$fusionGainCpu,""" +
        s""""stage_probe_sums":[${probeSums.map(r3).mkString(",")}],""" +
        s""""stage_probe_cpu_sums":[${probeCpuSums.map(r3).mkString(",")}],""" +
        s""""stage_probe_gc_sums":[${probeGcSums.map(r3).mkString(",")}],""" +
        s""""stage_probe_spill_mb":[${probeSpillMb.map(r3).mkString(",")}],""" +
        s""""max_ambient":$maxAmbient,"skew_frac":$skewFrac,""" +
        s""""loadavg":$loadJson,"ambient":$ambientJson,""" +
        s""""self_cores":$selfLoadJson,""" +
        s""""env_suspect":$suspect,""" +
        s""""max_load":$maxLoad,"load_waits":$loadWaits,""" +
        s""""reruns":$rerunsUsed,"qmin":$qminJson,""" +
        s""""regress_threshold":$regressThreshold,""" +
        s""""regress_stat":"$regressStat",""" +
        s""""regressions":$regressJson,""" +
        s""""curation_stages":$curJson,"spread":$spread,"errors":$errFull}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // compact stdout line: must survive the driver's bounded tail
    // capture (~2 KB) intact, or the round artifact records
    // parsed:null. Headline medians only; full detail in `outFile`.
    val medians = results.map { case (k, _, med, _) => k -> med }.toMap
    // {median, min} per headline query: the median is the driver
    // contract statistic, the min is the clean-machine estimator the
    // regression compare runs on
    val qsHead = jobj(Headline.filter(medians.contains).map(k =>
      "\"" + k + "\":{\"median\":" + r3(medians(k)) +
        ",\"min\":" + r3(qmin.getOrElse(k, -1.0)) + "}"))
    val errHead = jobj(errors.toSeq.take(3).map { case (k, v) =>
      "\"" + k + "\":" + escErr(v.take(80)) })
    val stageHead = jobj(stages.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    val curHead = jobj(curStages.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) })
    // stop FIRST, print LAST: the JSON must be the process's final
    // stdout line (build.sbt routes forked stdout through verbatim and
    // suppresses sbt's own trailer for the same reason)
    // regression summary, compact: count + worst three only
    val regressHead = jobj(regress.take(3).map { case (k, r) =>
      "\"" + k + "\":" + r3(r) })
    // The compact line must survive the driver's ~2 KB tail capture
    // INTACT or the round records parsed:null (the r4/5 failure). The
    // headline set grows over rounds, so the line is rebuilt with
    // progressively less optional detail (all of it lives in the full
    // artifact) until it fits, rather than trusting it always will.
    def compactLine(withCuration: Boolean, withStages: Boolean): String =
      s"""{"schema":2,""" +
        s""""metric":"total","value":$total,"unit":"sec","queries":$qsHead,""" +
        s""""sf":"$sfDir","reps":$reps,"pipe_reps":$pipeReps,""" +
        s""""nqueries":${names.size},"nerrors":${errors.size},""" +
        (if (withStages)
          s""""stages":$stageHead,""" else "") +
        s""""stages_suspect":$stagesSuspect,""" +
        s""""fusion_gain":$fusionGain,""" +
        s""""fusion_gain_cpu":$fusionGainCpu,""" +
        s""""load_start":$loadStart,"env_suspect":$suspect,""" +
        s""""reruns":$rerunsUsed,"regress_n":${regress.size},""" +
        s""""regress_top":$regressHead,""" +
        (if (withCuration)
          s""""curation_stages":$curHead,""" else "") +
        s""""errors":$errHead,"detail":"$outFile"}"""
    val line = Seq(compactLine(true, true), compactLine(false, true),
      compactLine(false, false)).find(_.length <= 1900)
      .getOrElse(compactLine(false, false))
    spark.stop()
    println(line)
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
