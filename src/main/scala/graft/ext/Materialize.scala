package graft.ext

import org.apache.spark.sql.DataFrame

/** Eager one-shot materialization of an intermediate frame that feeds
  * multiple consumers inside ONE returned plan (LSH signatures, hot-key
  * sets): compute it once, hand back a leaf the downstream joins reuse.
  *
  * Why not `.cache()`: a cached Dataset pins an entry in the session's
  * CacheManager until someone calls unpersist — and a library function
  * that returns a lazy frame has no post-action hook to do so, so every
  * call leaks a corpus-sized cache entry in a long-lived session.
  *
  * Why not always `.localCheckpoint(true)`: local checkpoints store
  * NON-REPLICATED blocks on the executors that computed them and
  * truncate lineage, so losing one executor (dynamic allocation, spot
  * nodes, decommission) kills every downstream stage instead of
  * recomputing — Spark's own docs warn against localCheckpoint under
  * dynamic allocation, and executor churn is the norm on the large
  * clusters this library targets.
  *
  * Policy: under dynamic allocation WITH a checkpoint dir configured,
  * use a RELIABLE checkpoint (managed files survive executor loss; set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
  * ContextCleaner deletes them when the frame is GC'd). Otherwise use
  * an eager localCheckpoint — on a static-executor cluster (and
  * local[*] test/bench sessions) its blocks are both safe and freed
  * automatically by the ContextCleaner, with no files to manage.
  * Dynamic allocation with NO checkpoint dir falls back to
  * localCheckpoint with a loud warning: the caller chose elasticity
  * but gave the session nowhere durable to materialize.
  */
object Materialize {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.ext.Materialize")

  /** Truncate a SMALL DataFrame's lineage by collecting it to the
    * driver and recreating it as a literal local relation (values
    * unchanged). The loop-carried-state idiom: inside an iterative
    * driver loop (Lloyd rounds, codebook refinement), each round's
    * frame otherwise embeds the previous round's whole subtree, so
    * round j re-executes rounds 1..j-1 every time it is referenced —
    * the k-means assignment subtree DOUBLED per iteration before this.
    *
    * BOUNDED BY CONTRACT AND ENFORCED: this collects — it is for
    * metadata-scale frames only (centroid tables, codebooks: at most
    * ~nCentroids x dim doubles), never corpus-scale. The collect runs
    * through `limit(maxRows + 1)` so a contract violation dies with a
    * pointer to the alternative instead of a driver heap dump. For
    * loop state that is corpus-sized (e.g. kCenterCoreset's per-point
    * distances), use [[eager]] instead: it truncates lineage WITHOUT
    * moving data to the driver. */
  def relit(df: DataFrame, maxRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"Materialize.relit is for metadata-scale loop state (centroids, " +
        s"codebooks) and this frame exceeds $maxRows rows - corpus-sized " +
        "state belongs in Materialize.eager (distributed lineage " +
        "truncation), not a driver collect")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Run independent blocking stagings concurrently (guide §2.6:
    * Spark's scheduler happily runs several jobs at once inside one
    * application — actions are only sequential because the driver
    * calls them sequentially). For an operator that stages several
    * INDEPENDENT intermediates (the LSH tune report materializes one
    * bucket + one candidate table per band config), submitting the
    * eager jobs from a small pool overlaps their scheduling latency
    * and lets a later job's tasks back-fill executors freed by an
    * earlier job's tail. Results return in input order; the first
    * failure propagates after the pool drains. A few jobs in flight
    * is plenty (enough to fill the tail, not so many that they fight
    * for executors), so the pool is capped at 4. */
  def overlap[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 4))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          override def call(): A = t()
        })
      }
      futs.map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    } finally pool.shutdown()
  }

  /** Run `df`'s exchanges once (now under adaptive execution, else in
    * the first consumer's job) and hand back a frame over their output
    * that keeps the final plan's partitioning (a
    * `repartition(pk)` stays `HashPartitioning(pk)`), so every consumer
    * that needs that distribution plans no exchange of its own. It
    * stores no blocks: the shuffle files the map stage wrote serve each
    * consumer (its jobs skip the map stage), and lineage is kept, so a
    * lost executor's map outputs are recomputed, not lost. Unlike
    * [[eager]] it is only worth it where the staged plan ends in an
    * exchange: a narrow plan would re-run in full under each consumer. */
  def staged(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.overExecutedPlan(df)

  def eager(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val dynamic = sc.getConf.getBoolean("spark.dynamicAllocation.enabled",
      defaultValue = false)
    if (!dynamic) df.localCheckpoint(eager = true)
    else if (sc.getCheckpointDir.isDefined) {
      // reliable checkpoint files are NOT reclaimed unless the cleaner
      // conf is on — without it every call leaks a corpus-sized dir,
      // the exact leak class this helper exists to prevent
      if (!sc.getConf.getBoolean(
          "spark.cleaner.referenceTracking.cleanCheckpoints",
          defaultValue = false))
        log.warn("using reliable checkpoints but " +
          "spark.cleaner.referenceTracking.cleanCheckpoints is false: " +
          "checkpoint files will accumulate until the directory is " +
          "cleaned manually — set the conf to true so the " +
          "ContextCleaner deletes them when the frame is GC'd")
      df.checkpoint(eager = true)
    }
    else {
      log.warn("dynamic allocation is on but no checkpoint dir is set: " +
        "falling back to localCheckpoint, whose executor-local blocks do " +
        "NOT survive executor loss — call sc.setCheckpointDir to make " +
        "materialized intermediates churn-safe")
      df.localCheckpoint(eager = true)
    }
  }
}
