package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - exact dedup is a single hash-aggregate on the content hash — the
  *    canonical 100 TB dedup job (shuffle keyed on a 128-bit digest,
  *    perfectly balanced unless the corpus contains giant duplicate
  *    groups, which the digest key handles by definition);
  *  - candidate generation for near-dup is always index-shaped
  *    (explode -> shuffle on token/band/bucket -> pair join), never an
  *    O(n^2) cross join;
  *  - hot tokens are dropped with a document-frequency cap before the
  *    pair join (the classic quadratic-blowup guard in inverted-index
  *    joins).
  */
object Dedup {

  /** Exact dedup on normalized content: one representative (min id) per
    * distinct md5, with the group size. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextOps.contentFingerprint(text).as("content_md5"))
      .agg(min(id).as("doc_id_kept"), count(lit(1)).as("n_copies"))

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Dedup")

  /** Distinct whitespace tokens per document. Returns (doc_id, token). */
  def docTokens(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      explode(array_distinct(TextOps.tokens(text))).as("token"))

  /** [[docTokens]] with tokens above the df-cap removed (and logged) —
    * the candidate-generation input; see [[jaccardPairs]] for why
    * sizes must NOT come from this. */
  def docTokensCapped(df: DataFrame, id: Column, text: Column,
                      maxDf: Long): DataFrame = {
    val all = docTokens(df, id, text)
    all.join(hotKeys(all, "token", maxDf, "tokens"),
      Seq("token"), "left_anti")
  }

  /** LAZY twin of [[hotKeys]] (r19 optimization): the hot-key frame
    * with the logged-drop guard attached as an `observe` metric
    * instead of an eager materialize + count. Construction stays
    * plan-only — no blocking localCheckpoint job, no count job, no
    * driver round-trips before the query runs — and the guard fires
    * AT EXECUTION through [[GuardLog]] with the executed hot-key
    * count (the r15 basket-pairs discipline). Intended for a frame
    * that feeds a SINGLE consumer (the anti-join build side), where
    * the aggregate subtree is instantiated exactly once.
    *
    * Known, intended exception (ADVICE r19, adjudicated r20): in
    * [[tokenOverlapPairs]] / [[shingleOverlapPairs]] the anti-join
    * OUTPUT feeds both sides of the pair self-join, so this aggregate
    * subtree appears twice in the fused plan. That is safe and cheap
    * by construction, but only because of two Spark behaviors this
    * contract now names explicitly: (a) `spark.sql.exchange.reuse`
    * (on by default) deduplicates the identical aggregate exchange,
    * so the full-corpus shuffle runs once; (b) Spark permits
    * same-name duplicate CollectMetrics nodes when they come from a
    * clone of one logical subtree, so the observe survives analysis.
    * A caller that would instantiate the aggregate under two
    * NON-identical subtrees (different projections/filters above the
    * scan — exchange reuse cannot fire) must stay on the eager
    * [[hotKeys]] form, which is what [[docTokensCapped]] does. */
  private def lazyHotKeys(exploded: DataFrame, keyCol: String,
                          maxDf: Long, guard: String): DataFrame = {
    GuardLog.ensure(exploded.sparkSession)
    exploded.groupBy(col(keyCol))
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") > maxDf)
      .observe(GuardLog.uniqueName(guard), count(lit(1)).as("n_hot_keys"))
      .select(col(keyCol))
  }

  /** Keys (tokens or shingle hashes) whose document frequency exceeds
    * maxDf, kept as a DISTRIBUTED DataFrame for the caller's anti-join
    * — never collected to the driver. On a web-scale corpus every
    * common-vocabulary word exceeds any useful df-cap, so the hot set
    * is itself millions of entries: a driver collect (or a forced
    * broadcast) of it is an OOM at 100x. Only the COUNT crosses to the
    * driver, which keeps the logged-drop contract (hot keys are
    * reported, never silently dropped) at the price of one extra
    * aggregate job; the anti-join side is left unhinted so the planner
    * (with AQE) picks broadcast when the set is actually small and a
    * shuffled hash anti-join when it is not.
    *
    * The hot frame is MATERIALIZED before the count: without that, the
    * logged count() runs the full-corpus aggregate once and the
    * caller's anti-join recomputes it from scratch — two full shuffles
    * of the exploded token table on exactly the corpora the cap
    * exists for. Materializing pays one (df-capped, corpus-small)
    * intermediate instead; the count then scans materialized blocks
    * and the anti-join reuses them. */
  private[ext] def hotKeys(exploded: DataFrame, keyCol: String,
                           maxDf: Long, what: String,
                           guard: String = "df_cap_tokens"): DataFrame = {
    val hot = Materialize.eager(exploded.groupBy(col(keyCol))
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") > maxDf)
      .select(col(keyCol)))
    val n = hot.count()
    if (n > 0) {
      log.warn(s"dropping $n $what with df > $maxDf before " +
        "the pair join (bounded-index guard; raise maxDf to keep them)")
      GuardLog.record(guard, n)
    }
    hot
  }

  /** Exact n-gram (token-set) Jaccard similar pairs: inverted-index
    * self-join on distinct tokens, pair-grouped intersection counts,
    * Jaccard >= threshold, a < b.
    *
    * The default df-cap is deliberately O(10^2): a single token shared
    * by 10^6 documents would alone generate ~5*10^11 candidate pairs,
    * so an uncapped inverted-index join dies long before 100 TB.
    * Dropped tokens are logged, never silent. The cap applies ONLY to
    * the intersection join — document sizes come from the UNCAPPED
    * token sets, so the reported jaccard is a LOWER bound of the true
    * value (capping can hide shared hot tokens, never shrink the
    * union): the cap costs recall on stopword-heavy overlap but can
    * never create a false-positive pair. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, maxDf: Long = 500L): DataFrame =
    tokenOverlapPairs(df, idCol, textCol, maxDf)
      .withColumn("jaccard",
        col("n_inter") * 1.0 / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))

  /** Shared pair-overlap core of [[jaccardPairs]]:
    * (doc_a, doc_b, n_inter, n_a, n_b) for every co-token pair with
    * doc_a < doc_b, hot tokens df-capped out of the pair join.
    *
    * Restructured r19 (optimization round; value-identical, oracle
    * re-verified): the per-doc set size rides the exploded rows as a
    * column (`size(array_distinct(tokens))` — the pre-cap size by
    * construction, computed before the explode) and surfaces as
    * `min()` in the pair aggregate, instead of a separate sizes
    * aggregate joined back twice. Plan effect at sf0.1: 2 exchanges
    * + 2 joins of the pair table GONE, and the df-cap guard went
    * from eager materialize+count (2 blocking jobs per call) to the
    * lazy observe form. The input is [[Spread]] first: the explode's
    * hash/tokenize CPU is orders denser than its input bytes, so a
    * byte-planned single-split scan serializes it (measured 2.3x on
    * the containment twin). */
  private def tokenOverlapPairs(df: DataFrame, idCol: String,
                                textCol: String, maxDf: Long): DataFrame = {
    val all = Spread(df).select(col(idCol).as("doc_id"),
      array_distinct(TextOps.tokens(col(textCol))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_t"),
        explode(col("ts")).as("token"))
    val hot = lazyHotKeys(all, "token", maxDf, "df_cap_tokens")
    val toks = all.join(hot, Seq("token"), "left_anti")
    val a = toks.as("a"); val b = toks.as("b")
    a.join(b, col("a.token") === col("b.token")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        min(col("a.n_t")).as("n_a"), min(col("b.n_t")).as("n_b"))
  }

  /** Exact word-SHINGLE Jaccard pairs — the ground-truth twin of
    * [[minhashLshPairs]], over the identical deduplicated n-shingle
    * hash space ([[graft.functions.VectorFunctions.shingleHex60]]), so
    * LSH recall can be measured against the quantity LSH actually
    * estimates ([[jaccardPairs]]' word-set jaccard is a different
    * space). Same inverted-index shape and df-cap discipline: sizes
    * are pre-cap so the reported jaccard is a lower bound, and a hot
    * shingle can cost recall but never fabricate a pair. This is the
    * TRUTH-SET side of a recall report — at corpus scale the LSH
    * variant is the production path and this runs on a sample. */
  def shingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, threshold: Double = 0.5,
                          maxDf: Long = 500L): DataFrame =
    shingleOverlapPairs(df, idCol, textCol, shingleN, maxDf)
      .withColumn("jaccard",
        col("n_inter") * 1.0 / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))

  /** Asymmetric CONTAINMENT pairs over the n-shingle space:
    * |A∩B| / min(|A|,|B|) >= pct/100 — catches a small doc living
    * inside a big one (quotes, boilerplate, subset pages), which
    * symmetric Jaccard misses because the union term dilutes it.
    * Shingles (not unigram tokens) carry the signal: token-set
    * containment over a natural-language corpus is near-vacuous for
    * short docs, while a 90% shared 3-shingle set means shared
    * SEQUENCES. The test is pure integer
    * (`100*n_inter >= pct*min(n_a,n_b)`), so it is cross-engine exact
    * — no float ratio is ever materialized. `contained_doc` names the
    * smaller-set side (ties → doc_a). Same inverted-index pair
    * generation and df-cap discipline as [[shingleJaccardPairs]]. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, pct: Int = 90,
                       maxDf: Long = 500L): DataFrame =
    shingleOverlapPairs(df, idCol, textCol, shingleN, maxDf)
      .filter(lit(100L) * col("n_inter") >=
        lit(pct.toLong) * least(col("n_a"), col("n_b")))
      .withColumn("contained_doc",
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("contained_doc"))

  /** Shared inverted-index core of [[shingleJaccardPairs]] /
    * [[containmentPairs]]: (doc_a, doc_b, n_inter, n_a, n_b) over the
    * deduplicated n-shingle hash space
    * ([[graft.functions.VectorFunctions.shingleHex60]]), doc_a < doc_b,
    * hot shingles df-capped out of the pair join (sizes stay pre-cap). */
  private def shingleOverlapPairs(df: DataFrame, idCol: String,
                                  textCol: String, shingleN: Int,
                                  maxDf: Long): DataFrame = {
    // shingleHex60 emits the DISTINCT shingle-hash set per doc, so
    // size(hs) IS the pre-cap set size — carried through the pair
    // join as a column and surfaced with min() instead of a separate
    // sizes aggregate joined back twice (r19 restructure; same shape
    // and rationale as [[tokenOverlapPairs]], value-identical)
    val all = Spread(df).select(col(idCol).as("doc_id"),
      graft.functions.VectorFunctions
        .shingleHex60(col(textCol), shingleN).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    val hot = lazyHotKeys(all, "h", maxDf, "df_cap_shingles")
    val kept = all.join(hot, Seq("h"), "left_anti")
    kept.as("a").join(kept.as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        min(col("a.n_sh")).as("n_a"), min(col("b.n_sh")).as("n_b"))
  }

  /** Universal-hash family modulus (Mersenne prime 2^31 - 1): products
    * a_i * base stay under 2^62, so the whole family is exact 64-bit
    * integer arithmetic in ANY engine. */
  val MinhashP = 2147483647L
  /** Multiplier / offset of the i-th universal hash — md5-derived
    * constants, identical on the SQL oracle side. */
  def minhashA(i: Int): Long = TextOps.hex60Local(s"mh_a:$i") % (MinhashP - 1) + 1
  def minhashB(i: Int): Long = TextOps.hex60Local(s"mh_b:$i") % MinhashP

  /** The k-component minhash signature as a PER-ROW array column —
    * value-identical to [[minhashSignatures]] (same (a_i, b_i, P)
    * family; min is duplicate-insensitive, so the array fold over
    * shingles equals the exploded aggregate's min) but computed with
    * ZERO shuffle: one `aggregate` pass over the shingle array
    * carrying a k-long running-min accumulator. This is the shape an
    * ingest-time gate on an unbounded stream requires — the signature
    * must ride each incoming row as a narrow map (a groupBy would be
    * a streaming aggregation with its own output-mode/watermark
    * semantics). A shingle-less document (empty text) keeps the init
    * value P in every component; the batch formulation has no row for
    * it at all — callers joining corpus x batch never see the
    * difference (the corpus side has no P-valued signatures to
    * collide with). */
  def minhashSignatureArray(text: Column, shingleN: Int = 3,
                            k: Int = 32): Column = {
    val bs = transform(
      graft.functions.VectorFunctions.shingleHex60(text, shingleN),
      h => h % MinhashP)
    val params = typedlit((0 until k).map(i => (minhashA(i), minhashB(i))))
    aggregate(bs, typedlit(Seq.fill(k)(MinhashP)),
      (acc, b) => zip_with(acc, params, (m, p) =>
        least(m, (p.getField("_1") * b + p.getField("_2")) % MinhashP)))
  }

  /** [[bandBuckets]] surfaced for the staged-signature consumers (the
    * streaming gate joins incoming docs' bands against the standing
    * corpus's banded signature index). */
  def minhashBandBuckets(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    bandBuckets(sigs, k, bands)

  /** [[minhashBandBuckets]] with the hot-bucket cap, for STANDING
    * index builds (r16): a stream-static join probes the corpus index
    * once per micro-batch, so a hot standing bucket (a 10⁴-copy
    * corpus class carries identical signatures) costs |bucket|
    * candidate rows per matching incoming doc on EVERY trigger —
    * unbounded corpora need the same guard the batch self-joins got.
    * Capped, counted, and logged at the (batch) staging execution;
    * the streaming plan reads the materialized leaf. */
  def minhashBandBucketsCapped(sigs: DataFrame, k: Int, bands: Int,
                               maxBucket: Long = 1024L,
                               guardName: String = "corpus_index_hot_bucket")
      : DataFrame =
    cappedBandBuckets(bandBuckets(sigs, k, bands), maxBucket, guardName)

  /** MinHash signature columns: ONE portable md5 per distinct shingle
    * (hex60, reduced mod 2^31-1), then k derived universal hashes
    * h_i(s) = (a_i * base + b_i) mod 2^31-1 — hashing cost is one
    * digest per shingle, not k, and every value is reproducible in any
    * md5-capable engine (that is what lets the LSH output be
    * oracle-verified instead of rows-only). One explode + one
    * hash-aggregate -> k-column signature per doc. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        shingleN: Int, k: Int): DataFrame = {
    // native one-pass shingle hashing (value-identical to
    // hex60 over the distinct word shingles, but codegen'd — the
    // interpreted HOF chain was the dominant cost of the whole LSH
    // job). Spread first (r19): the hashing CPU is byte-dense, a
    // single-split scan serializes it.
    val shingled = Spread(df).select(id.as("doc_id"),
      explode(graft.functions.VectorFunctions.shingleHex60(text, shingleN))
        .as("h"))
    val based = shingled.select(col("doc_id"), (col("h") % MinhashP).as("b"))
    val aggs = (0 until k).map(i =>
      min((lit(minhashA(i)) * col("b") + lit(minhashB(i))) % MinhashP)
        .as(s"mh_$i"))
    based.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH candidate pairs with estimated Jaccard: band the
    * k-column signature into `bands` groups, bucket-join on (band,
    * band-hash), then estimate similarity as the fraction of matching
    * minhash components. Shuffle is keyed on band buckets — at scale
    * this is the standard sub-quadratic near-dup join. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // The signature frame feeds three consumers (banding + both sides
    // of the estimate join): materialize it ONCE, with the
    // executor-churn-aware policy in [[Materialize.eager]] (reliable
    // checkpoint under dynamic allocation, ContextCleaner-freed local
    // blocks otherwise) — unlike .cache(), which pinned a corpus-sized
    // cache-manager entry per call until someone remembered to
    // unpersist (a leak in long-lived sessions).
    val sigs = Materialize.eager(
      minhashSignatures(df, col(idCol), col(textCol), shingleN, k))
    val long = cappedBandBuckets(bandBuckets(sigs, k, bands),
      maxBucket = 1024L, guardName = "minhash_hot_bucket")
    val cands = long.as("x").join(long.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    estimatePairs(cands, sigs, k, threshold)
  }

  /** LSH band-tuning report — the parameter choice of the core dedup
    * primitive, MEASURED instead of argued: for each candidate band
    * count the banded bucket join runs against the SAME signature
    * frame and its candidate set is scored against exact shingle-
    * Jaccard truth (>= `threshold`) over the SAME shingle space. One
    * row per configuration: candidate volume (the probe cost a config
    * buys), truth hits, recall_ppm, and overhead_ppm (candidates per
    * 1e6 truth pairs — the cost-of-recall curve). More bands = fewer
    * rows per band = looser buckets = higher recall AND higher
    * candidate volume; this report prices that trade on the actual
    * corpus, hash-verifiably, so a banding change can never silently
    * trade dedup recall for speed.
    *
    * Scale shape: signatures and the truth pair table are
    * materialized ONCE and shared by every configuration; each config
    * adds one banded self-join (bucket-keyed, the minhashLshPairs
    * shuffle shape) and two scalar aggregates. The exact-truth side is
    * the df-capped inverted index ([[shingleOverlapPairs]]), the same
    * deliberate audit cost the recall reports pay.
    *
    * Known engine asymmetry (ADVICE r12, accepted): the Spark side
    * buckets on xxhash64 band KEYS while the DuckDB twin compares raw
    * mh-value band structs, so a 64-bit band-hash collision between
    * two UNEQUAL bands would inflate n_candidates here and not there,
    * failing the hash gate loudly (never silently) at ~2^-64 per
    * band pair — accepted odds, same class as the minhash LSH pair
    * queries, but noted because this report compares exact COUNTS. */
  def lshTuneReport(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, k: Int = 32,
                    bandChoices: Seq[Int] = Seq(4, 8, 16),
                    threshold: Double = 0.5): DataFrame = {
    bandChoices.foreach(b => require(k % b == 0, s"bands $b must divide k $k"))
    // Staging shape (r20): construction used to run ~8 blocking
    // materializations back-to-back on the driver thread (truth, sigs,
    // then bucket+candidate per band config) — 3.0 s of serialized
    // construct at sf0.1 over ~6.6 s of executor work that mostly fits
    // in one overlap window. The truth table and each config's
    // candidate chain are mutually independent (configs need only
    // sigs), so truth runs in the pool while sigs stages on the caller
    // thread, and the per-config chains overlap each other and truth's
    // tail (guide §2.6).
    val truthAndCands = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val truthF = pool.submit(
          new java.util.concurrent.Callable[DataFrame] {
            override def call(): DataFrame = Materialize.eager(
              shingleJaccardPairs(df, idCol, textCol, shingleN, threshold)
                .select(col("doc_a"), col("doc_b")))
          })
        val sigs = Materialize.eager(
          minhashSignatures(df, col(idCol), col(textCol), shingleN, k))
        val candFs = bandChoices.map { b =>
          pool.submit(new java.util.concurrent.Callable[DataFrame] {
            override def call(): DataFrame = {
              val long = cappedBandBuckets(bandBuckets(sigs, k, b),
                maxBucket = 1024L,
                guardName = s"minhash_tune_hot_bucket_b$b")
              Materialize.eager(long.as("x").join(long.as("y"),
                  col("x.band") === col("y.band")
                    && col("x.key") === col("y.key")
                    && col("x.doc_id") < col("y.doc_id"))
                .select(col("x.doc_id").as("doc_a"),
                  col("y.doc_id").as("doc_b"))
                .distinct())
            }
          })
        }
        try (truthF.get(), candFs.map(_.get()))
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      } finally pool.shutdown()
    }
    val (truth, cands) = truthAndCands
    bandChoices.zip(cands).map { case (b, cand) =>
      val scored = truth
        .join(cand.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"),
          "left")
        .agg(count(col("hit")).as("matched"),
          count(lit(1)).as("n_truth"))
      val candAgg = cand.agg(count(lit(1)).as("n_candidates"))
        .withColumn("_one", lit(1))
      scored.withColumn("_one", lit(1))
        .join(broadcast(candAgg), Seq("_one"))
        .select(lit(b.toLong).as("bands"), col("n_candidates"),
          col("n_truth"), col("matched"),
          expr("matched * 1000000L div n_truth").as("recall_ppm"),
          expr("n_candidates * 1000000L div n_truth").as("overhead_ppm"))
    }.reduce(_.unionAll(_))
  }

  /** Which sources near-duplicate WHICH — the curation matrix that
    * decides source-level dedup order, exclusion, and licensing
    * attribution: every near-dup pair labeled with its endpoints'
    * source domains (unordered — source_a <= source_b lexicographic),
    * counted per source pair, with each cell's exact-ppm share of the
    * total pair mass. Built ON TOP of the pair table, never by
    * re-pairing: `pairs` is the staged LSH artifact
    * ([[PairStage.lshPairs]] — built once per corpus snapshot, read
    * by every graph consumer), so this report adds only two
    * id-keyed joins of the PAIR-sized frame against the (id, source)
    * projection, one source-pair hash-agg (at most |sources|^2/2
    * groups — map-side combine collapses to that before the
    * shuffle), and a 1-row total broadcast. At 100 TB the pair table
    * is orders of magnitude smaller than the corpus; the joins key on
    * doc id and prune `docs` to two columns at the scan. */
  def sourceOverlapReport(pairs: DataFrame, docs: DataFrame,
                          idCol: String, srcCol: String): DataFrame = {
    val lab = docs.select(col(idCol), col(srcCol))
    val a = lab.select(col(idCol).as("doc_a"), col(srcCol).as("_sa"))
    val b = lab.select(col(idCol).as("doc_b"), col(srcCol).as("_sb"))
    val m = pairs.select(col("doc_a"), col("doc_b"))
      .join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val tot = m.agg(sum(col("n_pairs")).as("t"))
    m.join(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("n_pairs * 1000000L div t").as("share_ppm"))
  }

  /** Hot-bucket cap over a banded signature table — the
    * [[BandedPairs]] discipline applied to the minhash LSH self-joins
    * (r16): a duplicate class of k identical texts carries identical
    * signatures, so every band bucket it touches holds k rows and the
    * candidate join emits k²/2 pairs from that bucket alone. Buckets
    * holding more than `maxBucket` rows are dropped from the join,
    * counted by an observe() metric riding the staged table, and
    * logged at execution via [[GuardLog]] — recall-only and loud,
    * inert on well-behaved corpora (measured sf1 occupancy tops out
    * at 18 rows across the registered configs vs the 1024 default;
    * SCALE.md, measured with a since-deleted bucket probe). The
    * result is MATERIALIZED: both sides of the candidate self-join
    * read it, and the observe node must execute exactly once. */
  private def cappedBandBuckets(long: DataFrame, maxBucket: Long,
                                guardName: String): DataFrame = {
    GuardLog.ensure(long.sparkSession)
    val occ = Window.partitionBy(col("band"), col("key"))
    Materialize.eager(long
      .withColumn("_bucket_n", count(lit(1)).over(occ))
      .observe(GuardLog.Prefix + guardName,
        sum(when(col("_bucket_n") > maxBucket, 1L).otherwise(0L))
          .as("n_rows_dropped"))
      .filter(col("_bucket_n") <= maxBucket)
      .drop("_bucket_n"))
  }

  /** Exploded (doc_id, band, key) bucket rows from a signature frame. */
  private def bandBuckets(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val banded = sigs.select(col("doc_id") +: (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh_$i")): _*).as(s"band_$b")
    }: _*)
    banded.select(col("doc_id"), explode(array(
      (0 until bands).map(b => struct(lit(b).as("band"),
        col(s"band_$b").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** Candidate (doc_a, doc_b) pairs scored by the fraction of matching
    * minhash components, kept at >= threshold. */
  private def estimatePairs(cands: DataFrame, sigs: DataFrame, k: Int,
                            threshold: Double): DataFrame = {
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until k).map(i => col(s"mh_$i").as(s"a_$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until k).map(i => col(s"mh_$i").as(s"b_$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cands.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("est_jaccard", matches * 1.0 / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** Incremental MinHash-LSH: near-dup pairs INVOLVING a new batch —
    * the production dedup shape at corpus scale, where a daily
    * increment dedups against the standing corpus WITHOUT re-pairing
    * corpus x corpus. Emits exactly the pairs
    * `minhashLshPairs(corpus UNION batch)` would emit that touch the
    * batch (same signatures, same bands, same estimate — spec-pinned),
    * at |corpus| x |batch| bucket cost instead of |corpus|^2 per
    * bucket. In a deployed pipeline the standing side's signature and
    * band tables are a persisted index appended per batch; here they
    * derive inline from the corpus frame. `corpus` and `batch` must be
    * id-disjoint (they are different slices of an ingest by
    * construction). */
  def minhashLshIncremental(corpus: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                            threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // The corpus-side and batch-side staging chains (signatures, then
    // capped band buckets — two blocking materializations each) are
    // mutually independent; overlapped (r20, guide §2.6) the wall is
    // the corpus chain alone instead of the sum of four.
    val staged = Materialize.overlap[(DataFrame, DataFrame)](Seq(
      () => {
        val sig = Materialize.eager(
          minhashSignatures(corpus, col(idCol), col(textCol), shingleN, k))
        (sig, cappedBandBuckets(bandBuckets(sig, k, bands),
          maxBucket = 1024L, guardName = "minhash_inc_corpus_hot_bucket"))
      },
      () => {
        val sig = Materialize.eager(
          minhashSignatures(batch, col(idCol), col(textCol), shingleN, k))
        (sig, cappedBandBuckets(bandBuckets(sig, k, bands),
          maxBucket = 1024L, guardName = "minhash_inc_batch_hot_bucket"))
      }))
    val (sigOld, bOld) = staged(0)
    val (sigNew, bNew) = staged(1)
    // corpus x batch collisions in either id order, normalized, plus
    // batch-internal collisions — never corpus x corpus
    val oldNew = bOld.as("x").join(bNew.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val newNew = bNew.as("x").join(bNew.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cands = oldNew.union(newNew).distinct()
    estimatePairs(cands, sigOld.unionByName(sigNew), k, threshold)
  }

  /** Incremental exact n-gram Jaccard: the similar pairs INVOLVING a
    * new batch — the exact-truth twin of [[minhashLshIncremental]]
    * (VERDICT r17 #5a), so recall reports can re-verify after an
    * append without re-pairing corpus x corpus. Emits exactly the
    * pairs `jaccardPairs(corpus UNION batch)` would emit that touch
    * the batch: the df-cap is computed over the FULL (standing +
    * batch) token frequency — an append CAN push a token over the
    * cap, and the incremental must agree with the rebuild about it —
    * while the intersection join is restricted to batch-token x
    * all-token, so join cost is |batch|-proportional. Standing-side
    * inputs are the (doc_id, distinct token) table a deployed
    * pipeline persists and appends per accepted batch
    * ([[PairStage.docTokenSets]]); sizes derive from the same tables
    * (pre-cap, like [[jaccardPairs]] — the cap can hide shared hot
    * tokens, never shrink the union). */
  def jaccardIncrementalFrom(standingTokens: DataFrame,
                             batchTokens: DataFrame,
                             threshold: Double,
                             maxDf: Long = 500L,
                             standingDf: Option[DataFrame] = None,
                             standingSizes: Option[DataFrame] = None)
      : DataFrame = {
    val tOld = standingTokens.select(col("doc_id"), col("token"))
    val tNew = batchTokens.select(col("doc_id"), col("token"))
    val all = tOld.unionByName(tNew)
    // full-corpus document frequency — the rebuild's hot set exactly.
    // When the standing df table is persisted ([[PairStage.tokenDf]]
    // — the production shape: a deployed pipeline maintains df counts
    // per append), the full df is standing + batch via one outer-join
    // MERGE; re-aggregating the standing token table per increment
    // would re-pay the corpus-wide token shuffle the staged table
    // amortizes. Identical hot set either way (count distributes over
    // the disjoint union) — spec-pinned.
    val hot = standingDf match {
      case Some(sdf) =>
        val bdf = tNew.groupBy(col("token")).agg(count(lit(1)).as("bdf"))
        val merged = Materialize.eager(sdf
          .withColumnRenamed("df_count", "sdf")
          .join(bdf, Seq("token"), "full_outer")
          .select(col("token"), (coalesce(col("sdf"), lit(0L)) +
            coalesce(col("bdf"), lit(0L))).as("df_count"))
          .filter(col("df_count") > maxDf)
          .select(col("token")))
        val n = merged.count()
        if (n > 0) {
          log.warn(s"dropping $n tokens (incremental, merged df) with " +
            s"df > $maxDf before the pair join")
          GuardLog.record("df_cap_inc_tokens", n)
        }
        merged
      case None => hotKeys(all, "token", maxDf, "tokens (incremental)",
        guard = "df_cap_inc_tokens")
    }
    val sizes = standingSizes match {
      case Some(ss) => ss.select(col("doc_id"), col("n_tokens"))
        .unionByName(tNew.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens")))
      case None =>
        all.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    }
    val keptNew = tNew.join(hot, Seq("token"), "left_anti")
    val keptAll = tOld.withColumn("is_new", lit(false))
      .unionByName(tNew.withColumn("is_new", lit(true)))
      .join(hot, Seq("token"), "left_anti")
    // batch x (standing ∪ batch): a batch-standing pair appears once
    // (x is always the batch side), a batch-batch pair is kept in one
    // orientation only
    val inter = keptNew.as("x").join(keptAll.as("y"),
        col("x.token") === col("y.token") &&
          (!col("y.is_new") || col("x.doc_id") < col("y.doc_id")) &&
          col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_tokens", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_tokens", "n_b"), Seq("doc_b"))
      .withColumn("jaccard",
        col("n_inter") * 1.0 / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /** Frame-input convenience over [[jaccardIncrementalFrom]] —
    * [[minhashLshIncremental]]'s signature shape. `corpus` and
    * `batch` must be id-disjoint. */
  def jaccardIncremental(corpus: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double,
                         maxDf: Long = 500L): DataFrame =
    jaccardIncrementalFrom(
      docTokens(corpus, col(idCol), col(textCol)),
      docTokens(batch, col(idCol), col(textCol)), threshold, maxDf)

  /** SimHash from 60-bit portable token hashes, via the native
    * codegen'd [[graft.functions.SimHash64]] expression (one pass over
    * the token array instead of 64 interpreted folds). Token hashes are
    * [[TextOps.hex60]], so bits 60-63 are always zero (they vote 0 on
    * every token) and the whole value is reproducible in any
    * md5-capable engine — effective width 60 bits, oracle-checkable. */
  def simhash(text: Column): Column = {
    val toks = array_distinct(TextOps.tokens(text))
    graft.functions.VectorFunctions.simhash64(
      transform(toks, t => TextOps.hex60(t)))
  }

  /** SimHash near-dup pairs over DISTINCT-hash classes: band the
    * 64-bit simhash into 4 16-bit chunks; any equal chunk makes a
    * candidate. By pigeonhole, 4 bands GUARANTEE a shared chunk only
    * for Hamming <= 3 — the default maxHamming matches that bound.
    *
    * Class-collapsed since r16 (see [[BandedPairs.classPairs]] for
    * the full scale argument): identical simhashes group to one
    * representative row first, so an exact-duplicate class of size k
    * emits ONE intra-class row (n_pairs = k·(k-1)/2) instead of k²/2
    * banded self-join pairs, and cross-class near-dups carry their
    * class sizes (n_pairs = n_a·n_b). Buckets holding more than
    * `maxBucket` distinct classes are dropped loudly (GuardLog
    * `simhash_hot_bucket`). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucket: Long = 2048L): DataFrame =
    BandedPairs.classPairs(
      df.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh")),
      "doc_id", "sh", nBands = 4, bandBits = 16, maxHamming,
      maxBucket, "simhash_hot_bucket")

  /** The persisted distinct-simhash CLASS TABLE (h, rep, n) of a
    * corpus slice — the standing-side artifact
    * [[simhashPairsIncremental]] merges appends into. */
  def simhashClassTable(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    BandedPairs.classTable(
      df.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh")),
      "doc_id", "sh")

  /** Incremental [[simhashPairs]] via class-table merge (VERDICT r17
    * #5b): only the BATCH is tokenized and hashed; new docs either
    * bump an existing hash class or mint one, and the banded pair
    * delta comes from the touched classes only
    * ([[BandedPairs.classPairsIncremental]] — see there for the
    * exact-conservation argument). Output == `simhashPairs(standing
    * UNION batch)` row for row, so the ORACLE of the incremental
    * query is the full rebuild's oracle, verbatim. */
  def simhashPairsIncremental(standingCls: DataFrame,
                              standingPairs: DataFrame,
                              batch: DataFrame, idCol: String,
                              textCol: String, maxHamming: Int = 3,
                              maxBucket: Long = 2048L): DataFrame =
    BandedPairs.classPairsIncremental(
      standingCls, standingPairs,
      batch.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh")),
      "doc_id", "sh", nBands = 4, bandBits = 16, maxHamming, maxBucket,
      "simhash_inc_hot_bucket")

  /** DELTA-contract [[simhashPairsIncremental]] (r19): same class-table
    * merge, but the output is the change set against the persisted
    * standing pair table — `op = 'add'` / `op = 'del'` rows such that
    * `standing ∖ dels ∪ adds == simhashPairs(standing UNION batch)`
    * exactly. This is the form that breaks the full-table contract's
    * ~1.06× wall plateau (SCALE.md r19): output and standing-table
    * access are both batch-proportional, so a deployment applies the
    * delta with a keyed merge instead of rewriting the corpus-class-
    * sized pair artifact every append. See
    * [[BandedPairs.classPairsDelta]]. */
  def simhashPairsDelta(standingCls: DataFrame,
                        standingPairs: DataFrame,
                        batch: DataFrame, idCol: String,
                        textCol: String, maxHamming: Int = 3,
                        maxBucket: Long = 2048L): DataFrame =
    BandedPairs.classPairsDelta(
      standingCls, standingPairs,
      batch.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh")),
      "doc_id", "sh", nBands = 4, bandBits = 16, maxHamming, maxBucket,
      "simhash_delta_hot_bucket")

  /** IDENTITY-delta [[simhashPairsDelta]] (r19): the change set on
    * pair identity `(doc_a, doc_b, hamming)` alone — the truly
    * batch-proportional term once the artifact is normalized (pair
    * identities + the incrementally-merged class table carrying
    * sizes). See [[BandedPairs.classPairsIdentityDelta]] for the
    * measured size-churn argument. */
  def simhashPairsIdentityDelta(standingCls: DataFrame,
                                standingPairs: DataFrame,
                                batch: DataFrame, idCol: String,
                                textCol: String, maxHamming: Int = 3,
                                maxBucket: Long = 2048L): DataFrame =
    BandedPairs.classPairsIdentityDelta(
      standingCls, standingPairs,
      batch.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh")),
      "doc_id", "sh", nBands = 4, bandBits = 16, maxHamming, maxBucket,
      "simhash_iddelta_hot_bucket")

  /** Connected components over near-dup pairs: every node is labeled
    * with the MINIMUM id reachable in its component — turning pairwise
    * similarity hits into duplicate clusters with a canonical
    * representative (the dedup keep-list).
    *
    * Iterative min-label propagation: per round, each node takes the
    * min of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds. Each round is one join + one
    * aggregate — the standard large-graph CC shape (label frames are
    * (node, label) pairs, never adjacency materialized on the driver).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    // cache the pair set first: the union below references it twice and
    // would otherwise evaluate the (possibly expensive) candidate
    //-generation subtree once per branch
    val p = pairs.cache()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // Plan truncation per round is mandatory (without it every
    // iteration re-analyzes a strictly growing tree and planning time
    // dominates — the classic iterative-DataFrame pitfall). With a
    // checkpoint dir configured, rounds persist RELIABLY as managed
    // parquet snapshots under it: a lost executor costs a partition
    // re-read instead of restarting the iteration (localCheckpoint
    // pins state to executor-local storage), and each round's snapshot
    // is DELETED once the next one lands — df.checkpoint would leak
    // one corpus-sized snapshot per round (the context-wide
    // cleanCheckpoints flag defaults to off). The final round's files
    // back the returned frame and remain, like any checkpoint output.
    val sc = nodes.sparkSession.sparkContext
    val ckptBase = sc.getCheckpointDir.map(d =>
      s"$d/graft_cc_${java.util.UUID.randomUUID().toString.take(8)}")
    var roundIdx = 0
    var prevPath: Option[String] = None
    def materialize(df: DataFrame): DataFrame = ckptBase match {
      case Some(base) =>
        val spark = df.sparkSession
        val path = s"$base/round_$roundIdx"
        roundIdx += 1
        df.write.mode("overwrite").parquet(path)
        val reread = spark.read.parquet(path)
        prevPath.foreach { p =>
          org.apache.hadoop.fs.FileSystem
            .get(spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(p), true)
        }
        prevPath = Some(path)
        reread
      case None => Materialize.eager(df)
    }
    var labels = materialize(
      nodes.select(col("doc_id"), col("doc_id").as("component")))
    var iter = 0
    var converged = false
    try {
      while (iter < maxIter && !converged) {
        val roundT0 = System.nanoTime()
        // 1) gather: each node takes the min of its own and its
        //    neighbors' labels (one hop)
        val minNbr = edges
          .join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src"))
          .agg(min(col("component")).as("nbr_min"))
        val gathered = labels
          .join(minNbr, labels("doc_id") === minNbr("src"), "left")
          .select(labels("doc_id"), labels("component").as("prev"),
            least(labels("component"),
              coalesce(col("nbr_min"), labels("component"))).as("component"))
        // 2) pointer jump: label(x) := min(label(x), label(label(x))) —
        //    halves the remaining path per round, so the rounds needed
        //    are <= ceil(log2(max component diameter)) + 1; the default
        //    maxIter = 25 therefore covers any graph with < 2^24 nodes
        //    per component
        val ptrs = gathered.select(col("doc_id").as("c_id"),
          col("component").as("c_comp"))
        // convergence rides the round's own materialize job as an
        // observed metric (r20): the old form re-scanned the
        // checkpointed labels per round — a corpus-sized read, and on
        // the CONVERGED round a full one (an empty filter can never
        // short-circuit) — where the changed-count is computable from
        // rows already flowing through the write. The observe also
        // frees the materialized frame of the `prev` column: one long
        // column fewer in every round's corpus-sized snapshot.
        // (labels only ever decrease, so changed == component != prev)
        val obs = org.apache.spark.sql.Observation()
        val next = materialize(gathered.as("x")
          .join(ptrs, col("x.component") === col("c_id"), "left")
          .select(col("x.doc_id"), col("x.prev"),
            least(col("x.component"),
              coalesce(col("c_comp"), col("x.component"))).as("component"))
          .observe(obs, sum(when(col("component") =!= col("prev"), 1L)
            .otherwise(0L)).as("n_changed"))
          .select(col("doc_id"), col("component")))
        // obs.get blocks until the materialize action's metrics land;
        // sum over an empty round is NULL — an empty graph is converged
        converged = obs.get.get("n_changed").flatMap(Option(_))
          .forall(_.asInstanceOf[Long] == 0L)
        labels.unpersist()
        labels = next
        iter += 1
        // per-round wall attribution: identical inputs take an
        // identical round count, so a slow RUN with the same rounds is
        // environmental (GC/writeback), not an iteration blow-up —
        // this line is what tells those apart in a bench tail
        System.err.println(f"[graft.cc] round=$iter%d " +
          f"wall=${(System.nanoTime() - roundT0) / 1e9}%.2fs " +
          f"converged=$converged")
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "raise maxIter (rounds needed ~ log2 of the largest component)")
      labels
    } finally {
      // the edge caches must not outlive the call even on the
      // non-convergence throw (or any round failure) — a leaked cached
      // pair set is corpus-sized in a long-lived session
      edges.unpersist(); p.unpersist()
    }
  }

  /** Near-dup cluster-size histogram — the mega-cluster pathology
    * check every LSH dedup needs before trusting keep-representative:
    * transitive closure chains boilerplate families into giant
    * components (a 1M-doc cluster keeps ONE representative — usually
    * the wrong call vs span-level cleaning), and the size distribution
    * is what decides whether to cap clusters. Input: the
    * [[connectedComponents]] labeling. Output per power-of-two size
    * bucket (bucket = floor(log2(size))+1 via the engine-portable
    * `length(bin(x))` — bucket 1 is singletons/uniques): cluster
    * count, doc count, exact-ppm doc share. A healthy near-dup graph
    * concentrates mass in buckets 1-3; mass in high buckets is the
    * boilerplate-chain signature. Scale shape: component-keyed
    * hash-agg (the labeling's own key), then a <=64-row rollup with a
    * matrix-internal 1-row broadcast denominator — no second corpus
    * pass. */
  def clusterSizeReport(components: DataFrame): DataFrame = {
    val sizes = components.groupBy(col("component"))
      .agg(count(lit(1)).as("sz"))
    val binned = sizes
      .groupBy(length(bin(col("sz"))).cast("long").as("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
    val total = binned.agg(sum(col("n_docs")).as("_total"))
      .withColumn("_one", lit(1))
    binned.withColumn("_one", lit(1))
      .join(broadcast(total), Seq("_one"))
      .select(col("size_bucket"), col("n_clusters"), col("n_docs"),
        expr("n_docs * 1000000 div _total").as("docs_share_ppm"))
  }

  /** Source-priority representative per near-dup cluster: where
    * [[connectedComponents]]' min-label representative ignores where
    * a doc came from, this keeps each cluster's doc from the
    * most-trusted source (lowest `priority` rank; `doc_id` breaks
    * ties within a source) — the production knob that prefers a
    * curated source over a crawl when both carry the same content.
    *
    * Scale shape: one id-keyed join of the labeling with the (id,
    * source) projection, a broadcast of the |sources|-row priority
    * dim, then a component-keyed hash-agg whose argmin is `min` over
    * a (priority, doc_id, source) struct — lexicographic struct
    * ordering, so no per-cluster window sort exists and partial
    * aggregation combines map-side.
    *
    * @param components (doc_id, component) labeling
    * @param docSources (doc_id, source)
    * @param priorities (source, priority) — tiny, broadcast
    */
  def keepByPriority(components: DataFrame, docSources: DataFrame,
                     priorities: DataFrame): DataFrame =
    components.join(docSources, Seq("doc_id"))
      .join(broadcast(priorities), Seq("source"))
      .groupBy(col("component"))
      .agg(min(struct(col("priority"), col("doc_id"), col("source")))
          .as("k"),
        count(lit(1)).as("cluster_size"))
      .select(col("component"), col("k.doc_id").as("keeper_id"),
        col("k.source").as("keeper_source"),
        col("k.priority").as("keeper_priority"), col("cluster_size"))

  /** Cross-corpus contamination detection: training documents that
    * share at least one word n-gram with a held-out/benchmark set —
    * the decontamination pass every training pipeline needs before a
    * corpus ships. Long shingles (13 words by default, the common
    * benchmark-decontamination choice) make accidental collisions
    * rare, so ANY shared shingle is signal.
    *
    * Shape: one-pass native shingle hashing on both sides
    * ([[graft.functions.ShingleHex60]]), inverted join keyed on the
    * 60-bit shingle hash, count per (train, test) pair. Hot shingles
    * (train-df above maxDf — boilerplate headers etc.) are dropped
    * and LOGGED before the join, the same quadratic-bucket guard as
    * [[jaccardPairs]]. Never an all-pairs document comparison. */
  def crossCorpusOverlap(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 13,
                         maxDf: Long = 500L): DataFrame = {
    def shingles(df: DataFrame, as: String): DataFrame =
      Spread(df).select(col(idCol).as(as),
        explode(graft.functions.VectorFunctions
          .shingleHex60(col(textCol), shingleN)).as("h"))
    val tr = shingles(train, "train_id")
    // lazy df-cap (r19): single consumer, guard fires at execution
    val hot = lazyHotKeys(tr, "h", maxDf, "df_cap_xcorpus")
    tr.join(hot, Seq("h"), "left_anti")
      .join(shingles(test, "test_id"), Seq("h"))
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Embedding near-dup pairs by brute force: cosine >= threshold over
    * ALL pairs via a non-equi self-join (planned as a nested-loop join
    * — O(n^2) compares). SPEC-ONLY recall baseline: the registered
    * query is [[Similarity.lshNearDupPairs]], whose bucketed candidate
    * join survives corpus scale; this form exists to measure that
    * query's recall on small corpora and must never ship in a
    * production plan. */
  def embeddingNearDupBrute(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val normed = Similarity.withNormalized(df, vecCol, "nv")
    val a = normed.select(col(idCol).as("vec_a"), col("nv").as("va"))
    val b = normed.select(col(idCol).as("vec_b"), col("nv").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", Similarity.dot(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Dedup-modality AGREEMENT matrix (r17 #5): the three independent
    * near-dup signals this library ships — shingle MinHash-LSH,
    * SimHash Hamming, SemDeDup embedding — classified jointly per
    * document pair, as the 2x2x2 (in_minhash, in_simhash,
    * in_semantic) contingency table with exact pair counts and ppm
    * shares, per canonical source pair. This is the calibration
    * observable a 100 TB curation run reads to set eps / thresholds:
    * heavy (1,1,1) mass says the signals are redundant, heavy
    * single-signal cells say each catches a different duplication
    * mode (template boilerplate vs paraphrase vs re-encode).
    *
    * Pair universe and the class-space trick: minhash pairs and
    * semantic removal edges are ENUMERABLE (both bounded artifacts);
    * simhash doc-pairs are NOT (the class-collapsed form exists
    * precisely because they explode — r16). So every cell with
    * minhash or semantic membership is counted over the enumerated
    * union (simhash membership decided per pair by class lookup:
    * same class, or the class-representative pair appears in the
    * banded output), and the one remaining cell — simhash-ONLY,
    * (0,1,0) — is derived by exact subtraction: the per-source-pair
    * simhash total expands in CLASS space (cross-class: sum of
    * per-source member-count products; intra-class: per-source
    * C(c,2) + cross-source products) minus the simhash-flagged mass
    * already counted in the union. Nothing doc-pair-sized is ever
    * materialized; every count is exact integer arithmetic.
    *
    * @param docsSrc  (doc_id, source)
    * @param mPairs   minhash-LSH pair table (doc_a, doc_b) — staged
    * @param simHashes (doc_id, sh) — one narrow pass
    * @param simClassPairs [[simhashPairs]] output (class form) — staged
    * @param semPairs semantic removal edges (vec_id, removed_by)
    * @return (src_lo, src_hi, in_minhash, in_simhash, in_semantic,
    *         n_pairs, share_ppm)
    */
  def agreementMatrix(docsSrc: DataFrame, mPairs: DataFrame,
                      simHashes: DataFrame, simClassPairs: DataFrame,
                      semPairs: DataFrame): DataFrame = {
    // mem is read THREE times (both endpoint joins + the class-source
    // counts) and its subtree hashes the full corpus text twice
    // (simHashes feeds itself and its groupBy): materialize the
    // doc-sized (doc_id, rep) map once (r20 — the duplicated
    // single-split hash pass was 2x1.4s of the report's 6s wall)
    val cls = simHashes.groupBy(col("sh")).agg(min(col("doc_id")).as("rep"))
    val mem = Materialize.eager(simHashes.join(cls, Seq("sh"))
      .select(col("doc_id"), col("rep")))
    val xp = simClassPairs.filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"))
    val sem = semPairs
      .select(least(col("vec_id"), col("removed_by")).as("a"),
        greatest(col("vec_id"), col("removed_by")).as("b"),
        lit(1L).as("in_semantic"))
    val mh = mPairs.select(col("doc_a").as("a"), col("doc_b").as("b"),
      lit(1L).as("in_minhash"))
    val u = mh.join(sem, Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        coalesce(col("in_minhash"), lit(0L)).as("in_minhash"),
        coalesce(col("in_semantic"), lit(0L)).as("in_semantic"))
    val srcOf = docsSrc.select(col("doc_id"), col("source"))
    val flagged = u
      .join(mem.select(col("doc_id").as("a"), col("rep").as("_ra")),
        Seq("a"))
      .join(mem.select(col("doc_id").as("b"), col("rep").as("_rb")),
        Seq("b"))
      .join(xp,
        least(col("_ra"), col("_rb")) === col("rep_a") &&
          greatest(col("_ra"), col("_rb")) === col("rep_b"), "left")
      .withColumn("in_simhash",
        when(col("_ra") === col("_rb") || col("rep_a").isNotNull, 1L)
          .otherwise(0L))
      .join(srcOf.select(col("doc_id").as("a"), col("source").as("_sa")),
        Seq("a"))
      .join(srcOf.select(col("doc_id").as("b"), col("source").as("_sb")),
        Seq("b"))
      .select(least(col("_sa"), col("_sb")).as("src_lo"),
        greatest(col("_sa"), col("_sb")).as("src_hi"),
        col("in_minhash"), col("in_simhash"), col("in_semantic"))
    val cellsU = flagged
      .groupBy(col("src_lo"), col("src_hi"), col("in_minhash"),
        col("in_simhash"), col("in_semantic"))
      .agg(count(lit(1)).as("n_pairs"))
    // exact simhash totals per source pair, in class space. cs feeds
    // three join instances (xtot twice, the itot self-join twice
    // more): classes x sources is bounded-small, materialize once
    val cs = Materialize.eager(mem.join(srcOf, Seq("doc_id"))
      .groupBy(col("rep"), col("source")).agg(count(lit(1)).as("c")))
    val xtot = xp
      .join(cs.select(col("rep").as("rep_a"), col("source").as("_s1"),
        col("c").as("_c1")), Seq("rep_a"))
      .join(cs.select(col("rep").as("rep_b"), col("source").as("_s2"),
        col("c").as("_c2")), Seq("rep_b"))
      .select(least(col("_s1"), col("_s2")).as("src_lo"),
        greatest(col("_s1"), col("_s2")).as("src_hi"),
        (col("_c1") * col("_c2")).as("n"))
    val itot = cs.as("x").join(cs.as("y"),
        col("x.rep") === col("y.rep") && col("x.source") <= col("y.source"))
      .select(col("x.source").as("src_lo"), col("y.source").as("src_hi"),
        when(col("x.source") === col("y.source"),
          expr("x.c * (x.c - 1) div 2"))
          .otherwise(col("x.c") * col("y.c")).as("n"))
      .filter(col("n") > 0)
    val stot = xtot.unionByName(itot)
      .groupBy(col("src_lo"), col("src_hi")).agg(sum(col("n")).as("s_tot"))
    val sInU = cellsU.filter(col("in_simhash") === 1L)
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(sum(col("n_pairs")).as("s_in_u"))
    val sOnly = stot.join(sInU, Seq("src_lo", "src_hi"), "left")
      .select(col("src_lo"), col("src_hi"), lit(0L).as("in_minhash"),
        lit(1L).as("in_simhash"), lit(0L).as("in_semantic"),
        (col("s_tot") - coalesce(col("s_in_u"), lit(0L))).as("n_pairs"))
      .filter(col("n_pairs") > 0)
    val allCells = cellsU.unionByName(sOnly)
    val tot = allCells.agg(sum(col("n_pairs")).as("_t"))
    allCells.join(broadcast(tot))
      .select(col("src_lo"), col("src_hi"), col("in_minhash"),
        col("in_simhash"), col("in_semantic"), col("n_pairs"),
        expr("n_pairs * 1000000L div _t").as("share_ppm"))
  }
}
