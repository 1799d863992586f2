package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline
  * layers on top of dedup/sampling: repeated-segment removal
  * (ExactSubstr-lite), length-weighted sampling, class/domain
  * rebalancing, and rule-based quality filtering (C4-style).
  *
  * Everything is deterministic and engine-portable: keep/drop
  * decisions key on [[TextOps.hex60]] content hashes and INTEGER
  * cross-multiplied thresholds (never per-row float division an
  * oracle could round differently), so every operator's full output
  * is checkable against a SQL engine.
  */
object Corpus {

  /** Order key packing for segment keep-first: doc_id * SegStride +
    * seg_idx collapses the (doc, offset) total order into one BIGINT
    * that `min` aggregates on any engine. 2^20 segments/doc = an
    * 8M-token document at segWords=8 before an offset could spill into
    * the next doc's key space, and doc_id < 2^42 (~4e12 docs) before
    * the product leaves int64 — both orders of magnitude past a 100 TB
    * corpus's realistic shape. */
  val SegStride = 1L << 20

  /** One row per non-overlapping `segWords`-word chunk:
    * (doc_id, seg_idx, seg). The shared chopper under [[segmentDedup]]
    * and [[chunkDocuments]]. Chunk building runs through the native
    * [[graft.functions.WordChunks]] expression (one codegen'd JVM
    * loop); the equivalent transform/sequence/slice HOF chain is
    * CodegenFallback and ~3x slower on the full-corpus paths (the
    * HOF twin survives as the CorpusSpec equivalence reference). */
  def chunked(df: DataFrame, id: Column, text: Column,
              segWords: Int): DataFrame =
    df.select(id.cast("long").as("doc_id"), posexplode(
        graft.functions.VectorFunctions.wordChunks(text, segWords)))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        col("col").as("seg"))

  /** Repeated-segment dedup ("paragraph" dedup for corpora whose unit
    * of repetition is a span, not a document): chop each document into
    * non-overlapping `segWords`-word chunks, drop every chunk whose
    * exact text occurred earlier in the corpus (keep-first in
    * (doc_id, offset) order), and reassemble what remains. This is the
    * segment-granularity analogue of exact-substring dedup — the C4 /
    * RefinedWeb step that removes boilerplate repeated across pages
    * without dropping whole documents.
    *
    * Output: (doc_id, n_segs, n_kept, dedup_md5) where dedup_md5
    * fingerprints the reassembled text (NULL when every segment was a
    * repeat — matching SQL string_agg-over-empty semantics).
    *
    * Scale shape: explode to one row per segment (bounded fan-out:
    * tokens/segWords per doc), hash-shuffle on the 60-bit segment hash
    * for the keep-first min (partial-agg friendly), one join back, one
    * final group per doc. No windows, no driver state; every shuffle
    * key is a fixed-width long.
    *
    * MEMORY PRECONDITION: the final reassembly collects each
    * document's kept segments into ONE aggregation buffer
    * (`array_sort(collect_list(...))`), i.e. O(document size) per
    * group — the same bound as the input row itself, which the whole
    * pipeline already assumes (a document that cannot sit in a row
    * cannot enter any per-document operator). The `segStride` guard
    * is what keeps that honest: a doc at the stride (default 2^20
    * segments ≈ an 8M-token document at segWords=8) fails LOUDLY in
    * the explode phase, well before a pathological buffer could
    * materialize. Corpora whose unit of text exceeds row size must
    * pre-chunk upstream (chunkDocuments) rather than raise the
    * stride.
    */
  def segmentDedup(df: DataFrame, id: Column, text: Column,
                   segWords: Int = 8,
                   segStride: Long = SegStride): DataFrame = {
    val exploded = chunked(df, id, text, segWords)
      .withColumn("h", TextOps.hex60(col("seg")))
      // assert_true folded into the key (coalesce(NULL-on-pass, 0))
      // so a doc overflowing segStride segments FAILS LOUDLY instead
      // of silently corrupting a neighbor doc's keep-first order; the
      // addition is not prunable because ord depends on it
      .withColumn("ord",
        col("doc_id") * segStride + col("seg_idx")
          + coalesce(assert_true(col("seg_idx") < segStride,
              lit(s"segmentDedup: document exceeds $segStride segments — " +
                "the packed order key would collide; raise segStride or " +
                "pre-chunk giant documents")).cast("long"), lit(0L)))
    val first = exploded.groupBy(col("h"))
      .agg(min(col("ord")).as("keeper"))
    val flagged = exploded.join(first, Seq("h"))
      .withColumn("keep", col("ord") === col("keeper"))
    val keptArr = array_sort(collect_list(
      when(col("keep"), struct(col("seg_idx"), col("seg")))))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        when(size(keptArr) > 0,
          md5(array_join(transform(keptArr, x => x("seg")), " ")))
          .as("dedup_md5"))
  }

  /** Deterministic length-weighted sampling: each row keeps with
    * probability weight/max(weight) — the corpus-curation move that
    * up-weights long documents without an RNG. The row's hash bucket
    * is compared cross-multiplied (`bucket * maxW < weight * Buckets`,
    * all BIGINT) so no float division exists for engines to round
    * apart, and the max-weight rows are ALWAYS kept (bucket < Buckets
    * holds for every bucket).
    *
    * Two passes by necessity (the scale normalizer is a corpus
    * statistic): one full-scan max, then a narrow codegen'd filter.
    * Only the single max scalar crosses to the driver. */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     salt: String = "wsample"): DataFrame = {
    val maxRow = df.agg(max(weight.cast("long"))).head
    require(!maxRow.isNullAt(0),
      "weightedSample needs a non-empty input with a non-null weight")
    val maxW = maxRow.getLong(0)
    require(maxW > 0, s"weightedSample needs a positive max weight, got $maxW")
    df.filter(
      Sampling.bucket(key, salt) * lit(maxW)
        < weight.cast("long") * lit(Sampling.Buckets))
  }

  /** Rebalance a class-skewed table by deterministically downsampling
    * every class to the minority class's count (in expectation):
    * keep iff bucket * n_class < n_min * Buckets (BIGINT cross-multiply,
    * exact at any scale: bucket < 1e6, counts < 2^43 stay inside
    * int64). The minority class keeps every row (n == min). This is
    * the label-rebalancing / domain-mixing primitive: swap the derived
    * `n_min` for an explicit per-class target to mix to arbitrary
    * ratios.
    *
    * Scale shape: one count aggregate (tiny result: |classes| rows,
    * broadcast back), then a narrow filter. The class-count frame
    * rides a broadcast hash join — no shuffle of the fact table. */
  def balanceClasses(df: DataFrame, cls: Column, key: Column,
                     salt: String = "bal",
                     maxClasses: Int = MaxClasses): DataFrame = {
    val spark = df.sparkSession
    val countsAgg = df.groupBy(cls.as("_cls")).agg(count(lit(1)).as("_n"))
    // bounded-collect contract, self-enforced (the jdbcFullRefresh
    // pattern): probe limit(cap+1) so an accidental high-cardinality
    // class column (url, doc_id) costs one truncated fetch and a loud
    // contract error, never a driver OOM on the broadcast
    val rows = countsAgg.limit(boundedProbe(maxClasses)).collect()
    require(rows.length <= maxClasses, oversizedClasses(
      "balanceClasses", maxClasses))
    require(rows.nonEmpty, "balanceClasses needs a non-empty input")
    val minN = rows.iterator.map(_.getLong(1)).min
    // the counts frame re-materializes from the collected (tiny) rows
    // so the broadcast build side is provably driver-bounded
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), countsAgg.schema)
    // null-safe equality: a NULL class is a class (plain === would
    // silently drop its rows while its count still set the minimum)
    df.join(broadcast(counts), cls <=> col("_cls"))
      .filter(Sampling.bucket(key, salt) * col("_n")
        < lit(minN) * lit(Sampling.Buckets))
      .drop("_cls", "_n")
  }

  /** Strip corpus-wide boilerplate tokens: any token present in at
    * least `dfNum/dfDen` of all documents (document frequency, not
    * occurrences) is removed from every document, preserving the
    * order and multiplicity of what remains — the token-level form of
    * CCNet-style hot-line stripping (this corpus has no line
    * structure), and the transform twin of the quality scores that
    * merely MEASURE stopword density.
    *
    * Output: (doc_id, clean_text, n_removed).
    *
    * Scale shape: the hot set is bounded by CONSTRUCTION, not hope —
    * a token needs df >= n*dfNum/dfDen, and total (doc, distinct
    * token) incidences are <= n * maxDocTokens, so at most
    * maxDocTokens * dfDen/dfNum tokens can qualify (~2x the average
    * doc length at the default half threshold). That makes the hot
    * set a driver-bounded literal (same contract discipline as
    * [[balanceClasses]], loud refusal past the cap) and the strip
    * itself a NARROW per-row array filter — no explode, no
    * re-aggregation shuffle, no join: the 100 TB pass is map-only. */
  def stripHotTokens(df: DataFrame, id: Column, text: Column,
                     dfNum: Long = 1, dfDen: Long = 2,
                     maxHot: Int = MaxClasses): DataFrame = {
    require(dfNum > 0 && dfDen >= dfNum,
      "stripHotTokens needs a df threshold in (0, 1]")
    val n = df.count()
    val hotAgg = df
      .select(explode(array_distinct(TextOps.tokens(text))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") * dfDen >= lit(n) * dfNum)
    val rows = hotAgg.select(col("token"))
      .limit(boundedProbe(maxHot)).collect()
    require(rows.length <= maxHot,
      s"stripHotTokens found more than $maxHot corpus-hot tokens - " +
        "the df threshold is too low for this vocabulary; raise it or " +
        "route the strip through a broadcast anti-join on exploded " +
        "tokens for unbounded hot sets")
    val hot = rows.map(_.getString(0)).sorted.toSeq
    val toks = TextOps.tokens(text)
    val kept = filter(toks, t => !array_contains(typedlit(hot), t))
    df.select(id.as("doc_id"),
      concat_ws(" ", kept).as("clean_text"),
      (size(toks) - size(kept)).cast("long").as("n_removed"))
  }

  /** Cross-document boilerplate measurement — the n-gram analog of
    * C4/RefinedWeb's repeated-span rules: a `shingleN`-word shingle is
    * "boilerplate" when it appears in at least `dfMin` documents, and
    * each document reports how much of its distinct-shingle mass is
    * boilerplate (exact integer ppm, hash-verifiable). The curation
    * report that decides whether a source needs span-level cleaning
    * before it is worth dedup'ing at the document level.
    *
    * Scale shape: ONE corpus explode pass (the native codegen'd
    * [[graft.functions.VectorFunctions.shingleHex60]] — 8-byte hashes,
    * never shingle strings) materialized once and shared by all three
    * consumers (per-doc totals, the df aggregate, the boilerplate
    * count); the boilerplate side joins per-doc rows against the hot
    * set with a SEMI join after the df >= dfMin prune, so only hot
    * occurrences reach the second per-doc aggregate — and since
    * |hot| <= total_occurrences / dfMin by construction, AQE
    * broadcasts the hot side at any realistic threshold. Hash
    * collisions between distinct shingles fold identically on both
    * engines (both count 60-bit hash rows, not strings). */
  def boilerplateNgrams(df: DataFrame, id: Column, text: Column,
                        shingleN: Int = 3, dfMin: Long = 5): DataFrame = {
    require(dfMin >= 1, "dfMin must be at least 1")
    val sh = Materialize.eager(df.select(id.as("doc_id"),
      explode(graft.functions.VectorFunctions.shingleHex60(text, shingleN))
        .as("h")))
    val perDoc = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hot = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfMin).select(col("h"))
    val boiler = sh.join(hot, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    perDoc.join(boiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ppm",
        expr("n_boiler * 1000000L div n_shingles"))
  }

  /** Cross-document line-level dedup — the C4 preprocessing step
    * (Raffel et al. 2020 §2.2 deduplicate three-sentence spans; the
    * line variant is what production crawls actually run): any line
    * of at least `minTokens` whitespace tokens that occurs more than
    * once in the corpus survives ONLY at its lexicographically-first
    * occurrence (doc_id, position) — every other copy is removed and
    * the document re-assembled in original line order. Shorter lines
    * (headers, "***", empty) always stay: killing them would shred
    * formatting for no dedup gain. This is the span-granularity
    * complement to document-level dedup: navigation chrome, cookie
    * banners and license boilerplate repeat across MILLIONS of
    * otherwise-unique pages, so document-level near-dup never touches
    * them ([[boilerplateNgrams]] MEASURES that mass; this op removes
    * it). Output per doc: the cleaned text, total line count, removed
    * line count.
    *
    * Determinism: the keep rule is a pure function of the corpus (min
    * (doc_id, pos) per line content — a total order), re-assembly is
    * position-sorted, and identical content implies identical
    * eligibility, so the transform is hash-verifiable. Lines compare
    * by md5 of their exact bytes; distinct lines colliding would fold
    * identically on both engines (the 60-bit-shingle convention).
    *
    * Scale shape: one explode pass; winners are ONE row per distinct
    * eligible line (a groupBy-min, map-side combinable); the
    * occurrence-to-winner join is a hash join on the line hash (AQE
    * handles the hot-boilerplate skew — each hot key's winner side is
    * exactly one row), and ONLY the eligible slice enters it (r15,
    * ADVICE): ineligible lines are keep=true by definition, so
    * shuffling them through the winner join was pure dead weight —
    * they bypass straight to the re-assembly union, keeping the join
    * shuffle proportional to eligible lines (real crawls are
    * majority-short-line); re-assembly is one per-doc aggregate. No
    * windows over the corpus, no driver state. */
  def lineDedup(df: DataFrame, id: Column, text: Column,
                minTokens: Int = 5): DataFrame = {
    // materialized ONCE: the winner aggregate and the occurrence side
    // of the join both read this frame — without this the corpus is
    // re-scanned, re-split and re-hashed per consumer (the
    // boilerplateNgrams shared-explode discipline; plan-audited r14)
    val lines = Materialize.eager(df
      .select(id.as("doc_id"), posexplode(split(text, "\n"))
        .as(Seq("pos", "line")))
      .withColumn("eligible",
        size(split(trim(col("line")), "\\s+")) >= minTokens)
      .withColumn("h", md5(col("line"))))
    val eligible = lines.filter(col("eligible"))
    val winners = eligible
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("h"), col("w.doc_id").as("wdoc"),
        col("w.pos").as("wpos"))
    // inner join is lossless here: winners contains every eligible h
    // by construction (it is a groupBy over this very slice)
    val flaggedEligible = eligible.join(winners, Seq("h"))
      .withColumn("keep",
        col("doc_id") === col("wdoc") && col("pos") === col("wpos"))
      .select(col("doc_id"), col("pos"), col("line"), col("keep"))
    val passThrough = lines.filter(!col("eligible"))
      .select(col("doc_id"), col("pos"), col("line"),
        lit(true).as("keep"))
    flaggedEligible.unionByName(passThrough)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("line"))))),
          e => e.getField("line")), "\n").as("text_clean"),
        count(lit(1)).as("n_lines"),
        sum((!col("keep")).cast("long")).as("n_removed"))
  }

  /** Zipf tail fit over the token frequency distribution — the
    * one-number vocabulary health check (a natural-language corpus
    * sits near slope -1; templated/machine-generated text flattens
    * the tail, OCR noise steepens it) — computed WITHOUT a global
    * rank sort: types bucket by floor-log2(frequency) (length(bin(f))
    * — the Pareto/winsorize histogram-walk discipline), the
    * complementary type count cum_b = #types with f >= 2^(b-1) comes
    * from a <=64-row triangular join, and the fit is least-squares of
    * log2(cum_b) on b. For a power-law tail P(F >= f) ~ f^(-alpha)
    * this slope IS -alpha (the log2s cancel), and alpha = 1/s for
    * Zipf exponent s — so zipf_slope_ppm ~ -1e6 on clean text.
    *
    * log2(cum) is computed EXACTLY in 1/1024 units by the classic
    * bit-by-bit integer algorithm: mantissa scaled to [2^30, 2^31),
    * ten square-and-shift rounds (x <- x*x >> 30, emit a fraction bit
    * when x crosses 2^31, renormalize) — every step is int64-safe
    * integer arithmetic (x < 2^31 so x*x < 2^62), zero
    * transcendentals, bit-identical in any engine. The least-squares
    * slope is exact integer sums with the subtract-pmod floor-div
    * (the emb_label_centroids convention, so Spark's truncating `div`
    * and floor-division engines agree on the negative slope).
    *
    * Scale shape: one token-count aggregation (the corpus pass every
    * vocab op already pays), then <=64 bucket rows end-to-end; the
    * fit is a single-row fold. Nothing sorts the vocabulary. */
  /** Appends `out` = log2(`in`) in 1/1024 units, computed EXACTLY in
    * integer arithmetic (no transcendentals): e = floor(log2) via
    * bin-length, mantissa scaled to [2^30, 2^31), ten square-and-
    * shift fraction-bit rounds (x <- x^2 >> 30, emit a bit and
    * renormalize when x crosses 2^31). Every step is int64-safe
    * (x < 2^31 so x^2 < 2^62) and bit-identical in any engine —
    * the SQL twin is ExtQueriesCorpus's generated z-step CTE chain.
    * Input must be >= 1. Shared by the Zipf tail fit and the Heaps
    * growth fit. */
  private[ext] def withLog2Milli(df0: DataFrame, in: String,
                                 out: String): DataFrame = {
    val x0 = expr(s"CASE WHEN (length(bin($in)) - 1) <= 30" +
      s" THEN shiftleft($in, CAST(30 - (length(bin($in)) - 1) AS INT))" +
      s" ELSE shiftright($in, CAST((length(bin($in)) - 1) - 30 AS INT))" +
      " END")
    var df = df0
      .withColumn("_l2e", (length(bin(col(in))) - 1).cast("long"))
      .withColumn("_l2x", x0)
      .withColumn("_l2f", lit(0L))
    for (_ <- 1 to 10) {
      df = df
        .withColumn("_l2s", shiftright(col("_l2x") * col("_l2x"), 30))
        .withColumn("_l2b", (col("_l2s") >= lit(2147483648L)).cast("long"))
        .withColumn("_l2f", col("_l2f") * 2 + col("_l2b"))
        .withColumn("_l2x",
          when(col("_l2b") === 1, shiftright(col("_l2s"), 1))
            .otherwise(col("_l2s")))
    }
    df.withColumn(out, col("_l2e") * 1024 + col("_l2f"))
      .drop("_l2e", "_l2x", "_l2f", "_l2s", "_l2b")
  }

  def zipfBucketFit(df: DataFrame, text: Column): DataFrame = {
    val freqs = df.select(explode(TextOps.tokens(text)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .select(length(bin(col("f"))).cast("long").as("b"))
    // <=64 rows by construction — re-literalized so the three
    // downstream references (self-join both sides + the type total)
    // pay the corpus token pass ONCE (the ivfCentroids relit idiom)
    val nb = Materialize.relit(
      freqs.groupBy(col("b")).agg(count(lit(1)).as("nb")))
    val cum = nb.as("cur")
      .join(broadcast(nb.as("hi")),
        col("hi.b") >= col("cur.b"))
      .groupBy(col("cur.b").as("b"))
      .agg(sum(col("hi.nb")).as("cum"))
    val fit = withLog2Milli(cum, "cum", "y")
      .select(col("b"), col("y"))
      .agg(count(lit(1)).as("n"), sum(col("b")).as("sx"),
        sum(col("y")).as("sy"), sum(col("b") * col("y")).as("sxy"),
        sum(col("b") * col("b")).as("sxx"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        ((col("n") * col("sxx") - col("sx") * col("sx")) * 1024)
          .as("den"))
    // n_types off the 64-row histogram, NOT a second corpus pass
    val total = nb.agg(sum(col("nb")).as("n_types"))
      .withColumn("_one", lit(1))
    fit.withColumn("_one", lit(1)).join(total, Seq("_one"))
      .select(col("n_types"), col("n").as("n_buckets"),
        when(col("den") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(num * 1000000 - pmod(num * 1000000, den)) div den"))
          .as("zipf_slope_ppm"))
  }

  /** The DISTINCT (doc_id, shingle) occurrence frame of the word
    * n-shingles ([[graft.functions.WordShingleStrings]]) — the one
    * input of the vocabulary-growth family: [[heapsBucketFit]],
    * [[noveltyCurve]] and the staged [[PairStage.shingleSets]]
    * artifact. */
  def shinglePairs(df: DataFrame, id: Column, text: Column,
                   n: Int): DataFrame =
    df.select(id.as("doc_id"), explode(
        graft.functions.VectorFunctions.wordShingleStrings(text, n))
        .as("shingle"))
      .distinct()

  /** Heaps-law growth exponent — vocabulary V(n) ~ C n^beta over
    * ingest order — the second client of the [[withLog2Milli]]
    * integer least-squares harness. [[noveltyCurve]] SHOWS the
    * marginal novelty falling; this fit turns the same first-carrier
    * attribution into the one number a capacity plan wants (natural
    * text sits near beta ~ 0.5-0.7; beta near 1 means the corpus
    * never stops minting types — tokenizer vocab and dedup-index
    * sizing both key off it).
    *
    * No global windows: doc ids collapse to OCTAVE buckets
    * (g = bin-length of doc_id+1 — the Pareto discipline), per-octave
    * occurrence and first-carrier counts come from the one shingle
    * pass, the cumulative pair (cum_occ, cum_types) from a <=64-row
    * triangular join, both coordinates through the exact fixed-point
    * log2, and the slope beta = d log2 V / d log2 n from integer
    * least squares — decimal128 for the ppm numerator (both
    * coordinates are log-scaled <= 64K, but n*sxy*1e6 brushes int64).
    *
    * Scale shape: ONE (doc, shingle)-distinct explode pass
    * (materialized, shared by the occurrence and first-carrier
    * aggregates), then <=64 rows end-to-end. */
  def heapsBucketFit(df: DataFrame, id: Column, text: Column,
                     n: Int = 3): DataFrame =
    heapsBucketFitFrom(Materialize.eager(shinglePairs(df, id, text, n)))

  /** [[heapsBucketFit]] over a pre-materialized DISTINCT (doc_id,
    * shingle) frame — the registry path reads the staged
    * [[PairStage.shingleSets]] artifact (see [[noveltyCurveFrom]]). */
  def heapsBucketFitFrom(pairs: DataFrame): DataFrame = {
    val occ = pairs
      .groupBy(length(bin(col("doc_id") + 1)).cast("long").as("g"))
      .agg(count(lit(1)).as("n_occ"))
    val fresh = pairs.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(length(bin(col("first_doc") + 1)).cast("long").as("g"))
      .agg(count(lit(1)).as("n_new"))
    // every first_doc is a doc, so fresh's octaves are a subset of
    // occ's — occ is the spine; <=64 rows, relit for the triple use
    val spine = Materialize.relit(occ
      .join(fresh, Seq("g"), "left")
      .select(col("g"), col("n_occ"),
        coalesce(col("n_new"), lit(0L)).as("n_new")))
    val cum = spine.as("cur")
      .join(broadcast(spine.as("lo")), col("lo.g") <= col("cur.g"))
      .groupBy(col("cur.g").as("g"))
      .agg(sum(col("lo.n_occ")).as("cum_occ"),
        sum(col("lo.n_new")).as("cum_types"))
    val pts = withLog2Milli(
      withLog2Milli(cum, "cum_occ", "x"), "cum_types", "y")
    val fit = pts
      .agg(count(lit(1)).as("nn"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("nn"),
        expr("CAST(nn * sxy - sx * sy AS DECIMAL(38,0)) * 1000000")
          .as("num"),
        expr("CAST(nn * sxx - sx * sx AS DECIMAL(38,0))").as("den"))
    val total = Materialize.relit(
      spine.agg(sum(col("n_new")).as("n_types")))
      .withColumn("_one", lit(1))
    fit.withColumn("_one", lit(1)).join(total, Seq("_one"))
      .select(col("n_types"), col("nn").as("n_buckets"),
        when(col("den") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((num - pmod(num, den)) div den AS BIGINT)"))
          .as("heaps_beta_ppm"))
  }

  /** Crawl-truncation duplicate groups: documents sharing the md5 of
    * their first `prefixTokens` whitespace tokens — the dup class a
    * content-hash or full-shingle near-dup underweights (a truncated
    * fetch shares only a PREFIX with its full copy, so its Jaccard
    * against the original decays with the missing tail; prefix
    * identity catches it at any truncation point past the window).
    * Per group: member count, the token-length spread (a wide spread
    * IS the truncation signature), and the keep choice — the LONGEST
    * member, doc id as tiebreak (dedup keeps the most complete copy,
    * the opposite of [[lineDedup]]'s first-wins, because here the
    * copies are not equal). Docs shorter than the prefix window never
    * group: their "prefix" is their whole body, which is
    * [[Dedup.exact]]'s jurisdiction.
    *
    * Scale shape: one narrow map (tokenize head, md5) + one
    * hash-aggregate; >= 2 filter keeps the output to actual dup
    * groups. No joins, no windows, no pair blowup — prefix identity
    * is a GROUP key, not a similarity. */
  def prefixTruncationReport(df: DataFrame, id: Column, text: Column,
                             prefixTokens: Int = 20): DataFrame = {
    val toks = TextOps.tokens(text)
    df.select(id.as("doc_id"),
        md5(array_join(slice(toks, 1, prefixTokens), " "))
          .as("prefix_fp"),
        size(toks).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= prefixTokens)
      .groupBy(col("prefix_fp"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"),
          struct(col("n_tokens"), -col("doc_id"))).as("keep_doc"),
        max(col("n_tokens")).as("max_tokens"),
        min(col("n_tokens")).as("min_tokens"))
      .filter(col("n_docs") >= 2)
  }

  /** Class-cardinality cap shared by the mixing/balancing samplers:
    * their per-class constants fold back as broadcast frames or
    * literal maps, which is the right shape ONLY when the class
    * column is a domain label. The cap turns the implicit contract
    * into an enforced one. */
  val MaxClasses: Int = 10000

  private def boundedProbe(cap: Int): Int =
    math.min(cap.toLong + 1L, Int.MaxValue.toLong).toInt

  private def oversizedClasses(op: String, cap: Int): String =
    s"$op is a domain-label sampler: per-class constants are collected " +
      s"to the driver, bounded by the $cap-class cap, and the class " +
      "column exceeds it. Pass a genuine domain label (source, " +
      "language, category), raise maxClasses deliberately, or express " +
      "the rebalance as a distributed aggregate-join " +
      "(groupBy(cls).count joined back on cls) for unbounded keyspaces"

  /** Mix a multi-class corpus to EXPLICIT integer target ratios — the
    * domain-mixing primitive ("5 parts web : 3 parts books : 2 parts
    * code") — by deterministically DOWNSAMPLING; never upsamples. The
    * limiting class (smallest n/W) keeps essentially all rows; every
    * other class downsamples so the kept mixture matches the ratios
    * in expectation. Generalizes [[balanceClasses]] (which is the
    * all-weights-equal case anchored at the minority class).
    *
    * Determinism contract (cross-engine): the limiting class is
    * selected by the integer-quantized ratio `floor(n*1e6/W)` with
    * (n, W, class) lexicographic tie-break — identically computable
    * in any SQL engine, where a true rational argmin has no portable
    * ORDER BY. The <=1ppm quantization slack can only shift WHICH
    * class anchors the mixture when two classes' ratios agree to a
    * millionth; the keep rule itself stays exact BIGINT
    * cross-multiplication: keep iff bucket * W0 * n_c < n0 * W_c *
    * Buckets. Weights in [1, 1000] and class counts < 2^33 keep every
    * product inside int64.
    *
    * Classes absent from `targets` are dropped (weight 0, including a
    * NULL class — string-keyed targets cannot name it); target
    * classes absent from the data make the mixture infeasible and
    * fail loudly.
    *
    * Scale shape: one count aggregate (|target classes| rows to the
    * driver, bounded by the argument), both per-class constants
    * folded back as LITERAL MAPS — no join at all, a pure narrow
    * codegen'd filter over the fact table. */
  def mixToTargets(df: DataFrame, cls: Column, key: Column,
                   targets: Map[String, Int],
                   salt: String = ""): DataFrame = {
    require(targets.nonEmpty, "mixToTargets needs at least one target class")
    targets.foreach { case (c, w) =>
      require(w >= 1 && w <= 1000,
        s"mixToTargets weight for '$c' must be in [1, 1000], got $w")
    }
    // string-keyed contract made explicit: cast the class column once
    // so a non-string class (int category ids, dates) works instead of
    // throwing an opaque ClassCastException off the collected rows
    val clsStr = cls.cast("string")
    val counts = df.groupBy(clsStr.as("_cls")).agg(count(lit(1)).as("_n"))
      .filter(col("_cls").isin(targets.keys.toSeq: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = targets.keySet -- counts.keySet
    require(missing.isEmpty,
      s"mixToTargets: target classes absent from the data: $missing")
    // the documented int64 bound, enforced: bucket * w0 * n must not
    // wrap (ANSI off would wrap SILENTLY while the DuckDB oracle
    // errors — a cross-engine divergence). 1e6 * 1000 * 2^33 < 2^63.
    counts.foreach { case (c, n) =>
      require(n < (1L << 33),
        s"mixToTargets: class '$c' has $n rows, beyond the 2^33 " +
          "int64-exactness bound of the cross-multiplied keep rule; " +
          "shard the class or sample it down first")
    }
    val (_, n0, w0) = targets.toSeq
      .map { case (c, w) => (c, counts(c), w.toLong) }
      .minBy { case (c, n, w) => (n * 1000000L / w, n, w, c) }
    val w = element_at(typedlit(targets.map { case (k, v) => k -> v.toLong }),
      clsStr)
    val n = element_at(typedlit(counts), clsStr)
    df.filter(w.isNotNull &&
      Sampling.bucket(key, salt) * lit(w0) * n
        < lit(n0) * w * lit(Sampling.Buckets))
  }

  /** Temperature-based domain mixing (the multilingual-sampling move
    * of mT5/XLM-R): sample class `c` with probability proportional to
    * `n_c^alpha` so head domains are tamed and tail domains surface,
    * via deterministic per-row downsampling — keep fraction
    * `(n_c^alpha / n_c)` normalized so the most-favored class keeps
    * everything. Between [[balanceClasses]] (alpha=0) and no-op
    * sampling (alpha=1).
    *
    * Alpha is FIXED at 1/2 — deliberately not a parameter. `sqrt` is
    * the one fractional power IEEE 754 requires to be correctly
    * rounded, so `floor(sqrt(n))` is bit-identical in any engine and
    * the weights are portable; an arbitrary `pow(n, alpha)` is
    * correctly rounded nowhere and would let engines round a weight
    * apart. (Exactness caveat: floor(sqrt) over doubles is exact for
    * n < 2^50 — the nearest double to sqrt(k^2 - 1) is never k for
    * class counts in that range, which covers any per-class count
    * this engine will meet.)
    *
    * Determinism contract (cross-engine): the anchor class is the
    * quantized-argmax of the keep ratio `floor(w*1e6/n)` with
    * (n, w, class) lexicographic tie-break — same shape as
    * [[mixToTargets]]'s argmin. Per-class keep fractions are then
    * quantized ONCE to integer ppm (exact BigInt arithmetic,
    * `w_c * n0 * 1e6 / (n_c * w0)`, anchor == exactly 1e6 so it keeps
    * every row) and the filter is a single literal-map lookup against
    * the row's hash bucket — `bucket < keep_ppm[class]` — with no
    * int64 overflow anywhere. <=1ppm keep-rate quantization is the
    * documented slack. A NULL class cannot be a map key and is
    * dropped, like mixToTargets.
    *
    * Scale shape: one count aggregate (|classes| rows to the driver —
    * the domain-label cardinality, small by construction), constants
    * folded back as a LITERAL MAP — no join, a pure narrow codegen'd
    * filter over the fact table. */
  def temperatureSample(df: DataFrame, cls: Column, key: Column,
                        salt: String = "temp",
                        maxClasses: Int = MaxClasses): DataFrame = {
    val clsStr = cls.cast("string")
    // bounded-collect contract, self-enforced (see balanceClasses):
    // the keep rates fold back as ONE literal map, so the class
    // cardinality must be a domain-label cardinality — probe
    // limit(cap+1), refuse loudly instead of OOM-ing the driver
    val countRows = df.groupBy(clsStr.as("_cls")).agg(count(lit(1)).as("_n"))
      .filter(col("_cls").isNotNull)
      .limit(boundedProbe(maxClasses)).collect()
    require(countRows.length <= maxClasses, oversizedClasses(
      "temperatureSample", maxClasses))
    val counts = countRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty,
      "temperatureSample needs at least one non-null class")
    // the documented floor(sqrt) exactness bound, enforced: beyond
    // 2^50 rows per class the double sqrt may round a weight apart
    // from another engine's — fail loudly, never diverge silently
    counts.foreach { case (c, n) =>
      require(n < (1L << 50),
        s"temperatureSample: class '$c' has $n rows, beyond the 2^50 " +
          "floor(sqrt)-exactness bound; shard the class first")
    }
    val weights = counts.map { case (c, n) =>
      c -> math.sqrt(n.toDouble).toLong
    }
    val (_, n0, w0) = counts.toSeq
      .map { case (c, n) => (c, n, weights(c)) }
      .minBy { case (c, n, w) => (-(w * 1000000L / n), n, w, c) }
    val keepPpm = counts.map { case (c, n) =>
      c -> (BigInt(weights(c)) * n0 * 1000000L / (BigInt(n) * w0)).toLong
    }
    val ppm = element_at(typedlit(keepPpm), clsStr)
    df.filter(ppm.isNotNull && Sampling.bucket(key, salt) < ppm)
  }

  /** C4-style rule-based quality flags: cheap, deterministic document
    * filters applied before any model-based scoring. Adapted to
    * all-lowercase whitespace corpora (no terminal-punctuation rule);
    * each rule is its own flag so downstream can audit which rule
    * fired, plus the conjunction `keep`.
    *
    *  - `min_words`: at least `minWords` whitespace tokens
    *  - `has_stopword`: contains a bare 'the' or 'a' token (the
    *    natural-language-ness proxy C4 takes from stopword presence)
    *  - `distinct_ppm`: distinct-token ratio in parts-per-million
    *    (integer floor-div); `diverse` requires >= minDistinctPpm —
    *    the repetition filter
    *  - `no_brace` / `no_lorem`: the C4 code-and-boilerplate rules
    *
    * Pure per-row Column algebra: narrow, codegen'd, no shuffle. */
  def c4QualityFlags(df: DataFrame, id: Column, text: Column,
                     minWords: Int = 10,
                     minDistinctPpm: Long = 300000L,
                     carry: Seq[(String, Column)] = Nil): DataFrame = {
    val toks = TextOps.tokens(text)
    val padded = concat(lit(" "), lower(text), lit(" "))
    df.select(Seq(
      id.as("doc_id"),
      size(toks).cast("long").as("n_words"),
      size(array_distinct(toks)).cast("long").as("_n_distinct"),
      (padded.contains(" the ") || padded.contains(" a "))
        .as("has_stopword"),
      (!lower(text).contains("{")).as("no_brace"),
      (!lower(text).contains("lorem ipsum")).as("no_lorem")) ++
      carry.map { case (n, c) => c.as(n) }: _*)
      // exact integer floor-div (`div`), matching SQL `//` — a double
      // divide could round across the ppm threshold
      .withColumn("distinct_ppm", expr("_n_distinct * 1000000 div n_words"))
      .withColumn("min_words", col("n_words") >= minWords)
      .withColumn("diverse", col("distinct_ppm") >= minDistinctPpm)
      .withColumn("keep",
        col("min_words") && col("has_stopword") && col("diverse")
          && col("no_brace") && col("no_lorem"))
      .select(Seq(col("doc_id"), col("n_words"), col("distinct_ppm"),
        col("min_words"), col("has_stopword"), col("diverse"),
        col("no_brace"), col("no_lorem"), col("keep")) ++
        carry.map { case (n, _) => col(n) }: _*)
  }

  /** Gopher-style quality rules — the second public rule family
    * beside [[c4QualityFlags]] (Rae et al. 2021, table A1): document
    * shape statistics rather than C4's content heuristics. Every
    * metric is exact integer parts-per-million (floor-div, `div` ==
    * SQL `//`) so the rule thresholds are bit-portable; every rule is
    * its own flag for auditability, plus the conjunction `keep`.
    *
    *  - `word_count_ok`: n_words in [minWords, maxWords]
    *  - `word_len_ok`: mean word length in [3, 10] chars (ppm-scaled)
    *  - `mostly_alpha`: >= 80% of words contain an alphabetic char
    *  - `low_symbol`: '#' and '...' occurrences <= 10% of words
    *  - `few_bullets`: <= 90% of lines start with '- ' or '* '
    *  - `few_ellipsis`: <= 30% of lines end with '...'
    *  - `enough_stopwords`: >= `minStopHits` distinct hits among 8
    *    common English stopwords (exact token membership, not
    *    substring). Default 2 — the Gopher paper's bar; corpora whose
    *    vocabulary legitimately carries few function words (domain
    *    logs, the driver's synthetic tables) dial it down rather
    *    than nulling the whole filter.
    *
    * Pure per-row Column algebra: narrow, no shuffle. The list-lambda
    * metrics (token lengths, alpha hits, line scans) are HOF
    * expressions — CodegenFallback, but per-row bounded by document
    * size, the same cost class as the c4 flags. */
  def gopherQualityFlags(df: DataFrame, id: Column, text: Column,
                         minWords: Int = 10,
                         maxWords: Int = 100000,
                         minStopHits: Int = 2,
                         carry: Seq[(String, Column)] = Nil): DataFrame = {
    // every raw count comes from ONE codegen'd linear pass
    // ([[graft.functions.GopherTextStats]]) — the six interpreted
    // HOF scans (aggregate/transform/filter, CodegenFallback) this
    // replaced are kept as the reference implementation in
    // GopherStatsSpec, which pins value equality on adversarial
    // fixtures; the ppm arithmetic below is unchanged
    df.select(Seq(id.as("doc_id"),
      graft.functions.VectorFunctions.gopherStats(text).as("_gs")) ++
      carry.map { case (n, c) => c.as(n) }: _*)
      .withColumn("n_words", col("_gs.n_words"))
      .withColumn("_n_lines", greatest(col("_gs.n_lines"), lit(1L)))
      .withColumn("mean_word_len_ppm", expr(
        "_gs.sum_word_len * 1000000 div greatest(n_words, 1L)"))
      .withColumn("alpha_ppm", expr(
        "_gs.n_alpha_words * 1000000L div greatest(n_words, 1L)"))
      .withColumn("symbol_ppm", expr(
        "(_gs.n_hash + _gs.n_ellipsis) * 1000000L div greatest(n_words, 1L)"))
      .withColumn("bullet_line_ppm", expr(
        "_gs.n_bullet_lines * 1000000L div _n_lines"))
      .withColumn("ellipsis_line_ppm", expr(
        "_gs.n_ellipsis_lines * 1000000L div _n_lines"))
      .withColumn("stop_hits", col("_gs.stop_hits"))
      .withColumn("word_count_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("word_len_ok", col("mean_word_len_ppm") >= 3000000L &&
        col("mean_word_len_ppm") <= 10000000L)
      .withColumn("mostly_alpha", col("alpha_ppm") >= 800000L)
      .withColumn("low_symbol", col("symbol_ppm") <= 100000L)
      .withColumn("few_bullets", col("bullet_line_ppm") <= 900000L)
      .withColumn("few_ellipsis", col("ellipsis_line_ppm") <= 300000L)
      .withColumn("enough_stopwords", col("stop_hits") >= minStopHits.toLong)
      .withColumn("keep", col("word_count_ok") && col("word_len_ok") &&
        col("mostly_alpha") && col("low_symbol") && col("few_bullets") &&
        col("few_ellipsis") && col("enough_stopwords"))
      .drop("_gs", "_n_lines")
  }

  /** Filter-agreement ensemble — the curation diagnostic that answers
    * "how much does each quality filter remove, and how much do they
    * overlap": every document is scored by all three public filter
    * families (C4 content rules, Gopher shape rules, stopword-argmax
    * language ID) in ONE fused narrow pass — the two flag frames are
    * CHAINED via their carry parameter, never joined, so the plan is a
    * single whole-stage map over the corpus — then reduced to the
    * 8-cell (c4_keep x gopher_keep x lang_en) agreement matrix with
    * exact ppm shares. At 100 TB: one corpus scan, one 8-row
    * aggregation; the share denominator comes from the matrix itself
    * (metadata-sized literal-key join), never a second corpus pass.
    * High-disagreement cells are where filter-threshold reviews look
    * first — rules that kill documents the other two families keep. */
  def filterEnsemble(df: DataFrame, id: Column, text: Column): DataFrame = {
    val c4 = c4QualityFlags(df, id, text,
        carry = Seq("_doc_text" -> text))
      .select(col("doc_id"), col("_doc_text"), col("keep").as("c4_keep"))
    val flags = gopherQualityFlags(c4, col("doc_id"), col("_doc_text"),
        carry = Seq("c4_keep" -> col("c4_keep"),
          "_lang" -> TextOps.langId(col("_doc_text"))))
      .select(col("c4_keep"), col("keep").as("gopher_keep"),
        (col("_lang") === "en").as("lang_en"))
    val cells = flags
      .groupBy(col("c4_keep"), col("gopher_keep"), col("lang_en"))
      .agg(count(lit(1)).as("n_docs"))
    val total = cells.agg(sum(col("n_docs")).as("_total"))
      .withColumn("_one", lit(1))
    cells.withColumn("_one", lit(1))
      .join(broadcast(total), Seq("_one"))
      .select(col("c4_keep"), col("gopher_keep"), col("lang_en"),
        col("n_docs"), expr("n_docs * 1000000 div _total").as("share_ppm"))
  }

  /** Heuristic-score calibration against the rule filters — answers
    * "does the continuous quality score actually separate the
    * documents the C4/Gopher rules keep from the ones they kill".
    * Every document is scored ([[TextOps.withQualityScore]]) AND
    * rule-flagged in the same fused narrow pass (flag frames chained
    * via carry, the [[filterEnsemble]] idiom — no joins), then reduced
    * to a (score-quintile x c4_keep x gopher_keep) matrix with exact
    * ppm shares. A well-calibrated score concentrates rule-kept mass
    * in the top buckets; mass in (bucket 4, keep=false) cells is where
    * a learned-scorer threshold review starts. Bucket =
    * least(4, floor(score*5)): the score is a [0,1] double computed
    * identically in any IEEE engine (no transcendentals), so the
    * bucket boundary is bit-portable. NaN-scored docs are excluded,
    * matching every other score consumer
    * ([[ksDriftReport]]/[[dedupBiasReport]]). NOTE the guard is
    * defensive, not load-bearing today: an EMPTY doc's NaN punct
    * ratio is absorbed by least() under both engines' NaN-is-greatest
    * ordering, so empty docs score a finite 0.008 and land in bucket
    * 0 on BOTH sides (probed r14; the r13 ADVICE divergence premise
    * does not materialize) — the filter only bites if the score
    * formula ever becomes genuinely NaN-producing.
    * At 100 TB: one corpus scan, one
    * <=20-row aggregation, matrix-internal denominator. */
  def qualityCalibrationReport(df: DataFrame, id: Column,
                               text: Column): DataFrame = {
    val c4 = c4QualityFlags(df, id, text,
        carry = Seq("_doc_text" -> text))
      .select(col("doc_id"), col("_doc_text"), col("keep").as("c4_keep"))
    val flags = gopherQualityFlags(c4, col("doc_id"), col("_doc_text"),
        carry = Seq("c4_keep" -> col("c4_keep"),
          "_doc_text" -> col("_doc_text")))
      .select(col("c4_keep"), col("keep").as("gopher_keep"),
        col("_doc_text"))
    // The NaN guard rides as a GROUP KEY dropped post-aggregation,
    // NOT a pre-aggregation filter (r15): PushDownPredicates
    // substitutes a filter's alias references unconditionally, so
    // `filter(!isnan(quality_score))` landed the ENTIRE score
    // expression (five stopword regexes + the punct regex + splits)
    // in a scan-level Filter and recomputed it in the projection —
    // measured 1.41x on the whole query (probe r15, 1.04s -> 1.47s
    // min). As a key it references the projected attribute, which
    // CollapseProject declines to inline (expensive alias used
    // twice), so the score computes ONCE per row; NaN rows (none on
    // either engine — every score term passes through least(1.0, ·),
    // which caps NaN — the guard is defense for pathological inputs)
    // would land in _nan=true groups and drop after the fold,
    // identical to the oracle's pre-aggregation WHERE. The `n_docs <
    // 0` disjunct (never true: count is non-negative) references an
    // AGGREGATE output, which is what actually pins the filter above
    // the aggregate — a predicate on grouping keys alone is pushed
    // through the aggregate and re-expands the alias at the scan,
    // recreating the 1.41x (the segmentDedup coalesce(assert_true)
    // discipline: a semantically-inert term carrying a plan
    // constraint the optimizer cannot see otherwise).
    val cells = TextOps.withQualityScore(flags, col("_doc_text"))
      .groupBy(
        least(lit(4L), floor(col("quality_score") * 5.0).cast("long"))
          .as("score_bucket"),
        col("c4_keep"), col("gopher_keep"),
        isnan(col("quality_score")).as("_nan"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(!col("_nan") || col("n_docs") < 0)
      .select(col("score_bucket"), col("c4_keep"), col("gopher_keep"),
        col("n_docs"))
    val total = cells.agg(sum(col("n_docs")).as("_total"))
      .withColumn("_one", lit(1))
    cells.withColumn("_one", lit(1))
      .join(broadcast(total), Seq("_one"))
      .select(col("score_bucket"), col("c4_keep"), col("gopher_keep"),
        col("n_docs"), expr("n_docs * 1000000 div _total").as("share_ppm"))
  }

  /** Pairwise two-sample Kolmogorov–Smirnov drift over per-source
    * quality-score distributions — the snapshot-health check a corpus
    * pipeline runs when a crawl refresh or a new provider lands: a
    * source whose score distribution has drifted from its peers (or
    * from its own previous snapshot, fed as another `source` value)
    * shows a large KS distance long before mean-based monitors move.
    *
    * The KS statistic is computed EXACTLY in integer ppm over a shared
    * `buckets`-cell histogram: bucket = least(buckets-1,
    * floor(score * buckets)) (the calibration report's bit-portable
    * boundary arithmetic), per-source CDF as a cumulative sum over a
    * DENSE source x bucket spine (so a source missing trailing buckets
    * still carries its CDF forward), cdf_ppm = cum * 1e6 div n_source,
    * and ks_ppm = max |cdf_a - cdf_b| over buckets for each unordered
    * source pair. NaN-scored docs (empty text) are excluded on both
    * engines.
    *
    * Scale shape: ONE corpus scan reduced immediately to the
    * (source x bucket) histogram — everything downstream is
    * metadata-sized (sources x buckets rows; the pair join is
    * sources^2 x buckets, ~1e6 rows even at a thousand sources), with
    * windows partitioned per source over `buckets` rows. No corpus
    * joins, no unpartitioned windows. */
  def ksDriftReport(df: DataFrame, id: Column, source: Column,
                    text: Column, buckets: Int = 32): DataFrame = {
    // NaN guard as a group key dropped post-fold, with the inert
    // aggregate-output disjunct pinning the filter above the
    // aggregate — the qualityCalibrationReport r15 fix: a
    // pre-aggregation !isnan filter is pushed to the scan with the
    // WHOLE score expression substituted in, recomputing five
    // stopword regexes + the punct regex per row per consumer (this
    // query's histogram feeds BOTH sides of the pair join, so the
    // duplication doubled again: 4 full-score evals in the r14 plan).
    val scored = TextOps.withQualityScore(
        df.select(id.as("doc_id"), source.as("source"), text.as("_t")),
        col("_t"))
    val hist = scored.groupBy(col("source"),
        least(lit(buckets - 1L),
          floor(col("quality_score") * buckets)).as("bucket"),
        isnan(col("quality_score")).as("_nan"))
      .agg(count(lit(1)).as("n_bucket"))
      .filter(!col("_nan") || col("n_bucket") < 0)
      .select(col("source"), col("bucket"), col("n_bucket"))
    val spine = hist.select(col("source")).distinct()
      .select(col("source"),
        explode(sequence(lit(0L), lit(buckets - 1L))).as("bucket"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val cdf = spine.join(hist, Seq("source", "bucket"), "left")
      .withColumn("nb", coalesce(col("n_bucket"), lit(0L)))
      .withColumn("cum", sum(col("nb")).over(wCum))
      .withColumn("n_src", sum(col("nb")).over(wAll))
      .select(col("source"), col("bucket"),
        expr("cum * 1000000 div n_src").as("cdf_ppm"), col("n_src"))
    val a = cdf.select(col("source").as("source_a"), col("bucket"),
      col("cdf_ppm").as("cdf_a"), col("n_src").as("n_a"))
    val b = cdf.select(col("source").as("source_b"), col("bucket"),
      col("cdf_ppm").as("cdf_b"), col("n_src").as("n_b"))
    a.join(b, Seq("bucket"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cdf_a") - col("cdf_b"))).as("ks_ppm"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("ks_ppm"))
  }

  /** Unigram-LM surprisal per document — the language-model-flavored
    * quality signal the heuristic score can't give: documents made of
    * corpus-rare tokens carry high mean surprisal, boilerplate made of
    * the corpus's most common tokens carries low. Token surprisal is
    * the engine-portable integer floor-log2 proxy (the
    * [[freqHistogram]] / tfidf discipline — libm's ln is not
    * bit-identical across engines, `length(bin(x))` is):
    * bits(term) = floor(log2(N div cnt)) + 1 for corpus token total N
    * and term count cnt, so bits runs 1 (the most common case,
    * cnt > N/2) up to floor(log2(N))+1 (hapaxes). Output per doc:
    * n_tokens, sum_bits, mean_bits_ppm (exact integer floor-div).
    *
    * Scale shape: the (doc_id, term) occurrence frame is materialized
    * ONCE ([[Materialize.eager]] — it feeds both the vocabulary count
    * and the per-doc aggregate; the lazy version would scan+explode
    * the corpus twice, the exact r13 tfidf regression), the vocabulary
    * side is two hash-aggs of that frame plus a 1-row broadcast for N,
    * and the per-doc score is one vocab-sized equi-join (AQE
    * broadcasts it at any realistic vocabulary) feeding a doc-keyed
    * hash-agg. No windows, no corpus self-joins. */
  def unigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val pairs = Materialize.eager(
      df.select(id.as("doc_id"),
        explode(TextOps.tokens(text)).as("term")))
    val vocab = pairs.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("_n_total"))
      .withColumn("_one", lit(1))
    val bits = vocab.withColumn("_one", lit(1))
      .join(broadcast(total), Seq("_one"))
      .select(col("term"),
        length(bin(expr("_n_total div cnt"))).cast("long").as("bits"))
    pairs.join(bits, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      .withColumn("mean_bits_ppm", expr("sum_bits * 1000000 div n_tokens"))
  }

  /** Dedup-adjusted source mixture — the mixing decision no naive
    * per-source token count gets right: a source whose mass is mostly
    * near-duplicates contributes far fewer EFFECTIVE training tokens
    * than its raw size suggests, so sampling weights must be computed
    * AFTER discounting redundant mass. Input: the corpus and its
    * near-dup component labeling ([[Dedup.connectedComponents]] over
    * the staged pair table). A doc is redundant when it is not its
    * cluster's representative (component label != its own id — the
    * keep-representative rule). Output per source: doc/redundant
    * counts, raw and effective token mass, and the naive vs
    * dedup-adjusted mixture weights (exact integer ppm over the
    * respective totals) — the delta between the two weight columns is
    * the mixing error dedup-unaware sampling would bake in.
    *
    * Scale shape: one id-keyed join of the corpus projection (id,
    * source, token count — narrow, rides the scan) with the
    * id-keyed labeling, a |sources|-row hash-agg (map-side combine),
    * and a 1-row totals broadcast. Never a second corpus pass. */
  def dedupAdjustedMixture(docs: DataFrame, components: DataFrame,
                           id: Column, src: Column,
                           text: Column): DataFrame = {
    val d = docs.select(id.as("doc_id"), src.as("source"),
      TextOps.tokenCount(text).as("n_tok"))
    val per = d.join(components, Seq("doc_id"))
      .withColumn("red", col("component") =!= col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("red").cast("long")).as("n_redundant"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("red"), lit(0L)).otherwise(col("n_tok")))
          .as("eff_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("_tt"),
        sum(col("eff_tokens")).as("_te"))
      .withColumn("_one", lit(1))
    per.withColumn("_one", lit(1)).join(broadcast(tot), Seq("_one"))
      .select(col("source"), col("n_docs"), col("n_redundant"),
        col("n_tokens"), col("eff_tokens"),
        expr("n_tokens * 1000000 div _tt").as("naive_weight_ppm"),
        expr("eff_tokens * 1000000 div _te").as("adjusted_weight_ppm"))
  }

  /** Uniform-mixture epoch plan over EFFECTIVE token pools — the step
    * after [[dedupAdjustedMixture]]: given a token budget
    * (`epochsOfCorpus` x the corpus's total effective mass) split
    * UNIFORMLY across sources (the balance-sources target), how many
    * times must each source's effective pool repeat ("epochs", in
    * exact integer ppm: 1e6 = one pass), capped at `maxEpochsPpm`
    * (default 4 — the diminishing-returns repetition bound from
    * Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models"), and how many target tokens the cap leaves unfilled
    * (`shortfall_tokens` — the mass the mixer must reassign or accept
    * losing). A fully-redundant source (zero effective tokens) plans
    * zero epochs and surfaces its whole target as shortfall.
    *
    * epochs_ppm is computed as a decimal128 product then floor-div
    * (the pmi discipline): target x 1e6 overflows int64 once corpus
    * mass passes ~9e12 tokens — exactly the 100 TB regime.
    *
    * Scale shape: everything after [[dedupAdjustedMixture]]'s rollup
    * is |sources|-sized arithmetic plus one 1-row totals broadcast —
    * the plan costs nothing beyond the mixture it composes. */
  def epochPlan(docs: DataFrame, components: DataFrame, id: Column,
                src: Column, text: Column, epochsOfCorpus: Int = 2,
                maxEpochsPpm: Long = 4000000L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val mix = dedupAdjustedMixture(docs, components, id, src, text)
      .select(col("source"), col("eff_tokens"))
    val tot = mix.agg(sum(col("eff_tokens")).as("_te"),
        count(lit(1)).as("_ns"))
      .withColumn("_one", lit(1))
    mix.withColumn("_one", lit(1)).join(broadcast(tot), Seq("_one"))
      .withColumn("target_tokens",
        expr(s"(_te * ${epochsOfCorpus}L) div _ns"))
      .withColumn("_num",
        col("target_tokens").cast(dec) * lit(1000000L).cast(dec))
      .withColumn("epochs_ppm_raw",
        when(col("eff_tokens") === 0L, lit(0L))
          .otherwise(expr("_num div eff_tokens").cast("long")))
      .withColumn("epochs_ppm",
        least(col("epochs_ppm_raw"), lit(maxEpochsPpm)))
      .withColumn("planned_tokens",
        expr("(CAST(eff_tokens AS DECIMAL(38,0)) * epochs_ppm) div 1000000")
          .cast("long"))
      .select(col("source"), col("eff_tokens"), col("target_tokens"),
        col("epochs_ppm"),
        (col("epochs_ppm_raw") > lit(maxEpochsPpm)).as("capped"),
        col("planned_tokens"),
        greatest(lit(0L), col("target_tokens") - col("planned_tokens"))
          .as("shortfall_tokens"))
  }

  /** Context-window chunking: split every document into non-overlapping
    * `chunkTokens`-word pieces — the training-prep step that turns
    * arbitrary-length documents into model-window-sized rows while
    * keeping provenance (doc_id, chunk_idx). Output:
    * (doc_id, chunk_idx, n_tokens, chunk_md5). Pure narrow explode
    * (bounded fan-out: n_tokens/chunkTokens per doc), no shuffle. */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
                     chunkTokens: Int = 128): DataFrame =
    chunked(df, id, text, chunkTokens)
      .select(col("doc_id"), col("seg_idx").as("chunk_idx"),
        size(TextOps.tokens(col("seg"))).cast("long").as("n_tokens"),
        md5(col("seg")).as("chunk_md5"))

  /** Zipf audit: corpus term-frequency histogram with power-of-two
    * bins (bin = number of binary digits of the count, the
    * engine-portable integer floor(log2)+1). Output per bin: distinct
    * terms and total occurrences. Two hash-agg shuffles (term count,
    * then bin rollup) —
    * map-side combine collapses the token explosion; the vocabulary
    * curve that decides df-cap and stopword thresholds at corpus
    * scale. */
  def freqHistogram(df: DataFrame, text: Column): DataFrame =
    df.select(explode(TextOps.tokens(text)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("occ"))
      .groupBy(length(bin(col("occ"))).cast("long").as("df_bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("occ")).as("n_occurrences"))

  /** Vocabulary coverage / OOV curve — the vocab-size decision input:
    * for each candidate vocabulary size k, the share of total corpus
    * token MASS the top-k most frequent types cover, and its
    * complement (the out-of-vocabulary rate a k-type tokenizer pays).
    * Exact even when k cuts inside a frequency tie: the walk runs on
    * the FREQUENCY-LEVEL histogram (occ -> how many types, how much
    * mass), and a partially-taken level contributes
    * `(k - types_above) * occ` — every type at one level carries
    * identical mass, so no per-type tie-break is needed at all.
    *
    * Scale shape: one corpus explode -> vocabulary hash-agg (map-side
    * combine — the 1000x reduction), a second agg to the frequency-
    * level histogram (|distinct occ values| rows, far below |V|), one
    * cumulative window over that tiny frame, and a |sizes|-row
    * output. Nothing after the first agg ever touches the token
    * stream, and no per-type global sort exists anywhere. */
  def vocabCoverageReport(df: DataFrame, text: Column,
                          sizes: Seq[Int] = Seq(16, 64, 256)): DataFrame = {
    val counts = df.select(explode(TextOps.tokens(text)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("occ"))
    // frequency-level histogram: how many types occur exactly `occ`
    // times, and the token mass that level carries
    val levels = counts.groupBy(col("occ"))
      .agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("occ") * col("n_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("occ").desc)
    // cum window over the level histogram only (tiny — see Scaladoc)
    val cum = levels
      .withColumn("cum_types", sum(col("n_types")).over(w))
      .withColumn("cum_mass", sum(col("mass")).over(w))
    val sizesDf = {
      val s = df.sparkSession
      import s.implicits._
      sizes.map(_.toLong).toDF("vocab_size")
    }
    // a level contributes min(n_types, max(0, k - types_above)) of its
    // types (types_above = cum_types - n_types); the sizes frame rides
    // the _one constant-key broadcast equi-join (a BroadcastHashJoin —
    // an inequality condition here would plan BNLJ) and levels below
    // the cut zero out via greatest(0, ...)
    val cover = cum.withColumn("_one", lit(1))
      .join(broadcast(sizesDf.withColumn("_one", lit(1))), Seq("_one"))
      .withColumn("take", least(col("n_types"), greatest(lit(0L),
        col("vocab_size") - (col("cum_types") - col("n_types")))))
      .groupBy(col("vocab_size"))
      .agg(sum(col("take")).as("n_types_used"),
        sum(col("occ") * col("take")).as("covered_occ"))
    val total = counts.agg(sum(col("occ")).as("_total"))
      .withColumn("_one", lit(1))
    cover.withColumn("_one", lit(1)).join(broadcast(total), Seq("_one"))
      .select(col("vocab_size"), col("n_types_used"), col("covered_occ"),
        col("_total").as("total_occ"),
        expr("covered_occ * 1000000 div _total").as("coverage_ppm"),
        expr("1000000 - covered_occ * 1000000 div _total").as("oov_ppm"))
  }

  /** Overlapping context-window chunking — the RAG sibling of
    * [[chunkDocuments]]: windows of `chunkTokens` tokens advancing by
    * `stride` (< chunkTokens), so a fact straddling a non-overlap
    * boundary still lands whole in at least one chunk. Provenance is
    * (doc_id, chunk_idx) with the token offset each chunk starts at.
    * Pure narrow explode through the native codegen'd
    * [[graft.functions.WordChunksStrided]] chopper (the HOF
    * transform/slice chain is CodegenFallback — the same reason
    * [[chunked]] uses the native [[graft.functions.WordChunks]]);
    * bounded fan-out ~n_tokens/stride per doc, no shuffle. */
  def chunkDocumentsOverlap(df: DataFrame, id: Column, text: Column,
                            chunkTokens: Int = 64,
                            stride: Int = 48): DataFrame = {
    require(stride >= 1 && stride <= chunkTokens,
      s"stride $stride must be in [1, $chunkTokens]")
    df.select(id.cast("long").as("doc_id"), posexplode(
        graft.functions.VectorFunctions.wordChunksStrided(
          text, chunkTokens, stride)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        (col("pos").cast("long") * stride).as("start_token"),
        size(TextOps.tokens(col("col"))).cast("long").as("n_tokens"),
        md5(col("col")).as("chunk_md5"))
  }

  /** CCNet-style surprisal terciles — bucket every document into
    * head / middle / tail of its SOURCE's unigram-surprisal
    * distribution (Wenzek et al. 2020: the head is the most
    * LM-familiar third, the usual keep; the tail is the least). The
    * per-doc signal is [[unigramSurprisal]]'s integer mean_bits_ppm;
    * tercile bounds are nearest-rank values (rank ceil(n/3) and
    * ceil(2n/3)) walked over a per-source (mean_bits_ppm, count)
    * HISTOGRAM — the [[quality_winsorize_per_source]] discipline, so
    * the doc stream never sorts and a hot source cannot skew the
    * walk. Output per (source, bucket): docs, token mass, and the
    * within-source doc share in exact integer ppm.
    *
    * Scale shape: one corpus explode (shared — the surprisal frame is
    * materialized once inside [[unigramSurprisal]]), a vocabulary-
    * sized join, one doc-keyed agg, then everything downstream is
    * histogram-sized: per-source cum windows, a broadcast bounds
    * join back onto the doc frame, and a |sources|x3 output. */
  def surprisalBuckets(docs: DataFrame, id: Column, src: Column,
                       text: Column): DataFrame = {
    val sur = unigramSurprisal(docs, id, text)
      .join(docs.select(id.as("doc_id"), src.as("source")), Seq("doc_id"))
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val hist = sur.groupBy(col("source"), col("mean_bits_ppm"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        bySrc.orderBy(col("mean_bits_ppm"))))
      .withColumn("n", sum(col("c")).over(bySrc))
    val bounds = cum
      .groupBy(col("source"))
      .agg(min(when(col("cum") >= expr("(n + 2) div 3"),
          col("mean_bits_ppm"))).as("t1"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"),
          col("mean_bits_ppm"))).as("t2"))
    val bucketed = sur.join(broadcast(bounds), Seq("source"))
      .withColumn("bucket",
        when(col("mean_bits_ppm") <= col("t1"), lit("head"))
          .when(col("mean_bits_ppm") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
    val per = bucketed.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    per.withColumn("src_total",
        sum(col("n_docs")).over(bySrc))
      .select(col("source"), col("bucket"), col("n_docs"), col("n_tokens"),
        expr("n_docs * 1000000 div src_total").as("docs_share_ppm"))
  }

  /** Corpus-wide top word-bigram counts — the vocabulary-induction /
    * BPE-seeding primitive. Ties broken by bigram text so the global
    * limit is a total order (oracle-replayable). Scale shape:
    * explode -> hash-agg count (map-side combine) -> TakeOrdered k
    * (per-partition top-k then a k-row driver merge — never a full
    * global sort). The n-gram build runs through the native
    * [[graft.functions.WordShingleStrings]] expression (one codegen'd
    * JVM loop); the equivalent transform/sequence HOF chain is
    * CodegenFallback and benched ~10x slower on the full corpus. */
  /** Kneser–Ney continuation statistics — the smoothing building
    * block of every interpolated n-gram LM over the corpus: a token's
    * KN lower-order probability is NOT its raw frequency but how many
    * DISTINCT left contexts it continues (the "Francisco problem":
    * frequent but context-locked tokens must back off small).
    * Per token: n_unigram (raw count), n_left_contexts (distinct w1
    * preceding it), n_right_continuations (distinct w2 following it —
    * the fertility term KN discount estimation reads), and
    * cont_ppm = n_left_contexts * 1e6 div |distinct bigram types| —
    * the exact-integer KN continuation probability.
    *
    * Scale shape: the corpus collapses FIRST to its distinct bigram
    * TYPES (one hash-distinct — the same 1000x vocabulary reduction
    * the BPE trainer rides), materialized once for its three
    * consumers (left counts, right counts, the 1-row type total);
    * everything downstream is vocabulary-sized aggs + joins. Doc
    * boundaries bound the windows: bigrams never span documents. */
  def knContinuation(df: DataFrame, text: Column): DataFrame = {
    val uni = df.select(explode(TextOps.tokens(text)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_unigram"))
    val bgt = Materialize.eager(
      df.select(explode(graft.functions.VectorFunctions
          .wordShingleStrings(text, 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
        .distinct())
    val lc = bgt.groupBy(col("w2")).agg(count(lit(1)).as("n_left_contexts"))
      .withColumnRenamed("w2", "token")
    val rc = bgt.groupBy(col("w1"))
      .agg(count(lit(1)).as("n_right_continuations"))
      .withColumnRenamed("w1", "token")
    val tot = bgt.agg(count(lit(1)).as("_t"))
    uni.join(lc, Seq("token"), "left").join(rc, Seq("token"), "left")
      .join(broadcast(tot))
      .select(col("token"), col("n_unigram"),
        coalesce(col("n_left_contexts"), lit(0L)).as("n_left_contexts"),
        coalesce(col("n_right_continuations"), lit(0L))
          .as("n_right_continuations"),
        expr("coalesce(n_left_contexts, 0L) * 1000000 div _t")
          .as("cont_ppm"))
  }

  /** Per-source dataset card — the one-row-per-source "datasheet" a
    * corpus release ships (Gebru et al.'s datasheets, the HF dataset
    * card): volume (docs, tokens), rule-quality share (C4 keep),
    * language share (en), exact-duplicate share, and total quality
    * score mass — the table a mixture designer reads FIRST, before
    * any per-doc drill-down. Composes already-verified primitives
    * ([[c4QualityFlags]], [[TextOps.langId]],
    * [[TextOps.withQualityScore]], [[TextOps.contentFingerprint]])
    * in ONE fused narrow pass over the corpus (flag-frame carry
    * chaining — no per-metric corpus joins).
    *
    * Exactness: shares are integer ppm; the score mass is
    * sum(floor(score * 1e6)) with NaN-scored (empty) docs counting 0
    * on both engines. Duplicate share counts docs whose normalized
    * content fingerprint occurs more than once CORPUS-wide,
    * attributed to each copy's own source.
    *
    * Scale shape: one corpus scan (materialized once — it feeds the
    * fingerprint count and the rollup), one md5-keyed hash-agg +
    * equi-join (the exact-dedup shuffle), one source-keyed hash-agg.
    * Output is sources rows. */
  def datasetCard(df: DataFrame, id: Column, source: Column,
                  text: Column): DataFrame = {
    val flags = c4QualityFlags(df, id, text,
        carry = Seq("source" -> source, "_t" -> text))
      .select(col("doc_id"), col("source"), col("_t"),
        col("keep").as("c4_keep"))
    val base = Materialize.eager(
      TextOps.withQualityScore(flags, col("_t"))
        .withColumn("lang_en", TextOps.langId(col("_t")) === "en")
        .withColumn("score_micro",
          when(isnan(col("quality_score")), lit(0L))
            .otherwise(floor(col("quality_score") * 1000000d)))
        .withColumn("fp", TextOps.contentFingerprint(col("_t")))
        .select(col("doc_id"), col("source"), col("c4_keep"),
          col("lang_en"), col("n_tokens"), col("score_micro"), col("fp")))
    val copies = base.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    base.join(copies, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("c4_keep"), 1L).otherwise(0L)).as("_c4"),
        sum(when(col("lang_en"), 1L).otherwise(0L)).as("_en"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("_dup"),
        sum(col("score_micro")).as("sum_score_micro"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("_c4 * 1000000 div n_docs").as("c4_keep_ppm"),
        expr("_en * 1000000 div n_docs").as("lang_en_ppm"),
        expr("_dup * 1000000 div n_docs").as("exact_dup_ppm"),
        col("sum_score_micro"))
  }

  /** Per-source out-of-vocabulary rate under the corpus-global top-k
    * type vocabulary — the domain-mix readiness check behind
    * [[vocabCoverageReport]]'s global curve: a GLOBAL coverage number
    * can hide one source (a code or non-English domain) paying a
    * multiple of the average OOV rate, which surfaces downstream as
    * that domain's tokens fragmenting into byte fallbacks. Vocabulary
    * membership is pinned by the (occ desc, term) total order, so the
    * kept set is engine-replayable even when k cuts inside a
    * frequency tie (deliberately a SET here, unlike the coverage
    * report's tie-free mass walk — per-source attribution needs
    * actual membership).
    *
    * Scale shape: the (source, term) token stream is materialized
    * once (it feeds the vocabulary count and the per-source rollup —
    * the tfidf double-scan lesson); the top-k runs as
    * TakeOrderedAndProject over the vocabulary-sized count frame
    * (bounded per-partition heaps, never a full sort shuffle), and
    * membership rides a k-row broadcast left join into one
    * source-keyed hash-agg. */
  def oovBySource(df: DataFrame, source: Column, text: Column,
                  k: Int = 64): DataFrame = {
    val toks = Materialize.eager(
      df.select(source.as("source"),
        explode(TextOps.tokens(text)).as("term")))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("occ"))
      .orderBy(col("occ").desc, col("term")).limit(k)
      .select(col("term"), lit(1L).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
  }

  def topBigrams(df: DataFrame, text: Column, k: Int): DataFrame =
    df.select(explode(
        graft.functions.VectorFunctions.wordShingleStrings(text, 2))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** One BPE merge-selection round — the tokenizer-training
    * primitive: count adjacent CHARACTER pairs inside words, weighted
    * by word frequency, and rank the merge candidates. (A full BPE
    * trainer repeats this after applying the winning merge; the count
    * phase is the distributed-scale step — the merge table itself is
    * vocabulary-sized driver state.)
    *
    * Scale shape: word counting first (one hash-agg collapses the
    * corpus to its vocabulary — at 100 TB that is the 1000x reduction
    * step), THEN pair explosion over the vocabulary only, weighted by
    * the counts; a corpus-wide pair explode would shuffle
    * characters-of-corpus instead of characters-of-vocabulary.
    * Integer counts, (n desc, pair) total order at the limit. */
  def bpePairCounts(df: DataFrame, text: Column, k: Int): DataFrame =
    df.select(explode(TextOps.tokens(text)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
      .filter(length(col("word")) >= 2)
      .select(col("wn"), explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** The full iterative BPE trainer (Sennrich et al. 2016, the
    * tokenizer-induction loop [[bpePairCounts]] is round zero of):
    * `rounds` times, count adjacent SYMBOL pairs over the vocabulary
    * weighted by word frequency, pick the most frequent pair
    * ((n desc, left, right) total order — deterministic, replayable
    * tie-break), and merge its non-overlapping left-to-right
    * occurrences into one symbol in every word.
    *
    * Scale shape: the corpus collapses to its VOCABULARY once (the
    * 1000x hash-agg reduction; at 100 TB the vocab is million-scale,
    * comfortably distributed), and every round after that touches only
    * vocabulary-sized data — one pair-count shuffle, a single-row
    * TakeOrdered to the driver (the chosen merge: bounded, 1 row per
    * round), and a narrow per-word re-tokenize. Loop-carried vocab
    * state is re-materialized per round via [[Materialize.eager]]
    * (distributed lineage truncation), so round j does not re-execute
    * rounds 1..j-1 — the kCenterCoreset lesson.
    *
    * Re-tokenization is a codegen'd `aggregate` fold over the symbol
    * array: push each symbol, and when the running tail equals the
    * merge's left and the incoming symbol its right, pop+push the
    * fused symbol. A freshly fused symbol can never serve as the LEFT
    * of the same merge (it is strictly longer), which makes the fold
    * exactly the greedy non-overlapping left-to-right scan of the
    * reference algorithm.
    *
    * Returns (mergeTable, finalVocab): the merge table is (round,
    * lft, rgt, n) driver-built rows (metadata-sized by construction —
    * `rounds` rows); finalVocab is the distributed (symbol, n)
    * inventory after all merges, n summed over word frequencies. */
  def bpeMerges(df: DataFrame, text: Column,
                rounds: Int): (DataFrame, DataFrame) = {
    val (mergeTable, state) = bpeTrain(df, text, rounds)
    (mergeTable, bpeSymbolCounts(state))
  }

  /** Symbol inventory (symbol, n) of a trained BPE state frame. */
  def bpeSymbolCounts(state: DataFrame): DataFrame =
    state.select(col("wn"), explode(col("syms")).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("wn")).as("n"))

  /** The trainer loop itself: returns (mergeTable, state) where state
    * is the post-merge vocabulary frame (word, wn, syms) — the
    * artifact a production pipeline persists once and tokenizes
    * against many times (see [[PairStage.bpeTrained]]). */
  def bpeTrain(df: DataFrame, text: Column,
               rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 1000,
      s"bpeTrain rounds must be in [1, 1000], got $rounds")
    val spark = df.sparkSession
    var vocab = Materialize.eager(
      df.select(explode(TextOps.tokens(text)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wn"))
        .select(col("word"), col("wn"), expr(
          "transform(sequence(1, length(word)), " +
            "i -> substring(word, i, 1))").as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val roundT0 = System.nanoTime()
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("wn"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i - 1] AS lft, syms[i] AS rgt))"))
          .as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round.toLong, a, b, n))
        val fused = a + b
        vocab = Materialize.eager(vocab.withColumn("syms",
          aggregate(col("syms"), expr("cast(array() as array<string>)"),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, lit(-1)) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
              .otherwise(concat(acc, array(x))))))
        // per-round cost line (the [graft.cc]/[scaleprobe] logging
        // convention): each round is one vocab-sized pair-count
        // shuffle + a 1-row TakeOrdered + the re-tokenize map, so the
        // O(rounds x vocab-shuffle) claim gets measured numbers —
        // SCALE.md cites these from the 64-round staging build
        println(f"[graft.bpe] round=$round%d wall=" +
          f"${(System.nanoTime() - roundT0) / 1e9}%.2fs merge=$a+$b n=$n")
        round += 1
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("merge_round", "lft", "rgt", "n"), vocab)
  }

  /** The TOKENIZATION pass — what a 100 TB pipeline actually runs
    * after training: per-document BPE token counts under the learned
    * vocabulary. The per-word segment count is a VOCABULARY-level
    * lookup (a word's tokenization depends only on the word), so the
    * corpus-sized side does one explode and one hash-join against the
    * vocabulary-sized (word -> n_word_bpe) table — the re-tokenize
    * fold never runs over corpus rows. Inner join is total by
    * construction: the vocabulary was induced from this corpus.
    *
    * Output: (doc_id, n_words, n_bpe_tokens) integer rows. */
  def bpeTokenize(df: DataFrame, id: Column, text: Column,
                  state: DataFrame): DataFrame = {
    val wt = state.select(col("word"),
      size(col("syms")).cast("long").as("n_word_bpe"))
    df.select(id.as("doc_id"), explode(TextOps.tokens(text)).as("word"))
      .join(wt, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_word_bpe")).as("n_bpe_tokens"))
  }

  /** Hashing-trick featurization (Weinberger et al. 2009): sparse
    * bag-of-words vectors with a FIXED dimensionality — term index is
    * `hex60(token) % dims`, value is the term frequency. The
    * vocabulary-free featurizer: no fitted dictionary to broadcast or
    * version, identical output for any corpus split, which is what
    * makes it the streaming/incremental-safe choice at 100 TB (a
    * dictionary featurizer re-fits — and silently re-indexes — as the
    * corpus grows). Collisions are the accepted tradeoff and are
    * deterministic here (md5-derived hash), so the whole sparse matrix
    * hash-verifies cross-engine.
    *
    * Output: (doc_id, dim, tf) sparse triplets — one explode and one
    * map-side-combined hash-agg, no joins, no driver state. */
  def hashedBow(df: DataFrame, id: Column, text: Column,
                dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    df.select(id.as("doc_id"), explode(TextOps.tokens(text)).as("token"))
      .select(col("doc_id"),
        (TextOps.hex60(col("token")) % dims).as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Corpus-level bigram familiarity — the no-model quality /
    * perplexity proxy (CCNet-style LM filtering without a trained
    * LM): the fraction (integer ppm) of a document's word bigrams
    * that occur at least `minCount` times corpus-wide. Natural or
    * boilerplate text scores high; garbled, shuffled or
    * wrong-language text scores low. Deliberately integer end-to-end
    * (counts and a floor-div ppm) so the whole signal is
    * hash-verifiable cross-engine — a float log-prob would not be.
    *
    * Output: (doc_id, n_bigrams, n_familiar, familiar_ppm); a doc
    * with fewer than two tokens has zero bigrams and scores 0.
    *
    * Scale shape: one explode to (doc_id, bigram-hash) — the join key
    * is the fixed-width [[TextOps.hex60]] hash, never the bigram
    * string — a corpus-count hash-agg (map-side combine), a
    * hash-to-hash join back, and a per-doc count agg. Two shuffles on
    * 8-byte keys; no driver materialization. */
  def bigramFamiliarity(df: DataFrame, id: Column, text: Column,
                        minCount: Int = 5): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val inst = df.select(id.cast("long").as("doc_id"), explode(
        graft.functions.VectorFunctions.wordShingleStrings(text, 2))
        .as("bigram"))
      .select(col("doc_id"), TextOps.hex60(col("bigram")).as("h"))
    val familiar = inst.groupBy(col("h"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minCount)
      .select(col("h"), lit(1).as("_fam"))
    val scored = inst.join(familiar, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("_fam")).as("n_familiar"))
    // docs with < 2 tokens never explode a bigram: restore them with 0s
    df.select(id.cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_familiar"), lit(0L)).as("n_familiar"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          expr("n_familiar * 1000000L div n_bigrams"))
          .otherwise(lit(0L)).as("familiar_ppm"))
  }

  /** Greedy per-group token-budget selection — the "best docs until
    * the budget runs out" curation step between quality scoring and
    * training-set assembly: within each group, rows are taken in
    * `order` until the running token total would exceed `budget`
    * (rows are kept while cum <= budget, so one oversized best doc
    * can consume the whole budget, and a doc that would overflow it
    * is dropped WITHOUT unblocking later smaller docs — strict prefix
    * semantics, replayable as a window cumsum in any engine; a
    * knapsack fill would not be order-replayable).
    *
    * `order` must be total within each group (tiebreak on the doc id)
    * or no engine can replay which doc consumed the last tokens.
    *
    * Scale shape: one hash exchange on the group plus a per-group
    * sort — the inherent cost of an ordered prefix; nothing global.
    * Output adds `cum_tokens`. */
  def tokenBudgetSelect(df: DataFrame, group: Column, order: Seq[Column],
                        tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_tokens", sum(tokens.cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Conditional bigram table — the n-gram-LM building block: for
    * every first word with at least `minFirst` bigram occurrences,
    * the top-`k` continuations by count with the conditional
    * probability as integer ppm (`n * 1e6 div total`, so a first
    * word's emitted ppms sum to <= 1e6 by construction). Integer
    * end-to-end: counts and floor-div ppm hash-verify cross-engine
    * where float log-probs would not.
    *
    * Scale shape: the native `WordShingleStrings` explode feeds one
    * hash-agg on the bigram string (map-side combined), then a window
    * ranked WITHIN each first word — per-key candidate counts are
    * vocabulary-bounded, so the per-partition sorts stay small; no
    * global order anywhere. */
  def bigramConditionals(df: DataFrame, text: Column, k: Int = 3,
                         minFirst: Long = 10L): DataFrame = {
    val bg = df.select(explode(
        graft.functions.VectorFunctions.wordShingleStrings(text, 2))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1"))
    val ranked = bg
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("rank", row_number().over(
        w.orderBy(col("n").desc, col("w2"))).cast("long"))
    ranked.filter(col("total") >= minFirst && col("rank") <= k)
      .select(col("w1"), col("w2"), col("n"), col("total"),
        expr("n * 1000000L div total").as("cond_ppm"), col("rank"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc
    * by how much more likely its hashed-unigram bag is under the
    * TARGET distribution than under the RAW distribution —
    * log p_target(doc) - log p_raw(doc) under bag-of-hashed-ngram
    * models. Docs resembling the target (here: the caller's
    * `isTarget` slice, e.g. the curated/English subset) score high;
    * sampling proportional to the weight reshapes the raw corpus
    * toward the target domain without a learned classifier.
    *
    * Engine-portable integer discipline: features are
    * [[TextOps.hex60]] token hashes mod `buckets` (hash collisions
    * are PART of the estimator — DSIR's hashing is deliberate
    * dimension reduction, not an implementation shortcut); each
    * bucket's add-one-smoothed likelihood is the floor-log2 bit cost
    * bits(b) = length(bin((N + buckets) div (cnt_b + 1))) (the
    * [[unigramSurprisal]] idiom — libm ln is not bit-identical across
    * engines, bin-length is), and the doc weight is
    * sum(bits_raw - bits_target) over token OCCURRENCES: positive =
    * cheaper to encode under the target = target-like. Output per
    * doc: n_tokens, dsir_bits, mean milli-bits (exact floor-div).
    *
    * Scale shape: the (doc, bucket) occurrence frame is materialized
    * ONCE and feeds both count sides (the r13 tfidf lesson); the
    * bucket tables are bounded at `buckets` rows — broadcast joins by
    * construction — and the per-doc score is one doc-keyed hash-agg.
    * The target side aggregates the SAME frame filtered, so the raw
    * corpus is tokenized exactly once. No windows, no self-joins. */
  def dsirWeights(df: DataFrame, id: Column, text: Column,
                  isTarget: Column, buckets: Int = 1024): DataFrame = {
    val pairs = Materialize.eager(
      df.select(id.as("doc_id"), isTarget.as("_tgt"),
          explode(TextOps.tokens(text)).as("_term"))
        .select(col("doc_id"), col("_tgt"),
          pmod(TextOps.hex60(col("_term")), lit(buckets.toLong))
            .as("bucket")))
    def bitsOf(cnts: DataFrame, out: String): DataFrame = {
      val tot = cnts.agg(sum(col("cnt")).as("_n")).withColumn("_one", lit(1))
      cnts.withColumn("_one", lit(1)).join(broadcast(tot), Seq("_one"))
        .select(col("bucket"), length(bin(
          expr(s"(_n + ${buckets}L) div (cnt + 1L)")))
          .cast("long").as(out))
    }
    // raw = every occurrence; target = occurrences in target docs.
    // Buckets unseen on the target side still need their smoothed
    // cost, so target counts ride on the raw bucket axis (left join
    // semantics via cnt = sum of target flags, never a dropped row).
    val byBucket = pairs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("_tgt").cast("long")).as("tcnt"))
    val rawBits = bitsOf(byBucket.select(col("bucket"), col("cnt")),
      "bits_raw")
    val tgtBits = bitsOf(byBucket.select(col("bucket"),
      col("tcnt").as("cnt")), "bits_target")
    val bits = broadcast(rawBits.join(tgtBits, Seq("bucket"))
      .select(col("bucket"),
        (col("bits_raw") - col("bits_target")).as("dbits")))
    pairs.join(bits, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("dbits")).as("dsir_bits"))
      // dsir_bits is SIGNED; Spark `div` truncates toward zero while
      // DuckDB `//` floors, so the mean is sign-split onto the
      // non-negative floor-div both engines agree on
      .withColumn("mean_millibits", expr(
        "CASE WHEN dsir_bits < 0 THEN -((-dsir_bits) * 1000 div n_tokens)" +
          " ELSE dsir_bits * 1000 div n_tokens END"))
  }

  /** Corpus novelty curve — how much NEW content each ingest slice
    * actually adds: docs are bucketed by arrival order (doc_id div
    * `bucketSize` — a real pipeline buckets by crawl date), every
    * (doc, distinct n-shingle) pair is attributed as novel iff this
    * doc is the shingle's FIRST carrier (min doc_id over the whole
    * corpus), and each bucket reports its novel share in exact ppm.
    * The decaying curve is the diminishing-returns evidence behind
    * "another crawl of the same sources buys little" — the
    * per-slice twin of [[boilerplateNgrams]]'s per-doc view.
    *
    * Scale shape: one shingle explode -> distinct (doc, shingle),
    * materialized once, then TWO bucket-sized aggregations over it —
    * occupancy (pairs per bucket) and first-carrier counts (shingles
    * whose min doc_id lands in the bucket) — joined on the
    * |buckets|-row spine. A shingle's first-carrier pair
    * (first_doc, shingle) is itself a pair in the frame, so counting
    * min-docs per bucket IS counting novel pairs per bucket; the
    * corpus-sized pairs-to-first shuffle join the naive attribution
    * form pays (re-keying doc x shingle rows on the shingle a second
    * time) buys nothing — [[heapsBucketFit]]'s occ/fresh shape,
    * measured 6.1 -> 3.4 s median at sf0.1 (SCALE.md r16). */
  def noveltyCurve(df: DataFrame, id: Column, text: Column,
                   n: Int = 3, bucketSize: Long = 50L): DataFrame =
    noveltyCurveFrom(Materialize.eager(shinglePairs(df, id, text, n)),
      bucketSize)

  /** [[noveltyCurve]] over a pre-materialized DISTINCT (doc_id,
    * shingle) frame — the registry path reads the staged
    * [[PairStage.shingleSets]] artifact so the corpus-sized explode +
    * distinct is paid once per snapshot, not once per report. */
  def noveltyCurveFrom(pairs: DataFrame,
                       bucketSize: Long = 50L): DataFrame = {
    val occ = pairs
      .groupBy(expr(s"doc_id div ${bucketSize}L").as("ingest_bucket"))
      .agg(count(lit(1)).as("n_shingles"))
    val novel = pairs.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr(s"first_doc div ${bucketSize}L").as("ingest_bucket"))
      .agg(count(lit(1)).as("n_novel"))
    // novel buckets are a subset of occ buckets (every first_doc is a
    // carrier), so occ is the spine and missing novel counts are 0.
    // NO broadcast hint (ADVICE r16): both sides are |buckets|-keyed
    // aggregates whose row count grows linearly with the corpus
    // (n_docs div bucketSize — ~10^7-10^8 buckets at the 100 TB
    // posture), so broadcasting one side risks driver OOM; the
    // bucket-keyed shuffle join is the bounded-state shape.
    occ.join(novel, Seq("ingest_bucket"), "left")
      .select(col("ingest_bucket"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
  }

  /** Which quality strata does near-dedup actually remove? Cross the
    * keep-representative decision (a doc is REMOVED when its
    * connected-component label is not its own id — the
    * [[dedupAdjustedMixture]] rule) with the quality-score bucket
    * ([[qualityCalibrationReport]]'s fixed least(4, floor(score*5))
    * boundaries), reporting per bucket: docs, removals, the removal
    * rate, each bucket's share of ALL removals, and the bucket's doc
    * share. Near-duplicate text is disproportionately boilerplate, so
    * a healthy corpus shows removal_ppm falling as the bucket rises —
    * if it does not, dedup is eating the good stratum and the
    * curation order (dedup before/after filtering) needs a look.
    * NaN-scored docs (empty text) are excluded like every score
    * consumer.
    *
    * Scale shape: the components frame is the staged clustering
    * (min-label propagation over LSH/jaccard pairs — never built
    * here); scoring is one narrow pass; the join is doc-keyed; the
    * report is 5 cells + a 1-row total broadcast. */
  def dedupBiasReport(docs: DataFrame, components: DataFrame,
                      id: Column, text: Column): DataFrame = {
    // NaN guard carried as a column through the doc-keyed join and
    // dropped at the bucket fold (the qualityCalibrationReport r15
    // pushdown fix; the pre-join filter form recomputed the whole
    // score in a scan-level Filter)
    // NOT Spread (r20, measured): the regex-heavy score pass INFLATES
    // ~5x total CPU under concurrent tasks (8 tasks x 0.23s vs one
    // 0.38s task), erasing the parallel win — the one-task pass stays
    val scored = TextOps.withQualityScore(
        docs.select(id.as("doc_id"), text.as("_t")), col("_t"))
      .select(col("doc_id"), least(lit(4L),
        floor(col("quality_score") * 5.0).cast("long")).as("score_bucket"),
        isnan(col("quality_score")).as("_nan"))
    // cells feeds the output AND its total: materialize the <=12-row
    // frame once (r20) — the components labels arrive as a
    // LogicalRDD whose re-aliased second reference defeats exchange
    // reuse, so the lazy form ran the whole corpus score pass twice
    val cells = Materialize.eager(scored.join(components, Seq("doc_id"))
      .withColumn("red", col("component") =!= col("doc_id"))
      .groupBy(col("score_bucket"), col("_nan"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("red").cast("long")).as("n_removed"))
      .filter(!col("_nan") || col("n_docs") < 0)
      .select(col("score_bucket"), col("n_docs"), col("n_removed")))
    val tot = cells.agg(sum(col("n_docs")).as("_td"),
        sum(col("n_removed")).as("_tr"))
      .withColumn("_one", lit(1))
    cells.withColumn("_one", lit(1)).join(broadcast(tot), Seq("_one"))
      .select(col("score_bucket"), col("n_docs"), col("n_removed"),
        expr("n_removed * 1000000 div n_docs").as("removed_ppm"),
        expr("CASE WHEN _tr = 0 THEN 0" +
          " ELSE n_removed * 1000000 div _tr END").as("removal_share_ppm"),
        expr("n_docs * 1000000 div _td").as("bucket_share_ppm"))
  }

  /** Deterministic importance RESAMPLING on top of [[dsirWeights]] —
    * the second half of DSIR: each doc's keep probability is a
    * monotone clamp of its mean target-vs-raw milli-bit advantage
    * (keep_ppm = clamp(base + slope * mean_millibits, 0, 1e6)), and
    * the coin flip is the portable-hash threshold every sampler in
    * [[Sampling]] uses (hex60("dsir:" || doc_id) mod 1e6 < keep_ppm)
    * — reproducible across engines AND across reruns, which is what
    * makes a resampled corpus a stable training artifact rather than
    * a random draw. Reported per source: docs/tokens before and
    * after, the kept share, and the mean advantage of the kept slice
    * vs the whole slice (both sign-split floor-div milli-bits) — the
    * reshaping evidence: target-like sources keep more than raw-only
    * ones, and within every source the kept mean dominates.
    *
    * Scale shape: [[dsirWeights]]'s shape (one tokenize, broadcast
    * bucket tables) + one doc-keyed join back to the (id, source)
    * projection + a sources-sized rollup. The decision column is a
    * narrow per-row map — no new shuffle beyond the join. */
  def dsirResample(df: DataFrame, id: Column, text: Column,
                   isTarget: Column, source: Column,
                   buckets: Int = 1024, base: Long = 500000L,
                   slope: Long = 200L): DataFrame = {
    val w = dsirWeights(df, id, text, isTarget, buckets)
      .withColumn("keep_ppm", least(lit(1000000L), greatest(lit(0L),
        lit(base) + col("mean_millibits") * slope)))
      .withColumn("keep",
        pmod(TextOps.hex60(concat(lit("dsir:"),
          col("doc_id").cast("string"))), lit(1000000L)) < col("keep_ppm"))
    w.join(df.select(id.as("doc_id"), source.as("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(col("n_tokens")).as("tokens_before"),
        sum(when(col("keep"), col("n_tokens")).otherwise(lit(0L)))
          .as("tokens_after"),
        sum(col("dsir_bits")).as("_bits_all"),
        sum(when(col("keep"), col("dsir_bits")).otherwise(lit(0L)))
          .as("_bits_kept"))
      .withColumn("kept_ppm", expr("n_kept * 1000000 div n_docs"))
      // signed means sign-split onto the non-negative floor-div both
      // engines agree on (the dsirWeights idiom)
      .withColumn("mean_millibits_all", expr(
        "CASE WHEN _bits_all < 0" +
          " THEN -((-_bits_all) * 1000 div tokens_before)" +
          " ELSE _bits_all * 1000 div tokens_before END"))
      .withColumn("mean_millibits_kept", expr(
        "CASE WHEN tokens_after = 0 THEN 0" +
          " WHEN _bits_kept < 0" +
          " THEN -((-_bits_kept) * 1000 div tokens_after)" +
          " ELSE _bits_kept * 1000 div tokens_after END"))
      .drop("_bits_all", "_bits_kept")
  }
}
