package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{AsOfJoin, Audio, Corpus, Dedup, Graph, Multimodal, Packing, RangeJoin, Sampling, Similarity, Sketches, TextOps, Video, Windows}


import QueryShared._

/** Corpus curation, vocabulary induction (incl. the BPE trainer), packing and decontamination.
  *
  * One family slice of the extension registry — [[ExtQueries]]
  * aggregates every slice behind the unchanged `queries` /
  * `oracleSql` surface (the r10 split of the 4.4k-line
  * monolith; entries are verbatim, no behavior change).
  */
object ExtQueriesCorpus {

  val queries: Map[String, Q] = Map(

    // DSIR importance weights: every doc scored by hashed-unigram
    // target-vs-raw bit cost (target = the English slice); the
    // classifier-free "resembles the target domain" signal importance
    // resampling feeds on
    "quality_dsir_weights" -> ((s, dir) =>
      Corpus.dsirWeights(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang") === lit("en"))),
    // marginal-novelty curve per ingest slice: share of (doc, distinct
    // 3-shingle) pairs whose doc is the shingle's first carrier
    "corpus_novelty_curve" -> ((s, dir) =>
      Corpus.noveltyCurveFrom(graft.ext.PairStage.shingleSets(s, dir))),
    // the persistent artifact store's conservation report (VERDICT
    // r17 #1): forces (build or validate-on-attach) one artifact per
    // cheap-oracle family over this snapshot and reports each
    // artifact's row count FROM THE STORE — a build in this session
    // and an attach from a prior session must produce identical rows,
    // which is exactly the cross-session value-parity the store
    // promises. Counts over staged leaves are bounded actions
    // (artifact-sized, never corpus-pair-sized). The full manifest
    // (build wall, staleness fingerprints, last-attach liveness) is
    // the ArtifactStore.manifest frame, ScalaTest-covered; this report
    // keeps to the corpus-derivable columns so DuckDB can replay it.
    // Staleness bound, stated (VERDICT r18 #5): on a NON-local store
    // the input fingerprints are memoized for
    // spark.graft.artifactFpTtlMs (default 30s, 0 = always relist),
    // so after a snapshot swap an accessor can serve the OLD
    // artifact's rows for at most that window; local filesystems
    // always relist.
    "artifact_manifest_report" -> ((s, dir) => {
      import graft.ext.PairStage
      val (n, _) = PairStage.corpusCard(s, dir)
      val nc = Similarity.autoCentroids(n)
      val rows = Seq(
        ("corpus_card", "embeddings", 1L),
        ("int8_index", "embeddings",
          PairStage.int8Index(s, dir).count()),
        ("ivf_centroids", "embeddings",
          PairStage.ivfCentroids(s, dir, nc, iters = 2).count()),
        ("ivf_corpus_cells", "embeddings",
          PairStage.ivfCorpusCells(s, dir, nc, iters = 2).count()),
        ("minhash_corpus_sigs", "documents",
          PairStage.minhashCorpusSigs(s, dir, excludeMod = 3).count()),
        ("shingle_sets", "documents",
          PairStage.shingleSets(s, dir).count()))
      import s.implicits._
      rows.toDF("artifact", "input_table", "n_rows")
    }),
    // the resampling half of DSIR: keep probability is a monotone
    // clamp of the per-doc milli-bit advantage, the coin is the
    // portable hash threshold — per-source before/after report
    "curate_dsir_resample" -> ((s, dir) =>
      Corpus.dsirResample(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang") === lit("en"), col("source"))),

    // ExactSubstr-lite: drop exact 8-word chunks already seen earlier
    // in the corpus, reassemble the survivors per document
    "dedup_repeated_segments" -> ((s, dir) =>
      Corpus.segmentDedup(t(s, dir, "documents"), col("doc_id"),
        col("text"), segWords = 8)),
    // C4-style rule filter, one audit flag per rule + the conjunction
    "text_c4_filter" -> ((s, dir) =>
      Corpus.c4QualityFlags(t(s, dir, "documents"), col("doc_id"),
        col("text"))),
    // Gopher-style shape rules (word-count/word-length/alpha/symbol/
    // bullet/ellipsis/stopword), one audit flag per rule
    "text_gopher_filter" -> ((s, dir) =>
      Corpus.gopherQualityFlags(t(s, dir, "documents"), col("doc_id"),
        col("text"))),
    // filter-agreement matrix: all three filter families scored in
    // one fused pass (chained carry, no joins), reduced to the 8-cell
    // (c4 x gopher x lang) agreement report with exact ppm shares
    "text_filter_ensemble" -> ((s, dir) =>
      Corpus.filterEnsemble(t(s, dir, "documents"), col("doc_id"),
        col("text"))),
    // dedup-adjusted source mixing: per-source sampling weights
    // recomputed over EFFECTIVE (non-redundant) token mass, using the
    // same staged near-dup clustering as dedup_clusters — the delta
    // vs the naive weights is the error dedup-unaware mixing bakes in
    "curate_dedup_adjusted_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dedupAdjustedMixture(docs,
        Dedup.connectedComponents(docs.select(col("doc_id")),
          graft.ext.PairStage.jaccardPairs(s, dir)),
        col("doc_id"), col("source"), col("text"))
    }),
    // dedup quality bias: removal rate / removal share / doc share
    // per quality-score bucket off the SAME staged clustering — is
    // near-dedup eating boilerplate or the good stratum
    "quality_dedup_bias_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dedupBiasReport(docs,
        Dedup.connectedComponents(docs.select(col("doc_id")),
          graft.ext.PairStage.jaccardPairs(s, dir)),
        col("doc_id"), col("text"))
    }),
    // uniform-mixture epoch plan over the effective pools: how many
    // repeats of each source fill a balanced 2x-effective-mass
    // budget, under the 4-epoch repetition cap, with the unfillable
    // shortfall surfaced per source — the decision artifact after the
    // dedup-adjusted mixture
    "curate_epoch_plan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.epochPlan(docs,
        Dedup.connectedComponents(docs.select(col("doc_id")),
          graft.ext.PairStage.jaccardPairs(s, dir)),
        col("doc_id"), col("source"), col("text"))
    }),
    // heuristic-score calibration: quality-score quintile x c4 x
    // gopher keep matrix, scored and flagged in the same fused pass
    // (carry-chained, no joins) — does the continuous score separate
    // what the rule filters keep from what they kill
    "quality_calibration_report" -> ((s, dir) =>
      Corpus.qualityCalibrationReport(t(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // pairwise source-level KS drift over quality-score distributions:
    // exact integer-ppm KS distance per unordered source pair off a
    // shared 32-bucket histogram — the snapshot-health monitor that
    // catches a drifted provider before mean-based checks move
    "quality_ks_drift_report" -> ((s, dir) =>
      Corpus.ksDriftReport(t(s, dir, "documents"), col("doc_id"),
        col("source"), col("text"))),
    // corpus-wide top-50 word bigrams (vocabulary induction seed)
    "vocab_top_bigrams" -> ((s, dir) =>
      Corpus.topBigrams(t(s, dir, "documents"), col("text"), k = 50)),
    // Kneser–Ney continuation stats: distinct-left-context counts and
    // exact-ppm continuation probabilities per token (plus the right
    // fertility term) off one materialized bigram-type frame
    "vocab_kn_continuation" -> ((s, dir) =>
      Corpus.knContinuation(t(s, dir, "documents"), col("text"))),
    // per-source OOV rate under the global top-64 vocabulary — the
    // domain-mix readiness check a global coverage curve can hide
    "vocab_oov_by_source" -> ((s, dir) =>
      Corpus.oovBySource(t(s, dir, "documents"), col("source"),
        col("text"))),
    // per-source dataset card: volume, C4-keep share, en share,
    // exact-dup share, score mass — one fused pass + the dedup join
    "curate_dataset_card" -> ((s, dir) =>
      Corpus.datasetCard(t(s, dir, "documents"), col("doc_id"),
        col("source"), col("text"))),
    // crawl-refresh diff: two derived corpus snapshots (v1 drops
    // doc_id%5==0, v2 drops %7==0 and re-crawls %11==0 with edited
    // text) full-outer joined on doc_id, changes detected by content
    // fingerprint, rolled up per source WITH the token-mass deltas a
    // mixture plan has to absorb — diff_snapshots' corpus sibling.
    // One full-outer hash join on the id + one source-keyed agg; the
    // fingerprints are per-row narrow md5s.
    "diff_corpus_snapshots" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        col("source"), col("text"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      val v1 = base.filter(col("doc_id") % 5 =!= 0)
      val v2 = base.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      val a = v1.select(col("doc_id").as("k_old"),
        col("source").as("src_old"), col("n_tokens").as("tok_old"),
        TextOps.contentFingerprint(col("text")).as("fp_old"))
      val b = v2.select(col("doc_id").as("k_new"),
        col("source").as("src_new"), col("n_tokens").as("tok_new"),
        TextOps.contentFingerprint(col("text")).as("fp_new"))
      a.join(b, col("k_old") === col("k_new"), "full_outer")
        .withColumn("change_type",
          when(col("k_old").isNull, lit("added"))
            .when(col("k_new").isNull, lit("removed"))
            .when(col("fp_old") =!= col("fp_new"), lit("changed"))
            .otherwise(lit("unchanged")))
        .groupBy(coalesce(col("src_old"), col("src_new")).as("source"))
        .agg(
          sum(when(col("change_type") === "added", 1L).otherwise(0L))
            .as("n_added"),
          sum(when(col("change_type") === "removed", 1L).otherwise(0L))
            .as("n_removed"),
          sum(when(col("change_type") === "changed", 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(col("change_type") === "unchanged", 1L).otherwise(0L))
            .as("n_unchanged"),
          sum(when(col("change_type") === "added", col("tok_new"))
            .otherwise(0L)).as("tokens_added"),
          sum(when(col("change_type") === "removed", col("tok_old"))
            .otherwise(0L)).as("tokens_removed"),
          (sum(coalesce(col("tok_new"), lit(0L)))
            - sum(coalesce(col("tok_old"), lit(0L)))).as("token_delta"))
    }),
    // one BPE merge-selection round: adjacent char-pair counts
    // weighted by word frequency, computed over the VOCABULARY (the
    // corpus collapses to distinct words first — the 1000x reduction
    // that makes tokenizer training affordable at corpus scale)
    "vocab_bpe_pairs" -> ((s, dir) =>
      Corpus.bpePairCounts(t(s, dir, "documents"), col("text"), k = 30)),
    // the full iterative BPE trainer: 8 merge rounds (apply top pair,
    // re-tokenize, re-count) over the vocabulary; each round's chosen
    // merge hash-verified against an unrolled-CTE DuckDB replay. The
    // trainer runs ONCE per session (PairStage.bpeTrained stages the
    // merge table + vocabulary state; the three BPE queries read the
    // artifacts — train-once/tokenize-many)
    "vocab_bpe_merges" -> ((s, dir) =>
      graft.ext.PairStage.bpeTrained(s, dir, BpeRounds)._1),
    // the trainer at REALISTIC vocabulary scale: 64 merge rounds
    // (8x the readable-oracle setting — late rounds merge symbols
    // that only exist because of earlier merges, the regime a toy
    // round count never reaches). Still fully hash-verified: the
    // unrolled-CTE oracle stays LINEAR in rounds via AS MATERIALIZED
    // state CTEs (without the hint DuckDB re-inlines the chain,
    // 2^rounds evaluations). Per-round wall cost is logged by the
    // trainer ([graft.bpe] lines) — the O(rounds x vocab-shuffle)
    // claim's number in SCALE.md. Staged like the 8-round artifacts;
    // the 8-round prefix equality is spec-pinned (greedy BPE is
    // prefix-stable in rounds).
    "vocab_bpe_merges64" -> ((s, dir) =>
      graft.ext.PairStage.bpeTrained(s, dir, 64)._1),
    // the symbol inventory AFTER those merges (weighted by word
    // frequency) — the induced tokenizer vocabulary itself
    "vocab_bpe_vocab" -> ((s, dir) =>
      Corpus.bpeSymbolCounts(
        graft.ext.PairStage.bpeTrained(s, dir, BpeRounds)._2)),
    // the tokenization PASS under the learned vocabulary: per-doc BPE
    // token counts via a corpus explode + one vocabulary-sized lookup
    // join (the fold never runs over corpus rows)
    "text_bpe_tokenize" -> ((s, dir) =>
      Corpus.bpeTokenize(t(s, dir, "documents"), col("doc_id"),
        col("text"),
        graft.ext.PairStage.bpeTrained(s, dir, BpeRounds)._2)),
    // hashing-trick featurization: fixed-dim sparse bag-of-words with
    // no fitted vocabulary — split-invariant and streaming-safe, the
    // deterministic md5 dim index makes the sparse matrix hash-verify
    "features_hashed_bow" -> ((s, dir) =>
      Corpus.hashedBow(t(s, dir, "documents"), col("doc_id"),
        col("text"), dims = 64)),
    // context-window chunking: docs -> 64-token pieces with provenance
    "chunk_documents" -> ((s, dir) =>
      Corpus.chunkDocuments(t(s, dir, "documents"), col("doc_id"),
        col("text"), chunkTokens = 64)),
    // Zipf audit: term-count histogram in power-of-two bins
    "vocab_freq_histogram" -> ((s, dir) =>
      Corpus.freqHistogram(t(s, dir, "documents"), col("text"))),
    // vocab-size decision curve: token-mass coverage / OOV rate of the
    // top-k type vocabulary at k in {16, 64, 256} — exact across
    // frequency ties via the level-histogram walk (no per-type sort)
    "vocab_coverage_report" -> ((s, dir) =>
      Corpus.vocabCoverageReport(t(s, dir, "documents"), col("text"))),
    // RAG chunking: 64-token windows advancing by 48 (16-token
    // overlap), provenance + start offset per chunk
    "chunk_documents_overlap" -> ((s, dir) =>
      Corpus.chunkDocumentsOverlap(t(s, dir, "documents"), col("doc_id"),
        col("text"), chunkTokens = 64, stride = 48)),
    // CCNet-style curation: head/middle/tail surprisal terciles per
    // source (nearest-rank bounds over per-source histograms)
    "corpus_surprisal_buckets" -> ((s, dir) =>
      Corpus.surprisalBuckets(t(s, dir, "documents"), col("doc_id"),
        col("source"), col("text"))),
    // no-model perplexity proxy: fraction of a doc's bigrams seen
    // >= 5 times corpus-wide (integer ppm, hash-joined on hex60)
    "text_bigram_familiarity" -> ((s, dir) =>
      Corpus.bigramFamiliarity(t(s, dir, "documents"), col("doc_id"),
        col("text"), minCount = 5)),
    // per-domain curriculum selection: best 5 docs per source by
    // quality score, through the bounded-heap aggregate (each task
    // forwards <= 5 rows per source — no per-domain window sort)
    "curate_topk_per_source" -> ((s, dir) => {
      val scored = TextOps.withQualityScore(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text")), col("text"))
      // NaN guard: the heap aggregate ITSELF excludes NaN scores
      // (TopK.topkByScore:88 — no place in the total order), exactly
      // matching the oracle's NOT isnan rank frame. The r14 explicit
      // pre-filter was redundant AND expensive: pushdown substituted
      // the whole score expression into a scan-level Filter (the
      // quality_calibration_report r15 finding), doubling the regex
      // work per row for zero semantic effect.
      scored.groupBy(col("source"))
        .agg(graft.functions.TopK.topkByScore(col("quality_score"),
          col("doc_id"), 5).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), col("col.id").as("doc_id"),
          col("col.score").as("quality_score"),
          (col("pos") + 1).cast("long").as("rank"))
    }),

    // token-budget curation: per source, best-quality docs greedily
    // until a 500-token budget — the selection step between scoring
    // and training-set assembly. Strict prefix semantics (cumsum
    // window), so the kept set is order-replayable cross-engine.
    "curate_token_budget" -> ((s, dir) => {
      // NaN guard without the pushdown tax (the calibration r15
      // finding, window-consumer shape): NaN rows segregate into
      // their own (source, _nan) PARTITION — the real partitions'
      // budget frames are bit-identical to pre-filtering — and drop
      // AFTER the window, with the inert window-output disjunct
      // (cum_tokens is a sum of non-negative token counts) pinning
      // the filter above both the window and the projection. One
      // score eval per row instead of two.
      val scored = TextOps.withQualityScore(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text")), col("text"))
        .withColumn("_nan", isnan(col("quality_score")))
      Corpus.tokenBudgetSelect(scored,
          struct(col("source"), col("_nan")),
          Seq(col("quality_score").desc, col("doc_id")),
          col("n_tokens"), budget = 500L)
        .filter(!col("_nan") || col("cum_tokens") < 0)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("cum_tokens"))
    }),
    // curriculum-ordered training shards: docs hash-assigned to
    // shards, ordered best-quality-first WITHIN each shard with their
    // position, written hive-partitioned by shard and read back —
    // the write layout a curriculum loader streams in order (parquet
    // preserves row order within files). Per-shard windows only;
    // shard count scales with the corpus.
    "sink_curriculum_shards" -> ((s, dir) => {
      // NaN guard in the window-consumer shape (see
      // curate_token_budget): NaN rows rank in their own
      // (shard, _nan) partition — real shards' positions identical
      // to pre-filtering — and drop after the window behind the
      // inert row_number disjunct (row_number >= 1 always).
      val scored = TextOps.withQualityScore(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text"))
        .withColumn("_nan", isnan(col("quality_score")))
        .withColumn("shard", Sampling.bucket(col("doc_id"), "shard") % 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard"), col("_nan"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      val ordered = scored
        .withColumn("position", row_number().over(w).cast("long"))
        .filter(!col("_nan") || col("position") < 1)
        .select(col("shard"), col("position"), col("doc_id"))
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_curr/shards"
      reclaimOnExit(tmp)
      ordered.write.mode("overwrite").partitionBy("shard").parquet(tmp)
      s.read.parquet(tmp)
        .select(col("shard").cast("long").as("shard"), col("position"),
          col("doc_id"))
    }),
    // conditional bigram table (n-gram-LM building block): top-3
    // continuations per first word with integer-ppm conditional
    // probabilities
    "vocab_bigram_conditionals" -> ((s, dir) =>
      Corpus.bigramConditionals(t(s, dir, "documents"), col("text"),
        k = 3, minFirst = 10L)),
    // the REMOVAL step contamination_check motivates: train docs
    // sharing >= 5 test 13-gram shingles are dropped, and the cleaned
    // corpus is summarized per source — composes the verified overlap
    // operator, like corpus_curation_e2e composes its stages
    "decontaminate_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      val test = docs.filter(col("doc_id") % 20 === 0)
      val bad = Dedup.crossCorpusOverlap(train, test, "doc_id", "text",
          shingleN = 13)
        .filter(col("n_shared_shingles") >= 5)
        .select(col("train_id").as("doc_id")).distinct()
      train.join(bad, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
    }),
    // the v2 composed flagship: quality filter -> exact dedup ->
    // near-dup keep-representative -> benchmark decontamination ->
    // per-source token-budget selection, fused into ONE plan under one
    // composed oracle — the full selection path from raw corpus to
    // budgeted training set. Per-stage wall attribution comes from
    // curationV2StageMetrics in the bench.
    "corpus_curation_v2" -> ((s, dir) =>
      curationV2Stages(s, dir).foldLeft(curationV2Docs(s, dir)) {
        case (df, (_, stage)) => stage(df)
      }),
    // the funnel AUDIT of the same chain: rows surviving each stage —
    // the per-stage observability artifact a production curation run
    // emits next to its output (which rule dropped how much). Each
    // stage materializes ONCE (the audit run's natural execution: a
    // deployed pipeline counts its staged outputs) and the counts
    // union over the materialized frames — never a per-prefix
    // recompute, which would run the chain 6x
    "corpus_curation_funnel" -> ((s, dir) => {
      val prefixes = curationV2Stages(s, dir)
        .scanLeft("raw" ->
          graft.ext.Materialize.eager(curationV2Docs(s, dir))) {
          case ((_, df), (name, stage)) =>
            name -> graft.ext.Materialize.eager(stage(df))
        }
      prefixes.zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"))
      }.reduce(_.unionAll(_))
    }),
    // the v3 flagship (VERDICT r14 #5): line dedup FIRST, then Gopher
    // over the cleaned text, near-dup representatives, temperature
    // mixture — the production C4 ordering, with the funnel (docs AND
    // tokens per stage) as the registered output: line dedup's effect
    // is token mass, not doc count, so the funnel carries both. Each
    // prefix materializes once (the curation_funnel discipline — a
    // deployed pipeline counts its staged outputs, never re-runs the
    // chain per prefix).
    "corpus_curation_v3" -> ((s, dir) => {
      val prefixes = curationV3Stages(s, dir)
        .scanLeft("raw" ->
          graft.ext.Materialize.eager(curationV2Docs(s, dir))) {
          case ((_, df), (name, stage)) =>
            name -> graft.ext.Materialize.eager(stage(df))
        }
      prefixes.zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(TextOps.tokenCount(col("text"))), lit(0L))
              .as("n_tokens"))
          .select(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      }.reduce(_.unionAll(_))
    }),

    // the SEMANTIC curation flagship: Gopher -> exact dedup ->
    // SemDeDup pruning over the embedding column -> temperature
    // mixture. Same funnel surface and prefix-materialization
    // discipline as v3; the semantic stage anti-joins the standing
    // SemDeDup removal set (built once per snapshot on the staged
    // kmeans fit), so text-space and embedding-space dedup compose in
    // one chain.
    "corpus_curation_v4" -> ((s, dir) => {
      val prefixes = curationV4Stages(s, dir)
        .scanLeft("raw" ->
          graft.ext.Materialize.eager(curationV2Docs(s, dir))) {
          case ((_, df), (name, stage)) =>
            name -> graft.ext.Materialize.eager(stage(df))
        }
      prefixes.zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(TextOps.tokenCount(col("text"))), lit(0L))
              .as("n_tokens"))
          .select(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      }.reduce(_.unionAll(_))
    }),

    // group count grows with the corpus via autoGroups (~64 docs per
    // group, power of two; SQL twin derives the same count from
    // count(*)), so per-group fold memory stays constant at any scale
    "pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Packing.packSequences(docs, col("doc_id"), col("text"),
        budgetTokens = 512, nGroups = Packing.autoGroups(docs.count()))
    }),
    // packing-efficiency audit: fill rate of the packed bins in
    // integer ppm — padding waste is wasted training FLOPs, so a
    // production packer ships this number next to its output (the
    // recall-report convention applied to packing). One hash-agg over
    // the packed frame; capacity = bins x budget, fill can exceed 1e6
    // only via oversized single docs (an honest signal, not clamped)
    "pack_efficiency_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Packing.packSequences(docs, col("doc_id"), col("text"),
          budgetTokens = 512, nGroups = Packing.autoGroups(docs.count()))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("pack_group"), col("bin_id")).as("n_bins"),
          sum(col("n_tokens")).as("total_tokens"))
        .select(lit("nextfit_512").as("method"), col("n_docs"),
          col("n_bins"), col("total_tokens"),
          (col("n_bins") * 512L).as("capacity_tokens"),
          expr("total_tokens * 1000000L div (n_bins * 512L)")
            .as("fill_ppm"))
    }),
    // three packing heuristics priced in the same fill-ppm currency:
    // plain next-fit (the id-order baseline), next-fit-DECREASING
    // (measured honestly: sorting alone does NOT help a single-open-
    // bin packer — closing a bin still forfeits its headroom), and
    // first-fit-decreasing (every bin stays open; the real upgrade).
    // Padding waste is wasted training FLOPs; this report is the
    // number that justifies — or refuses — the fancier packer
    "pack_ffd_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ng = Packing.autoGroups(docs.count())
      def agg(method: String, packed: DataFrame) = packed
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("pack_group"), col("bin_id")).as("n_bins"),
          sum(col("n_tokens")).as("total_tokens"))
        .select(lit(method).as("method"), col("n_docs"), col("n_bins"),
          col("total_tokens"),
          expr("total_tokens * 1000000L div (n_bins * 512L)")
            .as("fill_ppm"))
      agg("nextfit_512", Packing.packSequences(docs, col("doc_id"),
          col("text"), budgetTokens = 512, nGroups = ng))
        .unionByName(agg("nfd_512", Packing.packSequences(docs,
          col("doc_id"), col("text"), budgetTokens = 512, nGroups = ng,
          largestFirst = true)))
        .unionByName(agg("ffd_512", Packing.packFirstFitDecreasing(docs,
          col("doc_id"), col("text"), budgetTokens = 512, nGroups = ng)))
    }),
    // packing WITH the per-document bin offset — the (bin, offset)
    // position map a training loader consumes to derive attention
    // boundaries without re-tokenizing; same fold, one more running
    // value, replayed by the same recursive-walk oracle
    "pack_with_positions" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Packing.packWithPositions(docs, col("doc_id"), col("text"),
        budgetTokens = 512, nGroups = Packing.autoGroups(docs.count()))
    }),
    // contamination: training docs sharing a 13-gram with the held-out
    // slice (doc_id % 20 == 0 plays the benchmark set)
    "contamination_check" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusOverlap(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", shingleN = 13)
    }),
    // corpus-hot stopword strip: tokens in >= half of all docs are
    // removed from every doc, order/multiplicity of the rest kept —
    // the transform twin of the stopword-density quality scores
    "corpus_stopword_strip" -> ((s, dir) =>
      Corpus.stripHotTokens(t(s, dir, "documents"), col("doc_id"),
        col("text"), dfNum = 1, dfDen = 2)),
    // cross-doc boilerplate mass per document: the share of each doc's
    // distinct 3-shingles that appear in >= 5 documents corpus-wide
    // (exact ppm) — the n-gram analog of C4's repeated-span rules; one
    // materialized shingle-hash pass shared by all three aggregates
    "corpus_boilerplate_ngrams" -> ((s, dir) =>
      Corpus.boilerplateNgrams(t(s, dir, "documents"), col("doc_id"),
        col("text"), shingleN = 3, dfMin = 5)),
    // C4-style cross-document LINE dedup as a transform: >=5-token
    // lines survive only at their lexicographically-first (doc, pos)
    // occurrence; docs re-assembled in line order
    "text_line_dedup" -> ((s, dir) =>
      Corpus.lineDedup(t(s, dir, "documents"), col("doc_id"),
        col("text"), minTokens = 5)),
    // Zipf tail slope in exact integer arithmetic: floor-log2
    // frequency buckets, <=64-row complementary counts, bit-by-bit
    // fixed-point log2, integer least squares — no global rank sort,
    // no transcendentals
    "vocab_zipf_bucket_fit" -> ((s, dir) =>
      Corpus.zipfBucketFit(t(s, dir, "documents"), col("text"))),
    // Heaps growth exponent off the novelty curve's first-carrier
    // attribution: octave doc buckets, triangular cumulative, the
    // same fixed-point-log2 least squares on BOTH coordinates
    "corpus_heaps_fit" -> ((s, dir) =>
      Corpus.heapsBucketFitFrom(graft.ext.PairStage.shingleSets(s, dir))),
    // truncation dups: same first-20-token md5, keep the longest
    "dedup_prefix_truncation" -> ((s, dir) =>
      Corpus.prefixTruncationReport(t(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // integer-exact PMI collocations: pointwise mutual information as
    // the monotone ratio proxy (N * n12 * 1e6) div (n1 * n2) — log is
    // monotone, so thresholding/ranking the ratio equals PMI without
    // libm. Products run in DecimalType(38,0): N*n12 and n1*n2 pass
    // 2^63 near ~1e13 corpus bigrams, decimal128 keeps them exact
    // (DuckDB HUGEINT covers the same domain); the final ppm stays
    // int64 while N*1e6/minCount < 2^63, i.e. N < ~4.6e13 bigrams at
    // minCount 5. Margin counts fold the already-grouped bigram table
    // (vocabulary-sized), never the raw explode — two tiny hash-aggs
    // joined back on the word keys
    "vocab_pmi_collocations" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val cnt = t(s, dir, "documents").select(explode(
          graft.functions.VectorFunctions.wordShingleStrings(
            col("text"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n12"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
      val total = cnt.agg(sum(col("n12"))).first().getLong(0)
      val m1 = cnt.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
      val m2 = cnt.groupBy(col("w2")).agg(sum(col("n12")).as("n2"))
      cnt.join(m1, Seq("w1")).join(m2, Seq("w2"))
        .filter(col("n12") >= 5)
        .withColumn("num", lit(total).cast(dec) * col("n12").cast(dec)
          * lit(1000000).cast(dec))
        .withColumn("den", col("n1").cast(dec) * col("n2").cast(dec))
        .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
          expr("num div den").as("pmi_ppm"))
    }),
    // skip-gram co-occurrence pairs (word2vec training-data prep):
    // directed (center, context) counts within a +-2 token window.
    // No self-join, and ONE corpus scan/explode: bigram and trigram
    // shingles concatenate into one array (pair extraction first-
    // token/last-token reads identically off both — a trigram's
    // middle word is exactly the distance-2 skip), the reverse
    // direction appends the swapped pair strings INSIDE the same
    // array expression, and one hash-agg with map-side combine
    // finishes. Plan: Scan -> Generate -> partial agg -> one shuffle
    "vocab_skipgram_pairs" -> ((s, dir) => {
      val fwd = concat(
        graft.functions.VectorFunctions.wordShingleStrings(
          col("text"), 2),
        graft.functions.VectorFunctions.wordShingleStrings(
          col("text"), 3))
      val both = concat(fwd, transform(fwd, g => concat_ws(" ",
        substring_index(g, " ", -1), substring_index(g, " ", 1))))
      // Spread (r20): the shingle/concat explode is CPU-dense per
      // byte; single-split it was one 1.4s task (profiled)
      graft.ext.Spread(t(s, dir, "documents")).select(explode(both).as("g"))
        .select(substring_index(col("g"), " ", 1).as("center"),
          substring_index(col("g"), " ", -1).as("context"))
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
    }),
    // per-source token-distribution diversity as integer-exact Gini
    // impurity: 1e6 - sum(n_i^2)*1e6 div N^2 — the mode-collapse /
    // template-spam audit (a source whose mass sits on few tokens
    // scores near 0). No float probabilities: squares and the N^2
    // denominator run in decimal128 (exact to 1e38; sum(n_i^2) passes
    // 2^63 once a source holds ~3e9 copies of one token), the final
    // ppm is int64. One explode + two vocabulary-keyed hash-aggs
    "vocab_gini_diversity" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val cnt = t(s, dir, "documents").select(col("source"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      cnt.groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("n")).as("n_tokens"),
          sum(col("n").cast(dec) * col("n").cast(dec)).as("ss"))
        .withColumn("den",
          col("n_tokens").cast(dec) * col("n_tokens").cast(dec))
        .select(col("source"), col("n_types"), col("n_tokens"),
          (lit(1000000L) - expr("(ss * 1000000) div den"))
            .as("gini_ppm"))
    }),
  )

  /** CTE chain computing the fixed-point log2 of column `v` from CTE
    * `from` (Corpus.withLog2Milli's SQL twin): `pfx`0 scales the
    * mantissa to [2^30, 2^31) and extracts e = floor(log2) via
    * bin-length; `pfx`1..10 are the square-and-shift fraction-bit
    * rounds (x <- x^2 >> 30, emit a bit and renormalize when x
    * crosses 2^31 — int64-safe: x < 2^31 so x^2 < 2^62, identical
    * integer ops both engines). The caller reads e * 1024 + f from
    * `pfx`10; `carry` columns ride along untouched. */
  private def log2fixCtes(pfx: String, from: String, carry: String,
                          v: String): String = {
    val z0 =
      s"""${pfx}0 AS (SELECT $carry,
         |        CAST(length(bin($v)) - 1 AS BIGINT) AS e,
         |        CASE WHEN length(bin($v)) - 1 <= 30
         |             THEN $v << (30 - (length(bin($v)) - 1))
         |             ELSE $v >> ((length(bin($v)) - 1) - 30) END AS x,
         |        CAST(0 AS BIGINT) AS f
         |      FROM $from)""".stripMargin
    val steps = (1 to 10).map { i =>
      s"""${pfx}$i AS (SELECT $carry, e,
         |        CASE WHEN ((x*x) >> 30) >= 2147483648
         |             THEN ((x*x) >> 30) >> 1 ELSE (x*x) >> 30 END AS x,
         |        f * 2 + CASE WHEN ((x*x) >> 30) >= 2147483648
         |                     THEN 1 ELSE 0 END AS f
         |      FROM ${pfx}${i - 1})""".stripMargin
    }
    (z0 +: steps).mkString(",\n      ")
  }

  val oracleSql: Map[String, String] = Map(
    // the v3 funnel replay: line-dedup CTEs (the text_line_dedup
    // oracle), Gopher keep conjunction over the CLEANED text, the
    // 0.8-jaccard clustering CTEs, temperature-mixture keep rule —
    // then one count+token row per stage
    "corpus_curation_v3" -> s"""
      WITH RECURSIVE
      b0 AS (SELECT doc_id, source, text FROM documents),
      l AS (SELECT doc_id, unnest(range(len(ls))) AS pos,
            unnest(ls) AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM b0)),
      e AS (SELECT doc_id, pos, line,
              len(regexp_split_to_array(trim(line), '\\s+')) >= 5
                AS eligible,
              md5(line) AS h
            FROM l),
      w AS (SELECT h, doc_id AS wdoc, pos AS wpos FROM (
              SELECT h, doc_id, pos,
                     row_number() OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS rn
              FROM e WHERE eligible) WHERE rn = 1),
      kk AS (SELECT e.doc_id, e.pos, e.line,
              (NOT e.eligible
               OR (e.doc_id = w.wdoc AND e.pos = w.wpos)) AS keep
            FROM e LEFT JOIN w ON e.h = w.h AND e.eligible),
      ld AS (SELECT doc_id,
             COALESCE(string_agg(line, chr(10) ORDER BY pos)
               FILTER (WHERE keep), '') AS text
            FROM kk GROUP BY 1),
      d1 AS (SELECT b0.doc_id, b0.source, ld.text
             FROM b0 JOIN ld USING (doc_id)
             WHERE length(trim(ld.text)) > 0),
      g AS (SELECT doc_id, source, text,
          regexp_split_to_array(trim(text), '\\s+') AS toks,
          string_split(text, chr(10)) AS lines
        FROM d1),
      gm AS (SELECT doc_id, source, text,
          CAST(len(toks) AS BIGINT) AS n_words,
          greatest(CAST(len(lines) AS BIGINT), 1) AS n_lines,
          CAST(list_sum(list_transform(toks, tk -> length(tk))) AS BIGINT)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS mean_word_len_ppm,
          CAST(len(list_filter(toks,
              tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) * 1000000
            // greatest(CAST(len(toks) AS BIGINT), 1) AS alpha_ppm,
          ((length(text) - length(replace(text, '#', ''))) +
           (length(text) - length(replace(text, '...', ''))) // 3)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS symbol_ppm,
          CAST(len(list_filter(lines, ln -> starts_with(ln, '- ')
              OR starts_with(ln, '* '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, ln -> ends_with(ln, '...')))
            AS BIGINT) AS n_ell,
          CAST(list_contains(toks, 'the') AS BIGINT)
            + CAST(list_contains(toks, 'be') AS BIGINT)
            + CAST(list_contains(toks, 'to') AS BIGINT)
            + CAST(list_contains(toks, 'of') AS BIGINT)
            + CAST(list_contains(toks, 'and') AS BIGINT)
            + CAST(list_contains(toks, 'that') AS BIGINT)
            + CAST(list_contains(toks, 'have') AS BIGINT)
            + CAST(list_contains(toks, 'with') AS BIGINT) AS stop_hits
        FROM g),
      d2 AS (SELECT doc_id, source, text FROM gm
        WHERE n_words >= 10 AND n_words <= 100000
          AND mean_word_len_ppm >= 3000000
          AND mean_word_len_ppm <= 10000000
          AND alpha_ppm >= 800000 AND symbol_ppm <= 100000
          AND n_bullet * 1000000 // n_lines <= 900000
          AND n_ell * 1000000 // n_lines <= 300000
          AND stop_hits >= 1),
      ${clustersCtes("SELECT doc_id, text FROM d2")},
      comp AS (SELECT node AS doc_id, min(lbl) AS component
               FROM walk GROUP BY node),
      d3 AS (SELECT d2.doc_id, d2.source, d2.text FROM d2
             JOIN comp USING (doc_id) WHERE component = d2.doc_id),
      tc AS (SELECT source AS cls, count(*) AS n
             FROM d3 WHERE source IS NOT NULL GROUP BY 1),
      tw AS (SELECT cls, n,
              CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt
             FROM tc),
      anc AS (SELECT n AS n0, wt AS w0 FROM tw
              ORDER BY wt * 1000000 // n DESC, n, wt, cls LIMIT 1),
      ppm AS (SELECT cls,
              CAST(CAST(wt AS HUGEINT) * n0 * 1000000
                   // (CAST(n AS HUGEINT) * w0) AS BIGINT) AS keep_ppm
              FROM tw CROSS JOIN anc),
      d4 AS (SELECT d3.doc_id, d3.source, d3.text
             FROM d3 JOIN ppm ON d3.source = ppm.cls
             WHERE (${hex60Sql("'temp' || CAST(doc_id AS VARCHAR)")}
                    % ${Sampling.Buckets}) < ppm.keep_ppm)
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) AS n_tokens FROM b0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'line_dedup', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'gopher_filter', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d2
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'neardup_reps', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d3
      UNION ALL
      SELECT CAST(4 AS BIGINT), 'temp_mixture', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d4""",
    // the v4 replay: the v3 Gopher block over the RAW text, exact
    // keep-first, the SemDeDup CTE chain (shared Lloyd fit +
    // centrality rank + earlier-member scan) as the removal set, the
    // v3 mixture tail — then one count+token row per stage
    "corpus_curation_v4" -> s"""
      WITH b0 AS (SELECT doc_id, source, text FROM documents),
      g AS (SELECT doc_id, source, text,
          regexp_split_to_array(trim(text), '\\s+') AS toks,
          string_split(text, chr(10)) AS lines
        FROM b0),
      gm AS (SELECT doc_id, source, text,
          CAST(len(toks) AS BIGINT) AS n_words,
          greatest(CAST(len(lines) AS BIGINT), 1) AS n_lines,
          CAST(list_sum(list_transform(toks, tk -> length(tk))) AS BIGINT)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS mean_word_len_ppm,
          CAST(len(list_filter(toks,
              tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) * 1000000
            // greatest(CAST(len(toks) AS BIGINT), 1) AS alpha_ppm,
          ((length(text) - length(replace(text, '#', ''))) +
           (length(text) - length(replace(text, '...', ''))) // 3)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS symbol_ppm,
          CAST(len(list_filter(lines, ln -> starts_with(ln, '- ')
              OR starts_with(ln, '* '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, ln -> ends_with(ln, '...')))
            AS BIGINT) AS n_ell,
          CAST(list_contains(toks, 'the') AS BIGINT)
            + CAST(list_contains(toks, 'be') AS BIGINT)
            + CAST(list_contains(toks, 'to') AS BIGINT)
            + CAST(list_contains(toks, 'of') AS BIGINT)
            + CAST(list_contains(toks, 'and') AS BIGINT)
            + CAST(list_contains(toks, 'that') AS BIGINT)
            + CAST(list_contains(toks, 'have') AS BIGINT)
            + CAST(list_contains(toks, 'with') AS BIGINT) AS stop_hits
        FROM g),
      d1 AS (SELECT doc_id, source, text FROM gm
        WHERE n_words >= 10 AND n_words <= 100000
          AND mean_word_len_ppm >= 3000000
          AND mean_word_len_ppm <= 10000000
          AND alpha_ppm >= 800000 AND symbol_ppm <= 100000
          AND n_bullet * 1000000 // n_lines <= 900000
          AND n_ell * 1000000 // n_lines <= 300000
          AND stop_hits >= 1),
      d2 AS (SELECT doc_id, source, text FROM (
          SELECT doc_id, source, text,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
          FROM d1) WHERE doc_id = keeper),
      ${ivfAssignCtes(2)},
      sr AS MATERIALIZED (SELECT ca.vec_id, ca.centroid_id, ca.v,
              row_number() OVER (PARTITION BY ca.centroid_id
                ORDER BY ${dotSql("ca.v", "c2.cv")} DESC, ca.vec_id)
                AS cell_rank
            FROM ca JOIN c2 USING (centroid_id)),
      ssz AS (SELECT centroid_id, count(*) AS n_cell
              FROM sr GROUP BY 1),
      srm AS (SELECT DISTINCT a.vec_id
             FROM sr a
             JOIN ssz ON ssz.centroid_id = a.centroid_id
             JOIN sr b ON b.centroid_id = a.centroid_id
                      AND b.cell_rank < a.cell_rank
             WHERE ssz.n_cell <= 4096
               AND ${dotSql("a.v", "b.v")} >= 0.3),
      ${QueryShared.semDedupSplitCtes("v4sd_", "sr", "ssz", eps = 0.3)},
      srmall AS (SELECT vec_id FROM srm
                 UNION SELECT vec_id FROM v4sd_rm),
      d3 AS (SELECT d2.doc_id, d2.source, d2.text FROM d2
             LEFT JOIN srmall ON srmall.vec_id = d2.doc_id
             WHERE srmall.vec_id IS NULL),
      tc AS (SELECT source AS cls, count(*) AS n
             FROM d3 WHERE source IS NOT NULL GROUP BY 1),
      tw AS (SELECT cls, n,
              CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt
             FROM tc),
      anc AS (SELECT n AS n0, wt AS w0 FROM tw
              ORDER BY wt * 1000000 // n DESC, n, wt, cls LIMIT 1),
      ppm AS (SELECT cls,
              CAST(CAST(wt AS HUGEINT) * n0 * 1000000
                   // (CAST(n AS HUGEINT) * w0) AS BIGINT) AS keep_ppm
              FROM tw CROSS JOIN anc),
      d4 AS (SELECT d3.doc_id, d3.source, d3.text
             FROM d3 JOIN ppm ON d3.source = ppm.cls
             WHERE (${hex60Sql("'temp' || CAST(doc_id AS VARCHAR)")}
                    % ${Sampling.Buckets}) < ppm.keep_ppm)
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) AS n_tokens FROM b0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'gopher_filter', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d2
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'semdedup_prune', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d3
      UNION ALL
      SELECT CAST(4 AS BIGINT), 'temp_mixture', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(len(regexp_split_to_array(trim(text),
               '\\s+'))), 0) AS BIGINT) FROM d4""",
    // winner = min (doc_id, pos) per md5 of the exact line bytes,
    // eligibility (>= 5 ws-tokens) a pure function of content;
    // re-assembly string_agg ORDER BY pos; COALESCE('') matches
    // Spark's array_join on an all-removed doc
    "text_line_dedup" -> """
      WITH l AS (SELECT doc_id, unnest(range(len(ls))) AS pos,
            unnest(ls) AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM documents)),
      e AS (SELECT doc_id, pos, line,
              len(regexp_split_to_array(trim(line), '\s+')) >= 5
                AS eligible,
              md5(line) AS h
            FROM l),
      w AS (SELECT h, doc_id AS wdoc, pos AS wpos FROM (
              SELECT h, doc_id, pos,
                     row_number() OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS rn
              FROM e WHERE eligible) WHERE rn = 1),
      k AS (SELECT e.doc_id, e.pos, e.line,
              (NOT e.eligible
               OR (e.doc_id = w.wdoc AND e.pos = w.wpos)) AS keep
            FROM e LEFT JOIN w ON e.h = w.h AND e.eligible)
      SELECT doc_id,
             COALESCE(string_agg(line, chr(10) ORDER BY pos)
               FILTER (WHERE keep), '') AS text_clean,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_removed
      FROM k GROUP BY 1""",
    // floor-log2 buckets via bin-length, triangular complementary
    // count, the zipfZSteps fixed-point log2, integer least squares
    // with floor division on both engines
    "vocab_zipf_bucket_fit" -> s"""
      WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text),
              '\\s+')) AS tok FROM documents),
      fr AS (SELECT CAST(length(bin(CAST(count(*) AS BIGINT)))
               AS BIGINT) AS b
             FROM tk GROUP BY tok),
      nb AS (SELECT b, CAST(count(*) AS BIGINT) AS nb
             FROM fr GROUP BY 1),
      cm AS (SELECT cur.b AS b, CAST(sum(hi.nb) AS BIGINT) AS cum
             FROM nb cur JOIN nb hi ON hi.b >= cur.b GROUP BY 1),
      ${log2fixCtes("z", "cm", "b", "cum")},
      pts AS (SELECT b, e * 1024 + f AS y FROM z10),
      ft AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(b) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(b*y) AS BIGINT) AS sxy,
               CAST(sum(b*b) AS BIGINT) AS sxx
             FROM pts),
      tt AS (SELECT CAST(sum(nb) AS BIGINT) AS n_types FROM nb),
      fd AS (SELECT n_types, n,
               (n*sxy - sx*sy) * 1000000 AS num,
               (n*sxx - sx*sx) * 1024 AS den
             FROM ft CROSS JOIN tt)
      SELECT n_types, n AS n_buckets,
             CASE WHEN den = 0 THEN NULL
                  ELSE (num - ((num % den) + den) % den) // den END
               AS zipf_slope_ppm
      FROM fd""",
    // octave buckets on doc ids, triangular cumulative pair, the
    // log2fixCtes chain on each coordinate, HUGEINT ppm numerator
    // with the subtract-mod floor division
    "corpus_heaps_fit" -> s"""
      WITH $ShinglesCte,
      occ AS (SELECT CAST(length(bin(doc_id + 1)) AS BIGINT) AS g,
                CAST(count(*) AS BIGINT) AS n_occ
              FROM sh GROUP BY 1),
      fs AS (SELECT shingle, min(doc_id) AS first_doc
             FROM sh GROUP BY 1),
      fr AS (SELECT CAST(length(bin(first_doc + 1)) AS BIGINT) AS g,
               CAST(count(*) AS BIGINT) AS n_new
             FROM fs GROUP BY 1),
      sp AS (SELECT occ.g, occ.n_occ, COALESCE(fr.n_new, 0) AS n_new
             FROM occ LEFT JOIN fr USING (g)),
      cu AS (SELECT cur.g AS g, CAST(sum(lo.n_occ) AS BIGINT) AS cum_occ,
               CAST(sum(lo.n_new) AS BIGINT) AS cum_types
             FROM sp cur JOIN sp lo ON lo.g <= cur.g GROUP BY 1),
      ${log2fixCtes("zx", "cu", "g, cum_types", "cum_occ")},
      px AS (SELECT g, cum_types, e * 1024 + f AS xc FROM zx10),
      ${log2fixCtes("zy", "px", "g, xc", "cum_types")},
      pt AS (SELECT g, xc AS x, e * 1024 + f AS y FROM zy10),
      ft AS (SELECT CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(x*x) AS BIGINT) AS sxx
             FROM pt),
      tt AS (SELECT CAST(sum(n_new) AS BIGINT) AS n_types FROM sp),
      fd AS (SELECT n_types, nn,
               CAST(nn*sxy - sx*sy AS HUGEINT) * 1000000 AS num,
               CAST(nn*sxx - sx*sx AS HUGEINT) AS den
             FROM ft CROSS JOIN tt)
      SELECT n_types, nn AS n_buckets,
             CASE WHEN den = 0 THEN NULL
                  ELSE CAST((num - ((num % den) + den) % den) // den
                       AS BIGINT) END
               AS heaps_beta_ppm
      FROM fd""",
    // prefix fingerprint is a GROUP key, not a similarity; keep the
    // longest member (doc id tiebreak) via one windowed argmax
    "dedup_prefix_truncation" -> """
      WITH t AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents),
      p AS (SELECT doc_id,
              md5(array_to_string(toks[1:20], ' ')) AS prefix_fp,
              CAST(len(toks) AS BIGINT) AS n_tokens
            FROM t WHERE len(toks) >= 20),
      g AS (SELECT prefix_fp, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(max(n_tokens) AS BIGINT) AS max_tokens,
              CAST(min(n_tokens) AS BIGINT) AS min_tokens
            FROM p GROUP BY 1 HAVING count(*) >= 2),
      k AS (SELECT prefix_fp, doc_id AS keep_doc FROM (
              SELECT prefix_fp, doc_id,
                     row_number() OVER (PARTITION BY prefix_fp
                       ORDER BY n_tokens DESC, doc_id) AS rn
              FROM p) WHERE rn = 1)
      SELECT g.prefix_fp, n_docs, keep_doc, max_tokens, min_tokens
      FROM g JOIN k USING (prefix_fp)""",
    // same hashed-bucket frame both sides; bits via the bin-length
    // floor-log2; the signed mean sign-split onto non-negative
    // floor-div (Spark div truncates, DuckDB // floors)
    "quality_dsir_weights" -> s"""
      WITH tok AS (SELECT doc_id, (lang = 'en') AS tgt,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
           FROM documents),
      tb AS (SELECT doc_id, tgt,
             ${hex60Sql("term")} % 1024 AS bucket FROM tok),
      bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tcnt
           FROM tb GROUP BY 1),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nr,
                     CAST(sum(tcnt) AS BIGINT) AS nt FROM bc),
      bits AS (SELECT bucket,
             CAST(length(bin((nr + 1024) // (cnt + 1))) AS BIGINT)
           - CAST(length(bin((nt + 1024) // (tcnt + 1))) AS BIGINT)
             AS dbits
           FROM bc CROSS JOIN tot),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(dbits) AS BIGINT) AS dsir_bits
           FROM tb JOIN bits USING (bucket) GROUP BY doc_id)
      SELECT doc_id, n_tokens, dsir_bits,
             CASE WHEN dsir_bits < 0
               THEN -((-dsir_bits) * 1000 // n_tokens)
               ELSE dsir_bits * 1000 // n_tokens END AS mean_millibits
      FROM agg""",
    // the dsir chain extended by the clamp + portable coin + source
    // rollup; signed means sign-split like the weights oracle
    "curate_dsir_resample" -> s"""
      WITH tok AS (SELECT doc_id, (lang = 'en') AS tgt,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
           FROM documents),
      tb AS (SELECT doc_id, tgt,
             ${hex60Sql("term")} % 1024 AS bucket FROM tok),
      bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tcnt
           FROM tb GROUP BY 1),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nr,
                     CAST(sum(tcnt) AS BIGINT) AS nt FROM bc),
      bits AS (SELECT bucket,
             CAST(length(bin((nr + 1024) // (cnt + 1))) AS BIGINT)
           - CAST(length(bin((nt + 1024) // (tcnt + 1))) AS BIGINT)
             AS dbits
           FROM bc CROSS JOIN tot),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(dbits) AS BIGINT) AS dsir_bits
           FROM tb JOIN bits USING (bucket) GROUP BY doc_id),
      w AS (SELECT doc_id, n_tokens, dsir_bits,
             CASE WHEN dsir_bits < 0
               THEN -((-dsir_bits) * 1000 // n_tokens)
               ELSE dsir_bits * 1000 // n_tokens END AS mean_millibits
           FROM agg),
      k AS (SELECT doc_id, n_tokens, dsir_bits,
             (${hex60Sql("'dsir:' || CAST(doc_id AS VARCHAR)")} % 1000000)
               < least(1000000, greatest(0, 500000 + mean_millibits * 200))
               AS keep
           FROM w),
      r AS (SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(k.n_tokens) AS BIGINT) AS tokens_before,
             CAST(sum(CASE WHEN keep THEN k.n_tokens ELSE 0 END)
               AS BIGINT) AS tokens_after,
             CAST(sum(k.dsir_bits) AS BIGINT) AS ba,
             CAST(sum(CASE WHEN keep THEN k.dsir_bits ELSE 0 END)
               AS BIGINT) AS bk
           FROM k JOIN documents d USING (doc_id) GROUP BY 1)
      SELECT source, n_docs, n_kept, tokens_before, tokens_after,
             n_kept * 1000000 // n_docs AS kept_ppm,
             CASE WHEN ba < 0 THEN -((-ba) * 1000 // tokens_before)
               ELSE ba * 1000 // tokens_before END AS mean_millibits_all,
             CASE WHEN tokens_after = 0 THEN 0
               WHEN bk < 0 THEN -((-bk) * 1000 // tokens_after)
               ELSE bk * 1000 // tokens_after END AS mean_millibits_kept
      FROM r""",
    // each artifact family's row count replayed from the raw tables:
    // card is one row by construction; the int8 index and the IVF
    // inverted list carry one row per corpus vector; the centroid
    // table carries exactly autoCentroids(n) rows (Lloyd never drops
    // a centroid — empty cells keep the previous mean); the standing
    // signature index carries one row per standing doc with >= one
    // 3-shingle; the shingle-set artifact is the distinct
    // (doc_id, shingle) count
    "artifact_manifest_report" -> s"""
      WITH nc_t AS (SELECT GREATEST(4, LEAST(4096,
                 CASE WHEN n <= 1 THEN 1
                      ELSE (CAST(1 AS BIGINT)
                            << CAST((length(bin(n - 1)) + 1) // 2 AS INTEGER))
                 END)) AS nc
               FROM (SELECT count(*) AS n FROM embeddings))
      SELECT 'corpus_card' AS artifact, 'embeddings' AS input_table,
             CAST(1 AS BIGINT) AS n_rows
      UNION ALL SELECT 'int8_index', 'embeddings',
             (SELECT count(*) FROM embeddings)
      UNION ALL SELECT 'ivf_centroids', 'embeddings',
             (SELECT CAST(nc AS BIGINT) FROM nc_t)
      UNION ALL SELECT 'ivf_corpus_cells', 'embeddings',
             (SELECT count(*) FROM embeddings)
      UNION ALL SELECT 'minhash_corpus_sigs', 'documents',
             (SELECT count(DISTINCT doc_id) FROM
               ${shingleSetSql(3, "doc_id % 10 <> 3", "doc_id")} s)
      UNION ALL SELECT 'shingle_sets', 'documents',
             (SELECT count(*) FROM
               ${shingleSetSql(3, "TRUE", "doc_id")} s)""",
    // first-carrier attribution via min(doc_id) per distinct shingle
    "corpus_novelty_curve" -> s"""
      WITH $ShinglesCte,
      f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT CAST(doc_id // 50 AS BIGINT) AS ingest_bucket,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
               AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
               AS novelty_ppm
      FROM sh JOIN f USING (shingle)
      GROUP BY 1""",
    // exact greedy first-fit replayed as a recursive walk per group;
    // the group count is derived from count(*) with the same integer
    // formula as Packing.autoGroups (~64 docs/group, power of two)
    "pack_sequences" ->
      packWalkSql("doc_id, n_tokens, pack_group, bin_id"),
    // efficiency replay: one aggregate over the same recursive walk
    // (bin identity as a joined string key — pack_group and bin_id
    // are both BIGINTs, ':' cannot collide)
    "pack_efficiency_report" -> s"""
      SELECT 'nextfit_512' AS method,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT pack_group || ':' || bin_id) AS BIGINT)
          AS n_bins,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(count(DISTINCT pack_group || ':' || bin_id) * 512
             AS BIGINT) AS capacity_tokens,
        CAST(sum(n_tokens) * 1000000
             // (count(DISTINCT pack_group || ':' || bin_id) * 512)
             AS BIGINT) AS fill_ppm
      FROM (${packWalkSql("doc_id, n_tokens, pack_group, bin_id")}) w""",
    "pack_with_positions" -> packWalkSql(
      "doc_id, n_tokens, pack_group, bin_id, fill - n_tokens AS seq_start"),
    // three walks over the same groups: two scalar next-fit walks
    // (id order vs n_tokens desc) and the FFD walk whose recursion
    // carries the open-bin fill LIST as state — every fill number
    // replays exactly
    "pack_ffd_report" -> {
      def agg(method: String, walk: String) = s"""
        SELECT '$method' AS method,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT pack_group || ':' || bin_id) AS BIGINT)
            AS n_bins,
          CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          CAST(sum(n_tokens) * 1000000
               // (count(DISTINCT pack_group || ':' || bin_id) * 512)
               AS BIGINT) AS fill_ppm
        FROM ($walk) w"""
      s"""${agg("nextfit_512",
          packWalkSql("doc_id, n_tokens, pack_group, bin_id"))}
        UNION ALL
        ${agg("nfd_512", packWalkSql(
          "doc_id, n_tokens, pack_group, bin_id",
          "n_tokens DESC, doc_id"))}
        UNION ALL
        ${agg("ffd_512", packFfdWalkSql(
          "doc_id, n_tokens, pack_group, bin_id"))}"""
    },
    "contamination_check" -> s"""
      WITH shA AS ${shingleSetSql(13, "doc_id % 20 <> 0", "train_id")},
      hA AS (SELECT train_id, ${hex60Sql("shingle")} AS h FROM shA),
      hot AS (SELECT h FROM hA GROUP BY h HAVING count(*) > 500),
      hA2 AS (SELECT train_id, h FROM hA
              WHERE h NOT IN (SELECT h FROM hot)),
      shB AS ${shingleSetSql(13, "doc_id % 20 = 0", "test_id")},
      hB AS (SELECT test_id, ${hex60Sql("shingle")} AS h FROM shB)
      SELECT train_id, test_id, count(*) AS n_shared_shingles
      FROM hA2 JOIN hB USING (h) GROUP BY 1, 2""",
    // contamination REMOVAL: the overlap oracle's CTEs re-used, then
    // the cleaned train corpus summarized per source
    "decontaminate_corpus" -> s"""
      WITH shA AS ${shingleSetSql(13, "doc_id % 20 <> 0", "train_id")},
      hA AS (SELECT train_id, ${hex60Sql("shingle")} AS h FROM shA),
      hot AS (SELECT h FROM hA GROUP BY h HAVING count(*) > 500),
      hA2 AS (SELECT train_id, h FROM hA
              WHERE h NOT IN (SELECT h FROM hot)),
      shB AS ${shingleSetSql(13, "doc_id % 20 = 0", "test_id")},
      hB AS (SELECT test_id, ${hex60Sql("shingle")} AS h FROM shB),
      ov AS (SELECT train_id, test_id, count(*) AS n_shared
             FROM hA2 JOIN hB USING (h) GROUP BY 1, 2),
      bad AS (SELECT DISTINCT train_id FROM ov WHERE n_shared >= 5)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
               AS BIGINT) AS n_tokens
      FROM documents
      WHERE doc_id % 20 <> 0
        AND doc_id NOT IN (SELECT train_id FROM bad)
      GROUP BY source""",
    // the composed v2 flagship: every stage's oracle fragment reused
    // in sequence — C4 CTEs, md5 exact-dedup, the recursive cluster
    // walk, 13-gram decontamination over the CURATED train slice (hot
    // shingle df computed on the same slice the Spark side uses), then
    // the quality-scored budget cumsum (chain shared with the funnel
    // audit below via QueryShared.curationV2Ctes)
    "corpus_curation_v2" -> s"""
      $curationV2Ctes
      SELECT source, doc_id, n_tokens, cum_tokens
      FROM sel WHERE cum_tokens <= 500""",
    // funnel replay: one count per stage CTE of the same chain
    "corpus_curation_funnel" -> s"""
      $curationV2Ctes
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
             CAST((SELECT count(*) FROM base) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'c4_filter',
             CAST((SELECT count(*) FROM c4) AS BIGINT)
      UNION ALL SELECT 2, 'exact_dedup',
             CAST((SELECT count(*) FROM ex) AS BIGINT)
      UNION ALL SELECT 3, 'neardup_reps',
             CAST((SELECT count(*) FROM corpus) AS BIGINT)
      UNION ALL SELECT 4, 'decontam',
             CAST((SELECT count(*) FROM clean) AS BIGINT)
      UNION ALL SELECT 5, 'budget_select',
             CAST((SELECT count(*) FROM sel WHERE cum_tokens <= 500)
                  AS BIGINT)""",
    // same quality-score arithmetic as text_quality_score, ranked per
    // source under the heap aggregate's total order (score desc, id)
    "curate_topk_per_source" -> s"""
      WITH t AS (SELECT doc_id, source, text,
          ' ' || lower(text) || ' ' AS p FROM documents),
      m AS (SELECT doc_id, source,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t),
      q AS (SELECT doc_id, source,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS quality_score
        FROM m)
      SELECT source, doc_id, quality_score,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank
      FROM q WHERE NOT isnan(quality_score) QUALIFY rank <= 5""",
    // same quality CTEs, then a strict-prefix cumsum under the same
    // (quality desc, doc_id) total order, kept while <= budget
    "curate_token_budget" -> s"""
      WITH t AS (SELECT doc_id, source, text,
          ' ' || lower(text) || ' ' AS p FROM documents),
      m AS (SELECT doc_id, source,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t),
      q AS (SELECT doc_id, source, n_tokens,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS quality_score
        FROM m),
      c AS (SELECT source, doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY quality_score DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM q WHERE NOT isnan(quality_score))
      SELECT source, doc_id, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= 500""",
    // same quality CTEs, hash shard, per-shard quality order
    "sink_curriculum_shards" -> s"""
      WITH t AS (SELECT doc_id, text,
          ' ' || lower(text) || ' ' AS p FROM documents),
      m AS (SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t),
      q AS (SELECT doc_id,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS quality_score
        FROM m),
      sh2 AS (SELECT doc_id, quality_score,
          (${hex60Sql("'shard' || CAST(doc_id AS VARCHAR)")}
             % ${Sampling.Buckets}) % 8 AS shard
        FROM q WHERE NOT isnan(quality_score))
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY quality_score DESC, doc_id) AS BIGINT) AS position,
             doc_id
      FROM sh2""",
    // bigram counts (same split as vocab_top_bigrams), per-first-word
    // totals + rank, integer-ppm conditionals
    "vocab_bigram_conditionals" -> """
      WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
          i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
        FROM tok WHERE len(toks) >= 2),
      cnt AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n,
          split_part(bigram, ' ', 1) AS w1,
          split_part(bigram, ' ', 2) AS w2
        FROM bg GROUP BY 1),
      ranked AS (SELECT w1, w2, n,
          CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS total,
          CAST(row_number() OVER (PARTITION BY w1
            ORDER BY n DESC, w2) AS BIGINT) AS rank
        FROM cnt)
      SELECT w1, w2, n, total,
        CAST(n * 1000000 // total AS BIGINT) AS cond_ppm, rank
      FROM ranked WHERE total >= 10 AND rank <= 3""",
    // zipped unnests replay the non-overlapping 8-word chunking; the
    // keep-first min runs over the SAME hex60 hash groups as Spark (a
    // 60-bit collision would merge identically on both engines)
    "dedup_repeated_segments" -> s"""
      WITH tok AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      seg AS (SELECT doc_id,
          unnest(range((len(toks) + 7) // 8)) AS seg_idx,
          unnest(list_transform(range((len(toks) + 7) // 8),
            i -> array_to_string(toks[i*8+1 : i*8+8], ' '))) AS seg
        FROM tok),
      k AS (SELECT doc_id, seg_idx, seg,
          (doc_id * ${Corpus.SegStride} + seg_idx)
            = min(doc_id * ${Corpus.SegStride} + seg_idx)
                OVER (PARTITION BY ${hex60Sql("seg")}) AS keep
        FROM seg)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        md5(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep))
          AS dedup_md5
      FROM k GROUP BY doc_id""",
    // zipped unnests replay the 64-token chunking; per-chunk token
    // count is recomputed from the chunk text exactly like Spark
    "chunk_documents" -> """
      WITH tok AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      seg AS (SELECT doc_id,
          unnest(range((len(toks) + 63) // 64)) AS chunk_idx,
          unnest(list_transform(range((len(toks) + 63) // 64),
            i -> array_to_string(toks[i*64+1 : i*64+64], ' '))) AS seg
        FROM tok)
      SELECT doc_id, chunk_idx,
        CAST(len(regexp_split_to_array(trim(seg), '\s+')) AS BIGINT)
          AS n_tokens,
        md5(seg) AS chunk_md5
      FROM seg""",
    // same frequency-level histogram walk: a level contributes
    // min(n_types, max(0, k - types_above)) of its types — exact
    // across ties, integer floor-div ppm
    "vocab_coverage_report" -> """
      WITH tf AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
          AS term FROM documents),
      c AS (SELECT term, CAST(count(*) AS BIGINT) AS occ
            FROM tf GROUP BY 1),
      lvl AS (SELECT occ, CAST(count(*) AS BIGINT) AS n_types
              FROM c GROUP BY 1),
      cum AS (SELECT occ, n_types,
          CAST(sum(n_types) OVER (ORDER BY occ DESC) AS BIGINT)
            AS cum_types
        FROM lvl),
      sz AS (SELECT unnest([16, 64, 256]) AS vocab_size),
      cover AS (SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
          CAST(sum(least(n_types, greatest(0,
            vocab_size - (cum_types - n_types)))) AS BIGINT)
            AS n_types_used,
          CAST(sum(occ * least(n_types, greatest(0,
            vocab_size - (cum_types - n_types)))) AS BIGINT)
            AS covered_occ
        FROM sz CROSS JOIN cum GROUP BY 1),
      tot AS (SELECT CAST(sum(occ) AS BIGINT) AS total_occ FROM c)
      SELECT vocab_size, n_types_used, covered_occ, total_occ,
             covered_occ * 1000000 // total_occ AS coverage_ppm,
             1000000 - covered_occ * 1000000 // total_occ AS oov_ppm
      FROM cover, tot""",
    // strided variant of the chunk_documents replay: window k covers
    // toks[k*48+1 : k*48+64]; chunk count 1 + ceil(max(0, n-64)/48)
    "chunk_documents_overlap" -> """
      WITH tok AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      n AS (SELECT doc_id, toks,
          1 + (greatest(0, len(toks) - 64) + 47) // 48 AS n_chunks
        FROM tok),
      seg AS (SELECT doc_id,
          unnest(range(n_chunks)) AS chunk_idx,
          unnest(list_transform(range(n_chunks),
            i -> array_to_string(toks[i*48+1 : i*48+64], ' '))) AS seg
        FROM n)
      SELECT doc_id, chunk_idx, CAST(chunk_idx * 48 AS BIGINT)
          AS start_token,
        CAST(len(regexp_split_to_array(trim(seg), '\s+')) AS BIGINT)
          AS n_tokens,
        md5(seg) AS chunk_md5
      FROM seg""",
    // the surprisal oracle's per-doc frame joined to source, then the
    // winsorize-style nearest-rank tercile walk over per-source
    // (mean_bits_ppm, count) histograms; shares integer floor-div
    "corpus_surprisal_buckets" -> """
      WITH tok AS (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\s+'))
                       AS term FROM documents),
      v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
            FROM tok GROUP BY 1),
      tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v),
      bb AS (SELECT term, CAST(length(bin(n_total // cnt)) AS BIGINT)
               AS bits
             FROM v CROSS JOIN tt),
      sur AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(bits) AS BIGINT) * 1000000
                  // CAST(count(*) AS BIGINT) AS mean_bits_ppm
              FROM tok JOIN bb USING (term) GROUP BY doc_id),
      s AS (SELECT sur.doc_id, d.source, sur.n_tokens, sur.mean_bits_ppm
            FROM sur JOIN documents d USING (doc_id)),
      hist AS (SELECT source, mean_bits_ppm,
                 CAST(count(*) AS BIGINT) AS c
               FROM s GROUP BY 1, 2),
      cum AS (SELECT source, mean_bits_ppm,
          CAST(sum(c) OVER (PARTITION BY source ORDER BY mean_bits_ppm)
            AS BIGINT) AS cum,
          CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM hist),
      bd AS (SELECT source,
          min(CASE WHEN cum >= (n + 2) // 3
              THEN mean_bits_ppm END) AS t1,
          min(CASE WHEN cum >= (2 * n + 2) // 3
              THEN mean_bits_ppm END) AS t2
        FROM cum GROUP BY 1),
      bk AS (SELECT s.source,
               CASE WHEN s.mean_bits_ppm <= bd.t1 THEN 'head'
                    WHEN s.mean_bits_ppm <= bd.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               s.n_tokens
             FROM s JOIN bd USING (source)),
      per AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens
              FROM bk GROUP BY 1, 2)
      SELECT source, bucket, n_docs, n_tokens,
             n_docs * 1000000 //
               CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
               AS docs_share_ppm
      FROM per""",
    // bin = number of binary digits of the term count (floor(log2)+1):
    // Spark length(bin(x)) == DuckDB length(bin(x)) for x >= 1
    "vocab_freq_histogram" -> """
      WITH tf AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
          AS term FROM documents),
      c AS (SELECT term, count(*) AS occ FROM tf GROUP BY 1)
      SELECT CAST(length(bin(occ)) AS BIGINT) AS df_bucket,
        CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(occ) AS BIGINT) AS n_occurrences
      FROM c GROUP BY 1""",
    // the ensemble replays BOTH filter families' keep conjunctions
    // plus the stopword-argmax language decision over one shared doc
    // CTE, then the 8-cell matrix; share_ppm's denominator is the
    // matrix's own sum — integer floor-div both sides
    "text_filter_ensemble" -> s"""
      WITH t AS (SELECT doc_id, text,
          regexp_split_to_array(trim(text), '\\s+') AS toks,
          string_split(text, chr(10)) AS lines,
          ' ' || lower(text) || ' ' AS p
        FROM documents),
      c4 AS (SELECT doc_id,
          (CAST(len(toks) AS BIGINT) >= 10
           AND (contains(p, ' the ') OR contains(p, ' a '))
           AND CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
               // CAST(len(toks) AS BIGINT) >= 300000
           AND NOT contains(lower(text), '{')
           AND NOT contains(lower(text), 'lorem ipsum')) AS c4_keep
        FROM t),
      gm AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          greatest(CAST(len(lines) AS BIGINT), 1) AS n_lines,
          CAST(list_sum(list_transform(toks, tk -> length(tk))) AS BIGINT)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS mean_word_len_ppm,
          CAST(len(list_filter(toks,
              tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) * 1000000
            // greatest(CAST(len(toks) AS BIGINT), 1) AS alpha_ppm,
          ((length(text) - length(replace(text, '#', ''))) +
           (length(text) - length(replace(text, '...', ''))) // 3)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS symbol_ppm,
          CAST(len(list_filter(lines, l -> starts_with(l, '- ')
              OR starts_with(l, '* '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l -> ends_with(l, '...')))
            AS BIGINT) AS n_ell,
          CAST(list_contains(toks, 'the') AS BIGINT)
            + CAST(list_contains(toks, 'be') AS BIGINT)
            + CAST(list_contains(toks, 'to') AS BIGINT)
            + CAST(list_contains(toks, 'of') AS BIGINT)
            + CAST(list_contains(toks, 'and') AS BIGINT)
            + CAST(list_contains(toks, 'that') AS BIGINT)
            + CAST(list_contains(toks, 'have') AS BIGINT)
            + CAST(list_contains(toks, 'with') AS BIGINT) AS stop_hits
        FROM t),
      g AS (SELECT doc_id,
          (n_words >= 10 AND n_words <= 100000
           AND mean_word_len_ppm >= 3000000
           AND mean_word_len_ppm <= 10000000
           AND alpha_ppm >= 800000 AND symbol_ppm <= 100000
           AND n_bullet * 1000000 // n_lines <= 900000
           AND n_ell * 1000000 // n_lines <= 300000
           AND stop_hits >= 2) AS gopher_keep
        FROM gm),
      lang AS (SELECT doc_id,
          (${scoreSql("en")} >= ${scoreSql("es")}
           AND ${scoreSql("en")} >= ${scoreSql("de")}
           AND ${scoreSql("en")} >= ${scoreSql("fr")}) AS lang_en
        FROM t),
      cells AS (SELECT c4_keep, gopher_keep, lang_en,
            CAST(count(*) AS BIGINT) AS n_docs
          FROM c4 JOIN g USING (doc_id) JOIN lang USING (doc_id)
          GROUP BY 1, 2, 3)
      SELECT c4_keep, gopher_keep, lang_en, n_docs,
             CAST(n_docs * 1000000
               // (SELECT CAST(sum(n_docs) AS BIGINT) FROM cells)
               AS BIGINT) AS share_ppm
      FROM cells""",
    // the mixture oracle's CTE chain extended with the plan
    // arithmetic: uniform target (2 x total effective mass over
    // |sources|), HUGEINT epoch product (the pmi discipline), 4e6 ppm
    // cap, floor-div planned mass, clamped shortfall
    "curate_epoch_plan" -> s"""
      WITH RECURSIVE
      ${clustersCtes("SELECT doc_id, text FROM documents")},
      comp AS (SELECT node AS doc_id, min(lbl) AS component
               FROM walk GROUP BY node),
      d AS (SELECT doc_id, source,
              CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                AS BIGINT) AS n_tok
            FROM documents),
      j AS (SELECT d.source, d.n_tok,
              (c.component <> d.doc_id) AS red
            FROM d JOIN comp c USING (doc_id)),
      per AS (SELECT source,
                CAST(sum(CASE WHEN red THEN 0 ELSE n_tok END) AS BIGINT)
                  AS eff_tokens
              FROM j GROUP BY 1),
      t2 AS (SELECT CAST(sum(eff_tokens) AS BIGINT) AS te,
               CAST(count(*) AS BIGINT) AS ns FROM per),
      pl AS (SELECT source, eff_tokens,
               (te * 2) // ns AS target_tokens,
               CASE WHEN eff_tokens = 0 THEN 0
                    ELSE CAST(CAST((te * 2) // ns AS HUGEINT) * 1000000
                              // eff_tokens AS BIGINT)
               END AS epochs_ppm_raw
             FROM per CROSS JOIN t2),
      ep AS (SELECT source, eff_tokens, target_tokens,
               least(epochs_ppm_raw, 4000000) AS epochs_ppm,
               epochs_ppm_raw > 4000000 AS capped,
               CAST(CAST(eff_tokens AS HUGEINT)
                    * least(epochs_ppm_raw, 4000000) // 1000000
                 AS BIGINT) AS planned_tokens
             FROM pl)
      SELECT source, eff_tokens, target_tokens, epochs_ppm, capped,
             planned_tokens,
             greatest(0, target_tokens - planned_tokens)
               AS shortfall_tokens
      FROM ep""",
    // the clusters replay (recursive label walk) feeding a per-source
    // redundancy rollup; a doc is redundant when its component label
    // is not its own id (the keep-representative rule); weights are
    // exact integer floor-div ppm over the report's own totals
    "curate_dedup_adjusted_mixture" -> s"""
      WITH RECURSIVE
      ${clustersCtes("SELECT doc_id, text FROM documents")},
      comp AS (SELECT node AS doc_id, min(lbl) AS component
               FROM walk GROUP BY node),
      d AS (SELECT doc_id, source,
              CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                AS BIGINT) AS n_tok
            FROM documents),
      j AS (SELECT d.source, d.n_tok,
              (c.component <> d.doc_id) AS red
            FROM d JOIN comp c USING (doc_id)),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CAST(red AS BIGINT)) AS BIGINT) AS n_redundant,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN red THEN 0 ELSE n_tok END) AS BIGINT)
                  AS eff_tokens
              FROM j GROUP BY 1),
      t2 AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
               CAST(sum(eff_tokens) AS BIGINT) AS te FROM per)
      SELECT source, n_docs, n_redundant, n_tokens, eff_tokens,
             n_tokens * 1000000 // tt AS naive_weight_ppm,
             eff_tokens * 1000000 // te AS adjusted_weight_ppm
      FROM per CROSS JOIN t2""",
    // the clusters replay again, crossed with the score-bucket
    // arithmetic of the calibration oracle; shares floor-div over the
    // report's own totals
    "quality_dedup_bias_report" -> s"""
      WITH RECURSIVE
      ${clustersCtes("SELECT doc_id, text FROM documents")},
      comp AS (SELECT node AS doc_id, min(lbl) AS component
               FROM walk GROUP BY node),
      t2 AS (SELECT doc_id, text,
          ' ' || lower(text) || ' ' AS p FROM documents),
      m AS (SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tokens,
          length(text)
            - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t2),
      q AS (SELECT doc_id,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS quality_score
        FROM m),
      qb AS (SELECT doc_id,
          least(4, CAST(floor(quality_score * 5.0) AS BIGINT))
            AS score_bucket
        FROM q WHERE NOT isnan(quality_score)),
      cell AS (SELECT score_bucket,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN c.component <> qb.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed
        FROM qb JOIN comp c USING (doc_id) GROUP BY 1),
      t3 AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
               CAST(sum(n_removed) AS BIGINT) AS tr FROM cell)
      SELECT score_bucket, n_docs, n_removed,
             n_removed * 1000000 // n_docs AS removed_ppm,
             CASE WHEN tr = 0 THEN 0
               ELSE n_removed * 1000000 // tr END AS removal_share_ppm,
             n_docs * 1000000 // td AS bucket_share_ppm
      FROM cell CROSS JOIN t3""",
    // score-vs-rules calibration: the quality-score formula (the
    // text_quality_score oracle's arithmetic — pure IEEE, exact both
    // engines) bucketed to quintiles against the two keep
    // conjunctions, over one shared doc CTE; denominator from the
    // matrix itself
    "quality_calibration_report" -> s"""
      WITH t AS (SELECT doc_id, text,
          regexp_split_to_array(trim(text), '\\s+') AS toks,
          string_split(text, chr(10)) AS lines,
          ' ' || lower(text) || ' ' AS p
        FROM documents),
      c4 AS (SELECT doc_id,
          (CAST(len(toks) AS BIGINT) >= 10
           AND (contains(p, ' the ') OR contains(p, ' a '))
           AND CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
               // CAST(len(toks) AS BIGINT) >= 300000
           AND NOT contains(lower(text), '{')
           AND NOT contains(lower(text), 'lorem ipsum')) AS c4_keep
        FROM t),
      gm AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          greatest(CAST(len(lines) AS BIGINT), 1) AS n_lines,
          CAST(list_sum(list_transform(toks, tk -> length(tk))) AS BIGINT)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS mean_word_len_ppm,
          CAST(len(list_filter(toks,
              tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) * 1000000
            // greatest(CAST(len(toks) AS BIGINT), 1) AS alpha_ppm,
          ((length(text) - length(replace(text, '#', ''))) +
           (length(text) - length(replace(text, '...', ''))) // 3)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS symbol_ppm,
          CAST(len(list_filter(lines, l -> starts_with(l, '- ')
              OR starts_with(l, '* '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l -> ends_with(l, '...')))
            AS BIGINT) AS n_ell,
          CAST(list_contains(toks, 'the') AS BIGINT)
            + CAST(list_contains(toks, 'be') AS BIGINT)
            + CAST(list_contains(toks, 'to') AS BIGINT)
            + CAST(list_contains(toks, 'of') AS BIGINT)
            + CAST(list_contains(toks, 'and') AS BIGINT)
            + CAST(list_contains(toks, 'that') AS BIGINT)
            + CAST(list_contains(toks, 'have') AS BIGINT)
            + CAST(list_contains(toks, 'with') AS BIGINT) AS stop_hits
        FROM t),
      g AS (SELECT doc_id,
          (n_words >= 10 AND n_words <= 100000
           AND mean_word_len_ppm >= 3000000
           AND mean_word_len_ppm <= 10000000
           AND alpha_ppm >= 800000 AND symbol_ppm <= 100000
           AND n_bullet * 1000000 // n_lines <= 900000
           AND n_ell * 1000000 // n_lines <= 300000
           AND stop_hits >= 2) AS gopher_keep
        FROM gm),
      sc AS (SELECT doc_id,
          least(1.0, CAST(len(toks) AS BIGINT) / 50.0) * 0.4
            + least(1.0, (${scoreSql("en")} * 1.0
                / CAST(len(toks) AS BIGINT)) * 5.0) * 0.3
            + (1.0 - least(1.0,
                ((length(text) - length(regexp_replace(text,
                    '[^A-Za-z0-9 ]', '', 'g')))
                  * 1.0 / CAST(length(text) AS BIGINT)) * 10.0)) * 0.3
            AS qs
        FROM t),
      cells AS (SELECT
            least(CAST(4 AS BIGINT), CAST(floor(qs * 5.0) AS BIGINT))
              AS score_bucket,
            c4_keep, gopher_keep, CAST(count(*) AS BIGINT) AS n_docs
          FROM sc JOIN c4 USING (doc_id) JOIN g USING (doc_id)
          WHERE NOT isnan(qs)
          GROUP BY 1, 2, 3)
      SELECT score_bucket, c4_keep, gopher_keep, n_docs,
             CAST(n_docs * 1000000
               // (SELECT CAST(sum(n_docs) AS BIGINT) FROM cells)
               AS BIGINT) AS share_ppm
      FROM cells""",
    // same score arithmetic, 32-bucket histogram on a dense
    // source x bucket spine, integer-ppm CDFs, max |cdf_a - cdf_b|
    // per unordered pair — BIGINT casts on every windowed SUM
    "quality_ks_drift_report" -> s"""
      WITH t AS (SELECT doc_id, source, text,
          ' ' || lower(text) || ' ' AS p FROM documents),
      m AS (SELECT doc_id, source,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t),
      q AS (SELECT doc_id, source,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS quality_score
        FROM m),
      h AS (SELECT source,
          least(31, CAST(floor(quality_score * 32) AS BIGINT)) AS bucket,
          CAST(count(*) AS BIGINT) AS n_bucket
        FROM q WHERE NOT isnan(quality_score) GROUP BY 1, 2),
      spine AS (SELECT source, b AS bucket
        FROM (SELECT DISTINCT source FROM h)
        CROSS JOIN (SELECT unnest(range(32)) AS b)),
      cd AS (SELECT spine.source, spine.bucket,
          CAST(sum(coalesce(h.n_bucket, 0)) OVER (
            PARTITION BY spine.source ORDER BY spine.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          CAST(sum(coalesce(h.n_bucket, 0)) OVER (
            PARTITION BY spine.source) AS BIGINT) AS n_src
        FROM spine LEFT JOIN h USING (source, bucket)),
      cdf AS (SELECT source, bucket, cum * 1000000 // n_src AS cdf_ppm,
                     n_src
              FROM cd)
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(a.n_src AS BIGINT) AS n_a,
             CAST(b.n_src AS BIGINT) AS n_b,
             CAST(max(abs(a.cdf_ppm - b.cdf_ppm)) AS BIGINT) AS ks_ppm
      FROM cdf a JOIN cdf b
        ON a.bucket = b.bucket AND a.source < b.source
      GROUP BY 1, 2, 3, 4""",
    // n_words >= 1 always (trim of a non-empty doc splits to >= 1
    // token), so the integer floor-div cannot hit zero
    "text_c4_filter" -> """
      WITH t AS (SELECT doc_id, text,
          regexp_split_to_array(trim(text), '\s+') AS toks,
          ' ' || lower(text) || ' ' AS p
        FROM documents),
      m AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
            // CAST(len(toks) AS BIGINT) AS distinct_ppm,
          (contains(p, ' the ') OR contains(p, ' a ')) AS has_stopword,
          NOT contains(lower(text), '{') AS no_brace,
          NOT contains(lower(text), 'lorem ipsum') AS no_lorem
        FROM t)
      SELECT doc_id, n_words, distinct_ppm,
        n_words >= 10 AS min_words, has_stopword,
        distinct_ppm >= 300000 AS diverse, no_brace, no_lorem,
        (n_words >= 10 AND has_stopword AND distinct_ppm >= 300000
          AND no_brace AND no_lorem) AS keep
      FROM m""",
    // Gopher shape rules: every metric an integer-ppm floor-div over
    // the same token/line splits Spark uses; stopword hits are exact
    // token membership (list_contains), not substring
    "text_gopher_filter" -> """
      WITH t AS (SELECT doc_id, text,
          regexp_split_to_array(trim(text), '\s+') AS toks,
          string_split(text, chr(10)) AS lines
        FROM documents),
      m AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_words,
          greatest(CAST(len(lines) AS BIGINT), 1) AS n_lines,
          CAST(list_sum(list_transform(toks, tk -> length(tk))) AS BIGINT)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS mean_word_len_ppm,
          CAST(len(list_filter(toks,
              tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) * 1000000
            // greatest(CAST(len(toks) AS BIGINT), 1) AS alpha_ppm,
          ((length(text) - length(replace(text, '#', ''))) +
           (length(text) - length(replace(text, '...', ''))) // 3)
            * 1000000 // greatest(CAST(len(toks) AS BIGINT), 1)
            AS symbol_ppm,
          CAST(len(list_filter(lines, l -> starts_with(l, '- ')
              OR starts_with(l, '* '))) AS BIGINT) AS n_bullet,
          CAST(len(list_filter(lines, l -> ends_with(l, '...')))
            AS BIGINT) AS n_ell,
          CAST(list_contains(toks, 'the') AS BIGINT)
            + CAST(list_contains(toks, 'be') AS BIGINT)
            + CAST(list_contains(toks, 'to') AS BIGINT)
            + CAST(list_contains(toks, 'of') AS BIGINT)
            + CAST(list_contains(toks, 'and') AS BIGINT)
            + CAST(list_contains(toks, 'that') AS BIGINT)
            + CAST(list_contains(toks, 'have') AS BIGINT)
            + CAST(list_contains(toks, 'with') AS BIGINT) AS stop_hits
        FROM t)
      SELECT doc_id, n_words, mean_word_len_ppm, alpha_ppm, symbol_ppm,
        n_bullet * 1000000 // n_lines AS bullet_line_ppm,
        n_ell * 1000000 // n_lines AS ellipsis_line_ppm,
        stop_hits,
        (n_words >= 10 AND n_words <= 100000) AS word_count_ok,
        (mean_word_len_ppm >= 3000000 AND mean_word_len_ppm <= 10000000)
          AS word_len_ok,
        alpha_ppm >= 800000 AS mostly_alpha,
        symbol_ppm <= 100000 AS low_symbol,
        n_bullet * 1000000 // n_lines <= 900000 AS few_bullets,
        n_ell * 1000000 // n_lines <= 300000 AS few_ellipsis,
        stop_hits >= 2 AS enough_stopwords,
        (n_words >= 10 AND n_words <= 100000
         AND mean_word_len_ppm >= 3000000 AND mean_word_len_ppm <= 10000000
         AND alpha_ppm >= 800000 AND symbol_ppm <= 100000
         AND n_bullet * 1000000 // n_lines <= 900000
         AND n_ell * 1000000 // n_lines <= 300000
         AND stop_hits >= 2) AS keep
      FROM m""",
    // familiarity joins on the SAME hex60 hash groups as Spark (a
    // 60-bit collision would merge counts identically on both engines)
    "text_bigram_familiarity" -> s"""
      WITH tok AS (SELECT doc_id,
          regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      big AS (SELECT doc_id, ${hex60Sql("bigram")} AS h FROM (
          SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
              i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
          FROM tok WHERE len(toks) >= 2)),
      fam AS (SELECT h FROM big GROUP BY h HAVING count(*) >= 5),
      sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
                    count(f.h) AS n_familiar
             FROM big b LEFT JOIN fam f USING (h) GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(coalesce(n_familiar, 0) AS BIGINT) AS n_familiar,
             CAST(CASE WHEN coalesce(n_bigrams, 0) > 0
                  THEN n_familiar * 1000000 // n_bigrams
                  ELSE 0 END AS BIGINT) AS familiar_ppm
      FROM documents d LEFT JOIN sc USING (doc_id)""",
    "vocab_top_bigrams" -> """
      WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
          i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
        FROM tok WHERE len(toks) >= 2)
      SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg
      GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50""",
    // distinct bigram types once, left/right distinct-context counts,
    // 1-row type total for the exact-ppm continuation probability
    "vocab_kn_continuation" -> """
      WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      un AS (SELECT unnest(toks) AS token FROM tok),
      uni AS (SELECT token, CAST(count(*) AS BIGINT) AS n_unigram
              FROM un GROUP BY 1),
      bgt AS (SELECT DISTINCT
          unnest(list_transform(range(len(toks) - 1), i -> toks[i+1])) AS w1,
          unnest(list_transform(range(len(toks) - 1), i -> toks[i+2])) AS w2
        FROM tok WHERE len(toks) >= 2),
      lc AS (SELECT w2 AS token, CAST(count(*) AS BIGINT)
               AS n_left_contexts FROM bgt GROUP BY 1),
      rc AS (SELECT w1 AS token, CAST(count(*) AS BIGINT)
               AS n_right_continuations FROM bgt GROUP BY 1),
      tt AS (SELECT count(*) AS t FROM bgt)
      SELECT uni.token, uni.n_unigram,
             coalesce(lc.n_left_contexts, 0) AS n_left_contexts,
             coalesce(rc.n_right_continuations, 0)
               AS n_right_continuations,
             CAST(coalesce(lc.n_left_contexts, 0) * 1000000 // tt.t
               AS BIGINT) AS cont_ppm
      FROM uni LEFT JOIN lc USING (token) LEFT JOIN rc USING (token)
      CROSS JOIN tt""",
    // same (occ desc, term) total order pins the vocab set; per-source
    // rollup via a left join against it
    "vocab_oov_by_source" -> """
      WITH tok AS (SELECT source,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        FROM documents),
      v AS (SELECT term, 1 AS in_vocab
        FROM (SELECT term, count(*) AS occ FROM tok GROUP BY 1)
        ORDER BY occ DESC, term LIMIT 64)
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_oov,
             CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
               * 1000000 // count(*) AS BIGINT) AS oov_ppm
      FROM tok LEFT JOIN v USING (term)
      GROUP BY 1""",
    // the card's five signals replayed from their own proven twins:
    // c4 CTE (text_c4_filter), 4-lang stopword argmax (text_lang_id),
    // score arithmetic (text_quality_score), normalized-content md5
    // (text_fingerprint) counted corpus-wide for the dup share
    "curate_dataset_card" -> s"""
      WITH t AS (SELECT doc_id, source, text,
          regexp_split_to_array(trim(text), '\\s+') AS toks,
          ' ' || lower(text) || ' ' AS p FROM documents),
      c4 AS (SELECT doc_id,
          (CAST(len(toks) AS BIGINT) >= 10
           AND (contains(p, ' the ') OR contains(p, ' a '))
           AND CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
               // CAST(len(toks) AS BIGINT) >= 300000
           AND NOT contains(lower(text), '{')
           AND NOT contains(lower(text), 'lorem ipsum')) AS c4_keep
        FROM t),
      l AS (SELECT doc_id,
              ${scoreSql("en")} AS c_en, ${scoreSql("es")} AS c_es,
              ${scoreSql("de")} AS c_de, ${scoreSql("fr")} AS c_fr
            FROM t),
      le AS (SELECT doc_id,
              (c_en >= c_es AND c_en >= c_de AND c_en >= c_fr) AS lang_en
             FROM l),
      m AS (SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t),
      q AS (SELECT doc_id, n_tokens,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS qs
        FROM m),
      s AS (SELECT doc_id, n_tokens,
          CASE WHEN isnan(qs) THEN 0
               ELSE CAST(floor(qs * 1000000) AS BIGINT) END AS score_micro
        FROM q),
      f AS (SELECT doc_id,
          md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM t),
      d AS (SELECT fp, count(*) AS n_copies FROM f GROUP BY 1)
      SELECT t.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c4.c4_keep THEN 1 ELSE 0 END)
               * 1000000 // count(*) AS BIGINT) AS c4_keep_ppm,
             CAST(sum(CASE WHEN le.lang_en THEN 1 ELSE 0 END)
               * 1000000 // count(*) AS BIGINT) AS lang_en_ppm,
             CAST(sum(CASE WHEN d.n_copies > 1 THEN 1 ELSE 0 END)
               * 1000000 // count(*) AS BIGINT) AS exact_dup_ppm,
             CAST(sum(s.score_micro) AS BIGINT) AS sum_score_micro
      FROM t JOIN c4 USING (doc_id) JOIN le USING (doc_id)
        JOIN s USING (doc_id) JOIN f USING (doc_id)
        JOIN d ON f.fp = d.fp
      GROUP BY 1""",
    // identical snapshot derivations, FULL OUTER on doc_id, fingerprint
    // change detection, per-source rollup with token deltas
    "diff_corpus_snapshots" -> """
      WITH base AS (SELECT doc_id, source, text,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      v1 AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
      v2 AS (SELECT doc_id, source,
          CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END
            AS text
        FROM base WHERE doc_id % 7 <> 0),
      v2t AS (SELECT doc_id, source, text,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM v2),
      a AS (SELECT doc_id AS k_old, source AS src_old,
          n_tokens AS tok_old,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_old
        FROM v1),
      b AS (SELECT doc_id AS k_new, source AS src_new,
          n_tokens AS tok_new,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_new
        FROM v2t),
      j AS (SELECT *,
          CASE WHEN k_old IS NULL THEN 'added'
               WHEN k_new IS NULL THEN 'removed'
               WHEN fp_old <> fp_new THEN 'changed'
               ELSE 'unchanged' END AS change_type
        FROM a FULL OUTER JOIN b ON a.k_old = b.k_new)
      SELECT coalesce(src_old, src_new) AS source,
             CAST(sum(CASE WHEN change_type = 'added' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN change_type = 'removed' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN change_type = 'changed' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_changed,
             CAST(sum(CASE WHEN change_type = 'unchanged' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unchanged,
             CAST(sum(CASE WHEN change_type = 'added' THEN tok_new
               ELSE 0 END) AS BIGINT) AS tokens_added,
             CAST(sum(CASE WHEN change_type = 'removed' THEN tok_old
               ELSE 0 END) AS BIGINT) AS tokens_removed,
             CAST(sum(coalesce(tok_new, 0)) - sum(coalesce(tok_old, 0))
               AS BIGINT) AS token_delta
      FROM j GROUP BY 1""",
    // vocabulary-first BPE pair counts: pairs explode over DISTINCT
    // words only, weighted by the word's corpus count
    "vocab_bpe_pairs" -> """
      WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                   AS word FROM documents),
      wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wn
             FROM w GROUP BY 1),
      p AS (SELECT wn, unnest(list_transform(range(1, strlen(word)),
              i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
            FROM wc WHERE strlen(word) >= 2)
      SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 30""",
    // iterative-BPE replay: the trainer loop unrolled into static CTEs
    // (one pR/tR/vR triple per round); merge table = each round's t
    "vocab_bpe_merges" -> (bpeCteSql(BpeRounds) +
      (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_round, lft, rgt, n FROM t$r")
        .mkString("\n      ", "\n      UNION ALL ", "")),
    "vocab_bpe_merges64" -> (bpeCteSql(64) +
      (1 to 64).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_round, lft, rgt, n FROM t$r")
        .mkString("\n      ", "\n      UNION ALL ", "")),
    // final-vocabulary replay: explode vN's symbol strings, sum wn
    "vocab_bpe_vocab" -> (bpeCteSql(BpeRounds) + s"""
      SELECT sym AS symbol, CAST(sum(wn) AS BIGINT) AS n
      FROM (SELECT wn, unnest(list_filter(string_split(s, '  '),
              x -> x <> '')) AS sym FROM v$BpeRounds)
      GROUP BY 1"""),
    // tokenization replay: per-word segment counts from vN, joined to
    // the doc-level word stream — the same vocabulary-lookup shape
    "text_bpe_tokenize" -> (bpeCteSql(BpeRounds) + s""",
      wt AS (SELECT word, CAST(len(list_filter(string_split(s, '  '),
               x -> x <> '')) AS BIGINT) AS n_word_bpe FROM v$BpeRounds),
      dw AS (SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
             FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(n_word_bpe) AS BIGINT) AS n_bpe_tokens
      FROM dw JOIN wt USING (word)
      GROUP BY 1"""),
    "features_hashed_bow" -> s"""
      WITH tok AS (SELECT doc_id,
              unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
            FROM documents)
      SELECT doc_id, CAST(${hex60Sql("token")} % 64 AS BIGINT) AS dim,
             CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2""",
    // boilerplate replay: the shared distinct-shingle CTE hashed to
    // 60-bit ids (collisions fold identically on both engines — both
    // count hash rows, not strings), df >= 5 hot set, per-doc counts
    "corpus_boilerplate_ngrams" -> s"""
      WITH $ShinglesCte,
      hsh AS (SELECT doc_id, ${hex60Sql("shingle")} AS h FROM sh),
      dfr AS (SELECT h, count(*) AS df FROM hsh GROUP BY 1),
      hot AS (SELECT h FROM dfr WHERE df >= 5),
      n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
            FROM hsh GROUP BY 1),
      b AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
            FROM hsh WHERE h IN (SELECT h FROM hot) GROUP BY 1)
      SELECT n.doc_id, n.n_shingles,
             CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
             CAST(COALESCE(b.n_boiler, 0) * 1000000 // n.n_shingles
               AS BIGINT) AS boiler_ppm
      FROM n LEFT JOIN b ON b.doc_id = n.doc_id""",
    // stopword strip replay: df over distinct (doc, token), hot =
    // df*2 >= n, positional reassembly via string_agg ORDER BY
    "corpus_stopword_strip" -> """
      WITH tok AS (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS toks
                   FROM documents),
      dfr AS (SELECT token, count(*) AS df
              FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token
                    FROM tok) GROUP BY 1),
      hot AS (SELECT token FROM dfr
              WHERE df * 2 >= (SELECT count(*) FROM documents)),
      pos AS (SELECT doc_id, unnest(range(len(toks))) AS p, toks FROM tok),
      tx AS (SELECT doc_id, p, toks[CAST(p + 1 AS INTEGER)] AS token
             FROM pos),
      kept AS (SELECT doc_id, p, token FROM tx
               WHERE token NOT IN (SELECT token FROM hot)),
      agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY p) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY 1),
      base AS (SELECT doc_id, len(toks) AS n_toks FROM tok)
      SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text,
             CAST(b.n_toks - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
      FROM base b LEFT JOIN agg a USING (doc_id)""",
    // same bigram split as vocab_bigram_conditionals; HUGEINT products
    // replay the Spark side's decimal128, floor-div back to BIGINT
    "vocab_pmi_collocations" -> """
      WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
          i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
        FROM tok WHERE len(toks) >= 2),
      cnt AS (SELECT split_part(bigram, ' ', 1) AS w1,
          split_part(bigram, ' ', 2) AS w2,
          CAST(count(*) AS BIGINT) AS n12
        FROM bg GROUP BY 1, 2),
      m1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1
             FROM cnt GROUP BY 1),
      m2 AS (SELECT w2, CAST(sum(n12) AS BIGINT) AS n2
             FROM cnt GROUP BY 1),
      tot AS (SELECT CAST(sum(n12) AS BIGINT) AS total FROM cnt)
      SELECT c.w1, c.w2, c.n12, m1.n1, m2.n2,
        CAST((CAST(tot.total AS HUGEINT) * c.n12 * 1000000)
             // (CAST(m1.n1 AS HUGEINT) * m2.n2) AS BIGINT) AS pmi_ppm
      FROM cnt c JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
      WHERE c.n12 >= 5""",
    // distance-1 pairs from bigrams both ways, distance-2 pairs from
    // the (first, third) trigram projection both ways
    "vocab_skipgram_pairs" -> """
      WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
          i -> toks[i+1] || ' ' || toks[i+2])) AS g
        FROM tok WHERE len(toks) >= 2),
      tg AS (SELECT unnest(list_transform(range(len(toks) - 2),
          i -> toks[i+1] || ' ' || toks[i+3])) AS g
        FROM tok WHERE len(toks) >= 3),
      pairs AS (
        SELECT split_part(g, ' ', 1) AS center,
               split_part(g, ' ', 2) AS context FROM bg
        UNION ALL
        SELECT split_part(g, ' ', 2), split_part(g, ' ', 1) FROM bg
        UNION ALL
        SELECT split_part(g, ' ', 1), split_part(g, ' ', 2) FROM tg
        UNION ALL
        SELECT split_part(g, ' ', 2), split_part(g, ' ', 1) FROM tg)
      SELECT center, context, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5""",
    // HUGEINT squares replay the decimal128 fold
    "vocab_gini_diversity" -> """
      WITH tf AS (SELECT source,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents),
      cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
        FROM tf GROUP BY 1, 2),
      ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(n) AS BIGINT) AS n_tokens,
          sum(CAST(n AS HUGEINT) * n) AS ss
        FROM cnt GROUP BY 1)
      SELECT source, n_types, n_tokens,
        CAST(1000000 - (ss * 1000000)
          // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
          AS gini_ppm
      FROM ag""",
  )
}
