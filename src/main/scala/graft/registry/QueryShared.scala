package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{AsOfJoin, Audio, Corpus, Dedup, Graph, Multimodal, Packing, RangeJoin, Sampling, Similarity, Sketches, TextOps, Video, Windows}


/** Helpers shared by every ExtQueries* family slice: table
  * loading, the curation-v2 stage chain, and the DuckDB SQL
  * fragment builders the oracle twins are assembled from.
  * Formerly the private helper sections of the monolithic
  * ExtQueries (split in r10, contents verbatim). */
object QueryShared {

  type Q = (SparkSession, String) => DataFrame

  private[registry] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[registry] def reclaimOnExit(path: String): Unit =
    graft.ext.Scratch.reclaimOnExit(path)

  /** Merge rounds for the registered BPE-trainer queries: enough that
    * later rounds merge MERGED symbols (the part round-0 pair counts
    * cannot see), small enough that the unrolled-CTE oracle stays
    * readable. */
  private[registry] val BpeRounds = 8

  // ---- curation v2: the composed flagship's stage chain ----
  // Exposed as (name, stage-transform) pairs so the SAME chain serves
  // two consumers: the registered query folds the stages into one
  // fused plan (what the oracle hash-checks), and the funnel audit
  // counts the rows surviving each stage.

  /** Stage-0 input of the v2 curation chain. */
  private[graft] def curationV2Docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))

  /** The v2 chain: C4 filter -> exact dedup -> near-dup
    * keep-representative -> benchmark decontamination -> per-source
    * token-budget selection. Every stage is an already-verified
    * operator; this registers their composition. */
  private[graft] def curationV2Stages(s: SparkSession, dir: String)
      : Seq[(String, DataFrame => DataFrame)] = Seq(
    "c4_filter" -> ((in: DataFrame) => in.join(
      Corpus.c4QualityFlags(in, col("doc_id"), col("text"))
        .filter(col("keep")).select("doc_id"), Seq("doc_id"))),
    "exact_dedup" -> ((in: DataFrame) => in.join(
      in.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"))),
    "neardup_reps" -> ((in: DataFrame) => {
      val pairs = Dedup.jaccardPairs(in, "doc_id", "text", threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val reps = Dedup.connectedComponents(in.select(col("doc_id")), pairs)
        .filter(col("doc_id") === col("component")).select("doc_id")
      in.join(reps, Seq("doc_id"))
    }),
    "decontam" -> ((in: DataFrame) => {
      // held-out set: every 20th doc of the RAW corpus — the curated
      // train split must not share 13-gram shingles with it
      val train = in.filter(col("doc_id") % 20 =!= 0)
      val test = curationV2Docs(s, dir).filter(col("doc_id") % 20 === 0)
      val bad = Dedup.crossCorpusOverlap(train, test, "doc_id", "text",
          shingleN = 13)
        .filter(col("n_shared_shingles") >= 5)
        .select(col("train_id").as("doc_id")).distinct()
      train.join(bad, Seq("doc_id"), "left_anti")
    }),
    "budget_select" -> ((in: DataFrame) => {
      // NaN guard in the window-consumer shape (curate_token_budget's
      // r15 comment): _nan partition segregation + post-window drop,
      // one score eval per row instead of the pushed-down two —
      // this stage sits inside the v2 flagship, so the saving lands
      // in a headline number.
      val scored = TextOps.withQualityScore(
        in.select(col("doc_id"), col("source"), col("text")), col("text"))
        .withColumn("_nan", isnan(col("quality_score")))
      Corpus.tokenBudgetSelect(scored,
          struct(col("source"), col("_nan")),
          Seq(col("quality_score").desc, col("doc_id")),
          col("n_tokens"), budget = 500L)
        .filter(!col("_nan") || col("cum_tokens") < 0)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("cum_tokens"))
    }))

  /** The v3 chain (VERDICT r14 #5): LINE dedup first — production
    * C4-style pipelines remove repeated boilerplate lines BEFORE any
    * document-level work, because navigation chrome and cookie
    * banners inflate shingle similarity (two unrelated pages sharing
    * a fat footer read as near-dups) and distort shape statistics —
    * then Gopher shape rules over the CLEANED text, near-dup
    * representatives, and a temperature source mixture. Every stage
    * is an already-verified operator; this registers the composition
    * in the production order. Docs whose every line was removed
    * (empty after cleaning) drop at stage 1 — an all-boilerplate doc
    * has nothing left to curate. */
  private[graft] def curationV3Stages(s: SparkSession, dir: String)
      : Seq[(String, DataFrame => DataFrame)] = Seq(
    "line_dedup" -> ((in: DataFrame) =>
      in.select(col("doc_id"), col("source"))
        .join(Corpus.lineDedup(in, col("doc_id"), col("text"),
            minTokens = 5)
          .select(col("doc_id"), col("text_clean").as("text")),
          Seq("doc_id"))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"), col("text"))),
    // minStopHits = 1: the driver corpus's synthetic vocabulary
    // carries only 'the'/'a' from the 8-stopword list, so the paper
    // default (2) zeroes the funnel corpus-wide — the dial keeps the
    // stopword rule MEANINGFUL (a doc must still carry one function
    // word) without annulling every downstream stage. Production
    // English text trivially passes either bar.
    "gopher_filter" -> ((in: DataFrame) => in.join(
      Corpus.gopherQualityFlags(in, col("doc_id"), col("text"),
          minStopHits = 1)
        .filter(col("keep")).select("doc_id"), Seq("doc_id"))),
    "neardup_reps" -> ((in: DataFrame) => {
      val pairs = Dedup.jaccardPairs(in, "doc_id", "text", threshold = 0.8)
        .select(col("doc_a"), col("doc_b"))
      val reps = Dedup.connectedComponents(in.select(col("doc_id")), pairs)
        .filter(col("doc_id") === col("component")).select("doc_id")
      in.join(reps, Seq("doc_id"))
    }),
    "temp_mixture" -> ((in: DataFrame) =>
      Corpus.temperatureSample(in, col("source"), col("doc_id"))))

  /** The v4 chain (r16 session 2): the SEMANTIC curation order —
    * Gopher shape rules, exact dedup, then SemDeDup pruning over the
    * embedding column (cell-mates of an earlier-ranked semantic
    * near-dup drop; the embedding table covers a SUBSET of docs at
    * some scales, and un-embedded docs pass the stage — pruning
    * applies only where the semantic signal exists), then the
    * temperature source mixture. SemDeDup runs over the FULL standing
    * embedding table, not the filtered survivors: semantic duplicate
    * structure is a property of the corpus snapshot, the same
    * build-once contract as the staged pair tables. */
  private[graft] def curationV4Stages(s: SparkSession, dir: String)
      : Seq[(String, DataFrame => DataFrame)] = Seq(
    "gopher_filter" -> ((in: DataFrame) => in.join(
      Corpus.gopherQualityFlags(in, col("doc_id"), col("text"),
          minStopHits = 1)
        .filter(col("keep")).select("doc_id"), Seq("doc_id"))),
    "exact_dedup" -> ((in: DataFrame) => in.join(
      in.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"))),
    "semdedup_prune" -> ((in: DataFrame) => {
      val nc = Similarity.autoCentroids(
        graft.ext.PairStage.corpusCard(s, dir)._1)
      val removed = Similarity.semDedupFrom(
          graft.ext.PairStage.ivfCorpusCells(s, dir, nc, iters = 2),
          graft.ext.PairStage.ivfCentroids(s, dir, nc, iters = 2),
          eps = 0.3)
        .filter(col("is_removed") === 1L)
        .select(col("vec_id").as("doc_id"))
      in.join(removed, Seq("doc_id"), "left_anti")
    }),
    "temp_mixture" -> ((in: DataFrame) =>
      Corpus.temperatureSample(in, col("source"), col("doc_id"))))

  // ---- shared SQL fragments ----

  /** DuckDB in-order dot product over 64-dim double lists (probed
    * bit-identical to Spark's strict left-fold). */
  private[registry] def dotSql(a: String, b: String): String =
    dotSqlN(a, b, 64)

  /** [[dotSql]] at an explicit dimension — the norm-augmented MIPS
    * vectors are dim+1. At dim=64 the emitted SQL is byte-identical
    * to the historical dotSql, so existing oracles are untouched. */
  private[registry] def dotSqlN(a: String, b: String, dim: Int): String =
    s"list_sum(list_transform(range(1,${dim + 1}), i -> $a[i]*$b[i]))"
  /** Unit-normalized double vector (norm = sqrt of in-order self-dot,
    * matching Similarity.withNormalized exactly). */
  private[registry] val NormSql =
    """list_transform(embedding, x -> CAST(x AS DOUBLE)
      | / sqrt(list_sum(list_transform(embedding,
      |     y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE)))))""".stripMargin

  /** Engine-portable stable sum (see Windows.stableSum). */
  private[registry] def stableSumSql(c: String): String =
    s"(SUM(CAST(FLOOR($c*1000000) AS BIGINT)) / 1000000.0)"

  /** ppm-quantized squared distance from the scanned `embedding` to a
    * center (in-order fold of double diffs — the dist twin of
    * [[dotSql]], matching Sampling.kCenterCoreset's DotProduct(diff,
    * diff) shape exactly). */
  private[registry] def kcDistPpmSql(centerCol: String): String = {
    val d = s"(CAST(embedding[i] AS DOUBLE) - CAST($centerCol[i] AS DOUBLE))"
    s"CAST(FLOOR(list_sum(list_transform(range(1,65), i -> $d * $d)) " +
      "* 1000000) AS BIGINT)"
  }

  /** The unrolled k-center selection-trace oracle: d_j = min distance
    * to centers 0..j-1, c_j = its (mind DESC, vec_id) argmax. The
    * center embedding rides in as a CROSS JOIN of its 1-row relation
    * (DuckDB forbids subqueries inside list lambdas). */
  private[registry] def kCenterSql(k: Int): String = {
    def ctrOf(c: String): String =
      s"(SELECT embedding AS cemb FROM embeddings WHERE vec_id = " +
        s"(SELECT vec_id FROM $c)) ctr"
    val ctes = new StringBuilder(
      "c0 AS (SELECT min(vec_id) AS vec_id FROM embeddings),\n")
    ctes ++= s"""d1 AS (SELECT vec_id,
      ${kcDistPpmSql("cemb")} AS mind
      FROM embeddings CROSS JOIN ${ctrOf("c0")}),
      c1 AS (SELECT vec_id, mind FROM d1 ORDER BY mind DESC, vec_id LIMIT 1)"""
    for (j <- 2 until k) {
      ctes ++= s""",
      d$j AS (SELECT e.vec_id,
        least(p.mind, ${kcDistPpmSql("cemb")}) AS mind
        FROM embeddings e JOIN d${j - 1} p ON p.vec_id = e.vec_id
        CROSS JOIN ${ctrOf(s"c${j - 1}")}),
      c$j AS (SELECT vec_id, mind FROM d$j
              ORDER BY mind DESC, vec_id LIMIT 1)"""
    }
    val rows = (s"SELECT CAST(0 AS BIGINT) AS sel_idx, " +
      "(SELECT vec_id FROM c0) AS vec_id, " +
      "CAST(NULL AS BIGINT) AS dist_ppm") +:
      (1 until k).map(j =>
        s"SELECT $j, (SELECT vec_id FROM c$j), (SELECT mind FROM c$j)")
    s"WITH $ctes\n${rows.mkString("\nUNION ALL ")}"
  }

  private[registry] def hitsSql(w: String): String =
    s"CAST((length(p)-length(replace(p,' $w ','')))/${w.length + 2} AS BIGINT)"

  /** Closed-form replay of the PPM fixture raster's channel-`c` sum
    * (Multimodal.Ppm.pixelValue over every pixel): the Spark side must
    * parse real header+raster bytes to reproduce these sums, which is
    * exactly the real-decode contract. */
  private[registry] def ppmChanSumSql(c: Int): String =
    s"""CAST(list_sum(flatten(list_transform(range(0, height), y ->
       |  list_transform(range(0, width), x ->
       |    (media_id*31 + x*7 + y*13 + ${c * 29}) % 256)))) AS BIGINT)"""
      .stripMargin

  /** Integer BT.601 luma (x1000) of the fixture pixel at dHash grid
    * cell (`gx`, `gy`) — 8x8 nearest-neighbor resample, floor-div
    * index math mirroring Multimodal.dhash exactly. */
  private[registry] def phashLumaSql(gx: String, gy: String): String = {
    def chan(c: Int): String =
      s"((media_id*31 + ((($gx))*width//8)*7 + " +
        s"((($gy))*height//8)*13 + ${c * 29}) % 256)"
    s"(299*${chan(0)} + 587*${chan(1)} + 114*${chan(2)})"
  }

  /** Same channel sum AFTER a factor-2 nearest-neighbor resize: kept
    * pixel (X, Y) is source pixel (2X, 2Y). */
  private[registry] def ppmResChanSumSql(c: Int): String =
    s"""CAST(list_sum(flatten(list_transform(range(0, height), y ->
       |  list_transform(range(0, width), x ->
       |    (media_id*31 + (2*x)*7 + (2*y)*13 + ${c * 29}) % 256))))
       | AS BIGINT)""".stripMargin

  /** AVI fixture channel value, the closed form of
    * `Video.Avi.channelValue` (c: 0=R, 1=G, 2=B). */
  private[registry] def aviPixSql(c: Int): String =
    s"(media_id*31 + f*7919 + y*101 + x*13 + ${c * 29}) % 256"

  /** Per-clip channel sum over every (frame, row, column). */
  private[registry] def aviChanSumSql(c: Int): String =
    s"""CAST(list_sum(flatten(list_transform(range(0, n_frames), f ->
       |  flatten(list_transform(range(0, height), y ->
       |    list_transform(range(0, width), x ->
       |      ${aviPixSql(c)})))))) AS BIGINT)""".stripMargin

  /** Flip-sensitive row-weighted sum: (y+1) * (r+g+b) in IMAGE row
    * space — a decoder that reads the bottom-up DIB rows top-down
    * cannot match this. */
  private[registry] val aviRowWeightedSql: String =
    s"""CAST(list_sum(flatten(list_transform(range(0, n_frames), f ->
       |  flatten(list_transform(range(0, height), y ->
       |    list_transform(range(0, width), x ->
       |      (y+1) * ((${aviPixSql(0)}) + (${aviPixSql(1)})
       |        + (${aviPixSql(2)})))))))) AS BIGINT)""".stripMargin
  private[registry] def scoreSql(lang: String): String =
    TextOps.LangStopwords.toMap.apply(lang).map(hitsSql)
      .mkString("(", " + ", ")")

  private[registry] val DocsNormCte =
    """WITH t AS (SELECT doc_id, text,
      |  ' ' || lower(text) || ' ' AS p FROM documents)""".stripMargin

  /** Stratified sampling rates for the registered query (dominant
    * event types downsampled, purchases kept whole). */
  private[registry] val SampleRates =
    Map("view" -> 0.1, "click" -> 0.2, "purchase" -> 1.0)

  // =====================================================================
  // Queries
  // =====================================================================


  // =====================================================================
  // Oracle SQL
  // =====================================================================

  /** Unrolled-CTE DuckDB replay of the iterative BPE trainer
    * ([[graft.ext.Corpus.bpeMerges]]), `rounds` rounds deep — the
    * dedup_clusters/kCenterCoreset oracle idiom: the loop the Spark
    * side runs on the driver is unrolled into static SQL so DuckDB
    * recomputes every round's pair counts, merge choice and
    * re-tokenization from scratch.
    *
    * Vocabulary state rides as a DOUBLE-SPACE-joined symbol string
    * ("  lo  w  e  r  "), so applying a merge is one plain
    * `replace(s, ' l  o ', ' lo ')`: each occurrence keeps one outer
    * space on each side, left-to-right non-overlapping replace = the
    * greedy BPE scan, and RE2's missing lookarounds never enter the
    * picture. Deliberately a DIFFERENT mechanism than the Spark
    * side's array fold — two independent derivations hash-matching is
    * the point of the oracle. Ends with vN (the final vocabulary
    * state) plus one tR CTE per round (that round's chosen merge);
    * the caller appends the final SELECT.
    *
    * Every vocabulary-state CTE carries the `AS MATERIALIZED` hint:
    * v_{r-1} is referenced twice per round (the pair count and the
    * next state), so without it DuckDB's default inlining re-derives
    * the chain per reference — 2^rounds evaluations of v0, fine at 8
    * rounds, impossible at 64. Materialization makes the unroll
    * linear in rounds (measured 0.9s at 64 rounds / sf0.01) with
    * identical results — which is what keeps the REALISTIC-vocab
    * trainer hash-verified instead of falling back to rows-only. */
  private[registry] def bpeCteSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """
      WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                   AS word FROM documents),
      v0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wn,
               '  ' || array_to_string(list_transform(range(strlen(word)),
                   i -> substr(word, CAST(i + 1 AS INTEGER), 1)), '  ')
               || '  ' AS s
             FROM w GROUP BY word)"""
    for (r <- 1 to rounds) sb ++= s""",
      p$r AS (SELECT l[i+1] AS lft, l[i+2] AS rgt,
               CAST(sum(wn) AS BIGINT) AS n
             FROM (SELECT wn, list_filter(string_split(s, '  '),
                     x -> x <> '') AS l FROM v${r - 1}),
                  unnest(range(len(l) - 1)) AS u(i)
             GROUP BY 1, 2),
      t$r AS (SELECT lft, rgt, n FROM p$r
             ORDER BY n DESC, lft, rgt LIMIT 1),
      v$r AS MATERIALIZED (SELECT word, wn, CASE WHEN lft IS NULL THEN s ELSE
               replace(s, ' ' || lft || '  ' || rgt || ' ',
                       ' ' || lft || rgt || ' ') END AS s
             FROM v${r - 1} LEFT JOIN t$r ON TRUE)"""
    sb.result()
  }

  /** DuckDB twin of [[graft.ext.TextOps.hex60]]: 60-bit int from the
    * md5 hex prefix. */
  private[registry] def hex60Sql(s: String): String =
    s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  /** Distinct (doc_id, shingle) pairs over 3-word shingles — DuckDB
    * twin of [[graft.ext.Corpus.shinglePairs]] (range of a negative
    * bound is empty, covering the <3-token case). */
  private[registry] val ShinglesCte =
    """tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |         FROM documents),
      |shraw AS (SELECT doc_id,
      |            unnest(list_transform(range(len(toks) - 2),
      |              i -> array_to_string(toks[i+1:i+3], ' '))) AS shingle
      |          FROM tok),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM shraw)""".stripMargin

  /** The 32 minhash signature aggregates: universal hashes
    * (a_i * base + b_i) mod 2^31-1 over the per-shingle md5 base —
    * exact integer twins of Dedup.minhashSignatures. */
  private[registry] val MinhashSigCols = (0 until 32).map(i =>
    s"min((${Dedup.minhashA(i)} * b + ${Dedup.minhashB(i)}) % " +
      s"${Dedup.MinhashP}) AS mh_$i").mkString(",\n       ")
  /** `bands` bands x (k/bands) rows: band structs for the bucket
    * join — parameterized for the tune report's configuration sweep. */
  private[registry] def minhashBandStructsFor(bands: Int,
                                              k: Int = 32): String = {
    val rpb = k / bands
    (0 until bands).map(b =>
      s"{b: $b, k: [${(rpb * b until rpb * b + rpb)
        .map(i => s"mh_$i").mkString(", ")}]}")
      .mkString(",\n         ")
  }
  /** 8 bands x 4 rows: the default banding's structs. */
  private[registry] val MinhashBandStructs = minhashBandStructsFor(8)
  private[registry] val MinhashMatchTerms = (0 until 32).map(i =>
    s"(CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** The 60-bit simhash as a per-doc aggregate: per bit, sign of the
    * +1/-1 votes across distinct-token hashes (DuckDB twin of the
    * native SimHash64 expression over hex60 token hashes). */
  private[registry] val SimhashBitSum = (0 until 60).map(b =>
    s"(CASE WHEN SUM(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
      s"THEN ${1L << b} ELSE 0 END)").mkString("\n         + ")

  /** Hyperplane-LSH near-dup pairs in SQL — exact twin of
    * Similarity.lshNearDupPairs/lshNearNeighbors: the plane count is
    * derived from count(*) with the same integer ceil-log2 formula as
    * autoPlanes, plane weights are recomputed from md5 exactly as
    * Similarity.planeWeight, projections fold left in declared order
    * (probed bit-identical to the native DotProduct), and candidates
    * are verified with the exact unit-vector cosine. */
  private[registry] def lshPairsSql(tables: Int, threshold: Double): String = s"""
      WITH np_t AS (
        SELECT GREATEST(4, LEAST(16,
                 CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)) AS np
        FROM (SELECT (count(*) + 63) // 64 AS m FROM embeddings)),
      pl AS (SELECT unnest(range(0, $tables * np)) AS pi FROM np_t),
      w AS (SELECT pi, list_transform(range(0, 64), d ->
              (CAST('0x' || substr(md5(CAST(pi AS VARCHAR) || ',' ||
                 CAST(d AS VARCHAR)), 1, 15) AS BIGINT)
               % 2000001 - 1000000) / 1000000.0) AS wv
            FROM pl),
      proj AS (SELECT e.vec_id, w.pi,
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(e.embedding[i] AS DOUBLE) * w.wv[i])) AS proj
               FROM embeddings e CROSS JOIN w),
      sigs AS (SELECT vec_id, pi // np AS tbl,
                 SUM(CASE WHEN proj >= 0
                     THEN (CAST(1 AS BIGINT) << CAST(pi % np AS INTEGER))
                     ELSE CAST(0 AS BIGINT) END) AS sig
               FROM proj CROSS JOIN np_t GROUP BY vec_id, pi // np),
      cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
               FROM sigs x JOIN sigs y
                 ON x.tbl = y.tbl AND x.sig = y.sig
                AND x.vec_id < y.vec_id),
      nv AS (SELECT vec_id, $NormSql AS nv FROM embeddings)
      SELECT vec_a, vec_b, cosine FROM (
        SELECT vec_a, vec_b, ${dotSql("a.nv", "b.nv")} AS cosine
        FROM cand
        JOIN nv a ON a.vec_id = cand.vec_a
        JOIN nv b ON b.vec_id = cand.vec_b)
      WHERE cosine >= $threshold"""

  /** DuckDB twin of Similarity.ivfTopK with Lloyd-refined centroids:
    * the same deterministic init, `iters` rounds of argmax assignment
    * (row_number total order), micro-quantized per-dimension means
    * (order-proof integer sums) and in-order renormalization — an
    * ITERATIVE model fit that still hash-matches across engines. The
    * centroid count is derived from count(*) with the same integer
    * power-of-two-near-sqrt formula as [[Similarity.autoCentroids]]. */
  /** The Lloyd-fit + final-assignment CTE block (nv through ca) —
    * shared by the IVF search oracle and the standalone k-means
    * assignment oracle. Emits `ca(vec_id, centroid_id, v)`.
    *
    * `fitWhere` restricts the FIT universe (nv and the centroid-count
    * derivation) — the stale-index shape of the incremental family,
    * where centroids are fit on the standing corpus only.
    * `assignFrom = "av"` makes the final assignment run over ALL
    * embeddings (an extra `av` CTE) instead of the fit set — the
    * upserted-index shape where batch vectors are assigned with stale
    * centroids. Defaults emit byte-identical SQL to the pre-r11
    * builder, so existing oracles are untouched. */
  private[registry] def ivfAssignCtes(iters: Int, fitWhere: String = "",
                                      assignFrom: String = "nv",
                                      nvSelect: String = "",
                                      preCtes: String = "",
                                      dim: Int = 64): String = {
    val iterCtes = (1 to iters).map { it =>
      val prev = s"c${it - 1}"
      s"""a$it AS (SELECT vec_id, centroid_id, v FROM (
         |    SELECT nv.vec_id, $prev.centroid_id, nv.v,
         |           row_number() OVER (PARTITION BY nv.vec_id
         |             ORDER BY ${dotSqlN("nv.v", s"$prev.cv", dim)} DESC,
         |                      $prev.centroid_id) AS rn
         |    FROM nv CROSS JOIN $prev) WHERE rn = 1),
         |m$it AS (SELECT centroid_id, d,
         |       (SUM(CAST(FLOOR(v[d+1]*1000000) AS BIGINT)) / 1000000.0)
         |         / count(*) AS m
         |     FROM a$it CROSS JOIN range(0, $dim) r(d)
         |     GROUP BY centroid_id, d),
         |g$it AS (SELECT centroid_id, list(m ORDER BY d) AS mv
         |       FROM m$it GROUP BY centroid_id),
         |n$it AS (SELECT centroid_id, list_transform(mv,
         |         x -> x / sqrt(list_sum(list_transform(mv, y -> y*y))))
         |         AS cv FROM g$it),
         |c$it AS (SELECT p.centroid_id, COALESCE(n$it.cv, p.cv) AS cv
         |       FROM $prev p LEFT JOIN n$it USING (centroid_id))"""
        .stripMargin
    }.mkString(",\n      ")
    val fw = if (fitWhere.isEmpty) "" else s" WHERE $fitWhere"
    val av = if (assignFrom == "nv") ""
      else s"\n      av AS (SELECT vec_id, $NormSql AS v FROM embeddings),"
    val nvBody = if (nvSelect.isEmpty)
      s"SELECT vec_id, $NormSql AS v FROM embeddings$fw" else nvSelect
    s"""${preCtes}nv AS ($nvBody),
      nc_t AS (SELECT GREATEST(4, LEAST(4096,
                 CASE WHEN n <= 1 THEN 1
                      ELSE (CAST(1 AS BIGINT)
                            << CAST((length(bin(n - 1)) + 1) // 2 AS INTEGER))
                 END)) AS nc
               FROM (SELECT count(*) AS n FROM embeddings$fw)),
      c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM
               (SELECT vec_id, v,
                       row_number() OVER (ORDER BY vec_id) AS rn FROM nv)
             CROSS JOIN nc_t WHERE rn <= nc),
      $iterCtes,$av
      ca AS (SELECT vec_id, centroid_id, v FROM (
          SELECT $assignFrom.vec_id, c$iters.centroid_id, $assignFrom.v,
                 row_number() OVER (PARTITION BY $assignFrom.vec_id
                   ORDER BY ${dotSqlN(s"$assignFrom.v", s"c$iters.cv", dim)} DESC,
                            c$iters.centroid_id) AS rn
          FROM $assignFrom CROSS JOIN c$iters) WHERE rn = 1)"""
  }

  private[registry] def ivfTopKSql(k: Int, nProbe: Int, iters: Int,
                                   fitWhere: String = "",
                                   assignFrom: String = "nv"): String = {
    s"""
      WITH ${ivfAssignCtes(iters, fitWhere, assignFrom)},
      q AS (SELECT vec_id AS query_id, v AS qv
            FROM $assignFrom WHERE vec_id < 10),
      qp AS (SELECT query_id, centroid_id, qv FROM (
          SELECT q.query_id, c$iters.centroid_id, q.qv,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${dotSql("q.qv", s"c$iters.cv")} DESC,
                            c$iters.centroid_id) AS rn
          FROM q CROSS JOIN c$iters) WHERE rn <= $nProbe),
      scored AS (SELECT query_id, ca.vec_id AS neighbor_id,
                   ${dotSql("qp.qv", "ca.v")} AS cosine
                 FROM qp JOIN ca USING (centroid_id)
                 WHERE query_id <> ca.vec_id)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored
            WHERE NOT isnan(cosine))
      WHERE rank <= $k"""
  }

  /** DuckDB twin of the norm-augmented MIPS-IVF search
    * (PairStage.mipsIvfCentroids + Similarity.ivfTopKWith over the
    * augmented column): corpus vectors gain coordinate
    * sqrt(msq - |x|^2) (msq = max corpus self-dot, its own CTE),
    * queries gain literal 0, and the standard 65-dim IVF CTE chain
    * runs over the augmented space — where cosine order equals raw
    * inner-product order (Bachrach et al. 2014), so this IS MIPS ANN.
    * Both augmented norms are computed from the augmented list itself
    * (never the sqrt(msq) shortcut): the engines must round-trip the
    * SAME float ops, not algebraically-equal ones. The query's
    * trailing 0 divides to 0 and adds 0 to the self-dot, so
    * list_append(unit64, 0.0) replays Spark's normalize-after-augment
    * bit-exactly. */
  private[registry] def mipsIvfTopKSql(k: Int, nProbe: Int,
                                       iters: Int): String = {
    val selfDot =
      "list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE)))"
    val aug = "list_append(list_transform(embedding," +
      s" x -> CAST(x AS DOUBLE)), sqrt(mx.msq - $selfDot))"
    val nvSelect =
      s"""SELECT vec_id, list_transform(av,
         |            x -> x / sqrt(list_sum(list_transform(av, y -> y*y)))) AS v
         |          FROM (SELECT vec_id, $aug AS av
         |                FROM embeddings CROSS JOIN mx)""".stripMargin
    val pre = s"mx AS (SELECT max($selfDot) AS msq FROM embeddings),\n      "
    s"""
      WITH ${ivfAssignCtes(iters, nvSelect = nvSelect, preCtes = pre,
                           dim = 65)},
      q AS (SELECT vec_id AS query_id, list_append($NormSql, 0.0) AS qv
            FROM embeddings WHERE vec_id < 10),
      qp AS (SELECT query_id, centroid_id, qv FROM (
          SELECT q.query_id, c$iters.centroid_id, q.qv,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${dotSqlN("q.qv", s"c$iters.cv", 65)} DESC,
                            c$iters.centroid_id) AS rn
          FROM q CROSS JOIN c$iters) WHERE rn <= $nProbe),
      scored AS (SELECT query_id, ca.vec_id AS neighbor_id,
                   ${dotSqlN("qp.qv", "ca.v", 65)} AS cosine
                 FROM qp JOIN ca USING (centroid_id)
                 WHERE query_id <> ca.vec_id)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored
            WHERE NOT isnan(cosine))
      WHERE rank <= $k"""
  }

  /** DuckDB twin of Similarity.ivfFilteredTopKWith: same full-corpus
    * fit, assignment restricted to predicate survivors (filter->assign
    * == assign->filter per row, so `ca JOIN embeddings WHERE pred`
    * replays the Spark side's filter-first plan), and the
    * selectivity-compensated probe count derived from the same two
    * count(*)s with the same integer ceil division. */
  private[registry] def ivfFilteredTopKSql(k: Int, nProbe: Int,
                                           iters: Int,
                                           predSql: String): String = {
    s"""
      WITH ${ivfAssignCtes(iters)},
      pn_t AS (SELECT LEAST(nc, GREATEST($nProbe,
                 ($nProbe * n + kept - 1) // kept)) AS pn
               FROM (SELECT count(*) AS n FROM embeddings)
               CROSS JOIN (SELECT count(*) AS kept FROM embeddings
                           WHERE $predSql)
               CROSS JOIN nc_t),
      fa AS (SELECT ca.vec_id, ca.centroid_id, ca.v
             FROM ca JOIN embeddings e ON ca.vec_id = e.vec_id
             WHERE $predSql),
      q AS (SELECT vec_id AS query_id, v AS qv FROM nv WHERE vec_id < 10),
      qp AS (SELECT query_id, centroid_id, qv FROM (
          SELECT q.query_id, c$iters.centroid_id, q.qv,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${dotSql("q.qv", s"c$iters.cv")} DESC,
                            c$iters.centroid_id) AS rn
          FROM q CROSS JOIN c$iters) WHERE rn <= (SELECT pn FROM pn_t)),
      scored AS (SELECT query_id, fa.vec_id AS neighbor_id,
                   ${dotSql("qp.qv", "fa.v")} AS cosine
                 FROM qp JOIN fa USING (centroid_id)
                 WHERE query_id <> fa.vec_id)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored
            WHERE NOT isnan(cosine))
      WHERE rank <= $k"""
  }

  /** DuckDB twin of Similarity.ivfUpsertReport over the modular
    * corpus/batch split: centroids fit on the standing corpus
    * (`vec_id % 10 <> excludeMod`), batch assigned with those STALE
    * centroids, per-cell before/after counts full-joined, staleness
    * ppm and the refit trigger in exact integer arithmetic. */
  private[registry] def ivfUpsertReportSql(iters: Int, excludeMod: Int,
                                           refitPpm: Long): String = {
    s"""
      WITH ${ivfAssignCtes(iters, fitWhere = s"vec_id % 10 <> $excludeMod")},
      bnv AS (SELECT vec_id, $NormSql AS v FROM embeddings
              WHERE vec_id % 10 = $excludeMod),
      ba AS (SELECT vec_id, centroid_id FROM (
          SELECT bnv.vec_id, c$iters.centroid_id,
                 row_number() OVER (PARTITION BY bnv.vec_id
                   ORDER BY ${dotSql("bnv.v", s"c$iters.cv")} DESC,
                            c$iters.centroid_id) AS rn
          FROM bnv CROSS JOIN c$iters) WHERE rn = 1),
      cc_t AS (SELECT centroid_id, count(*) AS n_corpus FROM ca GROUP BY 1),
      bc_t AS (SELECT centroid_id, count(*) AS n_added FROM ba GROUP BY 1),
      cells AS (SELECT COALESCE(cc_t.centroid_id, bc_t.centroid_id)
                         AS centroid_id,
                       COALESCE(n_corpus, 0) AS n_corpus,
                       COALESCE(n_added, 0) AS n_added
                FROM cc_t FULL JOIN bc_t
                  ON cc_t.centroid_id = bc_t.centroid_id),
      tot AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS tc,
                     CAST(SUM(n_added) AS BIGINT) AS ta FROM cells)
      SELECT centroid_id, CAST(n_corpus AS BIGINT) AS n_corpus,
             CAST(n_added AS BIGINT) AS n_added,
             CAST(n_corpus + n_added AS BIGINT) AS n_total,
             CAST(ta * 1000000 // (tc + ta) AS BIGINT) AS stale_ppm,
             CAST(CASE WHEN ta * 1000000 // (tc + ta) > $refitPpm
                       THEN 1 ELSE 0 END AS BIGINT) AS refit_due
      FROM cells CROSS JOIN tot"""
  }

  /** DuckDB twin of Similarity.pqTopK: the same deterministic init
    * (lowest `ksub` ids' subvectors, codeword id = vec id), `iters`
    * rounds of per-subspace Lloyd (argmax of `<x,c> - ||c||^2/2`
    * with row_number total order, micro-quantized per-dim means, NO
    * renormalization — PQ codewords are plain L2 means), then integer
    * ADC: per-query lookup tables of `floor(subdot * 1e6)` summed
    * over the m subspaces. The score sum is BIGINT, so the ranking
    * order is exact on both engines. */
  /** SQL twin of Similarity.int8RerankTopK: symmetric round-half-up
    * int8 codes on the unit vector (`FLOOR(nv*127.0 + 0.5)` — one
    * double expression shape, bit-identical across engines), integer
    * dot shortlist of k*candMult with id tiebreak, exact double
    * rerank. Zero vectors (NaN after normalize) dropped before
    * quantizing on both engines — FLOOR(NaN) casts differently per
    * engine. */
  private[registry] def int8RerankSql(k: Int, candMult: Int): String = s"""
    WITH n AS (SELECT vec_id, $NormSql AS nv FROM embeddings),
    nz AS (SELECT vec_id, nv,
             list_transform(nv,
               x -> CAST(FLOOR(x*127.0 + 0.5) AS BIGINT)) AS code
           FROM n WHERE NOT isnan(nv[1])),
    q AS (SELECT vec_id AS query_id, nv AS qv, code AS qc
          FROM nz WHERE vec_id < 10),
    cand AS (
      SELECT query_id, e.vec_id AS neighbor_id, qv, e.nv AS cv,
             list_sum(list_transform(range(1,65),
               i -> qc[i]*e.code[i])) AS iscore
      FROM q, nz e WHERE query_id <> e.vec_id),
    topc AS (
      SELECT query_id, neighbor_id, qv, cv
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY iscore DESC, neighbor_id) AS r FROM cand)
      WHERE r <= ${k * candMult}),
    rer AS (SELECT query_id, neighbor_id,
                   ${dotSql("qv", "cv")} AS cosine FROM topc)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM rer)
    WHERE rank <= $k"""

  /** Per-subspace dot product over `dsub`-long list slices. */
  private def pqDotSub(dsub: Int, a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${dsub + 1}), i -> $a[i]*$b[i]))"

  /** The PQ fit + encode CTE chain (sub, b0..b{iters}, codes) against
    * an existing `nv` (vec_id, v) CTE — shared by the flat-PQ oracle
    * and the composed IVF-PQ oracle so both replay the identical
    * per-subspace k-means. */
  private[registry] def pqCodesCtes(dim: Int, m: Int, ksub: Int,
                                    iters: Int): String = {
    val dsub = dim / m
    def dotSub(a: String, b: String) = pqDotSub(dsub, a, b)
    val iterCtes = (1 to iters).map { it =>
      val prev = s"b${it - 1}"
      s"""pa$it AS (SELECT vec_id, j, code_id, xj FROM (
         |    SELECT s.vec_id, s.j, $prev.code_id, s.xj,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY ${dotSub("s.xj", s"$prev.scv")}
         |                      - 0.5 * ${dotSub(s"$prev.scv", s"$prev.scv")}
         |                      DESC, $prev.code_id) AS rn
         |    FROM sub s JOIN $prev ON s.j = $prev.j) WHERE rn = 1),
         |pm$it AS (SELECT j, code_id, d,
         |       (SUM(CAST(FLOOR(xj[d+1]*1000000) AS BIGINT)) / 1000000.0)
         |         / count(*) AS mval
         |     FROM pa$it CROSS JOIN range(0, $dsub) r(d)
         |     GROUP BY j, code_id, d),
         |pg$it AS (SELECT j, code_id, list(mval ORDER BY d) AS mv
         |       FROM pm$it GROUP BY j, code_id),
         |b$it AS (SELECT p.j, p.code_id, COALESCE(pg$it.mv, p.scv) AS scv
         |       FROM $prev p LEFT JOIN pg$it USING (j, code_id))"""
        .stripMargin
    }.mkString(",\n      ")
    s"""sub AS (SELECT vec_id, j, v[j*$dsub+1 : j*$dsub+$dsub] AS xj
              FROM nv CROSS JOIN range(0, $m) r(j)),
      b0 AS (SELECT j, vec_id AS code_id, xj AS scv FROM sub
             WHERE vec_id IN (SELECT vec_id FROM nv
                              ORDER BY vec_id LIMIT $ksub)),
      $iterCtes,
      codes AS (SELECT vec_id, j, code_id FROM (
          SELECT s.vec_id, s.j, b$iters.code_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.j
                   ORDER BY ${dotSub("s.xj", s"b$iters.scv")}
                            - 0.5 * ${dotSub(s"b$iters.scv", s"b$iters.scv")}
                            DESC, b$iters.code_id) AS rn
          FROM sub s JOIN b$iters ON s.j = b$iters.j) WHERE rn = 1)"""
  }

  private[registry] def pqTopKSql(dim: Int, m: Int, ksub: Int, k: Int,
                        shortlist: Int, iters: Int): String = {
    val dsub = dim / m
    def dotSub(a: String, b: String): String = pqDotSub(dsub, a, b)
    s"""
      WITH nv AS (SELECT vec_id, $NormSql AS v FROM embeddings),
      ${pqCodesCtes(dim, m, ksub, iters)},
      q AS (SELECT vec_id AS query_id, j, xj AS qj FROM sub
            WHERE vec_id < 10),
      lut AS (SELECT q.query_id, b.j, b.code_id,
               CAST(FLOOR(${dotSub("q.qj", "b.scv")} * 1000000) AS BIGINT)
                 AS pd
              FROM q JOIN b$iters b ON q.j = b.j),
      adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(SUM(l.pd) AS BIGINT) AS score_micro
                 FROM codes c
                 JOIN lut l ON l.j = c.j AND l.code_id = c.code_id
                 WHERE l.query_id <> c.vec_id
                 GROUP BY 1, 2),
      short AS (SELECT query_id, neighbor_id FROM
          (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, neighbor_id) AS srn FROM adc)
        WHERE srn <= $shortlist),
      rer AS (SELECT s.query_id, s.neighbor_id,
                ${dotSql("qn.v", "cn.v")} AS cosine
              FROM short s
              JOIN nv qn ON qn.vec_id = s.query_id
              JOIN nv cn ON cn.vec_id = s.neighbor_id)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rer
            WHERE NOT isnan(cosine))
      WHERE rank <= $k"""
  }

  /** DuckDB twin of Similarity.ivfPqTopKWith: the IVF fit/assignment
    * CTEs (`ivfAssignCtes` — identical to the flat-IVF oracle) and the
    * PQ fit/encode CTEs (`pqCodesCtes` — identical to the flat-PQ
    * oracle) composed: each query's nProbe nearest cells restrict
    * WHICH code rows the integer ADC sum scores, then the shortlist is
    * exact-reranked. Every shortlist decision replays the same
    * micro-quantized integers as the Spark side. */
  private[registry] def ivfPqTopKSql(dim: Int, m: Int, ksub: Int,
                                     k: Int, nProbe: Int,
                                     shortlist: Int, iters: Int): String = {
    val dsub = dim / m
    def dotSub(a: String, b: String): String = pqDotSub(dsub, a, b)
    s"""
      WITH ${ivfAssignCtes(iters)},
      ${pqCodesCtes(dim, m, ksub, iters)},
      q AS (SELECT vec_id AS query_id, v AS qv FROM nv WHERE vec_id < 10),
      qp AS (SELECT query_id, centroid_id FROM (
          SELECT q.query_id, c$iters.centroid_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${dotSql("q.qv", s"c$iters.cv")} DESC,
                            c$iters.centroid_id) AS rn
          FROM q CROSS JOIN c$iters) WHERE rn <= $nProbe),
      qs AS (SELECT vec_id AS query_id, j, xj AS qj FROM sub
             WHERE vec_id < 10),
      lut AS (SELECT qs.query_id, b.j, b.code_id,
               CAST(FLOOR(${dotSub("qs.qj", "b.scv")} * 1000000) AS BIGINT)
                 AS pd
              FROM qs JOIN b$iters b ON qs.j = b.j),
      adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                   CAST(SUM(l.pd) AS BIGINT) AS score_micro
                 FROM codes c
                 JOIN ca ON ca.vec_id = c.vec_id
                 JOIN qp ON qp.centroid_id = ca.centroid_id
                 JOIN lut l ON l.query_id = qp.query_id
                           AND l.j = c.j AND l.code_id = c.code_id
                 WHERE l.query_id <> c.vec_id
                 GROUP BY 1, 2),
      short AS (SELECT query_id, neighbor_id FROM
          (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, neighbor_id) AS srn FROM adc)
        WHERE srn <= $shortlist),
      rer AS (SELECT s.query_id, s.neighbor_id,
                ${dotSql("qn.v", "cn.v")} AS cosine
              FROM short s
              JOIN nv qn ON qn.vec_id = s.query_id
              JOIN nv cn ON cn.vec_id = s.neighbor_id)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rer
            WHERE NOT isnan(cosine))
      WHERE rank <= $k"""
  }

  /** The 0.8-Jaccard pair graph of `docsSel` (any (doc_id, text)
    * relation) as CTEs through the symmetric `edges` set — shared by
    * the clustering oracles and graph_pagerank. */
  private[registry] def pairGraphCtes(docsSel: String): String =
    s"""docs AS ($docsSel),
      tokraw AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM docs),
      toks AS (
        SELECT doc_id, token FROM tokraw
        WHERE token NOT IN (SELECT token FROM tokraw
                            GROUP BY token HAVING count(*) > 500)),
      sizes AS (SELECT doc_id, count(*) AS n_tokens FROM tokraw GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter * 1.0 / (sa.n_tokens + sb.n_tokens - n_inter) >= 0.8),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs)"""

  /** Min-label-propagation connected-components CTE block over the
    * 0.8-Jaccard pair graph — the recursive-CTE twin of
    * Dedup.connectedComponents' pointer jumping. Emits the `walk`
    * CTE; callers append their own final aggregation. Shared by
    * dedup_clusters, dedup_keep_representative and the curation
    * pipeline oracle. */
  private[registry] def clustersCtes(docsSel: String): String =
    s"""${pairGraphCtes(docsSel)},
      walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM docs
        UNION
        SELECT e.src, w.lbl FROM walk w JOIN edges e ON e.dst = w.node)"""

  private[registry] val DedupClustersSql: String =
    s"""WITH RECURSIVE
      ${clustersCtes("SELECT doc_id, text FROM documents")}
      SELECT node AS doc_id, min(lbl) AS component
      FROM walk GROUP BY node"""

  /** Mega-cell SPLIT replay (the r17 hierarchical fallback in
    * [[graft.ext.Similarity.semDedupFrom]]): members of cells above
    * `maxCell` are sub-partitioned by a grouped SEED-VORONOI pass —
    * per-parent seeds (each parent's nSub lowest vec_ids' own
    * vectors, nSub = the autoCentroids formula on the cell's own n),
    * max-dot assignment with the (dot desc, sub_id asc) tie order,
    * deliberately zero Lloyd refinement (refinement re-collapses a
    * dense blob's sub-centroids into bit-identical means and the
    * tie-break funnels the cell back together — see
    * Similarity.subClusterAssign) — then the centrality-order removal
    * scan runs inside sub-cells; sub-cells still over the cap keep
    * their rows (the recursion floor). Emits CTEs ending in `${p}rm`
    * (vec_id, removed_by) — UNION with the small-cell removal set.
    * `ranked` must expose (vec_id, centroid_id, v, cell_rank); `sz`
    * (centroid_id, n_cell). Every arithmetic step mirrors the grouped
    * Spark pass term for term, so the split branch is hash-verifiable
    * like the flat fit (validated against a derived mega-cell corpus
    * — see NOTES_r17). Inert at every registered scale (no cell
    * exceeds 4096 at sf0.01 or sf1). */
  private[registry] def semDedupSplitCtes(p: String, ranked: String,
                                          sz: String, eps: Double,
                                          maxCell: Long = 4096L): String = {
    s"""${p}mega AS MATERIALIZED (
        SELECT r.vec_id, r.centroid_id, r.v, r.cell_rank, z.n_cell
        FROM $ranked r JOIN $sz z USING (centroid_id)
        WHERE z.n_cell > $maxCell),
      ${p}ns AS (SELECT centroid_id, GREATEST(4, LEAST(4096,
            CASE WHEN n_cell <= 1 THEN 1
                 ELSE (CAST(1 AS BIGINT)
                       << CAST((length(bin(n_cell - 1)) + 1) // 2
                          AS INTEGER)) END)) AS ns
        FROM (SELECT DISTINCT centroid_id, n_cell FROM ${p}mega)),
      ${p}s0 AS (SELECT centroid_id, vec_id AS sub_id, v AS scv FROM (
          SELECT m.centroid_id, m.vec_id, m.v,
                 row_number() OVER (PARTITION BY m.centroid_id
                   ORDER BY m.vec_id) AS ir, n.ns
          FROM ${p}mega m JOIN ${p}ns n USING (centroid_id))
        WHERE ir <= ns),
      ${p}sca AS MATERIALIZED (
        SELECT vec_id, centroid_id, sub_id, v, cell_rank FROM (
          SELECT m.vec_id, m.centroid_id, s.sub_id, m.v, m.cell_rank,
                 row_number() OVER (PARTITION BY m.vec_id
                   ORDER BY ${dotSql("m.v", "s.scv")} DESC, s.sub_id) AS rn
          FROM ${p}mega m JOIN ${p}s0 s ON s.centroid_id = m.centroid_id)
        WHERE rn = 1),
      ${p}ssz AS (SELECT centroid_id, sub_id, count(*) AS n_sub
                  FROM ${p}sca GROUP BY 1, 2),
      ${p}rm AS (SELECT a.vec_id, min(b.vec_id) AS removed_by
             FROM ${p}sca a
             JOIN ${p}ssz z ON z.centroid_id = a.centroid_id
                           AND z.sub_id = a.sub_id
             JOIN ${p}sca b ON b.centroid_id = a.centroid_id
                           AND b.sub_id = a.sub_id
                           AND b.cell_rank < a.cell_rank
             WHERE z.n_sub <= $maxCell
               AND ${dotSql("a.v", "b.v")} >= $eps
             GROUP BY 1)"""
  }

  /** SemDeDup replay: the shared Lloyd-fit CTEs, centrality rank per
    * cell (dot to the final centroid, id tiebreak), then the
    * earlier-member scan — removed iff an earlier-ranked cell-mate
    * sits within eps cosine; mega cells (> 4096) SPLIT via
    * [[semDedupSplitCtes]] exactly like the Spark fallback. The rank
    * CTE is MATERIALIZED: DuckDB inlines plain CTEs per consumer, and
    * three consumers re-evaluating the Lloyd chain OOM'd the sf1 gate
    * before the fix (`8b5763a`). Shared by dedup_semdedup and the
    * per-cell report. */
  private[registry] val SemDedupSql: String = s"""
      WITH ${ivfAssignCtes(2)},
      r AS MATERIALIZED (SELECT ca.vec_id, ca.centroid_id, ca.v,
              row_number() OVER (PARTITION BY ca.centroid_id
                ORDER BY ${dotSql("ca.v", "c2.cv")} DESC, ca.vec_id)
                AS cell_rank
            FROM ca JOIN c2 USING (centroid_id)),
      sz AS (SELECT centroid_id, count(*) AS n_cell FROM r GROUP BY 1),
      rm AS (SELECT a.vec_id, min(b.vec_id) AS removed_by
             FROM r a
             JOIN sz ON sz.centroid_id = a.centroid_id
             JOIN r b ON b.centroid_id = a.centroid_id
                      AND b.cell_rank < a.cell_rank
             WHERE sz.n_cell <= 4096
               AND ${dotSql("a.v", "b.v")} >= 0.3
             GROUP BY 1),
      ${semDedupSplitCtes("sp_", "r", "sz", eps = 0.3)},
      rmall AS (SELECT vec_id, removed_by FROM rm
                UNION ALL SELECT vec_id, removed_by FROM sp_rm)
      SELECT r.vec_id, r.centroid_id,
             CAST(r.cell_rank AS BIGINT) AS cell_rank,
             rmall.removed_by,
             CAST(CASE WHEN rmall.removed_by IS NULL THEN 0 ELSE 1 END
               AS BIGINT) AS is_removed
      FROM r LEFT JOIN rmall USING (vec_id)"""

  /** SQL twin of Sampling.bucket (salt ""). */
  private[registry] def bucketSql(key: String): String =
    s"(${hex60Sql(s"CAST($key AS VARCHAR)")} % ${Sampling.Buckets})"

  /** Distinct (id, word-n-shingle) rows over a filtered documents
    * slice — the generalized ShinglesCte (any n, any filter). */
  private[registry] def shingleSetSql(n: Int, filter: String, idAs: String): String =
    s"""(SELECT DISTINCT doc_id AS $idAs,
       |    unnest(list_transform(
       |      range(len(regexp_split_to_array(trim(text), '\\s+')) - ${n - 1}),
       |      i -> array_to_string(
       |        (regexp_split_to_array(trim(text), '\\s+'))[i+1:i+$n], ' ')))
       |      AS shingle
       |  FROM documents WHERE $filter)""".stripMargin

  /** The MinHash-LSH pair oracle (signatures -> band buckets ->
    * candidate pairs -> match-fraction estimate), with an optional
    * extra predicate on the final pair set — shared by the full and
    * incremental dedup oracles. */
  private[registry] def minhashPairsSql(extraWhere: String = ""): String = s"""
      WITH $ShinglesCte,
      bs AS (SELECT doc_id, ${hex60Sql("shingle")} % ${Dedup.MinhashP} AS b
             FROM sh),
      sig AS (SELECT doc_id,
       $MinhashSigCols
       FROM bs GROUP BY doc_id),
      bands AS (SELECT doc_id, unnest([
         $MinhashBandStructs]) AS bk FROM sig),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM bands x JOIN bands y
                 ON x.bk = y.bk AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b, est_jaccard FROM (
        SELECT doc_a, doc_b,
               ($MinhashMatchTerms) * 1.0 / 32 AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = cand.doc_a
        JOIN sig sb ON sb.doc_id = cand.doc_b)
      WHERE est_jaccard >= 0.5$extraWhere"""

  /** The greedy first-fit recursive walk shared by both packing
    * oracles; `select` picks the exposed columns (walk's `fill` is
    * the running total AFTER the current doc, so its bin offset is
    * `fill - n_tokens`). */
  private[registry] def packWalkSql(select: String,
                                    order: String = "doc_id"): String = s"""
      WITH RECURSIVE ng_t AS (SELECT GREATEST(8, LEAST(1048576,
            CASE WHEN m <= 1 THEN 1
                 ELSE (CAST(1 AS BIGINT)
                       << CAST(length(bin(m - 1)) AS INTEGER)) END)) AS ng
          FROM (SELECT (count(*) + 63) // 64 AS m FROM documents)),
      g AS (SELECT doc_id,
          CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
          ${bucketSql("doc_id")} % ng AS pack_group,
          row_number() OVER (PARTITION BY ${bucketSql("doc_id")} % ng
            ORDER BY $order) AS rn
        FROM documents CROSS JOIN ng_t),
      walk(pack_group, rn, doc_id, n_tokens, bin_id, fill) AS (
        SELECT pack_group, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT), n_tokens
        FROM g WHERE rn = 1
        UNION ALL
        SELECT g.pack_group, g.rn, g.doc_id, g.n_tokens,
               CASE WHEN w.fill + g.n_tokens > 512
                    THEN w.bin_id + 1 ELSE w.bin_id END,
               CASE WHEN w.fill + g.n_tokens > 512
                    THEN g.n_tokens ELSE w.fill + g.n_tokens END
        FROM walk w JOIN g
          ON g.pack_group = w.pack_group AND g.rn = w.rn + 1)
      SELECT $select FROM walk"""

  /** First-fit-decreasing twin of [[packWalkSql]]: the recursive walk
    * carries the OPEN-BIN fill list as list-typed state; each step
    * places its document in the first bin with room (the index
    * comprehension) or appends a new bin. Visit order is
    * (n_tokens desc, doc_id) — Packing.packFirstFitDecreasing's. */
  private[registry] def packFfdWalkSql(select: String): String = {
    // 1-based index of the first open bin with room, or len+1 (new bin)
    val idx = s"""coalesce([CAST(i AS BIGINT)
         FOR i IN range(1, len(w.fills)+1)
         IF w.fills[CAST(i AS INTEGER)] + g.n_tokens <= 512][1],
       CAST(len(w.fills)+1 AS BIGINT))"""
    s"""
      WITH RECURSIVE ng_t AS (SELECT GREATEST(8, LEAST(1048576,
            CASE WHEN m <= 1 THEN 1
                 ELSE (CAST(1 AS BIGINT)
                       << CAST(length(bin(m - 1)) AS INTEGER)) END)) AS ng
          FROM (SELECT (count(*) + 63) // 64 AS m FROM documents)),
      g AS (SELECT doc_id,
          CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
          ${bucketSql("doc_id")} % ng AS pack_group,
          row_number() OVER (PARTITION BY ${bucketSql("doc_id")} % ng
            ORDER BY n_tokens DESC, doc_id) AS rn
        FROM documents CROSS JOIN ng_t),
      walk(pack_group, rn, doc_id, n_tokens, bin_id, fills) AS (
        SELECT pack_group, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT), [n_tokens]
        FROM g WHERE rn = 1
        UNION ALL
        SELECT g.pack_group, g.rn, g.doc_id, g.n_tokens,
               $idx - 1,
               CASE WHEN $idx <= len(w.fills)
                    THEN list_transform(range(1, len(w.fills)+1),
                      i -> CASE WHEN i = $idx
                                THEN w.fills[CAST(i AS INTEGER)]
                                     + g.n_tokens
                                ELSE w.fills[CAST(i AS INTEGER)] END)
                    ELSE list_append(w.fills, g.n_tokens) END
        FROM walk w JOIN g
          ON g.pack_group = w.pack_group AND g.rn = w.rn + 1)
      SELECT $select FROM walk"""
  }

  /** The curation-v2 CTE chain (raw -> c4 -> exact-dedup -> near-dup
    * representatives -> decontaminated train slice -> budget cumsum),
    * shared by the flagship oracle (final budget select) and the
    * funnel audit (per-stage counts). Stage boundaries: base, c4, ex,
    * corpus, clean, sel. */
  private[registry] def curationV2Ctes: String = s"""
      WITH RECURSIVE
      base AS (SELECT doc_id, source, text,
          regexp_split_to_array(trim(text), '\\s+') AS btoks,
          ' ' || lower(text) || ' ' AS p
        FROM documents),
      c4 AS (SELECT doc_id, source, text FROM base
        WHERE len(btoks) >= 10
          AND (contains(p, ' the ') OR contains(p, ' a '))
          AND CAST(len(list_distinct(btoks)) AS BIGINT) * 1000000
              // CAST(len(btoks) AS BIGINT) >= 300000
          AND NOT contains(lower(text), '{')
          AND NOT contains(lower(text), 'lorem ipsum')),
      ex AS (SELECT doc_id, source, text FROM (
          SELECT doc_id, source, text,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
          FROM c4) WHERE doc_id = keeper),
      ${clustersCtes("SELECT doc_id, text FROM ex")},
      comp AS (SELECT node AS doc_id, min(lbl) AS component
               FROM walk GROUP BY node),
      corpus AS (SELECT ex.doc_id, ex.source, ex.text FROM ex
                 JOIN comp USING (doc_id) WHERE component = ex.doc_id),
      train AS (SELECT * FROM corpus WHERE doc_id % 20 <> 0),
      shA AS (SELECT DISTINCT doc_id AS train_id,
          unnest(list_transform(
            range(len(regexp_split_to_array(trim(text), '\\s+')) - 12),
            i -> array_to_string(
              (regexp_split_to_array(trim(text), '\\s+'))[i+1:i+13], ' ')))
            AS shingle
        FROM train),
      hA AS (SELECT train_id, ${hex60Sql("shingle")} AS h FROM shA),
      hot AS (SELECT h FROM hA GROUP BY h HAVING count(*) > 500),
      hA2 AS (SELECT train_id, h FROM hA
              WHERE h NOT IN (SELECT h FROM hot)),
      shB AS ${shingleSetSql(13, "doc_id % 20 = 0", "test_id")},
      hB AS (SELECT test_id, ${hex60Sql("shingle")} AS h FROM shB),
      ov AS (SELECT train_id, test_id, count(*) AS n_shared
             FROM hA2 JOIN hB USING (h) GROUP BY 1, 2),
      bad AS (SELECT DISTINCT train_id FROM ov WHERE n_shared >= 5),
      clean AS (SELECT doc_id, source, text FROM train
                WHERE doc_id NOT IN (SELECT train_id FROM bad)),
      t2 AS (SELECT doc_id, source, text,
          ' ' || lower(text) || ' ' AS p FROM clean),
      m AS (SELECT doc_id, source,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS n_tokens,
          length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
            AS n_punct,
          ${scoreSql("en")} AS c_en
        FROM t2),
      q2 AS (SELECT doc_id, source, n_tokens,
          least(1.0, n_tokens / 50.0) * 0.4
            + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
            + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
            AS quality_score
        FROM m),
      q3 AS (SELECT doc_id, source, n_tokens, quality_score FROM q2
             WHERE NOT isnan(quality_score)),
      sel AS (SELECT source, doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY quality_score DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM q3)"""

}
