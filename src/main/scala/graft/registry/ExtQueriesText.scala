package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{AsOfJoin, Audio, Corpus, Dedup, Graph, Multimodal, Packing, RangeJoin, Sampling, Similarity, Sketches, TextOps, Video, Windows}


import QueryShared._

/** Per-document text analysis: token stats, language id, quality scores, fingerprints, PII, outlier stats.
  *
  * One family slice of the extension registry — [[ExtQueries]]
  * aggregates every slice behind the unchanged `queries` /
  * `oracleSql` surface (the r10 split of the 4.4k-line
  * monolith; entries are verbatim, no behavior change).
  */
object ExtQueriesText {

  val queries: Map[String, Q] = Map(
    "text_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        TextOps.bpeCount(col("text")).as("n_bpe_tokens"))),
    "text_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"))),
    "text_quality_score" -> ((s, dir) =>
      TextOps.withQualityScore(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text")).drop("text")),
    // unigram-LM surprisal: the language-model-flavored quality
    // signal — mean floor-log2 token surprisal under the corpus's own
    // unigram distribution (integer-exact, the tfidf/bin discipline)
    "text_unigram_surprisal" -> ((s, dir) =>
      Corpus.unigramSurprisal(t(s, dir, "documents"), col("doc_id"),
        col("text"))),
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("content_md5"),
        TextOps.shingleFingerprint(col("text"), 3).as("shingle_md5_min"))),
    "text_redact_pii" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        md5(TextOps.redactPii(col("text"))).as("redacted_md5"))),
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents"), col("doc_id"),
        col("text"))),
    // true rolling-hash (winnowing) fingerprint over character windows,
    // in O(n) per document by the native RollingMinHash; the oracle SQL
    // spells out the same O(n*w) window sum, and TextOpsSpec pins the
    // native value against a Column-algebra reference
    "text_rolling_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.VectorFunctions.rollingMinHash(col("text"),
          TextOps.RollWindow, TextOps.RollBase, TextOps.RollMod)
          .as("roll_min"))),
    // integer-exact TF-IDF: idf as (n*1e6) div df — the monotone
    // integer proxy for ln(n/df); libm's ln is NOT guaranteed
    // bit-identical across engines, integer division is. Top-3 terms
    // per doc with a (score desc, token) total order. The window
    // partitions by doc_id (high-cardinality key: hash-spread, no
    // global sort); the df side joins on token.
    //
    // The tf frame feeds BOTH the score side and the df aggregate:
    // materialized once (r13 — the worst sf1 scaler at 7x turned out
    // to be the lazy plan scanning + exploding + tf-aggregating the
    // whole corpus TWICE, once per consumer; a df-cap would have cut
    // nothing: the corpus vocabulary is 310 tokens, none above n/10).
    // At 100 TB that is one corpus-sized explode+agg instead of two,
    // and the df side becomes a vocabulary-sized re-aggregation of the
    // materialized pair frame.
    "text_tfidf_top_terms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      // NOT Spread (r20, A/B-measured in-process: ON min 1.33 vs OFF
      // 1.01): the tokenize+explode inflates total CPU under
      // concurrent tasks more than the added parallelism pays back
      // for this one-pass aggregate
      val tf = graft.ext.Materialize.eager(
        docs.select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf")))
      val dfr = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      // tf * idf_ppm runs in decimal128 (HUGEINT in the oracle): at
      // n ~ 1e9 docs idf_ppm reaches ~1e15, so a rare high-tf term
      // (tf >~ 9e3) would overflow an int64 product and corrupt the
      // RANKING. Ranking therefore orders on the decimal; the emitted
      // score column casts back to int64 (exact while tf*n*1e6 < 2^63,
      // i.e. every realistic top-3 row; the pmi/gini discipline)
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_dec").desc, col("token"))
      tf.join(dfr, Seq("token"))
        .withColumn("idf_ppm", expr(s"(${n}L * 1000000L) div df"))
        .withColumn("score_dec",
          col("tf").cast(dec) * col("idf_ppm").cast(dec))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"),
          col("score_dec").cast("long").as("score"), col("rnk"))
    }),
    // canonical text normalization: lowercase, collapse whitespace
    // runs to one space, trim — the first pass of every dedup /
    // tokenize chain. Pure per-row narrow map: no shuffle, fully
    // codegen'd, only (doc_id, text) reaches the scan
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(lower(trim(col("text"))), "\\s+", " ")
            .as("norm_text"),
          length(col("text")).cast("long").as("n_chars_raw"))
        .withColumn("n_chars_norm",
          length(col("norm_text")).cast("long"))),
    // per-source winsorization: clamp token counts into the nearest-
    // rank [p05, p95] band — the outlier-robust length normalizer
    // before source mixing. Nearest-rank (value at rank ceil(q*n),
    // integer (q*n+99) div 100) is exactly replayable cross-engine
    // where interpolated percentiles are not. The rank walk runs on a
    // per-source (n_tokens, count) HISTOGRAM — vocabulary-sized, so
    // the window sort never touches the doc stream and a hot source
    // cannot skew it; bounds broadcast back onto the scan
    "quality_winsorize_per_source" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("source"), TextOps.tokenCount(col("text")).as("n_tokens"))
      val hist = d.groupBy(col("source"), col("n_tokens"))
        .agg(count(lit(1)).as("c"))
      val bySrc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      val cum = hist
        .withColumn("cum", sum(col("c")).over(
          bySrc.orderBy(col("n_tokens"))))
        .withColumn("n", sum(col("c")).over(bySrc))
      val bounds = cum
        .withColumn("lo_rank", expr("(5 * n + 99) div 100"))
        .withColumn("hi_rank", expr("(95 * n + 99) div 100"))
        .groupBy(col("source"))
        .agg(min(when(col("cum") >= col("lo_rank"), col("n_tokens")))
            .as("lo"),
          min(when(col("cum") >= col("hi_rank"), col("n_tokens")))
            .as("hi"))
      d.join(broadcast(bounds), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("lo"), col("hi"),
          greatest(col("lo"), least(col("hi"), col("n_tokens")))
            .as("n_tokens_w"))
    }),
    // integer-exact MAD outliers: flag docs whose token count sits
    // more than 3 median-absolute-deviations from the per-source
    // median — the robust sibling of quality_outlier_zscore (one wild
    // doc cannot drag the center the way it drags a mean). Both
    // medians are nearest-rank (value at rank ceil(n/2)) walked over
    // per-source HISTOGRAMS — first of n_tokens, then of |dev| —
    // so nothing ever sorts the doc stream and the arithmetic is
    // int64 end-to-end (no squares: |dev| and 3*MAD stay below the
    // token-count bound). A source with MAD 0 (constant lengths)
    // flags every non-median doc; documented, intended
    "quality_outlier_mad" -> ((s, dir) => {
      val bySrc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      def medianOf(df: DataFrame, v: String, out: String): DataFrame =
        df.groupBy(col("source"), col(v)).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(bySrc.orderBy(col(v))))
          .withColumn("n", sum(col("c")).over(bySrc))
          .groupBy(col("source"))
          .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col(v)))
            .as(out))
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("source"), TextOps.tokenCount(col("text")).as("n_tokens"))
      val med = medianOf(d, "n_tokens", "med")
      val dev = d.join(broadcast(med), Seq("source"))
        .withColumn("dev", abs(col("n_tokens") - col("med")))
      val mad = medianOf(dev, "dev", "mad")
      dev.join(broadcast(mad), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("med"), col("mad"),
          (col("dev") > lit(3L) * col("mad")).as("is_outlier"))
    }),
    // language-ID confusion matrix: the n-gram heuristic's prediction
    // vs the labeled lang column, with integer-ppm row shares — the
    // eval-harness operator that turns a classifier into a gated
    // metric (a heuristic regression shifts a cell and fails the
    // hash). Tiny lang x lang hash-agg; shares ride a window over the
    // matrix so no join can drop a row
    "text_langid_confusion" -> ((s, dir) => {
      val m = t(s, dir, "documents").select(col("lang"),
          TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val byTrue = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
      m.withColumn("total", sum(col("n")).over(byTrue))
        .select(col("lang"), col("lang_pred"), col("n"), col("total"),
          expr("n * 1000000L div total").as("share_ppm"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "text_token_count" ->
      """SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
          AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
          AS BIGINT) AS n_bpe_tokens
        FROM documents""",
    "text_lang_id" -> s"""$DocsNormCte,
      s AS (SELECT doc_id,
              ${scoreSql("en")} AS c_en, ${scoreSql("es")} AS c_es,
              ${scoreSql("de")} AS c_de, ${scoreSql("fr")} AS c_fr
            FROM t)
      SELECT doc_id,
             CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
                  WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
                  WHEN c_de >= c_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM s""",
    "text_quality_score" -> s"""$DocsNormCte,
      m AS (SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                AS n_tokens,
              length(replace(text, ' ', '')) AS n_nonspace,
              length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                AS n_punct,
              ${scoreSql("en")} AS c_en
            FROM t)
      SELECT doc_id, n_chars, n_tokens,
             n_nonspace * 1.0 / n_tokens AS avg_token_len,
             n_punct * 1.0 / n_chars AS punct_ratio,
             c_en * 1.0 / n_tokens AS stopword_ratio,
             least(1.0, n_tokens / 50.0) * 0.4
               + least(1.0, (c_en * 1.0 / n_tokens) * 5.0) * 0.3
               + (1.0 - least(1.0, (n_punct * 1.0 / n_chars) * 10.0)) * 0.3
               AS quality_score
      FROM m""",
    "text_fingerprint" ->
      """WITH tok AS (SELECT doc_id,
            regexp_split_to_array(trim(text), '\s+') AS toks,
            md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_md5
          FROM documents)
        SELECT doc_id, content_md5,
               list_min(list_transform(range(len(toks) - 2),
                 i -> md5(array_to_string(toks[i+1:i+3], ' ')))) AS shingle_md5_min
        FROM tok""",

    "text_redact_pii" -> s"""
      SELECT doc_id,
             md5(regexp_replace(regexp_replace(regexp_replace(text,
               '${TextOps.PiiEmail}', '<EMAIL>', 'g'),
               '${TextOps.PiiIpv4}', '<IP>', 'g'),
               '${TextOps.PiiDigits}', '<NUMBER>', 'g')) AS redacted_md5
      FROM documents""",
    "text_repetition" -> """
      WITH toks AS (SELECT doc_id,
              unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2)
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             MAX(tf) * 1.0 / CAST(SUM(tf) AS BIGINT) AS top_token_ratio,
             COUNT(*) * 1.0 / CAST(SUM(tf) AS BIGINT) AS ttr
      FROM tf GROUP BY doc_id""",
    "text_rolling_fingerprint" -> {
      // window hash per 1-based offset i: sum_j unicode(s[i+j]) * B^(15-j) mod M
      val powers = (0 until 16).map(j =>
        Seq.fill(15 - j)(257L).foldLeft(1L)((a, b) => a * b % 1000003L))
      val terms = (0 until 16).map(j =>
        s"(CAST(unicode(substr(text, CAST(i+$j AS INTEGER), 1)) AS BIGINT) * ${powers(j)} % 1000003)")
        .mkString(" + ")
      s"""SELECT doc_id,
            CASE WHEN length(text) >= 16 THEN
              list_min(list_transform(range(1, length(text) - 14),
                i -> ($terms) % 1000003))
            ELSE NULL END AS roll_min
          FROM documents"""
    },
    // bits(term) = length(bin(N // cnt)) — the engine-portable
    // floor(log2)+1 (vocab_freq_histogram's idiom); per-doc mean as
    // exact integer floor-div ppm
    "text_unigram_surprisal" -> """
      WITH tok AS (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\s+'))
                       AS term FROM documents),
      v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
            FROM tok GROUP BY 1),
      tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v),
      b AS (SELECT term, CAST(length(bin(n_total // cnt)) AS BIGINT)
              AS bits
            FROM v CROSS JOIN tt)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(bits) AS BIGINT) AS sum_bits,
             CAST(sum(bits) AS BIGINT) * 1000000
               // CAST(count(*) AS BIGINT) AS mean_bits_ppm
      FROM tok JOIN b USING (term) GROUP BY doc_id""",
    // integer idf replay: same (n*1e6) div df proxy, same tie order
    "text_tfidf_top_terms" -> """
      WITH tk AS (SELECT doc_id,
                    unnest(regexp_split_to_array(trim(text), '\s+'))
                      AS token FROM documents),
      tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
             FROM tk GROUP BY 1, 2),
      dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1),
      sc AS (SELECT doc_id, tf.token, tf,
               CAST(tf AS HUGEINT) *
                 (((SELECT count(*) FROM documents) * 1000000) // df)
                 AS score
             FROM tf JOIN dfr USING (token)),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
            FROM sc)
      SELECT doc_id, token, tf, CAST(score AS BIGINT) AS score,
             CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 3""",
    // same lower/trim/collapse chain; 'g' flag = Spark's replace-all
    "text_normalize" -> """
      WITH n AS (SELECT doc_id,
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
            AS norm_text,
          CAST(length(text) AS BIGINT) AS n_chars_raw
        FROM documents)
      SELECT doc_id, norm_text, n_chars_raw,
             CAST(length(norm_text) AS BIGINT) AS n_chars_norm
      FROM n""",
    // same histogram cum-walk: value at rank ceil(q*n) via integer
    // (q*n+99)//100, clamp with greatest/least
    "quality_winsorize_per_source" -> """
      WITH d AS (SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      hist AS (SELECT source, n_tokens, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2),
      cum AS (SELECT source, n_tokens,
          CAST(sum(c) OVER (PARTITION BY source ORDER BY n_tokens)
            AS BIGINT) AS cum,
          CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM hist),
      b AS (SELECT source,
          min(CASE WHEN cum >= (5 * n + 99) // 100
              THEN n_tokens END) AS lo,
          min(CASE WHEN cum >= (95 * n + 99) // 100
              THEN n_tokens END) AS hi
        FROM cum GROUP BY 1)
      SELECT d.doc_id, d.source, d.n_tokens, b.lo, b.hi,
             greatest(b.lo, least(b.hi, d.n_tokens)) AS n_tokens_w
      FROM d JOIN b USING (source)""",
    // same two nearest-rank median walks over per-source histograms
    "quality_outlier_mad" -> """
      WITH d AS (SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      h1 AS (SELECT source, n_tokens, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2),
      c1 AS (SELECT source, n_tokens,
          CAST(sum(c) OVER (PARTITION BY source ORDER BY n_tokens)
            AS BIGINT) AS cum,
          CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM h1),
      med AS (SELECT source,
          min(CASE WHEN cum >= (n + 1) // 2 THEN n_tokens END) AS med
        FROM c1 GROUP BY 1),
      dv AS (SELECT d.doc_id, d.source, d.n_tokens, m.med,
          abs(d.n_tokens - m.med) AS dev
        FROM d JOIN med m USING (source)),
      h2 AS (SELECT source, dev, CAST(count(*) AS BIGINT) AS c
        FROM dv GROUP BY 1, 2),
      c2 AS (SELECT source, dev,
          CAST(sum(c) OVER (PARTITION BY source ORDER BY dev)
            AS BIGINT) AS cum,
          CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM h2),
      mad AS (SELECT source,
          min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
        FROM c2 GROUP BY 1)
      SELECT v.doc_id, v.source, v.n_tokens, v.med, a.mad,
             v.dev > 3 * a.mad AS is_outlier
      FROM dv v JOIN mad a USING (source)""",
    // same stopword-hit argmax chain as text_lang_id, joined to the
    // labeled column; shares ride a window over the tiny matrix
    "text_langid_confusion" -> s"""
      WITH t AS (SELECT doc_id, lang, text,
          ' ' || lower(text) || ' ' AS p FROM documents),
      s AS (SELECT lang,
              ${scoreSql("en")} AS c_en, ${scoreSql("es")} AS c_es,
              ${scoreSql("de")} AS c_de, ${scoreSql("fr")} AS c_fr
            FROM t),
      pr AS (SELECT lang, CASE
               WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr
                 THEN 'en'
               WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
               WHEN c_de >= c_fr THEN 'de'
               ELSE 'fr' END AS lang_pred
             FROM s),
      m AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
            FROM pr GROUP BY 1, 2),
      tt AS (SELECT lang, lang_pred, n,
          CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total
        FROM m)
      SELECT lang, lang_pred, n, total,
             CAST(n * 1000000 // total AS BIGINT) AS share_ppm
      FROM tt""",
  )
}
