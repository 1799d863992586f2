package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale document pipelines: token
  * counting, language ID, quality scoring, fingerprinting.
  *
  * Everything is pure Column algebra (codegen'd, no UDFs), so each
  * operator is a narrow per-row map — embarrassingly parallel at any
  * scale, no shuffle.
  */
object TextOps {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: alpha runs count 1 each, digits 1 each,
    * punctuation 1 each — a cheap deterministic proxy for tokenizer
    * budget accounting. */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Stopword lists for the n-gram language-ID heuristic (re-export;
    * the one source of truth lives beside the native expression —
    * [[graft.functions.TextHashUtil.LangStopwordLists]]). */
  val LangStopwords: Seq[(String, Seq[String])] =
    graft.functions.TextHashUtil.LangStopwordLists
      .toSeq.map { case (l, ws) => l -> ws.toSeq }

  /** Per-language stopword-hit score: ONE lower+pad and an
    * allocation-free indexOf scan per word
    * ([[graft.functions.LangHits]] — codegen'd, value-identical to
    * the replace-diff Column algebra the DuckDB oracle twins replay;
    * LangHitsSpec pins it against that reference). */
  def langScore(text: Column, lang: String): Column =
    graft.functions.VectorFunctions.langHits(text,
      LangStopwords.toMap.apply(lang))

  /** Heuristic language ID: argmax of stopword hits with a fixed
    * priority order (en > es > de > fr) for ties — native one-pass
    * form ([[graft.functions.LangIdArgmax]]; one lower+pad per ROW
    * instead of 20 regex-replace rebuilds, value-identical to the
    * when-chain the oracle twins replay; LangHitsSpec pins it against
    * that reference). */
  def langId(text: Column): Column =
    graft.functions.VectorFunctions.langIdArgmax(text)

  /** Quality-score components: n_chars, n_tokens, avg token length,
    * punctuation ratio, stopword ratio, composite score in [0,1]-ish. */
  /** 0/0 as NaN, matching SQL double division: Spark 4's ANSI mode
    * makes even double `/` THROW on a zero divisor, so an empty
    * document (n_chars = 0) would kill the whole job instead of
    * yielding the NaN score the oracles and the downstream
    * `filter(!isnan(...))` consumers are written for. The zero-divisor
    * branch is only reachable with a zero numerator here (empty text
    * zeroes every numerator; n_tokens >= 1 always), so NaN — not
    * Infinity — is the one IEEE answer this guard must produce. */
  private def nanDiv(num: Column, den: Column): Column =
    when(den === 0, lit(Double.NaN)).otherwise(num / den)

  def withQualityScore(df: DataFrame, text: Column): DataFrame = {
    val nChars = length(text).cast("long")
    val nTokens = tokenCount(text)
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len",
        nanDiv(length(regexp_replace(text, " ", "")) * 1.0, col("n_tokens")))
      .withColumn("punct_ratio",
        nanDiv((length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", "")))
          * 1.0, col("n_chars")))
      .withColumn("stopword_ratio",
        nanDiv(langScore(text, "en") * 1.0, col("n_tokens")))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / 50.0) * 0.4
          + least(lit(1.0), col("stopword_ratio") * 5.0) * 0.3
          + (lit(1.0) - least(lit(1.0), col("punct_ratio") * 10.0)) * 0.3)
  }

  /** Normalized-content fingerprint: md5 of lower(trim(ws-collapsed)).
    * Identical output in any engine with md5. */
  def contentFingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** 60-bit integer hash: the first 15 hex chars of md5, parsed base-16.
    * ENGINE-PORTABLE by construction — any engine with md5 computes the
    * identical value (DuckDB: `CAST('0x'||substr(md5(s),1,15) AS
    * BIGINT)`), which is what makes minhash/simhash oracle-checkable
    * where xxhash64 was not. 15 hex digits < 2^63, so the parse is
    * exact and non-negative. */
  def hex60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of [[hex60]] (used to derive deterministic
    * constants like LSH plane weights that must match the SQL oracle). */
  def hex60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Winnowing-style set fingerprint: min over md5(shingle) — a
    * deterministic, order-free representative of the shingle set
    * (the "rolling hash" document fingerprint at set granularity).
    * The word n-shingles come from the native
    * [[graft.functions.WordShingleStrings]], so the lambda only
    * hashes; NULL when the text has fewer than `n` tokens. */
  def shingleFingerprint(text: Column, n: Int): Column =
    array_min(transform(
      graft.functions.VectorFunctions.wordShingleStrings(text, n),
      s => md5(s)))

  /** PII redaction patterns (RE2-safe subset — no backrefs or
    * lookarounds, so the same pattern runs in Spark's Java regex and
    * RE2-based engines identically): emails, 7+-digit runs (phones,
    * account numbers), IPv4. Deliberately conservative — a corpus
    * scrubber prefers false positives on digit runs over leaks. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiDigits = "[0-9][0-9 ()+.-]{5,}[0-9]"
  val PiiIpv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Redact PII spans with typed placeholders. Pure per-row regex maps
    * — narrow, codegen'd, no shuffle. */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, PiiEmail, "<EMAIL>")
    val noIp = regexp_replace(noEmail, PiiIpv4, "<IP>")
    regexp_replace(noIp, PiiDigits, "<NUMBER>")
  }

  /** Repetition signals: the highest single-token share of a document
    * (`top_token_ratio`) and distinct-token fraction (`ttr`, type-token
    * ratio) — boilerplate/spam detectors that complement
    * [[withQualityScore]]. One explode + one two-level aggregate. */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
      .select(col("doc_id"), col("n_tokens"),
        (col("top_tf") * 1.0 / col("n_tokens")).as("top_token_ratio"),
        (col("n_distinct") * 1.0 / col("n_tokens")).as("ttr"))
  }

  /** Rolling polynomial hash parameters: base/modulus sized so every
    * intermediate fits exactly in a double (cross-engine exact). */
  val RollBase = 257L
  val RollMod = 1000003L
  val RollWindow = 16
}
