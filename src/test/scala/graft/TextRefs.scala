package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ext.TextOps
import graft.ext.TextOps.{LangStopwords, RollBase, RollMod, RollWindow, tokens}

/** Column-algebra references of the native text kernels in
  * [[graft.functions.TextHashUtil]]. The production code calls the
  * native expressions only; these slower twins live beside the specs
  * that pin each native kernel equal to them, and they spell out the
  * same semantics the DuckDB oracle SQL replays:
  *  - [[keywordHitsRef]], [[langScoreRef]], [[langIdRef]]: `LangHits`
  *    and `LangIdArgmax` (LangHitsSpec)
  *  - [[wordShingles]]: `WordShingleStrings` and `ShingleHex60`
  *    (CorpusSpec, DedupSimilaritySpec, PropertySpec) and the exact
  *    shingle sets several specs compare against
  *  - [[rollingFingerprint]]: `RollingMinHash` (TextOpsSpec,
  *    GraftFunctionsSpec)
  *  - [[chunkedHof]], [[chunkedOverlapHof]]: `WordChunks` and
  *    `WordChunksStrided` (CorpusSpec)
  */
object TextRefs {

  /** Occurrences of ` word ` in the space-padded lowered text —
    * replace-based counting, no regex, identical semantics in any SQL
    * engine. Matches are non-overlapping, so immediately repeated words
    * ("the the the") count n/2 rounded up, not n — acceptable for the
    * ratio heuristics these scores feed.
    *
    * This Column-algebra form is the REFERENCE implementation (and
    * the shape the DuckDB oracle twins replay); the hot path runs
    * the native one-scan [[graft.functions.LangHits]] (r15 — the GopherTextStats
    * playbook). LangHitsSpec pins value equality. */
  def keywordHitsRef(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val needle = s" $word "
    ((length(padded) - length(regexp_replace(padded,
      java.util.regex.Pattern.quote(needle), ""))) / needle.length).cast("long")
  }

  /** Per-language stopword-hit score — Column-algebra REFERENCE
    * (5 lower+pad evaluations and 5 regex-replace string rebuilds per
    * row; kept for the parity spec and as documentation of the
    * replace-diff semantics the native twin must reproduce). */
  def langScoreRef(text: Column, lang: String): Column =
    LangStopwords.toMap.apply(lang)
      .map(w => keywordHitsRef(text, w))
      .reduce(_ + _)

  /** [[graft.ext.TextOps.langId]]'s Column-algebra REFERENCE (20 regex rebuilds/row). */
  def langIdRef(text: Column): Column = {
    val en = langScoreRef(text, "en"); val es = langScoreRef(text, "es")
    val de = langScoreRef(text, "de"); val fr = langScoreRef(text, "fr")
    when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Word n-shingles of the whitespace tokens (n >= 1): array of
    * space-joined n-grams, one per starting offset. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Character-level rolling-hash fingerprint (winnowing): the minimum
    * over all `RollWindow`-char windows of the polynomial hash
    * sum(code(c_j) * B^(w-1-j)) mod M. Column-algebra formulation —
    * engine-portable; NULL for texts shorter than the window.
    * [[graft.functions.RollingMinHash]] is the codegen'd equivalent the
    * registry runs. */
  def rollingFingerprint(text: Column): Column = {
    val w = RollWindow
    val powers = (0 until w).map(j =>
      Seq.fill(w - 1 - j)(RollBase).foldLeft(1L)((a, b) => a * b % RollMod))
    val n = length(text).cast("long")
    // char code at 1-based position p (substr-based: identical
    // semantics in any engine, no split() edge cases)
    val codeAt = (p: Column) => ascii(text.substr(p.cast("int"), lit(1)))
      .cast("long")
    val windowHash = (i: Column) =>
      (0 until w).map(j => codeAt(i + j) * powers(j) % RollMod)
        .reduce(_ + _) % RollMod
    when(n >= w,
      array_min(transform(sequence(lit(1L), n - (w - 1)), i => windowHash(i))))
      .otherwise(lit(null).cast("long"))
  }

  /** The Column-algebra twin of [[graft.ext.Corpus.chunked]]'s native chopper — kept
    * for the spec-side equivalence proof. */
  def chunkedHof(text: Column, segWords: Int): Column = {
    val toks = TextOps.tokens(text)
    // integer ceil-div; sequence(0, n-1) needs n >= 1 (Spark's
    // sequence(0,-1) is DESCENDING, not empty — guard it)
    val nSegs = floor((size(toks) + lit(segWords - 1)) / lit(segWords))
      .cast("int")
    when(nSegs >= 1,
      transform(sequence(lit(0), nSegs - 1),
        i => concat_ws(" ",
          slice(toks, i * segWords + lit(1), lit(segWords)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The Column-algebra twin of the native strided chopper
    * ([[graft.functions.WordChunksStrided]]) — kept for the spec-side
    * equivalence proof, like [[chunkedHof]]. */
  def chunkedOverlapHof(text: Column, n: Int,
                        stride: Int): Column = {
    val toks = TextOps.tokens(text)
    val nChunks = when(size(toks) <= n, lit(1))
      .otherwise(lit(1) +
        floor((size(toks) - lit(n) + lit(stride - 1)) / lit(stride))
          .cast("int"))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + lit(1), lit(n))))
  }
}
