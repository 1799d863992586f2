package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}

/** Native Catalyst vector expressions.
  *
  * [[DotProduct]] computes the strict left-to-right double dot product
  * of two float/double arrays — semantically identical to
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0d, _+_)` but with real
  * whole-stage codegen: higher-order functions are CodegenFallback
  * (interpreted closures + per-row array allocation), while this emits
  * a tight primitive loop. On the brute-force similarity path that is
  * the hot inner loop at any scale.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"DotProduct needs array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val lGet = if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val rGet = if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $lGet * $rGet;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two `array<long>` quantization codes —
  * the int8-ANN scoring loop. Long accumulation is exact (64-dim int8
  * codes bound the sum at 64*127^2 ≈ 1.03e6, nowhere near overflow),
  * so the score is bit-identical in any integer-capable SQL engine.
  * Same codegen rationale as [[DotProduct]]: the HOF formulation
  * (`aggregate(zip_with(...))`) is CodegenFallback and allocates per
  * row; this emits a primitive long loop inside whole-stage codegen —
  * and on the candidate-generation path it touches every
  * (query, corpus) pair, the hottest loop in the operator.
  */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  private def checkElem(e: Expression): Unit = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => ()
    case t => throw new IllegalArgumentException(
      s"IntDotProduct needs array<long>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    checkElem(left); checkElem(right)
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      checkElem(left); checkElem(right)
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over an array of 64-bit token hashes: per bit
  * position, the sign of the +1/-1 votes across tokens. Equivalent to
  * 64 separate `aggregate` folds but one codegen'd pass over the array
  * with a 64-int vote table.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Native winnowing fingerprint: minimum over all `window`-char windows
  * of the polynomial hash sum(code(c_j) * base^(w-1-j)) mod modulus.
  * True O(n) rolling evaluation (incremental add/drop per step) —
  * value-identical to the O(n*w) window sum that
  * `text_rolling_fingerprint`'s DuckDB oracle spells out (TextOpsSpec
  * pins it against the same sum in Column algebra), but codegen'd
  * and linear. NULL for inputs shorter than the window.
  */
case class RollingMinHash(child: Expression, window: Int, base: Long,
                          modulus: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  private val topPower: Long = // base^(window-1) mod modulus
    (1 until window).foldLeft(1L)((a, _) => a * base % modulus)

  override def nullSafeEval(input: Any): Any = {
    // codepoints, not UTF-16 units — matches the length()/substr()/
    // unicode() semantics of the SQL oracle and the spec reference
    val cps = input.toString.codePoints().toArray
    val n = cps.length
    if (n < window) null
    else {
      var h = 0L
      var i = 0
      while (i < window) { h = (h * base + cps(i)) % modulus; i += 1 }
      var min = h
      while (i < n) {
        h = (h - cps(i - window) * topPower % modulus + modulus) % modulus
        h = (h * base + cps(i)) % modulus
        if (h < min) min = h
        i += 1
      }
      java.lang.Long.valueOf(min)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = nullSafeCodeGen(ctx, ev, str => {
      val cps = ctx.freshName("cps")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val mn = ctx.freshName("mn")
      val i = ctx.freshName("i")
      s"""
         |int[] $cps = $str.toString().codePoints().toArray();
         |int $n = $cps.length;
         |if ($n < $window) { ${ev.isNull} = true; } else {
         |  long $h = 0L;
         |  int $i = 0;
         |  for (; $i < $window; $i++) {
         |    $h = ($h * ${base}L + $cps[$i]) % ${modulus}L;
         |  }
         |  long $mn = $h;
         |  for (; $i < $n; $i++) {
         |    $h = ($h - $cps[$i - $window] * ${topPower}L % ${modulus}L
         |      + ${modulus}L) % ${modulus}L;
         |    $h = ($h * ${base}L + $cps[$i]) % ${modulus}L;
         |    if ($h < $mn) $mn = $h;
         |  }
         |  ${ev.value} = $mn;
         |}
       """.stripMargin
    })
    res
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static helpers callable from generated code. */
object TextHashUtil {
  /** The one tokenization contract of every word kernel here:
    * ASCII-space-only trim, then Java `split("\\s+", -1)` —
    * byte-identical to `split(trim(text), "\\s+")` (which is
    * [[graft.ext.TextOps.tokens]]), including the leading/trailing
    * empty-token edge cases. Spark/DuckDB trim() strips ASCII space
    * ONLY (Java's trim strips all control chars — subtly different, so
    * hand-roll it). */
  private def tokens(str: String): Array[String] = {
    var st = 0; var en = str.length
    while (st < en && str.charAt(st) == ' ') st += 1
    while (en > st && str.charAt(en - 1) == ' ') en -= 1
    str.substring(st, en).split("\\s+", -1)
  }

  /** `toks[from, until)` joined with single spaces into `sb`, which is
    * cleared first and returned — the n-gram/chunk join every kernel
    * shares; reusing one builder keeps the per-shingle loop free of
    * allocations beyond the result itself. */
  private def join(sb: java.lang.StringBuilder, toks: Array[String],
                   from: Int, until: Int): java.lang.StringBuilder = {
    sb.setLength(0)
    var j = from
    while (j < until) {
      if (j > from) sb.append(' ')
      sb.append(toks(j)); j += 1
    }
    sb
  }

  /** Word n-gram STRINGS (multiset — counting consumers need
    * multiplicities, unlike the deduplicated hashes of
    * [[shingleHex60]]): every n consecutive [[tokens]] joined with
    * single spaces, one per starting offset; empty for texts with
    * < n tokens. One JVM loop instead of the interpreted
    * transform/sequence/concat_ws HOF chain, which is CodegenFallback
    * and ~10x slower. */
  def wordShingleStrings(s: org.apache.spark.unsafe.types.UTF8String,
                         n: Int): ArrayData = {
    val toks = tokens(s.toString)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    val out = new Array[AnyRef](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      out(i) = org.apache.spark.unsafe.types.UTF8String
        .fromString(join(sb, toks, i, i + n).toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** NON-overlapping word chunks of `n` tokens, short tail kept —
    * the chunking sibling of [[wordShingleStrings]] (which slides by 1
    * and drops tails). Same tokenization contract. */
  def wordChunks(s: org.apache.spark.unsafe.types.UTF8String,
                 n: Int): ArrayData = {
    val toks = tokens(s.toString)
    val out = new Array[AnyRef]((toks.length + n - 1) / n)
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < out.length) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(
        join(sb, toks, k * n, math.min(k * n + n, toks.length)).toString)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** OVERLAPPING word chunks: windows of `n` tokens advancing by
    * `stride` (< n leaves an n-stride token overlap between
    * neighbors — the RAG-chunking shape where a fact straddling a
    * boundary must land whole in at least one chunk). Chunk k covers
    * tokens [k*stride, k*stride+n); the last window starts at the
    * first offset whose window reaches the end, so every token is
    * covered and no window starts past the text. `stride == n`
    * degrades to [[wordChunks]]. Same tokenization contract. */
  def wordChunksStrided(s: org.apache.spark.unsafe.types.UTF8String,
                        n: Int, stride: Int): ArrayData = {
    val toks = tokens(s.toString)
    val nChunks =
      if (toks.length <= n) 1 else 1 + (toks.length - n + stride - 1) / stride
    val out = new Array[AnyRef](nChunks)
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < nChunks) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(
        join(sb, toks, k * stride,
          math.min(k * stride + n, toks.length)).toString)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct word-n-shingle hashes of `text` in one pass: the
    * [[wordShingleStrings]] n-grams, md5 each shingle and keep the
    * first 15 hex digits as a long ([[graft.ext.TextOps.hex60]]
    * semantics, value-identical to the Column-algebra form and to SQL
    * oracles). Deduplicates via a hash set — min/equality consumers
    * are unaffected by multiset collapse. Returns an empty array for
    * texts with < n tokens. */
  def shingleHex60(s: org.apache.spark.unsafe.types.UTF8String,
                   n: Int): ArrayData = {
    val toks = tokens(s.toString)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      md.reset()
      val d = md.digest(join(sb, toks, i, i + n).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = bytes 0-6 plus the high nibble of byte 7
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xFFL); b += 1 }
      h = (h << 4) | ((d(7) & 0xF0L) >> 4)
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The Gopher rule family's 8 English stopwords (exact-token
    * membership — Rae et al. 2021 table A1's "common English words"
    * proxy, fixed by [[graft.ext.Corpus.gopherQualityFlags]]). */
  private val GopherStop8 = Array(
    "the", "be", "to", "of", "and", "that", "have", "with")

  /** Stopword lists for the n-gram language-ID heuristic — the ONE
    * source of truth ([[graft.ext.TextOps.LangStopwords]] re-exports
    * it; the SQL oracle twins embed the same words). Order is the
    * langId tie-break priority. */
  val LangStopwordLists: Array[(String, Array[String])] = Array(
    "en" -> Array("the", "a", "of", "and", "to"),
    "es" -> Array("el", "la", "de", "que", "los"),
    "de" -> Array("der", "die", "und", "das", "ist"),
    "fr" -> Array("le", "la", "les", "et", "des"))

  /** Non-overlapping occurrences of each ` word ` in the space-padded
    * LOWERED text, summed over `words` — value-identical to the
    * replace-diff Column algebra it replaces
    * (`(length(padded) - length(regexp_replace(padded, quoted, '')))
    * / needle_len`, the `keywordHitsRef` spec reference):
    * regex literal replace scans left-to-right and resumes AFTER each
    * match, which indexOf-advance-by-needle-length replicates
    * exactly (overlapping candidates like " a a " count once on
    * both). Lowercasing goes through `UTF8String.toLowerCase` — the
    * SAME implementation Spark's `lower()` uses — so exotic casings
    * fold identically. Needles are ASCII, so occurrence counting is
    * code-point-safe without code-point arithmetic. The win over the
    * Column form: ONE lower+pad per row instead of one per word, and
    * an allocation-free indexOf scan per word instead of a full
    * regex-replace STRING REBUILD per word (5 rebuilds per langScore,
    * 20 per langId). */
  def langHits(s: org.apache.spark.unsafe.types.UTF8String,
               words: Array[String]): Long =
    hits(" " + s.toLowerCase.toString + " ", words)

  /** [[langHits]] over an already lowered and padded text. */
  private def hits(padded: String, words: Array[String]): Long = {
    var total = 0L
    var w = 0
    while (w < words.length) {
      val needle = " " + words(w) + " "
      var idx = padded.indexOf(needle)
      while (idx >= 0) {
        total += 1
        idx = padded.indexOf(needle, idx + needle.length)
      }
      w += 1
    }
    total
  }

  /** Language-ID argmax over [[LangStopwordLists]] with the fixed
    * priority tie order (en > es > de > fr) — the
    * [[graft.ext.TextOps.langId]] when-chain, computed with ONE
    * lower+pad per row and [[langHits]]-semantics counts. */
  def langIdArgmax(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val padded = " " + s.toLowerCase.toString + " "
    val Array(en, es, de, fr) = LangStopwordLists.map(l => hits(padded, l._2))
    val lang =
      if (en >= es && en >= de && en >= fr) "en"
      else if (es >= de && es >= fr) "es"
      else if (de >= fr) "de"
      else "fr"
    org.apache.spark.unsafe.types.UTF8String.fromString(lang)
  }

  /** Every raw count the Gopher quality rules need, in ONE linear pass
    * over the document — value-identical to the Column-algebra HOF
    * formulation it replaces (equality is spec-pinned against the HOF
    * reference on adversarial fixtures):
    *
    *  - tokens: the [[tokens]] contract
    *  - `sum_word_len` counts Unicode CODE POINTS per token (SQL
    *    `length()` semantics), not UTF-16 units
    *  - `n_ellipsis` counts non-overlapping left-to-right '...'
    *    occurrences — `(length(t) - length(replace(t, '...', ''))) / 3`
    *    semantics
    *  - lines: `split(text, "\n")` on the UNTRIMMED text, trailing
    *    empty kept; bullet = startsWith "- " / "* ", ellipsis line =
    *    endsWith "..."
    *  - `stop_hits`: DISTINCT membership (0/1 per stopword), exact
    *    token equality
    *
    * Struct of 9 longs: (n_words, sum_word_len, n_alpha_words,
    * n_hash, n_ellipsis, n_lines, n_bullet_lines, n_ellipsis_lines,
    * stop_hits). */
  def gopherStats(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val toks = tokens(str)
    var sumLen = 0L; var nAlpha = 0L
    val stopSeen = new Array[Boolean](GopherStop8.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      sumLen += t.codePointCount(0, t.length)
      var alpha = false
      var j = 0
      while (!alpha && j < t.length) {
        val c = t.charAt(j)
        alpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        j += 1
      }
      if (alpha) nAlpha += 1
      var k2 = 0
      while (k2 < GopherStop8.length) {
        if (!stopSeen(k2) && t == GopherStop8(k2)) stopSeen(k2) = true
        k2 += 1
      }
      i += 1
    }
    var stopHits = 0L
    i = 0
    while (i < stopSeen.length) { if (stopSeen(i)) stopHits += 1; i += 1 }
    var nHash = 0L; var nEll = 0L
    i = 0
    while (i < str.length) {
      if (str.charAt(i) == '#') nHash += 1
      if (i + 2 < str.length && str.charAt(i) == '.' &&
          str.charAt(i + 1) == '.' && str.charAt(i + 2) == '.') {
        nEll += 1; i += 3
      } else i += 1
    }
    var nLines = 1L; var nBullet = 0L; var nEllLine = 0L
    var lineStart = 0
    var p = 0
    def lineFlags(a: Int, b: Int): Unit = {
      if (b - a >= 2 && (str.charAt(a) == '-' || str.charAt(a) == '*') &&
          str.charAt(a + 1) == ' ') nBullet += 1
      if (b - a >= 3 && str.charAt(b - 1) == '.' && str.charAt(b - 2) == '.' &&
          str.charAt(b - 3) == '.') nEllLine += 1
    }
    while (p < str.length) {
      if (str.charAt(p) == '\n') {
        lineFlags(lineStart, p)
        nLines += 1
        lineStart = p + 1
      }
      p += 1
    }
    lineFlags(lineStart, str.length)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](toks.length.toLong, sumLen, nAlpha, nHash, nEll,
        nLines, nBullet, nEllLine, stopHits))
  }
}

/** A native string kernel: one static [[TextHashUtil]] call per
  * non-null row, the same call in interpreted and generated code.
  * `call` names the method and `args` its trailing constant
  * arguments, spliced into the generated source as literals. */
private[functions] abstract class TextKernel
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  protected def call: String
  protected def args: Seq[Any] = Nil
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String): Any

  override def inputTypes: Seq[org.apache.spark.sql.GraftColumnBridge.AbstractType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    eval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.TextHashUtil.$call(" +
        (str +: args.map(_.toString)).mkString(", ") + ");")
}

/** Word n-gram strings as a native codegen'd expression — the
  * string-valued sibling of [[ShingleHex60]] (multiset, no dedup); see
  * [[TextHashUtil.wordShingleStrings]]. */
case class WordShingleStrings(child: Expression, n: Int) extends TextKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected def call = "wordShingleStrings"
  override protected def args = Seq(n)
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.wordShingleStrings(s, n)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All Gopher-rule raw counts in one codegen'd linear pass — see
  * [[TextHashUtil.gopherStats]]. The Column-algebra formulation it
  * replaces ran SIX interpreted higher-order-function scans per
  * document (aggregate/transform/filter with a regex per token —
  * all CodegenFallback); this is one tight JVM loop inside
  * whole-stage codegen, and the quality-filter family
  * (gopher filter, ensemble, calibration) sits on the corpus hot
  * path at 100 TB. */
case class GopherTextStats(child: Expression) extends TextKernel {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      "n_words", "sum_word_len", "n_alpha_words", "n_hash", "n_ellipsis",
      "n_lines", "n_bullet_lines", "n_ellipsis_lines", "stop_hits")
      .map(f => org.apache.spark.sql.types.StructField(
        f, org.apache.spark.sql.types.LongType, nullable = false)))
  protected def call = "gopherStats"
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.gopherStats(s)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Summed stopword-occurrence count for one language's word list as a
  * native codegen'd expression — see [[TextHashUtil.langHits]]. The
  * word array is a reference object, not a literal argument. */
case class LangHits(child: Expression, words: Seq[String]) extends TextKernel {
  private lazy val wordsArr: Array[String] = words.toArray

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  protected def call = "langHits"
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.langHits(s, wordsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langWords", wordsArr,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.TextHashUtil.langHits($str, $ref);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Language-ID argmax as a native codegen'd expression — see
  * [[TextHashUtil.langIdArgmax]]. */
case class LangIdArgmax(child: Expression) extends TextKernel {
  override def dataType: DataType = StringType
  protected def call = "langIdArgmax"
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.langIdArgmax(s)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Non-overlapping word chunks as a native codegen'd expression —
  * see [[TextHashUtil.wordChunks]]. */
case class WordChunks(child: Expression, n: Int) extends TextKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected def call = "wordChunks"
  override protected def args = Seq(n)
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.wordChunks(s, n)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Overlapping (strided) word chunks as a native codegen'd
  * expression — see [[TextHashUtil.wordChunksStrided]]. */
case class WordChunksStrided(child: Expression, n: Int, stride: Int)
    extends TextKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected def call = "wordChunksStrided"
  override protected def args = Seq(n, stride)
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.wordChunksStrided(s, n, stride)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Distinct word-n-shingle hex60 hashes in one codegen'd pass —
  * value-identical to `hex60` over the distinct word n-shingles, as
  * the specs' Column-algebra reference computes them, but ~10x
  * faster: that form runs four nested interpreted higher-order
  * functions per row (CodegenFallback), this is one tight JVM loop
  * (asserted equal in specs); see [[TextHashUtil.shingleHex60]].
  */
case class ShingleHex60(child: Expression, n: Int) extends TextKernel {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  protected def call = "shingleHex60"
  override protected def args = Seq(n)
  protected def eval(s: org.apache.spark.unsafe.types.UTF8String) =
    TextHashUtil.shingleHex60(s, n)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorFunctions {
  import org.apache.spark.sql.GraftColumnBridge
  /** Column wrapper for [[DotProduct]]. */
  def dotNative(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  /** Column wrapper for [[IntDotProduct]] (inputs: array<long>). */
  def intDotNative(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntDotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  /** Column wrapper for [[SimHash64]] (input: array<long> of token
    * hashes). */
  def simhash64(tokenHashes: Column): Column =
    GraftColumnBridge.column(SimHash64(
      GraftColumnBridge.expression(tokenHashes)))
  /** Column wrapper for [[RollingMinHash]]. */
  def rollingMinHash(text: Column, window: Int, base: Long,
                     modulus: Long): Column =
    GraftColumnBridge.column(RollingMinHash(
      GraftColumnBridge.expression(text), window, base, modulus))
  /** Column wrapper for [[ShingleHex60]]. */
  def shingleHex60(text: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHex60(
      GraftColumnBridge.expression(text), n))
  /** Column wrapper for [[WordShingleStrings]]. */
  def wordShingleStrings(text: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingleStrings(
      GraftColumnBridge.expression(text), n))
  /** Column wrapper for [[GopherTextStats]]. */
  def gopherStats(text: Column): Column =
    GraftColumnBridge.column(GopherTextStats(
      GraftColumnBridge.expression(text)))
  /** Column wrapper for [[LangHits]]. */
  def langHits(text: Column, words: Seq[String]): Column =
    GraftColumnBridge.column(LangHits(
      GraftColumnBridge.expression(text), words))
  /** Column wrapper for [[LangIdArgmax]]. */
  def langIdArgmax(text: Column): Column =
    GraftColumnBridge.column(LangIdArgmax(
      GraftColumnBridge.expression(text)))
  /** Column wrapper for [[WordChunks]]. */
  def wordChunks(text: Column, n: Int): Column =
    GraftColumnBridge.column(WordChunks(
      GraftColumnBridge.expression(text), n))
  /** Column wrapper for [[WordChunksStrided]]. */
  def wordChunksStrided(text: Column, n: Int, stride: Int): Column =
    GraftColumnBridge.column(WordChunksStrided(
      GraftColumnBridge.expression(text), n, stride))
}
