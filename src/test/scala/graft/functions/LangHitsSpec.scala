package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}
import graft.ext.TextOps

/** The native one-scan language stopword expressions (LangHits,
  * LangIdArgmax) must be VALUE-IDENTICAL to the Column-algebra
  * replace-diff reference they replace — the GopherTextStats
  * discipline: the reference stays in the codebase and the spec pins
  * equality on adversarial fixtures AND a full corpus scan. */
class LangHitsSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq(
    "",                                  // empty
    " ",                                 // whitespace only
    "the",                               // bare stopword, no pads
    "the the the",                       // overlapping-pad repeats
    "a a a a",                           // single-char stopword runs
    "THE QUICK the Quick tHe",           // case folding
    "der die und das ist la le les",     // cross-language collisions
    "el la de que los de la et des",     // es/fr overlap ('la', 'de')
    "x\nthe\ny of\nand to a",            // newlines inside pads?
    "naïve café the straße und öl",      // non-ASCII neighbors
    "the, a. of! and? to;",              // punctuation-glued (no pads)
    " the  a  of  and  to ",             // double spaces
    "athe thea the",                     // substring non-matches
    "Über DIE Straße IST")     // unicode case folding

  test("native langScore equals the replace-diff reference on fixtures and corpus") {
    val fx = fixtures.toDF("t")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text").as("t"))
    for (df <- Seq(fx, corpus); lang <- TextOps.LangStopwords.map(_._1)) {
      val bad = df.select(col("t"),
          TextOps.langScore(col("t"), lang).as("native"),
          TextRefs.langScoreRef(col("t"), lang).as("ref"))
        .filter(col("native") =!= col("ref"))
      assert(bad.isEmpty,
        s"$lang diverges: ${bad.take(3).mkString("; ")}")
    }
  }

  test("native langId equals the when-chain reference on fixtures and corpus") {
    val fx = fixtures.toDF("t")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text").as("t"))
    for (df <- Seq(fx, corpus)) {
      val bad = df.select(col("t"),
          TextOps.langId(col("t")).as("native"),
          TextRefs.langIdRef(col("t")).as("ref"))
        .filter(col("native") =!= col("ref"))
      assert(bad.isEmpty,
        s"langId diverges: ${bad.take(3).mkString("; ")}")
    }
  }

  test("interpreted eval matches codegen (nullSafeEval path)") {
    // force the interpreted path through a direct expression eval
    val r = TextHashUtil.langHits(
      org.apache.spark.unsafe.types.UTF8String
        .fromString("The a of and to the"),
      TextHashUtil.LangStopwordLists.head._2)
    // padded: " the a of and to the " -> the(2) a(1) of(1) and(1) to(1)
    assert(r === 6L)
    assert(TextHashUtil.langIdArgmax(
      org.apache.spark.unsafe.types.UTF8String
        .fromString("el que los la de")).toString === "es")
    // empty text: every score 0 -> en by priority
    assert(TextHashUtil.langIdArgmax(
      org.apache.spark.unsafe.types.UTF8String.fromString(""))
      .toString === "en")
  }

  test("non-string child fails ANALYSIS, not execution (ExpectsInputTypes)") {
    // ADVICE r15: without an input-type contract a long child passed
    // analysis and died as a ClassCastException inside codegen'd
    // TextHashUtil calls — the contract must reject it up front
    val df = Seq(1L, 2L).toDF("n")
    for (mk <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        c => TextOps.langScore(c, "en"),
        c => TextOps.langId(c))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(mk(col("n"))).collect()
      }
      assert(e.getMessage.toLowerCase.contains("type"), e.getMessage)
    }
  }
}
