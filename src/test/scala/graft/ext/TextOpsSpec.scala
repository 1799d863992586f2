package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val got = Seq("hello world, 42 times!")
      .toDF("t")
      .select(TextOps.tokenCount(col("t")),
        TextOps.bpeCount(col("t")))
      .as[(Long, Long)].head()
    // ws: [hello, world,, 42, times!] = 4
    // bpe: hello world , 4 2 times ! = 7
    assert(got == ((4L, 7L)))
  }

  test("language id picks the language with most stopword hits") {
    val got = Seq(
      "the cat and the dog of a house",
      "el gato de la casa que los perros",
      "der hund und die katze ist das haus",
      "le chat et les chiens des maisons")
      .toDF("t").select(TextOps.langId(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "de", "fr"))
  }

  test("content fingerprint normalizes whitespace and case") {
    val fp = Seq("Hello   World", "hello world", "HELLO WORLD  ")
      .toDF("t").select(TextOps.contentFingerprint(col("t")))
      .as[String].collect()
    assert(fp.distinct.length == 1)
  }

  test("word shingles: inclusive offsets, empty when too short") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(graft.functions.VectorFunctions.wordShingleStrings(col("t"), 3))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("quality score is bounded and penalizes punctuation soup") {
    val rows = Seq(
      "the quick brown fox jumps over the lazy dog and then the end",
      "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))")
      .toDF("t")
    val scores = TextOps.withQualityScore(rows, col("t"))
      .select(col("quality_score")).as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }

  test("native RollingMinHash equals the Column-algebra rolling fingerprint") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val both = docs.select(
      TextRefs.rollingFingerprint(col("text")).as("algebra"),
      graft.functions.VectorFunctions.rollingMinHash(col("text"),
        TextOps.RollWindow, TextOps.RollBase, TextOps.RollMod).as("native"))
      .as[(Option[Long], Option[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (a, n) => assert(a == n) }
    // shorter than the window -> NULL
    val short = Seq("tiny").toDF("text")
      .select(graft.functions.VectorFunctions.rollingMinHash(col("text"),
        16, 257L, 1000003L)).as[Option[Long]].head()
    assert(short.isEmpty)
  }

  test("PII redaction replaces emails, IPs and digit runs; clean text untouched") {
    val rows = Seq(
      (1L, "contact me at jane.doe+x@example.co.uk or call 555-123 4567"),
      (2L, "server at 192.168.0.1 responded"),
      (3L, "perfectly clean prose with the number seven spelled out"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.redactPii(col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(rows(1L) == "contact me at <EMAIL> or call <NUMBER>")
    assert(rows(2L) == "server at <IP> responded")
    assert(rows(3L) == "perfectly clean prose with the number seven spelled out")
  }

  test("repetition stats flag degenerate documents") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "all tokens here are different words"))
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df, col("doc_id"), col("text"))
      .as[(Long, Long, Double, Double)].collect()
      .map { case (id, n, top, ttr) => id -> ((n, top, ttr)) }.toMap
    val (n1, top1, ttr1) = got(1L)
    assert(n1 == 5L && top1 == 1.0 && ttr1 == 0.2)
    val (n2, top2, ttr2) = got(2L)
    assert(n2 == 6L && top2 == 1.0 / 6 && ttr2 == 1.0)
  }

}
