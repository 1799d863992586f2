package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}

/** DSIR importance weights and the corpus novelty curve. */
class DsirNoveltySpec extends SparkSpec {
  import spark.implicits._

  test("DSIR is identically zero when the target IS the raw corpus") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = Corpus.dsirWeights(docs, col("doc_id"), col("text"),
      isTarget = lit(true))
    // target counts == raw counts in every bucket -> dbits == 0
    assert(out.filter(col("dsir_bits") =!= 0L).count() === 0L)
    assert(out.count() === docs.count())
  }

  test("target-vocabulary docs score positive, raw-only docs negative") {
    // two disjoint vocabularies; the SMALL target slice speaks only
    // tvocab, so under the target model a tvocab token costs
    // visibly fewer floor-log2 bits than under the raw model (the
    // slice must be a minority — a 50/50 split quantizes to 0 bits
    // of difference)
    val tDoc = (1 to 40).map(i => s"tgt$i").mkString(" ")
    val rDoc = (1 to 40).map(i => s"raw$i").mkString(" ")
    val docs = ((0 until 4).map(i => (i.toLong, tDoc, true)) ++
      (4 until 20).map(i => (i.toLong, rDoc, false)))
      .toDF("doc_id", "text", "tgt")
    val got = Corpus.dsirWeights(docs, col("doc_id"), col("text"),
        isTarget = col("tgt"))
      .join(docs.select("doc_id", "tgt"), Seq("doc_id"))
      .select("tgt", "dsir_bits").as[(Boolean, Long)].collect()
    got.foreach { case (isTgt, bits) =>
      if (isTgt) assert(bits > 0L, s"target-like doc scored $bits")
      else assert(bits < 0L, s"raw-only doc scored $bits")
    }
  }

  test("novelty: an exact re-crawl bucket is 0 novel; sums reconcile") {
    // bucket 0 (ids 0..49): 10 distinct docs; bucket 1 (ids 50..99):
    // byte-identical re-uploads — every shingle already carried
    val mk = (i: Int) => (1 to 12).map(j => s"w${i}_$j").mkString(" ")
    val docs = ((0 until 10).map(i => (i.toLong, mk(i))) ++
      (0 until 10).map(i => (50L + i, mk(i)))).toDF("doc_id", "text")
    val got = Corpus.noveltyCurve(docs, col("doc_id"), col("text"))
      .select("ingest_bucket", "n_shingles", "n_novel", "novelty_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 12 tokens -> 10 distinct 3-shingles per doc, all first-seen in
    // bucket 0
    assert(got(0L) === ((100L, 100L, 1000000L)))
    assert(got(1L) === ((100L, 0L, 0L)))
  }

  test("novelty: total novel pairs equal the distinct shingle count") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = Corpus.noveltyCurve(docs, col("doc_id"), col("text"))
    val novel = out.agg(sum("n_novel")).as[Long].head()
    val distinctShingles = docs.select(explode(
        TextRefs.wordShingles(col("text"), 3)).as("s"))
      .select("s").distinct().count()
    assert(novel === distinctShingles,
      "each distinct shingle is novel exactly once, in its first doc")
  }
}
