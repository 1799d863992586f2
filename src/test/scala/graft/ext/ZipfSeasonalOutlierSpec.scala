package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}

/** The three r14 report operators against driver-side replays:
  * fixed-point-log2 Zipf fit, hour-of-day seasonal profile, and
  * per-label centroid-cosine outliers. */
class ZipfSeasonalOutlierSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side replay of the operator's bit-by-bit log2: e +
    * ten square-and-shift fraction bits, 1/1024 units. */
  private def log2fix(n: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var x = if (e <= 30) n << (30 - e) else n >> (e - 30)
    var f = 0L
    for (_ <- 1 to 10) {
      val sq = (x * x) >> 30
      if (sq >= 2147483648L) { f = f * 2 + 1; x = sq >> 1 }
      else { f = f * 2; x = sq }
    }
    e * 1024L + f
  }

  test("fixed-point log2 tracks math.log within 2/1024") {
    for (n <- Seq(1L, 2L, 3L, 5L, 7L, 100L, 1023L, 1024L, 1025L,
        999983L, (1L << 40) + 12345L)) {
      val want = math.floor(1024.0 * math.log(n.toDouble) / math.log(2.0))
      assert(math.abs(log2fix(n) - want) <= 2,
        s"log2fix($n)=${log2fix(n)} vs floor(1024*log2)=$want")
      assert(log2fix(1L << 20) === 20480L, "powers of two are exact")
    }
  }

  test("zipf bucket fit equals a driver-side least-squares replay") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = Corpus.zipfBucketFit(docs, col("text"))
      .select("n_types", "n_buckets", "zipf_slope_ppm")
      .as[(Long, Long, Long)].head()
    // replay: token freqs -> floor-log2 buckets -> complementary
    // counts -> fixed-point log2 -> exact integer least squares
    val freqs = docs.select(explode(split(trim(col("text")), "\\s+"))
        .as("tok"))
      .groupBy("tok").count().select("count").as[Long].collect()
    val byB = freqs.groupBy(f => 64 - java.lang.Long.numberOfLeadingZeros(f))
      .view.mapValues(_.size.toLong).toMap
    val pts = byB.keys.toSeq.sorted.map { b =>
      val cum = byB.filter(_._1 >= b).values.sum
      (b.toLong, log2fix(cum))
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val num = (n * sxy - sx * sy) * 1000000L
    val den = (n * sxx - sx * sx) * 1024L
    val slope = java.lang.Math.floorDiv(num, den)
    assert(got === ((freqs.size.toLong, n, slope)))
    assert(got._3 < 0, "a natural-language corpus has a negative tail slope")
  }

  test("heaps fit equals a driver-side replay; beta in (0,1)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = Corpus.heapsBucketFit(docs, col("doc_id"), col("text"))
      .select("n_types", "n_buckets", "heaps_beta_ppm")
      .as[(Long, Long, Long)].head()
    // replay off the same (doc, shingle)-distinct pairs
    val pairs = docs.select(col("doc_id"),
        explode(TextRefs.wordShingles(col("text"), 3)).as("sh"))
      .distinct().as[(Long, String)].collect()
    def oct(d: Long): Long = 64 - java.lang.Long.numberOfLeadingZeros(d + 1)
    val occ = pairs.groupBy(p => oct(p._1)).view.mapValues(_.size.toLong).toMap
    val fresh = pairs.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
      .values.groupBy(oct).view.mapValues(_.size.toLong).toMap
    val gs = occ.keys.toSeq.sorted
    val pts = gs.map { g =>
      val co = gs.filter(_ <= g).map(occ).sum
      val ct = gs.filter(_ <= g).map(x => fresh.getOrElse(x, 0L)).sum
      (log2fix(co), log2fix(ct))
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val num = BigInt(n * sxy - sx * sy) * 1000000
    val den = BigInt(n * sxx - sx * sx)
    val beta = ((num - (((num % den) + den) % den)) / den).toLong
    assert(got === ((fresh.values.sum, n, beta)))
    assert(got._3 > 0 && got._3 < 1000000,
      "vocabulary grows, but sublinearly")
  }

  test("prefix truncation: same 20-token head groups, longest copy kept") {
    val head20 = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, s"$head20 tail one two"),              // full copy
      (11L, head20),                                // truncated fetch
      (12L, s"$head20 tail one two three four"),    // longest -> keep
      (20L, "a short doc under twenty tokens"),     // never groups
      (21L, ((1 to 25).map(i => s"other$i").mkString(" "))))
      .toDF("doc_id", "text")
    val got = Corpus.prefixTruncationReport(docs, col("doc_id"),
        col("text"), prefixTokens = 20)
      .select("n_docs", "keep_doc", "max_tokens", "min_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq((3L, 12L, 25L, 20L)),
      "one group of three, longest member kept, spread 20..25")
  }

  test("seasonal hourly profile: exact ppm on a hand-built stream") {
    // key "a": hod 0 on two days (3 + 1 events), hod 1 on one day (4)
    val secs = Seq(0L, 1L, 2L, 86400L, 3600L, 3601L, 3602L, 3603L)
    val ev = secs.map(s => ("a", s)).toDF("event_type", "sec")
    val got = Windows.seasonalHourly(ev, col("event_type"), col("sec"))
      .select("key", "hod", "n_events", "n_days", "uniform_ratio_ppm",
        "peak_day_ratio_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r).toMap
    // hod 0: 4 of 8 events -> 12e6 vs uniform; peak day 3 of mean 2
    assert(got(0L) === (("a", 0L, 4L, 2L, 12000000L, 1500000L)))
    // hod 1: single day -> peak ratio exactly 1e6
    assert(got(1L) === (("a", 1L, 4L, 1L, 12000000L, 1000000L)))
  }

  test("join skew report: exact octave histogram on a hand-built key set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    val rows = (Seq.fill(8)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).zipWithIndex
      .map { case (u, i) => (i.toLong, 1000L + i, u, "click", 1.0, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.registry.ExtQueriesAnalytics
      .queries("join_skew_report")(spark, dir)
      .select("freq_octave", "n_keys", "n_rows", "max_key_rows",
        "rows_share_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(4L) === ((4L, 1L, 8L, 8L, 666666L)))  // the hot key
    assert(got(2L) === ((2L, 1L, 3L, 3L, 250000L)))
    assert(got(1L) === ((1L, 1L, 1L, 1L, 83333L)))
  }

  test("label outliers: the anti-aligned member ranks first, zero vectors drop") {
    def vec(x: Double): Array[Float] =
      (Array(x.toFloat) ++ Array.fill(63)(0f))
    val emb = Seq(
      (1L, 0, vec(1.0)), (2L, 0, vec(1.0)), (3L, 0, vec(1.0)),
      (4L, 0, vec(-1.0)),          // the mislabeled outlier
      (5L, 0, vec(0.0)))           // zero vector: NaN cosine, excluded
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.labelOutlierReport(emb, "vec_id", "label",
        "embedding", k = 5)
      .select("label", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._2).toSeq === Seq(4L, 1L, 2L, 3L),
      "outlier first, aligned members tie-broken by id, zero vec absent")
    assert(math.abs(got.head._3 + 1.0) < 1e-12,
      "anti-aligned cosine is -1 (up to sqrt rounding)")
    assert(got.tail.forall(c => math.abs(c._3 - 1.0) < 1e-12))
  }
}
