package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet").cache()

  // ---- segmentDedup ----

  test("segmentDedup drops exactly the later copies of repeated chunks") {
    // segWords=2: doc 1 -> [a b][c d][e f]; doc 2 repeats [a b] and
    // [e f] around its own [x y]; doc 3 is doc 1 verbatim (loses all)
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b x y e f"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val out = Corpus.segmentDedup(df, col("doc_id"), col("text"),
      segWords = 2)
      .select("doc_id", "n_segs", "n_kept", "dedup_md5")
      .as[(Long, Long, Long, Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 3 && out(1L)._3 == 3, "first doc keeps all")
    assert(out(2L)._2 == 3 && out(2L)._3 == 1,
      "doc 2 keeps only its novel [x y]")
    assert(out(3L)._2 == 3 && out(3L)._3 == 0, "verbatim dup loses all")
    // reassembly: doc 2's surviving text is exactly "x y"
    val xy = spark.sql("SELECT md5('x y')").as[String].head()
    assert(out(2L)._4.contains(xy))
    // all-dropped doc fingerprints to NULL (string_agg-over-empty)
    assert(out(3L)._4.isEmpty)
  }

  test("segmentDedup keep-first order is (doc_id, offset), not partition order") {
    // the repeated chunk sits at doc 5 offset 0 and doc 4 offset 1;
    // doc 4 wins (lower doc_id) regardless of input row order
    val df = Seq(
      (5L, "p q r s"),
      (4L, "z w p q")).toDF("doc_id", "text").repartition(7)
    val out = Corpus.segmentDedup(df, col("doc_id"), col("text"),
      segWords = 2)
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(out(4L) == 2, "doc 4 holds the first occurrence of [p q]")
    assert(out(5L) == 1, "doc 5's [p q] at offset 0 is the later copy")
  }

  test("segmentDedup stride guard fires loudly at the boundary") {
    // a tiny stride makes the 2^20 boundary testable without an
    // 8M-token fixture: stride=4 means seg_idx 0..3 are legal and a
    // 5th segment must fail the assert_true folded into the order key
    val atBoundary = Seq((1L, "a b c d e f g h")) // 4 segs at segWords=2
      .toDF("doc_id", "text")
    val ok = Corpus.segmentDedup(atBoundary, col("doc_id"), col("text"),
      segWords = 2, segStride = 4L)
      .select("n_segs", "n_kept").as[(Long, Long)].head()
    assert(ok == ((4L, 4L)), "seg_idx == stride-1 is still legal")
    val over = Seq((1L, "a b c d e f g h i j")) // 5 segs
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Corpus.segmentDedup(over, col("doc_id"), col("text"),
        segWords = 2, segStride = 4L).collect()
    }
    // the USER_RAISED_EXCEPTION from assert_true carries our message
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exceeds 4 segments")),
      s"guard must fail loudly, got: ${messages(ex).mkString(" | ")}")
  }

  test("segmentDedup on the corpus: kept <= total, deterministic") {
    val a = Corpus.segmentDedup(docs, col("doc_id"), col("text"))
    val b = Corpus.segmentDedup(docs.repartition(13), col("doc_id"),
      col("text"))
    val ra = a.orderBy("doc_id").collect()
    assert(ra.sameElements(b.orderBy("doc_id").collect()),
      "output must not depend on partitioning")
    assert(ra.forall(r => r.getLong(2) <= r.getLong(1)))
    assert(ra.length == docs.count())
  }

  // ---- curation pipeline composition ----

  test("curation e2e: chunks only from C4-kept, exact+near-dup-deduped docs") {
    val out = graft.registry.ExtQueries
      .queries("corpus_curation_e2e")(spark, sf0001).cache()
    assert(out.count() > 0)
    // chunking invariant holds through the composition
    assert(out.filter(col("n_tokens") > 64 || col("n_tokens") < 1)
      .count() == 0)
    // every surviving doc passed the C4 keep conjunction
    val survivors = out.select("doc_id").distinct()
    val flags = Corpus.c4QualityFlags(docs, col("doc_id"), col("text"))
    assert(survivors.join(flags.filter(!col("keep")), Seq("doc_id"))
      .count() == 0, "a C4-rejected doc leaked through curation")
    // and no two surviving docs share identical content
    val texts = docs.join(survivors, Seq("doc_id")).select("text")
    assert(texts.count() == texts.distinct().count(),
      "exact duplicates must not survive curation")
  }

  // ---- bigramFamiliarity ----

  test("boilerplateNgrams: counts bounded, thresholds degenerate correctly, monotone in dfMin") {
    // crafted corpus: "a b c" is shared by all three docs (df=3), the
    // tails are unique (df=1)
    val df = Seq(
      (1L, "a b c p q r"),
      (2L, "a b c s t u"),
      (3L, "a b c v w x")).toDF("doc_id", "text")
    def rep(dfMin: Long) =
      Corpus.boilerplateNgrams(df, col("doc_id"), col("text"),
          shingleN = 3, dfMin = dfMin)
        .select("doc_id", "n_shingles", "n_boiler", "boiler_ppm")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // dfMin=3: only the shared "a b c" shingle is boilerplate; each
    // doc has 4 shingles ("a b c","b c <t1>","c <t1> <t2>","<t1..3>")
    val r3 = rep(3)
    assert(r3.values.forall(r => r._2 === 4 && r._3 === 1
      && r._4 === 250000L), s"expected 1/4 boilerplate per doc: $r3")
    // dfMin=1: EVERY shingle is boilerplate -> ppm exactly 1e6
    assert(rep(1).values.forall(r => r._3 === r._2 && r._4 === 1000000L))
    // dfMin above max df: zero boilerplate everywhere
    assert(rep(99).values.forall(r => r._3 === 0L && r._4 === 0L))
    // corpus-level: raising dfMin never raises any doc's count
    val lo = Corpus.boilerplateNgrams(docs, col("doc_id"), col("text"),
      dfMin = 3).select("doc_id", "n_boiler").as[(Long, Long)]
      .collect().toMap
    val hi = Corpus.boilerplateNgrams(docs, col("doc_id"), col("text"),
      dfMin = 6).select("doc_id", "n_boiler").as[(Long, Long)]
      .collect().toMap
    assert(lo.keySet === hi.keySet)
    assert(lo.forall { case (d, n) => hi(d) <= n },
      "boilerplate count must be monotone non-increasing in dfMin")
  }

  test("bigram familiarity scores shared phrasing high, gibberish low") {
    // "the cat sat" appears in 3 docs -> its bigrams reach minCount=3;
    // doc 4 is unique gibberish; doc 5 has one token (no bigrams)
    val df = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "qzx wvu ptr"), (5L, "solo"))
      .toDF("doc_id", "text")
    val got = Corpus.bigramFamiliarity(df, col("doc_id"), col("text"),
        minCount = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1-3: both bigrams ("the cat", "cat sat") occur 3x corpus-wide
    Seq(1L, 2L, 3L).foreach(d => assert(got(d) == ((2L, 2L, 1000000L)), s"doc $d"))
    assert(got(4L) == ((2L, 0L, 0L)), "gibberish has zero familiar bigrams")
    assert(got(5L) == ((0L, 0L, 0L)), "sub-2-token doc scores 0, not NULL")
    // ppm is an integer floor: 1 of 2 familiar -> 500000
    val mixed = Seq((1L, "the cat sat"), (2L, "the cat sat"),
      (3L, "the cat won")).toDF("doc_id", "text")
    val m = Corpus.bigramFamiliarity(mixed, col("doc_id"), col("text"),
        minCount = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    // "the cat" occurs 3x (familiar); "cat sat" 2x, "cat won" 1x
    assert(m(3L) == 500000L)
  }

  // ---- mixToTargets ----

  test("mixToTargets hits the target mixture, keeps the limiting class whole") {
    val events = graft.Tables.events(spark, sf0001).cache()
    val targets = Map("click" -> 5, "view" -> 3, "purchase" -> 2)
    val out = Corpus.mixToTargets(events, col("event_type"),
      col("event_id"), targets).cache()
    val kept = out.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val orig = events.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    // untargeted classes are dropped entirely
    assert(kept.keySet == targets.keySet)
    // never upsamples
    targets.keys.foreach(c => assert(kept(c) <= orig(c)))
    // the limiting class (smallest n/W) keeps every row: the bucket
    // threshold degenerates to bucket < Buckets
    val (limC, _, _) = targets.toSeq
      .map { case (c, wt) => (c, orig(c), wt.toLong) }
      .minBy { case (c, n, wt) => (n * 1000000L / wt, n, wt, c) }
    assert(kept(limC) == orig(limC), s"limiting class $limC must keep all")
    // mixture tracks the target ratios in expectation (hash-bucket
    // sampling: allow generous slack on a few hundred rows/class)
    val total = kept.values.sum.toDouble
    val wSum = targets.values.sum.toDouble
    targets.foreach { case (c, wt) =>
      val got = kept(c) / total
      val want = wt / wSum
      assert(math.abs(got - want) < 0.08,
        s"$c: got ${got}, want $want ($kept)")
    }
    // deterministic and repartition-proof
    val again = Corpus.mixToTargets(events.repartition(13),
      col("event_type"), col("event_id"), targets)
      .select("event_id").as[Long].collect().toSet
    assert(again == out.select("event_id").as[Long].collect().toSet)
    // a target class absent from the data fails loudly
    val ex = intercept[IllegalArgumentException] {
      Corpus.mixToTargets(events, col("event_type"), col("event_id"),
        Map("click" -> 1, "no_such_class" -> 1))
    }
    assert(ex.getMessage.contains("no_such_class"))
    // non-string class columns work through the documented string-key
    // contract (cast once, not ClassCastException off collected rows).
    // Class 1 (n=2) is limiting at 1:1 weights -> kept in full; class
    // 2 downsamples in expectation (possibly to zero on 4 rows — the
    // hash buckets are deterministic, not proportional-exact)
    val intCls = Seq((1L, 1), (2L, 1), (3L, 2), (4L, 2), (5L, 2), (6L, 2))
      .toDF("id", "cat")
    val byCat = Corpus.mixToTargets(intCls, col("cat"), col("id"),
        Map("1" -> 1, "2" -> 1))
      .groupBy("cat").count().as[(Int, Long)].collect().toMap
    assert(byCat.getOrElse(1, 0L) == 2L,
      s"limiting int class must keep all rows: $byCat")
    assert(byCat.getOrElse(2, 0L) <= 4L)
  }

  // ---- weightedSample ----

  test("weightedSample always keeps max-weight rows, is repartition-proof") {
    val a = Corpus.weightedSample(docs, col("doc_id"), col("n_chars"))
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.weightedSample(docs.repartition(11), col("doc_id"),
      col("n_chars")).select("doc_id").as[Long].collect().toSet
    assert(a == b, "sample membership must not depend on partitioning")
    val maxChars = docs.agg(max("n_chars")).as[Long].head()
    val maxIds = docs.filter(col("n_chars") === maxChars)
      .select("doc_id").as[Long].collect().toSet
    assert(maxIds.subsetOf(a),
      "bucket*max < max*Buckets holds for every bucket")
    assert(a.size > 0 && a.size < docs.count())
  }

  test("weightedSample keep rate grows with weight") {
    // two weight classes 10:1 — kept fraction of the heavy class must
    // dominate the light class
    val df = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) 1000L else 100L)).toDF("id", "w")
    val kept = Corpus.weightedSample(df, col("id"), col("w"))
      .groupBy(col("w")).count().as[(Long, Long)].collect().toMap
    assert(kept(1000L) == 1000L, "weight == max keeps everything")
    val lightRate = kept.getOrElse(100L, 0L).toDouble / 1000L
    assert(lightRate > 0.02 && lightRate < 0.25,
      s"light class should keep ~10%, got $lightRate")
  }

  // ---- balanceClasses ----

  test("balanceClasses keeps every minority row, downsamples the rest") {
    val ev = graft.Tables.events(spark, sf0001)
    val before = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val minN = before.values.min
    val minority = before.minBy(_._2)._1
    val out = Corpus.balanceClasses(ev, col("event_type"), col("event_id"))
    val after = out.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(after(minority) == minN, "minority class must keep all rows")
    assert(before.keySet == after.keySet, "no class disappears")
    after.foreach { case (cls, n) =>
      assert(n <= before(cls))
      val dev = math.abs(n - minN).toDouble / minN
      assert(dev < 0.25, s"$cls kept $n, expected ~$minN")
    }
    // schema passes through untouched
    assert(out.columns.sameElements(ev.columns))
  }

  test("balanceClasses flattens a 9:1 skew to the minority count") {
    val df = (0L until 1000L).map(i =>
      (i, if (i < 900) "maj" else "min")).toDF("id", "cls")
    val after = Corpus.balanceClasses(df, col("cls"), col("id"))
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(after("min") == 100L, "minority keeps every row")
    assert(after("maj") >= 70L && after("maj") <= 130L,
      s"majority must land near 100, got ${after("maj")}")
  }

  test("balanceClasses treats NULL as a class and rejects empty input") {
    // NULL is the minority (5 rows) — its rows must survive the join
    // and set the target count
    val df = ((0L until 900L).map(i => (i, Some("maj")))
      ++ (900L until 1000L).map(i => (i, Some("min")))
      ++ (1000L until 1005L).map(i => (i, Option.empty[String])))
      .toDF("id", "cls")
    val after = Corpus.balanceClasses(df, col("cls"), col("id"))
      .groupBy("cls").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(after(None) == 5L, "NULL-class rows must all survive")
    assert(after.keySet == Set(None, Some("maj"), Some("min")))
    assert(after(Some("maj")) <= 15L && after(Some("min")) <= 15L,
      s"all classes downsample toward the NULL minority count: $after")
    // empty input: a clear contract error, not an NPE
    val e = intercept[IllegalArgumentException] {
      Corpus.balanceClasses(df.filter(col("id") < 0), col("cls"), col("id"))
    }
    assert(e.getMessage.contains("non-empty"))
    val e2 = intercept[IllegalArgumentException] {
      Corpus.weightedSample(df.filter(col("id") < 0), col("id"), col("id"))
    }
    assert(e2.getMessage.contains("non-empty"))
  }

  // ---- c4QualityFlags ----

  test("c4QualityFlags rules fire on crafted documents") {
    val df = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the river bank"),
      (2L, "short text here"),                          // < 10 words
      (3L, "one two three four five six seven eight nine ten eleven"), // no stopword
      (4L, "the the the the the the the the the the the the"), // repetitive
      (5L, "the json body { is code a } with ten more words here"), // brace
      (6L, "lorem ipsum dolor sit amet the a filler text pads this out"))
      .toDF("doc_id", "text")
    val out = Corpus.c4QualityFlags(df, col("doc_id"), col("text"))
      .select("doc_id", "min_words", "has_stopword", "diverse",
        "no_brace", "no_lorem", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._7, "clean doc passes")
    assert(!out(2L)._2 && !out(2L)._7, "short doc fails min_words")
    assert(!out(3L)._3 && !out(3L)._7, "stopword-free doc fails")
    assert(!out(4L)._4 && !out(4L)._7, "12x'the' fails the diversity rule")
    assert(!out(5L)._5 && !out(5L)._7, "brace doc fails no_brace")
    assert(!out(6L)._6 && !out(6L)._7, "lorem ipsum fails no_lorem")
  }

  test("c4QualityFlags distinct_ppm is an exact integer floor") {
    val df = Seq((1L, "a a b")).toDF("doc_id", "text") // 2 distinct / 3
    val ppm = Corpus.c4QualityFlags(df, col("doc_id"), col("text"))
      .select("distinct_ppm").as[Long].head()
    assert(ppm == 666666L, s"2*1000000 div 3 must floor to 666666, got $ppm")
  }

  // ---- topBigrams ----

  test("topBigrams counts and orders with text tie-break") {
    val df = Seq("x y x y", "x y z", "b c").toDF("text")
    // bigrams: doc1 [x y][y x][x y], doc2 [x y][y z], doc3 [b c]
    val out = Corpus.topBigrams(df, col("text"), k = 3)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("x y", 3L), ("b c", 1L), ("y x", 1L)),
      s"got $out")
  }

  test("chunkDocuments splits on the token budget with a short tail") {
    val df = Seq((7L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val out = Corpus.chunkDocuments(df, col("doc_id"), col("text"),
      chunkTokens = 4)
      .orderBy("chunk_idx")
      .select("chunk_idx", "n_tokens").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 4L), (1L, 4L), (2L, 2L)), s"got $out")
    // provenance: md5 of the first chunk text
    val m = Corpus.chunkDocuments(df, col("doc_id"), col("text"), 4)
      .filter(col("chunk_idx") === 0).select("chunk_md5").as[String].head()
    assert(m == spark.sql("SELECT md5('t1 t2 t3 t4')").as[String].head())
  }

  test("chunking is lossless: chunks rejoin to the normalized text") {
    // invariant over the whole corpus: concatenating a doc's chunks in
    // chunk_idx order with single spaces reproduces the ws-normalized
    // original — no token lost, duplicated, or reordered
    val rejoined = Corpus.chunked(docs, col("doc_id"), col("text"), 64)
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("seg_idx"), col("seg")))), x => x("seg")), " ")
        .as("rejoined"))
    val orig = docs.select(col("doc_id").cast("long").as("doc_id"),
      regexp_replace(trim(col("text"), " "), "\\s+", " ").as("norm"))
    val mismatches = rejoined.join(orig, "doc_id")
      .filter(col("rejoined") =!= col("norm")).count()
    assert(mismatches == 0, s"$mismatches docs fail chunk-rejoin parity")
  }

  // ---- temperatureSample ----

  test("temperature mixing keeps the anchor class whole and flattens toward sqrt(n)") {
    // counts 100 / 400 / 2500 -> weights 10 / 20 / 50; the anchor is
    // the smallest class (best w/n ratio) and keeps ALL rows; expected
    // kept volume per class is n0 * w_c / w0 = 100 / 200 / 500 —
    // proportional to sqrt(n), the whole point of temperature mixing
    val rows = ((0 until 100).map(i => (i.toLong, "small")) ++
      (100 until 500).map(i => (i.toLong, "mid")) ++
      (500 until 3000).map(i => (i.toLong, "big")) ++
      Seq((9999L, null: String))).toDF("id", "cls")
    val kept = Corpus.temperatureSample(rows, col("cls"), col("id"))
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(kept("small") == 100L, s"anchor class must keep all rows: $kept")
    // hash buckets are deterministic, not proportional-exact: allow
    // +-30% around the expected kept volumes
    assert(kept("mid") >= 140 && kept("mid") <= 260, s"mid: $kept")
    assert(kept("big") >= 350 && kept("big") <= 650, s"big: $kept")
    // NULL class cannot be a literal-map key: dropped, like mixToTargets
    assert(!kept.contains(null))
    // flattening is monotone: keep RATE decreases as class size grows
    assert(kept("mid").toDouble / 400 > kept("big").toDouble / 2500)
    assert(kept("small").toDouble / 100 > kept("mid").toDouble / 400)
  }

  test("temperature mixing fails loudly on an all-null class column") {
    val rows = Seq((1L, null: String), (2L, null: String)).toDF("id", "cls")
    val ex = intercept[IllegalArgumentException] {
      Corpus.temperatureSample(rows, col("cls"), col("id"))
    }
    assert(ex.getMessage.contains("non-null class"))
  }

  // ---- gopherQualityFlags ----

  test("gopher rules: each flag trips on its own pathology") {
    val rows = Seq(
      // 12 medium words incl. stopwords 'the'/'of' -> keeps
      (1L, "the quality of corpus text matters when rules are applied here"),
      // too short (5 words)
      (2L, "the cat sat of mat"),
      // mean word length > 10 chars
      (3L, "the of " + Seq.fill(10)("supercalifragilistic").mkString(" ")),
      // numeric flood: < 80% alpha words
      (4L, "the of 1 2 3 4 5 6 7 8 9 10 11 12"),
      // symbol flood: '#' per word over 10%
      (5L, "the of ### alpha beta gamma delta " +
        "epsilon zeta eta theta iota kappa"),
      // bullet-heavy lines (2 of 2 bulleted)
      (6L, "- the first bullet item of note\n- the second bullet item here"),
      // every line ends with ellipsis
      (7L, "the thought of it trails away now...\nand so does this one..."),
      // no stopwords at all
      (8L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val out = Corpus.gopherQualityFlags(rows, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("word_count_ok") &&
      !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("word_len_ok"))
    assert(!out(4L).getAs[Boolean]("mostly_alpha"))
    assert(!out(5L).getAs[Boolean]("low_symbol"))
    assert(!out(6L).getAs[Boolean]("few_bullets"))
    assert(!out(7L).getAs[Boolean]("few_ellipsis"))
    assert(!out(8L).getAs[Boolean]("enough_stopwords"))
    // spot-check the exact integer ppm arithmetic on doc 1
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_words") == 11L)
    val lens = "the quality of corpus text matters when rules are applied here"
      .split(" ").map(_.length.toLong)
    assert(d1.getAs[Long]("mean_word_len_ppm") == lens.sum * 1000000L / 11L)
    assert(d1.getAs[Long]("alpha_ppm") == 1000000L)
    assert(d1.getAs[Long]("stop_hits") == 2L)
  }

  test("gopher stopword rule is token membership, not substring") {
    // 'theme' contains 'the' but is not the token 'the'; 'of' appears
    // only embedded in 'often'
    val rows = Seq((1L,
      "theme often words appear embedded but never standalone " +
        "tokens in this sentence stream")).toDF("doc_id", "text")
    val out = Corpus.gopherQualityFlags(rows, col("doc_id"), col("text"))
      .collect().head
    assert(out.getAs[Long]("stop_hits") == 0L)
    assert(!out.getAs[Boolean]("enough_stopwords"))
  }

  test("freqHistogram totals reconcile with the corpus") {
    val hist = Corpus.freqHistogram(docs, col("text"))
      .agg(sum("n_terms"), sum("n_occurrences"))
      .as[(Long, Long)].head()
    val terms = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
    val (nDistinct, nTotal) =
      (terms.distinct().count(), terms.count())
    assert(hist._1 == nDistinct, "bin term counts must sum to |vocab|")
    assert(hist._2 == nTotal, "bin occurrences must sum to corpus tokens")
  }

  test("vocabCoverageReport is exact when the cut lands inside a frequency tie") {
    // counts: a,b,c all 2 (one tie level), d -> 1; total mass 7.
    // k=2 cuts INSIDE the occ=2 level: covered = 2 types x 2 = 4
    val df = Seq("a a b b", "c c d").toDF("text")
    val out = Corpus.vocabCoverageReport(df, col("text"), sizes = Seq(1, 2, 16))
      .orderBy("vocab_size")
      .select("vocab_size", "n_types_used", "covered_occ", "total_occ",
        "coverage_ppm", "oov_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 2L, 7L, 285714L, 714286L),
      (2L, 2L, 4L, 7L, 571428L, 428572L),
      (16L, 4L, 7L, 7L, 1000000L, 0L)), s"got $out")
  }

  test("vocabCoverageReport coverage is monotone in vocab size on the corpus") {
    val out = Corpus.vocabCoverageReport(docs, col("text"),
        sizes = Seq(4, 16, 64, 4096))
      .orderBy("vocab_size")
      .select("vocab_size", "coverage_ppm", "oov_ppm")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._2) == out.map(_._2).sorted,
      s"coverage must grow with k: $out")
    assert(out.forall(r => r._2 + r._3 == 1000000L),
      s"coverage + oov must partition ppm space: $out")
    assert(out.last._2 == 1000000L,
      "a vocab larger than |V| covers everything")
  }

  test("chunkDocumentsOverlap windows advance by stride and keep the short tail") {
    // 10 tokens, window 4, stride 3 -> chunks at offsets 0, 3, 6
    // (the last window reaches the end); every token covered
    val df = Seq((7L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val out = Corpus.chunkDocumentsOverlap(df, col("doc_id"), col("text"),
        chunkTokens = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_token", "n_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)), s"got $out")
    // neighbor chunks share window-stride tokens: chunk 1 is t4..t7
    val texts = Corpus.chunkDocumentsOverlap(df, col("doc_id"), col("text"),
        chunkTokens = 4, stride = 3)
      .orderBy("chunk_idx").select("chunk_md5").as[String].collect()
    val expect = Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10")
      .map(t => spark.sql(s"SELECT md5('$t')").as[String].head())
    assert(texts.toSeq == expect, "chunk text must be the strided windows")
  }

  test("chunkDocumentsOverlap degenerates to chunkDocuments at stride == window") {
    val a = Corpus.chunkDocumentsOverlap(docs, col("doc_id"), col("text"),
        chunkTokens = 64, stride = 64)
      .select("doc_id", "chunk_idx", "n_tokens", "chunk_md5")
    val b = Corpus.chunkDocuments(docs, col("doc_id"), col("text"),
      chunkTokens = 64)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "stride == window must reproduce the non-overlapping chunker")
    // short doc: one window, not zero
    val short = Corpus.chunkDocumentsOverlap(
      Seq((1L, "x y")).toDF("doc_id", "text"), col("doc_id"), col("text"),
      chunkTokens = 4, stride = 3)
      .select("chunk_idx", "n_tokens").as[(Long, Long)].collect().toSeq
    assert(short == Seq((0L, 2L)), s"got $short")
  }

  test("surprisalBuckets terciles split each source head/middle/tail") {
    // one source, three surprisal levels: doc 1 all-common tokens,
    // doc 2 mixed, doc 3 all-unique — bucket order must follow
    val df = Seq(
      (1L, "s", "x x x x"),
      (2L, "s", "x x q1 q2"),
      (3L, "s", "q3 q4 q5 q6")).toDF("doc_id", "source", "text")
    val out = Corpus.surprisalBuckets(df, col("doc_id"), col("source"),
        col("text"))
      .select("source", "bucket", "n_docs", "docs_share_ppm")
      .as[(String, String, Long, Long)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    assert(out == Map("head" -> (1L, 333333L), "middle" -> (1L, 333333L),
      "tail" -> (1L, 333333L)), s"got $out")
    // and head really is the LOW-surprisal third: doc 1's mean bits
    // must be the minimum of the three docs
    val sur = Corpus.unigramSurprisal(df, col("doc_id"), col("text"))
      .select("doc_id", "mean_bits_ppm").as[(Long, Long)].collect().toMap
    assert(sur(1L) == sur.values.min && sur(3L) == sur.values.max)
  }

  test("surprisalBuckets docs_share_ppm partitions each source") {
    val out = Corpus.surprisalBuckets(docs, col("doc_id"), col("source"),
        col("text"))
      .groupBy("source").agg(sum("n_docs").as("n"))
      .as[(String, Long)].collect().toMap
    val perSrc = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(out == perSrc, "every doc lands in exactly one bucket")
  }

  test("freqHistogram bins term counts by power of two") {
    // counts: a->5 (bin 3), b->2 (bin 2), c->1, d->1 (bin 1)
    val df = Seq("a a a b", "a a b c", "d").toDF("text")
    val out = Corpus.freqHistogram(df, col("text"))
      .orderBy("df_bucket")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 5L)),
      s"got $out")
  }

  // ---- fixedSizeSample / group split / per-source curation ----

  test("fixedSizeSample draws exactly k rows, stable across partitioning") {
    val a = Sampling.fixedSizeSample(docs, col("doc_id"), k = 37)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.fixedSizeSample(docs.repartition(9), col("doc_id"),
      k = 37).select("doc_id").as[Long].collect().toSet
    assert(a.size == 37 && a == b)
    // nested: the 10-row draw is a prefix of the 37-row draw
    val small = Sampling.fixedSizeSample(docs, col("doc_id"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(a), "smaller k must be a prefix of larger k")
  }

  test("group split never places one source in two splits") {
    val split = docs.select(col("source"),
      Sampling.splitColumn(col("source"), 0.1, 0.1, salt = "grp")
        .as("split")).distinct()
    val perSource = split.groupBy("source").count()
      .as[(String, Long)].collect()
    assert(perSource.nonEmpty && perSource.forall(_._2 == 1L),
      "each source must land in exactly one split")
  }

  test("per-source top-k curation: <= k rows per source, ranked, heap == window") {
    val scored = TextOps.withQualityScore(
      docs.select(col("doc_id"), col("source"), col("text")), col("text"))
    val heap = scored.groupBy(col("source"))
      .agg(graft.functions.TopK.topkByScore(col("quality_score"),
        col("doc_id"), 5).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).as("rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val win = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("source"), col("doc_id"), col("rank"))
    assert(heap.orderBy("source", "rank").collect()
      .sameElements(win.orderBy("source", "rank").collect()),
      "bounded-heap agg must equal the window formulation")
  }

  test("native WordChunks equals the Column-algebra chunker") {
    val native = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.wordChunks(col("text"), 8).as("c"))
    val hof = docs.select(col("doc_id"),
      TextRefs.chunkedHof(col("text"), 8).as("c"))
    assert(native.orderBy("doc_id").collect()
      .sameElements(hof.orderBy("doc_id").collect()))
    // riskiest corners: empty, all-space, tab/newline whitespace (trim
    // strips ASCII space only; \s+ split yields a leading "" token) —
    // both sides must agree exactly or the oracle contract breaks
    val edge = Seq("one", "  padded  text tail x  ", "a b c d",
      "", "   ", "a\tb\nc", "\tlead").toDF("text")
    val ne = edge.select(
      graft.functions.VectorFunctions.wordChunks(col("text"), 2).as("c"))
      .collect().map(_.getSeq[String](0))
    val he = edge.select(TextRefs.chunkedHof(col("text"), 2).as("c"))
      .collect().map(_.getSeq[String](0))
    assert(ne.zip(he).forall { case (a, b) => a == b },
      s"edge mismatch: ${ne.toSeq} vs ${he.toSeq}")
  }

  test("native WordChunksStrided equals the Column-algebra strided chunker") {
    val native = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.wordChunksStrided(col("text"), 8, 5)
        .as("c"))
    val hof = docs.select(col("doc_id"),
      TextRefs.chunkedOverlapHof(col("text"), 8, 5).as("c"))
    assert(native.orderBy("doc_id").collect()
      .sameElements(hof.orderBy("doc_id").collect()))
    // same riskiest corners as the non-overlapping chunker, plus the
    // exactly-one-window and one-past-the-window lengths
    val edge = Seq("one", "  padded  text tail x  ", "a b c d",
      "a b c d e", "", "   ", "a\tb\nc", "\tlead").toDF("text")
    val ne = edge.select(
      graft.functions.VectorFunctions.wordChunksStrided(col("text"), 4, 3)
        .as("c")).collect().map(_.getSeq[String](0))
    val he = edge.select(TextRefs.chunkedOverlapHof(col("text"), 4, 3).as("c"))
      .collect().map(_.getSeq[String](0))
    assert(ne.zip(he).forall { case (a, b) => a == b },
      s"edge mismatch: ${ne.toSeq} vs ${he.toSeq}")
  }

  test("native WordShingleStrings equals the Column-algebra wordShingles") {
    val native = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.wordShingleStrings(col("text"), 2)
        .as("sh"))
    val hof = docs.select(col("doc_id"),
      TextRefs.wordShingles(col("text"), 2).as("sh"))
    assert(native.orderBy("doc_id").collect()
      .sameElements(hof.orderBy("doc_id").collect()))
    // edge cases: fewer tokens than n, surrounding spaces, all-space,
    // non-space whitespace (tab/newline survive the ASCII-space trim)
    val edge = Seq("one", "  padded  text  ", "", "   ", "a\tb\nc",
      "\tlead").toDF("text")
    val ne = edge.select(
      graft.functions.VectorFunctions.wordShingleStrings(col("text"), 2)
        .as("sh")).collect().map(_.getSeq[String](0))
    val he = edge.select(TextRefs.wordShingles(col("text"), 2).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(ne.zip(he).forall { case (a, b) => a == b },
      s"edge mismatch: ${ne.toSeq} vs ${he.toSeq}")
  }

  // ---- randomProjection ----

  test("randomProjection is deterministic, 16-dim, and exactly linear under doubling") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val rp = emb.select(col("vec_id"),
      Similarity.randomProjection(col("embedding"), 64, 16).as("rp"))
    val rows = rp.select(col("vec_id"), size(col("rp")).as("n"))
      .as[(Long, Int)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 == 16))
    // doubling the input doubles the projection EXACTLY (x2 is an
    // exponent shift, so it commutes with every FP rounding in the fold)
    val doubled = emb.select(col("vec_id"),
      Similarity.randomProjection(
        transform(col("embedding"), x => x * lit(2.0f)), 64, 16).as("rp2"))
    val joined = rp.join(doubled, "vec_id")
      .select(forall(zip_with(col("rp"), col("rp2"),
        (a, b) => b === a * lit(2.0d)), x => x).as("ok"))
      .as[Boolean].collect()
    assert(joined.forall(identity), "rp(2x) must equal 2*rp(x) bit-exactly")
  }

  test("tokenBudgetSelect keeps the strict ordered prefix within budget") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // (id, group, score, tokens): order within g1 is by score desc
      (1L, "g1", 9.0, 40L), (2L, "g1", 8.0, 50L), (3L, "g1", 7.0, 30L),
      (4L, "g1", 6.0, 10L),
      (5L, "g2", 5.0, 200L), (6L, "g2", 4.0, 1L)
    ).toDF("id", "g", "score", "toks")
    val kept = Corpus.tokenBudgetSelect(docs, col("g"),
        Seq(col("score").desc, col("id")), col("toks"), budget = 100L)
      .select(col("id"), col("cum_tokens"))
      .as[(Long, Long)].collect().toMap
    // g1: 40, 90 kept; doc 3 would hit 120 > 100 and is dropped, and
    // the strict prefix does NOT unblock the later doc 4 (90+10=100
    // would fit, but prefix semantics stop at the first overflow)
    assert(kept == Map(1L -> 40L, 2L -> 90L))
  }

  test("bigramConditionals: ppm conditionals per first word sum <= 1e6, ranks by count") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      "the cat sat", "the cat ran", "the dog sat", "the cat sat",
      "a dog", "a dog", "a dog", "a cat", "a cat", "a mouse", "a mole"
    ).toDF("text")
    val out = Corpus.bigramConditionals(docs, col("text"), k = 2,
        minFirst = 3L)
      .select(col("w1"), col("w2"), col("n"), col("total"),
        col("cond_ppm"), col("rank"))
      .as[(String, String, Long, Long, Long, Long)].collect()
    val byW1 = out.groupBy(_._1)
    // "the": cat x3, dog x1 (total 4); top-2 = cat (750000), dog (250000)
    assert(byW1("the").sortBy(_._6).map(r => (r._2, r._3, r._5)).toSeq
      == Seq(("cat", 3L, 750000L), ("dog", 1L, 250000L)))
    // "a": dog x3, cat x2, mouse 1, mole 1 (total 7) -> top-2 dog, cat
    assert(byW1("a").sortBy(_._6).map(r => (r._2, r._3, r._5)).toSeq
      == Seq(("dog", 3L, 428571L), ("cat", 2L, 285714L)))
    // every first word's FULL conditional mass is <= 1e6 by floor-div
    assert(out.groupBy(_._1).forall(_._2.map(_._5).sum <= 1000000L))
    // "cat" has exactly 3 first-word occurrences -> present; "dog"
    // leads only one bigram and "sat" none -> below minFirst, absent
    assert(byW1.contains("cat"))
    assert(!byW1.contains("dog") && !byW1.contains("sat"))
  }
  test("stripHotTokens removes exactly the >=half-df tokens, order kept") {
    val out = Corpus.stripHotTokens(docs, col("doc_id"), col("text"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    // independent driver-side replay
    val n = rows.length
    val df = rows.flatMap { case (_, t) =>
      t.trim.split("\\s+").distinct }.groupBy(identity)
      .view.mapValues(_.length.toLong)
    val hot = df.filter { case (_, c) => c * 2 >= n }.keySet
    assert(hot.nonEmpty, "fixture corpus should have corpus-hot tokens")
    for ((id, text) <- rows) {
      val toks = text.trim.split("\\s+").toSeq
      val kept = toks.filterNot(hot)
      val (gotText, gotRemoved) = out(id)
      assert(gotText === kept.mkString(" "), s"doc $id text diverged")
      assert(gotRemoved === (toks.size - kept.size).toLong)
    }
    // the strip is order/multiplicity-preserving on what remains:
    // spot-check that a surviving duplicated token stays duplicated
    val survivor = rows.collectFirst {
      case (id, text) if text.trim.split("\\s+").count(t =>
        !hot(t) && text.trim.split("\\s+").count(_ == t) > 1) > 0 => id
    }
    for (id <- survivor) {
      val kept = out(id)._1.split(" ").toSeq
      assert(kept.distinct.size < kept.size,
        "multiplicity lost in reassembly")
    }
  }

  test("bpePairCounts: vocabulary-weighted char pairs, hand-checked") {
    // aaab x2: pairs aa,aa,ab each weighted 2 -> aa:4, ab:2
    // ab   x1: ab:1 -> ab total 3; single-char word dropped
    val docs = Seq("aaab aaab ab x").toDF("text")
    val out = Corpus.bpePairCounts(docs, col("text"), k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("aa", 4L), ("ab", 3L)), s"$out")
  }

  test("bpeMerges replays the Sennrich example: 3 merges by hand") {
    // vocabulary {low:5, lower:2, newest:6, widest:3} — round-1 pair
    // counts put (e,s) and (s,t) both at 9, lex tie-break picks (e,s);
    // round 2 merges (es,t) at 9; round 3 has (l,o) and (o,w) tied at
    // 7, lex picks (l,o)
    val docs = Seq(
      ("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3)
    ).toDF("text")
    val (merges, vocab) = Corpus.bpeMerges(docs, col("text"), rounds = 3)
    val m = merges.as[(Long, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    assert(m === Seq((1L, "e", "s", 9L), (2L, "es", "t", 9L),
      (3L, "l", "o", 7L)), s"$m")
    // final symbol inventory: low->[lo w], lower->[lo w e r],
    // newest->[n e w est], widest->[w i d est], weighted by counts
    val v = vocab.as[(String, Long)].collect().toMap
    assert(v === Map("lo" -> 7L, "w" -> 16L, "e" -> 8L, "r" -> 2L,
      "n" -> 6L, "est" -> 9L, "i" -> 3L, "d" -> 3L), s"$v")
  }

  test("bpeMerges re-tokenization is the greedy non-overlapping scan") {
    // merge (a,a) applied to 'aaa' must give [aa, a] (greedy
    // left-to-right), never [a, aa]; round 2 then fuses (aa, a)
    val docs = Seq("aa aa aa aaa").toDF("text")
    val (merges, vocab) = Corpus.bpeMerges(docs, col("text"), rounds = 2)
    val m = merges.as[(Long, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    assert(m === Seq((1L, "a", "a", 5L), (2L, "aa", "a", 1L)), s"$m")
    val v = vocab.as[(String, Long)].collect().toMap
    assert(v === Map("aa" -> 3L, "aaa" -> 1L), s"$v")
  }

  test("bpeTokenize counts per-doc segments under the learned vocab") {
    // after the 3 merges above: low->[lo w]=2, lower->[lo w e r]=4,
    // newest->[n e w est]=4, widest->[w i d est]=4
    // doc: 16 words, 5*2 + 2*4 + 6*4 + 3*4 = 54 bpe tokens
    val docs = Seq(
      (1L, ("low " * 5) + ("lower " * 2) + ("newest " * 6) +
        ("widest " * 3))).toDF("doc_id", "text")
    val (_, state) = Corpus.bpeTrain(docs, col("text"), rounds = 3)
    val out = Corpus.bpeTokenize(docs, col("doc_id"), col("text"), state)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 16L, 54L)), s"$out")
  }

  test("bpeTrain at 64 rounds: prefix-stable vs rounds=8, deterministic, well-formed") {
    // greedy BPE is PREFIX-STABLE in rounds (round r depends only on
    // the state after r-1), so the 64-round trainer's first 8 merges
    // must equal the oracle-verified 8-round table exactly — this
    // chains the realistic-vocab run to the hash-verified setting.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text"))
    val (m64, _) = Corpus.bpeTrain(docs, col("text"), rounds = 64)
    val rows64 = m64.as[(Long, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    assert(rows64.size === 64,
      s"fixture vocabulary exhausted before 64 merges: ${rows64.size}")
    assert(rows64.map(_._1) === (1L to 64L),
      "merge rounds must be contiguous")
    val (m8, _) = Corpus.bpeTrain(docs, col("text"), rounds = 8)
    assert(rows64.take(8) ===
      m8.as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1),
      "64-round prefix diverged from the 8-round trainer")
    // late rounds must be merging MERGED symbols (multi-char operands)
    // — the regime the 8-round setting never reaches, and the reason
    // 64 rounds is the realistic-vocab test at all
    assert(rows64.drop(32).exists(r => r._2.length > 1 || r._3.length > 1),
      "no late-round merge consumed a merged symbol")
    // determinism: an independent re-train replays the identical table
    val (again, _) = Corpus.bpeTrain(docs, col("text"), rounds = 64)
    assert(again.as[(Long, String, String, Long)].collect().toSeq
      .sortBy(_._1) === rows64, "re-train diverged (non-determinism)")
  }

  test("bpeMerges stops early when no pairs remain") {
    val docs = Seq("ab ab").toDF("text")
    val (merges, vocab) = Corpus.bpeMerges(docs, col("text"), rounds = 5)
    assert(merges.as[(Long, String, String, Long)].collect().toSeq
      === Seq((1L, "a", "b", 2L)))
    assert(vocab.as[(String, Long)].collect().toMap === Map("ab" -> 2L))
  }

  test("hashedBow: mass conservation, dim range, split invariance") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val bow = Corpus.hashedBow(docs, col("doc_id"), col("text"), dims = 64)
      .cache()
    try {
      val (massBow, dimMin, dimMax) = bow
        .agg(sum("tf"), min("dim"), max("dim"))
        .as[(Long, Long, Long)].head()
      val massTok = docs
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .count()
      assert(massBow === massTok, "token mass lost in featurization")
      assert(dimMin >= 0 && dimMax < 64, s"dim range [$dimMin, $dimMax]")
      // no fitted state: featurizing any split yields the same rows
      val half = Corpus.hashedBow(docs.filter(col("doc_id") % 2 === 0),
          col("doc_id"), col("text"), dims = 64)
        .withColumnRenamed("tf", "tf_half")
      val diverged = half.join(bow, Seq("doc_id", "dim"))
        .filter(col("tf_half") =!= col("tf")).count()
      assert(diverged === 0L, "split featurization diverged")
    } finally bow.unpersist()
  }

  // ---- filterEnsemble ----

  test("filter ensemble equals the unfused three-filter composition and stays join-free") {
    val got = Corpus.filterEnsemble(docs, col("doc_id"), col("text"))
      .cache()
    try {
      // total partition: every doc lands in exactly one cell
      assert(got.agg(sum("n_docs")).head.getLong(0) === docs.count())
      // shares replay the same integer floor-div
      val badShare = got.filter(
        col("share_ppm") =!= expr(s"n_docs * 1000000 div ${docs.count()}"))
      assert(badShare.count() === 0L)
      // equivalence vs the UNFUSED composition (flag frames joined) —
      // the fusion must never change a single cell
      val unfused = Corpus.c4QualityFlags(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("keep").as("c4_keep"))
        .join(Corpus.gopherQualityFlags(docs, col("doc_id"), col("text"))
          .select(col("doc_id"), col("keep").as("gopher_keep")), Seq("doc_id"))
        .join(docs.select(col("doc_id"),
          (TextOps.langId(col("text")) === "en").as("lang_en")), Seq("doc_id"))
        .groupBy(col("c4_keep"), col("gopher_keep"), col("lang_en"))
        .agg(count(lit(1)).as("n_docs"))
      assert(got.select("c4_keep", "gopher_keep", "lang_en", "n_docs")
        .except(unfused).count() === 0L)
      assert(unfused.except(
        got.select("c4_keep", "gopher_keep", "lang_en", "n_docs"))
        .count() === 0L)
      // plan shape: the fused pass joins NOTHING corpus-sized — the
      // only join is the 8-row x 1-row broadcast for the denominator
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        "ensemble must chain the flag frames, not join them")
    } finally got.unpersist()
  }

  // ---- knContinuation ----

  test("knContinuation solves the Francisco problem by hand") {
    // 'francisco' outcounts 'cat' (3 vs 2) but is context-locked
    // (only ever follows 'san'); KN continuation must rank cat above
    val docs = Seq("san francisco", "san francisco", "san francisco",
      "the cat", "a cat").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val got = Corpus.knContinuation(docs, col("text"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // bigram TYPES: (san,francisco), (the,cat), (a,cat) -> T=3
    assert(got("francisco") == ((3L, 1L, 0L, 333333L)), s"got $got")
    assert(got("cat") == ((2L, 2L, 0L, 666666L)))
    assert(got("san") == ((3L, 0L, 1L, 0L)))
    assert(got("the") == ((1L, 0L, 1L, 0L)))
    assert(got("a") == ((1L, 0L, 1L, 0L)))
    assert(got("cat")._4 > got("francisco")._4,
      "continuation probability must invert the raw-frequency order")
  }

  // ---- diff_corpus_snapshots ----

  test("diff_corpus_snapshots classifies every doc id exactly once") {
    val got = graft.registry.ExtQueries
      .queries("diff_corpus_snapshots")(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val ids = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id").as[Long].collect().toSet
    val expAdded = ids.count(i => i % 5 == 0 && i % 7 != 0)
    val expRemoved = ids.count(i => i % 7 == 0 && i % 5 != 0)
    val expChanged = ids.count(i => i % 11 == 0 && i % 5 != 0 && i % 7 != 0)
    val expTotal = ids.count(i => i % 5 != 0 || i % 7 != 0)
    assert(got.map(_._2).sum == expAdded)
    assert(got.map(_._3).sum == expRemoved)
    assert(got.map(_._4).sum == expChanged)
    assert(got.map(r => r._2 + r._3 + r._4 + r._5).sum == expTotal)
    // an edit appends tokens, an add contributes, a removal subtracts:
    // the per-source token ledger must be internally consistent
    got.foreach { r =>
      assert(r._8 >= r._6 - r._7,
        s"edits can only ADD tokens here, so delta >= added - removed: $r")
    }
  }

  // ---- datasetCard ----

  test("datasetCard: dup attribution, rule shares, NaN-score docs count 0") {
    val good = "the a the a good text with many distinct words here now"
    val docs = Seq(
      (1L, "A", good), (2L, "A", good),          // exact dups within A
      (3L, "B", good),                            // third copy, in B
      (4L, "B", "{ json junk }"),                 // c4 brace kill
      (5L, "B", "")                               // NaN score -> 0
    ).toDF("doc_id", "source", "text")
    val got = Corpus.datasetCard(docs, col("doc_id"), col("source"),
        col("text"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val a = got(0); val b = got(1)
    // A: both docs are copies of a fingerprint with 3 copies corpus-
    // wide -> dup share 1e6; both keep under c4 (12 words, ' the ',
    // 10/12 distinct); stopword argmax says en for everything here
    assert(a == (("A", 2L, 24L, 1000000L, 1000000L, 1000000L, a._7)),
      s"got $a")
    // B: one dup copy of three docs, one brace kill, one short kill
    assert(b == (("B", 3L, 17L, 333333L, 1000000L, 333333L, b._7)),
      s"got $b")
    // junk + empty drag B's mean score below A's identical-doc mean
    assert(a._7 > 0 && b._7 > 0 && a._7 / 2 > b._7 / 3,
      s"score mass: $a vs $b")
  }

  // ---- oovBySource ----

  test("oovBySource: tie at the vocab cut resolves by (occ desc, term)") {
    // counts: x=3, y=2, z=2 — k=2 cuts inside the y/z tie; the total
    // order keeps {x, y}, so z is OOV everywhere
    val docs = Seq((1L, "A", "x y z"), (2L, "B", "z x"),
      (3L, "A", "x y")).toDF("doc_id", "source", "text")
    val got = Corpus.oovBySource(docs, col("source"), col("text"), k = 2)
      .orderBy("source").as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 5L, 1L, 200000L), ("B", 2L, 1L, 500000L)),
      s"got $got")
  }

  // ---- ksDriftReport ----

  test("ksDriftReport: identical sources at 0, disjoint score profiles at 1e6") {
    // A and B carry the SAME score multiset (KS must be exactly 0);
    // C is punct-heavy short junk whose scores land in the bottom
    // buckets while A/B's stopword-rich docs land high — full
    // separation, so the CDF gap must reach exactly 1e6
    val good = "the be to of and that have with good text here now"
    val docs = Seq(
      (1L, "A", good), (2L, "A", good + " more words to vary length"),
      (3L, "B", good), (4L, "B", good + " more words to vary length"),
      (5L, "C", "@#$% !!!"), (6L, "C", "&&& ^^^")).toDF(
      "doc_id", "source", "text")
    val got = Corpus.ksDriftReport(docs, col("doc_id"), col("source"),
        col("text"))
      .orderBy("source_a", "source_b")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) ===
      Seq(("A", "B"), ("A", "C"), ("B", "C")), s"unordered pairs: $got")
    got.foreach(r => assert(r._3 == 2L && r._4 == 2L))
    val ks = got.map(r => (r._1, r._2) -> r._5).toMap
    assert(ks(("A", "B")) == 0L, s"identical distributions: $ks")
    assert(ks(("A", "C")) == 1000000L && ks(("B", "C")) == 1000000L,
      s"fully separated distributions: $ks")
  }

  // ---- qualityCalibrationReport ----

  test("qualityCalibrationReport matches the unfused score+flags composition") {
    val docs2 = docs.select(col("doc_id"), col("text"))
    val got = Corpus.qualityCalibrationReport(docs2, col("doc_id"),
      col("text")).cache()
    try {
      val unfused = TextOps.withQualityScore(docs2, col("text"))
        .select(col("doc_id"),
          least(lit(4L), floor(col("quality_score") * 5.0).cast("long"))
            .as("score_bucket"))
        .join(Corpus.c4QualityFlags(docs2, col("doc_id"), col("text"))
          .select(col("doc_id"), col("keep").as("c4_keep")), Seq("doc_id"))
        .join(Corpus.gopherQualityFlags(docs2, col("doc_id"), col("text"))
          .select(col("doc_id"), col("keep").as("gopher_keep")), Seq("doc_id"))
        .groupBy(col("score_bucket"), col("c4_keep"), col("gopher_keep"))
        .agg(count(lit(1)).as("n_docs"))
      val gotCells = got.select("score_bucket", "c4_keep", "gopher_keep",
        "n_docs")
      assert(gotCells.except(unfused).count() === 0L)
      assert(unfused.except(gotCells).count() === 0L)
      // the matrix partitions the corpus; floor-div shares lose < 1
      // ppm per cell (<= 20 cells: 5 buckets x 2 x 2)
      val (n, ppm) = got.agg(sum(col("n_docs")), sum(col("share_ppm")))
        .as[(Long, Long)].head()
      assert(n === docs2.count())
      assert(ppm <= 1000000L && ppm > 1000000L - 21L)
      // fused: the only join is the denominator broadcast, never a
      // corpus-sized shuffle join
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        "calibration must chain the flag frames, not join them")
    } finally got.unpersist()
  }

  // ---- dedupAdjustedMixture ----

  test("dedupAdjustedMixture discounts redundant mass exactly") {
    // source A: docs 1,2 near-dups (component 1) + unique doc 3;
    // source B: two unique docs. Token masses 2/2/1 and 3/1.
    val docs = Seq(
      (1L, "A", "w w"), (2L, "A", "w w"), (3L, "A", "x"),
      (4L, "B", "y y y"), (5L, "B", "z")).toDF("doc_id", "source", "text")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 5L))
      .toDF("doc_id", "component")
    val got = Corpus.dedupAdjustedMixture(docs, comp, col("doc_id"),
        col("source"), col("text"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // A: 3 docs, 1 redundant (doc 2), 5 raw tokens, 3 effective;
    // B: 2 docs, 0 redundant, 4 raw, 4 effective. Totals tt=9, te=7.
    assert(got === Seq(
      ("A", 3L, 1L, 5L, 3L, 555555L, 428571L),
      ("B", 2L, 0L, 4L, 4L, 444444L, 571428L)))
    // the point of the op: dedup flips the dominant source here
    assert(got(0)._6 > got(1)._6 && got(0)._7 < got(1)._7,
      "naive weights rank A first; adjusted weights must rank B first")
  }

  // ---- unigramSurprisal ----

  test("unigramSurprisal computes exact integer floor-log2 bits") {
    // N = 8 total tokens; cnt(a)=5 -> bits(a)=len(bin(8 div 5))=1;
    // cnt(b)=cnt(c)=cnt(d)=1 -> bits=len(bin(8))=4
    val df = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Corpus.unigramSurprisal(df, col("doc_id"), col("text"))
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 4L, 4L, 1000000L), (2L, 4L, 13L, 3250000L)))
  }

  test("unigramSurprisal covers every doc and ranks rare above common") {
    val got = Corpus.unigramSurprisal(docs, col("doc_id"), col("text"))
      .cache()
    try {
      assert(got.count() === docs.count(), "one row per document")
      // every token carries >= 1 bit, so every mean is >= 1e6 ppm
      assert(got.filter(col("mean_bits_ppm") < 1000000L).count() === 0L)
      // sanity of the proxy: a synthetic all-hapax doc must outscore a
      // doc made of the corpus's single most common token
      val common = docs.select(explode(split(trim(col("text")), "\\s+"))
          .as("t"))
        .groupBy("t").count().orderBy(col("count").desc, col("t"))
        .as[(String, Long)].head()._1
      val probe = docs.select(col("doc_id"), col("text"))
        .union(Seq((-1L, Seq.fill(8)(common).mkString(" ")),
          (-2L, "zqx1 zqx2 zqx3 zqx4 zqx5 zqx6 zqx7 zqx8"))
          .toDF("doc_id", "text"))
      val m = Corpus.unigramSurprisal(probe, col("doc_id"), col("text"))
        .filter(col("doc_id") < 0L)
        .select("doc_id", "mean_bits_ppm")
        .as[(Long, Long)].collect().toMap
      assert(m(-2L) > m(-1L),
        s"hapax doc ${m(-2L)} must outscore common-token doc ${m(-1L)}")
    } finally got.unpersist()
  }
}
