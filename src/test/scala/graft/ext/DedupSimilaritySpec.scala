package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("exact dedup groups duplicated content and keeps the min id") {
    val copies = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
    val groups = Dedup.exactGroups(docs.unionByName(copies),
      col("doc_id"), col("text"))
    val dupGroups = groups.filter(col("n_copies") >= 2)
    assert(dupGroups.count() == docs.filter(col("doc_id") % 50 === 0).count())
    // representative is always the original (min) id
    assert(dupGroups.filter(col("doc_id_kept") >= 1000000).count() == 0)
  }

  test("minhash estimates track exact jaccard (shingle-level)") {
    val subset = docs.filter(col("doc_id") < 120)
    // exact jaccard on 3-shingle sets via the same tokenization
    val sh = subset.select(col("doc_id"),
      explode(array_distinct(TextRefs.wordShingles(col("text"), 3)))
        .as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("ni"))
    val exact = inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", $"ni" * 1.0 / ($"na" + $"nb" - $"ni"))
    val est = Dedup.minhashSignatures(subset, col("doc_id"), col("text"),
      shingleN = 3, k = 64)
    val estA = est.select(col("doc_id").as("doc_a") +:
      (0 until 64).map(i => col(s"mh_$i").as(s"a_$i")): _*)
    val estB = est.select(col("doc_id").as("doc_b") +:
      (0 until 64).map(i => col(s"mh_$i").as(s"b_$i")): _*)
    val matches = (0 until 64)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val joined = exact.join(estA, "doc_a").join(estB, "doc_b")
      .withColumn("est", matches / 64.0)
      .select($"jaccard", $"est").as[(Double, Double)].collect()
    assert(joined.nonEmpty)
    val mae = joined.map { case (j, e) => math.abs(j - e) }.sum / joined.size
    assert(mae < 0.15, s"minhash mean abs error too high: $mae")
  }

  test("shingleJaccardPairs equals the HOF-computed exact shingle-set jaccard") {
    val subset = docs.filter(col("doc_id") < 200)
    val sh = subset.select(col("doc_id"),
      explode(array_distinct(TextRefs.wordShingles(col("text"), 3)))
        .as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("ni"))
    val expected = inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .filter($"ni" * 1.0 / ($"na" + $"nb" - $"ni") >= 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val got = Dedup.shingleJaccardPairs(subset, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"native shingle jaccard diverges from the HOF reference: $got vs $expected")
  }

  test("incremental LSH equals full LSH filtered to batch-touching pairs") {
    val batch = docs.filter(col("doc_id") % 10 === 3)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val inc = Dedup.minhashLshIncremental(corpus, batch, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.3)
      .filter($"doc_a" % 10 === 3 || $"doc_b" % 10 === 3)
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(inc.nonEmpty, "fixture produced no batch-touching pairs")
    assert(inc == full,
      s"incremental diverges from filtered full LSH: ${inc.diff(full)} / ${full.diff(inc)}")
  }

  test("simhash of identical docs is identical; near-identical is close") {
    val pair = Seq(
      (1L, "spark query filter join group sort merge"),
      (2L, "spark query filter join group sort merge"),
      (3L, "completely 9 different 8 words 7 entirely 6 unrelated"))
      .toDF("doc_id", "text")
    // class semantics (r16): the identical pair is ONE intra-class
    // row (rep 1, n = 2, 1 implied doc pair), not a (1,2) row
    val out = Dedup.simhashPairs(pair, "doc_id", "text", maxHamming = 0)
    val rows = out.select("doc_a", "doc_b", "hamming", "n_a", "n_b",
      "n_pairs").as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.toSeq == Seq((1L, 1L, 0L, 2L, 2L, 1L)))
  }

  test("simhashPairs emits O(classes) rows: a size-k identical class is ONE row") {
    val k = 200
    val docs = ((1 to k).map(i => (i.toLong, "spark query filter join group sort merge")) :+
      (1000L, "spark query filter join group sort merged"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming", "n_a", "n_b", "n_pairs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // one intra-class row for the k-copy class (k*(k-1)/2 implied
    // pairs), plus at most one cross row to the near-dup singleton —
    // NEVER k^2/2 rows (the pre-r16 blow-up this spec pins away)
    val intra = out.filter(r => r._1 == r._2)
    assert(intra == Seq((1L, 1L, 0L, k.toLong, k.toLong,
      k.toLong * (k - 1) / 2)), s"got $intra")
    val cross = out.filter(r => r._1 != r._2)
    assert(cross.size <= 1 && out.size <= 2, s"got ${out.size} rows")
    cross.foreach { r =>
      assert(r._1 == 1L && r._2 == 1000L && r._3 >= 1L &&
        r._4 == k.toLong && r._5 == 1L && r._6 == k.toLong, s"got $r")
    }
  }

  test("simhashPairs n_pairs conserves the doc-level pair count exactly") {
    // mixed fixture: duplicate classes of sizes 1..4 over near-dup
    // text variants — class rows must re-express, not lose, the
    // per-doc pair set: sum(n_pairs) == |brute-force doc pairs|
    val base = "spark query filter join group sort merge stream batch"
    val docs = (for {
      v <- 0 until 6; copy <- 0 to (v % 4)
    } yield ((v * 10 + copy).toLong,
      if (v % 2 == 0) base else base + s" extra$v")).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val sumPairs = out.agg(sum($"n_pairs")).as[Long].head()
    // brute force over per-doc simhashes, driver-side
    val hs = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect()
    val brute = (for {
      a <- hs; b <- hs if a._1 < b._1
      if java.lang.Long.bitCount(a._2 ^ b._2) <= 3
    } yield 1).size.toLong
    assert(sumPairs == brute, s"sum(n_pairs)=$sumPairs brute=$brute")
  }

  test("LSH bucket pairs are a subset of brute-force pairs at the same threshold") {
    val brute = Dedup.embeddingNearDupBrute(emb, "vec_id", "embedding", 0.2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNearNeighbors(emb, "vec_id", "embedding",
      dim = 64, planes = 8, threshold = 0.2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.nonEmpty)
  }

  test("brute-force top-k is sorted by cosine and ivf results are true neighbors") {
    val queries = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5)
    val byQuery = bf.select("query_id", "rank", "cosine")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      nCentroids = 8, k = 5)
    // every ivf hit's cosine is <= the brute-force best for that query
    val best = bf.filter(col("rank") === 1)
      .select("query_id", "cosine").as[(Long, Double)].collect().toMap
    val hits = ivf.select("query_id", "cosine").as[(Long, Double)].collect()
    assert(hits.nonEmpty)
    hits.foreach { case (q, c) => assert(c <= best(q) + 1e-12) }
    // recall@5 against brute force must not decrease with more probes
    def recall(n: Int): Double = {
      val truth = bf.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      val got = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        nCentroids = 8, k = 5, nProbe = n)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val r1 = recall(1); val r4 = recall(4)
    assert(r4 >= r1)
    assert(r4 > 0.5, s"recall@5 with nProbe=4 too low: $r4")
  }

  test("Lloyd refinement improves centroid fit over the deterministic init") {
    def fit(iters: Int): Double = {
      val cs = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        nCentroids = 8, iters = iters)
      val normed = Similarity.withNormalized(emb, "embedding", "v")
        .select(col("vec_id"), col("v"))
      // mean best-cosine to any centroid: higher = tighter cells
      normed.join(broadcast(cs))
        .withColumn("c", Similarity.dot(col("v"), col("cv")))
        .groupBy(col("vec_id")).agg(max(col("c")).as("best"))
        .agg(avg(col("best"))).as[Double].head()
    }
    val init = fit(0)
    val refined = fit(2)
    assert(refined >= init,
      s"k-means refinement must not worsen fit: $init -> $refined")
    assert(refined > init + 1e-3,
      s"k-means refinement should measurably improve fit: $init -> $refined")
  }

  test("connected components label every node with its component minimum") {
    val nodes = (1L to 8L).toDF("doc_id")
    // components: {1,2,3} via chain, {4,5} pair, {6,7,8} star on 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (6L, 8L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 6L, 8L -> 6L))
  }

  test("lsh near-dup pairs: exact-verified subset of brute force, recall measured") {
    val brute = Dedup.embeddingNearDupBrute(emb, "vec_id", "embedding", 0.3)
      .select($"vec_a", $"vec_b", $"cosine").as[(Long, Long, Double)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, planes = Similarity.autoPlanes(emb.count()), tables = 4,
        threshold = 0.3)
      .select($"vec_a", $"vec_b", $"cosine").as[(Long, Long, Double)]
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) =>
      assert(brute.contains((a, b)), s"false positive pair ($a,$b)")
      assert(brute((a, b)) == c, "candidate cosine must be EXACT, not estimated")
    }
    // the corpus's similar pairs top out near cosine 0.3-0.5 — far from
    // near-dup territory, so modest recall is expected here; the
    // near-identical-copy test below pins the recall that matters
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.25, s"recall vs brute too low: $recall")
  }

  test("lsh near-dup recall on near-identical copies is high at two corpus sizes") {
    def recallOn(df: org.apache.spark.sql.DataFrame): Double = {
      val n = df.count()
      // deterministic near-copies: nudge the first component by 0.1%
      val copies = df.withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => when(i === 0, (x * 1.001).cast("float")).otherwise(x)))
      val all = df.unionByName(copies)
      val found = Similarity.lshNearDupPairs(all, "vec_id", "embedding",
          dim = 64, planes = Similarity.autoPlanes(2 * n), tables = 4,
          threshold = 0.99)
        .filter($"vec_b" === $"vec_a" + 1000000).count()
      found.toDouble / n
    }
    val rSmall = recallOn(emb)
    val rBig = recallOn(
      spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet"))
    assert(rSmall >= 0.9, s"near-dup recall at n=500 too low: $rSmall")
    assert(rBig >= 0.9, s"near-dup recall at n=2000 too low: $rBig")
  }

  test("lsh near-dup plan has no nested-loop join; the brute baseline does") {
    val lshPlan = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, planes = 4, tables = 4, threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("BroadcastNestedLoopJoin")
      && !lshPlan.contains("CartesianProduct"), "scale-killer join in LSH plan")
    val brutePlan = Dedup.embeddingNearDupBrute(emb, "vec_id", "embedding", 0.3)
      .queryExecution.executedPlan.toString
    assert(brutePlan.contains("BroadcastNestedLoopJoin")
      || brutePlan.contains("CartesianProduct"))
  }

  test("autoPlanes scales with corpus size and bounds bucket occupancy at sf0.1") {
    assert(Similarity.autoPlanes(500) == 4)
    assert(Similarity.autoPlanes(2000) == 5)
    assert(Similarity.autoPlanes(1000000000L) == 16) // default clamp
    assert(Similarity.autoPlanes(1000000000L, maxPlanes = 48) == 24)
    val big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val n = big.count()
    val planes = Similarity.autoPlanes(n)
    val maxBucket = big.select(
        Similarity.hyperplaneSignature(col("embedding"), 64, planes).as("sig"))
      .groupBy("sig").count().agg(max("count")).as[Long].head()
    assert(maxBucket <= n / 8, s"hot bucket: $maxBucket of $n")
  }

  test("native ShingleHex60 equals the Column-algebra shingle hashing") {
    val native = docs.select(col("doc_id"),
        explode(graft.functions.VectorFunctions.shingleHex60(col("text"), 3))
          .as("h"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val algebra = docs.select(col("doc_id"),
        explode(array_distinct(TextRefs.wordShingles(col("text"), 3)))
          .as("shingle"))
      .select(col("doc_id"), TextOps.hex60(col("shingle")).as("h"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(native == algebra)
    // whitespace/short-text edges: tabs+spaces trim, exactly n tokens,
    // fewer than n tokens, empty
    val edge = Seq((1L, "  a\tb c  d "), (2L, "x y z"), (3L, "x y"),
      (4L, "")).toDF("doc_id", "text")
    val nat = edge.select(col("doc_id"),
        graft.functions.VectorFunctions.shingleHex60(col("text"), 3).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val alg = edge.select(col("doc_id"),
        transform(array_distinct(TextRefs.wordShingles(col("text"), 3)),
          s => TextOps.hex60(s)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(nat.view.mapValues(_.toSet).toMap == alg.view.mapValues(_.toSet).toMap)
    assert(nat(3L).isEmpty && nat(4L).isEmpty)
  }

  test("token df-cap guards the inverted index against hot tokens") {
    val toks = Dedup.docTokensCapped(docs, col("doc_id"), col("text"),
      maxDf = 50)
    val maxDf = toks.groupBy("token").count().agg(max("count")).as[Long].head()
    assert(maxDf <= 50)
  }

  test("df-cap can only lower jaccard, never inflate it (sizes are pre-cap)") {
    // two docs sharing ONLY a hot token must not become a pair when the
    // cap hides that token: sizes stay full, intersection shrinks
    val rows = (1L to 30L).map(i => (i, s"hot unique$i filler$i pad$i")) ++
      Seq((100L, "hot aaa bbb ccc"), (101L, "hot ddd eee fff"),
        (200L, "hot xxx yyy zzz"), (201L, "hot xxx yyy www"))
    val df = rows.toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text",
      threshold = 0.01, maxDf = 10)
    val hit = pairs.filter($"doc_a" === 100L && $"doc_b" === 101L)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(hit.isEmpty,
      "a pair overlapping only on a capped token must not surface")
    // and surviving pairs report full (uncapped) set sizes
    val sizes = pairs.select($"n_a").as[Long].collect()
    assert(sizes.forall(_ == 4), s"sizes must be pre-cap: ${sizes.toSeq}")
  }

  test("keep-representative partitions the corpus: one keeper per cluster") {
    val nodes = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val reps = Dedup.connectedComponents(nodes, pairs)
      .groupBy($"component").agg(count(lit(1)).as("cluster_size"))
      .select($"component".as("doc_id"), $"cluster_size")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // representatives are the min doc_id of each cluster; sizes
    // partition the corpus (every doc counted exactly once)
    assert(reps == Seq(1L -> 3L, 4L -> 1L, 5L -> 2L))
    assert(reps.map(_._2).sum == 6L)
  }

  test("containment flags a doc embedded in a larger one that jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = s"$small iota kappa lambda mu nu xi omicron pi rho sigma " +
      "tau upsilon phi chi psi omega one two three four five six seven " +
      "eight nine ten eleven twelve thirteen fourteen fifteen"
    val docs = Seq((1L, small), (2L, big), (3L, "unrelated words entirely " +
      "different content nothing shared here at all today"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleN = 3, pct = 90).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
      .toSeq == Seq((1L, 2L, 1L)),
      s"expected doc 1 contained in doc 2: ${cont.toSeq}")
    // the same pair is invisible to 0.8-jaccard: the union dilutes it
    val jac = Dedup.shingleJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.8).collect()
    assert(jac.isEmpty, s"jaccard unexpectedly caught it: ${jac.toSeq}")
  }

  test("containment pairs are integer-exact and include all high-jaccard pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleN = 3, pct = 90)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // jaccard >= 0.9 implies min-side containment >= 0.9
    val highJac = Dedup.shingleJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(highJac.subsetOf(cont),
      s"missing high-jaccard pairs: ${highJac.diff(cont)}")
  }

  test("lsh tune report: recall and candidate volume are monotone in band count") {
    // A pair colliding at b bands collides on a (k/b)-row band hash;
    // equal signature rows there imply equal rows on every sub-band of
    // a finer banding — candidates(4) ⊆ candidates(8) ⊆ candidates(16),
    // so both recall_ppm and n_candidates must be non-decreasing.
    val rep = Dedup.lshTuneReport(docs, "doc_id", "text")
      .orderBy($"bands")
      .select($"bands", $"n_candidates", $"n_truth", $"matched",
        $"recall_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rep.map(_._1).toSeq === Seq(4L, 8L, 16L))
    val nTruth = Dedup.shingleJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5).count()
    rep.foreach { case (_, nCand, t, matched, recallPpm) =>
      assert(t === nTruth, "every row scores against the same truth")
      assert(matched <= t && recallPpm <= 1000000L)
      assert(nCand >= matched, "hits cannot exceed candidates")
    }
    assert(rep.map(_._2).sliding(2).forall(w => w(0) <= w(1)),
      s"candidate volume not monotone: ${rep.map(_._2).toSeq}")
    assert(rep.map(_._5).sliding(2).forall(w => w(0) <= w(1)),
      s"recall not monotone: ${rep.map(_._5).toSeq}")
  }

  test("source overlap report: cells partition the pair mass, shares sum to ~1e6") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 8, threshold = 0.5)
    val rep = Dedup.sourceOverlapReport(pairs, docs, "doc_id", "source")
      .select("source_a", "source_b", "n_pairs", "share_ppm")
      .as[(String, String, Long, Long)].collect()
    val totalPairs = pairs.count()
    assert(totalPairs > 0, "fixture must produce near-dup pairs")
    // cells partition the pair set: every pair lands in exactly one
    // unordered source cell
    assert(rep.map(_._3).sum === totalPairs,
      "per-cell counts must sum to the total pair count")
    // unordered matrix: source_a <= source_b, no mirrored cells
    assert(rep.forall(r => r._1 <= r._2), "cells must be unordered")
    assert(rep.map(r => (r._1, r._2)).distinct.length === rep.length)
    // exact floor-div shares: sum in (1e6 - #cells, 1e6]
    val shareSum = rep.map(_._4).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rep.length,
      s"ppm shares must floor-sum to ~1e6, got $shareSum")
  }

  test("connected components with a checkpoint dir: reliable rounds, cleaned up") {
    val ckpt = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    val nodes = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L))
    // intermediate rounds are deleted: at most the final snapshot
    // remains under each run dir (getCheckpointDir includes the UUID
    // subdir Spark appends to the configured path)
    val base = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
    val runDirs = base.listFiles()
      .filter(_.getName.startsWith("graft_cc_"))
    assert(runDirs.nonEmpty)
    runDirs.foreach { d =>
      val rounds = d.listFiles().filter(_.getName.startsWith("round_"))
      assert(rounds.length <= 1,
        s"leaked round snapshots: ${rounds.map(_.getName).toSeq}")
    }
  }

  test("clusterSizeReport bins component sizes with exact ppm shares") {
    // components: {1,2,3} (size 3 -> bucket 2), {4} (1 -> bucket 1),
    // {5,6} (2 -> bucket 2)
    val nodes = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterSizeReport(
        Dedup.connectedComponents(nodes, pairs))
      .orderBy("size_bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L, 1L, 166666L), (2L, 2L, 5L, 833333L)))
    // no pairs: every node is a singleton in bucket 1 with full share
    val alone = Dedup.clusterSizeReport(
        Dedup.connectedComponents(nodes,
          Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(alone === Seq((1L, 6L, 6L, 1000000L)))
  }

  test("keepByPriority prefers the trusted source over the lower doc_id") {
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "component")
    val src = Seq((1L, "crawl"), (2L, "wiki"), (3L, "crawl"),
      (4L, "crawl")).toDF("doc_id", "source")
    val prio = Seq(("wiki", 1L), ("crawl", 2L)).toDF("source", "priority")
    val out = Dedup.keepByPriority(comp, src, prio)
      .select("component", "keeper_id", "keeper_source", "cluster_size")
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1 has the min id in cluster 1, but doc 2's source outranks
    assert(out(1L) == ((1L, 2L, "wiki", 3L)), s"got ${out(1L)}")
    assert(out(4L) == ((4L, 4L, "crawl", 1L)), "singleton keeps itself")
  }

  test("keepByPriority breaks within-source ties by doc_id, is partition-proof") {
    val comp = Seq((6L, 5L), (5L, 5L)).toDF("doc_id", "component")
      .repartition(7)
    val src = Seq((5L, "crawl"), (6L, "crawl")).toDF("doc_id", "source")
    val prio = Seq(("crawl", 1L)).toDF("source", "priority")
    val out = Dedup.keepByPriority(comp, src, prio)
      .select("keeper_id").as[Long].collect().toSeq
    assert(out == Seq(5L), s"same source: lower doc_id wins, got $out")
  }

  test("labelSeparationReport: zero within, exact between, by hand") {
    // two perfectly tight classes at +-0.5 on dim 0: within-class
    // variance is exactly 0, between-centroid distance is exactly
    // (5e5)^2 micro^2, separation collapses to between * 1e6
    val vecs = Seq(
      (1L, 0, Array(0.5f, 0f)), (2L, 0, Array(0.5f, 0f)),
      (3L, 1, Array(-0.5f, 0f)), (4L, 1, Array(-0.5f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.labelSeparationReport(vecs, "label", "embedding")
      .orderBy("label")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 250000000000L, 0L, 250000000000000000L),
      (1L, 2L, 250000000000L, 0L, 250000000000000000L)), s"got $got")
  }

  test("dimensionHealthReport: exact variance, dead dims flagged, live dims not") {
    // binary-exact coordinates so q = floor(x * 1e4) is unambiguous:
    // dim 0 constant (collapsed head), dim 1 alternating +-0.25,
    // dim 2 all-zero (truncation bug)
    val vecs = Seq(
      (1L, Array(0.5f, 0.25f, 0f)), (2L, Array(0.5f, -0.25f, 0f)),
      (3L, Array(0.5f, 0.25f, 0f)), (4L, Array(0.5f, -0.25f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimensionHealthReport(vecs, "embedding")
      .orderBy("dim")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    // dim1: q in {2500, -2500}, sum 0, ssq 4*6.25e6 ->
    // var_q8 = (4 * 2.5e7 - 0) div 16 = 6250000
    assert(got === Seq(
      (0L, 4L, 5000L, 5000L, 20000L, 0L, true),
      (1L, 4L, -2500L, 2500L, 0L, 6250000L, false),
      (2L, 4L, 0L, 0L, 0L, 0L, true)), s"got $got")
  }
}
