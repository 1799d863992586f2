package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial stress gate (VERDICT r15 #3): the guards exist — this
  * proves they FIRE, on a hostile corpus the driver's well-behaved
  * fixtures never produce, and that every guarded operator's output
  * stays bounded instead of going quadratic.
  *
  * The hostile derivation (from sf0.1, all other tables copied):
  *  - one 10,000-copy EXACT-duplicate doc class (identical text —
  *    identical simhash, identical minhash signatures);
  *  - one 20,000-doc NEAR-dup mega cluster (shared 48-token base,
  *    one unique suffix token per doc — thousands of DISTINCT
  *    hashes crowding shared band buckets);
  *  - one hot source carrying ~93% of all docs (the injected docs
  *    plus half the base relabeled);
  *  - one 1,500-distinct-part mega order injected into lineitem.
  *
  * Expected firings (asserted, recorded in the JSON artifact):
  *  - `simhash_hot_bucket`   — near-dup cluster crowds 16-bit chunks
  *  - `minhash_hot_bucket`   — identical signatures stack band keys
  *  - `minhash_inc_*`        — same, on the incremental split
  *  - `df_cap_*`             — the cluster's base tokens/shingles exceed
  *                             the inverted-index document-frequency
  *                             cap
  *  - `basket_pairs`         — the mega order exceeds maxBasket
  *  - `semdedup_mega_cell`   — the 30k near-identical embedding
  *                             cluster enters the SPLIT path (r17),
  *                             and the gate additionally asserts the
  *                             split DEDUPED it (>= 25k removed)
  *  - `semdedup_split_floor` — the 6k exactly-identical vectors are
  *                             unsplittable and stay, loudly
  *  - `stream_semgate_mega_cell` — the staged semantic index drops
  *                             the mega cells at staging time
  *  - `mm_quarantined`       — corrupt payload fates classify
  *                             instead of killing tasks
  *
  * Usage: runMain graft.tools.StressGate [baseDir] [outDir] [artifact]
  */
object StressGate {

  /** 48 distinct tokens — enough shingle/simhash mass to make the
    * duplicate classes hash-heavy. */
  private val BaseText: String = (1 to 48).map(i => s"tok$i").mkString(" ")

  /** The near-dup cluster base is SHORT (16 tokens) with TWO unique
    * suffix tokens per variant — tuned empirically
    * (`tools/StressTune`-style probe): a short base leaves many
    * simhash bit-sums near zero, so each variant's unique tokens flip
    * a different handful of bits → ~17k DISTINCT hashes whose
    * untouched chunks crowd shared band buckets to ~4.8k classes,
    * well past the 2048 cap. (A 48-token base + one suffix token
    * collapses to ~1k distinct flip patterns and tops out AT 1024 —
    * hostile-looking but under the cap.) */
  private val ClusterText: String =
    (1 to 16).map(i => s"base$i").mkString(" ")

  def deriveHostile(spark: SparkSession, baseDir: String,
                    outDir: String): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    // half the base corpus relabels to the hot source
    val relabeled = docs.withColumn("source",
      when(col("doc_id") % 2 === 0, lit("hot_crawl"))
        .otherwise(col("source")))
    val dupClass = spark.range(10000).select(
      (col("id") + 10000000L).as("doc_id"), lit(BaseText).as("text"),
      lit("en").as("lang"), lit("hot_crawl").as("source"),
      lit(BaseText.length.toLong).as("n_chars"))
    val nearDup = spark.range(20000).select(
      (col("id") + 20000000L).as("doc_id"),
      concat(lit(ClusterText + " va"), col("id"), lit(" vb"),
        col("id")).as("text"),
      lit("en").as("lang"), lit("hot_crawl").as("source"),
      (lit(ClusterText.length.toLong + 6) +
        length(col("id").cast("string")) * 2).as("n_chars"))
    relabeled.unionByName(dupClass).unionByName(nearDup)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // lineitem plus one degenerate mega order (1500 distinct parts)
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val mega = li.dropDuplicates("l_partkey").limit(1500)
      .withColumn("l_orderkey", lit(900000000L))
    li.unionByName(mega).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    // hostile EMBEDDINGS (r17 — the semantic family's adversary):
    //  - 30,000 NEAR-identical vectors: unit e_0 tilted by a small
    //    fixed angle into a PER-ID murmur3-random direction
    //    orthogonal to e_0 (cos 0.05 ≈ 0.9988, so every pairwise
    //    cosine >= ~0.9975 — deep inside eps): one Lloyd cell of
    //    30k >> maxCell 4096. Because the only member-varying term
    //    of the sub-fit argmax is the random orthogonal component,
    //    the split scatters the cluster ~uniformly across its
    //    sub-centroids and dedup proceeds inside sub-cells;
    //  - 6,000 EXACTLY identical vectors (unit e_1): unsplittable by
    //    any partition (all argmax ties) — the recursion FLOOR must
    //    fire and keep them, loudly, bounded.
    val dim = 64
    val noise = transform(sequence(lit(1), lit(dim - 1)), d =>
      (pmod(hash(col("id"), d).cast("long"), lit(2001L)) - 1000L)
        .cast("double"))
    val noiseNorm = greatest(
      sqrt(aggregate(noise, lit(0.0), (a, x) => a + x * x)), lit(1e-9))
    val cosT = math.cos(0.05)
    val sinT = math.sin(0.05)
    val nearEmb = spark.range(30000).select(
      (col("id") + 10000000L).as("vec_id"),
      concat(array(lit(cosT).cast("float")),
        transform(noise, x => (x / noiseNorm * lit(sinT)).cast("float")))
        .as("embedding"),
      lit(7).as("label"))
    val identEmb = spark.range(6000).select(
      (col("id") + 20000000L).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        when(d === 1, lit(1.0)).otherwise(lit(0.0)).cast("float"))
        .as("embedding"),
      lit(8).as("label"))
    spark.read.parquet(s"$baseDir/embeddings.parquet")
      .unionByName(nearEmb).unionByName(identEmb)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "events"))
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_stress"
    val artifact = if (args.length > 2) args(2) else "STRESS_r17.json"
    val spark = graft.Session.create()
    graft.ext.GuardLog.ensure(spark)

    deriveHostile(spark, baseDir, outDir)
    println(s"[stress] hostile corpus at $outDir: " +
      spark.read.parquet(s"$outDir/documents.parquet").count() + " docs")

    val queries = Seq("dedup_simhash", "dedup_simhash_delta",
      "dedup_minhash_lsh",
      "dedup_incremental", "dedup_ngram_jaccard",
      // the only listed query whose pair core df-caps SHINGLE hashes
      // (df_cap_shingles); the others cap tokens or bucket keys
      "dedup_containment",
      "analytics_basket_pairs", "mm_phash_pairs", "corpus_curation_v3",
      // the SEMANTIC family (r17): batch SemDeDup over the mega
      // embedding clusters (split + recursion floor), the semantic
      // curation flagship, the streaming admission gate (staged-index
      // cap), and decode-or-quarantine over the 35k hostile docs
      "dedup_semdedup", "corpus_curation_v4", "stream_semdedup_gate",
      "mm_decode_quarantine")
    val results = queries.map { name =>
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(name)(spark, outDir)
        .count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $name rows=$rows wall=$wall%.1fs")
      (name, rows, wall)
    }

    // the split must have DEDUPED the 30k near-identical cluster
    // (not just survived it): its removal rate inside sub-cells is
    // the whole point of r17 #4
    val semRemoved = graft.SparkEntry.queries("dedup_semdedup")(
        spark, outDir)
      .filter(col("vec_id") >= 10000000L && col("vec_id") < 20000000L)
      .agg(sum(col("is_removed"))).head.getLong(0)
    println(s"[stress] dedup_semdedup removed $semRemoved of 30000 " +
      "near-identical mega-cluster members via the split")

    // listener delivery is async — settle before reading
    val deadline = System.nanoTime() + 15000000000L
    def guards: Map[String, Long] = graft.ext.GuardLog.lastFired
    val expected = Seq("simhash_hot_bucket", "simhash_delta_hot_bucket",
      "minhash_hot_bucket",
      "minhash_inc_corpus_hot_bucket", "minhash_inc_batch_hot_bucket",
      "df_cap_tokens", "df_cap_shingles", "basket_pairs",
      "semdedup_mega_cell", "semdedup_split_floor",
      "stream_semgate_mega_cell", "mm_quarantined")
      .map(graft.ext.GuardLog.Prefix + _)
    while (System.nanoTime() < deadline &&
      !expected.forall(guards.contains)) Thread.sleep(200)
    val fired = guards
    val missing = expected.filterNot(fired.contains)
    expected.foreach(g =>
      println(s"[stress] guard $g fired=${fired.get(g)}"))

    def jq(s: String) = "\"" + s + "\""
    val json = "{" +
      jq("fixture") + s""": {"base_docs": 5000, "dup_class": 10000,
        "near_dup_cluster": 20000, "mega_order_parts": 1500,
        "near_identical_embeddings": 30000,
        "exact_identical_embeddings": 6000,
        "semdedup_mega_removed": $semRemoved},""" +
      jq("queries") + ": {" + results.map { case (n, r, w) =>
        jq(n) + s""": {"rows": $r, "wall_sec": ${f"$w%.2f"}}"""
      }.mkString(",") + "}," +
      jq("guards_fired") + ": {" + fired.toSeq.sortBy(_._1)
        .map { case (k, v) => jq(k) + s": $v" }.mkString(",") + "}," +
      jq("guards_missing") + ": [" +
        missing.map(jq).mkString(",") + "]}"
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[stress] artifact -> $artifact")
    spark.stop()
    if (missing.nonEmpty) {
      System.err.println(s"[stress] MISSING GUARDS: $missing")
      sys.exit(1)
    }
    if (semRemoved < 25000L) {
      System.err.println(s"[stress] SPLIT DID NOT DEDUP: only " +
        s"$semRemoved of 30000 near-identical members removed")
      sys.exit(1)
    }
  }
}
