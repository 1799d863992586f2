package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the dedup/ANN family: runs the probed
  * queries at sf0.1 and at a DERIVED sf1 (10x) corpus and reports the
  * wall-time ratio next to each op's documented big-O claim — the
  * cheapest honest test of the 100 TB story (VERDICT r8 #5; the
  * composition-degeneracy rule showed sf0.01 -> sf0.1 already changes
  * regimes once).
  *
  * The sf1 corpus is derived from the driver's sf0.1 tables, not
  * synthesized from nothing: 10 copies, where copy 0 is byte-identical
  * to sf0.1 and copy i > 0 rewrites every whitespace token `w` to
  * `w_i` (documents) or rotates the embedding vector left by i
  * positions (embeddings; norm-preserving). Each copy therefore keeps
  * sf0.1's exact INTERNAL duplicate/neighbor structure while sharing
  * no tokens (resp. no aligned dims) across copies — duplicate-pair
  * count and neighbor count scale linearly (x10), which is what a real
  * x10 corpus with a constant duplication rate does. A naive 10x
  * union of identical copies would instead square the pair count and
  * probe a 100x-duplication regime no one claims to handle.
  *
  * Wall time is each query's full output in the noop sink
  * ([[graft.FullOutput.time]]), median over the reps after one untimed
  * warm-up. Wall time alone proved too blunt: at 50k -> 500k docs five
  * of six r9 ratios sat at 1.4-1.6x, dominated by fixed per-query overhead
  * (session, planning, small-stage scheduling), proving only "no
  * regime change yet". The probe therefore ALSO records BYTES MOVED —
  * per-task input / shuffle-read / shuffle-write sums captured by a
  * SparkListener over the final timed rep — which have no overhead
  * floor: a linear operator must show ~10x byte growth on 10x data,
  * and a superlinear pair-explosion shows up as a squared shuffle long
  * before wall time notices. Listener events are async off the task
  * path, so the tally is read after a bounded quiescence wait.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseDir] [derivedDir] [reps]
  * (defaults /root/testdata/sf0.1, /tmp/graft_sf1, 3). The derived
  * corpus is built once and reused; delete derivedDir to rebuild.
  * Findings land in SCALE.md ("measured sf0.1 -> sf1 scaling").
  */
object ScaleProbe {

  val Probed = Seq("dedup_minhash_lsh", "dedup_incremental",
    "dedup_bloom_incremental", "sim_ivf_topk", "graph_pagerank",
    "dedup_containment")

  // Per-task byte tally: the shared [[TaskTally]] instrument, read
  // here through its cumulative-snapshot path.

  /** Derive a `copies`x corpus. Documents scale to any factor (every
    * copy's tokens carry a distinct suffix — no cross-copy shingle
    * collisions at any count). Embeddings CAP at min(copies, 10):
    * the decorrelation device is a cyclic rotation of the dim-64
    * vector, and rotations alias past the dimension (copy i and
    * i+64 would be identical vectors — a fake 100%-duplicate regime),
    * so the ANN probe stays a 10x probe while the text side scales
    * further.
    *
    * r11 (VERDICT #1): the derivation covers EVERY table, so the FULL
    * registry (Verify + Bench) runs at the derived sf1. The TPC-H-ish
    * facts take `copies` key-shifted replicas with FK integrity
    * preserved copy-locally (custkey/orderkey/partkey/suppkey/user_id
    * all shift by the same per-copy stride, so orders→customer,
    * lineitem→{orders,part,supplier} and events→customer edges stay
    * closed; per-key cardinalities are copy-invariant, which is what a
    * real 10x of the same workload looks like). region/nation are
    * fixed-cardinality dims by DDL and copy through unchanged. */
  def deriveSf1(spark: SparkSession, baseDir: String, outDir: String,
                copies: Int = 10, nearDupEvery: Int = 16,
                docsOnly: Boolean = false): Unit = {
    require(copies >= 2, s"need >= 2 copies, got $copies")
    require(nearDupEvery == 0 || nearDupEvery > 9,
      s"nearDupEvery must be 0 (off) or > 9 (the %10-residue shift of " +
        s"the second clone stays collision-free), got $nearDupEvery")
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val idStep = 10000000L
    val docCopies = (0 until copies).map { i =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1_" + i)
      docs.select((col("doc_id") + lit(i * idStep)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }
    // Near-dup mint (VERDICT r18 #3): the copy construction suffixes
    // EVERY token per copy, so cross-copy word-token Jaccard is 0 —
    // and at this scale the exact-Jaccard family's df>500 hot-token
    // cap strips natural-language overlap out of the intersection
    // while the FULL token count stays in the denominator, so the
    // derived corpus had no >=0.8 pairs at all (a 0-row hash-match
    // proves absence agreement, not the operator). Mint a
    // deterministic slice of near-dup PAIRS: for every base doc with
    // doc_id % nearDupEvery == 0 and >= 12 tokens, two clones whose
    // tokens are doc-tagged (token df == 2 — immune to the hot cap),
    // the second missing its last token: Jaccard (n-1)/n >= 0.8 for
    // n >= 5 distinct tokens. The second clone's id is adjusted to
    // the % 10 == 3 residue so each minted pair is a batchxstanding
    // pair for the incremental form's split too. Pure function of
    // the base corpus: same input => same derived corpus.
    val minted = if (nearDupEvery > 0) {
      val slice = docs
        .filter(col("doc_id") % nearDupEvery === 0)
        .filter(size(split(trim(col("text")), "\\s+")) >= 12)
      val tagged = regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1d"), col("doc_id")))
      def cloneAt(idCol: org.apache.spark.sql.Column,
                  text: org.apache.spark.sql.Column) =
        slice.select(idCol.as("doc_id"), text.as("text"),
          col("lang"), col("source"),
          length(text).cast("long").as("n_chars"))
      Seq(
        cloneAt(col("doc_id") + lit(copies.toLong * idStep), tagged),
        cloneAt( // …% 10 == 3, collision-free while nearDupEvery > 9
          col("doc_id") + lit((copies + 1).toLong * idStep)
            + (lit(3) - col("doc_id") % 10 + 10) % 10,
          regexp_replace(tagged, "\\s+\\S+\\s*$", "")))
    } else Seq.empty
    (docCopies ++ minted).reduce(_.unionAll(_)).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    if (docsOnly) return
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val embCopies = (0 until math.min(copies, 10)).map { i =>
      val rot =
        if (i == 0) col("embedding")
        else concat(slice(col("embedding"), i + 1, dim - i),
          slice(col("embedding"), 1, i))
      emb.select((col("vec_id") + lit(i * idStep)).as("vec_id"),
        rot.as("embedding"), col("label"))
    }
    embCopies.reduce(_.unionAll(_)).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // relational side: key-shifted replicas (values untouched — a 10x
    // workload has 10x the orders, not 10x the prices)
    def shifted(table: String, keyCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$baseDir/$table.parquet")
      (0 until copies).map { i =>
        keyCols.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * idStep)))
      }.reduce(_.unionAll(_)).repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    shifted("customer", Seq("c_custkey"))
    shifted("orders", Seq("o_orderkey", "o_custkey"))
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shifted("supplier", Seq("s_suppkey"))
    shifted("part", Seq("p_partkey"))
    shifted("events", Seq("event_id", "user_id"))
    for (fixed <- Seq("region", "nation"))
      spark.read.parquet(s"$baseDir/$fixed.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$fixed.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val copies = if (args.length > 3) args(3).toInt else 10
    // optional comma-list to probe a subset (e.g. the doc-side family
    // at copies > 10, where the embedding side stays a 10x corpus)
    val only = if (args.length > 4) Some(args(4).split(",").toSet) else None
    val spark = graft.Session.create()

    if (!new java.io.File(s"$outDir/embeddings.parquet").exists()) {
      println(s"[scaleprobe] deriving 10x corpus at $outDir")
      deriveSf1(spark, baseDir, outDir, copies)
    }
    val n0 = spark.read.parquet(s"$baseDir/documents.parquet").count()
    val n1 = spark.read.parquet(s"$outDir/documents.parquet").count()
    println(s"[scaleprobe] documents $n0 -> $n1, reps=$reps")

    val tally = new TaskTally
    spark.sparkContext.addSparkListener(tally)

    /** (wall median, input, shuffle-read, shuffle-write bytes) — bytes
      * from the final timed rep only (they are deterministic per run;
      * summing reps would just multiply by reps). Read and write are
      * reported SEPARATELY: write counts each shuffle's data once,
      * while read >> write exposes multi-pass consumption (spilled
      * sort-merge joins re-reading runs). */
    def measure(name: String, dir: String): (Double, Long, Long, Long) = {
      graft.FullOutput.time(spark, name, dir) // untimed warm-up
      spark.catalog.clearCache(); System.gc()
      var bytes = (0L, 0L, 0L)
      val ts = (1 to reps).map { r =>
        val pre = if (r == reps) { tally.quiesce(); tally.snap() }
          else TaskSnap(0, 0, 0, 0, 0)
        val s = graft.FullOutput.time(spark, name, dir).totalS
        if (r == reps) {
          tally.quiesce()
          val d = tally.snap().minus(pre)
          bytes = (d.input, d.shuffleRead, d.shuffleWrite)
        }
        spark.catalog.clearCache(); System.gc()
        s
      }.sorted
      (ts(ts.length / 2), bytes._1, bytes._2, bytes._3)
    }

    def mb(b: Long): Double = b / 1048576.0
    val rows = Probed.filter(n => only.forall(_.contains(n))).map { name =>
      val (t0, in0, sr0, sw0) = measure(name, baseDir)
      val (t1, in1, sr1, sw1) = measure(name, outDir)
      def ratio(a: Long, b: Long): String =
        if (a <= 0) "  n/a" else f"${b.toDouble / a}%5.2f"
      println(f"[scaleprobe] $name%-24s wall $t0%6.2f -> $t1%6.2f s " +
        f"(${t1 / t0}%5.2fx)   input ${mb(in0)}%8.1f -> ${mb(in1)}%9.1f MB " +
        f"(${ratio(in0, in1)}x)   shufW ${mb(sw0)}%8.1f -> " +
        f"${mb(sw1)}%9.1f MB (${ratio(sw0, sw1)}x)   shufR ${mb(sr0)}%8.1f" +
        f" -> ${mb(sr1)}%9.1f MB (${ratio(sr0, sr1)}x)")
      (name, t0, t1, in0, in1, sr0, sr1, sw0, sw1)
    }
    println("[scaleprobe] summary " +
      rows.map { case (n, t0, t1, in0, in1, sr0, sr1, sw0, sw1) =>
        f""""$n":{"wall":[$t0%.2f,$t1%.2f],"input_mb":[${mb(in0)}%.1f,""" +
          f"""${mb(in1)}%.1f],"shuffle_write_mb":[${mb(sw0)}%.1f,""" +
          f"""${mb(sw1)}%.1f],"shuffle_read_mb":[${mb(sr0)}%.1f,""" +
          f"""${mb(sr1)}%.1f]}"""
      }.mkString("{", ",", "}"))
    spark.stop()
  }
}
