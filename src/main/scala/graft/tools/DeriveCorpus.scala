package graft.tools

/** Build the derived `copies`x corpus (ALL tables — see
  * [[ScaleProbe.deriveSf1]] for the construction and why it models a
  * real 10x workload) without running the probe: the entry point the
  * full-registry sf1 gate uses before `graft.Verify` / `graft.Bench`
  * point at the derived directory.
  *
  * Usage: runMain graft.tools.DeriveCorpus
  *          [baseDir] [outDir] [copies] [nearDupEvery] [docsOnly]
  *
  * `nearDupEvery` (default 16, 0 = off) mints one word-token
  * near-duplicate clone pair per that many base docs so the exact
  * Jaccard family has positive pairs at scale (VERDICT r18 #3);
  * `docsOnly=true` derives the documents table alone — the dedup
  * families' sf10-scale pricing corpus doesn't need 100x of the
  * retail side (VERDICT r18 #4). */
object DeriveCorpus {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val nearDupEvery = if (args.length > 3) args(3).toInt else 16
    val docsOnly = args.length > 4 && args(4).toBoolean
    val spark = graft.Session.create()
    ScaleProbe.deriveSf1(spark, baseDir, outDir, copies, nearDupEvery,
      docsOnly)
    val tables =
      if (docsOnly) Seq("documents")
      else Seq("lineitem", "documents", "embeddings", "events")
    for (t <- tables)
      println(s"[derive] $t rows=" +
        spark.read.parquet(s"$outDir/$t.parquet").count())
    spark.stop()
  }
}
