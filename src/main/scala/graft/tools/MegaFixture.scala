package graft.tools

import org.apache.spark.sql.functions._

/** Derives the mega-cell ORACLE-VALIDATION fixture (r17 #4): the
  * smallest corpus whose SemDeDup run exercises BOTH over-cap
  * branches — the grouped-Lloyd SPLIT (12,000 near-identical vectors,
  * the StressGate tilt construction) and the recursion FLOOR (4,200
  * exactly identical vectors) — at a scale DuckDB can replay, so the
  * split branch of the semdedup oracle SQL is validated by an actual
  * hash compare instead of staying inert dead SQL at every
  * registered scale.
  *
  * Usage: runMain graft.tools.MegaFixture [baseDir] [outDir]
  * Then:  runMain graft.Verify <outDir> <dump> dedup_semdedup,...
  *        python3 tools/check_oracle.py <outDir> <dump> ...
  */
object MegaFixture {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_megafix"
    val spark = graft.Session.create()

    val dim = 64
    val noise = transform(sequence(lit(1), lit(dim - 1)), d =>
      (pmod(hash(col("id"), d).cast("long"), lit(2001L)) - 1000L)
        .cast("double"))
    val noiseNorm = greatest(
      sqrt(aggregate(noise, lit(0.0), (a, x) => a + x * x)), lit(1e-9))
    val near = spark.range(12000).select(
      (col("id") + 10000000L).as("vec_id"),
      concat(array(lit(math.cos(0.05)).cast("float")),
        transform(noise, x =>
          (x / noiseNorm * lit(math.sin(0.05))).cast("float")))
        .as("embedding"),
      lit(7).as("label"))
    val ident = spark.range(4200).select(
      (col("id") + 20000000L).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        when(d === 1, lit(1.0)).otherwise(lit(0.0)).cast("float"))
        .as("embedding"),
      lit(8).as("label"))
    spark.read.parquet(s"$baseDir/embeddings.parquet")
      .unionByName(near).unionByName(ident)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents"))
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    println(s"[megafix] fixture at $outDir: " +
      spark.read.parquet(s"$outDir/embeddings.parquet").count() +
      " embeddings")
    spark.stop()
  }
}
