package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.TextOps
import graft.functions.{TopK, VectorFunctions}

/** Per-row executor CPU of the program's native expressions: a
  * projection (or aggregate) using only that public expression over a
  * cached input, minus the same plan without it. Best of three. */
object FunctionCost {
  private val Reps = 3

  def measure(spark: SparkSession, corpus: String, t: Tracer)
      : Seq[(String, Double)] = {
    val cpu = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpu.addAndGet(e.taskMetrics.executorCpuTime)
    }
    spark.sparkContext.addSparkListener(listener)
    def cpuOf(df: DataFrame): Long = {
      t.drain()
      val before = cpu.get
      df.write.format("noop").mode("overwrite").save()
      t.drain()
      cpu.get - before
    }
    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.cache()
      (c, c.count())
    }
    def perRow(name: String, in: (DataFrame, Long), expr: DataFrame => DataFrame,
               base: DataFrame => DataFrame): (String, Double) = {
      val e = (1 to Reps).map(_ => cpuOf(expr(in._1))).min
      val b = (1 to Reps).map(_ => cpuOf(base(in._1))).min
      name -> math.max(0.0, (e - b).toDouble / in._2)
    }
    try {
      val docs = spark.read.parquet(s"$corpus/documents.parquet")
        .crossJoin(spark.range(20).withColumnRenamed("id", "rep"))
      val embs = spark.read.parquet(s"$corpus/embeddings.parquet")
        .crossJoin(spark.range(50).withColumnRenamed("id", "rep"))
      val text = cached(docs.select(col("text")))
      val hashes = cached(docs.select(transform(
        array_distinct(TextOps.tokens(col("text"))), x => TextOps.hex60(x))
        .as("h")))
      val vecs = cached(embs.select(col("embedding")))
      val scored = cached(embs.select(col("label"),
        (col("vec_id") * 100 + col("rep")).as("id"),
        (col("vec_id") % 997).cast("double").as("score")))
      val out = Seq(
        perRow("functions.dot_ns_per_row", vecs,
          _.select(VectorFunctions.dotNative(col("embedding"), col("embedding"))),
          _.select(col("embedding"))),
        perRow("functions.simhash64_ns_per_row", hashes,
          _.select(VectorFunctions.simhash64(col("h"))), _.select(col("h"))),
        perRow("functions.rolling_minhash_ns_per_row", text,
          _.select(VectorFunctions.rollingMinHash(col("text"), 5, 257L,
            (1L << 31) - 1)), _.select(col("text"))),
        perRow("functions.topk_ns_per_row", scored,
          _.groupBy("label").agg(TopK.topkByScore(col("score"), col("id"), 10)),
          _.groupBy("label").agg(count(lit(1)))))
      Seq(text, hashes, vecs, scored).foreach(_._1.unpersist())
      out
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
