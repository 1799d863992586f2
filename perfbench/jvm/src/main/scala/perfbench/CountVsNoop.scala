package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.registry.PipelineQueries

/** Times each op two ways, interleaved in one JVM: construct + `.count()`
  * and construct + the benchmark's `noop` write. One untimed execution
  * per op first (artifacts, codegen), then `reps` of each; writes the
  * medians and their ratio as JSON.
  *
  * Usage: perfbench.CountVsNoop <corpus> <reps> <out.json> <op>...
  */
object CountVsNoop {
  def main(args: Array[String]): Unit = {
    val Array(corpus, repsS, outFile) = args.take(3)
    val ops = args.drop(3).toSeq
    val reps = repsS.toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val scratch = new File(new File(outFile).getAbsoluteFile.getParent,
      "count_vs_noop")
    val spark = Main.session(cores, new File(scratch, "artifacts").getPath,
      new File(scratch, "warehouse"))
    val registry = SparkEntry.queries
    def timed(name: String, action: DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      action(registry(name)(spark, corpus))
      val s = (System.nanoTime() - t0) / 1e9
      if (name.startsWith("pipeline_")) PipelineQueries.clearScratch(spark)
      s
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val rows = ops.map { name =>
      timed(name, df => FullOutput.run(df))
      val pairs = (1 to reps).map { i =>
        if (i % 2 == 1)
          (timed(name, _.count()), timed(name, df => FullOutput.run(df)))
        else {
          val n = timed(name, df => FullOutput.run(df))
          (timed(name, _.count()), n)
        }
      }
      val c = median(pairs.map(_._1))
      val n = median(pairs.map(_._2))
      System.err.println(f"[count-vs-noop] $name%-32s count $c%.3f s noop $n%.3f s")
      name -> Map("count_s" -> c, "noop_s" -> n, "noop_over_count" -> n / c)
    }
    Main.writeJson(new File(outFile), Map(
      "what" -> ("median wall seconds of construct + .count() vs construct " +
        "+ noop write, interleaved, after one untimed execution"),
      "reps" -> reps, "nproc" -> cores, "spark_version" -> spark.version,
      "ops" -> rows.toMap))
    spark.stop()
  }
}
