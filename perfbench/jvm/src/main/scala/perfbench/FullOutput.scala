package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The benchmark's action: compute a query's whole output and discard it
  * in Spark's `noop` sink. Unlike `.count()`, the sink consumes every
  * output column, so column pruning cannot drop derived expressions. The
  * row count comes from an observed metric on the same execution. */
object FullOutput {
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"perfbench_rows_${ids.incrementAndGet()}")
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  /** Runs `df` to completion into the noop sink; returns its row count. */
  def run(df: DataFrame): Long = {
    val (o, obs) = observed(df)
    o.write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}
