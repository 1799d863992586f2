package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one timer for a registered query, shared by [[Bench]] and every
  * tool that times a query: from the query function call to its WHOLE
  * output in Spark's `noop` sink, the same action `perfbench/` times.
  * Never `.count()`: column pruning lets a count drop every derived
  * column and every aggregate value no output needs, so a count times
  * a plan the query never serves. */
object FullOutput {

  /** `constructS` is the query function (planning plus eager staging),
    * `outputS` the noop write, `rows` an observed count on that same
    * write. `tag` names the observation, so a QueryExecutionListener
    * can pick this write's own execution out by it. */
  final case class Timing(constructS: Double, outputS: Double, rows: Long,
                          tag: String) {
    def totalS: Double = constructS + outputS
  }

  /** Prefix of every timed write's observation name. */
  val Tag = "graft_output_"
  private val tags = new AtomicLong

  def time(spark: SparkSession, name: String, sfDir: String): Timing = {
    val fn = SparkEntry.queries(name)
    val obs = Observation(Tag + tags.incrementAndGet())
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop")
      .mode("overwrite").save()
    val t2 = System.nanoTime()
    Timing((t1 - t0) / 1e9, (t2 - t1) / 1e9,
      obs.get("rows").asInstanceOf[Long], obs.name)
  }
}
