package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured: every main (the
  * bench, the oracle dump, the CLI, the tools) and the test session
  * start here, so the configuration the oracle gate checks is the one
  * the bench times and the profiler measures.
  *
  *  - `local[cores]`, cores = `SPARK_GRAFT_CPUS` or, when unset, the
  *    JVM's available processors; `SPARK_GRAFT_MASTER` overrides the
  *    whole master URL (a cluster deployment of [[Run]]);
  *  - shuffle partitions = cores;
  *  - UTC session time zone, and `nanosAsLong` because events.ts is
  *    NANOS parquet Spark cannot read as a timestamp;
  *  - a 64 MiB broadcast threshold: the dims and staged artifacts of a
  *    sf0.1 corpus broadcast instead of paying a shuffle join;
  *  - a 4096-entry codegen cache: the default 100 entries is below the
  *    registered query count, so a long-lived session serving all of
  *    them recompiled every generated stage on every pass (measured
  *    +0.3-2 s on codegen-heavy queries);
  *  - no UI, and the log level set on the new context.
  *
  * Per-tool extras that are runtime confs (`spark.graft.*`, read at
  * call time) are set on the returned session; only static confs go
  * through `static`. */
object Session {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def create(logLevel: String = "ERROR",
             static: Map[String, String] = Map.empty): SparkSession = {
    val n = cores
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config(static)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
