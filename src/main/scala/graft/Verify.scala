package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration);
    // the driver always calls with exactly (sfDir, outDir) = everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Session.create("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): both emit one file for the
      // driver's reader, but coalesce collapses a narrow (shuffle-free)
      // query's ENTIRE computation into the single writer task — at the
      // sf1 gate that serialized whole-corpus map queries onto one core
      // for minutes. The round-robin exchange keeps the computation at
      // full parallelism and ships only the RESULT rows to the writer.
      // NOTE: the round-robin exchange makes dumped ROW ORDER
      // unspecified (and discards any query-level ORDER BY) — that is
      // intentional and fine for the one consumer these dumps have,
      // the driver's compare, which sorts rows by all columns before
      // hashing. Any future consumer must stay order-insensitive or
      // this repartition(1) must become a sorted single-partition
      // write.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // Jackson escapes quotes, backslashes and ALL control chars: a tab
    // or CR inside an oracle SQL string must not make the file
    // unparsable, which would silently skip every oracle compare.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
