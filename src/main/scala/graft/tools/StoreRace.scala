package graft.tools

import org.apache.spark.sql.SparkSession

import graft.ext.ArtifactStore

/** Cross-process exercises for the artifact store's commit and GC
  * protocols (VERDICT r18 #1: the rename-race repair was spec'd by
  * SIMULATING the nested landing; the sweep-vs-attach hazard had no
  * committed multi-JVM evidence at all). `ArtifactStoreRaceSpec`
  * launches real OS processes running this main:
  *
  *   build <root> <fixtureDir> <id> <buildSleepMs>
  *     Race mode. Announces readiness (`<root>/ready_<id>`), spins on
  *     the test's start gun (`<root>/go`) so two processes hit
  *     [[ArtifactStore.staged]] for the SAME key together, builds
  *     with a widened race window (`buildSleepMs` inside the build
  *     closure), then reads the committed artifact back. Prints
  *     `RACE_OK id=... rows=... built=0|1 path=...` — whichever
  *     process loses the rename must attach to the winner and read
  *     identical rows.
  *
  *   serve <root> <fixtureDir> <serveMs>
  *     Liveness mode. Attaches (which touches `_graft_last_attach`)
  *     and read-loops for `serveMs` while the TEST JVM concurrently
  *     runs [[ArtifactStore.sweep]] with a cutoff the artifact's
  *     BACKDATED build time violates — the marker must keep it alive.
  *     Prints `SERVE_OK reads=... rows=... path=...`; any
  *     FileNotFoundException mid-loop (the pre-r19 hazard) crashes
  *     the process and fails the spec.
  */
object StoreRace {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val root = args(1)
    val dir = args(2)
    val spark = graft.Session.create()
    spark.conf.set("spark.graft.artifactRoot", root)
    try mode match {
      case "build" =>
        val id = args(3)
        val sleepMs = args(4).toLong
        val fs = java.nio.file.FileSystems.getDefault
        java.nio.file.Files.createDirectories(fs.getPath(root))
        java.nio.file.Files.write(fs.getPath(root, s"ready_$id"),
          Array.empty[Byte])
        val go = fs.getPath(root, "go")
        val t0 = System.currentTimeMillis()
        while (!java.nio.file.Files.exists(go)) {
          require(System.currentTimeMillis() - t0 < 60000L,
            "start-gun barrier timed out")
          Thread.sleep(20L)
        }
        val built = new java.util.concurrent.atomic.AtomicInteger(0)
        val a = racedArtifact(spark, dir, sleepMs, built)
        val n = ArtifactStore.read(spark, a).count()
        println(s"RACE_OK id=$id rows=$n built=${built.get()} path=${a.path}")
      case "serve" =>
        val serveMs = args(3).toLong
        val a = racedArtifact(spark, dir, sleepMs = 0L,
          built = new java.util.concurrent.atomic.AtomicInteger(0))
        val deadline = System.currentTimeMillis() + serveMs
        var reads = 0L
        var rows = 0L
        while (System.currentTimeMillis() < deadline) {
          rows = ArtifactStore.read(spark, a).count()
          reads += 1
        }
        println(s"SERVE_OK reads=$reads rows=$rows path=${a.path}")
      case other => sys.error(s"unknown StoreRace mode '$other'")
    } finally spark.stop()
  }

  /** The one build key every process contends on: a tokenized length
    * projection of the documents fixture. `sleepMs` runs INSIDE the
    * build closure so racing builders overlap in the
    * build-then-rename window, not just at entry. */
  def racedArtifact(spark: SparkSession, dir: String, sleepMs: Long,
      built: java.util.concurrent.atomic.AtomicInteger): ArtifactStore.Attached =
    ArtifactStore.staged(spark, "racetest",
      inputs = Seq(s"$dir/documents.parquet"),
      params = Seq("race_v1")) { scratch =>
      built.incrementAndGet()
      if (sleepMs > 0) Thread.sleep(sleepMs)
      spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id", "length(text) AS text_len")
        .write.mode("overwrite").parquet(scratch)
    }
}
