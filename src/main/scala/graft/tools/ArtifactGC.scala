package graft.tools

/** Artifact-store garbage collection — the ops companion of the r18
  * persistent store: artifacts are keyed by (builder version, corpus
  * snapshot fingerprint, params) and never expire on their own, so
  * every regenerated fixture or version bump strands its
  * predecessors. This sweeps artifacts IDLE longer than the cutoff —
  * aged on max(manifest build time, last attach/serving touch), so an
  * old artifact a live session still reads is retained indefinitely
  * (the `_graft_last_attach` marker, refreshed hourly by serving
  * reads, is what keeps it alive) — plus hour-old crashed-build
  * scratch and hour-dead uncommitted (manifest-less) wrecks.
  *
  * Usage: runMain graft.tools.ArtifactGC [maxAgeDays] [root]
  * (default 14 days, default store root). Prints the manifest before
  * sweeping so the deletion is auditable. */
object ArtifactGC {
  def main(args: Array[String]): Unit = {
    val days = if (args.length > 0) args(0).toDouble else 14.0
    val spark = graft.Session.create()
    if (args.length > 1) spark.conf.set("spark.graft.artifactRoot", args(1))
    val before = graft.ext.ArtifactStore.manifest(spark).collect()
    println(s"[gc] ${before.length} artifact(s) under " +
      graft.ext.ArtifactStore.root(spark))
    val n = graft.ext.ArtifactStore.sweep(spark,
      (days * 24 * 3600 * 1000).toLong)
    println(s"[gc] swept $n artifact(s) idle longer than $days day(s); " +
      s"${before.length - n} remain")
    spark.stop()
  }
}
