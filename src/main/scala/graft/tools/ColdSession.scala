package graft.tools

/** Cold-session serving probe (VERDICT r17 #1 done-criteria): what a
  * BRAND-NEW JVM pays for its first serving call, with and without a
  * persisted artifact store.
  *
  *   GRAFT_ARTIFACT_ROOT=<fresh dir>     -> the pre-r18 bill: the
  *     first call BUILDS the whole artifact family (card, fits,
  *     inverted lists / class pairs);
  *   GRAFT_ARTIFACT_ROOT=<warm dir>      -> the r18 bill: the first
  *     call ATTACHES (manifest reads, zero build jobs) and pays only
  *     its own probe-join execution.
  *
  * Usage: runMain graft.tools.ColdSession [sfDir] [q1,q2,...]
  * Prints first-call and steady-state (second-call) wall per query,
  * each timed to its full output in the noop sink
  * ([[graft.FullOutput.time]]).
  * Run it twice — once per root — and diff the first-call column;
  * the second-call column should be root-invariant (the serving-path
  * floor). */
object ColdSession {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val qs = if (args.length > 1) args(1).split(",").toSeq
      else Seq("sim_ivf_topk", "sim_mips_ivf_topk", "dedup_simhash",
        "dedup_semdedup")
    val spark = graft.Session.create()
    println(s"[cold] artifact root: ${graft.ext.ArtifactStore.root(spark)}")
    graft.Tables.load(spark, dir, "lineitem").count() // session warm
    qs.foreach { q =>
      val first = graft.FullOutput.time(spark, q, dir).totalS
      val second = graft.FullOutput.time(spark, q, dir).totalS
      println(f"[cold] $q%-24s first ${first}%7.2f s   second ${second}%7.2f s")
    }
    spark.stop()
  }
}
