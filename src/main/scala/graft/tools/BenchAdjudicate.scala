package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Automated bench-flag adjudication (VERDICT r17 #4): three rounds
  * running, every close-out bench on this box carried env_suspect (an
  * intermittent kernel-reclaim ambient) and the min-statistic flags
  * were dismissed in prose against the last committed artifact. This
  * tool IS that ritual:
  *
  *   runMain graft.tools.BenchAdjudicate <newArtifact> <prevArtifact>
  *     [sfDir] [reps] [threshold]
  *
  * For every query whose min regressed past `threshold`x the previous
  * artifact's min (the same statistic + 0.2s absolute floor
  * [[graft.Bench.regressions]] flags), it re-probes the query SAME-
  * BOOT with the bench's rep hygiene ([[graft.Bench.repHygiene]]),
  * timing `.count()` like the Bench medians it is compared against,
  * and compares the fresh probe median against the last COMMITTED
  * median (the r14/r17 precedent):
  *
  * Probe medians and committed medians come from DIFFERENT boots and
  * different JIT contexts (an isolated single-query probe never reaches
  * the steady state a 280-query Bench run drives the JIT to — probed
  * r18: BOTH the r16 and HEAD builds of an untouched one-scan query
  * measured ~1.8x its committed Bench median under interleaved quiet
  * probes), so a raw probe/committed ratio flags instrument drift as
  * code. The tool therefore probes CONTROL queries alongside each
  * flag — unflagged queries with the closest committed medians — and
  * divides the drift out:
  *
  *   drift = median over controls of (probe_median / committed_median)
  *   - probe <= max(1.15 x prev x drift, prev x drift + 0.2s)
  *     -> `environmental` (the flag does not outgrow what untouched
  *        queries drifted on this boot)
  *   - otherwise -> `real` (reproduces beyond drift; owed a fix or a
  *        pricing note)
  *
  * The verdict block is written INTO the new artifact
  * (`adjudication: {query: {verdict, probe_median, prev_median,
  * drift, flagged_ratio}}`), so the committed bench self-adjudicates
  * and the NOTES paragraph shrinks to one line. Exit 1 if any verdict
  * is `real` — loud, never silent. */
object BenchAdjudicate {

  def main(args: Array[String]): Unit = {
    val newPath = args(0)
    val prevPath = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val reps = if (args.length > 3) args(3).toInt else 5
    val threshold = if (args.length > 4) args(4).toDouble else 1.3

    val curMin = graft.Bench.priorMins(newPath)
    val prevMin = graft.Bench.priorMins(prevPath)
    val prevMed = graft.Bench.priorMedians(prevPath)
    val flagged = graft.Bench.regressions(prevMin, curMin, threshold)
    if (flagged.isEmpty) {
      println(s"[adjudicate] no min-stat flags > ${threshold}x — nothing to probe")
      writeBlock(newPath, Map.empty)
      return
    }
    println(s"[adjudicate] ${flagged.size} flag(s): " +
      flagged.map { case (q, r) => f"$q ($r%.2fx)" }.mkString(", "))

    val spark = graft.Session.create()
    graft.Tables.load(spark, sfDir, "lineitem").count()

    def probeMedian(q: String): Double = {
      val fn = graft.SparkEntry.queries(q)
      fn(spark, sfDir).count() // untimed warm-up (JIT + staging attach)
      graft.Bench.repHygiene(spark)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        graft.Bench.repHygiene(spark)
        s
      }.sorted
      ts(ts.length / 2)
    }

    // drift controls: unflagged queries with committed medians closest
    // to the flagged pool's — probed under the identical regime, they
    // measure what THIS boot + the probe's JIT context do to an
    // untouched query of the same magnitude
    val flaggedSet = flagged.map(_._1).toSet
    val targetMed = flagged.flatMap { case (q, _) => prevMed.get(q) }
    val anchor = if (targetMed.isEmpty) 0.5
      else targetMed.sorted.apply(targetMed.size / 2)
    val controls = prevMed.toSeq
      .filter { case (q, m) => !flaggedSet.contains(q) && m > 0.05 &&
        graft.SparkEntry.queries.contains(q) }
      .sortBy { case (_, m) => math.abs(math.log(m / anchor)) }
      .take(3)
    val drifts = controls.map { case (q, m) =>
      val p = probeMedian(q)
      println(f"[adjudicate] control $q: probe $p%.3fs vs committed " +
        f"$m%.3fs (drift ${p / m}%.2fx)")
      p / m
    }.sorted
    val drift = if (drifts.isEmpty) 1.0 else drifts(drifts.size / 2)
    println(f"[adjudicate] boot drift factor: $drift%.2fx " +
      s"(median over ${drifts.size} controls)")

    val verdicts = flagged.map { case (q, ratio) =>
      val probe = probeMedian(q)
      val prev = prevMed.getOrElse(q, prevMin.getOrElse(q, -1.0))
      val adj = prev * drift
      val environmental =
        prev > 0 && probe <= math.max(adj * 1.15, adj + 0.2)
      val verdict = if (environmental) "environmental" else "real"
      println(f"[adjudicate] $q: flagged $ratio%.2fx; probe median " +
        f"$probe%.3fs vs committed $prev%.3fs x drift $drift%.2f " +
        f"= $adj%.3fs -> $verdict")
      q -> AdjRow(verdict, probe, prev, drift, ratio)
    }.toMap
    spark.stop()

    writeBlock(newPath, verdicts)
    val real = verdicts.collect { case (q, r) if r.verdict == "real" => q }
    if (real.nonEmpty) {
      System.err.println(s"[adjudicate] REAL regression(s): " +
        real.mkString(", ") + " — fix or price them; the artifact " +
        "records the probe evidence")
      sys.exit(1)
    }
  }

  private case class AdjRow(verdict: String, probeMedian: Double,
                            prevMedian: Double, drift: Double,
                            flaggedRatio: Double)

  private def writeBlock(path: String,
                         verdicts: Map[String, AdjRow]): Unit = {
    val mapper = new ObjectMapper()
    val file = new java.io.File(path)
    val root = mapper.readTree(file).asInstanceOf[ObjectNode]
    val adj = root.putObject("adjudication")
    verdicts.toSeq.sortBy(_._1).foreach { case (q, r) =>
      val row = adj.putObject(q)
      row.put("verdict", r.verdict)
      row.put("probe_median", math.rint(r.probeMedian * 1000) / 1000)
      row.put("prev_median", math.rint(r.prevMedian * 1000) / 1000)
      row.put("drift", math.rint(r.drift * 1000) / 1000)
      row.put("flagged_ratio", math.rint(r.flaggedRatio * 1000) / 1000)
      ()
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
    println(s"[adjudicate] verdict block written into $path " +
      s"(${verdicts.size} entries)")
  }
}
