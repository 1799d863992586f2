package graft.ext

import scala.util.control.NonFatal

import graft.SparkSpec

/** Registry-wide physical-plan lint (the spec twin of
  * `tools/PlanLint`): every ExtQueries plan is rendered at sf0.001
  * and checked for the two join shapes that do not survive scale —
  * CartesianProduct (never acceptable: |A| x |B| work with no
  * pruning) and BroadcastNestedLoopJoin (acceptable ONLY when the
  * broadcast side is metadata-sized BY CONSTRUCTION). The BNLJ
  * allowlist is pinned exactly: a new query that quietly plans a
  * nested-loop join over a data-sized side fails here, naming
  * itself, instead of shipping.
  */
class RegistryPlanLintSpec extends SparkSpec {

  /** Every ExtQueries query constructed once at sf0.001, by name —
    * each lint below reads its plans from here instead of building the
    * whole registry again. */
  private lazy val planned
      : Seq[(String, Either[Throwable, org.apache.spark.sql.execution.QueryExecution])] =
    graft.registry.ExtQueries.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sf0001).queryExecution)
               catch { case NonFatal(e) => Left(e) })
    }

  /** Runs `check` over every planned query, collecting its offences;
    * a query that failed to construct or plan is an offence itself. */
  private def lint(check: (String, org.apache.spark.sql.execution.QueryExecution)
      => Seq[String]): Seq[String] =
    planned.flatMap {
      case (name, Right(qe)) =>
        try check(name, qe)
        catch { case NonFatal(e) => Seq(s"$name failed to plan: ${e.getClass.getSimpleName}") }
      case (name, Left(e)) => Seq(s"$name failed to plan: ${e.getClass.getSimpleName}")
    }

  /** Queries whose BroadcastNestedLoopJoin sides are metadata-sized
    * by construction — 1-row stats frames (sketch_quantile_error),
    * the <=10-vector query set and centroid tables of the ANN family
    * (condition-free broadcast joins plan as BNLJ), the k-means
    * centroid broadcast of the assignment/balancing pair, the bounded
    * hours x types grid of the gap-fill, and the incremental/filtered
    * ANN additions (same centroid/query-set broadcasts plus the
    * upsert report's 1-row staleness-totals frame). */
  private val BnljAllowed = Set(
    "ann_incremental_recall", "ann_recall_report", "emb_kmeans_assign",
    "ivfpq_recall_report",
    "int8_recall_report", "pq_recall_report", "sample_cluster_balanced",
    "sim_bruteforce_topk", "sim_bruteforce_topk_agg",
    "sim_int8_rerank_topk", "sim_ivf_filtered_topk",
    "sim_ivf_incremental", "sim_ivf_topk", "sim_ivfpq_topk",
    "sketch_quantile_error", "window_gapfill",
    // 1-row denominator broadcasts (Catalyst folds the literal-key
    // equi-join to condition-free): the ensemble's share total, the
    // tune report's per-config candidate counts, and the source
    // overlap matrix's pair-mass total
    "text_filter_ensemble", "dedup_lsh_tune_report",
    "dedup_source_overlap_report",
    // the r13 report quartet: each joins a 1-row aggregate (corpus
    // token total N, matrix/histogram share denominator, cell-stat
    // extremes) onto a metadata-sized frame — Catalyst folds the
    // literal-key equi-join to condition-free
    "text_unigram_surprisal", "quality_calibration_report",
    "dedup_cluster_size_report", "ann_ivf_build_report",
    // same shape: the probe-tune rows join two 1-row aggregates
    // (recall, scan mass); the mixture joins the 1-row totals frame
    "ann_nprobe_tune_report", "curate_dedup_adjusted_mixture",
    // r13 late additions, same 1-row-denominator shape: the coverage
    // curve joins the 3-row sizes frame + 1-row token total onto the
    // frequency-level histogram; the degree report joins its 1-row
    // doc total; the surprisal buckets inherit unigram_surprisal's
    // 1-row corpus-total join
    "vocab_coverage_report", "graph_degree_report",
    "corpus_surprisal_buckets",
    // the epoch plan joins the mixture's and its own 1-row totals
    "curate_epoch_plan",
    // zone-map pricing: the corpus scan and the 48-row zone frame each
    // join the 1-row global-bounds/predicate-box frame, and the final
    // 3-row report joins the 1-row matched count — all condition-free
    // 1-row broadcasts
    "sink_zonemap_prune_report",
    // the KN table joins its 1-row bigram-type total
    "vocab_kn_continuation",
    // window_gapfill's hours x types grid reused for the dense EWMA
    // spine
    "window_ewma_hourly",
    // session-4 additions, all metadata-sized by construction: the
    // MIPS query set is the same <=10-vector broadcast as the other
    // brute ANN entries; DSIR joins its 1-row smoothed-total frame
    // onto the <=1024-row bucket table; the CUSUM spine is the
    // gapfill hours x types grid plus a per-key 1-row stats join;
    // KMV pairs cross tiny class lists and k-row sketches; the
    // basket score and ABC classifier each join a 1-row
    // order-count/revenue-total frame (ABC also walks the <=64-row
    // log2-bucket triangular carry)
    "sim_mips_topk", "quality_dsir_weights", "events_cusum_changepoint",
    "sketch_kmv_jaccard", "analytics_basket_pairs",
    "analytics_pareto_abc",
    // 1-row broadcasts again: the resample inherits dsir's smoothed
    // totals; the bloom report joins its 1-row bits_set frame; the
    // conversion walk joins the 1-row histogram total
    "curate_dsir_resample", "sketch_bloom_fpr_report",
    "analytics_time_to_convert",
    // the bias report joins its 1-row removal/doc totals onto the
    // 5-cell bucket frame
    "quality_dedup_bias_report",
    // r14 additions: the Zipf and Heaps fits each walk a <=64-row
    // octave-bucket TRIANGULAR join (the Pareto carry discipline) and
    // join a 1-row fit/total frame; MIPS-IVF is the standard ANN
    // <=10-query x centroid condition-free broadcast over the
    // norm-augmented index
    "vocab_zipf_bucket_fit", "corpus_heaps_fit", "sim_mips_ivf_topk",
    // the skew report joins its 1-row row-total onto the <=64-row
    // octave histogram (relit, so both sides are literal frames)
    "join_skew_report",
    // r15 additions: the MIPS recall report inherits sim_mips_topk's
    // <=10-query brute-truth broadcast and the ANN family's query x
    // centroid condition-free broadcast, three probe configs over the
    // SAME staged fit; the KMV overlap matrix inherits
    // sketch_kmv_jaccard's tiny class-list cross (20 sources) and
    // k-row sketch joins — every BNLJ side is metadata-sized
    "ann_mips_recall_report", "dedup_source_overlap_kmv",
    // r16 session-2: the component split joins its 1-row straddle
    // audit (two straddle counts folded over the staged pair table)
    // onto the |sources| x 3 cell frame — the literal-key equi-join
    // folds to condition-free
    "sample_component_split",
    // r17: the agreement matrix joins its 1-row grand-total onto the
    // <= (sources^2 x 8)-cell frame; the upsert list's batch assign
    // is the standard corpus x nCentroids condition-free centroid
    // broadcast (same shape as emb_kmeans_assign)
    "dedup_agreement_report", "sim_ivf_upsert_cells")

  /** Queries whose UNPARTITIONED window frames are metadata-sized by
    * construction (r16 audit — a global window funnels every row into
    * one task, so each site must prove its frame never scales with
    * the corpus):
    *  - analytics_time_to_convert: cumulative sum over the delta-hours
    *    HISTOGRAM (distinct conversion-lag hours; the corpus reduced
    *    to it by a group-agg first)
    *  - dedup_keep_priority: row_number over the DISTINCT-SOURCE
    *    priority dim (|sources| rows; docs never enter the window)
    *  - sink_compaction_plan: cumulative size over the 64-shard frame
    *    (doc_id % 64 — exactly 64 rows by construction)
    *  - vocab_coverage_report: the frequency-LEVEL histogram walk
    *    (distinct type-frequency values, the no-per-type-sort design)
    */
  private val GlobalWindowAllowed = Set(
    "analytics_time_to_convert", "dedup_keep_priority",
    "sink_compaction_plan", "vocab_coverage_report")

  test("unpartitioned windows only on the pinned metadata-sized allowlist") {
    val offenders = lint { (name, qe) =>
      val global = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (global.nonEmpty && !GlobalWindowAllowed.contains(name))
        Seq(s"$name plans ${global.size} unallowlisted global window(s)")
      else Nil
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The quality_score expression must never land inside a Filter
    * node (ADVICE r15): PushDownPredicates substitutes filter alias
    * references unconditionally, so a predicate touching the score
    * once inlined the WHOLE five-regex expression into the scan
    * filter and recomputed it in the projection — a measured 1.41x on
    * calibration. The fix (NaN guard as a group key + an inert
    * aggregate-output disjunct) rests on unasserted Catalyst
    * internals, so this pins it: the punct-ratio regex is the score's
    * distinctive marker, and per-consumer Project-occurrence counts
    * are pinned exactly (subtrees referencing the same histogram
    * print it once per branch; exchange reuse dedupes them
    * physically).
    */
  private val ScoreMarker = "[^A-Za-z0-9 ]"
  private val ScoreMarkerCounts = Map(
    "corpus_curation_v2" -> 1, "curate_token_budget" -> 1,
    "curate_topk_per_source" -> 1, "text_quality_score" -> 1,
    // cells + 1-row total denominator branch
    "quality_calibration_report" -> 2,
    // r20: the <=12-row cells frame (where the score computes, once)
    // is Materialize.eager'd at construction — the kept + removed
    // branches read the staged leaf, so the returned plan carries no
    // score marker at all; the no-Filter property is preserved inside
    // the staged subtree by the same group-key guard
    "quality_dedup_bias_report" -> 0,
    // source-histogram branch per side of the pair join, x2 for the
    // dense-spine outer reference
    "quality_ks_drift_report" -> 4)

  test("quality_score computes in Projects only, at the pinned per-consumer counts") {
    val offenders = lint { (name, qe) =>
      val lines = qe.optimizedPlan
        .toString.linesIterator.filter(_.contains(ScoreMarker)).toSeq
      val inFilter = lines.filter(_.contains("Filter "))
      val expected = ScoreMarkerCounts.getOrElse(name, 0)
      (if (inFilter.nonEmpty)
        Seq(s"$name inlines quality_score into a Filter " +
          s"(the 1.41x double-eval regression): ${inFilter.head.take(120)}")
      else Nil) ++
      (if (lines.size != expected)
        Seq(s"$name score-marker count ${lines.size} != pinned $expected")
      else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no registry query plans a cartesian; BNLJ only on the pinned allowlist") {
    val offenders = lint { (name, qe) =>
      val plan = qe.executedPlan.toString
      (if (plan.contains("CartesianProduct"))
        Seq(s"$name plans a CartesianProduct") else Nil) ++
      (if (plan.contains("BroadcastNestedLoopJoin") &&
          !BnljAllowed.contains(name))
        Seq(s"$name plans an unallowlisted BroadcastNestedLoopJoin")
      else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Queries whose higher-order lambdas keep a lambda-invariant
    * subtree (`PlanLint.invariantLambdaSubtrees`), pinned exactly with
    * the reason each is kept. Every other query must compute nothing
    * per element that does not depend on the element. */
  private val InvariantLambdaAllowed: Map[String, String] = Map(
    "sketch_bloom_fpr_report" ->
      "k <= 3 int-to-string casts of the key per row, one per hash position")

  test("no lambda recomputes an invariant subtree outside the pinned allowlist") {
    val offenders = lint { (name, qe) =>
      val inv = graft.tools.PlanLint.invariantLambdaSubtrees(qe.optimizedPlan)
      if (inv.nonEmpty && !InvariantLambdaAllowed.contains(name))
        Seq(s"$name recomputes ${inv.size} lambda-invariant subtree(s) per " +
          s"element: ${inv.map(_.sql.take(100)).mkString(" | ")}")
      else if (inv.isEmpty && InvariantLambdaAllowed.contains(name))
        Seq(s"$name is allowlisted but has no lambda-invariant subtree")
      else Nil
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the invariant-lambda lint flags a per-shingle re-split, not the native shingler") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def found(c: org.apache.spark.sql.Column) =
      graft.tools.PlanLint.invariantLambdaSubtrees(
        docs.select(c).queryExecution.optimizedPlan)
    // the Column-algebra shingler splits the text inside its lambda
    val resplit = found(transform(graft.TextRefs.wordShingles(col("text"), 3),
      s => md5(s)))
    assert(resplit.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.StringSplit]),
      resplit.map(_.sql).mkString(" | "))
    assert(found(graft.ext.TextOps.shingleFingerprint(col("text"), 3)).isEmpty)
    // a subtree over an enclosing lambda's variable is invariant for
    // the inner lambda; one over the inner variable is not
    val nested = found(transform(split(col("text"), " "),
      x => transform(array(lit("a")), y => concat(upper(x), lower(y)))))
    assert(nested.size == 1 && nested.head.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.Upper],
      nested.map(_.sql).mkString(" | "))
  }
}
