package graft

import java.sql.Timestamp

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.ControlPlane.{LogSink, RunLog, StageLog}
import graft.ext.Materialize
import graft.ops.{Clean, Gates, Load, Model}
import graft.schema.Contracts

/** End-to-end pipeline orchestration (runner/pipeline_runner.py
  * re-expressed): EXTRACT gates -> T1 clean -> T2 model (+date_dim for
  * sales) -> LOAD with post-load validation, with run/stage logging and
  * per-stage row accounting.
  *
  * One exchange, one write and one read-back per pipeline. EXTRACT
  * hash-distributes the source by its primary key once
  * ([[graft.ext.Materialize.staged]]); T1's keep-first `row_number`
  * window and T2's narrow model then run as ONE job over that shuffle,
  * with no exchange and no cache, writing `<target>_staging`
  * ([[graft.ops.Load.withStaging]]). No gate reads the shuffle on its
  * own; each gate's numbers come from those jobs:
  *  - EXTRACT's row count and per-column NULL counts: an `Observation`
  *    on the staging shuffle's map stage. The empty and null-pct gates
  *    raise right after it, before T1 starts.
  *  - EXTRACT's full-row duplicate candidates: a `count` window over
  *    `(pk, row hash)` in the fused write's job
  *    ([[graft.ops.Gates.observeDupCandidates]]); when any exist, the
  *    exact confirm decides. If the write fails it observed nothing,
  *    so the exact confirm runs first: a dup error still outranks T1's.
  *  - T1's and the model's row counts, and sales' `sale_date` range:
  *    `Observation`s on the fused write.
  *  - T2's PK gates and LOAD's validation: one grouped read-back of
  *    the staged files, with the schema just written.
  * Gates raise in the reference's order (empty, null-pct, dups, T1,
  * T2, LOAD), and nothing is published before LOAD's validation
  * passes, so a late gate leaves the published table as it was. Stage
  * rows keep their content and order, but their timings are logical:
  * EXTRACT holds the staging shuffle and the fused write (its row is
  * written once the dup verdict is known), TRANSFORM_P1 only the
  * write's outcome (T1's ANSI cast failures; the model raises none
  * over the declared types), TRANSFORM_P2 the read-back audit, LOAD
  * the count/PK check and the promote.
  *
  * Limit: rows with a NULL PK all hash to one partition of the staged
  * exchange, so a source whose PK is mostly NULL counts their dup
  * candidates on one task (T1 then drops them). Every row is still
  * counted and results are unchanged; only the parallelism of that
  * share is lost, and the null-percentage gate bounds the share at
  * [[Contracts.MaxNullPct]]. Spreading them would need a partitioning
  * that is not `HashPartitioning(pk)`, which every later stage relies
  * on.
  */
class Pipeline(spark: SparkSession, warehouseDir: String, logDir: String,
               asOf: Timestamp,
               metros: Seq[String] = Contracts.MetroCities,
               regionMap: Map[String, String] = Contracts.StateRegionMap) {

  private val sink = new LogSink(logDir)

  /** Run one named pipeline over an already-extracted source frame.
    * `source` must carry the contract columns for `table`
    * (sales/customers/products/stores). `dedupOrder` optionally fixes
    * the keep-first order (default: file order). Returns the published
    * table, read with the schema it was written with (no inference
    * job). */
  def run(table: String, source: DataFrame,
          dedupOrder: Option[Seq[org.apache.spark.sql.Column]] = None)
      : DataFrame = {
    val runId = sink.newRunId()
    val pipelineName = s"${table}_pipeline"
    val t0 = sink.now()
    sink.logRun(RunLog(runId, pipelineName, "STARTED", t0, null, null))
    try {
      val pk = Contracts.PrimaryKeys(table)
      val expected = Contracts.ExpectedColumns(table)
      val target = s"$warehouseDir/${Pipeline.targetTable(table)}"
      val published = Load.withStaging(spark, target) { (staging, publish) =>
        val cleanRows = Observation(s"clean_rows_$runId")
        val modelStats = Observation(s"model_stats_$runId")
        // EXTRACT: schema gate (metadata-only); the pipeline's one
        // exchange — file-order ordinal attached, rows hash-distributed
        // by the PK — observed for the row count and NULL counts, which
        // gate right after it; then T1 clean -> T2 model written once
        // over that shuffle, whose keep-first job also counts the dup
        // candidates. The dup verdict closes EXTRACT, and the write's
        // own outcome is TRANSFORM_P1's.
        val ((modeled, written), nIn) = stage(runId, "EXTRACT", -1) {
          Gates.requireSchemaMatch(source, expected)
          val cols = source.columns.toSeq
          val srcStats = Observation(s"source_stats_$runId")
          val staged = Materialize.staged(Clean.withOrdinal(
            Gates.observeSourceStats(source, srcStats))
            .repartition(pk.map(col): _*))
          val n = Gates.requireSourceStats(srcStats.get, cols)
          // the rename is the identity here: the schema gate admitted
          // only contract names
          val dupCands = Observation(s"dup_candidates_$runId")
          val cleaned = Clean.clean(
            Gates.observeDupCandidates(staged, pk, cols, dupCands), pk,
            Contracts.StringDefaults(table), Contracts.NumericDefaults(table),
            Contracts.DeclaredTypes(table), dedupOrder)
            .observe(cleanRows, count(lit(1)).as("n"))
          val m = table match {
            case "customers" => Model.customersDim(cleaned, asOf)
            case "products" => Model.productsDim(cleaned)
            case "stores" => Model.storesDim(cleaned, metros, regionMap)
            case "sales" => Model.salesFact(cleaned)
          }
          val saleRange = if (table != "sales") Nil else Seq(
            min(col("sale_date").cast("date")).as("lo"),
            max(col("sale_date").cast("date")).as("hi"))
          val written = Try(Load.fullRefresh(m.observe(modelStats,
            count(lit(1)).as("n"), saleRange: _*), staging, n))
          // a failed write observed nothing: confirm exactly, so an
          // EXTRACT dup error still outranks T1's own error
          if (written.isFailure ||
              dupCands.get("n_cand").asInstanceOf[Long] > 0)
            Gates.requireNoFullRowDups(staged.drop(Clean.OrdinalCol))
          ((m, written), n)
        }

        // TRANSFORM_P1 — the fused write's outcome (T1's ANSI cast
        // failures; the model raises none over the declared types)
        val (_, nClean) = stage(runId, "TRANSFORM_P1", nIn) {
          (written.get, cleanRows.get("n").asInstanceOf[Long])
        }

        // TRANSFORM_P2 — integrity gate over the staged files, raising in
        // the reference's gate order
        val (stats, nModeled) = stage(runId, "TRANSFORM_P2", nClean) {
          val n = modelStats.get("n").asInstanceOf[Long]
          Gates.requireRowCountPreserved(nClean, n)
          Gates.requireContractSchema(modeled, expected,
            Contracts.DerivedColumns(table))
          val region = if (table == "stores") Some("store_region") else None
          val loaded = spark.read.schema(modeled.schema).parquet(staging)
          val st = Gates.pkIntegrityStats(loaded, pk, region)
          Gates.requirePkIntegrity(st, pk)
          // the sample of unmapped states runs only when some are
          if (st.nullIn > 0) Gates.requireNoUnmappedRegion(loaded)
          (st, n)
        }

        // sales also derives + loads date_dim, before sales_fact
        // publishes (runner/pipeline_runner.py:248-294)
        if (table == "sales") stage(runId, "LOAD_DATE_DIM", -1) {
          val dd = Model.dateDim(spark,
            modelStats.get("lo").asInstanceOf[java.sql.Date],
            modelStats.get("hi").asInstanceOf[java.sql.Date])
          // the row count comes from the write itself, not a second job
          val written = Observation(s"date_dim_rows_$runId")
          Load.fullRefresh(dd.observe(written, count(lit(1)).as("n")),
            s"$warehouseDir/date_dim", 1L)
          (dd, written.get("n").asInstanceOf[Long])
        }

        // LOAD — post-load validation of the staged files, then publish
        stage(runId, "LOAD", nModeled) {
          Load.validateLoaded(stats, pk, nModeled)
          publish()
          (modeled, nModeled)
        }
        modeled.schema
      }

      sink.logRun(RunLog(runId, pipelineName, "SUCCESS", t0, sink.now(), null))
      spark.read.schema(published).parquet(target)
    } catch {
      case e: Throwable =>
        sink.logRun(RunLog(runId, pipelineName, "FAILED", t0, sink.now(),
          e.getMessage))
        throw e
    }
  }

  private def stage[A](runId: String, name: String, rowsIn: Long)
                      (body: => (A, Long)): (A, Long) = {
    val t0 = sink.now()
    sink.logStage(StageLog(runId, name, "STARTED", rowsIn, -1, t0, null, null))
    try {
      val (a, n) = body
      sink.logStage(StageLog(runId, name, "SUCCESS", rowsIn, n, t0,
        sink.now(), null))
      (a, n)
    } catch {
      case e: Throwable =>
        sink.logStage(StageLog(runId, name, "FAILED", rowsIn, -1, t0,
          sink.now(), e.getMessage))
        throw e
    }
  }
}

object Pipeline {
  /** Load order for the full warehouse refresh
    * (ControlPlane.pipelineTableMap: dims first, date_dim before
    * sales_fact). */
  val LoadOrder: Seq[String] = Seq("customers", "products", "stores", "sales")

  /** The warehouse table a pipeline publishes. */
  def targetTable(table: String): String = table match {
    case "sales" => "sales_fact"
    case other => s"${other}_dim"
  }
}
