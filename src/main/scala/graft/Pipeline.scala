package graft

import java.sql.Timestamp

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
  * One exchange and one write per pipeline: EXTRACT hash-distributes
  * the source by its primary key once ([[graft.ext.Materialize.staged]])
  * and gates it on that shuffle; T1's keep-first `row_number` window and
  * T2's narrow model then run as ONE job over it, with no exchange and
  * no cache, writing `<target>_staging` ([[graft.ops.Load.withStaging]]).
  * Both row counts, and sales' `sale_date` range, are `Observation`s on
  * that write, and one read-back of the staged files is T2's gate and
  * LOAD's validation. Stage timings are thus logical: TRANSFORM_P1 holds
  * the fused write (and T1's ANSI cast failures; the model raises none
  * over the declared types), TRANSFORM_P2 the audit, LOAD the count/PK
  * check and the promote.
  *
  * Limit: rows with a NULL PK all hash to one partition of the staged
  * exchange, so a source whose PK is mostly NULL runs its EXTRACT gate
  * for those rows on one task (T1 drops them). The gate still sees
  * every row and results are unchanged; only the parallelism of that
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
    * the keep-first order (default: file order). Returns the loaded
    * path. */
  def run(table: String, source: DataFrame,
          dedupOrder: Option[Seq[org.apache.spark.sql.Column]] = None)
      : String = {
    val runId = sink.newRunId()
    val pipelineName = s"${table}_pipeline"
    val t0 = sink.now()
    sink.logRun(RunLog(runId, pipelineName, "STARTED", t0, null, null))
    try {
      val pk = Contracts.PrimaryKeys(table)
      val expected = Contracts.ExpectedColumns(table)

      // EXTRACT: schema gate (metadata-only), then the pipeline's one
      // exchange — file-order ordinal attached, rows hash-distributed by
      // the PK — and ONE job over that shuffle for count, null
      // fractions and dup candidates; the exact dup confirm re-scans
      // only when candidates exist (dirty path)
      val (extracted, nIn) = stage(runId, "EXTRACT", -1) {
        Gates.requireSchemaMatch(source, expected)
        val staged = Materialize.staged(
          Clean.withOrdinal(source).repartition(pk.map(col): _*))
        (staged, Gates.requireSourceGates(staged.drop(Clean.OrdinalCol),
          pk = pk))
      }

      val target = s"$warehouseDir/${targetTable(table)}"
      Load.withStaging(spark, target) { (staging, publish) =>
        // TRANSFORM_P1 — clean -> model, written once (the rename is the
        // identity here: the schema gate admitted only contract names)
        val modelStats = Observation(s"model_stats_$runId")
        val (modeled, nClean) = stage(runId, "TRANSFORM_P1", nIn) {
          val cleanRows = Observation(s"clean_rows_$runId")
          val cleaned = Clean.clean(extracted, pk,
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
          Load.fullRefresh(m.observe(modelStats, count(lit(1)).as("n"),
            saleRange: _*), staging, nIn)
          (m, cleanRows.get("n").asInstanceOf[Long])
        }

        // TRANSFORM_P2 — integrity gate over the staged files, raising in
        // the reference's gate order
        val (stats, nModeled) = stage(runId, "TRANSFORM_P2", nClean) {
          val n = modelStats.get("n").asInstanceOf[Long]
          Gates.requireRowCountPreserved(nClean, n)
          Gates.requireContractSchema(modeled, expected,
            Contracts.DerivedColumns(table))
          val region = if (table == "stores") Some("store_region") else None
          val loaded = spark.read.parquet(staging)
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
      }

      sink.logRun(RunLog(runId, pipelineName, "SUCCESS", t0, sink.now(), null))
      target
    } catch {
      case e: Throwable =>
        sink.logRun(RunLog(runId, pipelineName, "FAILED", t0, sink.now(),
          e.getMessage))
        throw e
    }
  }

  private def targetTable(table: String): String = table match {
    case "sales" => "sales_fact"
    case other => s"${other}_dim"
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
}
