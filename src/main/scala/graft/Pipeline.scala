package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.ControlPlane
import graft.control.ControlPlane.{LogSink, RunLog, StageLog}
import graft.ext.Materialize
import graft.ops.{Clean, Gates, Load, Model}
import graft.schema.Contracts

/** End-to-end pipeline orchestration (runner/pipeline_runner.py
  * re-expressed): EXTRACT gates -> T1 clean -> T2 model (+date_dim for
  * sales) -> LOAD with post-load validation, with run/stage logging and
  * per-stage row accounting.
  *
  * Stage boundaries are the only forced actions (SURVEY §3.1). One
  * exchange per pipeline: EXTRACT attaches the file-order ordinal and
  * hash-distributes the source by its primary key once
  * ([[graft.ext.Materialize.staged]]), and everything after reads that
  * shuffle. The EXTRACT gate groups by (PK, row hash) and T1's
  * keep-first dedup is a `row_number` window partitioned by the PK,
  * neither with an exchange of its own, and each skips the map stage
  * the staging ran, so the source is scanned once. Only T1's output is
  * cached (its count is the row accounting, and it stays distributed
  * by the PK); T2's model is a narrow projection over that cache, so
  * the T2 integrity aggregate plans no exchange either.
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
    // the T1 cache is tracked here and released in the finally below,
    // so a gate failure cannot leak a cached frame into a long-lived
    // session
    var cachedClean: DataFrame = null
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

      // TRANSFORM_P1 — clean, on the staged shuffle (the rename is the
      // identity here: the schema gate admitted only contract names)
      val (cleaned, nClean) = stage(runId, "TRANSFORM_P1", nIn) {
        val c = Clean.clean(extracted, pk,
          Contracts.StringDefaults(table), Contracts.NumericDefaults(table),
          Contracts.DeclaredTypes(table), dedupOrder).cache()
        cachedClean = c
        (c, c.count())
      }

      // TRANSFORM_P2 — model + integrity gate. The model is a narrow
      // projection over T1's cache, which is still distributed by the
      // PK, so the fused row count + NULL-PK + dup-PK (+ stores' NULL
      // region) aggregate runs with no exchange; failures still raise
      // in the reference's gate order
      val (modeled, nModeled) = stage(runId, "TRANSFORM_P2", nClean) {
        val m = table match {
          case "customers" => Model.customersDim(cleaned, asOf)
          case "products" => Model.productsDim(cleaned)
          case "stores" => Model.storesDim(cleaned, metros, regionMap)
          case "sales" => Model.salesFact(cleaned)
        }
        val region = if (table == "stores") Some("store_region") else None
        val stats = Gates.pkIntegrityStats(m, pk, region)
        Gates.requireRowCountPreserved(nClean, stats.rows)
        Gates.requireContractSchema(m, Contracts.ExpectedColumns(table),
          Contracts.DerivedColumns(table))
        Gates.requirePkIntegrity(stats, pk)
        // the sample of unmapped states runs only when some are
        if (stats.nullIn > 0) Gates.requireNoUnmappedRegion(m)
        (m, stats.rows)
      }

      // sales also derives + loads date_dim (runner/pipeline_runner.py:248-294)
      if (table == "sales") {
        stage(runId, "LOAD_DATE_DIM", -1) {
          val mm = modeled.agg(
            min(col("sale_date").cast("date")),
            max(col("sale_date").cast("date"))).first()
          val dd = Model.dateDim(spark, mm.getDate(0), mm.getDate(1))
          // the row count comes from the write itself, not a second job
          val written = Observation(s"date_dim_rows_$runId")
          Load.fullRefresh(dd.observe(written, count(lit(1)).as("n")),
            s"$warehouseDir/date_dim", 1L)
          (dd, written.get("n").asInstanceOf[Long])
        }
      }

      // LOAD + post-load validation
      val target = targetTable(table)
      stage(runId, "LOAD", nModeled) {
        Load.fullRefresh(modeled, s"$warehouseDir/$target", nModeled)
        Load.validateLoaded(spark, s"$warehouseDir/$target", pk, nModeled)
        (modeled, nModeled)
      }

      sink.logRun(RunLog(runId, pipelineName, "SUCCESS", t0, sink.now(), null))
      s"$warehouseDir/$target"
    } catch {
      case e: Throwable =>
        sink.logRun(RunLog(runId, pipelineName, "FAILED", t0, sink.now(),
          e.getMessage))
        throw e
    } finally {
      if (cachedClean != null) cachedClean.unpersist()
    }
  }

  private def targetTable(table: String): String = table match {
    case "sales" => "sales_fact"
    case other => s"${other}_dim"
  }

  private def stage[A](runId: String, name: String, rowsIn: Long)
                      (body: => (DataFrame, Long)): (DataFrame, Long) = {
    val t0 = sink.now()
    sink.logStage(StageLog(runId, name, "STARTED", rowsIn, -1, t0, null, null))
    try {
      val (df, n) = body
      sink.logStage(StageLog(runId, name, "SUCCESS", rowsIn, n, t0,
        sink.now(), null))
      (df, n)
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
