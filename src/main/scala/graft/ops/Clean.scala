package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** T1 "conditioning" (etl/transform_data_cleaning.py re-expressed
  * Spark-first): column-name normalization, null-PK drop, per-column
  * defaults, keep-first dedup, declared-type casts.
  */
object Clean {

  /** P2: snake_case normalization of a single column name — trim,
    * lower, non-alnum runs -> '_', collapse repeats, strip edges
    * (etl/transform_data_cleaning.py:185-195). Pure string fn: renames
    * are metadata-only, no Catalyst work. */
  def normalizeName(name: String): String =
    name.trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("_+", "_")
      .stripPrefix("_").stripSuffix("_")

  /** P2 applied to a whole frame (etl/transform_data_cleaning.py:47-63). */
  def renameSnakeCase(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName): _*)

  /** P3: drop rows with NULL in any PK column
    * (etl/transform_data_cleaning.py:87). Narrow op — no shuffle. */
  def dropNullPk(df: DataFrame, pk: Seq[String]): DataFrame =
    df.na.drop("any", pk)

  /** P4: fill NULLs in non-PK columns with per-column defaults.
    * DataFrameNaFunctions.fill is type-segregated, so string and
    * numeric defaults are applied in two calls (SURVEY §7.5 #6). */
  def fillDefaults(df: DataFrame, stringDefaults: Map[String, String],
                   numericDefaults: Map[String, Double]): DataFrame = {
    val afterStr =
      if (stringDefaults.isEmpty) df else df.na.fill(stringDefaults)
    if (numericDefaults.isEmpty) afterStr else afterStr.na.fill(numericDefaults)
  }

  /** Ordinal column name used for keep-first semantics. */
  val OrdinalCol = "_graft_ordinal"

  /** Attach a file-order ordinal to a freshly-read frame.
    * `monotonically_increasing_id` encodes (partitionId << 33 | row#),
    * so it is monotone w.r.t. file order as long as the read preserves
    * input split order — true for a single-file CSV/parquet read. At
    * cluster scale the same guarantee holds per input split, which is
    * exactly the file-order contract the reference has (SURVEY §7.5 #1).
    */
  def withOrdinal(df: DataFrame): DataFrame =
    df.withColumn(OrdinalCol, monotonically_increasing_id())

  /** D2: drop PK duplicates keeping the first occurrence by the given
    * explicit order (etl/transform_data_cleaning.py:100-119).
    * Deterministic alternative to dropDuplicates (which keeps an
    * arbitrary row).
    *
    * Shape: a stock `row_number` window over `pk`, keeping row 1. T1's
    * input is already hash-distributed by the PK (the exchange
    * [[graft.Pipeline]] stages in EXTRACT), so the window plans no
    * exchange: one sort per partition and the window. Over an
    * undistributed frame Spark plans a partial `WindowGroupLimit`
    * before the exchange, so the shuffle carries at most one row per
    * key per map task.
    *
    * Semantics: order columns sort ascending, NULLS FIRST, so a NULL
    * order value is the first occurrence. Rows that tie on the whole
    * order keep whichever the sort meets first (callers needing total
    * determinism pass a total order, e.g. the file ordinal). */
  def dedupKeepFirst(df: DataFrame, pk: Seq[String], order: Column*): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(order.map(_.asc_nulls_first): _*)
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
  }

  /** P5: cast every declared column to its declared type
    * (etl/transform_data_cleaning.py:122-140 — implementing the declared
    * semantics, not the reference's no-op bug; ANSI mode makes a failed
    * cast raise, matching errors="raise"). */
  def castDeclaredTypes(df: DataFrame, declared: Map[String, DataType]): DataFrame =
    df.select(df.columns.map { c =>
      declared.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }: _*)

  /** Full T1 stage in the reference's order
    * (etl/transform_data_cleaning.py:146-179):
    * drop null PK -> fill defaults -> dedup keep-first -> cast.
    *
    * Takes the frame [[graft.Pipeline]] stages once in EXTRACT: renamed,
    * carrying [[OrdinalCol]], and hash-distributed by `pk`. Plans no
    * exchange of its own: the null-PK drop, fills, keep-first dedup and
    * casts all run on that distribution, and the output is still
    * distributed by `pk` (the window passes the PK through and the
    * casts leave an already-declared PK type alone), so a later
    * `groupBy(pk)` over it or over a cache of it needs no exchange
    * either. The pipeline hands it that frame under EXTRACT's
    * dup-candidate window ([[Gates.observeDupCandidates]]), which
    * runs on the same distribution in the same job, before the null-PK
    * drop, so the gate counts every source row.
    *
    * `dedupOrder`: explicit deterministic keep-"first" order; None means
    * file order via the read ordinal (the reference's semantics, which
    * no replayable oracle can express — callers that need cross-engine
    * determinism pass a total order instead). With an explicit order
    * the ordinal leaves before the dedup, so the sort never carries
    * it. */
  def clean(df: DataFrame, pk: Seq[String],
            stringDefaults: Map[String, String],
            numericDefaults: Map[String, Double],
            declared: Map[String, DataType],
            dedupOrder: Option[Seq[Column]] = None): DataFrame = {
    val filled = fillDefaults(dropNullPk(df, pk), stringDefaults,
      numericDefaults)
    val deduped = dedupOrder match {
      case Some(order) =>
        dedupKeepFirst(filled.drop(OrdinalCol), pk, order: _*)
      case None =>
        dedupKeepFirst(filled, pk, col(OrdinalCol)).drop(OrdinalCol)
    }
    castDeclaredTypes(deduped, declared)
  }
}
