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
    * explicit order column (etl/transform_data_cleaning.py:100-119).
    * Deterministic alternative to dropDuplicates (which keeps an
    * arbitrary row).
    *
    * Shape: a keep-first AGGREGATE, not a row_number window — the
    * window form sorts every partition by (pk, order) on both sides of
    * the exchange; an aggregate hash-combines map-side, so the shuffle
    * carries ~one row per key. The specific aggregate is graft's
    * [[graft.functions.KeepFirstByOrder]] (typed-imperative, so it
    * plans as an ObjectHashAggregate) rather than `min_by`, whose
    * struct buffer forces a SortAggregate that re-sorts every row —
    * measured ~2x of the whole clean stage. The order is wrapped in a
    * struct so a NULL order value compares NULLS-FIRST exactly like
    * the window's default ascending order (a bare null ordering key
    * would be SKIPPED — different semantics). */
  def dedupKeepFirst(df: DataFrame, pk: Seq[String], order: Column): DataFrame = {
    // aggregate state per group is ~one full row (order+payload copy);
    // size the object-hash fallback threshold so the per-task map stays
    // memory-bounded at ANY row width (see Tuning's caveats)
    val stateWidth =
      df.schema.map(_.dataType.defaultSize.toLong).sum + 16L
    graft.functions.Tuning.sizeObjectHashAggregate(df.sparkSession, stateWidth)
    // the PK comes out as the grouping attribute itself, so a frame
    // hash-distributed by the PK stays so (a PK re-read out of the
    // payload struct would be a new attribute, and the next groupBy(pk)
    // would plan another exchange); the payload holds the rest
    val payload = struct(df.columns.filterNot(pk.contains).map(col): _*)
    df.groupBy(pk.map(col): _*)
      .agg(graft.functions.KeepFirst.keepFirst(struct(order), payload)
        .as("_graft_row"))
      .select(df.columns.map(c =>
        if (pk.contains(c)) col(c) else col(s"_graft_row.$c").as(c)): _*)
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
    * rename -> drop null PK -> fill defaults -> dedup keep-first -> cast.
    *
    * `dedupOrder`: explicit deterministic keep-"first" order; None means
    * file order via the read ordinal (the reference's semantics, which
    * no replayable oracle can express — callers that need cross-engine
    * determinism pass a total order instead).
    *
    * Standalone form over a raw frame: it renames, attaches the ordinal
    * and distributes by the PK itself, then runs [[cleanDistributed]].
    * [[graft.Pipeline]] calls [[cleanDistributed]] directly on the
    * frame its EXTRACT stage already distributed, so T1 neither
    * re-scans the source nor shuffles it again. */
  def clean(df: DataFrame, pk: Seq[String],
            stringDefaults: Map[String, String],
            numericDefaults: Map[String, Double],
            declared: Map[String, DataType],
            dedupOrder: Option[Seq[Column]] = None): DataFrame = {
    // ordinal attaches after the rename (normalizeName would strip the
    // marker's leading underscore)
    val renamed = withOrdinal(renameSnakeCase(df))
    // Distribute by the dedup key BEFORE the per-row work: the
    // keep-first aggregate requires exactly this hash distribution, so
    // this is the SAME single shuffle the plan would contain anyway,
    // moved earlier — fills, struct assembly and the partial-aggregate
    // row copies then run at full cluster parallelism instead of at
    // the scan's parallelism. The distinction is invisible when the
    // scan already has many splits (the 100 TB case) and decisive when
    // it has few (a small or single-row-group file: the whole map side
    // would otherwise run on one core). The ordinal is attached above,
    // before the exchange, so file-order keep-first semantics are
    // untouched by the redistribution.
    val distributed = dropNullPk(renamed, pk).repartition(pk.map(col): _*)
    cleanDistributed(distributed, pk, stringDefaults, numericDefaults,
      declared, dedupOrder)
  }

  /** T1 after the rename, over a frame that already carries
    * [[OrdinalCol]] and is hash-distributed by `pk` — the shape
    * [[graft.Pipeline]] stages once in EXTRACT. Plans no exchange of
    * its own: the null-PK drop, fills, keep-first dedup and casts all
    * run on that distribution, and the output is still distributed by
    * `pk` (the dedup keeps the PK as its grouping attribute and the
    * casts leave an already-declared PK type alone), so a later
    * `groupBy(pk)` over it or over a cache of it needs no exchange
    * either. With an explicit `dedupOrder` the ordinal leaves before
    * the dedup, so the aggregate state never carries it. */
  def cleanDistributed(df: DataFrame, pk: Seq[String],
                       stringDefaults: Map[String, String],
                       numericDefaults: Map[String, Double],
                       declared: Map[String, DataType],
                       dedupOrder: Option[Seq[Column]] = None): DataFrame = {
    val filled = fillDefaults(dropNullPk(df, pk), stringDefaults,
      numericDefaults)
    val deduped = dedupOrder match {
      case Some(order) =>
        dedupKeepFirst(filled.drop(OrdinalCol), pk, struct(order: _*))
      case None =>
        dedupKeepFirst(filled, pk, col(OrdinalCol)).drop(OrdinalCol)
    }
    castDeclaredTypes(deduped, declared)
  }
}
