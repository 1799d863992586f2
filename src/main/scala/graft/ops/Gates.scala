package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.Contracts

/** Data-quality gate failure — the rebuild's equivalent of the
  * reference's raise sites (etl/extract.py, etl/transform_data_modeling.py,
  * etl/load.py). */
class DataQualityException(msg: String) extends RuntimeException(msg)

/** Fail-fast validation gates. Each gate is a cheap Spark action run
  * between lazy plan segments, preserving the reference's eager-error
  * ordering (SURVEY §7.5 #5). Gates that need a full pass compute all
  * their statistics in ONE aggregation job where possible, so a gate is
  * a single stage even at 100 TB.
  */
object Gates {

  /** Schema gate: order-insensitive set equality on column names
    * (etl/extract.py:64-91). Metadata-only — no job. */
  def requireSchemaMatch(df: DataFrame, expected: Seq[String]): Unit = {
    val got = df.columns.toSet
    val want = expected.toSet
    if (got != want) {
      val missing = (want -- got).toSeq.sorted
      val extra = (got -- want).toSeq.sorted
      throw new DataQualityException(
        s"schema mismatch: missing=$missing extra=$extra")
    }
  }

  /** D1: zero fully-identical rows allowed; error carries a 5-row sample
    * (etl/extract.py:123-132). Implemented as a hash aggregate over all
    * columns — the groupBy keys are the whole row, so Catalyst plans a
    * single shuffle on the row hash; at scale this is the canonical
    * exact-dup check. */
  def fullRowDups(df: DataFrame): DataFrame = {
    val cols = df.columns.map(col)
    df.groupBy(cols: _*).agg(count(lit(1)).as("n_dup"))
      .filter(col("n_dup") > 1)
  }

  /** Gate form of D1, two-phase for scale: shuffle 8-byte row hashes
    * first (narrow shuffle, map-side combined), then exactly confirm
    * only the collided groups. At 100 TB the wide-row groupBy of
    * [[fullRowDups]] shuffles the whole dataset; this shuffles one long
    * per row. */
  def requireNoFullRowDups(df: DataFrame): Unit = {
    val cols = df.columns.map(col)
    val withH = df.withColumn("_graft_h", xxhash64(cols: _*))
    val candHashes = withH.groupBy(col("_graft_h"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(col("_graft_h")).limit(1001).collect().map(_.getLong(0))
    if (candHashes.length > 1000)
      throw new DataQualityException(
        ">1000 candidate duplicate row groups (by content hash)")
    if (candHashes.nonEmpty) {
      val dups = fullRowDups(
        withH.filter(col("_graft_h").isin(candHashes.toSeq: _*))
          .drop("_graft_h"))
        .limit(5).collect()
      if (dups.nonEmpty)
        throw new DataQualityException(
          s"${dups.length}+ duplicate full rows, sample: ${dups.mkString("; ")}")
    }
  }

  /** `df` observed for its row count `n` and each column's NULL count
    * `_null_<c>`, the values [[requireSourceStats]] gates: the
    * pipeline observes them on its staging shuffle's map stage, so they
    * cost no job of their own. */
  def observeSourceStats(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      df.columns.map(c => count(when(col(c).isNull, 1)).as(s"_null_$c")): _*)

  /** The empty and null-pct raises, in the contract order
    * (etl/extract.py:105-121), over the values [[observeSourceStats]]
    * names: the source must have a row, and no column may be NULL in
    * more than `maxPct` percent of them (strictly). Returns the row
    * count. The one raise site of both source gates: the pipeline's,
    * observed on its staging shuffle, and [[requireSourceGates]]. */
  def requireSourceStats(stats: Map[String, Any], cols: Seq[String],
                         maxPct: Double = Contracts.MaxNullPct): Long = {
    val n = stats("n").asInstanceOf[Long]
    if (n == 0) throw new DataQualityException("source is empty")
    val bad = cols.flatMap { c =>
      val pct = stats(s"_null_$c").asInstanceOf[Long] * 100.0 / n
      if (pct > maxPct) Some(f"$c=$pct%.1f%%") else None
    }
    if (bad.nonEmpty)
      throw new DataQualityException(
        s"columns exceed $maxPct% NULLs: ${bad.mkString(", ")}")
    n
  }

  /** Fully fused source gate for a frame with no PK distribution (the
    * CSV extract): row count, every column's NULL count AND the
    * duplicate-row candidate count from ONE job — the groupBy on the
    * 8-byte row hash that the dup check needs anyway also carries
    * per-column null counts (identical rows share a null pattern, and
    * partial aggregation collapses them map-side, so the exchange stays
    * ~one narrow row per distinct row). Raises via
    * [[requireSourceStats]], then falls back to the exact
    * hash-collision confirm pass ([[requireNoFullRowDups]]) only when
    * candidates exist. Returns the row count. */
  def requireSourceGates(df: DataFrame,
                         maxPct: Double = Contracts.MaxNullPct): Long = {
    val cols = df.columns.toSeq
    val grouped = df.groupBy(xxhash64(cols.map(col): _*).as("_graft_h"))
      .agg(count(lit(1)).as("_n"),
        cols.map(c => count(when(col(c).isNull, 1)).as(s"_null_$c")): _*)
    val totals = (coalesce(sum(col("_n")), lit(0L)).as("n") +:
      cols.map(c => coalesce(sum(col(s"_null_$c")), lit(0L)).as(s"_null_$c"))) :+
      count(when(col("_n") > 1, 1)).as("_n_cand")
    val row = grouped.agg(totals.head, totals.tail: _*).first()
    val stats = row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    val n = requireSourceStats(stats, cols, maxPct)
    // dirty path only: re-derive the candidate hashes and confirm
    // exactly (a 64-bit hash WILL collide at 10^12 rows — candidates
    // are never trusted as duplicates without the exact check)
    if (row.getAs[Long]("_n_cand") > 0) requireNoFullRowDups(df)
    n
  }

  /** D1's candidate count for a frame already hash-distributed by `pk`
    * (the shuffle [[graft.Pipeline]] stages in EXTRACT), folded into
    * the job that consumes it: a `count` window over `(pk, hash of
    * cols)` beside T1's keep-first window, observed as `n_cand`, the
    * rows whose group holds more than one (candidates only: the exact
    * [[requireNoFullRowDups]] decides). Identical rows share a PK,
    * so every duplicate lands in one window partition, and rows with a
    * NULL PK group by their hash, so their dups count too. The
    * partitioning satisfies the window's distribution, so it adds no
    * exchange: one more sort per partition, which spills. */
  def observeDupCandidates(df: DataFrame, pk: Seq[String],
                           cols: Seq[String], obs: Observation): DataFrame = {
    val w = Window.partitionBy(pk.map(col) :+ col("_graft_h"): _*)
    df.withColumn("_graft_h", xxhash64(cols.map(col): _*))
      .withColumn("_graft_n", count(lit(1)).over(w))
      .observe(obs, count(when(col("_graft_n") > 1, 1)).as("n_cand"))
      .drop("_graft_h", "_graft_n")
  }

  /** What [[pkIntegrityStats]] counts: rows, rows with a NULL pk
    * column, duplicated pk-value groups, and rows whose `nullIn`
    * column is NULL (0 when none was asked for). */
  final case class PkStats(rows: Long, nullPk: Long, dupPk: Long,
                           nullIn: Long)

  /** Fused PK integrity stats from ONE grouped pass: the groupBy(pk)
    * the dup check needs anyway (partial aggregation collapses unique
    * pks map-side, so the exchange carries ~one row per key either way,
    * and a frame already distributed by the pk needs none) counts each
    * key's rows, and an `Observation` on its output totals them — no
    * global re-aggregation job. `nullIn` adds one more column's NULL
    * count to the same pass. Callers raise in their own contract order
    * — computing the numbers together does not reorder the gate
    * failure priority. */
  def pkIntegrityStats(df: DataFrame, pk: Seq[String],
                       nullIn: Option[String] = None): PkStats = {
    val nullPred = pk.map(col(_).isNull).reduce(_ || _)
    val nullInCount = nullIn.map(c => count(when(col(c).isNull, 1)))
      .getOrElse(lit(0L))
    val totals = Observation()
    df.groupBy(pk.map(col): _*)
      .agg(count(lit(1)).as("_n"), nullInCount.as("_n_null_in"))
      .observe(totals, coalesce(sum(col("_n")), lit(0L)).as("n"),
        coalesce(sum(when(nullPred, col("_n"))), lit(0L)).as("n_null"),
        count(when(col("_n") > 1, 1)).as("n_dup_groups"),
        coalesce(sum(col("_n_null_in")), lit(0L)).as("n_null_in"))
      .write.format("noop").mode("overwrite").save()
    val t = totals.get
    def long(k: String) = t(k).asInstanceOf[Long]
    PkStats(long("n"), long("n_null"), long("n_dup_groups"), long("n_null_in"))
  }

  /** The NULL-PK then duplicate-PK raises over [[pkIntegrityStats]],
    * shared by the T2 gate and post-load validation
    * (transform_data_modeling.py:312-335, etl/load.py:144-210). */
  def requirePkIntegrity(s: PkStats, pk: Seq[String]): Unit = {
    if (s.nullPk > 0)
      throw new DataQualityException(s"${s.nullPk} rows with NULL in PK $pk")
    if (s.dupPk > 0)
      throw new DataQualityException(s"${s.dupPk} duplicated PK values for $pk")
  }

  /** T2 gate: modeling must preserve row count
    * (transform_data_modeling.py:340-352). */
  def requireRowCountPreserved(before: Long, after: Long): Unit =
    if (before != after)
      throw new DataQualityException(
        s"row count changed during modeling: $before -> $after")

  /** T2 gate: exact output schema = expected + derived, snake_case names
    * (transform_data_modeling.py:357-383). Metadata-only. */
  def requireContractSchema(df: DataFrame, expected: Seq[String],
                            derived: Seq[String]): Unit = {
    requireSchemaMatch(df, expected ++ derived)
    val bad = df.columns.filterNot(c =>
      Contracts.SnakeCase.pattern.matcher(c).matches())
    if (bad.nonEmpty)
      throw new DataQualityException(
        s"non-snake_case columns: ${bad.mkString(", ")}")
  }

  /** T3 gate: every state must map to a region — NULL region after the
    * lookup is a hard failure (transform_data_modeling.py:142-145). */
  def requireNoUnmappedRegion(df: DataFrame, region: String = "store_region",
                              state: String = "state"): Unit = {
    val bad = df.filter(col(region).isNull)
      .select(col(state)).distinct().limit(10).collect()
    if (bad.nonEmpty)
      throw new DataQualityException(
        s"unmapped states: ${bad.map(_.get(0)).mkString(", ")}")
  }
}
