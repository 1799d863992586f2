package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling join utilities.
  *
  * Salting spreads each hot key over `saltFactor` sub-keys: the fact
  * side gets a random-but-deterministic salt, the dim side is
  * replicated once per salt value. Semantics are identical to the
  * plain equi-join.
  *
  * WHEN TO USE — measured, not assumed (a since-deleted skew probe,
  * 40M-row fact with one key carrying 30%/60% of rows joined to a
  * 1M-row dim, broadcast off, local[32]): AQE's runtime skew split beat this salt
  * 2.4–4.9x (medians: AQE split 2.6–2.8 s; salted 6.8–12.4 s; plain
  * with skew-split disabled 6.6–11.4 s). The salt pays for dim
  * replication (saltFactor x the dim shuffle) on EVERY key while AQE
  * splits only the oversized partitions it observes, so on a batch
  * shuffle join under AQE the right call is NO salt. Reach for
  * saltedJoin only where the runtime split cannot: stream-stream
  * stateful joins (no AQE), aggregation-shuffle skew feeding a join,
  * or an engine/run with AQE disabled. SCALE.md ("salted join vs
  * AQE") keeps the full probe table.
  */
object Skew {

  /** Inner equi-join with a salted key: `left` (large, possibly
    * skewed) joins `right` (replicated saltFactor times). The salt is
    * derived from a hash of the whole left row's key + a deterministic
    * spread column, so the same input always salts identically. */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
                 rightKey: String, saltFactor: Int,
                 spread: Column): DataFrame = {
    val salted = left.withColumn("_salt",
      pmod(xxhash64(spread), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("_salt",
      explode(typedlit((0 until saltFactor).toList)))
    salted.join(replicated,
      salted(leftKey) === replicated(rightKey)
        && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }
}
