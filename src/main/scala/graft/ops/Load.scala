package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Warehouse sink (etl/load.py re-expressed Spark-first).
  *
  * The reference's DELETE+INSERT transaction becomes an atomic
  * `mode("overwrite")` parquet/table write — Spark's commit protocol
  * gives the same idempotent full-refresh semantics without a
  * warehouse-wide lock, and scales to any partition count.
  */
object Load {

  /** S4: pre-insert type normalization — timestamps to ISO-8601 strings
    * (etl/load.py:213-226). Only needed when targeting a text store;
    * native TimestampType is kept otherwise. */
  def typeNormalize(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(col(f.name), "yyyy-MM-dd'T'HH:mm:ss").as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  /** S3: idempotent full-refresh load to a parquet dir
    * (etl/load.py:59-97). When the caller knows the row count, output
    * files are right-sized (~100k rows per file, capped at 10k files)
    * instead of inheriting the upstream shuffle's partition count —
    * small dims become one file, large facts keep write parallelism.
    * Periodic [[compact]] (1M-row default) consolidates further once a
    * table stops changing.
    *
    * The coalesce is unconditional: it never adds partitions, and
    * asking the frame for its partition count (`df.rdd`) would plan a
    * second query and, under adaptive execution, run its shuffle map
    * stages before the write runs them again. `nRows` may be an upper
    * bound: the pipeline passes its source count, as the loaded count
    * is known only after this write (sf0.1 on local[4] writes the same
    * files). Being narrow, the coalesce also bounds the tasks of the
    * write's last stage. */
  def fullRefresh(df: DataFrame, path: String, nRows: Long = -1L): Unit = {
    val sized =
      if (nRows < 0) df
      else df.coalesce(
        math.max(1L, math.min(nRows / 100000L + 1, 10000L)).toInt)
    sized.write.mode("overwrite").parquet(path)
  }

  /** Post-load validation (etl/load.py:144-210) over the loaded files'
    * [[Gates.pkIntegrityStats]]: loaded count equals source count, zero
    * NULL PKs, zero duplicate PKs, in the reference's eager order. */
  def validateLoaded(stats: Gates.PkStats, pk: Seq[String],
                     expectedCount: Long): Unit = {
    if (stats.rows != expectedCount)
      throw new DataQualityException(
        s"loaded count ${stats.rows} != source count $expectedCount")
    Gates.requirePkIntegrity(stats, pk)
  }

  /** Incremental (watermark) load — the strategy the reference's
    * metadata reserves but never implements (table_md.watermark_column /
    * last_loaded_value, SURVEY §1.4): append only rows strictly past
    * the last loaded watermark value, return the new high watermark.
    * At scale this is a partition-pruned append instead of a full
    * rewrite; idempotent re-runs with an unchanged watermark append
    * nothing. */
  def incrementalAppend(df: DataFrame, path: String, watermarkCol: String,
                        lastValue: Option[String]): Option[String] = {
    val batch = lastValue match {
      case Some(v) => df.filter(col(watermarkCol) > lit(v).cast(
        df.schema(watermarkCol).dataType))
      case None => df
    }
    val high = Observation()
    batch.observe(high, max(col(watermarkCol)).cast("string").as("wm"))
      .write.mode("append").parquet(path)
    Option(high.get("wm").asInstanceOf[String]).orElse(lastValue)
  }

  /** Promote `staging` to `target` without a window where the table is
    * gone: rename the published data aside first, rename staging into
    * place, then drop the old copy. Every rename result is checked; a
    * failed promote restores the previous table so readers never
    * observe a missing or half-published state. On an object store this
    * whole swap becomes a table-format metadata commit. */
  private[graft] def promote(fs: org.apache.hadoop.fs.FileSystem,
                             staging: org.apache.hadoop.fs.Path,
                             target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + "_old")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"cannot clear previous backup $old")
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, old))
      throw new java.io.IOException(s"cannot move $target aside to $old")
    if (!fs.rename(staging, target)) {
      // roll back: restore the previous published data — and if THAT
      // fails too, say exactly where the data is stranded instead of
      // reporting only the promote failure
      val restored = !hadTarget || fs.rename(old, target)
      if (!restored)
        throw new java.io.IOException(
          s"cannot promote $staging to $target AND rollback failed: " +
            s"previous data stranded at $old — restore it manually")
      throw new java.io.IOException(s"cannot promote $staging to $target" +
        (if (hadTarget) " (previous data restored)" else ""))
    }
    if (hadTarget) fs.delete(old, true)
  }

  /** Write-audit-publish: `body` gets the staging dir beside `path` and
    * a `publish` that promotes it; it writes, audits the STAGED data,
    * then publishes. Whatever it leaves unpublished is deleted, so a
    * failed audit keeps the previous published data and readers never
    * observe unvalidated rows (the reference's DELETE+INSERT+validate
    * transaction). */
  def withStaging[A](spark: SparkSession, path: String)
                    (body: (String, () => Unit) => A): A = {
    val staging = new org.apache.hadoop.fs.Path(path + "_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try body(staging.toString,
      () => promote(fs, staging, new org.apache.hadoop.fs.Path(path)))
    finally fs.delete(staging, true)
  }

  /** [[withStaging]] for one frame and the post-load validation. */
  def writeAuditPublish(spark: SparkSession, df: DataFrame, path: String,
                        pk: Seq[String], expectedCount: Long): Unit =
    withStaging(spark, path) { (staging, publish) =>
      fullRefresh(df, staging, expectedCount)
      validateLoaded(Gates.pkIntegrityStats(
        spark.read.schema(df.schema).parquet(staging), pk), pk, expectedCount)
      publish()
    }

  /** Small-file compaction: rewrite a parquet dir into right-sized
    * files (~targetRows per file) via a staging dir + atomic directory
    * swap. The small-files problem is the classic lakehouse decay mode
    * — a 100 TB table accreting thousands of tiny incremental-append
    * files scans orders of magnitude slower than the same bytes in
    * right-sized files. On an object store the swap becomes a
    * table-format metadata commit; the data motion is identical. */
  def compact(spark: SparkSession, path: String,
              targetRows: Long = 1000000L): Long = {
    val df = spark.read.parquet(path)
    val n = df.count()
    val parts = math.max(1L, math.min(n / targetRows + 1, 10000L)).toInt
    withStaging(spark, path) { (staging, publish) =>
      df.coalesce(parts).write.mode("overwrite").parquet(staging)
      publish()
    }
    n
  }

  /** JDBC warehouse sink with the reference's literal transaction shape
    * (etl/load.py:59-97): one connection, DELETE FROM table + batched
    * INSERTs, a single commit — concurrent readers observe the old rows
    * or the new rows, never a mix, and a failure rolls back to the old
    * table. Deliberately a DRIVER-side path for small dims and metadata
    * tables (the reference's warehouse is single-file SQLite, an
    * inherently single-writer store); large facts take
    * [[writeAuditPublish]], which scales writers. Returns rows written.
    *
    * The small-table contract is SELF-ENFORCING: the collect is capped
    * at `maxRows` (collected via `limit(maxRows+1)`, so an oversized
    * frame costs one truncated fetch, not a driver OOM) and an input
    * beyond the cap fails loudly with a pointer to the distributed
    * sink instead of silently materializing a fact table on the
    * driver.
    */
  def jdbcFullRefresh(df: DataFrame, url: String, table: String,
                      createDdl: Option[String] = None,
                      batchSize: Int = 1000,
                      maxRows: Int = 1000000): Long = {
    require(maxRows > 0, s"jdbcFullRefresh('$table') maxRows must be " +
      s"positive, got $maxRows")
    val schema = df.schema
    // small-table path by contract (see Scaladoc) — enforced, not
    // assumed: fetch at most maxRows+1 rows and refuse the refresh if
    // the frame exceeds the cap rather than OOM the driver. The probe
    // limit saturates at Int.MaxValue so maxRows = Int.MaxValue means
    // "uncapped" instead of limit(Int.MinValue) via silent overflow.
    val probeLimit = math.min(maxRows.toLong + 1L, Int.MaxValue.toLong).toInt
    val rows = df.limit(probeLimit).collect()
    require(rows.length <= maxRows,
      s"jdbcFullRefresh('$table') is the driver-side small-table sink " +
        s"(single-writer JDBC transaction) and the input exceeds its " +
        s"$maxRows-row cap; load large tables with writeAuditPublish " +
        s"or raise maxRows deliberately")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      createDdl.foreach { ddl =>
        // probe under every identifier folding (exact / upper / lower):
        // Derby folds unquoted names to upper, Postgres to lower — a
        // single-case probe would re-run CREATE against a live table
        def tableExists(name: String): Boolean = {
          val meta = conn.getMetaData.getTables(null, null, name, null)
          try meta.next() finally meta.close()
        }
        val exists = tableExists(table) || tableExists(table.toUpperCase) ||
          tableExists(table.toLowerCase)
        if (!exists) { val st = conn.createStatement()
          try st.executeUpdate(ddl) finally st.close() }
      }
      val del = conn.createStatement()
      try del.executeUpdate(s"DELETE FROM $table") finally del.close()
      val ps = conn.prepareStatement(
        s"INSERT INTO $table VALUES (${schema.map(_ => "?").mkString(", ")})")
      try {
        var inBatch = 0
        rows.foreach { row =>
          schema.fields.zipWithIndex.foreach { case (f, i) =>
            if (row.isNullAt(i)) ps.setObject(i + 1, null)
            else f.dataType match {
              case org.apache.spark.sql.types.LongType => ps.setLong(i + 1, row.getLong(i))
              case org.apache.spark.sql.types.IntegerType => ps.setInt(i + 1, row.getInt(i))
              case org.apache.spark.sql.types.DoubleType => ps.setDouble(i + 1, row.getDouble(i))
              case org.apache.spark.sql.types.FloatType => ps.setFloat(i + 1, row.getFloat(i))
              case org.apache.spark.sql.types.BooleanType => ps.setBoolean(i + 1, row.getBoolean(i))
              case org.apache.spark.sql.types.StringType => ps.setString(i + 1, row.getString(i))
              case TimestampType | TimestampNTZType =>
                ps.setTimestamp(i + 1, java.sql.Timestamp.valueOf(
                  row.getAs[Any](i) match {
                    case t: java.sql.Timestamp => t.toLocalDateTime
                    case d: java.time.LocalDateTime => d
                    case i2: java.time.Instant =>
                      java.time.LocalDateTime.ofInstant(i2, java.time.ZoneOffset.UTC)
                  }))
              case org.apache.spark.sql.types.DateType =>
                ps.setDate(i + 1, row.getAs[java.sql.Date](i))
              case _: org.apache.spark.sql.types.DecimalType =>
                ps.setBigDecimal(i + 1, row.getDecimal(i))
              case other => throw new IllegalArgumentException(
                s"jdbcFullRefresh: unsupported type $other for column ${f.name}")
            }
          }
          ps.addBatch(); inBatch += 1
          if (inBatch >= batchSize) { ps.executeBatch(); inBatch = 0 }
        }
        if (inBatch > 0) ps.executeBatch()
      } finally ps.close()
      conn.commit()
      rows.length.toLong
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.close()
  }

  /** Post-load validation against the JDBC warehouse — the reference's
    * eager order (etl/load.py:144-210) expressed as SQL against the
    * loaded table: count match, zero NULL PKs, zero duplicate PKs. */
  def jdbcValidateLoaded(url: String, table: String, pk: Seq[String],
                         expectedCount: Long): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      def one(sql: String): Long = {
        val rs = st.executeQuery(sql)
        try { rs.next(); rs.getLong(1) } finally rs.close()
      }
      val n = one(s"SELECT count(*) FROM $table")
      if (n != expectedCount)
        throw new DataQualityException(
          s"loaded count $n != source count $expectedCount")
      val nullPred = pk.map(c => s"$c IS NULL").mkString(" OR ")
      val nNull = one(s"SELECT count(*) FROM $table WHERE $nullPred")
      if (nNull > 0)
        throw new DataQualityException(s"$nNull rows with NULL in PK $pk")
      val dups = one(s"SELECT count(*) FROM (SELECT 1 AS c FROM $table " +
        s"GROUP BY ${pk.mkString(", ")} HAVING count(*) > 1) d")
      if (dups > 0)
        throw new DataQualityException(s"$dups duplicate PK groups in $table")
      st.close()
    } finally conn.close()
  }

  /** FK referential-integrity check via left-anti join
    * (README.md:166-171; SURVEY §2.5): fact keys absent from the dim
    * must be zero. Broadcast the dim when it is small — the planner
    * does this automatically under the broadcast threshold; callers
    * can force it by passing `broadcast(dim)`. */
  def requireReferentialIntegrity(fact: DataFrame, factKey: Column,
                                  dim: DataFrame, dimKey: Column): Unit = {
    val orphans = fact.join(dim, factKey === dimKey, "left_anti").count()
    if (orphans > 0)
      throw new DataQualityException(s"$orphans fact rows violate FK")
  }
}
