package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkSpec, Tables}

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.events(spark, sf0001).cache()

  test("streaming tumbling agg equals the batch aggregation") {
    // batch expectation with identical expressions
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 1000000).cast("long")) / 1000000.0)
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    // stream the same rows through a memory sink
    val streamed = {
      val schema = events.schema
      val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
      events.write.mode("overwrite").parquet(dir)
      val src = spark.readStream.schema(schema).parquet(dir)
      StreamOps.runToMemory(
        StreamOps.tumblingCounts(src, "1 hour"), "tumbling_test",
        OutputMode.Complete())
    }
    val b = batch.orderBy("window_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    val s = streamed.orderBy("window_start", "event_type")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    assert(s == b)
  }

  test("streaming C4 quality gate: windowed keep/kill counts equal batch") {
    import graft.ext.Corpus
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("arrival_ts", timestamp_seconds(lit(1700000000L) +
        pmod(col("doc_id"), lit(3600))))
    def gate(df: org.apache.spark.sql.DataFrame) =
      Corpus.c4QualityFlags(df, col("doc_id"), col("text"),
          carry = Seq("arrival_ts" -> col("arrival_ts")))
        .groupBy(window(col("arrival_ts"), "10 minutes"), col("keep"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("window.start").cast("long").as("window_epoch"),
          col("keep"), col("n_docs"))
    val batch = gate(docs).orderBy("window_epoch", "keep")
      .as[(Long, Boolean, Long)].collect().toSeq
    val streamed = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sqgate").toString
      docs.write.mode("overwrite").parquet(dir)
      val src = spark.readStream.schema(docs.schema).parquet(dir)
      StreamOps.runToMemory(gate(src), "quality_gate_test",
        OutputMode.Complete())
    }
    val s = streamed.orderBy("window_epoch", "keep")
      .as[(Long, Boolean, Long)].collect().toSeq
    assert(s == batch, s"stream/batch divergence: $s vs $batch")
    assert(batch.map(_._3).sum == docs.count(),
      "every doc lands in exactly one (window, keep) cell")
  }

  test("streaming dedup emits exactly the batch-distinct key set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    events.write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(events.schema).parquet(dir)
    val got = StreamOps.runToMemory(
        StreamOps.streamingDedup(src, Seq("user_id", "event_type")),
        "sdedup_test", OutputMode.Append())
      .as[(Long, String)].collect().toSet
    val want = events.select("user_id", "event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(got == want)
    // bounded-state variant: on a bounded source the file source
    // delivers every row in ONE micro-batch, state eviction only
    // happens at batch end, so the emitted key set is EXACTLY batch
    // DISTINCT — the property the registered stream_dedup_bounded
    // query's oracle relies on. (On a genuinely unbounded stream it
    // weakens to a superset-with-duplicate-keys: keys re-admit once
    // their state ages past the watermark horizon.)
    val src2 = spark.readStream.schema(events.schema).parquet(dir)
    val withinRows = StreamOps.runToMemory(
        StreamOps.streamingDedup(src2, Seq("user_id", "event_type"),
          withinWatermark = true),
        "sdedup_within_test", OutputMode.Append())
      .as[(Long, String)].collect().toSeq
    assert(withinRows.size == withinRows.toSet.size,
      "single-batch bounded dedup must not re-emit a key")
    assert(withinRows.toSet == want)
  }

  test("stream-stream interval join equals the batch range join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sij").toString
    events.write.mode("overwrite").parquet(dir)
    def src() = spark.readStream.schema(events.schema).parquet(dir)
    val streamed = StreamOps.runToMemory(
      StreamOps.intervalJoin(
        src().filter(col("event_type") === "click"),
        src().filter(col("event_type") === "purchase"),
        "user_id", window = "30 minutes"),
      "interval_join_test", OutputMode.Append())
    val batch = events.as("c").filter(col("c.event_type") === "click")
      .join(events.as("p").filter(col("p.event_type") === "purchase"),
        expr("c.user_id = p.user_id AND p.ts >= c.ts" +
          " AND p.ts <= c.ts + interval 30 minutes"))
      .select(col("c.user_id"), col("c.ts").as("l_ts"),
        col("p.ts").as("r_ts"))
    val s = streamed.orderBy("user_id", "l_ts", "r_ts")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSeq
    val b = batch.orderBy("user_id", "l_ts", "r_ts")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSeq
    assert(s == b, s"stream ${s.size} rows vs batch ${b.size}")
    assert(b.nonEmpty, "fixture must produce at least one join match")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("streaming session windows produce plausible sessions") {
    val schema = events.schema
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    events.write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(schema).parquet(dir)
    val out = StreamOps.runToMemory(
      StreamOps.sessionCounts(src, "30 minutes"), "session_test",
      OutputMode.Complete())
    assert(out.count() > 0)
    assert(out.agg(sum("n_events")).as[Long].head() == events.count())
  }

  test("watermark drops data later than the threshold in append mode") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    val schema = "ts TIMESTAMP, v DOUBLE"
    // batch 1: on-time events up to 10:00; batch 2: an event 3h late
    Seq(("2026-01-01 09:00:00", 1.0), ("2026-01-01 10:00:00", 2.0))
      .toDF("ts", "v").withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(s"$dir/b1")
    val src = spark.readStream.schema(schema).parquet(s"$dir/b*")
    val agg = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_test").start()
    q.processAllAvailable()
    // advance the watermark past 09:xx with a 12:00 event, then try to
    // sneak in a 07:00 event — it must be dropped
    Seq(("2026-01-01 12:00:00", 3.0)).toDF("ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(s"$dir/b2")
    q.processAllAvailable()
    Seq(("2026-01-01 07:00:00", 9.0)).toDF("ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(s"$dir/b3")
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_test")
      .select(date_format(col("ws"), "HH:mm"), col("n"))
      .as[(String, Long)].collect().toMap
    // the 07:00 window never appears: its event arrived after the
    // watermark passed 11:00
    assert(!out.contains("07:00"), s"late event not dropped: $out")
    assert(out.get("09:00").contains(1L))
  }

  test("stream state parallelism derives from the keyspace, not the batch width") {
    import graft.registry.StreamQueries
    // ~200 keys per partition, clamped to [2, batch width]
    assert(StreamQueries.derivePartitions(1500, 32) == 8) // the measured sweet spot
    assert(StreamQueries.derivePartitions(1, 32) == 2)
    assert(StreamQueries.derivePartitions(201, 32) == 2)
    assert(StreamQueries.derivePartitions(401, 32) == 3)
    assert(StreamQueries.derivePartitions(1000000, 32) == 32)
    assert(StreamQueries.derivePartitions(1000000, 64) == 64)
    // end-to-end derivation over the fixture stays inside the clamp
    val n = StreamQueries.streamParallelism(spark, sf0001)
    assert(n >= 2 &&
      n <= spark.conf.get("spark.sql.shuffle.partitions").toInt.max(2))
  }

  test("stateful sessionizer (event-time timeouts) equals batch sessionization") {
    val gapMs = 1800 * 1000L
    // the SAME sentinel source the registered query uses (shared
    // helper — sentinel semantics cannot drift between spec and
    // registry): the sentinel advances the final watermark past every
    // real session's last+gap, so the trailing no-data micro-batch
    // fires every pending event-time timer
    val src = graft.registry.StreamQueries
      .sentinelStream(spark, sf0001, gapMs).as[StreamOps.Event]
    val streamed = StreamOps.runToMemory(
        StreamOps.statefulSessions(src, gapMs).toDF(),
        "fmgs_test", OutputMode.Append())
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_micros(col("end_us")),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
    val batch = graft.ext.Windows.sessionize(
        events, col("user_id"), col("ts"), 1800)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    val s = streamed.orderBy("user_id", "session_start")
      .as[(Long, String, String, Long)].collect().toSeq
    val b = batch.orderBy("user_id", "session_start")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(b.nonEmpty)
    assert(s == b, s"stream ${s.size} sessions vs batch ${b.size}")
  }

  test("mergeSessions folds out-of-order and bridging sessions") {
    import StreamOps.SessionState
    def s(n: Long, a: Long, b: Long) = SessionState(n, a, b)
    // bridge: [10,10] + [40,40] stay apart at gap 20, then [25,25]
    // arrives and joins them into one
    assert(StreamOps.mergeSessions(
      Seq(s(1, 10, 10), s(1, 40, 40), s(1, 25, 25)), 20)
      == Seq(s(3, 10, 40)))
    // event inside an existing span just counts
    assert(StreamOps.mergeSessions(Seq(s(3, 10, 50), s(1, 30, 30)), 5)
      == Seq(s(4, 10, 50)))
    // strictly-beyond-gap stays separate
    assert(StreamOps.mergeSessions(Seq(s(1, 0, 0), s(1, 21, 21)), 20)
      == Seq(s(1, 0, 0), s(1, 21, 21)))
    // exactly-at-gap merges (<=, the t - last <= gap contract)
    assert(StreamOps.mergeSessions(Seq(s(1, 0, 0), s(1, 20, 20)), 20)
      == Seq(s(2, 0, 20)))
  }

  test("delayed sessionizer: late events within the delay land in (and bridge) their session") {
    // gap 1800s, delay 1200s. Batch 1: u1 at t=1000 and t=3100 (gap-
    // broken: 2100 > 1800), u2 at t=3100. Batch 2: u1 at t=2500 —
    // OUT-OF-ORDER (older than the stream head 3100) but within the
    // delay (wm = 3100-1200 = 1900 < 2500), and it BRIDGES the two
    // buffered sessions (2500-1000 <= 1800, 3100-2500 <= 1800) into
    // one. An eager delay-0-style emitter would already have emitted
    // [1000] as its own n=1 session in batch 1 — the single n=3
    // session asserted here is exactly the buffering contract. Batch 3
    // advances the watermark so every closed session flushes.
    val gapMs = 1800 * 1000L
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_delayed_sess").toString
    def writeFile(name: String, ageSec: Long,
                  rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_delayed_tmp").toString
      rows.map { case (id, sec, uid) =>
        (id, new java.sql.Timestamp(sec * 1000L), uid, "click", 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dest = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageSec * 1000L))
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(tmp)): Unit
    }
    writeFile("a.parquet", 60,
      Seq((1L, 1000L, 1L), (2L, 3100L, 1L), (3L, 3100L, 2L)))
    writeFile("b.parquet", 40, Seq((4L, 2500L, 1L)))
    writeFile("c.parquet", 20, Seq((5L, 20000L, 2L)))
    val src = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[StreamOps.Event]
    val got = StreamOps.runToMemory(
        StreamOps.statefulSessions(src, gapMs,
          watermarkDelayMs = 1200 * 1000L).toDF(),
        "delayed_sess_test", OutputMode.Append())
      .select(col("user_id"), col("n_events"),
        (col("start_us") / 1000000L).cast("long").as("start_s"),
        (col("end_us") / 1000000L).cast("long").as("end_s"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // u1: ONE bridged session of 3 events; u2: the t=3100 session
    // (closed: wm 18800 > 3100+1800); u2's t=20000 session stays open
    // (wm 18800 < 21800) and must NOT emit
    assert(got == Set((1L, 3L, 1000L, 3100L), (2L, 1L, 3100L, 3100L)),
      s"got $got")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("exactly-once upsert sink: multi-batch parity and replayed-batch skip") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_upsert_sink")
    val srcDir = base.resolve("src").toString
    new java.io.File(srcDir).mkdirs()
    def writeFile(name: String, ageSec: Long,
                  rows: Seq[(Long, Long, Double)]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_upsert_tmp").toString
      rows.map { case (id, uid, v) =>
        (id, new java.sql.Timestamp(id * 1000L), uid, "click", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dest = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageSec * 1000L))
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(tmp)): Unit
    }
    writeFile("a.parquet", 60,
      Seq((1L, 1L, 1.5), (2L, 1L, 2.5), (3L, 2L, 10.0)))
    writeFile("b.parquet", 40, Seq((4L, 1L, 4.0)))
    val schema = events.schema
    // explicit file: URI — the sink must resolve table, staging and
    // commit markers through the Hadoop FileSystem the path names,
    // never the driver's local java.io view
    val path = "file:" + base.resolve("tbl").toString
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.ext.Windows.stableSum(col("value")).as("sum_value"))
    val got = StreamOps.runUpsertSink(agg, path, Seq("user_id"),
        base.resolve("ckpt").toString)
      .as[(Long, Long, Double)].collect().toSet
    // batch 2 UPDATES user 1's row (3 events, 8.0) over batch 1's
    assert(got == Set((1L, 3L, 8.0), (2L, 1L, 10.0)), s"got $got")
    // both batches left commit markers, written via the Hadoop API
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(StreamOps.commitMarker(path, 0L)), "no marker for batch 0")
    assert(fs.exists(StreamOps.commitMarker(path, 1L)), "no marker for batch 1")
    // replaying an already-committed batch id is a no-op: the marker
    // gates the apply, so table bytes stay untouched
    val bogus = Seq((9L, 9L, 99.0)).map { case (id, uid, v) =>
      (uid, 1L, v)
    }.toDF("user_id", "n_events", "sum_value")
    StreamOps.applyUpsertBatch(bogus, 0L, path, Seq("user_id"))
    val after = spark.read.parquet(path)
      .as[(Long, Long, Double)].collect().toSet
    assert(after == got, "replayed batch mutated the table")
    // crash-window replay: a failure between promote and marker write
    // leaves the batch applied but unmarked — model it by deleting
    // batch 1's marker and re-applying batch 1's ACTUAL content; the
    // re-apply must be a fixed point (the documented safety algebra)
    fs.delete(StreamOps.commitMarker(path, 1L), false)
    val batch1 = Seq((1L, 3L, 8.0))
      .toDF("user_id", "n_events", "sum_value")
    StreamOps.applyUpsertBatch(batch1, 1L, path, Seq("user_id"))
    val replayed = spark.read.parquet(path)
      .as[(Long, Long, Double)].collect().toSet
    assert(replayed == got, "crash-window replay changed the table")
    assert(fs.exists(StreamOps.commitMarker(path, 1L)),
      "re-apply did not restore the marker")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("append log sink: batch-partitioned log equals the source; replay is idempotent") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_append_sink")
    val srcDir = base.resolve("src").toString
    new java.io.File(srcDir).mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_append_tmp").toString
      rows.map { case (id, uid, et) =>
        (id, new java.sql.Timestamp(id * 1000L), uid, et, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(srcDir, name))
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(tmp)): Unit
    }
    stage("a.parquet", Seq((1L, 1L, "click"), (2L, 1L, "view")))
    stage("b.parquet", Seq((3L, 2L, "click")))
    val path = "file:" + base.resolve("log").toString
    val src = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val log = StreamOps.runAppendLogSink(src, path,
      base.resolve("ckpt").toString)
    val got = log.select(col("event_id"), col("user_id"),
        col("event_type"), col("batch_id").cast("long"))
      .as[(Long, Long, String, Long)].collect().toSet
    // every source row lands exactly once, tagged with its batch id
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Set((1L, 1L, "click"), (2L, 1L, "view"), (3L, 2L, "click")))
    assert(got.map(_._4) == Set(0L, 1L), s"batch ids: ${got.map(_._4)}")
    // replaying a batch overwrites its OWN directory with identical
    // rows — the table is unchanged, nothing duplicates
    val b0 = Seq((1L, 1L, "click"), (2L, 1L, "view"))
      .toDF("event_id", "user_id", "event_type")
    b0.write.mode("overwrite").parquet(path + "/batch_id=0")
    val after = spark.read.parquet(path)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("batch_id").cast("long"))
      .as[(Long, Long, String, Long)].collect().toSet
    assert(after == got, "replayed batch changed the log")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("near-dup gate: stream == batch incremental's corpus x batch component, multi-batch safe") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val batch = docs.filter(col("doc_id") % 10 === 3)
    // batch truth: the incremental dedup's pairs with exactly one side
    // in the batch (the gate checks arrivals against the STANDING
    // corpus only; intra-batch pairs are the batch job's concern)
    val want = graft.ext.Dedup.minhashLshIncremental(corpus, batch,
        "doc_id", "text", shingleN = 3, k = 32, bands = 8,
        threshold = 0.5)
      .filter((col("doc_a") % 10 === 3) =!= (col("doc_b") % 10 === 3))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "fixture must contain corpus x batch near-dups")
    val sigs = graft.ext.Dedup.minhashSignatures(corpus,
      col("doc_id"), col("text"), 3, 32)
    // TWO files -> two micro-batches: the gate must behave identically
    // when arrivals are split across batches (stream-static joins are
    // stateless; the emit-once dedup is the only state)
    val dir = java.nio.file.Files.createTempDirectory("graft_gate").toString
    batch.filter(col("doc_id") % 20 === 3).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    batch.filter(col("doc_id") % 20 =!= 3).coalesce(1)
      .write.mode("append").parquet(dir)
    graft.ext.Scratch.reclaimOnExit(dir)
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = StreamOps.runToMemory(
        StreamOps.nearDupGate(src, sigs, "doc_id", "text"),
        "gate_test", OutputMode.Append())
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want,
      s"gate/batch divergence: extra=${got -- want} missing=${want -- got}")
  }

  test("near-dup gate: horizon-bounded pair state is EVICTED, not kept forever") {
    // The unbounded-stream contract (VERDICT r11 #4): with an event
    // time + horizon the emit-once state must age out. Replay the SAME
    // arriving doc four times — t0, +10d, +20d, +30d — against a
    // 24-hour horizon, one micro-batch each:
    //  - arrival 1 emits its pairs (first sight; state expiry t0+24h);
    //  - arrival 2 is dropped (watermark is still t0-24h — state
    //    alive);
    //  - arrival 3 is ALSO dropped: Spark sweeps expired dedup state
    //    at the END of a batch with that batch's watermark, so the
    //    t0 entry (expired since the watermark hit t0+24h) is only
    //    physically removed at the end of this batch (probed
    //    empirically on 4.1.2 — eviction lags expiry by one batch);
    //  - arrival 4 RE-EMITS: state was evicted — the bounded-state /
    //    at-least-once trade a forever-stream requires.
    // If state were unbounded (the pre-r12 dropDuplicates), arrival 4
    // would still be suppressed and every pair would count once.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val batch = docs.filter(col("doc_id") % 10 === 3)
    val sigs = graft.ext.Dedup.minhashSignatures(corpus,
      col("doc_id"), col("text"), 3, 32)
    // one arriving doc known to collide with the standing corpus
    val dupId = StreamOps.nearDupGate(batch, sigs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).find(_ % 10 == 3)
      .getOrElse(fail("fixture has no corpus near-dup in the mod-3 slice"))
    val arriving = batch.filter(col("doc_id") === dupId)
    val t0 = 1700000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_evict").toString
    for (offset <- Seq(0L, 10L * 86400, 20L * 86400, 30L * 86400)) {
      arriving.withColumn("arrival_ts",
          timestamp_seconds(lit(t0 + offset)))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mod-times pin micro-batch order
    }
    graft.ext.Scratch.reclaimOnExit(dir)
    val schema = arriving.withColumn("arrival_ts",
      timestamp_seconds(lit(t0))).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val emits = StreamOps.runToMemory(
        StreamOps.nearDupGate(src, sigs, "doc_id", "text",
          eventTimeCol = Some("arrival_ts"), horizon = "24 hours"),
        "gate_evict_test", OutputMode.Append())
      .groupBy(col("doc_a"), col("doc_b")).count()
      .as[(Long, Long, Long)].collect()
    assert(emits.nonEmpty)
    assert(emits.forall(_._3 == 2L),
      s"expected every pair emitted exactly twice (emit, drop-within-" +
        s"state, re-emit-after-eviction); got ${emits.toSeq}")
  }

  /** Janino compiles so far in this JVM. */
  private def compiles(): Long = org.apache.spark.metrics.source
    .CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm run of a registered stream query compiles nothing") {
    // each start() clones the session; with executor class-loader
    // isolation on, the clone's tasks run under a new class loader and
    // miss the codegen cache (6 compiles per run of this query). A
    // Spark upgrade that changes that behaviour fails here.
    val q = graft.SparkEntry.queries("stream_dedup")
    def run(): Long = {
      val c0 = compiles()
      q(spark, sf0001).write.format("noop").mode("overwrite").save()
      compiles() - c0
    }
    run() // cold: compiles whatever this JVM has not compiled yet
    // the counter is JVM-wide: take the least of up to three warm runs,
    // so a sibling suite's compiles cannot fail the check
    val warm = (1 to 3).foldLeft(Long.MaxValue)((least, _) =>
      if (least == 0) 0 else least.min(run()))
    assert(warm == 0, s"a warm stream_dedup run compiled $warm classes")
  }

  test("registered stream queries stream the corpus in place: no staged copies") {
    // a fresh corpus dir, so no earlier suite's (session, dir) staging
    // can hide a copy this test would otherwise make
    val dir = java.nio.file.Files.createTempDirectory("graft_inplace")
    Seq("events", "documents", "embeddings").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf0001, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] = tmp.list().toSet.filter(n =>
      Seq("graft_stream_src", "graft_stream_docs", "graft_stream_emb")
        .exists(n.startsWith))
    val before = staged()
    // the events, document and embedding sources
    Seq("stream_dedup", "stream_quality_gate", "stream_semdedup_gate")
      .foreach { n =>
        assert(graft.SparkEntry.queries(n)(spark, dir.toString).count() > 0, n)
      }
    assert(staged() -- before == Set.empty[String])
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("a stream over a Spark-written events.parquet directory equals one over the single file") {
    import graft.registry.StreamQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_evdir").toString
    spark.read.parquet(s"$sf0001/events.parquet")
      .repartition(3).write.parquet(s"$dir/events.parquet")
    assert(new java.io.File(s"$dir/events.parquet").isDirectory)
    def rows(d: String, name: String) = StreamOps.runToMemory(
        StreamQueries.streamSource(spark, d), name, OutputMode.Append())
      .orderBy("event_id").collect().toSeq
    val fromDir = rows(dir, "evdir_test")
    val fromFile = rows(sf0001, "evfile_test")
    assert(fromFile.size == events.count())
    assert(fromDir == fromFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a second Tables.events call starts no Spark job") {
    // counts the jobs submitted from this thread's job group
    def jobsDuring(f: => Any): Int = {
      val gid = s"events-probe-${System.nanoTime()}"
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.properties != null &&
            gid == js.properties.getProperty("spark.jobGroup.id")) {
            n.incrementAndGet(); ()
          }
      }
      spark.sparkContext.addSparkListener(l)
      spark.sparkContext.setJobGroup(gid, "Tables.events schema probe")
      try {
        f
        Thread.sleep(1000) // listener bus is async
        n.get()
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(l)
      }
    }
    // the probe sees a schema-inference job
    assert(jobsDuring(spark.read.parquet(s"$sf0001/events.parquet")) > 0)
    Tables.events(spark, sf0001)
    assert(jobsDuring(Tables.events(spark, sf0001)) == 0)
  }
}
