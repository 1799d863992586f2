package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet").cache()

  test("sequence packing: greedy per-group bins never exceed the budget") {
    val packed = Packing.packSequences(docs, col("doc_id"), col("text"),
      budgetTokens = 512, nGroups = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(packed.nonEmpty)
    assert(packed.map(_._3).distinct.forall(g => g >= 0 && g < 8))
    // replay the greedy fold per group locally and compare bin ids
    packed.groupBy(_._3).foreach { case (_, rows) =>
      var bin = 0L; var fill = 0L; var first = true
      rows.sortBy(_._1).foreach { case (_, n, _, gotBin) =>
        if (!first && fill + n > 512) { bin += 1; fill = 0L }
        first = false
        fill += n
        assert(gotBin == bin, s"bin mismatch (expected $bin got $gotBin)")
      }
    }
    // THE packing contract: a bin's total stays within budget unless a
    // single oversized document owns it
    packed.groupBy(r => (r._3, r._4)).foreach { case ((g, b), rows) =>
      val total = rows.map(_._2).sum
      assert(total <= 512 || rows.size == 1,
        s"bin ($g,$b) holds $total tokens across ${rows.size} docs")
    }
    // deterministic under a different partitioning
    val again = Packing.packSequences(docs.repartition(13), col("doc_id"),
        col("text"), budgetTokens = 512, nGroups = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(packed.toSeq == again.toSeq)
  }

  test("largest-first next-fit replays the decreasing-order fold") {
    val packed = Packing.packSequences(docs, col("doc_id"), col("text"),
        budgetTokens = 512, nGroups = 8, largestFirst = true)
      .as[(Long, Long, Long, Long)].collect()
    // replay the decreasing-order fold per group
    packed.groupBy(_._3).foreach { case (_, rows) =>
      var bin = 0L; var fill = 0L; var first = true
      rows.sortBy(r => (-r._2, r._1)).foreach { case (_, n, _, gotBin) =>
        if (!first && fill + n > 512) { bin += 1; fill = 0L }
        first = false
        fill += n
        assert(gotBin == bin, s"NFD bin mismatch (expected $bin got $gotBin)")
      }
    }
    // budget contract unchanged. NOTE deliberately NOT asserted:
    // NFD <= NF in bins — it is false on this corpus (62 vs 61), the
    // measured proof that sorting alone does not fix a single-open-
    // bin packer. pack_ffd_report carries that number.
    packed.groupBy(r => (r._3, r._4)).foreach { case ((g, b), rows) =>
      val total = rows.map(_._2).sum
      assert(total <= 512 || rows.size == 1,
        s"NFD bin ($g,$b) holds $total tokens across ${rows.size} docs")
    }
  }

  test("first-fit-decreasing replays the open-bin fold and beats next-fit") {
    val packed = Packing.packFirstFitDecreasing(docs, col("doc_id"),
        col("text"), budgetTokens = 512, nGroups = 8)
      .select("doc_id", "n_tokens", "pack_group", "bin_id", "seq_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    // replay the first-fit fold per group, including seq_start offsets
    packed.groupBy(_._3).foreach { case (_, rows) =>
      val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.sortBy(r => (-r._2, r._1)).foreach {
        case (docId, n, _, gotBin, gotStart) =>
          var idx = fills.indexWhere(_ + n <= 512)
          if (idx < 0) { fills += 0L; idx = fills.length - 1 }
          assert(gotBin == idx.toLong && gotStart == fills(idx),
            s"doc $docId: got (bin $gotBin, start $gotStart), " +
              s"want (${idx}, ${fills(idx)})")
          fills(idx) += n
      }
    }
    // budget contract: only a single oversized doc may exceed it
    packed.groupBy(r => (r._3, r._4)).foreach { case ((g, b), rows) =>
      val total = rows.map(_._2).sum
      assert(total <= 512 || rows.size == 1,
        s"FFD bin ($g,$b) holds $total tokens across ${rows.size} docs")
    }
    // the open-bin heuristic must not lose to next-fit on the fixture
    val nfBins = Packing.packSequences(docs, col("doc_id"), col("text"),
        budgetTokens = 512, nGroups = 8)
      .select("pack_group", "bin_id").distinct().count()
    val ffdBins = packed.map(r => (r._3, r._4)).distinct.length.toLong
    assert(ffdBins <= nfBins, s"FFD used $ffdBins bins vs next-fit $nfBins")
  }

  test("epochPlan: caps starved sources, fills rich ones, conserves targets") {
    // source rich: 3 unique docs x 8 tokens; source dup: 2 docs that
    // are near-dup copies (one effective) + source dead: fully
    // redundant (component label belongs to another doc)
    val docs = Seq(
      (1L, "rich", "r1 r2 r3 r4 r5 r6 r7 r8"),
      (2L, "rich", "s1 s2 s3 s4 s5 s6 s7 s8"),
      (3L, "rich", "t1 t2 t3 t4 t5 t6 t7 t8"),
      (10L, "dup", "d1 d2 d3 d4 d5 d6 d7 d8"),
      (11L, "dup", "d1 d2 d3 d4 d5 d6 d7 d8"),
      (20L, "dead", "x1 x2 x3 x4")).toDF("doc_id", "source", "text")
    val comp = Seq((1L, 1L), (2L, 2L), (3L, 3L), (10L, 10L),
      (11L, 10L), (20L, 10L)).toDF("doc_id", "component")
    val out = Corpus.epochPlan(docs, comp, col("doc_id"), col("source"),
        col("text"), epochsOfCorpus = 2, maxEpochsPpm = 4000000L)
      .as[(String, Long, Long, Long, Boolean, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // effective mass: rich 24, dup 8, dead 0 -> te = 32, ns = 3,
    // target = 64 div 3 = 21 each
    assert(out("rich") == (("rich", 24L, 21L, 875000L, false, 21L, 0L)),
      s"got ${out("rich")}")
    // dup: 21e6/8 = 2625000 ppm < cap -> planned = 8*2625000/1e6 = 21
    assert(out("dup") == (("dup", 8L, 21L, 2625000L, false, 21L, 0L)),
      s"got ${out("dup")}")
    // dead: zero pool -> zero epochs, full shortfall
    assert(out("dead") == (("dead", 0L, 21L, 0L, false, 0L, 21L)),
      s"got ${out("dead")}")
    // a genuinely starved source trips the cap: tiny pool, big target
    val out2 = Corpus.epochPlan(docs, comp, col("doc_id"), col("source"),
        col("text"), epochsOfCorpus = 2, maxEpochsPpm = 2000000L)
      .as[(String, Long, Long, Long, Boolean, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out2("dup") == (("dup", 8L, 21L, 2000000L, true, 16L, 5L)),
      s"capped source must surface its shortfall: ${out2("dup")}")
  }

  test("contamination check finds 13-gram overlap and nothing else") {
    val span = (1 to 13).map(i => s"tok$i").mkString(" ")
    val test = Seq((100L, s"benchmark question $span answer"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words $span suffix words here"), // contaminated
      (2L, "completely different content with no overlap at all " +
        "padding padding padding padding padding padding padding"))
      .toDF("doc_id", "text")
    val hits = Dedup.crossCorpusOverlap(train, test, "doc_id", "text",
        shingleN = 13)
      .as[(Long, Long, Long)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) == Seq((1L, 100L)))
    assert(hits.head._3 >= 1L)
  }

  test("contamination survives the hot-shingle cap only below the df threshold") {
    val span = (1 to 13).map(i => s"w$i").mkString(" ")
    val train = (1L to 10L).map(i => (i, s"doc $i has $span inside"))
      .toDF("doc_id", "text")
    val test = Seq((99L, s"held out $span text")).toDF("doc_id", "text")
    // df of the shared shingle is 10 > maxDf=5 -> dropped (and logged)
    val capped = Dedup.crossCorpusOverlap(train, test, "doc_id", "text",
      shingleN = 13, maxDf = 5)
    assert(capped.count() == 0)
    val uncapped = Dedup.crossCorpusOverlap(train, test, "doc_id", "text",
      shingleN = 13, maxDf = 500)
    assert(uncapped.count() == 10)
  }

  test("corpus_curation_v2: fused registered plan equals stage-materialized replay") {
    // the bench stage probe materializes between stages; the oracle
    // checks the fused plan — this pins that the two paths are the
    // same computation, so stage timings attribute the verified query
    val fused = graft.registry.ExtQueries.queries("corpus_curation_v2")(
      spark, sf0001).as[(String, Long, Long, Long)].collect().toSet
    var cur = graft.registry.QueryShared.curationV2Docs(spark, sf0001)
    for ((_, f) <- graft.registry.QueryShared.curationV2Stages(spark, sf0001))
      cur = Materialize.eager(f(cur))
    val staged = cur.as[(String, Long, Long, Long)].collect().toSet
    assert(fused.nonEmpty, "curation v2 selected nothing at sf0.001")
    assert(staged == fused, "staged replay diverges from the fused plan")
  }
}
