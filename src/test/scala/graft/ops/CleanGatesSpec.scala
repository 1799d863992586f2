package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class CleanGatesSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeName: trim, lower, punctuation runs to single underscore") {
    assert(Clean.normalizeName("  Sale ID ") == "sale_id")
    assert(Clean.normalizeName("R  NAME!!") == "r_name")
    assert(Clean.normalizeName("__already_ok__") == "already_ok")
    assert(Clean.normalizeName("CamelCase Col#2") == "camelcase_col_2")
  }

  test("dedup keep-first keeps the first row in order") {
    val df = Seq((1, "first"), (1, "second"), (2, "only"))
      .toDF("pk", "payload")
      .withColumn("ord", monotonically_increasing_id())
    val kept = Clean.dedupKeepFirst(df, Seq("pk"), col("ord"))
      .orderBy("pk").select("payload").as[String].collect()
    assert(kept.toSeq == Seq("first", "only"))
  }

  test("dedupKeepFirst == min_by(payload, struct(order)) on a mixed-type frame") {
    val df = (0 until 5000).map { i =>
      (i % 700, s"name_${(i * 37) % 991}", i.toLong, i.toDouble / 7,
        if (i % 11 == 0) null else s"v$i")
    }.toDF("k", "name", "ord", "score", "nullable_str")
    val ours = Clean.dedupKeepFirst(df, Seq("k"), col("ord"))
    val minBy = df.groupBy(col("k"))
      .agg(min_by(struct(df.columns.map(col): _*), struct(col("ord")))
        .as("r"))
      .select(df.columns.map(c => col(s"r.$c")): _*)
    assert(ours.collect().toSet == minBy.collect().toSet)
  }

  test("dedupKeepFirst keeps each of 4096 groups' first long-string row") {
    val df = (0 until 20000)
      .map(i => (i % 4096, f"group_${i % 4096}%05d_payload_$i%07d", i))
      .toDF("k", "s", "ord")
    val out = Clean.dedupKeepFirst(df, Seq("k"), col("ord"))
      .select(col("s")).as[String].collect()
    assert(out.length == 4096)
    assert(out.distinct.length == 4096, "corrupt/duplicated strings")
    // keeper for group g is the first occurrence: i == g
    assert(out.forall { s =>
      val g = s.slice(6, 11).toInt
      s == f"group_$g%05d_payload_$g%07d"
    }, s"wrong keepers, e.g. ${out.take(3).toSeq}")
  }

  test("dedupKeepFirst sorts a NULL order value first, also in a second " +
      "order column after a tie") {
    val df = Seq(
      (1, Some(5L), Some(0L), "five"),
      (1, None, Some(0L), "null_ord"), // NULL sorts FIRST -> the keeper
      (2, Some(2L), Some(0L), "two"),
      (2, Some(7L), Some(0L), "seven"),
      (3, Some(1L), Some(4L), "tie_4"),
      (3, Some(1L), None, "tie_null"), // ties on a, NULL b -> the keeper
      (3, Some(2L), None, "a_2")
    ).toDF("k", "a", "b", "v")
    val got = Clean.dedupKeepFirst(df, Seq("k"), col("a"), col("b"))
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "null_ord", 2 -> "two", 3 -> "tie_null"))
  }

  test("dedupKeepFirst leaves the session's ObjectHashAggregate " +
      "fallbackThreshold unset") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val df = (0 until 1000).map(i => (i % 100, s"v$i", i.toLong))
      .toDF("pk", "v", "ord")
    assert(Clean.dedupKeepFirst(df, Seq("pk"), col("ord")).count() == 100)
    assert(spark.conf.getAll.get(key).isEmpty)
  }

  test("dedupKeepFirst over a PK-staged frame plans a Window with no " +
      "Exchange and no ObjectHashAggregate") {
    val df = (0 until 1000).map(i => (i % 100, s"v$i", i.toLong))
      .toDF("pk", "v", "ord")
    val staged = graft.ext.Materialize.staged(df.repartition(4, col("pk")))
    val out = Clean.dedupKeepFirst(staged, Seq("pk"), col("ord"))
    assert(out.collect().length == 100)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
  }

  test("clean end-to-end: rename, null-pk drop, defaults, dedup, cast") {
    val raw = Seq(
      (Some("1"), Some("x"), Some("9.5")),
      (Some("1"), Some("dup"), Some("1.0")), // pk dup -> dropped
      (None, Some("y"), Some("2.0")),        // null pk -> dropped
      (Some("2"), None, Some("3.0"))         // null attr -> default
    ).toDF(" Store ID ", "Store NAME", "price")
    // staged the way the pipeline's EXTRACT stage stages a source
    val staged = graft.ext.Materialize.staged(
      Clean.withOrdinal(Clean.renameSnakeCase(raw))
        .repartition(col("store_id")))
    val out = Clean.clean(staged, Seq("store_id"),
      Map("store_name" -> "UNKNOWN"), Map.empty,
      Map("store_id" -> StringType, "store_name" -> StringType,
        "price" -> DoubleType))
    val rows = out.orderBy("store_id")
      .as[(String, String, Double)].collect()
    assert(rows.toSeq == Seq(("1", "x", 9.5), ("2", "UNKNOWN", 3.0)))
    assert(out.schema("price").dataType == DoubleType)
  }

  test("gates: schema mismatch fails with missing and extra") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[DataQualityException] {
      Gates.requireSchemaMatch(df, Seq("a", "c"))
    }
    assert(e.getMessage.contains("missing=List(c)"))
    assert(e.getMessage.contains("extra=List(b)"))
  }

  test("gates: empty source fails") {
    val df = Seq(1).toDF("a").filter(col("a") > 1)
    val e = intercept[DataQualityException] { Gates.requireSourceGates(df) }
    assert(e.getMessage.contains("source is empty"), e.getMessage)
  }

  test("gates: null fraction above threshold fails") {
    val df = (1 to 100).map(i => if (i <= 96) None else Some(i))
      .toDF("mostly_null")
    val e = intercept[DataQualityException] { Gates.requireSourceGates(df) }
    assert(e.getMessage.contains("NULLs"), e.getMessage)
    // 95% exactly passes the null gate (it is strict >); the 95 NULL
    // rows are full-row duplicates, so the next gate in order raises
    val ok = (1 to 100).map(i => if (i <= 95) None else Some(i))
      .toDF("mostly_null")
    val e2 = intercept[DataQualityException] { Gates.requireSourceGates(ok) }
    assert(e2.getMessage.contains("duplicate full rows"), e2.getMessage)
  }

  test("gates: full-row duplicates fail, near-duplicates pass") {
    val dup = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    assertThrows[DataQualityException] { Gates.requireNoFullRowDups(dup) }
    val ok = Seq((1, "a"), (1, "b")).toDF("k", "v")
    Gates.requireNoFullRowDups(ok)
  }

  test("fused source gate raises in contract order and returns n when clean") {
    // clean: returns the row count from one job
    val ok = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    assert(Gates.requireSourceGates(ok) == 3L)
    // empty raises first
    val empty = ok.filter(col("k") > 99)
    val e1 = intercept[DataQualityException] {
      Gates.requireSourceGates(empty)
    }
    assert(e1.getMessage.contains("source is empty"))
    // null-pct raises before the dup gate even when dups also exist
    val nullsAndDups = ((1 to 96).map(_ => (Option.empty[Int], "x"))
      ++ Seq((Some(1), "y"), (Some(1), "y"), (Some(2), "z"), (Some(3), "w")))
      .toDF("k", "v")
    val e2 = intercept[DataQualityException] {
      Gates.requireSourceGates(nullsAndDups)
    }
    assert(e2.getMessage.contains("NULLs"), e2.getMessage)
    // dups alone raise via the exact confirm pass
    val dup = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    val e3 = intercept[DataQualityException] {
      Gates.requireSourceGates(dup)
    }
    assert(e3.getMessage.contains("duplicate full rows"), e3.getMessage)
  }

  /** The source gate as [[graft.Pipeline]] runs it over its PK staging
    * shuffle: row and NULL counts observed on the shuffle's map stage,
    * dup candidates counted by the window in the job that consumes it
    * (here a noop write), then the exact confirm. Returns the row
    * count. */
  private def stagedGate(df: DataFrame, pk: Seq[String]): Long = {
    val stats = Observation()
    val staged = graft.ext.Materialize.staged(
      Gates.observeSourceStats(df, stats).repartition(pk.map(col): _*))
    val n = Gates.requireSourceStats(stats.get, df.columns.toSeq)
    val cands = Observation()
    Gates.observeDupCandidates(staged, pk, df.columns.toSeq, cands)
      .write.format("noop").mode("overwrite").save()
    if (cands.get("n_cand").asInstanceOf[Long] > 0)
      Gates.requireNoFullRowDups(staged)
    n
  }

  /** A gate's verdict: its error message, or None when it passes. */
  private def verdict(gate: => Long): Option[String] =
    try { gate; None } catch { case e: DataQualityException => Some(e.getMessage) }

  test("source gate over a PK-distributed frame raises in contract order " +
      "with the hash-only gate's messages") {
    val ok = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    assert(stagedGate(ok, Seq("k")) == 3L)
    val empty = ok.filter(col("k") > 99)
    val nullsAndDups = ((1 to 96).map(_ => (Option.empty[Int], "x"))
      ++ Seq((Some(1), "y"), (Some(1), "y"), (Some(2), "z"), (Some(3), "w")))
      .toDF("k", "v")
    val dup = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    Seq(empty -> "source is empty", nullsAndDups -> "NULLs",
        dup -> "duplicate full rows").foreach { case (df, expected) =>
      val got = verdict(stagedGate(df, Seq("k")))
      assert(got.exists(_.contains(expected)), got)
      assert(got == verdict(Gates.requireSourceGates(df)))
    }
  }

  test("the in-window dup candidates reach the hash-only gate's verdict") {
    // PK groups of 2..6 distinct rows, and the same with one exact copy
    val groups = (0 until 300).flatMap(k =>
      (0 until 2 + k % 5).map(j => (Option(k), s"v${k}_$j", j.toLong)))
    val groupsDup = groups :+ groups(41)
    // dups among NULL-PK rows, and NULL-PK rows that differ
    val nullPk = groups ++ Seq((None, "n", 1L), (None, "n", 1L))
    val nullPkNear = groups ++ Seq((None, "n", 1L), (None, "n", 2L))
    // near-duplicates: one column differs (each of the two non-keys)
    val nearA = Seq((Option(1), "a", 1L), (Option(1), "b", 1L), (Option(2), "a", 1L))
    val nearB = Seq((Option(1), "a", 1L), (Option(1), "a", 2L), (Option(2), "a", 1L))
    // one-key skew: 5,000 rows on one PK, with and without a copy
    val skew = (0 until 5000).map(i => (Option(7), s"s$i", i.toLong)) ++
      (0 until 50).map(i => (Option(i + 100), "t", 0L))
    val skewDup = skew :+ skew(4321)
    val frames = Seq("groups" -> groups, "groupsDup" -> groupsDup,
      "nullPk" -> nullPk, "nullPkNear" -> nullPkNear, "nearA" -> nearA,
      "nearB" -> nearB, "skew" -> skew, "skewDup" -> skewDup)
    val dupFrames = Set("groupsDup", "nullPk", "skewDup")
    frames.foreach { case (name, rows) =>
      val df = rows.toDF("k", "a", "b")
      val got = verdict(stagedGate(df, Seq("k")))
      assert(got == verdict(Gates.requireSourceGates(df)), name)
      assert(got.exists(_.contains("duplicate full rows")) ==
        dupFrames(name), s"$name: $got")
    }
  }

  test("gates: null or duplicate PKs fail") {
    def message(df: org.apache.spark.sql.DataFrame) =
      intercept[DataQualityException] {
        Gates.requirePkIntegrity(Gates.pkIntegrityStats(df, Seq("pk")),
          Seq("pk"))
      }.getMessage
    val nulls = Seq(Some(1), None).toDF("pk")
    assert(message(nulls) == "1 rows with NULL in PK List(pk)")
    val dups = Seq(1, 1, 2).toDF("pk")
    assert(message(dups) == "1 duplicated PK values for List(pk)")
  }

  test("gates: contract schema enforces snake_case") {
    val bad = Seq((1, 2)).toDF("ok_name", "BadName")
    assertThrows[DataQualityException] {
      Gates.requireContractSchema(bad, Seq("ok_name"), Seq("BadName"))
    }
  }
}
