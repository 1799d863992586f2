package graft.ops

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

  test("clean end-to-end: rename, null-pk drop, defaults, dedup, cast") {
    val raw = Seq(
      (Some("1"), Some("x"), Some("9.5")),
      (Some("1"), Some("dup"), Some("1.0")), // pk dup -> dropped
      (None, Some("y"), Some("2.0")),        // null pk -> dropped
      (Some("2"), None, Some("3.0"))         // null attr -> default
    ).toDF(" Store ID ", "Store NAME", "price")
    val out = Clean.clean(raw, Seq("store_id"),
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
    assertThrows[DataQualityException] { Gates.requireNonEmpty(df) }
  }

  test("gates: null fraction above threshold fails") {
    val df = (1 to 100).map(i => if (i <= 96) None else Some(i))
      .toDF("mostly_null")
    assertThrows[DataQualityException] { Gates.requireMaxNullPct(df) }
    // 95% exactly passes (gate is strict >)
    val ok = (1 to 100).map(i => if (i <= 95) None else Some(i))
      .toDF("mostly_null")
    Gates.requireMaxNullPct(ok)
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

  test("source gate over a PK-distributed frame raises in contract order " +
      "with the hash-only gate's messages") {
    // the frame the pipeline stages: hash-distributed by the PK, so the
    // gate groups by (pk, row hash) over it with no exchange
    def staged(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Materialize.staged(df.repartition(col("k")))
    def message(df: org.apache.spark.sql.DataFrame, pk: Seq[String]) =
      intercept[DataQualityException] {
        Gates.requireSourceGates(df, pk = pk)
      }.getMessage
    val ok = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    assert(Gates.requireSourceGates(staged(ok), pk = Seq("k")) == 3L)
    val empty = ok.filter(col("k") > 99)
    val nullsAndDups = ((1 to 96).map(_ => (Option.empty[Int], "x"))
      ++ Seq((Some(1), "y"), (Some(1), "y"), (Some(2), "z"), (Some(3), "w")))
      .toDF("k", "v")
    val dup = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    Seq(empty -> "source is empty", nullsAndDups -> "NULLs",
        dup -> "duplicate full rows").foreach { case (df, expected) =>
      val got = message(staged(df), Seq("k"))
      assert(got.contains(expected), got)
      assert(got == message(df, Nil))
    }
  }

  test("gates: null or duplicate PKs fail") {
    val nulls = Seq(Some(1), None).toDF("pk")
    assertThrows[DataQualityException] {
      Gates.requireNoNullPk(nulls, Seq("pk"))
    }
    val dups = Seq(1, 1, 2).toDF("pk")
    assertThrows[DataQualityException] {
      Gates.requireNoDupPk(dups, Seq("pk"))
    }
  }

  test("gates: contract schema enforces snake_case") {
    val bad = Seq((1, 2)).toDF("ok_name", "BadName")
    assertThrows[DataQualityException] {
      Gates.requireContractSchema(bad, Seq("ok_name"), Seq("BadName"))
    }
  }
}
