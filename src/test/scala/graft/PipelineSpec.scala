package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{DataQualityException, Load}
import graft.registry.RetailQueries

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def newPipeline() = {
    val wh = Files.createTempDirectory("wh").toString
    val logs = Files.createTempDirectory("logs").toString
    (new Pipeline(spark, wh, logs, RetailQueries.AsOf,
      metros = RetailQueries.MetroNations,
      regionMap = RetailQueries.NationRegionMap), wh, logs)
  }

  test("all four pipelines run end-to-end and the warehouse validates") {
    val (p, wh, logs) = newPipeline()
    val sales = RetailQueries.sales(spark, sf0001)
    val dedupOrder = Some(Seq(col("sale_date"), col("customer_id"),
      col("product_id"), col("store_id"), col("quantity"),
      col("unit_price"), col("discount_pct")))
    p.run("customers", RetailQueries.customers(spark, sf0001))
    p.run("products", RetailQueries.products(spark, sf0001))
    p.run("stores", RetailQueries.stores(spark, sf0001))
    p.run("sales", sales, dedupOrder)

    val fact = spark.read.parquet(s"$wh/sales_fact")
    val custDim = spark.read.parquet(s"$wh/customers_dim")
    val dateDim = spark.read.parquet(s"$wh/date_dim")
    assert(fact.count() > 0 && custDim.count() > 0)

    // date_dim spans the fact's min..max sale date inclusively
    val mm = fact.agg(min(col("sale_date").cast("date")),
      max(col("sale_date").cast("date"))).first()
    val expectedDays =
      (mm.getDate(1).toLocalDate.toEpochDay
        - mm.getDate(0).toLocalDate.toEpochDay) + 1
    assert(dateDim.count() == expectedDays)

    // FK integrity where the corpus guarantees it: product and store
    // keys (customer_id maps from l_orderkey per FIXTURES.md, which is
    // deliberately not a customer FK in this corpus)
    val prodDim = spark.read.parquet(s"$wh/products_dim")
    val storeDim = spark.read.parquet(s"$wh/stores_dim")
    Load.requireReferentialIntegrity(fact, col("product_id"),
      prodDim.select(col("product_id").as("dim_pid")), col("dim_pid"))
    Load.requireReferentialIntegrity(fact, col("store_id"),
      storeDim.select(col("store_id").as("dim_sid")), col("dim_sid"))

    // run/stage logs recorded SUCCESS for all four runs
    val runLog = spark.read.json(s"$logs/etl_run_log.jsonl")
    assert(runLog.filter(col("status") === "SUCCESS").count() == 4)
    val stageLog = spark.read.json(s"$logs/etl_stage_log.jsonl")
    assert(stageLog.filter(col("status") === "FAILED").count() == 0)
  }

  test("gate failures mark the run FAILED and propagate") {
    val (p, _, logs) = newPipeline()
    // schema drift: missing a contract column
    val bad = RetailQueries.customers(spark, sf0001).drop("email")
    assertThrows[DataQualityException] { p.run("customers", bad) }
    // full-row duplicates
    val dups = {
      val c = RetailQueries.customers(spark, sf0001)
      c.unionByName(c.limit(5))
    }
    assertThrows[DataQualityException] { p.run("customers", dups) }
    // unmapped state in stores
    val badStores = RetailQueries.stores(spark, sf0001)
      .withColumn("state", lit("NOWHERE"))
    assertThrows[DataQualityException] { p.run("stores", badStores) }
    val runLog = spark.read.json(s"$logs/etl_run_log.jsonl")
    assert(runLog.filter(col("status") === "FAILED").count() == 3)
  }

  test("a source with mostly NULL PKs loads, logs and gates like a clean " +
      "one") {
    // 60% of customer_id NULL: they pass the 95% null gate, all hash to
    // one partition of the staged exchange, and T1 drops them
    val src = RetailQueries.customers(spark, sf0001).withColumn(
      "customer_id", when(col("customer_id").cast("long") % 5 < 3, lit(null))
        .otherwise(col("customer_id")))
    val n = src.count()
    val kept = src.filter(col("customer_id").isNotNull)
      .select("customer_id").as[String].collect().sorted.toSeq
    assert(kept.size * 2 < n)
    val (p, wh, logs) = newPipeline()
    p.run("customers", src)
    assert(spark.read.parquet(s"$wh/customers_dim").select("customer_id")
      .as[String].collect().sorted.toSeq == kept)
    val k = kept.size.toLong
    val stages = spark.read.json(s"$logs/etl_stage_log.jsonl")
      .select("stage_name", "status", "rows_in", "rows_out")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(stages == Seq(
      ("EXTRACT", "STARTED", -1L, -1L), ("EXTRACT", "SUCCESS", -1L, n),
      ("TRANSFORM_P1", "STARTED", n, -1L), ("TRANSFORM_P1", "SUCCESS", n, k),
      ("TRANSFORM_P2", "STARTED", k, -1L), ("TRANSFORM_P2", "SUCCESS", k, k),
      ("LOAD", "STARTED", k, -1L), ("LOAD", "SUCCESS", k, k)))
    // full-row duplicates among the NULL-PK rows still fail EXTRACT
    val e1 = intercept[DataQualityException] {
      p.run("customers",
        src.unionByName(src.filter(col("customer_id").isNull).limit(3)))
    }
    assert(e1.getMessage.contains("duplicate full rows"), e1.getMessage)
    // and a PK above the NULL threshold fails before the dup check
    val mostly = src.withColumn("customer_id",
      when(col("customer_id").cast("long") % 50 =!= 0, lit(null))
        .otherwise(col("customer_id")))
    val e2 = intercept[DataQualityException] {
      p.run("customers", mostly.unionByName(mostly.limit(2)))
    }
    assert(e2.getMessage.contains("customer_id") &&
      e2.getMessage.contains("NULLs"), e2.getMessage)
  }

  test("a sales run logs ten stage rows with the independently counted " +
      "rows_in and rows_out") {
    val (p, wh, logs) = newPipeline()
    val src = RetailQueries.sales(spark, sf0001)
    val n = src.count()
    val k = src.filter(col("sale_id").isNotNull).select("sale_id")
      .distinct().count()
    p.run("sales", src, Some(Seq(col("sale_date"), col("customer_id"),
      col("product_id"), col("store_id"), col("quantity"),
      col("unit_price"), col("discount_pct"))))
    val fact = spark.read.parquet(s"$wh/sales_fact")
    assert(fact.count() == k)
    val mm = fact.agg(min(col("sale_date").cast("date")),
      max(col("sale_date").cast("date"))).first()
    val days = mm.getDate(1).toLocalDate.toEpochDay -
      mm.getDate(0).toLocalDate.toEpochDay + 1
    val stages = spark.read.json(s"$logs/etl_stage_log.jsonl")
      .select("stage_name", "status", "rows_in", "rows_out")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(stages == Seq(
      ("EXTRACT", "STARTED", -1L, -1L), ("EXTRACT", "SUCCESS", -1L, n),
      ("TRANSFORM_P1", "STARTED", n, -1L), ("TRANSFORM_P1", "SUCCESS", n, k),
      ("TRANSFORM_P2", "STARTED", k, -1L), ("TRANSFORM_P2", "SUCCESS", k, k),
      ("LOAD_DATE_DIM", "STARTED", -1L, -1L),
      ("LOAD_DATE_DIM", "SUCCESS", -1L, days),
      ("LOAD", "STARTED", k, -1L), ("LOAD", "SUCCESS", k, k)))
  }

  test("a failed T2 gate leaves the published table and no staging dir") {
    val (p, wh, logs) = newPipeline()
    val good = RetailQueries.stores(spark, sf0001)
    p.run("stores", good)
    def published = spark.read.parquet(s"$wh/stores_dim").collect()
      .map(_.toString).sorted.toSeq
    val before = published
    assert(before.nonEmpty)
    val e = intercept[DataQualityException] {
      p.run("stores", good.withColumn("state", lit("NOWHERE")))
    }
    assert(e.getMessage.contains("unmapped states"), e.getMessage)
    val last = spark.read.json(s"$logs/etl_stage_log.jsonl")
      .select("stage_name", "status").as[(String, String)].collect().last
    assert(last == (("TRANSFORM_P2", "FAILED")))
    assert(published == before)
    assert(!new java.io.File(s"$wh/stores_dim_staging").exists())
  }

  test("a full-row duplicate outranks a failing T1 cast: EXTRACT fails, " +
      "the published table stays and no staging dir is left") {
    val (p, wh, logs) = newPipeline()
    val good = RetailQueries.products(spark, sf0001)
    p.run("products", good)
    def published = spark.read.parquet(s"$wh/products_dim").collect()
      .map(_.toString).sorted.toSeq
    val before = published
    // price arrives as text; one kept row's value fails the declared
    // DOUBLE cast under ANSI
    val badCast = good.withColumn("price",
      when(col("product_id") === "7", lit("not-a-price"))
        .otherwise(col("price").cast("string")))
    def stageRows() = spark.read.json(s"$logs/etl_stage_log.jsonl")
      .select("run_id", "stage_name", "status").as[(String, String, String)]
      .collect().toSeq
    // alone, the cast fails T1
    intercept[Exception] { p.run("products", badCast) }
    assert(stageRows().last._2 == "TRANSFORM_P1" &&
      stageRows().last._3 == "FAILED", stageRows().last)
    // with a full-row duplicate too, EXTRACT's dup gate raises first
    val e = intercept[DataQualityException] {
      p.run("products", badCast.unionByName(badCast.limit(1)))
    }
    assert(e.getMessage.contains("duplicate full rows"), e.getMessage)
    val run = stageRows().last._1
    assert(stageRows().filter(_._1 == run).map(r => (r._2, r._3)) ==
      Seq(("EXTRACT", "STARTED"), ("EXTRACT", "FAILED")))
    assert(published == before)
    assert(!new java.io.File(s"$wh/products_dim_staging").exists())
  }

  test("full refresh is idempotent: re-running replaces, not appends") {
    val (p, wh, _) = newPipeline()
    p.run("products", RetailQueries.products(spark, sf0001))
    val n1 = spark.read.parquet(s"$wh/products_dim").count()
    p.run("products", RetailQueries.products(spark, sf0001))
    val n2 = spark.read.parquet(s"$wh/products_dim").count()
    assert(n1 == n2)
  }
}
