package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.registry.RetailQueries._

/** End-to-end pipeline queries: each runs the full orchestrated
  * pipeline (extract gates -> clean -> model -> load -> post-load
  * validation, with run/stage logging) into a temp warehouse, reads the
  * loaded table back and returns it. The oracle replays the same
  * transform in SQL — on the clean corpus T1 is the identity modulo
  * declared casts, so the oracle is the modeling algebra over the
  * mapped source.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** All pipeline runs write under ONE session-keyed scratch root
    * (reclaimed at JVM exit) so a caller that runs many pipelines in
    * one session — the bench's interleaved reps being the motivating
    * case — can reclaim the accumulated warehouses between reps via
    * [[clearScratch]] instead of letting a dozen temp warehouses churn
    * the page cache until exit. */
  private def scratchRoot(s: SparkSession): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_pipe_${s.sparkContext.applicationId}")
    java.nio.file.Files.createDirectories(root)
    graft.ext.Scratch.reclaimOnExit(root.toString)
    root
  }

  /** Delete every finished pipeline run's scratch warehouse/logs for
    * this session. Only safe once the frames returned by the pipeline
    * queries have been consumed (they lazily read the scratch
    * warehouse). Deleting un-synced scratch also CANCELS its pending
    * writeback, so the reclaim relieves dirty-page pressure instead of
    * adding to it. */
  def clearScratch(s: SparkSession): Unit =
    org.apache.commons.io.FileUtils.cleanDirectory(scratchRoot(s).toFile)

  // sale_id is not unique in the lineitem mapping, so keep-first needs
  // a total order the oracle can replay; ties are impossible (the D1
  // gate proved full rows unique).
  private def dedupOrderFor(table: String) =
    if (table == "sales") Some(Seq(
      col("sale_date"), col("customer_id"), col("product_id"),
      col("store_id"), col("quantity"), col("unit_price"),
      col("discount_pct"))) else None

  /** Runs `table`'s pipeline from the corpus at `dir` into warehouse
    * `wh` with run/stage logs under `logs`, returning the published
    * table (read with its written schema): the one table -> source
    * selection (and sales keep-first order) shared by the registered
    * pipeline queries and the [[graft.Run]] CLI. */
  private[graft] def runTable(s: SparkSession, dir: String, table: String,
                              wh: String, logs: String): DataFrame = {
    val p = new Pipeline(s, wh, logs, AsOf,
      metros = MetroNations, regionMap = NationRegionMap)
    val source = table match {
      case "sales" => sales(s, dir)
      case "customers" => customers(s, dir)
      case "products" => products(s, dir)
      case "stores" => stores(s, dir)
    }
    p.run(table, source, dedupOrderFor(table))
  }

  private def runPipeline(s: SparkSession, dir: String,
                          table: String): DataFrame = {
    val base = java.nio.file.Files
      .createTempDirectory(scratchRoot(s), "run")
    runTable(s, dir, table, base.resolve("wh").toString,
      base.resolve("logs").toString)
  }

  val queries: Map[String, Q] = Map(
    "pipeline_sales_e2e" -> ((s, dir) =>
      runPipeline(s, dir, "sales").select(
        col("sale_id"),
        date_format(col("sale_date"), "yyyy-MM-dd HH:mm:ss").as("sale_ts_iso"),
        col("customer_id"), col("product_id"), col("store_id"),
        col("quantity"), col("unit_price"), col("discount_pct"),
        col("gross_amount"), col("discount_amount"), col("net_amount"),
        col("is_discounted"), col("order_year"), col("order_month"))),
    "pipeline_customers_e2e" -> ((s, dir) =>
      runPipeline(s, dir, "customers").select(
        col("customer_id"), col("first_name"), col("last_name"),
        col("email"), col("city"),
        date_format(col("signup_date"), "yyyy-MM-dd").as("signup_date_iso"),
        col("customer_full_name"), col("customer_tenure_days"),
        col("customer_tenure_bucket"), col("email_domain"))),
    "pipeline_products_e2e" -> ((s, dir) =>
      runPipeline(s, dir, "products").select(
        col("product_id"), col("product_name"), col("category"),
        col("price"), col("price_band"), col("is_premium_product"),
        col("category_normalized"))),
    "pipeline_stores_e2e" -> ((s, dir) =>
      runPipeline(s, dir, "stores").select(
        col("store_id"), col("store_name"), col("city"), col("state"),
        col("is_metro_store"), col("store_region")))
  )

  val oracleSql: Map[String, String] = Map(
    "pipeline_sales_e2e" -> s"""$SalesCte,
      sales_dedup AS (
        SELECT * FROM sales
        QUALIFY row_number() OVER (PARTITION BY sale_id
          ORDER BY sale_date, customer_id, product_id, store_id,
                   quantity, unit_price, discount_pct) = 1)
      SELECT sale_id,
             strftime(sale_date, '%Y-%m-%d %H:%M:%S') AS sale_ts_iso,
             customer_id, product_id, store_id,
             quantity, unit_price, discount_pct,
             quantity * unit_price AS gross_amount,
             (quantity * unit_price) * (discount_pct / 100) AS discount_amount,
             (quantity * unit_price)
               - ((quantity * unit_price) * (discount_pct / 100)) AS net_amount,
             discount_pct > 0 AS is_discounted,
             CAST(year(sale_date) AS BIGINT) AS order_year,
             strftime(sale_date, '%Y-%m') AS order_month
      FROM sales_dedup""",
    "pipeline_customers_e2e" -> s"""$CustomersCte
      SELECT customer_id, first_name, last_name, email, city,
             strftime(signup_date, '%Y-%m-%d') AS signup_date_iso,
             trim(coalesce(first_name, '') || ' ' || coalesce(last_name, ''))
               AS customer_full_name,
             CAST(FLOOR((epoch($AsOfSql) - epoch(signup_date)) / 86400)
               AS BIGINT) AS customer_tenure_days,
             CASE WHEN FLOOR((epoch($AsOfSql) - epoch(signup_date)) / 86400) <= 90
                    THEN 'NEW'
                  WHEN FLOOR((epoch($AsOfSql) - epoch(signup_date)) / 86400) <= 365
                    THEN 'REGULAR'
                  ELSE 'LOYAL' END AS customer_tenure_bucket,
             str_split(email, '@')[2] AS email_domain
      FROM customers""",
    "pipeline_products_e2e" -> s"""$ProductsCte
      SELECT product_id, product_name, category, price,
             CASE WHEN price <= 500 THEN 'LOW'
                  WHEN price <= 2000 THEN 'MEDIUM'
                  ELSE 'HIGH' END AS price_band,
             price > 2000 AS is_premium_product,
             upper(category) AS category_normalized
      FROM products""",
    "pipeline_stores_e2e" -> s"""$StoresCte
      SELECT store_id, store_name, upper(city) AS city,
             upper(state) AS state,
             upper(city) IN ('NATION_1', 'NATION_5', 'NATION_7', 'NATION_19')
               AS is_metro_store,
             r_name AS store_region
      FROM stores
      JOIN nation ON state = n_name
      JOIN region ON n_regionkey = r_regionkey"""
  )
}
