package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructType}

import graft.Session
import graft.clean.Cleaning
import graft.functions.dec2
import graft.schema.Schemas
import graft.sources.{Tables, Writers}
import graft.transform.DimTime

/** The reference's full ETL workflow (reference `workflow.py:229-295`,
  * `etl.py:67-109`) as one Spark job DAG over its e-commerce CSV schema:
  *
  *   dim_time → extract 5 CSVs (explicit schemas) → clean → business
  *   transforms (revenue recompute, LTV enrichment) → idempotent PK loads →
  *   daily sales aggregation (date-partitioned, incrementally
  *   overwritable) → summary "matviews".
  *
  * Flyte task boundaries become Spark stage boundaries; FK-ordered inserts
  * (`workflow.py:261-292`) become plain dataflow dependencies — parquet has
  * no FK enforcement, so only the data dependencies (orders before LTV)
  * survive, which is exactly what a lake pipeline wants.
  *
  * Each piece of work is planned and run once per call:
  *  - **One parse per CSV.** `run` parses and cleans each of the five
  *    CSVs once: it persists the five frames and materializes them
  *    concurrently (one job each) before any sink starts. Every sink reads
  *    those frames, and they are unpersisted when `run` returns or throws.
  *  - **Counts from the writes.** Each returned count is fused into the
  *    work that produces it (`Dataset.observe` on the frame being written,
  *    see [[graft.sources.Writers]]): a PK load returns the rows it found
  *    plus the rows it appended, `dim_time` and the two summaries return
  *    the rows they wrote, and `orders_quarantine` is counted while the
  *    orders are materialized. Only `daily_sales_aggregation` is read
  *    back: a dynamic partition overwrite leaves the days it does not
  *    rewrite in place, so the table can hold more rows than the write.
  *    The read-back uses the frame's known schema, so no schema-inference
  *    job runs.
  *  - **Longest sinks first.** The nine sinks run concurrently, as Flyte
  *    runs independent tasks, and are submitted longest first (daily
  *    aggregation, the two summaries, customers with their LTV join, then
  *    the plain loads), so the pool does not end on a long sink that
  *    started last.
  *
  * Running the sinks concurrently is safe because no sink reads another
  * sink's output path; every sink reads only its own table and the frames
  * derived from the CSVs. A future sink that reads a path another sink
  * writes must be ordered after that sink explicitly.
  */
object Pipeline {

  final case class Config(
      csvDir: String,
      warehouseDir: String,
      dimStart: String = "2021-01-01",
      dimEnd: String = "2025-12-31")

  /** Runs the full pipeline; returns loaded row counts per table. */
  def run(spark: SparkSession, cfg: Config): Map[String, Long] = {
    def path(name: String) = s"${cfg.warehouseDir}/$name"
    def load(name: String, df: DataFrame, pk: Seq[String]) =
      name -> Writers.idempotentAppend(spark, df, path(name), pk)

    // -- extract + clean (chunked pandas reads collapse into partitioned scans)
    def csv(name: String, schema: StructType) =
      Tables.csv(spark, s"${cfg.csvDir}/$name.csv", schema)

    // categories: dropna on NOT NULL cols, nullable parent_id cast; the
    // ordered 2-phase parent/child load becomes a single write (no FKs in
    // parquet)
    val categories = Cleaning
      .dropNullRows(csv("product_categories", Schemas.productCategories), Seq("category_id", "name"))
      .withColumn("parent_id", Cleaning.nullableCast(col("parent_id"), IntegerType))
    val products = Cleaning.dropNullRows(
      csv("products", Schemas.products), Seq("product_id", "name", "price"))
    val rawOrders = Cleaning.dropNullRows(
      csv("orders", Schemas.orders), Seq("order_id", "customer_id", "order_date"))
    // customers: dropna on identity cols (NOT the derived lifetime_value —
    // reference `workflow.py:134`)
    val customersRaw = Cleaning.dropNullRows(
      csv("customers", Schemas.customers), Seq("customer_id", "email"))
    // order_items: recompute total = price*quantity - discount, overriding
    // whatever the CSV carried (reference `workflow.py:122-126`)
    val items = csv("order_items", Schemas.orderItems)
      .withColumn("total",
        (dec2(col("price")) * col("quantity") - dec2(col("discount")))
          .cast(Schemas.orderItems("total").dataType))

    // the five parsed frames, materialized concurrently before any sink
    // starts (a `noop` write runs a plan once, and writes nothing); the
    // orders materialization also counts the rows that fail the
    // enum-domain check (`Cleaning.validateDomain` splits on the same flag)
    val parsed = Seq(categories, products, rawOrders, customersRaw, items).map(_.persist())
    val quarantined = Observation()
    try {
      val ordersCounted = rawOrders.observe(quarantined,
        count_if(!Cleaning.domainFlag(col("status"), Schemas.orderStatusDomain)).as("n"))
      Session.runAll(spark, Seq(categories, products, ordersCounted, customersRaw, items)
        .map(df => () => df.write.format("noop").mode(SaveMode.Append).save()))
      val (orders, _) = Cleaning.validateDomain(rawOrders, "status", Schemas.orderStatusDomain)
      // LTV enrichment (J1+A1)
      val ltv = orders
        .groupBy(col("customer_id"))
        .agg(sum(dec2(col("total_amount"))).cast(DoubleType).as("lifetime_value"))
      val customers = customersRaw
        .join(ltv, Seq("customer_id"), "left")
        .na.fill(0.0, Seq("lifetime_value"))

      // -- the sinks, longest first: each writes its own path and counts it
      val sinks: Seq[() => Seq[(String, Long)]] = Seq(
        // -- daily sales aggregation (A2+J2+J3, reference `workflow.py:152-184`),
        //    date-partitioned so one day's slice can be recomputed in place
        //    (the plpgsql incremental path, `database-schema.sql:202-231`)
        () => {
          val daily = dailySalesAggregation(items, orders, products)
          val at = path("daily_sales_aggregation")
          Writers.overwritePartitions(daily, at, Seq("date"))
          Seq("daily_sales_aggregation" -> spark.read.schema(daily.schema).parquet(at).count())
        },
        // -- summary "matviews" (S7 refresh = recompute + overwrite)
        () => Seq("product_sales_summary" -> Writers.overwrite(
          productSalesSummary(items, orders, products, categories), path("product_sales_summary"))),
        () => Seq("customer_purchase_summary" -> Writers.overwrite(
          customerPurchaseSummary(customers, orders), path("customer_purchase_summary"))),
        () => Seq(load("customers", customers, Seq("customer_id"))),
        () => Seq(load("orders", orders, Seq("order_id")),
          "orders_quarantine" -> quarantined.get("n").asInstanceOf[Long]),
        () => Seq(load("order_items", items, Seq("order_item_id"))),
        () => Seq(load("products", products, Seq("product_id"))),
        () => Seq(load("product_categories", categories, Seq("category_id"))),
        // -- dim_time: truncate-then-load (reference `workflow.py:47-106`)
        () => Seq("dim_time" -> Writers.overwrite(DimTime(spark, cfg.dimStart, cfg.dimEnd), path("dim_time"))))
      Session.runAll(spark, sinks).flatten.toMap
    } finally parsed.foreach(_.unpersist())
  }

  /** reference `workflow.py:152-184` on the e-commerce schema. */
  def dailySalesAggregation(items: DataFrame, orders: DataFrame, products: DataFrame): DataFrame =
    items
      .join(orders.select(col("order_id"), col("order_date")), Seq("order_id"), "left")
      .join(broadcast(products.select(col("product_id"), col("category_id"))),
        Seq("product_id"), "left")
      .groupBy(
        date_trunc("day", col("order_date")).as("date"),
        col("product_id"), col("category_id"))
      .agg(
        sum(col("quantity")).as("units_sold"),
        sum(dec2(col("total"))).cast(DoubleType).as("revenue"),
        countDistinct(col("order_id")).as("order_count"))
      .withColumn("avg_unit_price",
        coalesce(col("revenue") / nullif(col("units_sold").cast(DoubleType), lit(0.0)), lit(0.0)))

  /** reference matview `database-schema.sql:157-179`. */
  def productSalesSummary(
      items: DataFrame, orders: DataFrame,
      products: DataFrame, categories: DataFrame): DataFrame =
    items
      .join(orders.filter(!col("status").isInCollection(Seq("Cancelled", "Returned"))),
        Seq("order_id"))
      .join(broadcast(products.select(col("product_id"), col("name").as("product_name"), col("category_id"))),
        Seq("product_id"))
      .join(broadcast(categories.select(col("category_id"), col("name").as("category_name"))),
        Seq("category_id"), "left")
      .groupBy(col("product_id"), col("product_name"), col("category_name"))
      .agg(
        sum(col("quantity")).as("total_units_sold"),
        sum(dec2(col("total"))).cast(DoubleType).as("total_revenue"),
        countDistinct(col("order_id")).as("order_count"),
        countDistinct(col("customer_id")).as("customer_count"),
        max(col("order_date")).as("last_order_date"))

  /** reference view `database-schema.sql:182-199`. */
  def customerPurchaseSummary(customers: DataFrame, orders: DataFrame): DataFrame =
    customers
      .join(orders.filter(!col("status").isInCollection(Seq("Cancelled", "Returned"))),
        Seq("customer_id"))
      .groupBy(col("customer_id"), col("email"), col("first_name"), col("last_name"))
      .agg(
        countDistinct(col("order_id")).as("order_count"),
        sum(dec2(col("total_amount"))).cast(DoubleType).as("lifetime_value"),
        min(col("order_date")).as("first_order_date"),
        max(col("order_date")).as("last_order_date"))
      .withColumn("avg_days_between_orders",
        datediff(to_date(col("last_order_date")), to_date(col("first_order_date")))
          .cast(DoubleType) / col("order_count").cast(DoubleType))
}
