package graft.schema

import org.apache.spark.sql.types._

/** Explicit schemas.
  *
  * Two universes:
  *  1. the reference's e-commerce CSV tables (reference
  *     `database-schema.sql:17-149`, CSVs under `ecommerce_data/`) — declared
  *     here so CSV reads are deterministic (`inferSchema` is banned; the
  *     reference's pandas inference, `etl.py:18`, is an artifact);
  *  2. the driver's TPC-H-ish parquet testdata (`/root/testdata/sf*`), whose
  *     schemas are self-describing but are declared for streaming reads
  *     (`readStream` requires a schema) and for documentation.
  */
object Schemas {

  // ------------------------------------------------- reference CSV tables ----

  /** reference `database-schema.sql:33-40` (+ parent_id kept: it exists in the
    * CSV and drives the 2-phase hierarchy load, `etl.py:39-58`). */
  val productCategories: StructType = StructType(Seq(
    StructField("category_id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("parent_id", IntegerType, nullable = true),
    StructField("created_at", TimestampType)))

  /** reference `database-schema.sql:46-59`. */
  val products: StructType = StructType(Seq(
    StructField("product_id", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("price", DecimalType(10, 2)),
    StructField("cost", DecimalType(10, 2)),
    StructField("category_id", IntegerType),
    StructField("sku", StringType),
    StructField("inventory_count", IntegerType),
    StructField("weight", DecimalType(8, 2)),
    StructField("created_at", TimestampType),
    StructField("is_active", BooleanType)))

  /** reference `database-schema.sql:67-83`; `lifetime_value` is derived
    * in-flight (`workflow.py:128-134`), not a CSV column. */
  val customers: StructType = StructType(Seq(
    StructField("customer_id", IntegerType, nullable = false),
    StructField("email", StringType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("street_address", StringType),
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("zip_code", StringType),
    StructField("country", StringType),
    StructField("phone", StringType),
    StructField("registration_date", TimestampType),
    StructField("last_login", TimestampType)))

  /** reference `database-schema.sql:91-109`; status/payment_method are
    * Postgres enums (`:8-14`) → StringType + domain validation in
    * [[graft.clean.Cleaning]]. */
  val orders: StructType = StructType(Seq(
    StructField("order_id", IntegerType, nullable = false),
    StructField("customer_id", IntegerType),
    StructField("order_date", TimestampType),
    StructField("status", StringType),
    StructField("payment_method", StringType),
    StructField("shipping_address", StringType),
    StructField("shipping_city", StringType),
    StructField("shipping_state", StringType),
    StructField("shipping_zip", StringType),
    StructField("shipping_country", StringType),
    StructField("processing_date", TimestampType, nullable = true),
    StructField("shipping_date", TimestampType, nullable = true),
    StructField("delivery_date", TimestampType, nullable = true),
    StructField("total_amount", DecimalType(12, 2))))

  val orderStatusDomain: Seq[String] =
    Seq("Pending", "Processing", "Shipped", "In Transit", "Delivered", "Cancelled", "Returned")

  /** reference `database-schema.sql:124-133`. */
  val orderItems: StructType = StructType(Seq(
    StructField("order_item_id", IntegerType, nullable = false),
    StructField("order_id", IntegerType),
    StructField("product_id", IntegerType),
    StructField("quantity", IntegerType),
    StructField("price", DecimalType(10, 2)),
    StructField("discount", DecimalType(10, 2)),
    StructField("total", DecimalType(10, 2))))

  // ---------------------------------------------------- driver testdata ----

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}
