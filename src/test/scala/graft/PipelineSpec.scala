package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.Cleaning
import graft.etl.Pipeline
import graft.schema.Schemas
import graft.sources.{Tables, Writers}

/** End-to-end runs of the reference workflow: over a small hand-made CSV
  * set the spec writes itself, and over the reference's own shipped CSVs
  * (skipped where they are absent; row counts follow BASELINE.md's counted
  * values). */
class PipelineSpec extends AnyFunSuite with SparkSpec with TempDirs {
  import spark.implicits._

  private val csvDir = "/root/reference/ecommerce_data"

  test("full reference ETL over the shipped CSVs") {
    assume(new java.io.File(s"$csvDir/orders.csv").exists())
    val wh = tempDir("graft-wh").toString
    val counts = Pipeline.run(spark, Pipeline.Config(csvDir, wh))

    assert(counts("product_categories") == 500)
    assert(counts("products") == 1000)
    assert(counts("customers") == 5000)
    assert(counts("orders") == 1000)
    assert(counts("orders_quarantine") == 0) // shipped data has only valid statuses
    assert(counts("order_items") == 1872)
    assert(counts("dim_time") == 1826) // 2021-01-01..2025-12-31

    // order_items total recomputed: invariant total = price*qty - discount
    val items = spark.read.parquet(s"$wh/order_items")
    val bad = items.filter(
      abs(col("total").cast("double") -
        (col("price").cast("double") * col("quantity") - col("discount").cast("double"))) > 0.005)
    assert(bad.count() == 0)

    // LTV invariant: customers.lifetime_value == their orders' total
    val orders = spark.read.parquet(s"$wh/orders")
    val expect = orders.groupBy($"customer_id")
      .agg(sum($"total_amount".cast("double")).as("exp"))
    val joined = spark.read.parquet(s"$wh/customers")
      .join(expect, Seq("customer_id"))
      .filter(abs($"lifetime_value" - $"exp") > 0.01)
    assert(joined.count() == 0)

    // daily agg revenue reconciles with recomputed item totals
    val daily = spark.read.parquet(s"$wh/daily_sales_aggregation")
    val totalDaily = daily.agg(sum($"revenue")).head.getDouble(0)
    val totalItems = items.agg(sum($"total".cast("double"))).head.getDouble(0)
    assert(math.abs(totalDaily - totalItems) < 0.01)

    // idempotency: re-running the whole pipeline must not change any count
    val counts2 = Pipeline.run(spark, Pipeline.Config(csvDir, wh))
    assert(counts2 == counts)
  }

  // -------------------------------------------- hand-made CSV fixture ----

  private val catHeader = "category_id,name,description,parent_id,created_at"
  private val prodHeader =
    "product_id,name,description,price,cost,category_id,sku,inventory_count,weight,created_at,is_active"
  private val custHeader = "customer_id,email,first_name,last_name,street_address,city,state," +
    "zip_code,country,phone,registration_date,last_login"
  private val orderHeader = "order_id,customer_id,order_date,status,payment_method,shipping_address," +
    "shipping_city,shipping_state,shipping_zip,shipping_country,processing_date,shipping_date," +
    "delivery_date,total_amount"
  private val itemHeader = "order_item_id,order_id,product_id,quantity,price,discount,total"

  private def customer(id: String, name: String) =
    s"$id,$name@example.com,$name,Lee,1 Main St,Springfield,CA,90001,US,555-1000," +
      "2022-06-01 00:00:00,2022-12-01 00:00:00"
  private def order(id: Int, cust: Int, at: String, status: String, total: String) =
    s"$id,$cust,$at,$status,PayPal,2 Oak Ave,Springfield,CA,90001,US,,,,$total"

  // Base: customer 3 never orders (LTV 0); the customer with no id is
  // dropped; order 101 is Cancelled; order 102's status is outside the
  // enum domain (quarantined); item 1000's CSV total is wrong on purpose
  // and must be recomputed to 2 * 100.00 - 0.
  private val base = Map(
    "product_categories" -> Seq(catHeader,
      "1,Electronics,top,,2022-01-01 00:00:00",
      "2,Phones,child,1,2022-01-01 00:00:00"),
    "products" -> Seq(prodHeader,
      "10,Phone X,d,100.00,60.00,2,SKU-10,5,0.50,2022-01-01 00:00:00,true",
      "11,Cable,d,5.50,2.00,1,SKU-11,100,0.10,2022-01-01 00:00:00,true"),
    "customers" -> Seq(custHeader,
      customer("1", "ann"), customer("2", "bob"), customer("3", "cat"), customer("", "ghost")),
    "orders" -> Seq(orderHeader,
      order(100, 1, "2023-01-01 10:00:00", "Delivered", "205.50"),
      order(101, 2, "2023-01-02 11:00:00", "Cancelled", "100.00"),
      order(102, 2, "2023-01-02 12:00:00", "Lost", "7.00"),
      order(103, 1, "2023-01-02 13:00:00", "Shipped", "10.00")),
    "order_items" -> Seq(itemHeader,
      "1000,100,10,2,100.00,0.00,999.99",
      "1001,100,11,1,5.50,0.00,5.50",
      "1002,101,10,1,100.00,0.00,100.00",
      "1003,103,11,2,5.50,1.00,10.00"))

  // One new day: customer 4 signs up and orders; customer 1 returns.
  private val newDay = Map(
    "customers" -> Seq(customer("4", "dan")),
    "orders" -> Seq(
      order(104, 1, "2023-01-03 09:00:00", "Pending", "5.50"),
      order(105, 4, "2023-01-03 10:00:00", "Delivered", "200.00")),
    "order_items" -> Seq(
      "1004,104,11,1,5.50,0.00,5.50",
      "1005,105,10,2,100.00,0.00,200.00"))

  private def writeCsvs(tables: Map[String, Seq[String]]): String = {
    val dir = tempDir("graft-csv")
    tables.foreach { case (name, lines) =>
      Files.write(dir.resolve(s"$name.csv"), lines.asJava)
    }
    dir.toString
  }

  private def cfg(csvDir: String, wh: Path) =
    Pipeline.Config(csvDir, wh.toString, dimStart = "2023-01-01", dimEnd = "2023-01-31")

  test("load, replay and incremental over a hand-made CSV set") {
    val wh = tempDir("graft-wh")
    val baseDir = writeCsvs(base)
    val incrDir = writeCsvs(base.map { case (t, lines) => t -> (lines ++ newDay.getOrElse(t, Nil)) })

    val loaded = Pipeline.run(spark, cfg(baseDir, wh))
    assert(loaded == Map(
      "dim_time" -> 31L, "product_categories" -> 2L, "products" -> 2L,
      "orders" -> 3L, "orders_quarantine" -> 1L, "customers" -> 3L, "order_items" -> 4L,
      // (day, product): (01-01, 10), (01-01, 11), (01-02, 10), (01-02, 11)
      "daily_sales_aggregation" -> 4L,
      "product_sales_summary" -> 2L,
      // the Cancelled order is left out, so only customer 1 has a row
      "customer_purchase_summary" -> 1L))

    def ltv(id: Int) = spark.read.parquet(s"$wh/customers")
      .filter($"customer_id" === id).select($"lifetime_value").as[Double].collect().toSeq
    assert(ltv(1) == Seq(215.5)) // 205.50 + 10.00
    assert(ltv(2) == Seq(100.0)) // the Cancelled order counts, the quarantined one does not
    assert(ltv(3) == Seq(0.0))
    val unitsOfPhone = spark.read.parquet(s"$wh/product_sales_summary")
      .filter($"product_id" === 10).select($"total_units_sold").as[Long].collect().toSeq
    assert(unitsOfPhone == Seq(2L)) // not 3: order 101 is Cancelled

    val replayed = Pipeline.run(spark, cfg(baseDir, wh))
    assert(replayed == loaded)

    val incremental = Pipeline.run(spark, cfg(incrDir, wh))
    assert(incremental == loaded ++ Map(
      "orders" -> 5L, "customers" -> 4L, "order_items" -> 6L,
      "daily_sales_aggregation" -> 6L, "customer_purchase_summary" -> 2L))
    // first-writer-wins: the returning customer keeps the first run's LTV,
    // while the recomputed summary sees the new order
    assert(ltv(1) == Seq(215.5))
    assert(ltv(4) == Seq(200.0))
    val summaryLtv = spark.read.parquet(s"$wh/customer_purchase_summary")
      .filter($"customer_id" === 1).select($"lifetime_value").as[Double].collect().toSeq
    assert(summaryLtv == Seq(221.0))

    val items = spark.read.parquet(s"$wh/order_items")
    val bad = items.filter(
      col("total") =!= col("price") * col("quantity") - col("discount"))
    assert(bad.count() == 0)
    assert(items.filter($"order_item_id" === 1000).select($"total".cast("double")).as[Double]
      .collect().toSeq == Seq(200.0))
    val totalItems = items.agg(sum($"total".cast("double"))).head.getDouble(0)
    val totalDaily = spark.read.parquet(s"$wh/daily_sales_aggregation")
      .agg(sum($"revenue")).head.getDouble(0)
    assert(totalItems == 521.0)
    assert(math.abs(totalDaily - totalItems) < 0.005)
  }

  /** The CSV scan nodes of every execution a listener sees, those under a
    * cached relation included, each node once; with the rows each
    * produced, a CSV parsed twice shows as two nodes or twice its rows. */
  private class CsvScans extends QueryExecutionListener {
    private val seen = mutable.ArrayBuffer[FileSourceScanExec]()
    private def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
        if (!seen.exists(_ eq f)) seen += f
      case o => (o.children ++ o.subqueries).foreach(walk)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized(walk(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    /** file name -> (scan nodes, rows they produced) */
    def byFile: Map[String, (Int, Long)] = synchronized {
      seen.toSeq.groupBy(_.relation.location.rootPaths.head.getName).map { case (f, ns) =>
        f -> (ns.size, ns.map(_.metrics("numOutputRows").value).sum)
      }
    }
  }

  /** One `Pipeline.run` call of [[threeCalls]]: its CSV tables, what it
    * returned and the CSV scans it ran. */
  private final case class Call(
      name: String, csvDir: String, tables: Map[String, Seq[String]], wh: Path,
      counts: Map[String, Long], scans: Map[String, (Int, Long)])

  /** Runs load, replay and incremental on one warehouse, handing each call
    * to `check` as soon as it returns. */
  private def threeCalls(check: Call => Unit): Unit = {
    val sc = spark.sparkContext
    val wh = tempDir("graft-wh")
    val incr = base.map { case (t, lines) => t -> (lines ++ newDay.getOrElse(t, Nil)) }
    Seq(("load", base), ("replay", base), ("incremental", incr)).foreach { case (name, tables) =>
      val dir = writeCsvs(tables)
      val scans = new CsvScans
      ListenerBusDrain(sc)
      spark.listenerManager.register(scans)
      val counts =
        try Pipeline.run(spark, cfg(dir, wh))
        finally { ListenerBusDrain(sc); spark.listenerManager.unregister(scans) }
      check(Call(name, dir, tables, wh, counts, scans.byFile))
    }
  }

  test("each call releases what it persists") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    threeCalls(c => assert(sc.getPersistentRDDs.keySet == before, c.name))
  }

  test("every returned count equals a fresh read of its table, and each CSV is parsed once per call") {
    threeCalls { c =>
      // the read-back definition of a table's count
      c.counts.removed("orders_quarantine").foreach { case (t, n) =>
        assert(spark.read.parquet(c.wh.resolve(t).toString).count() == n, s"${c.name} $t")
      }
      val (_, rejected) = Cleaning.validateDomain(
        Cleaning.dropNullRows(Tables.csv(spark, s"${c.csvDir}/orders.csv", Schemas.orders),
          Seq("order_id", "customer_id", "order_date")),
        "status", Schemas.orderStatusDomain)
      assert(c.counts("orders_quarantine") == rejected.count(), c.name)
      // one scan node per CSV, producing each of its data lines once
      assert(c.scans == c.tables.map { case (t, lines) => s"$t.csv" -> (1, lines.size - 1L) }, c.name)
    }
  }

  test("a failing sink's own exception reaches the caller after every sink has stopped") {
    val sc = spark.sparkContext
    val wh = tempDir("graft-wh")
    val blocker = wh.resolve("product_categories")
    Files.write(blocker, Seq("not parquet").asJava)
    val csvDir = writeCsvs(base)
    val groupOf = mutable.Map[Int, String]()
    val endedAt = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf.synchronized {
        groupOf(e.jobId) = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = groupOf.synchronized {
        endedAt(e.jobId) = e.time
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("failing-run", "a run whose product_categories sink fails")
    val thrown =
      try intercept[Exception](Pipeline.run(spark, cfg(csvDir, wh)))
      finally sc.clearJobGroup()
    val caughtAt = System.currentTimeMillis()
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(!thrown.isInstanceOf[ExecutionException])
    val direct = intercept[Exception](
      Writers.idempotentAppend(spark, Seq(1).toDF("category_id"), blocker.toString, Seq("category_id")))
    assert(thrown.getClass == direct.getClass, thrown)

    // every job of the run had ended when the exception reached the caller
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    val runJobs = groupOf.synchronized(groupOf.collect { case (id, "failing-run") => id }.toSeq)
    assert(runJobs.nonEmpty)
    val late = runJobs.filterNot(id => endedAt.get(id).exists(_ <= caughtAt))
    assert(late.isEmpty, s"jobs still running after run threw: $late")
    // the sinks after the failing one ran to completion
    assert(Files.isDirectory(wh.resolve("customer_purchase_summary")))
    assert(Files.isRegularFile(blocker))
  }

  test("every job of a run carries the caller's job group and description") {
    val sc = spark.sparkContext
    val wh = tempDir("graft-wh")
    val csvDir = writeCsvs(base)
    val props = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = props.add(e.properties)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("pipeline-spec", "pipeline local properties")
    try Pipeline.run(spark, cfg(csvDir, wh))
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = props.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.map(p => Option(p).map(_.getProperty("spark.jobGroup.id"))).distinct
      == Seq(Some("pipeline-spec")))
    assert(seen.map(p => Option(p).map(_.getProperty("spark.job.description"))).distinct
      == Seq(Some("pipeline local properties")))
  }

  test("JDBC load path: batched write, idempotent replay, first-writer-wins") {
    import graft.sources.JdbcDemo
    val url = JdbcDemo.derbyUrl(s"graft_jdbc_test_${System.nanoTime()}")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    JdbcDemo.fullLoad(df, url, "t1")
    // exact duplicate replay inserts nothing
    JdbcDemo.idempotentAppend(spark, df, url, "t1", Seq("k"))
    assert(JdbcDemo.readTable(spark, url, "t1").count() == 3)
    // mixed batch: only the genuinely new key lands; key 3 keeps its
    // original value (ON CONFLICT DO NOTHING, not upsert)
    val extra = Seq((3L, "dup"), (4L, "d")).toDF("k", "v")
    JdbcDemo.idempotentAppend(spark, extra, url, "t1", Seq("k"))
    val back = JdbcDemo.readTable(spark, url, "t1")
    assert(back.count() == 4)
    assert(back.filter($"k" === 3).head.getString(1) == "c")
  }
}
