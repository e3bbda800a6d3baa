package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC load path — the literal-fidelity analog of the reference's
  * PostgreSQL sink (`etl.py:44-63`, `workflow.py:189-205`: batched
  * `execute_values` inserts with `ON CONFLICT DO NOTHING`), demonstrated
  * against embedded Derby (the only RDBMS in this container; the code is
  * driver-agnostic `df.write.jdbc`).
  *
  * Mechanics mirrored:
  *  - batched inserts: `batchsize` maps to the reference's
  *    `execute_values(..., page_size=1000)`;
  *  - idempotent conflict-skip load: Spark's JDBC writer has no ON CONFLICT
  *    clause, so S5 semantics are an anti-join of the incoming batch
  *    against the live table's keys before the append — the same
  *    first-writer-wins outcome, expressed lake-side (see
  *    [[Writers.idempotentAppend]] for the parquet twin);
  *  - `truncate` on overwrite: reuse the existing table (the reference's
  *    TRUNCATE-then-load, `workflow.py:86-97`) instead of drop+create.
  *
  * At scale the JDBC sink is the LOW-volume edge of the pipeline (serving
  * tables, dimensions): each partition opens one connection and streams
  * batched inserts, so write parallelism = partition count, bounded by the
  * receiving database — the 100 TB fact path stays on the columnar lake.
  */
object JdbcDemo {

  private[graft] def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Every database directory [[derbyUrl]] named in this JVM; one shutdown
    * hook deletes them all, as [[Staging]] does for its dirs. */
  private val databases = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      databases.forEach(d => Staging.rmTree(d))))
  }

  /** Embedded single-JVM database under the JVM temp dir (tmpfs when the
    * harness set one up); `create=true` makes first contact idempotent.
    * The database directory is deleted when the JVM exits. */
  def derbyUrl(name: String): String = {
    val tmp = System.getProperty("java.io.tmpdir")
    // keep Derby's log out of the repo working dir
    System.setProperty("derby.system.home", tmp)
    databases.add(new java.io.File(tmp, name))
    s"jdbc:derby:$tmp/$name;create=true"
  }

  /** Full load with batched inserts (S6 truncate-then-load analog). */
  def fullLoad(df: DataFrame, url: String, table: String, batchSize: Int = 1000): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("batchsize", batchSize)
      .option("truncate", "true")
      .jdbc(url, table, props)

  /** Idempotent PK append (S5, ON CONFLICT DO NOTHING analog): dedup the
    * batch on the PK, anti-join against the live table's keys, append the
    * remainder. Re-running with the same batch inserts nothing. */
  def idempotentAppend(
      spark: SparkSession, df: DataFrame, url: String, table: String,
      pk: Seq[String], batchSize: Int = 1000): Unit = {
    val existing = spark.read.jdbc(url, table, props).select(pk.map(col): _*)
    df.dropDuplicates(pk)
      .join(existing, pk, "left_anti")
      .write.mode(SaveMode.Append).option("batchsize", batchSize).jdbc(url, table, props)
  }

  def readTable(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, props)
}
