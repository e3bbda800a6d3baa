package graft.tools

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session

/** The synthetic 10× corpora the scale probes measure on, and the session
  * they run in. Each substrate is written once under its directory and
  * reused by every probe that reads it.
  *
  *  - Rotated-replica embeddings: replica r of every vector gets a fresh
  *    `vec_id` (id + r·10¹⁰) and its embedding rotated left by r places.
  *    Rotation keeps the norm and the marginal distribution and makes the
  *    replicas near-orthogonal, so 10× rows behave like 10× fresh draws
  *    instead of planting near-duplicate cliques.
  *  - Held-rate tagged documents: replica r of every document prefixes each
  *    token with `r<r>_`. Tagging is a bijection on 3-token shingles, so
  *    each replica's own near-duplicate structure equals the original's
  *    while cross-replica shingle sets are disjoint: 10× documents carry
  *    exactly 10× near-duplicate pairs.
  */
object Substrate {

  /** Replica id offset, beyond any real id. */
  val Off = 10000000000L
  val Reps = 10
  private val Dim = 64

  /** Where the shared 10× substrates live unless a probe is told otherwise. */
  val Work = "/tmp/graft-ingest10x"

  /** One row per replica index 0 until [[Reps]], as column `__r`. */
  def replicas: Column = explode(typedLit((0 until Reps).toArray)).as("__r")

  /** The house session at `local[32]`, the width the SCALE.md figures were
    * measured at. */
  def session(): SparkSession = {
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The rotated-replica 10× copy of `base`'s embeddings. */
  def embeddings10x(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(s"$base/embeddings.parquet")
      .select(col("*"), replicas)
      .select(
        (col("vec_id") + col("__r") * Off).as("vec_id"),
        concat(slice(col("embedding"), col("__r") + 1, lit(Dim) - col("__r")),
          slice(col("embedding"), lit(1), col("__r"))).as("embedding"),
        col("label"))

  /** Writes [[embeddings10x]] to `dir/embeddings.parquet` unless it is there. */
  def stageEmbeddings10x(spark: SparkSession, base: String, dir: String): Unit =
    if (!new File(s"$dir/embeddings.parquet").exists())
      embeddings10x(spark, base).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** `text` with every token prefixed by `r<rep>_`. */
  def tagged(text: Column, rep: Column): Column =
    array_join(transform(split(text, " "),
      t => concat(lit("r"), rep.cast("string"), lit("_"), t)), " ")

  /** Writes the tagged 1× (replica 0) and 10× copies of `base`'s documents
    * under `work` unless they are there; returns their two directories. */
  def stageTaggedDocs(spark: SparkSession, base: String, work: String): (String, String) = {
    val oneDir = s"$work/docs1x-tagged"
    val tenDir = s"$work/docs10x-tagged"
    val src = spark.read.parquet(s"$base/documents.parquet").select(col("doc_id"), col("text"))
    if (!new File(oneDir).exists())
      src.select(col("doc_id"), tagged(col("text"), lit(0)).as("text")).write.parquet(oneDir)
    if (!new File(tenDir).exists())
      src.select(col("*"), replicas)
        .select((col("doc_id") + col("__r") * Off).as("doc_id"),
          tagged(col("text"), col("__r")).as("text"))
        .write.parquet(tenDir)
    (oneDir, tenDir)
  }
}
