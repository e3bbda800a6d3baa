package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.sources.Staging

/** The replay contract every stream runner shares: a table is staged as
  * ordered one-file micro-batches, read back one file per trigger, and the
  * stream is run to completion. This is the only code that knows the
  * staged file layout and the stream lifecycle; every stream in the
  * contract is drained through [[drain]]. */
private[graft] object Replay {

  /** Stages `parts` for (kind, source dir) through [[Staging.dir]]: part
    * `i` becomes the single file `batch-%02d.parquet`, modification-stamped
    * so the file source (oldest file first, names agreeing) reads it as
    * micro-batch `i`. Each part is its own one-file write job, and the
    * parts are written concurrently ([[graft.Session.runAll]]). `parts` is
    * evaluated only when the key is first staged; later calls return the
    * memoized dir. */
  def stage(kind: String, dir: String)(parts: => Seq[DataFrame]): File =
    Staging.dir(kind, dir) { d =>
      val staged = parts
      graft.Session.runAll(staged.head.sparkSession, staged.zipWithIndex.map {
        case (df, i) => () => {
          val tmp = new File(d, s"__stage$i")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
          val dest = new File(d, f"batch-$i%02d.parquet")
          Files.move(part.toPath, dest.toPath)
          dest.setLastModified(1700000000000L + i * 600000L)
          Staging.rmTree(tmp)
        }
      })
      ()
    }

  /** The staged dir as a stream of one file per micro-batch. */
  def source(spark: SparkSession, schema: StructType, staged: File): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)

  /** Starts the query, runs it until every available input is processed,
    * and stops it, also when the stream fails (the failure is rethrown as
    * the query's `StreamingQueryException`). The stream's checkpoint files
    * go through [[LocalCheckpointFiles]] ([[StreamConf.CheckpointFiles]]). */
  def drain(spark: SparkSession, writer: DataStreamWriter[_]): Unit =
    graft.Session.withConf(spark, StreamConf.CheckpointFiles) {
      val q = writer.start()
      try q.processAllAvailable() finally q.stop()
    }

  /** Drains `df` into the memory sink `name` and returns the sink table. */
  def toMemory(df: Dataset[_], name: String, outputMode: String): DataFrame = {
    drain(df.sparkSession,
      df.writeStream.format("memory").queryName(name).outputMode(outputMode))
    df.sparkSession.table(name)
  }

  /** Every parquet leaf file under `dir` (recursive; none if absent). */
  def listParquet(dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    if (dir.exists()) walk(dir) else Nil
  }

  /** Reads exactly the listed leaf files of a sink dir as a PINNED
    * snapshot, partition columns recovered via basePath. A foreachBatch
    * probe that reads a snapshot pinned before the batch's own appends
    * cannot see the batch itself, so the appends may run concurrently
    * with it. */
  def snapshotRead(
      spark: SparkSession, dir: File, schema: StructType, files: Seq[File]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.option("basePath", dir.toString).schema(schema)
        .parquet(files.map(_.toString): _*)
}
