package graft.streaming

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.viewfs.ConfigUtil
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, SparkSpec}
import graft.sources.Staging

/** [[LocalCheckpointFiles]] keeps the contract Spark's streaming checkpoint
  * code relies on (atomic create, no-overwrite create fails and keeps the
  * old bytes, cancel leaves nothing), and a checkpoint it wrote resumes
  * under it and under Spark's default manager alike. */
class LocalCheckpointFilesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): File = Files.createTempDirectory(prefix).toFile

  private def manager(root: Path, conf: Configuration = new Configuration()): CheckpointFileManager =
    new LocalCheckpointFiles(root, conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a no-overwrite create on an existing file throws and keeps the old bytes") {
    val dir = tmpDir("graft-ckpt-files")
    try {
      val root = new Path(dir.toURI)
      val fm = manager(root)
      val p = new Path(root, "0")
      write(fm, p, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
      assert(read(fm, p) == "old")
      assert(dir.list().toSeq == Seq("0"), "a temp file was left behind")
      // a checksum side file Hadoop's local file system left for the old
      // bytes would fail its next read there
      Files.write(new File(dir, ".0.crc").toPath, Array[Byte](1, 2))
      write(fm, p, "newer", overwrite = true)
      assert(read(fm, p) == "newer")
      assert(dir.list().toSeq == Seq("0"), "a temp or stale checksum file was left behind")
    } finally Staging.rmTree(dir)
  }

  test("cancel leaves no file and no temp file") {
    val dir = tmpDir("graft-ckpt-files")
    try {
      val root = new Path(dir.toURI)
      val fm = manager(root)
      val p = new Path(root, "state/1.delta")
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close()
      assert(!fm.exists(p))
      assert(new File(dir, "state").list().isEmpty, new File(dir, "state").list().toSeq)
    } finally Staging.rmTree(dir)
  }

  test("list, exists, mkdirs, open and delete on local paths") {
    val dir = tmpDir("graft-ckpt-files")
    try {
      val root = new Path(dir.toURI)
      val fm = manager(root)
      assert(fm.isLocal)
      val ckpt = fm.createCheckpointDirectory()
      assert(ckpt.toUri.getScheme == "file" && new File(ckpt.toUri.getPath) == dir)
      fm.mkdirs(new Path(root, "offsets"))
      Seq("0", "1", "10").foreach(n => write(fm, new Path(root, s"offsets/$n"), n, overwrite = false))
      val listed = fm.list(new Path(root, "offsets"), (p: Path) => p.getName != "1")
      assert(listed.map(_.getPath.getName).sorted.toSeq == Seq("0", "10"))
      assert(listed.forall(s => s.isFile && s.getLen > 0))
      assert(read(fm, new Path(root, "offsets/10")) == "10")
      intercept[FileNotFoundException](fm.open(new Path(root, "offsets/2")))
      intercept[FileNotFoundException](fm.list(new Path(root, "commits")))
      Files.write(new File(dir, "offsets/.0.crc").toPath, Array[Byte](1, 2))
      fm.delete(new Path(root, "offsets/0"))
      assert(new File(dir, "offsets").list().sorted.toSeq == Seq("1", "10"))
      fm.delete(new Path(root, "offsets"))
      fm.delete(new Path(root, "offsets"))
      assert(!fm.exists(new Path(root, "offsets")) && fm.exists(root))
    } finally Staging.rmTree(dir)
  }

  test("a path without a scheme is local; a non-file: path is delegated") {
    val conf = new Configuration()
    assert(LocalCheckpointFiles.isLocal(new Path("/tmp/ckpt"), conf))
    // A viewfs mount onto a local dir: only Hadoop's FileContext resolves
    // the mount, so the bytes land under `target` only when delegated.
    val target = tmpDir("graft-ckpt-viewfs")
    try {
      ConfigUtil.addLink(conf, "ckpt", "/mnt", target.toURI)
      val root = new Path("viewfs://ckpt/mnt")
      assert(!LocalCheckpointFiles.isLocal(root, conf))
      val fm = manager(root, conf)
      write(fm, new Path(root, "0"), "delegated", overwrite = false)
      assert(new String(Files.readAllBytes(new File(target, "0").toPath), UTF_8) == "delegated")
      assert(read(fm, new Path(root, "0")) == "delegated")
    } finally Staging.rmTree(target)
  }

  // --- restart ------------------------------------------------------------

  /** Six one-hour micro-batches; a 10-minute watermark closes each hour's
    * window one batch later, so state is carried across every restart. */
  private lazy val replay: File =
    Replay.stage("restart-spec", getClass.getName) {
      (0 until 6).map { h =>
        (0 until 3).map { j =>
          (Timestamp.valueOf(f"2024-01-01 $h%02d:${5 + 20 * j}%02d:00"), (10 * h + j).toLong)
        }.toDF("ts", "v")
      }
    }

  /** Copies staged batches `from until to` into `input`, keeping their
    * modification stamps (the file source's batch order). */
  private def feed(input: File, from: Int, to: Int): Unit =
    (from until to).foreach { i =>
      val f = new File(replay, f"batch-$i%02d.parquet")
      Files.copy(f.toPath, new File(input, f.getName).toPath, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** The monitor's sink keeps every row handed to it, so a batch replayed
    * after a restart would show up twice. */
  private def monitor(input: File, ckpt: File, sink: Sink): DataStreamWriter[Row] =
    Replay.source(spark, spark.read.parquet(replay.toString).schema, input)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"), sum($"v").as("v"))
      .select($"window.start".as("w_start"), $"n", $"v")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => sink.add(r.toString)); ()
      }

  private type Sink = java.util.concurrent.ConcurrentLinkedQueue[String]
  private def rows(sink: Sink): Seq[String] = sink.toArray(Array.empty[String]).toSeq.sorted

  private def underDefaultManager(writer: DataStreamWriter[Row]): Unit = {
    assert(!spark.conf.getOption(StreamConf.CheckpointFiles._1).isDefined)
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
  }

  private val providers = Seq(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  for ((tag, provider) <- providers)
    test(s"a $tag-state monitor stopped after batch 3 resumes with the same sink rows, " +
        "under LocalCheckpointFiles and under Spark's default manager") {
      val scratch = tmpDir("graft-restart")
      def sub(name: String) = { val d = new File(scratch, name); d.mkdirs(); d }
      try Session.withConf(spark, "spark.sql.streaming.stateStore.providerClass" -> provider) {
        val whole = sub("whole")
        feed(whole, 0, 6)
        val all = new Sink
        Replay.drain(spark, monitor(whole, sub("ckpt-whole"), all))
        val expected = rows(all)
        assert(expected.size == 5, expected)

        val input = sub("input")
        val ckpt = sub("ckpt")
        feed(input, 0, 3)
        val first = new Sink
        Replay.drain(spark, monitor(input, ckpt, first))
        assert(!first.isEmpty && first.size < expected.size, rows(first))
        val ckptCopy = sub("ckpt-copy")
        Staging.copyTree(ckpt, ckptCopy)
        feed(input, 3, 6)

        val local = new Sink(first)
        Replay.drain(spark, monitor(input, ckpt, local))
        assert(rows(local) == expected)

        val default = new Sink(first)
        underDefaultManager(monitor(input, ckptCopy, default))
        assert(rows(default) == expected)
      } finally Staging.rmTree(scratch)
    }
}
