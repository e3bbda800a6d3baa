package graft

/** Best-effort scratch-dir placement for the local harness mains: point the
  * JVM temp dir (where Structured Streaming puts memory-sink temporary
  * checkpoints, and Derby its demo databases) and Spark's local dirs
  * (shuffle scratch) at tmpfs when the host has one. This does not make
  * checkpoints cheaper: their cost was never fsync but one forked `chmod`
  * per file from Hadoop's local file system, measured at ~40 ms per
  * atomic checkpoint file on disk and on tmpfs alike, and
  * [[graft.streaming.LocalCheckpointFiles]] removes it. No-op (None) when
  * /dev/shm is absent — e.g. a real cluster, where executors configure
  * spark.local.dir themselves. */
object Scratch {
  def tmpfs(): Option[String] = {
    val base = new java.io.File("/dev/shm")
    if (base.isDirectory && base.canWrite) {
      val d = new java.io.File(base, "graft-scratch")
      d.mkdirs()
      System.setProperty("java.io.tmpdir", d.getAbsolutePath)
      Some(d.getAbsolutePath)
    } else None
  }
}
