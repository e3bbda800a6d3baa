package graft.streaming

/** Session confs the monitor and ingest streams hold while they run
  * (through [[graft.Session.withConf]]). */
private[streaming] object StreamConf {

  /** Stateful-stream shuffle width: every shuffle partition is a state
    * store with its own per-batch snapshot/commit I/O, so the width follows
    * the KEY count of the streamed state (model-sized here), not scan
    * parallelism. Baked into a checkpoint at first start — a design-time
    * choice per deployment. [[EventStreams]] keeps a narrower width of its
    * own for the event-table runners. */
  val MonitorWidth: (String, String) = "spark.sql.shuffle.partitions" -> "8"

  /** Every checkpoint file of a stream started under this conf (offset,
    * commit and source logs, HDFS-backed and RocksDB state stores) goes
    * through [[LocalCheckpointFiles]], which starts no child process for
    * a `file:` checkpoint. Held by [[Replay.drain]] for each stream's life;
    * not a tuning knob. */
  val CheckpointFiles: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFiles].getName
}
