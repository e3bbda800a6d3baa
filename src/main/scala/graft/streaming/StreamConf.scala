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
}
