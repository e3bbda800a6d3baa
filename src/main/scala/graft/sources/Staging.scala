package graft.sources

/** JVM-lifetime memoized staging directories for derived test inputs
  * (multi-batch stream replays, schema-generation fixtures).
  *
  * The staged layout is a pure function of (kind, source dir), so repeated
  * invocations — Bench's three passes, Verify re-running queries — reuse
  * ONE staging instead of re-deriving it, and a single shutdown hook
  * deletes everything: the previous per-call temp dirs leaked table-sized
  * parquet into /tmp on every run. Staging is INPUT-only; consumers that
  * need mutable scratch (checkpoints, sinks) must not use this. Stream
  * replay inputs are staged through [[graft.streaming.Replay.stage]], which
  * owns their one-file-per-micro-batch layout. */
object Staging {

  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.io.File]()

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Recursive file copy — consumers that MUTATE staged state (ingest
    * streams appending into an index, compaction rewriting a table) copy
    * the staged input into per-run scratch first; Staging dirs themselves
    * are input-only. */
  def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      ()
    }
  }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.values.forEach(d => rmTree(d))))
  }

  /** Get-or-build the staged dir for (kind, sourceDir); `build` runs at
    * most once per JVM per key (computeIfAbsent's mutual exclusion). If
    * `build` throws, the half-written dir is deleted before rethrowing —
    * no map entry exists for it, so the shutdown hook would never see it. */
  def dir(kind: String, sourceDir: String)(build: java.io.File => Unit): java.io.File =
    dirs.computeIfAbsent((kind, sourceDir), { _ =>
      val d = java.nio.file.Files.createTempDirectory(s"graft-$kind").toFile
      try build(d)
      catch { case e: Throwable => rmTree(d); throw e }
      d
    })
}
