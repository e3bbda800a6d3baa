package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Staging a replay file and running a stream to completion are each
  * written once, in `graft.streaming.Replay`. A copy elsewhere drifts from
  * the shared file layout and escapes what `Replay.drain` checks for every
  * stream. */
class ReplayCopySpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")
  private val owner = "graft/streaming/Replay.scala"
  private val calls = Seq(".processAllAvailable()", "setLastModified(")

  test("only Replay drains streams and stamps replay files") {
    assert(Files.isDirectory(root.resolve("graft")),
      s"library sources not found under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
      finally walk.close()
    val hits = for {
      (rel, f) <- sources
      if rel != owner
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"stream drains or replay stamps outside $owner:\n${hits.mkString("\n")}")
    assert(sources.exists(_._1 == owner))
  }
}
