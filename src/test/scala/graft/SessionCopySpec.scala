package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session in main code starts from `graft.Session.builder`. A
  * hand-copied builder drifts from the house settings (shuffle width,
  * UTC, the parquet timestamp flags, the graft extensions) and measures a
  * different engine than Bench and Verify run. */
class SessionCopySpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")
  private val owner = "graft/Session.scala"

  test("only Session builds a SparkSession") {
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
      if line.contains("SparkSession.builder()")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"session builders outside $owner:\n${hits.mkString("\n")}")
    assert(sources.exists(_._1 == owner))
  }
}
