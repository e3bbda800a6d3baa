package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment variables are read only by the entry mains and the probe
  * tools. An operator that reads one carries a process-wide knob that no
  * session conf or argument shows, fixed when its object first loads. */
class EnvKnobSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")
  private val readers = Set("graft/Bench.scala", "graft/Verify.scala")

  test("only Bench, Verify and tools/ read environment variables") {
    assert(Files.isDirectory(root.resolve("graft")),
      s"library sources not found under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
      finally walk.close()
    assert(readers.subsetOf(sources.map(_._1).toSet))
    val hits = for {
      (rel, f) <- sources
      if !readers(rel) && !rel.startsWith("graft/tools/")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"environment reads outside the entry mains:\n${hits.mkString("\n")}")
  }
}
