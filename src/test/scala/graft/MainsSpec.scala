package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library has three entry points: Bench (timings), Verify (the
  * correctness dump) and `tools.Probe` (one query's jobs and plan, or the
  * scale table). A new question is a Probe subcommand or a row of its
  * scale table. A new main gets its own session, timer and printing, which
  * nothing runs and which drift from the code they measure. */
class MainsSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")
  private val owners = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/Probe.scala")

  test("only Bench, Verify and tools/Probe define a main") {
    assert(Files.isDirectory(root.resolve("graft")),
      s"library sources not found under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
      finally walk.close()
    val hits = for {
      (rel, f) <- sources
      if !owners(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if "\\bdef\\s+main\\s*\\(".r.findFirstIn(line).nonEmpty || line.contains("extends App")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"mains outside ${owners.mkString(", ")}:\n${hits.mkString("\n")}")
    assert(owners.subsetOf(sources.map(_._1).toSet))
  }
}
