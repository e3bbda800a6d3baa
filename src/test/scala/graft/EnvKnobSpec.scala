package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment variables are read only by the entry mains and the probe
  * tools, and the tools read only the two the mains share (the table-set
  * directory and the core count). An operator that reads one carries a
  * process-wide knob that no session conf or argument shows, fixed when
  * its object first loads; a tool-only knob is an option no record shows. */
class EnvKnobSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")
  private val readers = Set("graft/Bench.scala", "graft/Verify.scala")
  private val toolVars = Seq("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS")

  private lazy val envReads: List[(String, Int, String)] = {
    assert(Files.isDirectory(root.resolve("graft")),
      s"library sources not found under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
      finally walk.close()
    assert(readers.subsetOf(sources.map(_._1).toSet))
    for {
      (rel, f) <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toList
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield (rel, i + 1, line.trim)
  }

  test("only Bench, Verify and tools/ read environment variables") {
    val hits = envReads.collect {
      case (rel, n, line) if !readers(rel) && !rel.startsWith("graft/tools/") => s"$rel:$n: $line"
    }
    assert(hits.isEmpty, s"environment reads outside the entry mains:\n${hits.mkString("\n")}")
  }

  test("tools/ read only SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS") {
    val tools = envReads.filter(_._1.startsWith("graft/tools/"))
    assert(tools.nonEmpty)
    val hits = tools.collect {
      case (rel, n, line) if !toolVars.exists(line.contains) => s"$rel:$n: $line"
    }
    assert(hits.isEmpty, s"tool-only environment knobs:\n${hits.mkString("\n")}")
  }
}
