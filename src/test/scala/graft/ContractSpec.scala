package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.contract.Contract

/** Each contract query is one [[graft.contract.Query]] record: its name,
  * plan, oracle SQL, bench twin and guard exemption are written once, in
  * one family file under `graft/contract/`. Name-keyed maps kept in sync by
  * hand drop a plan on a duplicate key or pair a plan with the wrong
  * oracle; `SparkEntry` only derives them. */
class ContractSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala")

  private def sources: List[(String, java.nio.file.Path)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
    finally walk.close()
  }

  test("the contract has 397 uniquely named records") {
    assert(Contract.all.size == 397)
    assert(Contract.all.map(_.name).distinct.size == 397)
  }

  test("a duplicate name throws, naming the duplicate") {
    val q = Contract.all.head
    val other = Contract.all(1)
    val msg = intercept[IllegalArgumentException](Contract.unique(Seq(q, other, q))).getMessage
    assert(msg.contains(q.name) && !msg.contains(other.name), msg)
  }

  test("every record carries oracle SQL") {
    val missing = Contract.all.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(missing.isEmpty, s"records without oracle SQL: $missing")
  }

  test("only the two verification-SF exact twins run unguarded") {
    assert(Contract.all.filter(_.allowCartesian).map(_.name).toSet ==
      Set("q_embed_neardup", "q_semdedup"))
  }

  test("no name-keyed query map outside graft/contract") {
    assert(Files.isDirectory(root.resolve("graft")),
      s"library sources not found under ${root.toAbsolutePath}")
    val literal = "\"q_\\w+\"\\s*->".r
    val hits = for {
      (rel, f) <- sources
      if !rel.startsWith("graft/contract/")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if literal.findFirstIn(line).nonEmpty
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"query map literals outside graft/contract:\n${hits.mkString("\n")}")
  }

  test("SparkEntry stays a facade of at most 60 lines") {
    val n = Files.readAllLines(root.resolve("graft/SparkEntry.scala")).size
    assert(n <= 60, s"SparkEntry.scala has $n lines")
  }
}
