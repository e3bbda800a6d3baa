package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole forked test JVM; its warehouse
  * dir is deleted when the JVM exits. */
object SparkTestSession {
  lazy val get: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(graft.sources.Staging.rmTree(warehouse))
    val s = Session.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTestSession.get
}

/** Temp dirs a test makes through [[tempDir]] are deleted when the test
  * ends, whether it passes or fails. */
trait TempDirs extends org.scalatest.TestSuiteMixin { this: org.scalatest.TestSuite =>
  private val made = scala.collection.mutable.ArrayBuffer[java.io.File]()

  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    made.synchronized(made += d.toFile)
    d
  }

  abstract override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally made.synchronized { made.foreach(graft.sources.Staging.rmTree); made.clear() }
}
