package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTestSession.get
}
