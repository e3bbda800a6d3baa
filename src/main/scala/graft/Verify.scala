package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd+ args: restrict to named queries (local iteration); an
    // unknown name throws before the session starts.
    val queries = Suite.resolve(args.drop(2).toSeq, benchForm = false)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cpus)
      .config(Scratch.tmpfs().map("spark.local.dir" -> _).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Arm the analysis-phase CartesianGuard for the whole dump: any query
    // whose plan would nested-loop two >64 KB relations fails loudly here
    // instead of becoming a 100 TB incident. Only the declared
    // verification-SF exact twins are exempt (SparkEntry.cartesianAllow).
    val guardBytes = sys.env.getOrElse("GRAFT_GUARD_BYTES", Suite.DefaultGuardBytes)
    queries.foreach { query =>
      try query(spark, sfDir, guardBytes).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${query.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
