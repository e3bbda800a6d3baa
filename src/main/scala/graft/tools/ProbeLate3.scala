package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Replay

/** Dev probe: does a 3-batch late-audit schedule ([on-time][late][close])
  * produce the same append-mode output as the current 4-batch one
  * ([on-time − max][max row][late][close]) — i.e. is Spark's late-record
  * drop decided by the input filter against the CURRENT batch's watermark
  * (window end ≤ wm), independent of whether the window's state was
  * already evicted in an earlier batch? If yes, the drop boundary is
  * structurally `on-time max − delay` and the oracle pin stops depending
  * on the (second-max, max] gap. */
object ProbeLate3 {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    graft.Scratch.tmpfs()
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val events = graft.sources.Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val late = pmod(col("user_id"), lit(17L)) === 3
    val maxTs = events.filter(!late).agg(max(col("ts"))).head.getTimestamp(0)
    val closeTs = new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L)
    val closeRow = events.limit(1).select(
      lit(-1L).as("event_id"), lit(closeTs).as("ts"), lit(0L).as("user_id"),
      lit("close").as("event_type"), lit(0.0).as("value"))
    val onTime = events.filter(!late)

    def run(name: String)(parts: => Seq[DataFrame]): DataFrame = {
      val staged = Replay.stage(s"probe-late-$name", d)(parts)
      val agg = Replay.source(spark, events.schema, staged)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("w_start"), col("n_events"))
      Replay.toMemory(agg, name, "append")
    }

    val four = run("four")(Seq(
      onTime.filter(col("ts") < lit(maxTs)),
      onTime.filter(col("ts") === lit(maxTs)),
      events.filter(late),
      closeRow))
    val three = run("three")(Seq(onTime, events.filter(late), closeRow))
    // oracle rule: late rows count ONLY toward hour windows whose end is
    // strictly after onTimeMax − 10 min; every window except close's emits
    val delayMs = 10 * 60 * 1000L
    val wmMs = maxTs.getTime - delayMs
    val expected = events
      .filter(!late ||
        (unix_millis(date_trunc("hour", col("ts"))) + 3600 * 1000L) > wmMs)
      .groupBy(date_trunc("hour", col("ts")).as("w_start"))
      .agg(count(lit(1)).as("n_events"))

    println(s"[late3] four=${four.count()} three=${three.count()} expected=${expected.count()}")
    println("[late3] four vs three diff:")
    four.exceptAll(three).unionByName(three.exceptAll(four)).show(10, false)
    println("[late3] three vs expected diff:")
    three.exceptAll(expected).unionByName(expected.exceptAll(three)).show(10, false)
    spark.stop()
  }
}
