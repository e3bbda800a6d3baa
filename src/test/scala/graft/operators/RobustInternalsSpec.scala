package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, SparkSpec}

/** Direct checks of Robust's package-private machinery. */
class RobustInternalsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("runningTotalsBy equals the driver-side prefix scan across partition counts") {
    // The grouped two-level scan must be partitioning-invariant: range
    // keys on (group, v), per-(group, partition) offsets — any partition
    // count, including groups split across partitions (parts ≫ groups)
    // and everything in one partition.
    val rnd = new scala.util.Random(7)
    val rows = List.fill(400)((s"g${rnd.nextInt(4)}", rnd.nextInt(40), 1L + rnd.nextInt(5)))
    val perValue = rows.groupBy(t => (t._1, t._2)).map { case ((g, v), ts) =>
      (g, v, ts.map(_._3).sum)
    }.toList
    val want = perValue.groupBy(_._1).flatMap { case (g, vs) =>
      val sorted = vs.sortBy(_._2)
      sorted.scanLeft((g, -1, 0L)) { case ((_, _, acc), (gg, v, c)) =>
        (gg, v, acc + c)
      }.drop(1)
    }.map(t => (t._1, t._2) -> t._3).toMap
    for (parts <- Seq("1", "2", "7", "64"))
      Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts) {
        val got = Robust.runningTotalsBy(
            perValue.toDF("__g", "v", "cnt"), Seq("__g"), Seq("cnt"))
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
        assert(got == want, s"mismatch at parts=$parts")
        // the global delegate (empty group list) over one group's slice
        val g0 = perValue.filter(_._1 == "g0")
        val gotG = Robust.runningTotals(
            g0.map(t => (t._2, t._3)).toDF("v", "cnt"), Seq("cnt"))
          .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        val wantG = want.collect { case (("g0", v), c) => v -> c }
        assert(gotG == wantG, s"global mismatch at parts=$parts")
      }
  }
}
