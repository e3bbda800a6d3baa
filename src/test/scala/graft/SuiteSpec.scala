package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.CartesianGuard

/** Name resolution for Bench, Verify and tools.Probe: an unknown name must
  * fail before any job runs, never shrink the suite. */
class SuiteSpec extends AnyFunSuite with SparkSpec {

  private def unknownIn(names: Seq[String], benchForm: Boolean): String =
    intercept[IllegalArgumentException](Suite.resolve(names, benchForm)).getMessage

  test("bench form rejects an unknown name") {
    assert(unknownIn(Seq("q_typo"), benchForm = true).contains("'q_typo'"))
  }

  test("contract form rejects an unknown name") {
    assert(unknownIn(Seq("q_typo"), benchForm = false).contains("'q_typo'"))
  }

  test("a mixed list names every unknown name and no known one") {
    for (benchForm <- Seq(true, false)) {
      val msg = unknownIn(Seq("q_scan_project", "q_typo", "q_minhash_lsh", "q_other"), benchForm)
      assert(msg.contains("'q_typo'") && msg.contains("'q_other'"), msg)
      assert(!msg.contains("q_scan_project") && !msg.contains("q_minhash_lsh"), msg)
    }
  }

  test("both forms cover the contract; only the bench form takes the overrides") {
    val bench = Suite.resolve(Nil, benchForm = true)
    val contract = Suite.resolve(Nil, benchForm = false)
    assert(bench.map(_.name).toSet == SparkEntry.queries.keySet)
    assert(contract.map(_.name).toSet == SparkEntry.queries.keySet)
    assert(bench.size == SparkEntry.queries.size && contract.size == bench.size)
    // an exact twin is exempt from the guard only where it still runs
    val overridden = SparkEntry.cartesianAllow & SparkEntry.benchOverrides.keySet
    assert(overridden.nonEmpty)
    assert(bench.filterNot(_.guarded).map(_.name).toSet ==
      SparkEntry.cartesianAllow -- SparkEntry.benchOverrides.keySet)
    assert(contract.filterNot(_.guarded).map(_.name).toSet == SparkEntry.cartesianAllow)
  }

  test("named queries come back in the order named") {
    val names = Seq("q_minhash_lsh", "q_scan_project", "q_events_late_drop")
    assert(Suite.resolve(names, benchForm = true).map(_.name) == names)
  }

  test("a query arms the guard, an exempt twin clears it") {
    val sf = "/root/testdata/sf0.001"
    try {
      Suite.resolve(Seq("q_scan_project"), benchForm = false).head(spark, sf, "123")
      assert(spark.conf.getOption(CartesianGuard.ConfKey).contains("123"))
      val twin = Suite.resolve(Seq("q_semdedup"), benchForm = false).head
      assert(!twin.guarded)
      twin.copy(plan = (_, _) => spark.emptyDataFrame)(spark, sf)
      assert(spark.conf.getOption(CartesianGuard.ConfKey).isEmpty)
    } finally spark.conf.unset(CartesianGuard.ConfKey)
  }
}
