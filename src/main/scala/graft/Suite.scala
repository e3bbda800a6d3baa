package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.CartesianGuard

/** The contract queries a main runs, resolved by name in one of two forms.
  *
  * The bench form (`Bench`, `tools.Probe`) times each self-asserting entry
  * through its operator-only twin from [[SparkEntry.benchOverrides]]; the
  * contract form (`Verify`) keeps the hash-verified plans. Either way every
  * plan runs with the [[CartesianGuard]] armed, except the verification-SF
  * exact twins of [[SparkEntry.cartesianAllow]] that the form still runs. */
object Suite {

  type Plan = (SparkSession, String) => DataFrame

  /** The guard threshold when a main sets none: 64 KB on both sides. */
  val DefaultGuardBytes = "65536"

  /** One resolved query and whether the CartesianGuard is armed for it. */
  final case class Query(name: String, plan: Plan, guarded: Boolean) {

    /** Arms the guard at `guardBytes` (or clears it for an exempt twin),
      * then builds the plan over the table set in `dir`. */
    def apply(spark: SparkSession, dir: String,
        guardBytes: String = DefaultGuardBytes): DataFrame = {
      if (guarded) spark.conf.set(CartesianGuard.ConfKey, guardBytes)
      else spark.conf.unset(CartesianGuard.ConfKey)
      plan(spark, dir)
    }
  }

  /** The queries named in `names`, in that order, or every query when it is
    * empty. Throws `IllegalArgumentException` naming every unknown name, so
    * a typo fails before any job runs instead of timing or dumping fewer
    * queries than asked. */
  def resolve(names: Seq[String], benchForm: Boolean): Seq[Query] = {
    val overrides = if (benchForm) SparkEntry.benchOverrides else Map.empty[String, Plan]
    val all = SparkEntry.queries ++ overrides
    val unknown = names.filterNot(all.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query names: ${unknown.map(n => s"'$n'").mkString(", ")}")
    val exempt = SparkEntry.cartesianAllow -- overrides.keySet
    val picked = if (names.isEmpty) all.toSeq else names.distinct.map(n => n -> all(n))
    picked.map { case (n, plan) => Query(n, plan, guarded = !exempt(n)) }
  }

  /** Drops every persisted RDD. The similarity operators checkpoint
    * per-query index tables that serve no later query; left in place they
    * pile up and tax every later measurement with block-manager memory
    * pressure (measured ~15% suite-wide drift). */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}
