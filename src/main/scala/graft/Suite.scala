package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.contract.{Contract, Query}
import graft.plans.CartesianGuard

/** The contract queries a main runs, resolved by name in one of two forms.
  *
  * The bench form (`Bench`, `tools.Probe`) runs each record's
  * [[graft.contract.Query.benchPlan]] where it has one; the contract form
  * (`Verify`) runs every record's hash-verified `plan`. Either way every
  * plan runs with the [[CartesianGuard]] armed, except the contract `plan`
  * of an `allowCartesian` record (a verification-SF exact twin). */
object Suite {

  /** The guard threshold when a main sets none: 64 KB on both sides. */
  val DefaultGuardBytes = "65536"

  /** One resolved plan, its record's kind, and whether the CartesianGuard
    * is armed for it. */
  final case class Resolved(name: String, kind: Query.Kind, plan: Query.Plan, guarded: Boolean) {

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
  def resolve(names: Seq[String], benchForm: Boolean): Seq[Resolved] = {
    // Keyed by name; the whole suite runs in this map's order, which is
    // the order Bench has always timed it in.
    val byName = Contract.all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query names: ${unknown.map(n => s"'$n'").mkString(", ")}")
    val picked = if (names.isEmpty) byName.values.toSeq else names.distinct.map(byName)
    picked.map { q =>
      val bench = if (benchForm) q.benchPlan else None
      Resolved(q.name, q.kind, bench.getOrElse(q.plan),
        guarded = bench.nonEmpty || !q.allowCartesian)
    }
  }

  /** Drops every persisted RDD. The similarity operators checkpoint
    * per-query index tables that serve no later query; left in place they
    * pile up and tax every later measurement with block-manager memory
    * pressure (measured ~15% suite-wide drift). */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}
