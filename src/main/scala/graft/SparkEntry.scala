package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.contract.{Contract, Query}
import graft.sources.Tables
import graft.transform.Transforms

/** Exists for the benchmark harness in `perfbench/`, which reads these
  * members: the driver contract as name-keyed maps, each derived from
  * [[graft.contract.Contract.all]], where every query is written once.
  * Library code reads the records. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Transforms.productSalesSummary(
      Tables.lineitem(spark, dir), Tables.orders(spark, dir), Tables.part(spark, dir))
      .orderBy(col("p_partkey"))
  }

  def queries: Map[String, Query.Plan] = Contract.all.map(q => q.name -> q.plan).toMap

  def oracleSql: Map[String, String] = Contract.all.map(q => q.name -> q.oracleSql).toMap

  def benchOverrides: Map[String, Query.Plan] =
    Contract.all.flatMap(q => q.benchPlan.map(q.name -> _)).toMap

  def cartesianAllow: Set[String] = Contract.all.filter(_.allowCartesian).map(_.name).toSet
}
