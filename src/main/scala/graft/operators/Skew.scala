package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Skew mitigation.
  *
  * First resort at scale is AQE's runtime skew handling
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default); these helpers are
  * the explicit fallback for aggregations/joins whose skew is known ahead of
  * time (a hot key holding >1% of a 100 TB fact table).
  */
object Skew {

  /** Join-key skew diagnostics — the measurement that justifies (or
    * rules out) salting/AQE-skew handling before a big join: per-key
    * frequencies in one hash aggregation, then the concentration profile
    * (top-1 / top-k share of all rows, distinct key count). The heavy-key
    * list is a bounded top-k (TakeOrdered — never a global sort); shares
    * are exact integer ratios rounded at the edge. */
  def keySkewProfile(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    val freqs = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val top = freqs.orderBy(col("n").desc, col(keyCol)).limit(topK)
      .agg(max(col("n")).as("top1_n"), sum(col("n")).as("topk_n"))
    val tot = freqs.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"))
    top.crossJoin(tot).select(
      col("n_keys"), col("n_rows"),
      round(col("top1_n").cast("double") / col("n_rows"), 6).as("top1_share"),
      round(col("topk_n").cast("double") / col("n_rows"), 6).as("topk_share"),
      round(col("n_rows").cast("double") / col("n_keys"), 6).as("mean_rows_per_key"),
      round(col("top1_n").cast("double") / (col("n_rows").cast("double") / col("n_keys")), 6)
        .as("top1_vs_mean"))
  }

  /** Two-phase salted aggregation: rows are spread across `buckets`
    * sub-groups per key (salt derived deterministically from `saltFrom` —
    * any row-varying column), partially aggregated, then combined. The hot
    * key's partial aggregation runs on `buckets` tasks instead of one.
    * Exact-decimal partials keep the result bit-identical to the unsalted
    * aggregate. */
  def saltedSum(
      df: DataFrame,
      keys: Seq[String],
      valueExpr: Column,
      resultName: String,
      saltFrom: Column,
      buckets: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(saltFrom), lit(buckets)))
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(sum(valueExpr).as("_partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).cast(DoubleType).as(resultName))
}
