package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: its name, its plan, the DuckDB SQL that must
  * hash-match the plan's result, and how the mains run it.
  *
  * Determinism conventions (so Spark parquet output hash-matches the DuckDB
  * oracle):
  *  - money aggregates go through exact DECIMAL(18,2) and surface as double
  *    (see [[graft.functions]]);
  *  - every result carries a total ORDER BY — when the natural key is
  *    non-unique (lineitem's (l_orderkey, l_linenumber) is NOT unique in the
  *    testdata!) the sort covers every output column. These final sorts are
  *    part of the VERIFICATION HARNESS (the oracle hash-compares values in
  *    order-insensitive fashion only after a deterministic dump); a
  *    production pipeline would drop them — an engine never pays a global
  *    sort it wasn't asked for;
  *  - timestamps are cast to microsecond TIMESTAMP in the oracle (the
  *    testdata mixes ms/ns physical types; Spark normalizes to µs);
  *  - DuckDB's wider aggregate types (HUGEINT sums, BIGINT date parts) are
  *    cast back to Spark's (BIGINT / INT) in the oracle SQL.
  *
  * @param kind `Stream` when building the plan starts a streaming query
  *   (it replays its input to completion before returning), else `Batch`.
  * @param plan the hash-verified contract plan over the table set in a
  *   data dir. Self-asserting entries compute an exact twin (brute-force
  *   cosine all-pairs, every-window join, prefix-filter ground truth) in the
  *   same plan and emit recall/subset booleans that the oracle pins.
  * @param oracleSql DuckDB SQL over the same tables. For approximate or
  *   hash-seeded operators it pins the self-asserted booleans and row
  *   counts rather than replaying the operator.
  * @param benchPlan the operator-only plan Bench times instead of `plan`,
  *   for self-asserting entries whose exact twin is a verification harness
  *   sized for the verify SF (for `q_semdedup` and `q_embed_neardup`
  *   literally an O(n²) `a.vec_id < b.vec_id` self-join): timing it says
  *   nothing about the operator. It is parameter-identical to `plan`'s
  *   operator path, the one that would run at 100 TB.
  * @param allowCartesian `plan` INTENTIONALLY nested-loops two large
  *   relations (a verification-SF exact twin), so it runs with the
  *   [[graft.plans.CartesianGuard]] cleared. Every other plan, and every
  *   `benchPlan`, runs with the guard armed. */
final case class Query(
    name: String,
    kind: Query.Kind,
    plan: Query.Plan,
    oracleSql: String,
    benchPlan: Option[Query.Plan] = None,
    allowCartesian: Boolean = false)

object Query {
  type Plan = (SparkSession, String) => DataFrame

  sealed trait Kind
  case object Batch extends Kind
  case object Stream extends Kind
}
