package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Column-level building blocks shared by every graft operator.
  *
  * Money math convention (oracle determinism): the reference stores money as
  * `DECIMAL(p,2)` (reference `database-schema.sql:50-55,105,129-131`) while the
  * driver testdata carries doubles. Summing doubles is order-dependent, so a
  * Spark sum and a DuckDB sum of the same column can differ in the last bits
  * and fail a hash-compare. We therefore cast money columns to
  * `DECIMAL(18,2)` *before* aggregation (exact, associative, order-free) and
  * cast the final aggregate back to double. Both engines then produce
  * bit-identical doubles.
  */
package object functions {

  val Money: DecimalType = DecimalType(18, 2)

  /** Exact 2-decimal view of a money-like double column. */
  def dec2(c: Column): Column = c.cast(Money)

  /** Order-independent sum of a money column, surfaced as double. */
  def moneySum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact decimal sum of an arbitrary-scale decimal expression → double. */
  def decSum(c: Column): Column = sum(c).cast(DoubleType)

  /** Net line revenue `l_extendedprice * (1 - l_discount)` as exact decimal
    * (scale 4). Plays the role of the reference's
    * `total = price*quantity - discount` (reference `workflow.py:122-125`). */
  def lineRevenueDec(extendedPrice: Column, discount: Column): Column =
    dec2(extendedPrice) * dec2(lit(1.0) - discount)

  /** ISO day-of-week, 1=Monday .. 7=Sunday — the reference's convention
    * (`workflow.py:60`: `weekday()+1`). Spark's `dayofweek` is 1=Sunday, so
    * shift: Mon(2)→1 … Sun(1)→7. */
  def isoDayOfWeek(c: Column): Column = pmod(dayofweek(c) + lit(5), lit(7)) + lit(1)

  // ---------------------------------------------------------------- text ----

  /** Whitespace tokens. Testdata documents are lowercase `[a-z ]` text, so a
    * single-space split matches DuckDB `string_split(text, ' ')` exactly. */
  def tokens(c: Column): Column = split(c, " ")

  def distinctTokens(c: Column): Column = array_distinct(tokens(c))

  /** Number of tokens drawn from `words` (language-ID / stopword scoring). */
  def vocabHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** `n`-gram word shingles as space-joined strings; whole text when the
    * document is shorter than `n` tokens. */
  def wordShingles(toks: Column, n: Int): Column = {
    val joined = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(joined)
  }

  // -------------------------------------------------------------- vectors ----

  /** Dot product of two numeric-array columns in double precision, via the
    * native codegen'd [[VectorDot]] kernel (numerically identical to the
    * `zip_with`+`aggregate` HOF formulation, ~50× faster on pair-scoring
    * loops). */
  def dotProduct(a: Column, b: Column): Column =
    VectorExpressions.vectorDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  // ------------------------------------------------------------- sketches ----

  /** 64-bit SimHash over a token array: per token hash (xxhash64), vote
    * +1/-1 on each bit; fingerprint bit j set iff the vote sum is positive.
    * One string hash per token, then the native [[SimHash64]] voting kernel
    * (a 64-fold interpreted HOF formulation of the same rule measured ~25×
    * slower). */
  def simHash64(toks: Column): Column =
    VectorExpressions.simHash64Native(transform(toks, t => xxhash64(t)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
