package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Data-cleaning operators (SURVEY §2.2, §2.8 F3–F5).
  *
  * The reference cleans with pandas: `dropna(subset=...)` (`etl.py:21`,
  * `workflow.py:126-138`), nullable-int casts (`etl.py:25`), timestamp
  * parsing (`workflow.py:164`), and constrains enum columns via Postgres
  * enum types (`database-schema.sql:8-14`). Here each is a declarative
  * DataFrame op, so predicates stay pushdown-able.
  */
object Cleaning {

  /** Drop rows with a null in any of `cols` (pandas `dropna(subset=cols)`). */
  def dropNullRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop("any", cols)

  /** Null-predicate split (the reference's 2-phase hierarchy load,
    * `etl.py:39-58`): rows where `c` is null vs not null. */
  def splitOnNull(df: DataFrame, c: String): (DataFrame, DataFrame) =
    (df.filter(col(c).isNull), df.filter(col(c).isNotNull))

  /** Enum-domain validation (Postgres enum analog). Returns (valid rows,
    * quarantined rows) — cleaning keeps rejects inspectable instead of
    * silently dropping them. [[domainFlag]] decides the split, so a count
    * of `!domainFlag` counts the quarantined rows. */
  def validateDomain(df: DataFrame, c: String, domain: Seq[String]): (DataFrame, DataFrame) = {
    val ok = domainFlag(col(c), domain)
    (df.filter(ok), df.filter(!ok))
  }

  /** Per-row domain flag, for audit-style outputs. */
  def domainFlag(c: Column, domain: Seq[String]): Column = c.isInCollection(domain)

  /** Nullable cast — the reference's `lambda x: int(x) if notna else None`
    * (`etl.py:25`) is just this; no UDF needed. */
  def nullableCast(c: Column, to: DataType = IntegerType): Column = c.cast(to)

  /** Parse `yyyy-MM-dd HH:mm:ss` strings (reference `workflow.py:164`). */
  def parseTimestamp(c: Column): Column = to_timestamp(c, "yyyy-MM-dd HH:mm:ss")

  // ------------------------------------------------------------- PII ----

  /** NANP-style phone numbers (`xxx-xxx-xxxx`). Kept to portable regex
    * constructs (character classes + bounded repetition) so Java regex
    * (Spark) and RE2 (DuckDB oracle) agree exactly. */
  val PhonePattern: String = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** RFC-5322-lite email addresses. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Count of PII matches of `pattern` in `text` — the audit half of
    * redaction (how much PII a source carries gates whether it enters the
    * training mix at all). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Redact phones then emails to typed placeholders. Pure per-row codegen
    * expression work — the 100 TB cost is one map-side pass over the text
    * column, no shuffle, no UDF. Phones first: a redacted `[PHONE]` token
    * contains no `@`, so the passes can't interact. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(PhonePattern), lit("[PHONE]")),
      lit(EmailPattern), lit("[EMAIL]"))

  /** Luhn checksum validity of an all-digit string — the payment-card
    * detector's verification half (a 16-digit regex hit that fails Luhn
    * is a false positive; scrubbing pipelines gate on the checksum to cut
    * over-redaction). Standard rule: from the RIGHTMOST digit, double
    * every second digit, subtract 9 from doubles > 9, valid iff the sum
    * is ≡ 0 (mod 10). Pure integer expression work over a bounded-length
    * string (HOF over ≤ 19 positions — bounded, so the no-HOF-hot-path
    * rule doesn't bite); engine-portable because every step is integer
    * arithmetic on ASCII codes. */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val total = aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        // i-th digit from the RIGHT
        val d = ascii(digits.substr((n - i + 1).cast("int"), lit(1))) - lit(48)
        val dd = when(i % 2 === 0, d * 2).otherwise(d)
        acc + when(dd > 9, dd - 9).otherwise(dd)
      })
    total % 10 === 0
  }

  /** [[luhnValid]] for a KNOWN digit count — the checksum unrolled into a
    * static expression chain (one `substring`/`ascii` pair per position,
    * all literal offsets), which stays inside whole-stage codegen where
    * the generic HOF form is interpreted per element (measured 2.2 s vs
    * ~0.3 s over 150k accounts at sf0.1). Integer addition is
    * order-free, so this is bit-identical to the generic fold. Rejects
    * strings of any other length. */
  def luhnValidFixed(digits: Column, len: Int): Column = {
    require(len >= 2, s"luhnValidFixed: len must be >= 2, got $len")
    val total = (1 to len).map { i =>
      val d = ascii(substring(digits, len - i + 1, 1)) - lit(48)
      val dd = if (i % 2 == 0) d * 2 else d
      when(dd > 9, dd - 9).otherwise(dd)
    }.reduce(_ + _)
    length(digits) === len && total % 10 === 0
  }
}
