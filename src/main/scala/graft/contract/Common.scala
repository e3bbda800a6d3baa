package graft
package contract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables

/** Helpers that more than one family's plans or oracles use. */
private[contract] object Common {

  // SQL fragment: exact-decimal revenue aggregate, surfaced as double.
  val RevSum =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)"

  /** Query-term set for the BM25 row — shared with the generated oracle. */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "join", "merge")

  /** Pushdown-friendly calendar-year membership: a half-open timestamp
    * range instead of `year(c) = y` (a derived expression never reaches
    * `PushedFilters`; a range prunes row groups and date partitions). */
  def inYear(c: org.apache.spark.sql.Column, y: Int): org.apache.spark.sql.Column =
    c >= to_timestamp(lit(f"$y%04d-01-01 00:00:00")) &&
      c < to_timestamp(lit(f"${y + 1}%04d-01-01 00:00:00"))

  // Date span of orders per data dir — derived once (a column-pruned scalar
  // aggregate, i.e. a catalog statistic) and reused by all trends queries.
  private val orderSpanCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def orderSpan(s: SparkSession, d: String): (String, String) =
    orderSpanCache.computeIfAbsent(d, _ => {
      val bounds = Tables.orders(s, d).agg(
        min(to_date(col("o_orderdate"))).as("mn"),
        max(to_date(col("o_orderdate"))).as("mx")).head()
      if (bounds.isNullAt(0)) ("1995-01-01", "1995-01-01")
      else (bounds.getDate(0).toString, bounds.getDate(1).toString)
    })

  // Audit oracle: language CASE generated from the same stopword tables as
  // corpusCurateSql; repetition fragment mirrors q_doc_repetition.
  lazy val curationAuditSql: String = {
    val scores = TextAnalysis.stopwords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), x -> x IN ($list))) AS s_$lang"
    }.mkString(",\n                ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = g THEN '$l'").mkString(" ")
    s"""WITH pred AS (
          SELECT doc_id, text,
                 CASE WHEN g <= 0 THEN 'und' $cases ELSE 'und' END AS lang_pred
          FROM (SELECT *, $g AS g FROM (
            SELECT doc_id, text,
                  $scores
            FROM documents))),
        sig AS (
          SELECT doc_id, lang_pred,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                 len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS ttr,
                 CASE WHEN len(string_split(text, ' ')) < 2 THEN 0.0
                      ELSE round(1.0 - len(list_distinct(
                               [array_to_string(string_split(text, ' ')[i:i+1], ' ')
                                for i in range(1, len(string_split(text, ' ')))])) * 1.0
                             / (len(string_split(text, ' ')) - 1), 6) END AS rep
          FROM pred)
        SELECT doc_id, lang_pred, n_tokens,
               CASE WHEN lang_pred <> 'en' THEN 'lang_other'
                    WHEN n_tokens < 20 THEN 'too_short'
                    WHEN ttr < 0.4 THEN 'low_quality'
                    WHEN rep > 0.2 THEN 'repetitive'
                    ELSE 'kept' END AS reason
        FROM sig ORDER BY doc_id"""
  }

  /** Splice the pinned parity column after a marker alias that must
    * occur EXACTLY once — a rename or a second occurrence in the base
    * SQL fails loudly here instead of silently drifting the oracle. */
  def withParityAfter(sql: String, marker: String): String = {
    val hits = sql.sliding(marker.length).count(_ == marker)
    require(hits == 1,
      s"withParityAfter: marker '$marker' occurs $hits times, expected 1")
    sql.replace(marker, marker + ",\n       TRUE AS parity_ok")
  }
}
