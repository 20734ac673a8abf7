package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic "dirty RFP workbook" synthesized from the `documents`
  * testdata table, mirroring the shape the reference ingests
  * (commercial_rfp_raw_data_ingestion_and_cleaning.py:59-65; FIXTURES.md A1):
  * columns client / rfp_type / consultant / date / question / response / sme
  * with every dirty-value family the cleaning chain must handle — whitespace
  * runs, three date formats plus junk and nulls, literal 'none'/'nan'/'N/A'/
  * 'Contact' stop values, empty responses, Confirmed-variants, and exact
  * (question,response) duplicate groups (doc_id ≡ mod 120 share a question,
  * (doc_id div 120) % 3 picks one of 3 responses per group).
  *
  * The same frame is defined twice — as a Spark expression tree here and as
  * the DuckDB CTE [[sql]] — so every RFP-family query is oracle-checkable.
  * Both sides are pure integer/string functions of doc_id, so they agree
  * bit-for-bit at any scale factor.
  */
object RfpSynth {
  /** Fixed "now" for the 36-month recency filter (SURVEY §2 P6 divergence
    * note 3: wall-clock in the reference, parameter here for determinism). */
  val asOf = "2026-06-01"
  /** asOf − 36 months, precomputed for the oracle SQL. */
  val cutoff = "2023-06-01"

  private def str(c: Column): Column = c.cast("string")

  /** The raw (dirty) frame over the `documents` table in `dir`. */
  def load(s: SparkSession, dir: String): DataFrame =
    frame(Tables.documents(s, dir))

  /** The raw (dirty) frame. Mirrors [[sql]] exactly. */
  def frame(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val baseDate = date_add(lit(java.sql.Date.valueOf("2023-01-01")),
      ((id * 37) % 1400).cast("int"))
    val qid = str(id % 120)
    val topic = str(id % 5)
    val rid = expr("(doc_id div 120) % 3")
    docs.select(
      id,
      when(id % 6 === 0, concat(lit("  Client  "), str(id % 40), lit("  ")))
        .otherwise(concat(lit("Client "), str(id % 40))).as("client"),
      col("lang").as("rfp_type"),
      concat(lit("Consult_"), str(id % 7)).as("consultant"),
      when(id % 5 === 0, date_format(baseDate, "MM/dd/yyyy"))
        .when(id % 5 === 1, date_format(baseDate, "yyyy-MM-dd"))
        .when(id % 5 === 2, date_format(baseDate, "dd-MM-yyyy"))
        .when(id % 5 === 3, lit("not a date"))
        .otherwise(lit(null).cast("string")).as("date"),
      when(id % 23 === 0, lit(null).cast("string"))
        .when(id % 23 === 1, lit("none"))
        .when(id % 23 === 2, lit("None"))
        .when(id % 23 === 3, lit("Contact"))
        .otherwise(when(id % 7 === 0,
          concat(lit("  Question   "), qid, lit("  topic "), topic, lit(" ")))
          .otherwise(concat(lit("Question "), qid, lit(" topic "), topic)))
        .as("question"),
      when(id % 29 === 0, lit(null).cast("string"))
        .when(id % 29 === 1, lit("nan"))
        .when(id % 29 === 2, lit(""))
        .when(id % 29 === 3, lit("N/A"))
        .when(id % 29 === 4, lit("Not applicable."))
        .when(id % 29 === 5, lit("CONFIRMED"))
        .when(id % 29 === 6, lit("CONFIRMED."))
        .when(id % 29 === 7, lit("Confirmed via mail."))
        .when(id % 29 === 8, lit("Yes.  Confirmed."))
        .otherwise(concat(lit("Answer "), str(rid), lit(" for "), qid,
          lit(" "), repeat(lit("pad "), (rid * (lit(1) + id % 4)).cast("int"))))
        .as("response"),
      when(id % 13 === 0, lit(""))
        .when(id % 13 === 1, lit(null).cast("string"))
        .otherwise(concat(lit("SME "), str(id % 9))).as("sme"))
  }

  /** DuckDB CTE producing the identical frame; prepend to oracle SQL. */
  val sql: String =
    """WITH rfp AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN '  Client  ' || CAST(doc_id % 40 AS VARCHAR) || '  '
      |         ELSE 'Client ' || CAST(doc_id % 40 AS VARCHAR) END AS client,
      |    lang AS rfp_type,
      |    'Consult_' || CAST(doc_id % 7 AS VARCHAR) AS consultant,
      |    CASE doc_id % 5
      |      WHEN 0 THEN strftime(DATE '2023-01-01' + CAST((doc_id * 37) % 1400 AS INTEGER), '%m/%d/%Y')
      |      WHEN 1 THEN strftime(DATE '2023-01-01' + CAST((doc_id * 37) % 1400 AS INTEGER), '%Y-%m-%d')
      |      WHEN 2 THEN strftime(DATE '2023-01-01' + CAST((doc_id * 37) % 1400 AS INTEGER), '%d-%m-%Y')
      |      WHEN 3 THEN 'not a date'
      |      ELSE NULL END AS date,
      |    CASE doc_id % 23
      |      WHEN 0 THEN NULL WHEN 1 THEN 'none' WHEN 2 THEN 'None' WHEN 3 THEN 'Contact'
      |      ELSE CASE WHEN doc_id % 7 = 0
      |        THEN '  Question   ' || CAST(doc_id % 120 AS VARCHAR) || '  topic ' || CAST(doc_id % 5 AS VARCHAR) || ' '
      |        ELSE 'Question ' || CAST(doc_id % 120 AS VARCHAR) || ' topic ' || CAST(doc_id % 5 AS VARCHAR) END
      |      END AS question,
      |    CASE doc_id % 29
      |      WHEN 0 THEN NULL WHEN 1 THEN 'nan' WHEN 2 THEN '' WHEN 3 THEN 'N/A'
      |      WHEN 4 THEN 'Not applicable.' WHEN 5 THEN 'CONFIRMED' WHEN 6 THEN 'CONFIRMED.'
      |      WHEN 7 THEN 'Confirmed via mail.' WHEN 8 THEN 'Yes.  Confirmed.'
      |      ELSE 'Answer ' || CAST((doc_id // 120) % 3 AS VARCHAR) || ' for ' || CAST(doc_id % 120 AS VARCHAR) ||
      |       ' ' || repeat('pad ', CAST(((doc_id // 120) % 3) * (1 + doc_id % 4) AS INTEGER)) END AS response,
      |    CASE WHEN doc_id % 13 = 0 THEN '' WHEN doc_id % 13 = 1 THEN NULL
      |         ELSE 'SME ' || CAST(doc_id % 9 AS VARCHAR) END AS sme
      |  FROM documents
      |)""".stripMargin

  /** DuckDB CTE for the cleaned frame (mirrors ops.Clean.cleanRfp). */
  val cleanedSql: String = {
    def norm(c: String) = s"trim(regexp_replace($c, '\\s+', ' ', 'g'))"
    s"""$sql, cleaned AS (
       |  SELECT * FROM (
       |    SELECT doc_id,
       |      ${norm("client")} AS client,
       |      ${norm("rfp_type")} AS rfp_type,
       |      ${norm("consultant")} AS consultant,
       |      COALESCE(try_strptime(${norm("date")}, '%m/%d/%Y'),
       |               try_strptime(${norm("date")}, '%Y-%m-%d'),
       |               try_strptime(${norm("date")}, '%d-%m-%Y'))::DATE AS date,
       |      ${norm("question")} AS question,
       |      ${norm("response")} AS response,
       |      ${norm("sme")} AS sme
       |    FROM rfp)
       |  WHERE date IS NOT NULL AND date >= DATE '$cutoff'
       |    AND question IS NOT NULL AND lower(question) NOT IN ('none','nan')
       |    AND response IS NOT NULL AND lower(response) NOT IN ('none','nan')
       |    AND length(response) <> 0
       |    AND lower(response) NOT IN ('n/a','not applicable.')
       |    AND lower(question) <> 'contact'
       |)""".stripMargin
  }
}
