package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.RfpSynth

/** Cleaning stage of the reference's E2 dataflow, Spark-first.
  *
  * Reference: commercial_rfp_raw_data_ingestion_and_cleaning.py:179-241
  * (`clean_data`) — operators P1-P13 of SURVEY.md §2.2. Everything here is
  * a narrow projection/filter over codegen'd built-ins, so at 100 TB the
  * whole chain is one WholeStageCodegen stage over the scan with zero
  * shuffles. [[cleanRfp]] computes the cleaned columns in one projection
  * and filters them above an [[evaluateOnce]] barrier, so the filters read
  * the computed values instead of re-deriving them in the scan.
  */
object Clean {

  /** P1 — lower-case all column names
    * (ref commercial_rfp_raw_data_ingestion_and_cleaning.py:182). */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  /** P2 — collapse whitespace runs and trim, every *string* column,
    * schema-driven (ref :183 `applymap`). The reference stringifies all
    * cells; we keep non-string columns typed (SURVEY §2 divergence note 4)
    * and rely on the paired 'nan'/'none' literal filters for parity. */
  def normalizeWhitespace(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType) normWs(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def normWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** P3 — multi-format date parse (ref :169-177): try M/d/yyyy, then
    * yyyy-M-d, then d-M-yyyy; unparseable → null. try_to_date keeps the
    * chain ANSI-safe (Spark 4 has ANSI mode on by default). */
  def parseDateMulti(c: Column): Column = coalesce(
    try_to_date(c, "M/d/yyyy"),
    try_to_date(c, "y-M-d"),
    try_to_date(c, "d-M-y"))

  /** P5 + P6 — drop null dates, keep a 36-month recency horizon relative
    * to a *parameter* asOf (ref :202,206-208; divergence note 3). */
  def recencyFilter(df: DataFrame, dateCol: String, asOf: String): DataFrame =
    df.filter(col(dateCol).isNotNull &&
      col(dateCol) >= add_months(lit(java.sql.Date.valueOf(asOf)), -36))

  /** P8 — drop null / literal 'none' / 'nan' question & response
    * (ref :221-228; 'nan' exists because the reference stringified NaN). */
  def dropNullLiterals(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.filter(col(c).isNotNull && !lower(col(c)).isin("none", "nan")))

  /** P10 — drop empty responses (ref :230-231). */
  def dropEmpty(df: DataFrame, c: String): DataFrame =
    df.filter(length(col(c)) =!= 0)

  /** P11 — stop-value filters (ref :234,237). */
  def dropStopValues(df: DataFrame): DataFrame =
    df.filter(!lower(col("response")).isin("n/a", "not applicable.") &&
      lower(col("question")) =!= "contact")

  /** Passes every row through a one-row generator
    * (`inline(array(struct(cols…)))`). Catalyst pushes no predicate on a
    * generator's output below the Generate, so filters above this barrier
    * read the columns the projection below it computed, instead of having
    * the projection's expressions substituted into a scan-side Filter and
    * evaluated once per predicate reference and again in the Project. */
  def evaluateOnce(df: DataFrame): DataFrame =
    df.select(inline(array(struct(df.columns.toIndexedSeq.map(col): _*))))

  /** The full cleaning chain over an RFP-shaped frame — the reference's
    * `clean_data` (:179-241) as one narrow pipeline: whitespace
    * normalization and the date parse run once per row in one projection,
    * the P5-P11 filters run on its output above [[evaluateOnce]]. */
  def cleanRfp(raw: DataFrame, asOf: String = RfpSynth.asOf): DataFrame = {
    val ws = normalizeWhitespace(normalizeColumnNames(raw))
    val dated = evaluateOnce(ws.withColumn("date", parseDateMulti(col("date"))))
    val recent = recencyFilter(dated, "date", asOf)
    dropStopValues(
      dropEmpty(
        dropNullLiterals(recent, Seq("question", "response")), "response"))
  }
}
