package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup family (SURVEY §2.4 A1-A9), Spark-first.
  *
  * Reference: commercial_rfp_raw_data_ingestion_and_cleaning.py:244-276 and
  * commercial_rfp_content_citation_upload_mapping_creation.py:195-207.
  *
  * Design notes for scale:
  *  - Every dedup is a single hash-partitioned window or aggregation on the
  *    group key — one shuffle, partial aggregation map-side where possible,
  *    no collect. AQE skew handling covers the aggregate paths.
  *  - pandas `drop_duplicates`/`idxmax` keep the *first* row in frame
  *    order; Spark has no stable order, so every operator takes an explicit
  *    deterministic tiebreaker (SURVEY divergence note 2).
  */
object Dedup {

  /** A1-A2 — duplicate-group census: per (question,response) count, keep
    * groups with >1 row (ref :245-247). */
  def duplicateGroups(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** A4 — exact dedup on (question,response), deterministic first-wins:
    * earliest date, then lowest tiebreaker column (ref :251). */
  def dedupExact(df: DataFrame, keys: Seq[String],
                 orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A5/A6 (intended semantics) — keep, per question, the rows carrying
    * that question's own max date (ref :257-268; the reference's global
    * `isin` is a documented bug — SURVEY divergence note 1). Window-max
    * avoids a join: one shuffle on the group key. */
  def latestPerGroup(df: DataFrame, key: String, dateCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
    df.withColumn("__mx", max(col(dateCol)).over(w))
      .filter(col(dateCol) === col("__mx"))
      .drop("__mx")
  }

  /** A7 — per question keep the single longest response, ties broken by a
    * deterministic id (ref :270-276, pandas idxmax keeps first). */
  def longestPerGroup(df: DataFrame, key: String, lenOf: String,
                      tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(length(col(lenOf)).desc, col(tiebreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A9 — last-wins unique key (ref citation mapping :207,
    * drop_duplicates(keep='last')): requires an explicit ingest ordinal
    * (monotonically_increasing_id at ingest, or a source column). */
  def lastWins(df: DataFrame, key: String, ordinal: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ordinal).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A8 — duplicate-key audit: keys occurring more than once (ref :195-204). */
  def duplicateKeys(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)

  /** Incremental (delta) dedup, exact: rows of `batch` whose `keyCol` is
    * NOT present in `corpus` — the snapshot-over-snapshot ingestion
    * pattern (dedupe today's crawl against everything already kept).
    * One anti-join shuffle on the hash key; the corpus side reduces to
    * distinct keys first so the join never moves corpus payloads. */
  def deltaDedup(batch: DataFrame, corpus: DataFrame,
                 keyCol: String): DataFrame =
    batch.join(corpus.select(keyCol).distinct(), Seq(keyCol), "left_anti")
}
