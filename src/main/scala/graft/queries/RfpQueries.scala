package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, RfpSynth, Tables}
import graft.ops.{Clean, Dedup, Keys}

/** The reference's RFP-pipeline semantics (SURVEY §2.2-§2.5) as engine
  * queries over the synthesized dirty frame ([[RfpSynth]]).
  */
object RfpQueries {

  /** The cleaned RFP frame every RFP-family query starts from. */
  private[queries] def cleaned(s: SparkSession, dir: String): DataFrame =
    Clean.cleanRfp(RfpSynth.load(s, dir))

  /** Dates cross the engine/oracle boundary as 'yyyy-MM-dd' strings —
    * parquet DATE and DuckDB DATE round-trip through the harness with
    * different physical types. */
  private def fmtDate(df: DataFrame): DataFrame =
    df.withColumn("date", date_format(col("date"), "yyyy-MM-dd"))

  /** q_clean — the full E2 cleaning chain (P1,P2,P3,P5,P6,P8,P10,P11). */
  val qClean = Q("q_clean",
    (s, dir) => fmtDate(cleaned(s, dir)),
    Some(s"""${RfpSynth.cleanedSql}
            |SELECT doc_id, client, rfp_type, consultant,
            |  strftime(date, '%Y-%m-%d') AS date, question, response, sme
            |FROM cleaned""".stripMargin),
    "ref commercial_rfp_raw_data_ingestion_and_cleaning.py:179-241")

  /** q_keys — K1 business key + K2 md5 key hash on the RAW frame
    * (reference computes keys before cleaning, :291 vs :297). */
  val qKeys = Q("q_keys",
    (s, dir) => Keys.addRfpKeys(RfpSynth.load(s, dir))
      .select("doc_id", "key", "key_hash"),
    Some(s"""${RfpSynth.sql}
      |SELECT doc_id, key,
      |  'RFP_Content_' || md5(substring(regexp_replace(key, '\\s+', '', 'g'), 1, 120)) AS key_hash
      |FROM (
      |  SELECT doc_id, concat_ws('_',
      |    trim(client),
      |    COALESCE(strftime(COALESCE(
      |      try_strptime(date, '%m/%d/%Y'),
      |      try_strptime(date, '%Y-%m-%d'),
      |      try_strptime(date, '%d-%m-%Y')), '%Y-%m-%d'), 'nan'),
      |    trim(rfp_type),
      |    trim(consultant),
      |    substring(trim(question), 1, 120),
      |    substring(trim(response), 1, 120)) AS key
      |  FROM rfp)""".stripMargin),
    "ref :32-78 (_key_from_hash, _add_rfp_keys)")

  /** q_keys_sha — K2's sha256 algo branch (the reference's _key_from_hash
    * dispatches on algorithm, :38-49; md5 is covered by q_keys). sha1 has
    * no DuckDB counterpart, so it is oracle-checked in KeysSpec against
    * java.security.MessageDigest instead. */
  val qKeysSha = Q("q_keys_sha",
    (s, dir) => {
      val k = Keys.addRfpKeys(RfpSynth.load(s, dir))
      k.select(col("doc_id"),
        Keys.keyHash(col("key"), "sha256").as("key_hash_sha256"))
    },
    Some(s"""${RfpSynth.sql}
      |SELECT doc_id,
      |  'RFP_Content_' || sha256(substring(regexp_replace(key, '\\s+', '', 'g'), 1, 120)) AS key_hash_sha256
      |FROM (
      |  SELECT doc_id, concat_ws('_',
      |    trim(client),
      |    COALESCE(strftime(COALESCE(
      |      try_strptime(date, '%m/%d/%Y'),
      |      try_strptime(date, '%Y-%m-%d'),
      |      try_strptime(date, '%d-%m-%Y')), '%Y-%m-%d'), 'nan'),
      |    trim(rfp_type),
      |    trim(consultant),
      |    substring(trim(question), 1, 120),
      |    substring(trim(response), 1, 120)) AS key
      |  FROM rfp)""".stripMargin),
    "ref :38-49 (K2 algorithm dispatch, sha256 branch)")

  /** q_canon — P14 Confirmed canonicalization over cleaned responses. */
  val qCanon = Q("q_canon",
    (s, dir) => cleaned(s, dir)
      .select(col("doc_id"),
        Keys.canonicalizeConfirmed(col("response")).as("response")),
    Some(s"""${RfpSynth.cleanedSql}
      |SELECT doc_id,
      |  regexp_replace(response,
      |    '(?i)(CONFIRMED|CONFIRMED\\.|Confirmed via BlueInsights\\.|Confirmed via mail\\.|Confirmed\\.|Yes\\.\\s*Confirmed\\.)',
      |    'Confirmed', 'g') AS response
      |FROM cleaned""".stripMargin),
    "ref :306-310")

  /** q_dup_count — A1/A2 duplicate-group census. */
  val qDupCount = Q("q_dup_count",
    (s, dir) => Dedup.duplicateGroups(cleaned(s, dir),
      Seq("question", "response")),
    Some(s"""${RfpSynth.cleanedSql}
      |SELECT question, response, count(*) AS cnt FROM cleaned
      |GROUP BY question, response HAVING count(*) > 1""".stripMargin),
    "ref :245-250")

  /** q_dedup_exact — A4 first-wins exact dedup, deterministic order
    * (date, doc_id). */
  val qDedupExact = Q("q_dedup_exact",
    (s, dir) => fmtDate(Dedup.dedupExact(cleaned(s, dir),
      Seq("question", "response"), Seq("date", "doc_id"))
      .select("doc_id", "question", "response", "date")),
    Some(s"""${RfpSynth.cleanedSql}
      |SELECT doc_id, question, response, strftime(date, '%Y-%m-%d') AS date
      |FROM cleaned
      |QUALIFY row_number() OVER (
      |  PARTITION BY question, response ORDER BY date, doc_id) = 1""".stripMargin),
    "ref :251; SURVEY divergence 2 (explicit tiebreak)")

  /** q_latest_per_q — A6 intended semantics: per question keep rows at the
    * question's own max date (SURVEY divergence 1: the reference's global
    * isin is a bug; engine implements per-group latest). */
  val qLatestPerQ = Q("q_latest_per_q",
    (s, dir) => fmtDate(Dedup.latestPerGroup(cleaned(s, dir), "question", "date")
      .select("doc_id", "question", "date")),
    Some(s"""${RfpSynth.cleanedSql}
      |SELECT doc_id, question, strftime(date, '%Y-%m-%d') AS date FROM cleaned
      |QUALIFY date = max(date) OVER (PARTITION BY question)""".stripMargin),
    "ref :257-268, intended semantics")

  /** q_longest_resp — A7 argmax-per-group with deterministic tiebreak. */
  val qLongestResp = Q("q_longest_resp",
    (s, dir) => Dedup.longestPerGroup(cleaned(s, dir),
      "question", "response", "doc_id")
      .select(col("doc_id"), col("question"), col("response"),
        length(col("response")).as("char_count")),
    Some(s"""${RfpSynth.cleanedSql}
      |SELECT doc_id, question, response, length(response) AS char_count
      |FROM cleaned
      |QUALIFY row_number() OVER (
      |  PARTITION BY question
      |  ORDER BY length(response) DESC, doc_id) = 1""".stripMargin),
    "ref :270-276 (idxmax keeps first; tiebreak doc_id)")

  /** Synthetic citation-mapping frame for A8/A9 (FIXTURES.md A3): duplicate
    * file_names by doc_id % 200, ingest ordinal = doc_id. */
  private val mappingSql =
    """WITH mapping AS (
      |  SELECT
      |    'RFP_Content_' || md5('f' || CAST(doc_id % 200 AS VARCHAR)) || '.docx' AS file_name,
      |    'https://sp.example/preview/' || CAST(doc_id AS VARCHAR) AS preview_url,
      |    doc_id AS ordinal
      |  FROM documents
      |)""".stripMargin

  private def mapping(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      concat(lit("RFP_Content_"),
        md5(concat(lit("f"), (col("doc_id") % 200).cast("string"))),
        lit(".docx")).as("file_name"),
      concat(lit("https://sp.example/preview/"),
        col("doc_id").cast("string")).as("preview_url"),
      col("doc_id").as("ordinal"))

  /** q_lastwins — A9 last-occurrence-wins unique mapping keys. */
  val qLastWins = Q("q_lastwins",
    (s, dir) => Dedup.lastWins(mapping(s, dir), "file_name", "ordinal")
      .select("file_name", "preview_url"),
    Some(s"""$mappingSql
      |SELECT file_name, preview_url FROM mapping
      |QUALIFY row_number() OVER (
      |  PARTITION BY file_name ORDER BY ordinal DESC) = 1""".stripMargin),
    "ref commercial_rfp_content_citation_upload_mapping_creation.py:207")

  /** q_dup_keys — A8 duplicate-key audit on the mapping. */
  val qDupKeys = Q("q_dup_keys",
    (s, dir) => Dedup.duplicateKeys(mapping(s, dir), "file_name"),
    Some(s"""$mappingSql
      |SELECT file_name, count(*) AS cnt FROM mapping
      |GROUP BY file_name HAVING count(*) > 1""".stripMargin),
    "ref :195-204")

  def all: Seq[Q] = Seq(qClean, qKeys, qKeysSha, qCanon, qDupCount,
    qDedupExact, qLatestPerQ, qLongestResp, qLastWins, qDupKeys)
}
