package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.ops.{Chunk, KMeans, Sample, Shingles, Vectors}

/** North-star similarity family over `documents` / `embeddings`:
  * chunking (V1/V4), exact + approximate cosine retrieval (V3), and the
  * dedup ladder (exact content hash → MinHash/LSH near-dup → SimHash →
  * embedding-cosine near-dup).
  *
  * Near-dup queries need near-duplicates to exist, so they run over a
  * deterministic augmented corpus: the base table unioned with exact
  * copies (doc_id+2e6 / vec_id shifts) and slightly perturbed variants
  * (doc_id+1e6: two appended tokens; vec_id+1e6: x*1.01+0.001). Both
  * sides — Spark and the DuckDB oracle — construct the identical corpus.
  *
  * Scale posture: no all-pairs joins anywhere. Candidates form only inside
  * LSH buckets (equi-joins); exact kNN is a broadcast of the small query
  * set against a linear scan; signatures/fingerprints are single-shuffle
  * aggregations.
  */
object SimilarityQueries {

  // ------------------------------------------------------------ corpora ---

  /** documents + near-dup variants; mirrors [[corpusSql]]. */
  private[graft] def docCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionAll(
        d.filter(col("doc_id") % 10 === 5).select(
          (col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zz yy")).as("text")))
      .unionAll(
        d.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 2000000).as("doc_id"), col("text")))
  }

  private[queries] val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' zz yy' FROM documents WHERE doc_id % 10 = 5
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  private[queries] val shingSql =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
      |shing AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM toks, unnest(generate_series(1, len(w)-2)) AS g(i)
      |  WHERE len(w) >= 3
      |)""".stripMargin

  /** embeddings + perturbed near-dup variants; mirrors [[vcorpusSql]].
    * The perturbation arithmetic (float→double, *1.01, +0.001, cast back
    * to float) is IEEE-identical in both engines. */
  private def vecCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    e.unionAll(
      e.filter(col("vec_id") % 10 === 3).select(
        (col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(1.01) + lit(0.001)).cast("float")).as("embedding")))
  }

  private val vcorpusSql =
    """vcorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |         list_transform(embedding, x -> CAST(x * 1.01 + 0.001 AS FLOAT))
      |  FROM embeddings WHERE vec_id % 10 = 3
      |)""".stripMargin

  /** Fixed-point-exact dot/norm triple over parallel-unnested lists — the
    * oracle analog of [[Vectors.dotExact]] (see its scaladoc for why
    * scaled-long summation makes both engines bit-identical).
    *
    * The inner `CAST(SUM(...) AS BIGINT)` is load-bearing: DuckDB's
    * SUM(BIGINT) returns HUGEINT, and its int128→double conversion
    * TRUNCATES instead of rounding to nearest — above 2^53 that lands 1
    * ULP away from Scala's correctly-rounded `Long.toDouble` (~1% of
    * values; measured). Dropping to BIGINT first (always in range: ≤ 64
    * elements × 1e15) takes the correctly-rounded int64→double path. */
  private[queries] def dotsSql(src: String, aCol: String, bCol: String,
                      keys: String, prefix: String = ""): String =
    s"""${prefix}prod AS (
       |  SELECT $keys,
       |    CAST(unnest($aCol) AS DOUBLE) AS x, CAST(unnest($bCol) AS DOUBLE) AS y
       |  FROM $src
       |), ${prefix}dots AS (
       |  SELECT $keys,
       |    CAST(CAST(SUM(CAST(round(x*y*1e15) AS BIGINT)) AS BIGINT) AS DOUBLE)/1e15 AS dxy,
       |    CAST(CAST(SUM(CAST(round(x*x*1e15) AS BIGINT)) AS BIGINT) AS DOUBLE)/1e15 AS dxx,
       |    CAST(CAST(SUM(CAST(round(y*y*1e15) AS BIGINT)) AS BIGINT) AS DOUBLE)/1e15 AS dyy
       |  FROM ${prefix}prod GROUP BY $keys
       |)""".stripMargin

  /** Buckets CTE shared by the LSH oracles (mirrors [[Vectors.lshBucket]]:
    * 6 md5-derived hyperplanes, fixed-point-exact sign). */
  private def bucketsSql(src: String): String =
    s"""elems AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         unnest(generate_series(0, len(embedding)-1)) AS i
       |  FROM $src
       |), planes AS (
       |  SELECT p, i,
       |    CAST(('0x' || substr(md5(p || '_' || i), 1, 4))::BIGINT AS DOUBLE)/65536.0 - 0.5 AS w
       |  FROM unnest(generate_series(0, 5)) AS a(p), unnest(generate_series(0, 63)) AS b(i)
       |), buckets AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN sgn > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT e.vec_id, pl.p, (CAST(1 AS BIGINT) << pl.p) AS pw,
       |      CASE WHEN SUM(CAST(round(e.x * pl.w * 1e15) AS BIGINT)) > 0 THEN 1 ELSE 0 END AS sgn
       |    FROM elems e JOIN planes pl ON e.i = pl.i
       |    GROUP BY e.vec_id, pl.p
       |  ) t GROUP BY vec_id
       |)""".stripMargin

  private val numPlanes = 6
  private val embDims = 64
  /** Near-dup banding for q_embed_dup: 4 bands × 16 planes, the same
    * band/bucket geometry as the SimHash path — each band keys on a
    * 16-bit signature (~65k buckets per band), so within-bucket candidate
    * pair counts shrink as (corpus/65k)² per band instead of the old
    * single-band (corpus/64)². A cos≥0.99 pair agrees with a random
    * hyperplane w.p. ≈ 1−θ/π ≈ 0.955, survives a 16-plane band w.p.
    * 0.955¹⁶ ≈ 0.48, and is caught by ≥1 of 4 bands w.p. ≈ 0.93 —
    * better recall than the old 6-plane single bucket (0.955⁶ ≈ 0.76). */
  private val embBands = 4
  private val embRowsPerBand = 16

  /** Retrieval query-set contract: the query side of every kNN/ANN query
    * is O(1) in corpus size — `vec_id % 100 = 0` picks the spread, and the
    * `vec_id < 3200` cap bounds it at ≤32 queries no matter how large the
    * corpus grows. q_knn broadcasts its query set into a nested-loop join
    * against a linear scan, so an uncapped query set would make the
    * broadcast grow with the corpus — the textbook scale-killer. The ANN
    * variants join bucket-equi instead, but share the cap so all four
    * queries rank the same workload. (At the test SFs max vec_id < 3200,
    * so the cap changes no result.) */
  private[queries] val maxQueryId = 3200
  private[queries] def isQuery: Column = col("vec_id") % 100 === 0 &&
    col("vec_id") < maxQueryId
  private[queries] def queryPredSql(a: String = ""): String =
    s"${a}vec_id % 100 = 0 AND ${a}vec_id < $maxQueryId"
  /** LSH bucket cap for q_near_dup (Shingles.capBuckets): far above any
    * honest bucket at test SFs — the guard exists for the degenerate
    * boilerplate bucket at corpus scale; mirrored in the oracle. */
  private val maxBucket = 1000

  /** minh → bands → capped bands_c CTEs shared by the near-dup oracles
    * (mirrors [[nearDupBands]]; the cap is [[maxBucket]]). */
  private val bandsCSql = s"""minh AS (
    |  SELECT doc_id,
    |    min(substr(md5('0:' || s), 1, 8)) AS h0, min(substr(md5('0:' || s), 9, 8)) AS h1,
    |    min(substr(md5('0:' || s), 17, 8)) AS h2, min(substr(md5('0:' || s), 25, 8)) AS h3,
    |    min(substr(md5('1:' || s), 1, 8)) AS h4, min(substr(md5('1:' || s), 9, 8)) AS h5,
    |    min(substr(md5('1:' || s), 17, 8)) AS h6, min(substr(md5('1:' || s), 25, 8)) AS h7
    |  FROM shing GROUP BY doc_id
    |), bands AS (
    |  SELECT doc_id, 0 AS band, h0 || h1 AS sig FROM minh
    |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM minh
    |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM minh
    |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM minh
    |), bsz AS (
    |  SELECT band, sig, count(*) AS n FROM bands GROUP BY 1, 2
    |), bands_c AS (
    |  SELECT b.doc_id, b.band, b.sig FROM bands b
    |  JOIN bsz ON bsz.band = b.band AND bsz.sig = b.sig
    |  WHERE bsz.n <= $maxBucket
    |)""".stripMargin

  /** sizes + inter CTEs — exact shingle-intersection counts for a `cand`
    * (doc_a, doc_b) CTE; mirrors [[jaccardPairs]]. */
  private val jaccardSql =
    """sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS ni
      |  FROM cand c
      |    JOIN shing sa ON sa.doc_id = c.doc_a
      |    JOIN shing sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
      |  GROUP BY 1, 2
      |)""".stripMargin

  // ------------------------------------------------------------ queries ---

  /** q_chunk — V1/V4 overlapping chunker with parent/child rows. The
    * reference's 2000/500 SplitSkill parameters are [[Chunk.refMaxLen]];
    * the query uses 120/30 so the short testdata documents actually split
    * into multiple chunks. */
  val qChunk = Q("q_chunk",
    (s, dir) => Chunk.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
      maxLen = 120, overlap = 30),
    Some("""WITH offs AS (
      |  SELECT doc_id, text, i AS off
      |  FROM documents, unnest(generate_series(0, greatest(length(text)-1, 0), 90)) AS g(i)
      |  WHERE i = 0 OR i < length(text) - 30
      |)
      |SELECT doc_id AS parent_id,
      |  doc_id || '_' || CAST(off // 90 AS VARCHAR) AS chunk_id,
      |  off // 90 AS chunk_idx,
      |  substring(text, off+1, 120) AS chunk
      |FROM offs""".stripMargin),
    "ref commercial_rfp_indexer.py:164-176,192-209")

  /** Adds double-vector `v` and its decimal-exact squared norm `dxx`. */
  private[queries] def withNorm(e: DataFrame): DataFrame = {
    val v = Vectors.toDoubleArr(col("embedding"))
    e.withColumn("v", v)
      .withColumn("dxx", Vectors.dotExact(col("v"), col("v")))
      .drop("embedding")
  }

  private[queries] def topK(pairs: DataFrame, k: Int, outCols: Seq[String]): DataFrame = {
    val score = round(Vectors.cosineFromParts(
      Vectors.dotExact(col("v"), col("qv")), col("dxx"), col("qxx")), 6)
    pairs.withColumn("score", score)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("nbr_id"))))
      .filter(col("rk") <= k)
      .select(outCols.map(col): _*)
  }

  /** q_knn — exact brute-force cosine top-5: broadcast the (small) query
    * set, one linear codegen'd scan over the corpus, one shuffle for the
    * per-query ranking window. The correctness baseline for q_ann_lsh. */
  val qKnn = Q("q_knn",
    (s, dir) => {
      val base = withNorm(Tables.embeddings(s, dir))
      val qs = base.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("dxx").as("qxx"))
      val pairs = base.withColumnRenamed("vec_id", "nbr_id")
        .crossJoin(broadcast(qs))
        .filter(col("nbr_id") =!= col("query_id"))
      topK(pairs, 5, Seq("query_id", "rk", "nbr_id", "label", "score"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE ${queryPredSql()}),
      |pairs AS (
      |  SELECT e.vec_id AS nbr_id, e.label, q.query_id, e.embedding AS nv, q.qv
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
      |), """.stripMargin +
      dotsSql("pairs", "nv", "qv", "query_id, nbr_id, label") + """
      |SELECT query_id, rk, nbr_id, label, score FROM (
      |  SELECT query_id, nbr_id, label,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM dots) t WHERE rk <= 5""".stripMargin),
    "ref commercial_rfp_indexer.py:95-124 (exhaustive-KNN fallback)")

  /** Single-table LSH over any (vec_id, embedding) frame — the body of
    * [[qAnnLsh]], reused by the clustered-fixture recall query. */
  /** The single-table bucketed+normed corpus frame — the shared input of
    * the lsh and mp rungs (identical planes, identical projection); the
    * recall scorecard materializes it once per side and passes it to
    * both ([[annRecallFrom]]). */
  private def bucketedNorm(emb: DataFrame): DataFrame = {
    val planes = Vectors.planeWeights(numPlanes, embDims)
    withNorm(emb.withColumn("bucket", Vectors.lshBucket(
      Vectors.toDoubleArr(col("embedding")), planes)))
  }

  private def annLshFrom(emb: DataFrame,
      preBucketed: Option[DataFrame] = None): DataFrame = {
    val base = preBucketed.getOrElse(bucketedNorm(emb))
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("dxx").as("qxx"), col("bucket").as("qbucket"))
    val pairs = base.withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(qs), col("bucket") === col("qbucket") &&
        col("nbr_id") =!= col("query_id"))
    topK(pairs, 3, Seq("query_id", "rk", "nbr_id", "score"))
  }

  /** q_ann_lsh — the approximate scale path: 6-plane random-hyperplane
    * LSH; candidates only within the query's bucket, exact rerank inside.
    * Bucket assignment is a pure projection (plane constants inlined). */
  val qAnnLsh = Q("q_ann_lsh",
    (s, dir) => annLshFrom(Tables.embeddings(s, dir)),
    Some("WITH " + bucketsSql("embeddings") + s""",
      |q AS (
      |  SELECT b.vec_id AS query_id, b.bucket, e.embedding AS qv
      |  FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id
      |  WHERE ${queryPredSql("b.")}
      |), cand AS (
      |  SELECT q.query_id, q.qv, b.vec_id AS nbr_id, e.embedding AS nv
      |  FROM q JOIN buckets b ON b.bucket = q.bucket AND b.vec_id <> q.query_id
      |       JOIN embeddings e ON e.vec_id = b.vec_id
      |), """.stripMargin +
      dotsSql("cand", "nv", "qv", "query_id, nbr_id") + """
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM dots) t WHERE rk <= 3""".stripMargin),
    "ref commercial_rfp_indexer.py:95-124 (HNSW analog, LSH-bucketed)")

  /** q_ann_mp — multi-probe LSH: each query probes its own bucket PLUS
    * the `numPlanes` Hamming-distance-1 buckets (one sign bit flipped) —
    * the standard recall fix for near-boundary misses, at probe-count
    * (not corpus) cost. The corpus side is unchanged (one bucket per
    * vector), so a (query, neighbor) pair can meet through at most one
    * probe — no dedup needed. Probes explode on the BROADCAST query
    * side: the big side still sees a plain equi-join. */
  /** Multi-probe LSH over any (vec_id, embedding) frame — the body of
    * [[qAnnMp]]. */
  private def annMpFrom(emb: DataFrame,
      preBucketed: Option[DataFrame] = None): DataFrame = {
    val base = preBucketed.getOrElse(bucketedNorm(emb))
    val probeMasks = lit(0L) +: (0 until numPlanes).map(p => lit(1L << p))
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("dxx").as("qxx"),
        explode(array(probeMasks.map(m =>
          col("bucket").bitwiseXOR(m)): _*)).as("qbucket"))
    val pairs = base.withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(qs), col("bucket") === col("qbucket") &&
        col("nbr_id") =!= col("query_id"))
    topK(pairs, 3, Seq("query_id", "rk", "nbr_id", "score"))
  }

  val qAnnMp = Q("q_ann_mp",
    (s, dir) => annMpFrom(Tables.embeddings(s, dir)),
    Some("WITH " + bucketsSql("embeddings") + s""",
      |q AS (
      |  SELECT b.vec_id AS query_id, xor(b.bucket, m.mask) AS qbucket,
      |         e.embedding AS qv
      |  FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id,
      |       (SELECT unnest([0,1,2,4,8,16,32]) AS mask) m
      |  WHERE ${queryPredSql("b.")}
      |), cand AS (
      |  SELECT q.query_id, q.qv, b.vec_id AS nbr_id, e.embedding AS nv
      |  FROM q JOIN buckets b ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
      |       JOIN embeddings e ON e.vec_id = b.vec_id
      |), """.stripMargin +
      dotsSql("cand", "nv", "qv", "query_id, nbr_id") + """
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM dots) t WHERE rk <= 3""".stripMargin),
    "north star: multi-probe LSH (Hamming-1 probes, recall vs probe-count knob)")

  /** Number of independent hash tables for multi-table LSH. */
  private val lshTables = 3

  /** Multi-table signatures CTE → `mtb(vec_id, tbl, bucket)`: global
    * plane p ∈ [0, lshTables·numPlanes), table = p / numPlanes, bit
    * within table = p % numPlanes — the same md5 plane seeds as
    * [[bucketsSql]], so table 0 IS the single-table layout. */
  private def mtbSql(src: String): String = {
    val nPlanes = lshTables * numPlanes
    s"""elems_mt AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         unnest(generate_series(0, len(embedding)-1)) AS i
       |  FROM $src
       |), planes_mt AS (
       |  SELECT p, i,
       |    CAST(('0x' || substr(md5(p || '_' || i), 1, 4))::BIGINT AS DOUBLE)/65536.0 - 0.5 AS w
       |  FROM unnest(generate_series(0, ${nPlanes - 1})) AS a(p),
       |       unnest(generate_series(0, ${embDims - 1})) AS b(i)
       |), mtb AS (
       |  SELECT vec_id, p // $numPlanes AS tbl,
       |    CAST(SUM(CASE WHEN sgn = 1 THEN (CAST(1 AS BIGINT) << (p % $numPlanes)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT e.vec_id, pl.p,
       |      CASE WHEN SUM(CAST(round(e.x * pl.w * 1e15) AS BIGINT)) > 0 THEN 1 ELSE 0 END AS sgn
       |    FROM elems_mt e JOIN planes_mt pl ON e.i = pl.i
       |    GROUP BY e.vec_id, pl.p) s
       |  GROUP BY vec_id, p // $numPlanes
       |)""".stripMargin
  }

  /** Shared mt candidate-generation + exact-dot SQL (query side `tq`,
    * candidates from `mtb`, dot triples in `tdots`). */
  private def mtTailSql(src: String = "embeddings"): String =
    s"""tq AS (
       |  SELECT t.vec_id AS query_id, t.tbl, t.bucket
       |  FROM mtb t WHERE ${queryPredSql("t.")}
       |), tcand0 AS (
       |  SELECT DISTINCT q.query_id, b.vec_id AS nbr_id
       |  FROM tq q JOIN mtb b ON b.tbl = q.tbl AND b.bucket = q.bucket
       |    AND b.vec_id <> q.query_id
       |), tcand AS (
       |  SELECT c.query_id, c.nbr_id, e.embedding AS nv, eq.embedding AS qv
       |  FROM tcand0 c JOIN $src e ON e.vec_id = c.nbr_id
       |       JOIN $src eq ON eq.vec_id = c.query_id
       |), """.stripMargin +
      dotsSql("tcand", "nv", "qv", "query_id, nbr_id", "t")

  /** q_ann_mt — multi-table LSH (OR-amplification): L independent
    * 6-plane tables; a candidate needs to share a bucket with the query
    * in ANY table, so the miss probability multiplies across tables
    * (p_miss^L) — the standard recall lever orthogonal to multi-probe's
    * neighboring-bucket expansion. Table 0 uses exactly [[qAnnLsh]]'s
    * planes (same md5 seeds), so the candidate set is a strict superset
    * of single-table LSH (AnnSpec pins the dominance). Scale: the
    * corpus-side signature frame is L rows per vector — linear in L,
    * one fused codegen pass ([[Vectors.lshBandSigs]]) — and candidates
    * dedup on (query, nbr) before the exact rerank. */
  /** Multi-table LSH over any (vec_id, embedding) frame — the body of
    * [[qAnnMt]]. */
  private def annMtFrom(emb: DataFrame): DataFrame = {
    val planes = Vectors.planeWeights(lshTables * numPlanes, embDims)
    val base = withNorm(emb)
    val sigs = base.select(col("vec_id"),
        posexplode(Vectors.lshBandSigs(col("v"), planes, numPlanes)))
      .toDF("vec_id", "tbl", "bucket")
    val qsig = sigs.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val cand = sigs.join(broadcast(qsig), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nbr_id")).distinct()
    val qv = base.filter(isQuery).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("dxx").as("qxx"))
    val pairs = cand
      .join(base.select(col("vec_id").as("nbr_id"), col("v"), col("dxx")),
        "nbr_id")
      .join(broadcast(qv), "query_id")
    topK(pairs, 3, Seq("query_id", "rk", "nbr_id", "score"))
  }

  val qAnnMt = Q("q_ann_mt",
    (s, dir) => annMtFrom(Tables.embeddings(s, dir)),
    Some("WITH " + mtbSql("embeddings") + ",\n" + mtTailSql() + """
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM tdots) t WHERE rk <= 3""".stripMargin),
    "north star: multi-table LSH (OR-amplification, recall vs tables knob)")

  /** q_near_dup — MinHash(8, sliced) + LSH(4 bands × 2 rows) candidate
    * generation with a [[Shingles.capBuckets]] skew guard, exact 3-gram
    * Jaccard verification ≥ 0.5. Candidates form only inside a band
    * bucket — never all-pairs — and a degenerate bucket cannot go
    * quadratic. */
  /** Capped LSH band frame (doc_id, band, sig): ONE-PASS signature
    * projection (the custom codegen'd MinHashSlicedExpr — no shingle
    * explode, no signature groupBy shuffle; TextHashesSpec pins
    * bit-equality with the aggregation formulation the oracle mirrors)
    * → 4 bands of 2 slices, [[Shingles.capBuckets]] skew guard. Shared
    * by the all-pairs ([[qNearDup]]) and representative
    * ([[qNearDupRep]]) verification variants. Under-3-token documents
    * (null signature) are dropped on the banded `sig`, not on the
    * signature: a filter on the signature column is pushed below its
    * projection, which runs the MinHash a second time in the scan
    * filter, while a null signature simply bands into four null-`sig`
    * rows. */
  private def nearDupBands(corpus: DataFrame): DataFrame = {
    val sigTok = split(trim(col("text")), "\\s+")
    val sigs = corpus
      .select(col("doc_id"), Shingles.minhashSlicedCol(sigTok).as("s8"))
    def sl(i: Int) = element_at(col("s8"), i + 1)
    Shingles.capBuckets(
      sigs.select(col("doc_id"), posexplode(array(
          concat(sl(0), sl(1)), concat(sl(2), sl(3)),
          concat(sl(4), sl(5)), concat(sl(6), sl(7)))))
        .toDF("doc_id", "band", "sig")
        .filter(col("sig").isNotNull), cap = maxBucket)
  }

  /** Exact 3-gram Jaccard for candidate (doc_a, doc_b) pairs: pairs join
    * back to the corpus TEXT (small), and the Jaccard is computed only
    * for rows that survive the join — |candidates| kernel calls, not
    * 2×|corpus| set builds, which is the LSH premise (candidates ≪
    * corpus) paid out in the plan. The kernel
    * ([[Shingles.shingleJaccardCol]]) counts the distinct shingle
    * overlap in one hash-set pass without building shingle strings.
    * Callers filter the unrounded `jac` before display rounding, and
    * Catalyst pushes that filter into the second join's condition, so
    * the kernel runs twice per candidate pair (condition and
    * projection); that copy is what the kernel's cost makes harmless. */
  private def jaccardPairs(cand: DataFrame, corpus: DataFrame): DataFrame = {
    val wtok = split(trim(col("text")), "\\s+")
    cand
      .join(corpus.select(col("doc_id").as("doc_a"), wtok.as("wa")),
        "doc_a")
      .join(corpus.select(col("doc_id").as("doc_b"), wtok.as("wb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Shingles.shingleJaccardCol(col("wa"), col("wb")).as("jac"))
  }

  val qNearDup = Q("q_near_dup",
    (s, dir) => {
      // Shuffles: band join + two candidate-to-text joins only.
      val corpus = docCorpus(s, dir)
      val bands = nearDupBands(corpus)
      val cand = bands.toDF("doc_a", "band", "sig")
        .join(bands.toDF("doc_b", "band", "sig"), Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      jaccardPairs(cand, corpus)
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
    },
    Some("WITH " + corpusSql + ",\n" + shingSql + ",\n" + bandsCSql + """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands_c a JOIN bands_c b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      |), """.stripMargin + jaccardSql + """
      |SELECT i.doc_a, i.doc_b,
      |  round(CAST(i.ni AS DOUBLE)/(na.n + nb.n - i.ni), 6) AS jaccard
      |FROM inter i JOIN sizes na ON na.doc_id = i.doc_a
      |             JOIN sizes nb ON nb.doc_id = i.doc_b
      |WHERE CAST(i.ni AS DOUBLE)/(na.n + nb.n - i.ni) >= 0.5""".stripMargin),
    "north star: MinHash+LSH near-dup (ref has only exact dedup, :251)")

  /** q_near_dup_rep — near-dup with CLUSTER-REPRESENTATIVE verification:
    * same MinHash/LSH candidate generation as [[qNearDup]], but each
    * bucket member is verified ONLY against the bucket's representative
    * (min doc_id) instead of against every other member. Verified-pair
    * volume per bucket drops from C(n,2) to n−1 — linear in clique size
    * — which is the scale-safe shape for real corpora where boilerplate
    * pages form mega-duplicate families (measured on the 100× fixture:
    * the all-pairs variant verifies ~25M pairs; this one ~members).
    * Output is a canonical cluster assignment: (doc_id, rep_id, jaccard)
    * with rep_id the SMALLEST verified representative, so a doc landing
    * in several buckets still maps to one cluster deterministically.
    * Price, stated honestly: a member whose similarity to the
    * representative falls below the threshold is dropped even when an
    * all-pairs chain would have connected it — representative
    * verification trades that recall sliver for the n² term.
    * Shuffles: the rep min-aggregate folds onto the (band, sig)
    * exchange its bands subtree already pays for capBuckets (partial
    * min map-side, no exchange of its own), the rep join broadcasts
    * (reps ≤ one row per bucket), and the final per-doc pick adds one
    * exchange over the already-verified frame — where Spark 4's
    * WindowGroupLimit prunes to one row per doc BEFORE the shuffle. */
  val qNearDupRep = Q("q_near_dup_rep",
    (s, dir) => {
      val corpus = docCorpus(s, dir)
      val bands = nearDupBands(corpus)
      val reps = bands.groupBy("band", "sig")
        .agg(min(col("doc_id")).as("doc_a"))
      val cand = bands.join(reps, Seq("band", "sig"))
        .filter(col("doc_id") =!= col("doc_a"))
        .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_b").orderBy("doc_a")
      jaccardPairs(cand, corpus)
        .filter(col("jac") >= 0.5)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_b").as("doc_id"), col("doc_a").as("rep_id"),
          round(col("jac"), 6).as("jaccard"))
    },
    Some("WITH " + corpusSql + ",\n" + shingSql + ",\n" + bandsCSql + """,
      |rep AS (
      |  SELECT band, sig, min(doc_id) AS rep FROM bands_c GROUP BY 1, 2
      |), cand AS (
      |  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
      |  FROM bands_c b JOIN rep r ON r.band = b.band AND r.sig = b.sig
      |  WHERE b.doc_id <> r.rep
      |), """.stripMargin + jaccardSql + """
      |SELECT doc_id, rep_id, jaccard FROM (
      |  SELECT i.doc_b AS doc_id, i.doc_a AS rep_id,
      |    round(CAST(i.ni AS DOUBLE)/(na.n + nb.n - i.ni), 6) AS jaccard,
      |    row_number() OVER (PARTITION BY i.doc_b ORDER BY i.doc_a) AS rk
      |  FROM inter i JOIN sizes na ON na.doc_id = i.doc_a
      |               JOIN sizes nb ON nb.doc_id = i.doc_b
      |  WHERE CAST(i.ni AS DOUBLE)/(na.n + nb.n - i.ni) >= 0.5
      |) WHERE rk = 1""".stripMargin),
    "north star: near-dup with linear cluster-representative verification")

  /** q_jaccard — exact n-gram Jaccard similarity scoring as its own
    * operator (the verification kernel of q_near_dup, standalone): each
    * base doc vs its known perturbed variant, paired by an EQUI-join on
    * the id offset (similarity scoring never needs more than the pairing
    * key — the all-pairs version is q_near_dup's LSH job). */
  val qJaccard = Q("q_jaccard",
    (s, dir) => {
      val wtok = split(trim(col("text")), "\\s+")
      val corpus = docCorpus(s, dir)
      val base = corpus.filter(col("doc_id") < 1000000)
        .select(col("doc_id"), wtok.as("wa"))
      val variant = corpus.filter(
          col("doc_id") >= 1000000 && col("doc_id") < 2000000)
        .select((col("doc_id") - 1000000).as("doc_id"), wtok.as("wb"))
      base.join(variant, "doc_id")
        // both sides need >= 3 tokens (mirrors the oracle's shing CTE,
        // which only materializes docs that have shingles at all)
        .filter(size(col("wa")) >= 3 && size(col("wb")) >= 3)
        .select(col("doc_id"), round(
          Shingles.shingleJaccardCol(col("wa"), col("wb")), 6).as("jaccard"))
    },
    Some("WITH " + corpusSql + ",\n" + shingSql + """,
      |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id, count(*) AS ni
      |  FROM shing a JOIN shing b
      |    ON b.doc_id = a.doc_id + 1000000 AND b.s = a.s
      |  GROUP BY a.doc_id
      |)
      |SELECT na.doc_id,
      |  round(CAST(COALESCE(i.ni, 0) AS DOUBLE)
      |        / (na.n + nb.n - COALESCE(i.ni, 0)), 6) AS jaccard
      |FROM sizes na JOIN sizes nb ON nb.doc_id = na.doc_id + 1000000
      |LEFT JOIN inter i ON i.doc_id = na.doc_id
      |WHERE na.n + nb.n - COALESCE(i.ni, 0) > 0""".stripMargin),
    "north star: exact n-gram Jaccard similarity scoring")

  /** q_containment — ASYMMETRIC near-dup scoring: shingle containment
    * C(A→B) = |S(A) ∩ S(B)| / |S(A)| (Broder's containment, the measure
    * behind quote/excerpt detection) next to symmetric Jaccard. A short
    * document fully embedded in a long one scores C ≈ 1 while Jaccard
    * sits near |A|/|B| — exactly the doc-in-doc case a dedup pipeline's
    * symmetric threshold misses (the composite keeps the content; the
    * contained source is the redundant row). The fixture constructs the
    * case: for every doc_id ≡ 0 (mod 20), a COMPOSITE document
    * (id + 3e6) concatenates that doc and its successor; each composite
    * is scored against both sources (containment ≈ 1, Jaccard ≈ ½) and
    * the two sources against each other (both low — the control pair).
    * Contiguous embedding ⇒ every 3-gram shingle of a source appears in
    * its composite except none (shingles are windowed within the
    * concatenation), so source→composite containment is exactly 1.0
    * unless a source shingle ALSO spans into new cross-boundary
    * trigrams — which add to S(B), not S(A).
    *
    * Scale shape: pair-keyed joins on known ids (the q_jaccard
    * construction discipline); at corpus scale the candidate pairs come
    * from the LSH bucket join and this scoring is the per-pair verify
    * kernel — one shingle-overlap pass over two bounded token arrays. */
  val qContainment = Q("q_containment",
    (s, dir) => {
      val wtok = split(trim(col("text")), "\\s+")
      // loadSpread: the shingle-set projection is the cost center and
      // sat on the single-file scan's one core (guide §2.5)
      val d = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("text"))
      val comp = d.as("a").join(d.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id"))
        .filter(col("a.doc_id") % 20 === 0)
        .select((col("a.doc_id") + 3000000).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      val corpus = d.unionAll(comp)
      val pairs = comp.select((col("doc_id") - 3000000).as("src_id"),
          col("doc_id").as("whole_id"))
        .unionAll(comp.select((col("doc_id") - 3000000 + 1).as("src_id"),
          col("doc_id").as("whole_id")))
        .unionAll(comp.select((col("doc_id") - 3000000).as("src_id"),
          (col("doc_id") - 3000000 + 1).as("whole_id")))
      // only pair participants need tokens — membership is id
      // arithmetic (sources ≡ 0/1 mod 20, composites ≥ 3e6), so the
      // filter prunes the shingling 10× BEFORE the token projection (the
      // first cut shingled the whole corpus for 3 pairs per composite:
      // 7.6 s at sf0.1, ~2 s pruned)
      val toks = corpus
        .filter(col("doc_id") % 20 <= 1 || col("doc_id") >= 3000000)
        .filter(size(wtok) >= 3)
        .select(col("doc_id"), wtok.as("w"))
      pairs
        .join(toks.select(col("doc_id").as("src_id"), col("w").as("wa")),
          "src_id")
        .join(toks.select(col("doc_id").as("whole_id"), col("w").as("wb")),
          "whole_id")
        .select(col("src_id"), col("whole_id"),
          Shingles.shingleOverlapCol(col("wa"), col("wb")).as("ov"))
        .select(col("src_id"), col("whole_id"), col("ov.ni").as("ni"),
          col("ov.na").as("na"), col("ov.nb").as("nb"))
        .select(col("src_id"), col("whole_id"),
          round(col("ni").cast("double") / col("na"), 6).as("containment"),
          round(col("ni").cast("double") /
            (col("na") + col("nb") - col("ni")), 6).as("jaccard"))
    },
    Some("""WITH comp AS (
      |  SELECT a.doc_id + 3000000 AS doc_id, a.text || ' ' || b.text AS text
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id % 20 = 0
      |), corpus2 AS (
      |  SELECT doc_id, text FROM documents UNION ALL SELECT * FROM comp
      |), pairs AS (
      |  SELECT doc_id - 3000000 AS src_id, doc_id AS whole_id FROM comp
      |  UNION ALL
      |  SELECT doc_id - 3000000 + 1, doc_id FROM comp
      |  UNION ALL
      |  SELECT doc_id - 3000000, doc_id - 3000000 + 1 FROM comp
      |), toks2 AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM corpus2
      |), shing2 AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM toks2, unnest(generate_series(1, len(w)-2)) AS g(i)
      |  WHERE len(w) >= 3
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM shing2 GROUP BY doc_id
      |), inter AS (
      |  SELECT p.src_id, p.whole_id, count(*) AS ni
      |  FROM pairs p
      |    JOIN shing2 a ON a.doc_id = p.src_id
      |    JOIN shing2 b ON b.doc_id = p.whole_id AND b.s = a.s
      |  GROUP BY p.src_id, p.whole_id
      |)
      |SELECT p.src_id, p.whole_id,
      |  round(CAST(COALESCE(i.ni, 0) AS DOUBLE) / na.n, 6) AS containment,
      |  round(CAST(COALESCE(i.ni, 0) AS DOUBLE)
      |        / (na.n + nb.n - COALESCE(i.ni, 0)), 6) AS jaccard
      |FROM pairs p
      |  JOIN sizes na ON na.doc_id = p.src_id
      |  JOIN sizes nb ON nb.doc_id = p.whole_id
      |  LEFT JOIN inter i ON i.src_id = p.src_id AND i.whole_id = p.whole_id""".stripMargin),
    "north star: asymmetric shingle containment (doc-in-doc / quote " +
      "detection, the directional measure symmetric Jaccard misses)")

  /** q_doc_dedup — exact content dedup via hash-groupBy on the normalized
    * text fingerprint: first-wins keeper + copy count per content group. */
  val qDocDedup = Q("q_doc_dedup",
    (s, dir) => docCorpus(s, dir)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
          .as("content_md5"))
      .groupBy("content_md5")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
    Some("WITH " + corpusSql + """
      |SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_md5,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM corpus GROUP BY 1""".stripMargin),
    "north star: exact dedup by content hash (ref :251 analog)")

  /** Multi-band hyperplane signatures CTE (mirrors the engine's
    * per-band [[Vectors.lshBucket]] over plane slices): global plane p ∈
    * [0, bands·rows), band = p / rows, bit within band = p % rows; the
    * fixed-point-exact sign makes both engines agree bit-for-bit. */
  private def bandsSql(src: String): String = {
    val nPlanes = embBands * embRowsPerBand
    s"""elems AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         unnest(generate_series(0, len(embedding)-1)) AS i
       |  FROM $src
       |), planes AS (
       |  SELECT p, i,
       |    CAST(('0x' || substr(md5(p || '_' || i), 1, 4))::BIGINT AS DOUBLE)/65536.0 - 0.5 AS w
       |  FROM unnest(generate_series(0, ${nPlanes - 1})) AS a(p),
       |       unnest(generate_series(0, ${embDims - 1})) AS b(i)
       |), sgns AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN SUM(CAST(round(e.x * pl.w * 1e15) AS BIGINT)) > 0 THEN 1 ELSE 0 END AS sgn
       |  FROM elems e JOIN planes pl ON e.i = pl.i
       |  GROUP BY e.vec_id, pl.p
       |), bands AS (
       |  SELECT vec_id, p // $embRowsPerBand AS band,
       |    CAST(SUM(CASE WHEN sgn = 1 THEN (CAST(1 AS BIGINT) << (p % $embRowsPerBand)) ELSE 0 END) AS BIGINT) AS sig
       |  FROM sgns GROUP BY vec_id, p // $embRowsPerBand
       |)""".stripMargin
  }

  /** q_embed_dup — embedding-cosine near-dup: multi-band hyperplane LSH
    * (embBands × embRowsPerBand) candidate generation with the same
    * [[Shingles.capBuckets]] skew guard as the MinHash/SimHash rungs,
    * exact cosine ≥ 0.99 verification. Bucket count per band is 2^rows
    * (~65k), so candidate pairs shrink quadratically with bucket count
    * instead of the retired fixed-64-bucket layout where within-bucket
    * pairs grew (corpus/64)². */
  val qEmbedDup = Q("q_embed_dup",
    (s, dir) => {
      val planes = Vectors.planeWeights(embBands * embRowsPerBand, embDims)
      val vc = withNorm(vecCorpus(s, dir))
      // per-band R-bit signature: bit r of band b = sign of plane b·R+r,
      // all 64 signs in ONE fused codegen'd pass (HyperplaneBandSigs —
      // 64 composed lshBucket dots pay per-expression overhead that
      // measured ~100× slower). Candidate generation then runs on a
      // NARROW (vec_id, band, sig) frame — unlike the SimHash path's
      // 4-long fingerprints, a 64-double vector is too wide to ride the
      // capBuckets window sort and band join ×4 bands; the few surviving
      // pairs rejoin the vector frame for the exact-cosine verify, which
      // at scale is two more equi-joins on already-shuffled keys.
      val banded = vc.select(col("vec_id"),
          posexplode(Vectors.lshBandSigs(col("v"), planes, embRowsPerBand)))
        .toDF("vec_id", "band", "sig")
      val capped = Shingles.capBuckets(banded, cap = maxBucket)
      val cand = capped.select(col("vec_id").as("id_a"), col("band"), col("sig"))
        .join(capped.select(col("vec_id").as("id_b"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val va = vc.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("dxx").as("na2"))
      val vb = vc.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("dxx").as("nb2"))
      cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", Vectors.cosineFromParts(
          Vectors.dotExact(col("va"), col("vb")), col("na2"), col("nb2")))
        .filter(col("cos") >= 0.99)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
    },
    Some("WITH " + vcorpusSql + ",\n" + bandsSql("vcorpus") + s""",
      |bsz AS (SELECT band, sig, count(*) AS n FROM bands GROUP BY 1, 2),
      |bands_c AS (
      |  SELECT b.vec_id, b.band, b.sig FROM bands b
      |  JOIN bsz ON bsz.band = b.band AND bsz.sig = b.sig
      |  WHERE bsz.n <= $maxBucket
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bands_c a JOIN bands_c b
      |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      |), pairs AS (
      |  SELECT c.id_a, c.id_b, va.embedding AS av, vb.embedding AS bv
      |  FROM cand c JOIN vcorpus va ON va.vec_id = c.id_a
      |              JOIN vcorpus vb ON vb.vec_id = c.id_b
      |), """.stripMargin +
      dotsSql("pairs", "av", "bv", "id_a, id_b") + """
      |SELECT id_a, id_b, round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS cosine
      |FROM dots WHERE dxy/(sqrt(dxx)*sqrt(dyy)) >= 0.99""".stripMargin),
    "north star: embedding-cosine near-dup, multi-band LSH (4 bands × 16 planes)")

  /** q_simhash — 16-bit SimHash fingerprint per document (one shuffle:
    * groupBy doc with 16 conditional sums over token hashes). */
  val qSimhash = Q("q_simhash",
    (s, dir) => Shingles.simhash16(
      Shingles.tokens(Tables.documents(s, dir), "doc_id", "text"), "doc_id"),
    Some {
      val bitsum = (0 until 16).map { b =>
        s"SUM(CASE WHEN (('0x' || substr(h,${1 + b / 4},1))::BIGINT // ${1 << (3 - b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
      }.mkString(",\n    ")
      val simval = (0 until 16).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << (15 - b)} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
         |), th AS (SELECT doc_id, md5(tok) AS h FROM toks),
         |bits AS (SELECT doc_id, $bitsum FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST($simval AS BIGINT) AS simhash FROM bits""".stripMargin
    },
    "north star: SimHash fingerprinting")

  /** q_simhash_dup — the SimHash rung of the dedup ladder actually USED
    * for near-dup pairing: 64-bit fingerprints banded into their four
    * 16-bit chunks; any pair within Hamming distance ≤ 3 shares at least
    * one untouched chunk (pigeonhole: 3 flipped bits ruin ≤ 3 of 4
    * bands), so banding is a lossless candidate generator for the ≤3
    * regime. Candidates verify with an exact popcount over the chunk
    * xors. Same skew guard as the MinHash path (capBuckets on the band
    * key). Scale: one fingerprint shuffle, band equi-joins — never
    * all-pairs; a 16-bit band key gives ~65k buckets, so bucket sizes
    * shrink as corpus/65k. */
  val qSimhashDup = Q("q_simhash_dup",
    (s, dir) => {
      // fingerprints via the ONE-PASS projection (codegen'd
      // SimHash64Expr — no token explode, no 64-sum groupBy shuffle;
      // bit-equal to the aggregation form the oracle mirrors,
      // TextHashesSpec); the full fingerprint rides along on the band
      // rows so candidate pairs arrive at the join carrying both sides'
      // chunks — no verify-side rejoins
      val fpTok = split(trim(col("text")), "\\s+")
      val fp = docCorpus(s, dir)
        .select(col("doc_id"), Shingles.simhash64Col(fpTok).as("ch"))
        .select(col("doc_id"),
          element_at(col("ch"), 1).as("c0"), element_at(col("ch"), 2).as("c1"),
          element_at(col("ch"), 3).as("c2"), element_at(col("ch"), 4).as("c3"))
      val bands = fp.select(col("doc_id"), col("c0"), col("c1"), col("c2"),
          col("c3"), posexplode(array(col("c0"), col("c1"), col("c2"),
            col("c3")))).toDF("doc_id", "c0", "c1", "c2", "c3", "band", "sig")
      val capped = Shingles.capBuckets(bands, cap = maxBucket)
      val a = capped.toDF("doc_a", "a0", "a1", "a2", "a3", "band", "sig")
      val b = capped.toDF("doc_b", "b0", "b1", "b2", "b3", "band", "sig")
      val ham = (0 until 4).map(j =>
        bit_count(col(s"a$j").bitwiseXOR(col(s"b$j")))).reduce(_ + _)
      a.join(b, Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", ham)
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming").distinct()
    },
    Some {
      val bitsum = (0 until 64).map { b =>
        s"SUM(CASE WHEN (('0x' || substr(h,${1 + b / 4},1))::BIGINT // ${1 << (3 - b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
      }.mkString(",\n    ")
      val chunk = (0 until 4).map { j =>
        val packed = (0 until 16).map { i =>
          s"(CASE WHEN s${j * 16 + i} > 0 THEN ${1L << (15 - i)} ELSE 0 END)"
        }.mkString(" + ")
        s"CAST($packed AS BIGINT) AS c$j"
      }.mkString(",\n    ")
      val hamSql = (0 until 4).map(j =>
        s"bit_count(xor(fa.c$j, fb.c$j))").mkString(" + ")
      s"""WITH $corpusSql,
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM corpus
         |), th AS (SELECT doc_id, md5(tok) AS h FROM toks),
         |bits AS (SELECT doc_id, $bitsum FROM th GROUP BY doc_id),
         |fp AS (SELECT doc_id, $chunk FROM bits),
         |bands AS (
         |  SELECT doc_id, j AS band,
         |    CASE j WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS sig
         |  FROM fp, unnest(generate_series(0, 3)) AS g(j)
         |), bsz AS (SELECT band, sig, count(*) AS n FROM bands GROUP BY 1, 2),
         |bands_c AS (
         |  SELECT b.doc_id, b.band, b.sig FROM bands b
         |  JOIN bsz ON bsz.band = b.band AND bsz.sig = b.sig
         |  WHERE bsz.n <= $maxBucket
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_c a JOIN bands_c b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |)
         |SELECT c.doc_a, c.doc_b, CAST($hamSql AS INTEGER) AS hamming
         |FROM cand c JOIN fp fa ON fa.doc_id = c.doc_a
         |            JOIN fp fb ON fb.doc_id = c.doc_b
         |WHERE $hamSql <= 3""".stripMargin
    },
    "north star: SimHash Hamming near-dup (4×16-bit bands, Hamming≤3 lossless)")

  /** q_chunk_ref — V1 at the reference's ACTUAL SplitSkill parameters
    * (2000/500, commercial_rfp_indexer.py:168-169): the testdata documents
    * are too short to split at 2000, so a long-document corpus is built
    * first — texts concatenated per doc_id%25 group in deterministic
    * doc_id order (~6 KB each) — and chunked at the reference params. */
  val qChunkRef = Q("q_chunk_ref",
    (s, dir) => {
      val grouped = Tables.documents(s, dir)
        .groupBy((col("doc_id") % 25).as("group_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("big_text"))
      Chunk.chunkDocs(grouped, "group_id", "big_text")
    },
    Some(s"""WITH grouped AS (
      |  SELECT doc_id % 25 AS group_id,
      |         string_agg(text, ' ' ORDER BY doc_id) AS big_text
      |  FROM documents GROUP BY 1
      |), offs AS (
      |  SELECT group_id, big_text, i AS off
      |  FROM grouped, unnest(generate_series(0, greatest(length(big_text)-1, 0), ${Chunk.refMaxLen - Chunk.refOverlap})) AS g(i)
      |  WHERE i = 0 OR i < length(big_text) - ${Chunk.refOverlap}
      |)
      |SELECT group_id AS parent_id,
      |  group_id || '_' || CAST(off // ${Chunk.refMaxLen - Chunk.refOverlap} AS VARCHAR) AS chunk_id,
      |  off // ${Chunk.refMaxLen - Chunk.refOverlap} AS chunk_idx,
      |  substring(big_text, off+1, ${Chunk.refMaxLen}) AS chunk
      |FROM offs""".stripMargin),
    "ref commercial_rfp_indexer.py:168-169 (2000/500 contract, long docs)")

  /** The deterministic duplicate-edge fixture shared by the three CC
    * queries: exact-copy pairs (d, d+2e6) for d%10=0 plus chain links
    * (d, d+1) for d%20<3 — genuine multi-hop clusters (size 5: four
    * chained base docs + one copy) that exercise transitivity, not just
    * pair grouping. */
  private def dupEdges(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id")
    d.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 2000000).as("b"))
      .unionAll(d.filter(col("doc_id") % 20 < 3)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b")))
  }

  /** The (doc_id, cluster_id) labeling over [[dupEdges]]. Each caller
    * recomputes it at run time ON PURPOSE: q_dup_clusters, _star and
    * q_dup_keep are independent oracle-checked entries, and the bench
    * clears the cache before every timed run — sharing a cached frame
    * across queries would couple their verdicts. A production pipeline
    * would instead materialize this labeling once (a cluster table) and
    * join everything downstream against it; this def is that single
    * point of reuse at the code level. */
  private def dupComponents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Components.connectedComponents(dupEdges(s, dir))
      .toDF("doc_id", "cluster_id")

  /** q_dup_clusters — transitive duplicate-CLUSTER formation over a pair
    * table ([[graft.ops.Components.connectedComponents]]): pairwise
    * near-dup edges only relate two docs at a time; retention needs the
    * connected component. Oracle: DuckDB recursive CTE computing
    * min-reachable-id — a wholly different algorithm, so this is a
    * differential check of the label-propagation fixpoint. */
  val qDupClusters = Q("q_dup_clusters",
    (s, dir) => dupComponents(s, dir),
    Some("""WITH RECURSIVE edges0 AS (
      |  SELECT doc_id AS a, doc_id + 2000000 AS b FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 20 < 3
      |), sym AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
      |)
      |SELECT n.node AS doc_id, least(n.node, min(r.b)) AS cluster_id
      |FROM (SELECT DISTINCT a AS node FROM sym) n
      |JOIN reach r ON r.a = n.node
      |GROUP BY n.node""".stripMargin),
    "north star: duplicate-cluster formation (connected components over pairs)")

  /** q_dup_clusters_star — identical semantics to [[qDupClusters]]
    * through the O(log n)-round large-star/small-star algorithm
    * ([[graft.ops.Components.connectedComponentsStar]], the deep-graph
    * scale path), hash-compared against the SAME recursive-CTE oracle —
    * both implementations must land on the identical labeling. */
  val qDupClustersStar = Q("q_dup_clusters_star",
    (s, dir) => graft.ops.Components.connectedComponentsStar(dupEdges(s, dir))
      .toDF("doc_id", "cluster_id"),
    qDupClusters.oracle,
    "north star: duplicate-cluster formation via star contraction (same oracle as q_dup_clusters)")

  /** q_dup_keep — the dedup ladder's END STATE: per duplicate cluster,
    * the retention decision. Composes [[dupComponents]]' labeling with
    * each node's length (synthetic +2e6 copies map to their base doc via
    * `node % 2e6`) and keeps the longest text, min-node tiebreak — every
    * other member is marked drop. One extra equi-join + one window over
    * cluster rows on top of the components cost — which this query
    * re-pays in full (see [[dupComponents]] on why, and on what a real
    * pipeline would materialize instead). */
  val qDupKeep = Q("q_dup_keep",
    (s, dir) => {
      val comp = dupComponents(s, dir)
      val chars = Tables.documents(s, dir)
        .select(col("doc_id").as("base_id"),
          col("n_chars").cast("long").as("n_chars"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      comp.join(chars, col("doc_id") % 2000000 === col("base_id"))
        .select(col("doc_id"), col("cluster_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"),
          when(col("rk") === 1, lit("keep")).otherwise(lit("drop"))
            .as("action"))
    },
    Some("""WITH RECURSIVE edges0 AS (
      |  SELECT doc_id AS a, doc_id + 2000000 AS b FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 20 < 3
      |), sym AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
      |), comp AS (
      |  SELECT n.node AS doc_id, least(n.node, min(r.b)) AS cluster_id
      |  FROM (SELECT DISTINCT a AS node FROM sym) n
      |  JOIN reach r ON r.a = n.node
      |  GROUP BY n.node
      |), withlen AS (
      |  SELECT c.doc_id, c.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars
      |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id % 2000000
      |)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars DESC, doc_id) = 1
      |    THEN 'keep' ELSE 'drop' END AS action
      |FROM withlen""".stripMargin),
    "north star: duplicate-cluster retention decision (keep longest, drop rest)")

  /** q_soft_dedup — duplicate DOWN-WEIGHTING instead of dropping (the
    * soft-dedup alternative the hard ladder ends in q_dup_keep): every
    * document stays in the corpus, but its training weight is
    * 1/cluster-multiplicity, so each duplicate CLUSTER contributes one
    * document-equivalent of gradient mass in expectation — the
    * reweight-not-remove recipe (e.g. SoftDeDup, Xue et al. 2024) for
    * corpora where near-dups still carry signal. Composes
    * [[dupComponents]]' labeling exactly like [[qSplitLeakfree]]
    * (left-join the corpus, singletons cluster as themselves); the
    * weight is fixed-point (w6 = round(10⁶/size), one exact
    * integer-ratio division in both engines). One CC labeling + one
    * size aggregate + one keyed join — SoftDedupSpec pins that every
    * cluster's weight mass telescopes to ~10⁶. */
  val qSoftDedup = Q("q_soft_dedup",
    (s, dir) => {
      val comp = dupComponents(s, dir)
      val docs = Tables.documents(s, dir).select("doc_id")
      val labeled = docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val sizes = labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("csize"))
      labeled.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("csize"),
          round(lit(1000000.0) / col("csize")).cast("long").as("w6"))
    },
    Some("""WITH RECURSIVE edges0 AS (
      |  SELECT doc_id AS a, doc_id + 2000000 AS b FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 20 < 3
      |), sym AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
      |), comp AS (
      |  SELECT n.node AS doc_id, least(n.node, min(r.b)) AS cluster_id
      |  FROM (SELECT DISTINCT a AS node FROM sym) n
      |  JOIN reach r ON r.a = n.node
      |  GROUP BY n.node
      |), labeled AS (
      |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN comp c USING (doc_id)
      |), sizes AS (
      |  SELECT cluster_id, count(*) AS csize FROM labeled GROUP BY 1
      |)
      |SELECT l.doc_id, l.cluster_id, s.csize,
      |  CAST(round(1000000.0 / s.csize) AS BIGINT) AS w6
      |FROM labeled l JOIN sizes s USING (cluster_id)""".stripMargin),
    "north star: soft dedup (reweight-not-remove: per-doc training " +
      "weight = 1/duplicate-cluster multiplicity, fixed-point)")

  /** q_split_leakfree — dedup-aware train/eval split: every document is
    * assigned a side by the md5 bucket of its duplicate-cluster id
    * ([[dupComponents]]' labeling; singletons group as themselves), so a
    * near-dup cluster lands WHOLLY in train or wholly in eval — the
    * decontamination guard a per-row split cannot give (a per-row hash
    * strands one copy of a near-dup pair in train and its twin in eval,
    * leaking training text into the eval set). 90/10 via
    * [[graft.ops.Sample.splitByGroup]]. Cost on top of the labeling: one
    * left equi-join + a pure projection — at 100 TB the components pass
    * dominates and this adds a broadcast-size join of cluster rows. */
  val qSplitLeakfree = Q("q_split_leakfree",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      docs.join(dupComponents(s, dir), Seq("doc_id"), "left")
        .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"), col("group_id"),
          Sample.splitByGroup(col("group_id"),
            Seq("train" -> 900, "eval" -> 1000)).as("split"))
    },
    Some(s"""WITH RECURSIVE edges0 AS (
      |  SELECT doc_id AS a, doc_id + 2000000 AS b FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 20 < 3
      |), sym AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
      |), comp AS (
      |  SELECT n.node AS doc_id, least(n.node, min(r.b)) AS cluster_id
      |  FROM (SELECT DISTINCT a AS node FROM sym) n
      |  JOIN reach r ON r.a = n.node
      |  GROUP BY n.node
      |)
      |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS group_id,
      |  CASE WHEN ('0x' || substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4))::BIGINT
      |      < ${900 * 65536L / 1000L} THEN 'train' ELSE 'eval' END AS split
      |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""".stripMargin),
    "north star: dedup-aware leak-free train/eval split (clusters never straddle sides)")

  /** q_chunk_index — the search-index chunk-table projection (FIXTURES
    * A5 / ref commercial_rfp_indexer.py:87-94): chunk rows keyed
    * chunk_id with parent_id and title, joined to the parent's embedding
    * (V2 — vectors ride along as an opaque typed column; only their
    * dimensionality is projected here). */
  val qChunkIndex = Q("q_chunk_index",
    (s, dir) => Chunk.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        maxLen = 120, overlap = 30)
      .join(Tables.embeddings(s, dir),
        col("parent_id") === col("vec_id"))
      .select(col("chunk_id"), col("parent_id"),
        concat(lit("doc_"), col("parent_id").cast("string")).as("title"),
        col("chunk"), size(col("embedding")).as("vec_dims"), col("label")),
    Some("""WITH offs AS (
      |  SELECT doc_id, text, i AS off
      |  FROM documents, unnest(generate_series(0, greatest(length(text)-1, 0), 90)) AS g(i)
      |  WHERE i = 0 OR i < length(text) - 30
      |), chunks AS (
      |  SELECT doc_id AS parent_id,
      |    doc_id || '_' || CAST(off // 90 AS VARCHAR) AS chunk_id,
      |    substring(text, off+1, 120) AS chunk
      |  FROM offs
      |)
      |SELECT c.chunk_id, c.parent_id, 'doc_' || CAST(c.parent_id AS VARCHAR) AS title,
      |  c.chunk, CAST(len(e.embedding) AS INTEGER) AS vec_dims, e.label
      |FROM chunks c JOIN embeddings e ON e.vec_id = c.parent_id""".stripMargin),
    "ref commercial_rfp_indexer.py:87-94 (chunk index schema, V2/V4)")

  /** q_centroids — per-label embedding centroids via the typed
    * [[graft.ops.Centroids.centroid]] Aggregator (fixed-point-exact
    * means, so the oracle's unnest-and-average reproduces them
    * bit-for-bit). One row per (label, dimension). The oracle's inner
    * BIGINT cast dodges DuckDB's truncating HUGEINT→double conversion
    * (see [[dotsSql]]); per-label sums share the engine-side Long range
    * ([[graft.ops.Centroids]] scaladoc), so within the contract the cast
    * cannot overflow. */
  val qCentroids = Q("q_centroids",
    (s, dir) => graft.ops.Centroids.perLabel(
      Tables.embeddings(s, dir).select("label", "embedding")),
    Some("""WITH elems AS (
      |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         unnest(generate_series(0, len(embedding)-1)) AS dim
      |  FROM embeddings
      |)
      |SELECT label, CAST(dim AS INTEGER) AS dim,
      |  CAST(CAST(SUM(CAST(round(x*1e15) AS BIGINT)) AS BIGINT) AS DOUBLE)/1e15/count(*) AS c
      |FROM elems GROUP BY label, dim""".stripMargin),
    "north star: typed Aggregator (IVF coarse-quantizer building block)")

  /** IVF index parameters: a trained (if small) coarse quantizer —
    * [[graft.ops.KMeans]] with `ivfCells` cells and `ivfIters` Lloyd
    * iterations from deterministic md5-ranked seeds; queries probe their
    * `ivfNprobe` nearest cells (the recall knob, mirroring q_ann_mp's
    * probe count). At corpus scale cells would be ~√n and the trainer
    * would run on a sample; the *plan shape* is already the production
    * one: train once, ship the codebook as literals, one codegen'd
    * assignment pass, bucket equi-join probes. */
  private val ivfCells = 8
  private val ivfIters = 2
  private val ivfNprobe = 2

  /** Parameterized IVF retrieval — q_ann_ivf runs nprobe=2; AnnSpec checks
    * the nprobe recall relation (2-probe candidates ⊇ 1-probe). */
  def annIvf(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    annIvfFrom(Tables.embeddings(s, dir), nprobe)

  /** IVF over any (vec_id, embedding) frame — trains its own codebook on
    * that frame, so the clustered fixture gets a fixture-fit quantizer. */
  private def annIvfFrom(emb: DataFrame, nprobe: Int,
      pretrained: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val base = withNorm(emb)
    // IVF build stage: deterministic k-means (KMeans scaladoc has the
    // exactness contract), codebook shipped as LITERALS — the same
    // broadcast-constant pattern as the LSH plane weights. Assignment is
    // a narrow argmin projection; no centroid join, no ranking window.
    // The recall scorecard passes its shared `pretrained` codebook —
    // training is deterministic, so the result is identical and the
    // scorecard stops re-running the same Lloyd passes once per rung
    // (the oracle always trained once; VERDICT r11 #3b).
    val codebook = pretrained.getOrElse(
      KMeans.train(base.select("vec_id", "v"), ivfCells, ivfIters))
    val assigned = base.withColumn("cell",
      KMeans.assignCell(col("v"), codebook))
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("dxx").as("qxx"),
        explode(KMeans.probeCells(col("v"), codebook, nprobe)).as("qcell"))
    // probes explode on the BROADCAST query side only (as in q_ann_mp);
    // each corpus vector sits in exactly one cell, so a (query, neighbor)
    // pair meets through at most one probe — no dedup needed.
    val pairs = assigned.withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(qs), col("cell") === col("qcell") &&
        col("nbr_id") =!= col("query_id"))
    topK(pairs, 3, Seq("query_id", "rk", "nbr_id", "score"))
  }

  /** Assignment under the final oracle codebook: the `probes` nearest
    * cells per vector (1 = index assignment, ivfNprobe = query probes). */
  private def ivfAssignSql(probes: Int, where: String): String =
    s"""  SELECT vec_id, cl AS cell FROM (
       |    SELECT e.vec_id, c.cl,
       |      SUM(CAST(round(c.c*c.c*1e15) AS BIGINT))
       |        - 2*SUM(CAST(round(e.x*c.c*1e15) AS BIGINT)) AS d2
       |    FROM kmelems e JOIN kc$ivfIters c ON c.dim = e.dim$where
       |    GROUP BY e.vec_id, c.cl)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) <= $probes""".stripMargin

  /** q_ann_ivf — IVF ANN with a TRAINED deterministic k-means codebook and
    * multi-cell probing: the second scale path next to q_ann_lsh. The
    * oracle re-trains the identical codebook in SQL (KMeans.trainSql). */
  val qAnnIvf = Q("q_ann_ivf",
    (s, dir) => annIvf(s, dir, ivfNprobe),
    Some("WITH " + KMeans.trainSql("embeddings", ivfCells, ivfIters) + s""",
      |assignf AS (
      |${ivfAssignSql(1, "")}
      |), probe AS (
      |${ivfAssignSql(ivfNprobe, s"\n    WHERE ${queryPredSql("e.")}")}
      |), q AS (
      |  SELECT p.vec_id AS query_id, p.cell, e.embedding AS qv
      |  FROM probe p JOIN embeddings e ON e.vec_id = p.vec_id
      |), cand AS (
      |  SELECT q.query_id, q.qv, a.vec_id AS nbr_id, e.embedding AS nv
      |  FROM q JOIN assignf a ON a.cell = q.cell AND a.vec_id <> q.query_id
      |       JOIN embeddings e ON e.vec_id = a.vec_id
      |), """.stripMargin +
      dotsSql("cand", "nv", "qv", "query_id, nbr_id") + """
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM dots) t WHERE rk <= 3""".stripMargin),
    "north star: IVF ANN (trained k-means codebook, nprobe=" +
      ivfNprobe + "; ref real-index bar commercial_rfp_indexer.py:96-111)")

  /** Symmetric int8 scalar quantization of the embedding column: each
    * vector is scaled by its own max-abs so components land in
    * [-127, 127], then floored at +0.5 (floor-based instead of round so
    * both engines agree bit-for-bit on half-way points — SQL `round` is
    * HALF_UP in Spark but round-half-even in some engines; floor(x+0.5)
    * is one IEEE op with one answer). Emits the int codes and their
    * integer squared norm. At corpus scale the codes ship as 1-byte
    * fields — a 4× smaller vector store and integer SIMD dot products,
    * which is why real ANN systems quantize before indexing; here INT
    * keeps the demo schema simple while the arithmetic (and therefore
    * the recall behavior) is exactly the int8 path's. */
  private def sqBase(emb: DataFrame): DataFrame =
    emb.withColumn("v", Vectors.toDoubleArr(col("embedding")))
      .withColumn("mx",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .withColumn("q8", transform(col("v"),
        x => floor(x / greatest(col("mx"), lit(1e-30)) * lit(127.0) + lit(0.5))
          .cast("int")))
      .withColumn("qxx", Vectors.intDot(col("q8"), col("q8")))
      .select(col("vec_id"), col("q8"), col("qxx"))

  /** Integer dot product of two quantized vectors — exact in both
    * engines by construction (no fixed-point scaling needed: int
    * multiply-add is already order-independent; max |Σ| here is
    * 64·127² ≈ 1.0e6, nowhere near overflow). Routed through the
    * codegen'd [[graft.expressions.IntDot]] — the quantized brute-force
    * rung runs this kernel |corpus|×|queries|×dims times, and the
    * original zip_with+aggregate HOF chain evaluated it interpreted
    * (VectorsSpec pins the two bit-identical). */
  private def sqDot(a: Column, b: Column): Column = Vectors.intDot(a, b)

  /** SQ brute-force cosine top-3 over any (vec_id, embedding) frame. */
  private[queries] def annSqFrom(emb: DataFrame): DataFrame = {
    val base = sqBase(emb)
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("q8").as("qq8"),
        col("qxx").as("qyy"))
    val pairs = base.withColumnRenamed("vec_id", "nbr_id")
      .crossJoin(broadcast(qs))
      .filter(col("nbr_id") =!= col("query_id"))
    pairs
      .withColumn("score", round(
        sqDot(col("q8"), col("qq8")).cast("double")
          / (sqrt(col("qxx")) * sqrt(col("qyy"))), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("nbr_id"))))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk"), col("nbr_id"), col("score"))
  }

  /** IVF candidate generation with SQ integer scoring — the COMPOSED
    * scale rung ([[qAnnSq]]'s scaladoc: quantization cuts bytes, the
    * cutters cut candidates; this is both at once). At corpus scale the
    * retrieval scan touches only the int8 codes and the cell id — 4×
    * less IO than the float vectors — and scores candidates with
    * integer dot products inside whichever cells the query probes.
    * Spec-validated against the float-scored IVF rung (AnnSqComposeSpec:
    * same candidates, near-identical ranking) AND oracle-checked
    * end-to-end as [[qAnnIvfSq]] — the composition is the flagship
    * retrieval shape, so it gets its own driver-verified entry rather
    * than inheriting trust from its two halves. */
  def annIvfSq(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    annIvfSqCells(Tables.embeddings(s, dir), nprobe, ivfCells, 1000)

  /** Pinned-cells [[annIvfSq]] over any frame ([[graft.IvfScale]]). */
  def annIvfSqOn(emb: DataFrame, nprobe: Int): DataFrame =
    annIvfSqCells(emb, nprobe, ivfCells, 1000)

  /** The √n-cells production shape of [[annIvfSq]]: cells grow with the
    * corpus (`max(ivfCells, round(√n))`) so per-query candidate volume —
    * ~`nprobe·n/cells ≈ nprobe·√n` — grows SUBLINEARLY while the pinned
    * demo knob's `nprobe·n/8` grows linearly. Training runs on a
    * deterministic md5-bucketed sample capped at ~200 vectors per cell
    * (the train-on-a-sample posture [[graft.ops.KMeans.train]]
    * documents), so the Lloyd passes stay bounded as the corpus grows.
    * Measured (graft.IvfScale, README "IVF cells at scale"): this rung's
    * slope vs the pinned one on the 10×/100× fixtures is the
    * √n-cells-claim evidence the r8 verdict asked for. */
  def annIvfSqScaled(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    annIvfSqScaledOn(Tables.embeddings(s, dir), nprobe)

  /** [[annIvfSqScaled]] over any (vec_id, embedding) frame — the
    * clustered-fixture measurement path of [[graft.IvfScale]]. */
  def annIvfSqScaledOn(emb: DataFrame, nprobe: Int): DataFrame = {
    val n = emb.count()
    val (cells, nprobeEff, permille) = scaledIvfParams(n, nprobe)
    annIvfSqCells(emb, nprobeEff, cells, permille)
  }

  /** The √n production knobs for a corpus of `n` vectors:
    * cells = max(ivfCells, √n); nprobe grows ~√(cells/ivfCells) (the
    * standard recall-holding rule as the cell count outgrows the data's
    * cluster granularity), so probed candidates ≈ nprobe·n/√cells ~ n^¾
    * — sublinear while the pinned knob's nprobe·n/8 is linear; training
    * samples ~200 vectors per cell (md5-bucketed, deterministic). */
  def scaledIvfParams(n: Long, nprobe: Int): (Int, Int, Int) = {
    val cells = math.max(ivfCells, math.round(math.sqrt(n.toDouble)).toInt)
    val nprobeEff = math.min(cells, math.ceil(
      nprobe * math.sqrt(cells.toDouble / ivfCells)).toInt)
    // ~200 training vectors per cell is plenty for a coarse quantizer;
    // keep full data below that threshold (small corpora train exactly)
    val permille = math.min(1000L, math.max(1L, 200L * cells * 1000L / n)).toInt
    (cells, nprobeEff, permille)
  }

  private def annIvfSqCells(emb: DataFrame, nprobe: Int,
                            cells: Int, trainPermille: Int): DataFrame = {
    val (codebook, index) = ivfSqIndexOn(emb, cells, trainPermille)
    ivfSqQueryOn(emb, codebook, index, nprobe)
  }

  /** The INDEX-BUILD half of the composed IVF+SQ rung: train the coarse
    * quantizer, assign every vector to its cell, quantize to int8 —
    * returns (codebook, index(vec_id, q8, qxx, cell)). At 100 TB this is
    * the one-time indexing job (O(n·cells·dims) assignment, the same
    * build cost every IVF implementation pays); [[ivfSqQueryOn]] is the
    * recurring read path the √n-cells claim is about. Exposed so
    * [[graft.IvfScale]] can time the two phases separately. */
  def ivfSqIndexOn(emb: DataFrame, cells: Int,
                   trainPermille: Int): (Seq[(Int, Seq[Double])], DataFrame) = {
    val base = withNorm(emb)
    val codebook = KMeans.train(base.select("vec_id", "v"), cells, ivfIters,
      trainPermille)
    val assigned = base
      .withColumn("cell", KMeans.assignCell(col("v"), codebook))
      .select(col("vec_id"), col("cell"))
    (codebook, sqBase(emb).join(assigned, "vec_id"))
  }

  /** The QUERY half of the composed IVF+SQ rung over a prebuilt index:
    * probe the query's `nprobe` nearest cells, bucket-equi-join the
    * candidates, score with exact integer dot products, rank top-3.
    * Candidate volume per query ≈ nprobe·n/cells — the term the √n-cells
    * production shape shrinks. */
  def ivfSqQueryOn(emb: DataFrame, codebook: Seq[(Int, Seq[Double])],
                   index: DataFrame, nprobe: Int): DataFrame = {
    val qs = withNorm(emb.filter(isQuery))
      .select(col("vec_id").as("query_id"),
        explode(KMeans.probeCells(col("v"), codebook, nprobe)).as("qcell"))
      .join(index.select(col("vec_id").as("query_id"), col("q8").as("qq8"),
        col("qxx").as("qyy")), "query_id")
    val pairs = index.withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(qs), col("cell") === col("qcell") &&
        col("nbr_id") =!= col("query_id"))
    pairs
      .withColumn("score", round(
        sqDot(col("q8"), col("qq8")).cast("double")
          / (sqrt(col("qxx")) * sqrt(col("qyy"))), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("nbr_id"))))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk"), col("nbr_id"), col("score"))
  }

  /** q_ann_sq — brute-force cosine over int8 scalar-quantized vectors:
    * the memory-scale path of the ANN family (the LSH/IVF rungs cut
    * CANDIDATES; quantization cuts BYTES — 4× smaller vectors and
    * integer dot products, composable under any of the rungs). Scan
    * shape is identical to q_knn: broadcast query set, one codegen'd
    * corpus pass, one ranking shuffle. AnnSpec pins the quality story
    * (SQ cosine ≈ exact cosine, high top-3 agreement on the clustered
    * fixture); this query pins the arithmetic end-to-end against the
    * oracle's independent SQL quantizer. */
  /** Integer dot product of two quantized list columns — the SQL twin of
    * [[sqDot]] (exact BIGINT arithmetic, order-independent). */
  private def sqDotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |    s -> CAST(s[1] AS BIGINT) * s[2])) AS BIGINT)""".stripMargin

  /** Shared SQ quantizer CTE chain `sqbase→sqn(vec_id, q8, qxx)` — the
    * SQL twin of [[sqBase]], used by both [[qAnnSq]] and [[qAnnIvfSq]] so
    * one quantizer definition backs every quantized oracle. */
  private val sqSql: String =
    s"""sqbase AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sqmx AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
      |  FROM sqbase
      |), sqq AS (
      |  SELECT vec_id, list_transform(v,
      |    x -> CAST(floor(x / greatest(m, 1e-30) * 127.0 + 0.5) AS INT)) AS q8
      |  FROM sqmx
      |), sqn AS (
      |  SELECT vec_id, q8, ${sqDotSql("q8", "q8")} AS qxx
      |  FROM sqq
      |)""".stripMargin

  val qAnnSq = Q("q_ann_sq",
    (s, dir) => annSqFrom(Tables.embeddings(s, dir)),
    Some(s"""WITH $sqSql, q AS (
      |  SELECT vec_id AS query_id, q8 AS qq8, qxx AS qyy
      |  FROM sqn WHERE ${queryPredSql()}
      |), sqpairs AS (
      |  SELECT n.vec_id AS nbr_id, n.q8, n.qxx, q.query_id, q.qq8, q.qyy
      |  FROM sqn n CROSS JOIN q WHERE n.vec_id <> q.query_id
      |), sqscored AS (
      |  SELECT query_id, nbr_id, round(
      |    CAST(${sqDotSql("q8", "qq8")} AS DOUBLE)
      |    / (sqrt(qxx) * sqrt(qyy)), 6) AS score
      |  FROM sqpairs
      |)
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, nbr_id) AS rk
      |  FROM sqscored) t WHERE rk <= 3""".stripMargin),
    "north star: int8 scalar-quantized cosine retrieval (the vector-store memory-scale path)")

  /** q_ann_ivf_sq — the COMPOSED flagship retrieval shape: IVF cell
    * probing cuts candidates, int8 scalar quantization cuts bytes, and
    * candidates are scored with exact integer dot products. This is the
    * plan a 100 TB vector store actually runs (scan only int8 codes +
    * cell ids — 4× less IO than floats — inside nprobe cells per query).
    * The oracle re-trains the identical k-means codebook AND re-derives
    * the identical quantizer in SQL, so the whole composition is pinned
    * end-to-end, not just its halves. */
  val qAnnIvfSq = Q("q_ann_ivf_sq",
    (s, dir) => annIvfSq(s, dir, ivfNprobe),
    Some("WITH " + KMeans.trainSql("embeddings", ivfCells, ivfIters) + s""",
      |assignf AS (
      |${ivfAssignSql(1, "")}
      |), probe AS (
      |${ivfAssignSql(ivfNprobe, s"\n    WHERE ${queryPredSql("e.")}")}
      |), $sqSql, q AS (
      |  SELECT p.vec_id AS query_id, p.cell, s.q8 AS qq8, s.qxx AS qyy
      |  FROM probe p JOIN sqn s ON s.vec_id = p.vec_id
      |), sqpairs AS (
      |  SELECT q.query_id, q.qq8, q.qyy, a.vec_id AS nbr_id, s.q8, s.qxx
      |  FROM q JOIN assignf a ON a.cell = q.cell AND a.vec_id <> q.query_id
      |       JOIN sqn s ON s.vec_id = a.vec_id
      |), sqscored AS (
      |  SELECT query_id, nbr_id, round(
      |    CAST(${sqDotSql("q8", "qq8")} AS DOUBLE)
      |    / (sqrt(qxx) * sqrt(qyy)), 6) AS score
      |  FROM sqpairs
      |)
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, nbr_id) AS rk
      |  FROM sqscored) t WHERE rk <= 3""".stripMargin),
    "north star: IVF + int8 SQ composed retrieval (the 100 TB read shape; ref bar commercial_rfp_indexer.py:96-111)")

  /** Candidate-pair volume of the IVF read path — the quantity the
    * √n-cells shape shrinks ([[graft.IvfScale]] reports it next to the
    * wall-clock medians so sublinearity is visible past per-job floors). */
  def ivfCandidateCount(emb: DataFrame, codebook: Seq[(Int, Seq[Double])],
                        index: DataFrame, nprobe: Int): Long = {
    val qs = withNorm(emb.filter(isQuery))
      .select(col("vec_id").as("query_id"),
        explode(KMeans.probeCells(col("v"), codebook, nprobe)).as("qcell"))
    index.withColumnRenamed("vec_id", "nbr_id")
      .join(broadcast(qs), col("cell") === col("qcell") &&
        col("nbr_id") =!= col("query_id"))
      .count()
  }

  /** Recall@3 of an ANN result (query_id, nbr_id rows) against exact kNN
    * over the same dir's embeddings — [[graft.IvfScale]]'s measurement
    * hook, the same hits/(3·|queries|) arithmetic as q_ann_recall. */
  def recallVsExact(s: SparkSession, dir: String, ann: DataFrame): Double =
    recallVsExactOn(Tables.embeddings(s, dir), ann)

  /** [[recallVsExact]] over any (vec_id, embedding) frame. */
  def recallVsExactOn(emb: DataFrame, ann: DataFrame): Double = {
    val base = withNorm(emb)
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("dxx").as("qxx"))
    val exactPairs = base.withColumnRenamed("vec_id", "nbr_id")
      .crossJoin(broadcast(qs))
      .filter(col("nbr_id") =!= col("query_id"))
    val exact = topK(exactPairs, 3, Seq("query_id", "nbr_id"))
    val row = exact
      .join(ann.select(col("query_id").as("aq"), col("nbr_id").as("an")),
        col("query_id") === col("aq") && col("nbr_id") === col("an"), "left")
      .agg(sum(when(col("an").isNotNull, 1).otherwise(0))
          .cast("double").as("h"),
        count(lit(1)).cast("double").as("t")).head()
    row.getDouble(0) / row.getDouble(1)
  }

  // ------------------------------------------------------------ IVF-PQ ---
  // Product quantization (Jégou, Douze & Schmid, "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011) — the memory-scale vector
  // index format real ANN systems store: the vector space factors into
  // pqM orthogonal sub-spaces, each quantized by its OWN kPq-cell
  // k-means codebook, so a vector compresses to pqM small codes
  // (4 bytes here vs 256 float bytes — a 64× smaller index scan) and a
  // query scores candidates via per-block LOOKUP TABLES: dot(q, x) ≈
  // Σ_b dot(q_b, centroid_b[code_b(x)]), pqM·kPq dot products computed
  // ONCE per query regardless of corpus size (asymmetric distance
  // computation — the query side stays unquantized). The per-subspace
  // trainer reuses KMeans.train verbatim per block, and the oracle
  // re-derives all pqM codebooks in SQL (KMeans.trainSql with per-block
  // CTE prefixes). All LUT entries and norms are fixed-point longs, so
  // the block sums — integer additions — are order- and
  // engine-independent; one double division chain at the end mirrors
  // dotsSql's BIGINT→double discipline.
  // ------------------------------------------------------------------

  private val pqM = 4
  private val pqSub = embDims / pqM
  private val pqK = 8
  private val pqIters = 2

  /** ADC shortlist size before the exact rerank. 8 codes per block
    * cannot separate MEMBERS of one tight cluster (they all quantize to
    * the same code tuple — ADC scores tie), so pure ADC top-3 on the
    * clustered fixture honestly scores ~0 recall; the production PQ
    * shape (FAISS-style refine) takes the ADC top-R shortlist and
    * reranks those R float vectors exactly. R = 32 ≳ the fixture's
    * ~25-member clusters, so the shortlist covers the query's whole
    * cluster while touching 32/500 of the float vectors. */
  private val pqShortlist = 32

  /** The pqM per-block codebooks, each trained on its 16-dim slice of
    * the corpus (`base` must carry (vec_id, v)). The four trainers are
    * independent job chains over the same input, so they run
    * CONCURRENTLY (Spark schedules actions from separate threads in
    * parallel) — results are deterministic per block, only wall-clock
    * overlaps. */
  /** The pqM (offset, len) sub-vector windows of the PQ blocks. */
  private def pqSlices: Seq[(Int, Int)] =
    (0 until pqM).map(b => (b * pqSub, pqSub))

  private def pqCodebooks(base: DataFrame): Seq[Seq[(Int, Seq[Double])]] =
    // lock-step fused training (KMeans.trainMany) — one seed + pqIters
    // update jobs for all four blocks instead of 4×(1+pqIters) collect
    // round-trips; results bit-identical to per-block KMeans.train
    KMeans.trainMany(base.select("vec_id", "v"), pqSlices, pqK, pqIters)

  /** The SHARED PQ retrieval body ([[annPqFrom]] / [[annIvfPqFrom]] are
    * the two postures): train the per-block codebooks (plus, when
    * `ivfGate`, the coarse quantizer — both concurrently), encode every
    * vector to pqM codes in one narrow codegen'd pass (at corpus scale
    * the only per-vector state the scan touches), score by integer
    * code-table lookups against the broadcast per-query LUT
    * (|queries|·[gate cells]·pqM·pqK rows by construction; the
    * approximate norm ‖x̂‖² = Σ_b ‖c_b‖² rides the same frame, so
    * scoring never touches floats), shortlist the ADC top-R, and rerank
    * those R float vectors exactly. With the gate on, each corpus
    * vector carries its coarse cell and the LUT carries one copy per
    * probed cell, so the SAME (cell, b, code) equi-join implements both
    * the candidate gate and the code lookup; with it off, `cell` is a
    * constant and the join degenerates to the flat ADC scan. */
  private def pqRetrieve(emb: DataFrame, ivfGate: Boolean,
      coarsePre: Option[Seq[(Int, Seq[Double])]] = None,
      booksPre: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val base = withNorm(emb)
    // pre-trained quantizers (the recall scorecard's shared build — see
    // annIvfFrom) short-circuit the trainers; otherwise ONE lock-step
    // trainMany call covers whichever family is missing (coarse = the
    // full-width slice; ivfCells == pqK and ivfIters == pqIters keep the
    // lock-step legal — guarded so a future knob change fails loudly
    // instead of silently training the books at the coarse schedule)
    val (coarse, books) =
      if (!ivfGate)
        (Seq.empty[(Int, Seq[Double])],
          booksPre.getOrElse(pqCodebooks(base)))
      else if (coarsePre.isDefined && booksPre.isDefined)
        (coarsePre.get, booksPre.get)
      else {
        require(ivfCells == pqK && ivfIters == pqIters,
          "lock-step coarse+PQ training needs matching k/iters knobs")
        val all = KMeans.trainMany(base.select("vec_id", "v"),
          (0, embDims) +: pqSlices, ivfCells, ivfIters)
        (coarsePre.getOrElse(all.head), booksPre.getOrElse(all.tail))
      }
    val cellOf =
      if (ivfGate) KMeans.assignCell(col("v"), coarse) else lit(0)
    val probesOf =
      if (ivfGate) KMeans.probeCells(col("v"), coarse, ivfNprobe)
      else array(lit(0))
    val codes = base.select(col("vec_id"), cellOf.as("cell"),
        explode(array((0 until pqM).map(b =>
          struct(lit(b).as("b"),
            KMeans.assignCell(slice(col("v"), b * pqSub + 1, pqSub),
              books(b)).as("code"))): _*)).as("bc"))
      .select(col("vec_id"), col("cell"),
        col("bc.b").as("b"), col("bc.code").as("code"))
    val cb = books.zipWithIndex.flatMap { case (book, b) =>
      book.map { case (cl, c) => (b, cl, c) } }
      .toDF("b", "code", "c")
    val qs = base.filter(isQuery).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("dxx").as("qxx"), probesOf.as("qcells"))
    val lut = qs.select(col("query_id"), col("qxx"), col("qv"),
        explode(col("qcells")).as("cell"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("qxx"), col("cell"), col("b"),
        col("code"),
        Vectors.dotScaled(
          slice(col("qv"), col("b") * lit(pqSub) + lit(1), lit(pqSub)),
          col("c")).as("dq"),
        Vectors.dotScaled(col("c"), col("c")).as("cc"))
    val shortlist = codes.join(broadcast(lut), Seq("cell", "b", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("dq")).as("sdq"), sum(col("cc")).as("scc"),
        max(col("qxx")).as("qxx"))
      .withColumn("score_adc", round(
        (col("sdq").cast("double") / lit(1e15)) /
          (sqrt(col("qxx")) * sqrt(col("scc").cast("double") / lit(1e15))),
        6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_adc").desc, col("nbr_id"))))
      .filter(col("rk") <= pqShortlist)
      .select("query_id", "nbr_id")
    // refine: exact float rerank of the R-row shortlist per query
    val cand = shortlist
      .join(base.select(col("vec_id").as("nbr_id"), col("v"), col("dxx")),
        "nbr_id")
      .join(broadcast(qs.drop("qcells")), "query_id")
    topK(cand, 3, Seq("query_id", "rk", "nbr_id", "score"))
  }

  /** Flat-scan PQ/ADC + refine. */
  private def annPqFrom(emb: DataFrame,
      booksPre: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame =
    pqRetrieve(emb, ivfGate = false, booksPre = booksPre)

  /** IVF-gated PQ/ADC + refine — the composed FAISS-IVFPQ shape: at
    * corpus scale the scan reads cell id + 4 code bytes per vector and
    * candidates shrink by nprobe/cells. */
  private def annIvfPqFrom(emb: DataFrame,
      coarsePre: Option[Seq[(Int, Seq[Double])]] = None,
      booksPre: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame =
    pqRetrieve(emb, ivfGate = true, coarsePre, booksPre)

  /** The shared oracle CORE for both PQ postures over `src`: pqM
    * per-block trainers (prefixed pq0../pq3..), per-block assignment,
    * the code/codebook unions (`pcodes`/`pcb`), and the per-query LUT
    * and norms (`pqq`/`pqel`/`pqx`/`plut`/`pcc`). The two scoring
    * tails — [[pqSql]]'s flat scan and [[ivfPqTailSql]]'s cell-gated
    * candidates — both consume exactly these CTEs; the fixed-point
    * scoring discipline (1e15 scale, BIGINT drop, shortlist, exact
    * rerank) is shared between them and must change together. */
  private def pqCoreSql(src: String): String = {
    val blocks = (0 until pqM).map { b =>
      KMeans.trainSql(
        s"(SELECT vec_id, embedding[${b * pqSub + 1}:${(b + 1) * pqSub}]" +
          s" AS embedding FROM $src)",
        pqK, pqIters, prefix = s"pq$b")
    }.mkString(",\n")
    val pas = (0 until pqM).map { b =>
      s"""pa$b AS (
         |  SELECT vec_id, cl AS code FROM (
         |    SELECT e.vec_id, c.cl,
         |      SUM(CAST(round(c.c*c.c*1e15) AS BIGINT))
         |        - 2*SUM(CAST(round(e.x*c.c*1e15) AS BIGINT)) AS d2
         |    FROM pq${b}kmelems e JOIN pq${b}kc$pqIters c ON c.dim = e.dim
         |    GROUP BY e.vec_id, c.cl)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1
         |)""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until pqM)
      .map(b => s"SELECT vec_id, $b AS b, code FROM pa$b")
      .mkString("\n  UNION ALL\n  ")
    val cbU = (0 until pqM)
      .map(b => s"SELECT $b AS b, cl AS code, dim, c FROM pq${b}kc$pqIters")
      .mkString("\n  UNION ALL\n  ")
    blocks + ",\n" + pas + s""",
      |pcodes AS (
      |  $codesU
      |), pcb AS (
      |  $cbU
      |), pqq AS (
      |  SELECT vec_id AS query_id, embedding FROM $src WHERE ${queryPredSql()}
      |), pqel AS (
      |  SELECT query_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         unnest(generate_series(0, len(embedding)-1)) AS dim
      |  FROM pqq
      |), pqx AS (
      |  SELECT query_id,
      |    CAST(SUM(CAST(round(x*x*1e15) AS BIGINT)) AS BIGINT) AS qxx
      |  FROM pqel GROUP BY query_id
      |), plut AS (
      |  SELECT e.query_id, c.b, c.code,
      |    CAST(SUM(CAST(round(e.x*c.c*1e15) AS BIGINT)) AS BIGINT) AS dq
      |  FROM pcb c JOIN pqel e ON e.dim = c.b*$pqSub + c.dim
      |  GROUP BY 1, 2, 3
      |), pcc AS (
      |  SELECT b, code,
      |    CAST(SUM(CAST(round(c*c*1e15) AS BIGINT)) AS BIGINT) AS cc
      |  FROM pcb GROUP BY 1, 2
      |)""".stripMargin
  }

  /** Flat-scan ADC scoring tail over [[pqCoreSql]]'s CTEs, ending in
    * `ptop` (the recall scorecards' hook) and `pdots` (q_ann_pq's
    * final rerank source). */
  private def pqFlatTailSql(src: String): String =
    s"""pscore AS (
      |  SELECT s.query_id, s.nbr_id,
      |    round((CAST(s.sdq AS DOUBLE)/1e15)
      |      / (sqrt(CAST(q.qxx AS DOUBLE)/1e15)
      |         * sqrt(CAST(s.scc AS DOUBLE)/1e15)), 6) AS score
      |  FROM (
      |    SELECT l.query_id, k.vec_id AS nbr_id,
      |      CAST(SUM(l.dq) AS BIGINT) AS sdq, CAST(SUM(n.cc) AS BIGINT) AS scc
      |    FROM pcodes k
      |      JOIN plut l ON l.b = k.b AND l.code = k.code
      |      JOIN pcc n ON n.b = k.b AND n.code = k.code
      |    WHERE k.vec_id <> l.query_id
      |    GROUP BY 1, 2) s
      |  JOIN pqx q ON q.query_id = s.query_id
      |), pshort AS (
      |  SELECT query_id, nbr_id FROM (
      |    SELECT query_id, nbr_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, nbr_id) AS rk
      |    FROM pscore) t
      |  WHERE rk <= $pqShortlist
      |), pcand AS (
      |  SELECT ps.query_id, ps.nbr_id, e.embedding AS nv, q.embedding AS qv
      |  FROM pshort ps
      |    JOIN $src e ON e.vec_id = ps.nbr_id
      |    JOIN pqq q ON q.query_id = ps.query_id
      |), """.stripMargin +
      dotsSql("pcand", "nv", "qv", "query_id, nbr_id", "p") + ",\n" +
      topSql("p", 3)

  /** Full flat-scan PQ oracle body: core + flat tail. */
  private def pqSql(src: String): String =
    pqCoreSql(src) + ",\n" + pqFlatTailSql(src)

  /** Oracle tail for [[annIvfPqFrom]] over `src` — assumes the COARSE
    * trainer CTEs (KMeans.trainSql, unprefixed: assignf/probe built by
    * the caller) and the PQ block trainers + pa/pcodes/pcb/pqq/pqel/
    * pqx/plut/pcc CTEs of [[pqSql]] are in scope; gates the ADC sum by
    * the probed-cell candidate join, shortlists, and reranks exactly. */
  private def ivfPqTailSql(src: String): String =
    s"""ipcand AS (
      |  SELECT p.vec_id AS query_id, a.vec_id AS nbr_id
      |  FROM probe p JOIN assignf a ON a.cell = p.cell
      |  WHERE a.vec_id <> p.vec_id
      |), ipsc AS (
      |  SELECT c.query_id, c.nbr_id,
      |    CAST(SUM(l.dq) AS BIGINT) AS sdq, CAST(SUM(n.cc) AS BIGINT) AS scc
      |  FROM ipcand c
      |    JOIN pcodes k ON k.vec_id = c.nbr_id
      |    JOIN plut l ON l.query_id = c.query_id AND l.b = k.b
      |         AND l.code = k.code
      |    JOIN pcc n ON n.b = k.b AND n.code = k.code
      |  GROUP BY c.query_id, c.nbr_id
      |), ipscore AS (
      |  SELECT s.query_id, s.nbr_id,
      |    round((CAST(s.sdq AS DOUBLE)/1e15)
      |      / (sqrt(CAST(q.qxx AS DOUBLE)/1e15)
      |         * sqrt(CAST(s.scc AS DOUBLE)/1e15)), 6) AS score
      |  FROM ipsc s JOIN pqx q ON q.query_id = s.query_id
      |), ipshort AS (
      |  SELECT query_id, nbr_id FROM (
      |    SELECT query_id, nbr_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, nbr_id) AS rk
      |    FROM ipscore) t
      |  WHERE rk <= $pqShortlist
      |), ipc AS (
      |  SELECT ps.query_id, ps.nbr_id, e.embedding AS nv, q.embedding AS qv
      |  FROM ipshort ps
      |    JOIN $src e ON e.vec_id = ps.nbr_id
      |    JOIN pqq q ON q.query_id = ps.query_id
      |), """.stripMargin +
      dotsSql("ipc", "nv", "qv", "query_id, nbr_id", "ip")

  /** Prefixed exact-rerank top-k CTE over `${prefix}dots`. */
  private def topSql(prefix: String, k: Int): String =
    s"""${prefix}top AS (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
       |    FROM ${prefix}dots) t
       |  WHERE rk <= $k
       |)""".stripMargin

  private def recallSelect(method: String, prefix: String): String =
    s"""SELECT '$method' AS method,
       |  round(CAST(count(a.nbr_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       |FROM xtop x LEFT JOIN ${prefix}top a
       |  ON a.query_id = x.query_id AND a.nbr_id = x.nbr_id""".stripMargin

  /** Both futures' results, after waiting for BOTH — a failed first
    * future never leaves the second running detached. When both fail,
    * the first failure is rethrown carrying the second as a suppressed
    * exception, so neither root cause is lost. */
  private[graft] def awaitBoth[A, B](a: scala.concurrent.Future[A],
      b: scala.concurrent.Future[B]): (A, B) = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val ta = Try(Await.result(a, Duration.Inf))
    val tb = Try(Await.result(b, Duration.Inf))
    (ta, tb) match {
      case (Failure(ea), Failure(eb)) =>
        if (ea ne eb) ea.addSuppressed(eb)
        throw ea
      case _ => (ta.get, tb.get)
    }
  }

  /** q_ann_recall — the ANN quality metric the index ladder is judged by:
    * recall@3 = |ANN top-3 ∩ exact top-3| / 3, averaged over the capped
    * query set, one row per method (lsh / mp / ivf). Every exact top-3
    * set has exactly 3 rows, so the average over queries equals
    * hits / (3·|queries|) — computed as one integer-count division to
    * dodge double-summation order. The reference's HNSW index buys its
    * recall with efSearch=500 (commercial_rfp_indexer.py:96-111); this
    * query makes the Spark-native ladder's equivalent trade measurable. */
  /** Recall@3 scorecard over any (vec_id, embedding) frame: exact kNN on
    * that frame, then each ANN rung re-run on the same frame and scored
    * against it. Shared by [[qAnnRecall]] (shipped embeddings) and
    * [[qAnnRecallClustered]] (the fixture where LSH theory applies). */
  private def annRecallFrom(emb: DataFrame,
      sourcePinned: Boolean = false,
      pretrained: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    // Pin the vector source ONCE (r13, VERDICT #1): six rungs × two plan
    // sides plus ~15 trainer collects (coarse seed/iters, 4 PQ-block
    // seeds/iters) each re-derived the source subtree per job — for the
    // clustered fixture that re-ran the 64-wide center transform ~20×
    // per scorecard run. The pin is fixture-sized (|vectors| rows), not
    // a corpus-scale cache: at 100 TB the trainers train on a
    // Sample.keep permille and each rung is its own query — the
    // scorecard is the diagnostic that holds them side by side.
    // `sourcePinned = true` skips the (wasted) re-pin when the caller's
    // frame is already a checkpoint (clusteredEmb pins internally).
    val pinned = if (sourcePinned) emb else emb.localCheckpoint()
    val base = withNorm(pinned)
    val qs = base.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("dxx").as("qxx"))
    // The ground-truth frame is joined once per rung below; without a
    // materialization barrier Spark re-executes the exact-kNN subplan
    // (corpus scan + broadcast NLJ + per-query top-k) SIX times per run.
    // localCheckpoint pins the <= 3*|queries| rows once — ground truth is
    // by definition shared across the rungs it scores (VERDICT r11 #3b).
    val exactPairs = base.withColumnRenamed("vec_id", "nbr_id")
      .crossJoin(broadcast(qs))
      .filter(col("nbr_id") =!= col("query_id"))
    // r18 (guide §2.6, overlap independent jobs): the exact-kNN
    // ground-truth checkpoint and the lock-step trainer collects are
    // independent given `pinned` — submit both from futures so the
    // trainer's driver-side rounds back-fill the exact pass's tail
    // instead of waiting behind it (the same concurrency discipline as
    // qAnnRecall's two fixture sides, one level down).
    import scala.concurrent.{ExecutionContext, Future}
    // r19 (ADVICE r18): a DEDICATED 2-thread pool instead of the global
    // EC — its threads are created at first submit FROM THIS THREAD, so
    // Spark's InheritableThreadLocal local properties (job description/
    // group) propagate, where the global EC's long-lived daemon threads
    // may have inherited someone else's; and both futures are awaited
    // ([[awaitBoth]]) before rethrowing, so a failed exact pass cannot
    // leave the trainer running detached against a session the caller
    // is tearing down.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (exact, trained) = try {
    val exactF = Future {
      topK(exactPairs, 3, Seq("query_id", "nbr_id")).localCheckpoint()
    }
    // the trained quantizers are rung-invariant (training is
    // deterministic and rung-independent): train the coarse codebook and
    // the per-block PQ books ONCE and hand them to every rung that needs
    // them — ivf, pq and ivfpq each re-trained their own before r12
    // while the one-statement oracle always trained once. r13: the five
    // trainers run LOCK-STEP in one KMeans.trainMany family (3 collect
    // jobs total instead of 15; bit-identical codebooks).
    require(ivfCells == pqK && ivfIters == pqIters,
      "lock-step coarse+PQ training needs matching k/iters knobs")
    // r15: the clustered side receives the session-shared codebooks
    // ([[cembTrained]]) instead of re-training the identical family
    val trainedF = Future {
      pretrained.getOrElse(
        KMeans.trainMany(base.select("vec_id", "v"),
          (0, embDims) +: pqSlices, ivfCells, ivfIters))
    }
    awaitBoth(exactF, trainedF)
    } finally pool.shutdown()
    val (coarse, books) = (trained.head, trained.tail)
    def recallOf(method: String, ann: DataFrame): DataFrame =
      exact.join(ann.select(col("query_id").as("aq"), col("nbr_id").as("an")),
          col("query_id") === col("aq") && col("nbr_id") === col("an"),
          "left")
        .agg(round(sum(when(col("an").isNotNull, 1).otherwise(0))
            .cast("double") / count(lit(1)).cast("double"), 6).as("recall"))
        .select(lit(method).as("method"), col("recall"))
    // NOT pinned (r15 A/B): the lsh and mp rungs do consume the
    // identical bucketed+normed frame, but a localCheckpoint on it
    // measured 5.7-6.2 s / 7.8 cpu-s vs 4.6-5.5 / 7.5 un-pinned at
    // sf0.1 — the barrier serializes each side's otherwise-parallel
    // rung subtrees (the q_rerank_model trap) and the projection it
    // saves is a narrow codegen pass over an already-checkpointed
    // source. The rungs share the SHARED-side frames that matter (the
    // pinned source, the exact ground truth, the lock-step-trained
    // codebooks); their candidate frames genuinely differ per method.
    val bucketed = bucketedNorm(pinned)
    recallOf("lsh", annLshFrom(pinned, Some(bucketed)))
      .unionAll(recallOf("mp", annMpFrom(pinned, Some(bucketed))))
      .unionAll(recallOf("ivf", annIvfFrom(pinned, ivfNprobe, Some(coarse))))
      .unionAll(recallOf("mt", annMtFrom(pinned)))
      .unionAll(recallOf("pq", annPqFrom(pinned, Some(books))))
      .unionAll(recallOf("ivfpq", annIvfPqFrom(pinned, Some(coarse),
        Some(books))))
  }

  /** The full recall-scorecard oracle body (everything after `WITH `),
    * parameterized on the vector source table/CTE `src`. */
  private def annRecallSql(src: String): String =
    bucketsSql(src) + ",\n" +
      KMeans.trainSql(src, ivfCells, ivfIters) + s""",
      |assignf AS (
      |${ivfAssignSql(1, "")}
      |), probe AS (
      |${ivfAssignSql(ivfNprobe, s"\n    WHERE ${queryPredSql("e.")}")}
      |), xpairs AS (
      |  SELECT e.vec_id AS nbr_id, q.vec_id AS query_id,
      |         e.embedding AS nv, q.embedding AS qv
      |  FROM $src e CROSS JOIN
      |       (SELECT vec_id, embedding FROM $src WHERE ${queryPredSql()}) q
      |  WHERE e.vec_id <> q.vec_id
      |), """.stripMargin +
      dotsSql("xpairs", "nv", "qv", "query_id, nbr_id", "x") + ",\n" +
      topSql("x", 3) + s""",
      |lq AS (
      |  SELECT b.vec_id AS query_id, b.bucket, e.embedding AS qv
      |  FROM buckets b JOIN $src e ON e.vec_id = b.vec_id
      |  WHERE ${queryPredSql("b.")}
      |), lcand AS (
      |  SELECT q.query_id, q.qv, b.vec_id AS nbr_id, e.embedding AS nv
      |  FROM lq q JOIN buckets b ON b.bucket = q.bucket AND b.vec_id <> q.query_id
      |       JOIN $src e ON e.vec_id = b.vec_id
      |), """.stripMargin +
      dotsSql("lcand", "nv", "qv", "query_id, nbr_id", "l") + ",\n" +
      topSql("l", 3) + s""",
      |mq AS (
      |  SELECT b.vec_id AS query_id, xor(b.bucket, m.mask) AS qbucket,
      |         e.embedding AS qv
      |  FROM buckets b JOIN $src e ON e.vec_id = b.vec_id,
      |       (SELECT unnest([0,1,2,4,8,16,32]) AS mask) m
      |  WHERE ${queryPredSql("b.")}
      |), mcand AS (
      |  SELECT q.query_id, q.qv, b.vec_id AS nbr_id, e.embedding AS nv
      |  FROM mq q JOIN buckets b ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
      |       JOIN $src e ON e.vec_id = b.vec_id
      |), """.stripMargin +
      dotsSql("mcand", "nv", "qv", "query_id, nbr_id", "m") + ",\n" +
      topSql("m", 3) + s""",
      |iq AS (
      |  SELECT p.vec_id AS query_id, p.cell, e.embedding AS qv
      |  FROM probe p JOIN $src e ON e.vec_id = p.vec_id
      |), icand AS (
      |  SELECT q.query_id, q.qv, a.vec_id AS nbr_id, e.embedding AS nv
      |  FROM iq q JOIN assignf a ON a.cell = q.cell AND a.vec_id <> q.query_id
      |       JOIN $src e ON e.vec_id = a.vec_id
      |), """.stripMargin +
      dotsSql("icand", "nv", "qv", "query_id, nbr_id", "i") + ",\n" +
      topSql("i", 3) + ",\n" +
      mtbSql(src) + ",\n" + mtTailSql(src) + ",\n" +
      topSql("t", 3) + ",\n" +
      pqSql(src) + ",\n" +
      ivfPqTailSql(src) + ",\n" +
      topSql("ip", 3) + "\n" +
      recallSelect("lsh", "l") + "\nUNION ALL\n" +
      recallSelect("mp", "m") + "\nUNION ALL\n" +
      recallSelect("ivf", "i") + "\nUNION ALL\n" +
      recallSelect("mt", "t") + "\nUNION ALL\n" +
      recallSelect("pq", "p") + "\nUNION ALL\n" +
      recallSelect("ivfpq", "ip")

  /** One scorecard side, exposed for PlanSpec's exchange-count pin:
    * `clustered = false` scores the shipped embeddings, `true` the
    * re-based fixture (see [[ctrCount]]'s scaladoc). */
  private[graft] def annRecallFixture(s: SparkSession, dir: String,
                                      clustered: Boolean): DataFrame =
    if (clustered) annRecallFrom(clusteredEmb(s, dir), sourcePinned = true,
      pretrained = Some(cembTrained(s, dir)))
    else annRecallFrom(Tables.embeddings(s, dir))

  // (q_ann_recall itself is defined below, after [[cembSql]] — the fused
  // oracle interpolates that val, so initialization order matters.)

  /** Clustered-vector fixture parameters: `ctrCount` md5-seeded centers
    * (an independent weight family from the LSH planes), each shipped
    * vector re-based as center(vec_id % ctrCount) + ctrNoise · original.
    * The shipped embeddings are near-uniform on the sphere — cosine
    * concentration makes "nearest" meaningless and q_ann_recall's lsh rung
    * honestly scores 0.00 on them. Here neighbors exist by construction:
    * centers have norm ≈ √(dims/12) ≈ 2.3, the noise displaces by ≤
    * ctrNoise, so within-cluster angles are ≈ 0.1 rad while cross-cluster
    * angles stay near π/2. A within-cluster pair then survives one random
    * hyperplane w.p. ≈ 1 − 0.1/π ≈ 0.97 and a 6-plane bucket w.p. ≈ 0.83
    * — so single-table recall must land well above 0 and below the
    * multi-table/multi-probe rungs, which is exactly the band-survival
    * ladder the ANN family claims. */
  private val ctrCount = 20
  private val ctrNoise = 0.15

  /** embeddings re-based onto the cluster centers; mirrors [[cembSql]].
    * The arithmetic (md5-derived center weight + 0.15 · float-exact
    * element, cast back to float) is IEEE-identical in both engines —
    * the same determinism contract as [[vecCorpus]]'s perturbation. */
  private val cembMemo = new SessionMemo[DataFrame]

  private def clusteredEmb(s: SparkSession, dir: String): DataFrame =
    // pinned (r13) AND session-shared (r15): every clustered-fixture
    // consumer (pq, ivfpq, delta, graph, semdedup ×2, the clustered
    // scorecard) re-derived the 64-wide element_at transform once per
    // plan side and once per trainer collect — ~20 re-runs per query
    // before the r13 pin, and one checkpoint JOB per registration after
    // it. The frame is fixture-sized (embeddings-table rows, not the
    // analytic SF's corpus), so ONE materialization now serves all
    // seven registrations; the transform stays deterministic so oracle
    // parity is unchanged.
    cembMemo(s, s"cemb:$dir") {
      val centers = Vectors.planeWeights(ctrCount, embDims,
        seedPrefix = "ctr")
      val flat = typedLit(centers.flatten.toSeq)
      Tables.embeddings(s, dir).select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          (element_at(flat,
              (col("vec_id") % ctrCount).cast("int") * embDims + i + lit(1))
            + lit(ctrNoise) * x.cast("double")).cast("float"))
          .as("embedding"))
        .localCheckpoint()
    }

  /** The lock-step-trained quantizer family over the CLUSTERED fixture
    * — coarse codebook (head) + pqM per-block PQ books (tail) — shared
    * across every registration that retrieves over [[clusteredEmb]]
    * (q_ann_pq, q_ann_ivf_pq, q_ann_recall's clustered side). Training
    * is deterministic and the result is a driver-side literal, so the
    * share is bit-exact; the memo replaces one trainer collect chain
    * per registration. */
  private val cembTrainMemo = new SessionMemo[Seq[Seq[(Int, Seq[Double])]]]
  private def cembTrained(s: SparkSession, dir: String)
      : Seq[Seq[(Int, Seq[Double])]] =
    cembTrainMemo(s, s"cembtrain:$dir") {
      require(ivfCells == pqK && ivfIters == pqIters,
        "lock-step coarse+PQ training needs matching k/iters knobs")
      KMeans.trainMany(
        withNorm(clusteredEmb(s, dir)).select("vec_id", "v"),
        (0, embDims) +: pqSlices, ivfCells, ivfIters)
    }

  private val cembSql =
    s"""ctrw AS (
       |  SELECT c, i,
       |    CAST(('0x' || substr(md5('ctr' || c || '_' || i), 1, 4))::BIGINT AS DOUBLE)/65536.0 - 0.5 AS w
       |  FROM unnest(generate_series(0, ${ctrCount - 1})) AS a(c),
       |       unnest(generate_series(0, ${embDims - 1})) AS b(i)
       |), celems AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         unnest(generate_series(0, len(embedding)-1)) AS i
       |  FROM embeddings
       |), cemb AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    list(CAST(ct.w + $ctrNoise * e.x AS FLOAT) ORDER BY e.i) AS embedding
       |  FROM celems e JOIN ctrw ct ON ct.c = e.vec_id % $ctrCount AND ct.i = e.i
       |  GROUP BY e.vec_id
       |)""".stripMargin

  /** The clustered fixture frame, exposed for [[graft.IvfScale]] — the
    * data shape where ANN theory applies (see [[ctrCount]]'s scaladoc). */
  def clusteredFrame(s: SparkSession, dir: String): DataFrame =
    clusteredEmb(s, dir)

  /** q_ann_recall — BOTH fixtures in one registration (VERDICT r13 #3,
    * closing r12 #1a): (fixture, method, recall) rows over
    * {uniform, clustered} × the six rungs. The uniform side scores the
    * shipped embeddings (where LSH honestly reads 0.00 — see
    * [[ctrCount]]'s scaladoc); the clustered side is the fixture where
    * the band-survival ladder is measurable. The two sides share no data
    * (different vector sources) but they DO share the machine: each
    * side's build runs its trainer collects and ground-truth checkpoint
    * in its own thread (concurrent job submission — as two queries the
    * builds were sequential driver-side barriers), and the union
    * materializes all twelve recall branches as independent subtrees of
    * ONE job instead of six-then-six. The oracle is the two scorecard
    * statements unioned, each scoped in its own derived-table WITH. */
  val qAnnRecall = Q("q_ann_recall",
    (s, dir) => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val sides = Seq(false, true).map(cl => Future {
        annRecallFixture(s, dir, cl)
          .select(lit(if (cl) "clustered" else "uniform").as("fixture"),
            col("method"), col("recall"))
      })
      Await.result(Future.sequence(sides), Duration.Inf).reduce(_ unionAll _)
    },
    Some("SELECT 'uniform' AS fixture, u.* FROM (WITH " +
      annRecallSql("embeddings") + ") u\nUNION ALL\n" +
      "SELECT 'clustered' AS fixture, c.* FROM (WITH " + cembSql + ",\n" +
      annRecallSql("cemb") + ") c"),
    "north star: ANN recall@3 vs exact kNN on the shipped embeddings AND " +
      "the clustered fixture (band-survival ladder measurable; ref recall " +
      "intent: efSearch=500, commercial_rfp_indexer.py:96-111)")

  /** q_ann_pq — the PQ/ADC rung on the clustered fixture (the data
    * shape where ANN quality is measurable, [[ctrCount]]'s scaladoc);
    * the oracle re-derives all four per-block codebooks in SQL and
    * replays encode → LUT → integer block sums → cosine. */
  val qAnnPq = Q("q_ann_pq",
    (s, dir) => annPqFrom(clusteredEmb(s, dir),
      booksPre = Some(cembTrained(s, dir).tail)),
    Some("WITH " + cembSql + ",\n" + pqSql("cemb") + """
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM pdots) t
      |WHERE rk <= 3""".stripMargin),
    "north star: product quantization ANN (per-subspace codebooks, " +
      "ADC lookup-table scoring; the memory-scale index format)")

  /** q_ann_ivf_pq — the COMPOSED flagship: IVF cells gate candidates,
    * PQ codes score them, floats only at the refine ([[annIvfPqFrom]]).
    * The oracle re-derives BOTH quantizer families in one statement —
    * the coarse codebook (KMeans.trainSql) and the four per-block PQ
    * codebooks (prefixed trainers) — then replays gate → LUT → integer
    * block sums → shortlist → exact rerank. */
  val qAnnIvfPq = Q("q_ann_ivf_pq",
    (s, dir) => {
      val t = cembTrained(s, dir)
      annIvfPqFrom(clusteredEmb(s, dir), Some(t.head), Some(t.tail))
    },
    Some("WITH " + cembSql + ",\n" +
      KMeans.trainSql("cemb", ivfCells, ivfIters) + s""",
      |assignf AS (
      |${ivfAssignSql(1, "")}
      |), probe AS (
      |${ivfAssignSql(ivfNprobe, s"\n    WHERE ${queryPredSql("e.")}")}
      |), """.stripMargin +
      pqCoreSql("cemb") + ",\n" + ivfPqTailSql("cemb") + """
      |SELECT query_id, rk, nbr_id, score FROM (
      |  SELECT query_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM ipdots) t
      |WHERE rk <= 3""".stripMargin),
    "north star: IVF-PQ composed retrieval (cell gate + code scoring + " +
      "exact refine — the FAISS IVFPQ shape, both quantizers " +
      "oracle-retrained)")

  /** SemDeDup cosine threshold: within-cluster angles on the clustered
    * fixture are ≈ 0.1 rad (cos ≈ 0.995) and cross-cluster near π/2, so
    * 0.9 cleanly splits "same underlying center as the representative"
    * from "different center sharing a k-means cell". */
  private val semDedupTau = 0.9

  /** q_semdedup — SEMANTIC deduplication in the SemDeDup shape (Abbas et
    * al. 2023): cluster the embedding space with the deterministic
    * k-means coarse quantizer, then within each cluster compare every
    * vector to the cluster REPRESENTATIVE (min vec_id) and flag members
    * above the cosine threshold as semantic duplicates. This is the
    * third rung of the dedup ladder — q_doc_dedup drops byte-identical
    * documents, q_near_dup/q_embed_dup drop near-IDENTICAL ones (cos ≥
    * 0.99 / shingle-Jaccard), semdedup drops semantically REDUNDANT ones
    * that say the same thing in different bytes (τ = [[semDedupTau]]).
    * Runs on the clustered fixture ([[clusteredEmb]]) — the data shape
    * where semantic redundancy exists by construction; the shipped
    * near-uniform vectors would flag nothing (cosine concentration, see
    * [[ctrCount]]'s scaladoc).
    *
    * Scale shape: NEVER all-pairs — the representative comparison is
    * exactly the linear-verification discipline q_near_dup_rep
    * established (n−1 comparisons per cell, not C(n,2)); cells ~√n at
    * corpus scale ([[scaledIvfParams]]) with the codebook trained on a
    * sample and shipped as literals into one codegen'd
    * [[graft.expressions.NearestCells]] assignment pass; the per-cell
    * rep aggregate, the rep equi-join and the one [[Vectors.dotExact]]
    * call per member are all keyed shuffles. Emits the full audit (cell,
    * rep, score, verdict per vector) — the kept set is the
    * `!is_dup` slice, the SemDeDup prune rate is `avg(is_dup)`. */
  /** [[qSemDedup]]'s engine body, parameterized on the training sample
    * rate ([[graft.ops.KMeans.train]]'s `trainPermille`). */
  private def semDedup(s: SparkSession, dir: String,
                       trainPermille: Int): DataFrame = {
    val base = withNorm(clusteredEmb(s, dir))
    val codebook = KMeans.train(base.select("vec_id", "v"), ivfCells,
      ivfIters, trainPermille)
    val assigned = base
      .withColumn("cell", KMeans.assignCell(col("v"), codebook))
    // one map-side-combined agg carries the representative's VECTOR out
    // with its id (min_by on the unique vec_id), so the rep frame is
    // |cells| rows — a legitimate broadcast at any corpus size. The
    // first cut joined members back to the full corpus on rep_id
    // (only |cells| of n rows match), which AQE "fixed" by
    // broadcasting the whole corpus — exactly the plan that dies at
    // 100 TB.
    val reps = assigned.groupBy("cell").agg(
      min(col("vec_id")).as("rep_id"),
      min_by(col("v"), col("vec_id")).as("rv"),
      min_by(col("dxx"), col("vec_id")).as("rxx"))
    assigned.join(broadcast(reps), "cell")
      .withColumn("score", round(Vectors.cosineFromParts(
        Vectors.dotExact(col("v"), col("rv")), col("dxx"), col("rxx")), 6))
      .select(col("vec_id"), col("cell"), col("rep_id"), col("score"),
        (col("vec_id") =!= col("rep_id") &&
          col("score") >= semDedupTau).as("is_dup"))
  }

  /** [[qSemDedup]]'s oracle body after codebook training: assignment of
    * the FULL corpus under `kc<ivfIters>`, per-cell representative,
    * fixed-point cosine vs the rep, and the τ verdict. */
  /** The SemDeDup audit as CTEs ending in `sdd(vec_id, cell, rep_id,
    * score, is_dup)` — shared by the q_semdedup oracles (which SELECT it
    * whole) and q_diverse_sample (which samples its keep-set). */
  private val semDedupCoreSql =
    s""",
      |assignf AS (
      |${ivfAssignSql(1, "")}
      |), rep AS (
      |  SELECT cell, min(vec_id) AS rep_id FROM assignf GROUP BY cell
      |), pair AS (
      |  SELECT a.vec_id, a.cell, r.rep_id, e.embedding AS v, re.embedding AS rv
      |  FROM assignf a JOIN rep r USING (cell)
      |       JOIN cemb e ON e.vec_id = a.vec_id
      |       JOIN cemb re ON re.vec_id = r.rep_id
      |), """.stripMargin +
      dotsSql("pair", "v", "rv", "vec_id, cell, rep_id") + s""",
      |sdd AS (
      |  SELECT vec_id, cell, rep_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    (vec_id <> rep_id AND round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) >= $semDedupTau)
      |      AS is_dup
      |  FROM dots
      |)""".stripMargin

  private val semDedupTailSql = semDedupCoreSql + """
      |SELECT vec_id, cell, rep_id, score, is_dup FROM sdd""".stripMargin

  val qSemDedup = Q("q_semdedup",
    (s, dir) => semDedup(s, dir, trainPermille = 1000),
    Some("WITH " + cembSql + ",\n" +
      KMeans.trainSql("cemb", ivfCells, ivfIters) + semDedupTailSql),
    "north star: SemDeDup semantic dedup (k-means cells + " +
      "verify-against-representative, the linear-verification discipline)")

  /** Training sample rate for [[qSemDedupSampled]]: 40% of the corpus
    * trains the codebook; every vector is still assigned and audited. */
  private val semDedupTrainPermille = 400

  /** q_semdedup_s — [[qSemDedup]] at the documented 100 TB posture:
    * the k-means codebook trains on a deterministic md5-bucketed SAMPLE
    * ([[graft.ops.KMeans.train]] trainPermille = 400) while assignment
    * and the rep-verify audit still cover every vector — train-on-a-
    * sample / assign-everything, the split that keeps Lloyd passes
    * bounded as the corpus grows. The oracle replicates the sampling in
    * SQL (the Sample.keep md5-bucket predicate inside
    * KMeans.trainSql), so the sampled codebook — different seeds,
    * different cells than q_semdedup's — is re-derived exactly. */
  val qSemDedupSampled = Q("q_semdedup_s",
    (s, dir) => semDedup(s, dir, semDedupTrainPermille),
    Some("WITH " + cembSql + ",\n" +
      KMeans.trainSql("cemb", ivfCells, ivfIters, semDedupTrainPermille) +
      semDedupTailSql),
    "north star: SemDeDup with sampled codebook training (the " +
      "train-on-a-sample / assign-everything 100 TB posture, " +
      "oracle-replicated sampling)")

  /** Per-cell draw size for [[qDiverseSample]]. */
  private val diverseQuota = 32

  /** q_diverse_sample — the D4 "diversify" stage (Tirumala et al. 2023:
    * SemDeDup, then CLUSTER-BALANCED sampling): after the semantic-dedup
    * prune, draw at most [[diverseQuota]] documents per k-means cell —
    * equal per-cluster quotas rebalance the head clusters a raw sample
    * would over-represent, the published recipe for diversifying a
    * pretraining corpus. Composes [[qSemDedup]]'s audit verbatim: the
    * candidate pool is its `!is_dup` keep-set, the cells are its cells.
    * The draw is deterministic (smallest md5(vec_id) per cell — the
    * [[graft.ops.Sample.sampleK]] discipline) and runs through the
    * custom [[graft.ops.TopK]] operator: bounded per-cell heaps prune
    * map-side, so only ≤ quota·cells rows shuffle no matter how large
    * the keep-set grows. The oracle replays codebook training, the
    * rep-verify audit AND the sampling window in one statement. */
  val qDiverseSample = Q("q_diverse_sample",
    (s, dir) => {
      val kept = semDedup(s, dir, trainPermille = 1000)
        .filter(!col("is_dup")).select(col("vec_id"), col("cell"))
      val withH = kept.withColumn("h", md5(col("vec_id").cast("string")))
      graft.ops.TopK.perGroup(withH, Seq(withH("cell")),
          Seq(withH("h") -> false, withH("vec_id") -> false), diverseQuota)
        .select("cell", "rk", "vec_id")
    },
    Some("WITH " + cembSql + ",\n" +
      KMeans.trainSql("cemb", ivfCells, ivfIters) + semDedupCoreSql + s"""
      |SELECT cell, rk, vec_id FROM (
      |  SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
      |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      |  FROM sdd WHERE NOT is_dup) t
      |WHERE rk <= $diverseQuota""".stripMargin),
    "north star: D4 cluster-balanced diversity sampling (SemDeDup " +
      "keep-set + equal per-cell md5 quotas through the custom TopK " +
      "operator)")

  // ---------------------------------------------------------- graph ANN ---

  /** kNN-graph out-degree R: each node keeps its R best scored candidates
    * as out-edges (then edges are symmetrized, so working degree ≤ ~2R). */
  private val gDeg = 4
  /** Beam width: the b best visited nodes per query are expanded each
    * round — the efSearch analog of the graph-search family. */
  private val gBeam = 8
  /** Synchronous expansion rounds (the graph's diameter budget). */
  private val gRounds = 4
  /** IVF-seeded entry points per query. */
  private val gEntries = 2
  /** Per-node candidate cap for the graph BUILD: of a node's same-bucket
    * candidates, only the [[gCandCap]] with the smallest md5(src:nbr) are
    * scored — a deterministic uniform subsample that bounds build scoring
    * at cap·n pairs no matter how skewed the buckets get (the
    * capBuckets discipline, applied per node instead of per bucket). */
  private val gCandCap = 32
  /** Per-(table, bucket) candidate-TARGET cap: before pairing, each
    * bucket keeps ~[[gBucketCap]] md5-threshold-sampled members as join
    * targets (every node still pairs FROM its bucket — only the side it
    * pairs AGAINST is thinned). Without this the candidate join
    * materializes all within-bucket pairs BEFORE the per-node cap — at
    * 100× (200k vectors, ~10k-member cluster buckets) that is ~6×10⁹
    * window rows; with it, pre-window rows are ≤ n·tables·cap. The keep
    * rule is [[graft.ops.Sample]]'s threshold form (keep iff
    * md5₁₆(tbl:bucket:vec)·|bucket| < cap·2¹⁶ — no per-bucket sort, no
    * window, buckets at-or-under the cap keep everything exactly). */
  private val gBucketCap = 64
  /** Per-node degree cap on the SYMMETRIZED edge list entering the
    * NN-Descent two-hop join — the paper's reverse-neighbor sampling
    * (ρ-sampling). The bucket-target cap concentrates in-edges on hub
    * nodes; reversed, a hub gets a huge out-degree and the two-hop
    * self-join explodes quadratically through it (one 10k-degree hub =
    * 10⁸ pairs — observed as a wedged 100× build). Capping each node to
    * its [[gRevCap]] md5-sampled edges bounds the join at n·cap² while
    * the FULL symmetrized list still feeds the candidate union. */
  private val gRevCap = 8

  /** Exact rounded cosine for (src_id, nbr_id) pairs, both ids resolved
    * against `base` (vec_id, v, dxx) — the pair-scoring kernel of the
    * graph build and the beam search. Two keyed equi-joins + one
    * codegen'd [[Vectors.dotExact]] per pair; no broadcast of the corpus,
    * no cartesian. */
  private def gScore(pairs: DataFrame, base: DataFrame): DataFrame = {
    val a = base.select(col("vec_id").as("src_id"), col("v").as("av"),
      col("dxx").as("axx"))
    val b = base.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
      col("dxx").as("bxx"))
    pairs.join(a, "src_id").join(b, "nbr_id")
      .withColumn("score", round(Vectors.cosineFromParts(
        Vectors.dotExact(col("av"), col("bv")), col("axx"), col("bxx")), 6))
      .select("src_id", "nbr_id", "score")
  }

  /** Top-`k` neighbors per src by (score desc, nbr_id) — the shared
    * deterministic ranking of the graph family. */
  private def gTop(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("score").desc, col("nbr_id"))))
      .filter(col("rk") <= k)

  /** q_ann_graph's engine body — graph-based ANN, the Spark-native answer
    * to the reference's HNSW index (commercial_rfp_indexer.py:96-111),
    * in the shape the published distributed graph-ANN family uses
    * (LSH-seeded kNN-graph construction à la NN-Descent [Dong et al.
    * WWW'11], then best-first beam search à la HNSW/DiskANN):
    *
    * BUILD — (1) candidate edges from [[lshTables]] independent 6-plane
    * LSH tables (OR-amplified so one unlucky hash family cannot fragment
    * a cluster into graph islands), capped at [[gCandCap]] md5-sampled
    * candidates per node (bounded scoring under any bucket skew);
    * (2) top-[[gDeg]] out-edges per node by exact cosine; (3) ONE NN-Descent refinement round: candidates =
    * symmetrized edges ∪ neighbors-of-neighbors, rescore, keep
    * top-[[gDeg]] again; (4) symmetrize. Every step is a keyed
    * shuffle (bucket equi-join, two id equi-joins per scoring pass, one
    * ranking window); the refined edge list is localCheckpoint'ed once —
    * it is joined every search round (the [[graft.ops.Components]]
    * lineage discipline; LOCAL checkpoints because the frames are
    * k·n-row-tiny and the round count is fixed at 3 — an executor loss
    * recomputes rather than resumes, the right trade for short
    * iterations. The first cut used reliable checkpoints plus an IVF
    * quantizer for entry seeding; replacing both — local checkpoints,
    * seed-from-own-edges — took the sf0.1 median 7.7 → ~4.6 s at the
    * r11 measurement; the r12 full-registry bench_history line carries
    * it at 5.95 under a 1.13× canary — day-to-day ambient, same plan).
    *
    * SEARCH — entries: each query (a corpus member, the same contract as
    * every other rung) seeds its beam with its own [[gEntries]] best
    * REFINED-graph candidates — already scored during the build, so
    * seeding costs zero extra work (an out-of-corpus query would seed
    * through the same LSH probe the build uses: one hash, one bucket
    * scan; an IVF-quantizer seeding variant was built first and measured
    * ~2.5 s slower at sf0.1 — three trainer collects plus an assignment
    * and an entry-scoring pass — for identical recall on the fixtures).
    * Then [[gRounds]] synchronous beam rounds: expand the [[gBeam]] best
    * visited nodes through the graph, anti-join already-visited, score
    * only the new (query, node) pairs, accumulate. The visited frontier
    * is localCheckpoint'ed per round — each round references it three
    * times (frontier ranking, anti-join, union), so an unchecked plan
    * doubles per round. Scored work per query is ≤ gEntries +
    * rounds·beam·2R pairs — independent of corpus size, the property
    * that makes graph search THE memory-scale index family; at 100 TB
    * the build's bucket join would run banded multi-table LSH
    * ([[qNearDup]]'s discipline) and the search is already
    * O(beam·deg·rounds) per query.
    *
    * Runs on the clustered fixture ([[clusteredEmb]]) — the data shape
    * where neighbors exist by construction ([[ctrCount]]'s scaladoc).
    * AnnSpec asserts recall@3 vs exact kNN ≥ 0.9 on it. */
  private def annGraphFrom(emb: DataFrame): DataFrame = {
    val planes = Vectors.planeWeights(lshTables * numPlanes, embDims)
    val base = withNorm(emb).select("vec_id", "v", "dxx")

    // ---- build: multi-table LSH candidates (md5-capped per node) →
    // top-R out-edges. Candidates meet in ANY of [[lshTables]]
    // independent 6-plane tables (q_ann_mt's OR-amplification, applied
    // at BUILD time): with a single table a cluster whose center sits
    // near hyperplanes fragments across buckets and the kNN graph
    // splits into islands the beam search cannot cross — Hamming-1
    // probes bridge only 1-bit fragments (measured: recall@3 stuck at
    // 0.77-0.80 at sf0.1 with every seed/cap/round knob), while the
    // miss probability under L independent tables multiplies away.
    // Pairs can meet through several tables → DISTINCT before the cap.
    val sigs = emb.select(col("vec_id"), posexplode(Vectors.lshBandSigs(
        Vectors.toDoubleArr(col("embedding")), planes, numPlanes)))
      .toDF("vec_id", "tbl", "bucket")
    val bsz = sigs.groupBy("tbl", "bucket").agg(count(lit(1)).as("bn"))
    val reps = sigs.join(bsz, Seq("tbl", "bucket"))
      .filter(conv(substring(md5(concat(
          col("tbl").cast("string"), lit(":"),
          col("bucket").cast("string"), lit(":"),
          col("vec_id").cast("string"))), 1, 4), 16, 10).cast("long")
        * col("bn") < lit(gBucketCap * 65536L))
    val cand0 = sigs.select(col("vec_id").as("src_id"), col("tbl"),
        col("bucket"))
      .join(reps.select(col("vec_id").as("nbr_id"), col("tbl"),
        col("bucket")), Seq("tbl", "bucket"))
      .filter(col("src_id") =!= col("nbr_id"))
      .select("src_id", "nbr_id").distinct()
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(
          md5(concat(col("src_id").cast("string"), lit(":"),
            col("nbr_id").cast("string"))), col("nbr_id"))))
      .filter(col("cr") <= gCandCap)
      .select("src_id", "nbr_id")
    val adj0 = gTop(gScore(cand0, base), gDeg).select("src_id", "nbr_id")
    // symmetrize, then one NN-Descent round: neighbors-of-neighbors
    val u = adj0.unionAll(adj0.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id"))).distinct()
      .localCheckpoint(eager = true) // referenced 3x: union + both 2-hop
      // sides. Dropping this (and graph's) was MEASURED SLOWER at sf0.1
      // (4.5 -> 5.5 s median): exchange reuse does not cover the window's
      // recompute across the three consumers.
    val uc = u.withColumn("ur", row_number().over(
        Window.partitionBy(col("src_id")).orderBy(
          md5(concat(col("src_id").cast("string"), lit(":"),
            col("nbr_id").cast("string"))), col("nbr_id"))))
      .filter(col("ur") <= gRevCap).select("src_id", "nbr_id")
    val twoHop = uc.select(col("src_id"), col("nbr_id").as("mid"))
      .join(uc.select(col("src_id").as("mid"), col("nbr_id")), "mid")
      .filter(col("src_id") =!= col("nbr_id"))
      .select("src_id", "nbr_id")
    // ONE ranking window feeds both consumers: the refined adjacency
    // (rk ≤ gDeg) and each query's beam seed (its rk ≤ gEntries own
    // candidates — already scored, so seeding is a free slice).
    val ranked = gTop(gScore(u.unionAll(twoHop).distinct(), base), gDeg)
      .localCheckpoint(eager = true) // referenced by graph AND entries
    val adj1 = ranked.select("src_id", "nbr_id")
    // r19 (VERDICT r18 #4): the symmetrized search graph is a NARROW
    // derivation of the checkpointed `ranked` — union of two projections
    // of its blocks, no shuffle — so its own eager checkpoint was a pure
    // extra materialization job. Its `distinct()` is dropped WITH it:
    // an edge ranked from both endpoints only duplicates (src, nbr)
    // pairs inside the beam expansion, and `fresh` below distincts the
    // expansion anyway — results are unchanged (the dedup just moved to
    // the consumer that already paid for it).
    val graph = adj1.unionAll(adj1.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id")))

    // ---- search: seed from the query's own edges, then beam expansion
    // Each round expands the gBeam best UNEXPANDED visited nodes — the
    // HNSW ef-candidate-list discipline. Expanding the best of ALL
    // visited (the first cut) stalls: the top-8 stabilize after round 1,
    // later rounds re-expand them, dedup discards everything and the
    // walk stops one hop out (measured recall@3 0.82 at sf0.1, vs 1.0
    // with an effectively-unbounded beam proving connectivity; the
    // exclusion at beam 8 × 4 rounds reads 0.90 — and depth beats
    // width: 12 × 3 measured 0.87). The expansion state rides WITH the
    // checkpointed frame as an `exp` flag (the GroupState pattern) —
    // no separate expanded-set lineage to recompute per round.
    var visited = ranked
      .filter(col("rk") <= gEntries && col("src_id") % 100 === 0 &&
        col("src_id") < maxQueryId)
      .select(col("src_id"), col("nbr_id"), col("score"),
        lit(false).as("exp"))
    for (r <- 1 to gRounds) {
      val frontier = gTop(visited.filter(!col("exp")), gBeam)
        .select("src_id", "nbr_id")
      val fresh = frontier.withColumnRenamed("nbr_id", "mid")
        .join(graph.select(col("src_id").as("mid"), col("nbr_id")), "mid")
        .filter(col("src_id") =!= col("nbr_id"))
        .select("src_id", "nbr_id").distinct()
        .join(visited.select("src_id", "nbr_id"),
          Seq("src_id", "nbr_id"), "left_anti")
      val next = visited
        .join(frontier.withColumn("f", lit(true)),
          Seq("src_id", "nbr_id"), "left")
        .select(col("src_id"), col("nbr_id"), col("score"),
          (col("exp") || col("f").isNotNull).as("exp"))
        .unionAll(gScore(fresh, base).withColumn("exp", lit(false)))
      // the checkpoint exists because round r+1 consumes `visited` three
      // times (frontier, anti-join, flag-join) — after the LAST round the
      // only consumer is the single final top-3 ranking, so the round-
      // gRounds checkpoint job was a pure extra materialization (r13;
      // recall measured identical — the computation is unchanged)
      visited = if (r < gRounds) next.localCheckpoint(eager = true) else next
    }
    gTop(visited.drop("exp"), 3).select(col("src_id").as("query_id"),
      col("rk"), col("nbr_id"), col("score"))
  }

  /** One oracle beam round (r = 1..gRounds): best-UNEXPANDED frontier
    * (the `exp` flag rides inside the visited CTE, as in the engine) →
    * expand through `gg` → anti-join visited → score new pairs →
    * accumulate with the frontier rows flagged expanded. Mirrors the
    * engine loop body in [[annGraphFrom]] CTE-for-operator. */
  private def gRoundSql(r: Int, src: String): String = {
    val prev = s"v${r - 1}"
    s"""f$r AS (
       |  SELECT src_id, nbr_id AS mid FROM (
       |    SELECT src_id, nbr_id, row_number() OVER (PARTITION BY src_id
       |      ORDER BY score DESC, nbr_id) AS rk FROM $prev WHERE NOT exp) t
       |  WHERE rk <= $gBeam
       |), x$r AS (
       |  SELECT DISTINCT f.src_id, g.nbr_id
       |  FROM f$r f JOIN gg g ON g.src_id = f.mid
       |  WHERE g.nbr_id <> f.src_id
       |), n$r AS (
       |  SELECT x.src_id, x.nbr_id FROM x$r x
       |  LEFT JOIN $prev v ON v.src_id = x.src_id AND v.nbr_id = x.nbr_id
       |  WHERE v.nbr_id IS NULL
       |), np$r AS (
       |  SELECT n.src_id, n.nbr_id, ea.embedding AS av, eb.embedding AS bv
       |  FROM n$r n JOIN $src ea ON ea.vec_id = n.src_id
       |       JOIN $src eb ON eb.vec_id = n.nbr_id
       |), """.stripMargin +
      dotsSql(s"np$r", "av", "bv", "src_id, nbr_id", s"b$r") + s""",
       |v$r AS MATERIALIZED (
       |  SELECT v.src_id, v.nbr_id, v.score,
       |    (v.exp OR f.mid IS NOT NULL) AS exp
       |  FROM $prev v LEFT JOIN f$r f
       |    ON f.src_id = v.src_id AND f.mid = v.nbr_id
       |  UNION ALL
       |  SELECT src_id, nbr_id, round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
       |    FALSE AS exp
       |  FROM b${r}dots
       |)""".stripMargin
  }

  /** The full graph-ANN oracle body after the fixture CTE: LSH-bucketed
    * capped candidates → top-R → symmetrize → one NN-Descent round →
    * symmetrize → IVF-seeded entries → [[gRounds]] unrolled beam rounds
    * ([[gRoundSql]]) → top-3 per query. */
  private def annGraphSql(src: String): String =
    mtbSql(src) + s""",
      |gbsz AS (
      |  SELECT tbl, bucket, count(*) AS bn FROM mtb GROUP BY 1, 2
      |), greps AS (
      |  SELECT m.vec_id, m.tbl, m.bucket
      |  FROM mtb m JOIN gbsz USING (tbl, bucket)
      |  WHERE ('0x' || substr(md5(CAST(m.tbl AS VARCHAR) || ':' ||
      |           CAST(m.bucket AS VARCHAR) || ':' ||
      |           CAST(m.vec_id AS VARCHAR)), 1, 4))::BIGINT * bn
      |        < ${gBucketCap * 65536L}
      |), gc0 AS (
      |  SELECT src_id, nbr_id FROM (
      |    SELECT src_id, nbr_id,
      |      row_number() OVER (PARTITION BY src_id
      |        ORDER BY md5(CAST(src_id AS VARCHAR) || ':' ||
      |                     CAST(nbr_id AS VARCHAR)), nbr_id) AS cr
      |    FROM (
      |      SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
      |      FROM mtb a JOIN greps b
      |        ON b.tbl = a.tbl AND b.bucket = a.bucket
      |       AND b.vec_id <> a.vec_id) p) t
      |  WHERE cr <= $gCandCap
      |), gp0 AS (
      |  SELECT c.src_id, c.nbr_id, ea.embedding AS av, eb.embedding AS bv
      |  FROM gc0 c JOIN $src ea ON ea.vec_id = c.src_id
      |       JOIN $src eb ON eb.vec_id = c.nbr_id
      |), """.stripMargin +
      dotsSql("gp0", "av", "bv", "src_id, nbr_id", "g0") + s""",
      |adj0 AS (
      |  SELECT src_id, nbr_id FROM (
      |    SELECT src_id, nbr_id, row_number() OVER (PARTITION BY src_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |    FROM g0dots) t
      |  WHERE rk <= $gDeg
      |), u AS MATERIALIZED (
      |  SELECT DISTINCT src_id, nbr_id FROM (
      |    SELECT src_id, nbr_id FROM adj0
      |    UNION ALL SELECT nbr_id, src_id FROM adj0) t
      |), uc AS (
      |  SELECT src_id, nbr_id FROM (
      |    SELECT src_id, nbr_id, row_number() OVER (PARTITION BY src_id
      |      ORDER BY md5(CAST(src_id AS VARCHAR) || ':' ||
      |                   CAST(nbr_id AS VARCHAR)), nbr_id) AS ur
      |    FROM u) t
      |  WHERE ur <= $gRevCap
      |), gc2 AS (
      |  SELECT DISTINCT src_id, nbr_id FROM (
      |    SELECT src_id, nbr_id FROM u
      |    UNION ALL
      |    SELECT a.src_id, b.nbr_id FROM uc a JOIN uc b ON b.src_id = a.nbr_id
      |    WHERE b.nbr_id <> a.src_id) t
      |), gp2 AS (
      |  SELECT c.src_id, c.nbr_id, ea.embedding AS av, eb.embedding AS bv
      |  FROM gc2 c JOIN $src ea ON ea.vec_id = c.src_id
      |       JOIN $src eb ON eb.vec_id = c.nbr_id
      |), """.stripMargin +
      dotsSql("gp2", "av", "bv", "src_id, nbr_id", "g2") + s""",
      |granked AS MATERIALIZED (
      |  SELECT src_id, nbr_id,
      |    round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) AS score,
      |    row_number() OVER (PARTITION BY src_id
      |      ORDER BY round(dxy/(sqrt(dxx)*sqrt(dyy)), 6) DESC, nbr_id) AS rk
      |  FROM g2dots
      |), adj1 AS (
      |  SELECT src_id, nbr_id FROM granked WHERE rk <= $gDeg
      |), gg AS MATERIALIZED (
      |  SELECT DISTINCT src_id, nbr_id FROM (
      |    SELECT src_id, nbr_id FROM adj1
      |    UNION ALL SELECT nbr_id, src_id FROM adj1) t
      |), v0 AS MATERIALIZED (
      |  SELECT src_id, nbr_id, score, FALSE AS exp FROM granked
      |  WHERE rk <= $gEntries AND src_id % 100 = 0 AND src_id < $maxQueryId
      |),
      |""".stripMargin +
      (1 to gRounds).map(r => gRoundSql(r, src)).mkString(",\n") + s"""
      |SELECT src_id AS query_id, rk, nbr_id, score FROM (
      |  SELECT src_id, nbr_id, score,
      |    row_number() OVER (PARTITION BY src_id
      |      ORDER BY score DESC, nbr_id) AS rk
      |  FROM v$gRounds) t
      |WHERE rk <= 3""".stripMargin

  val qAnnGraph = Q("q_ann_graph",
    (s, dir) => annGraphFrom(clusteredEmb(s, dir)),
    Some("WITH " + cembSql + ",\n" + annGraphSql("cemb")),
    "north star: graph ANN (LSH-seeded kNN graph + NN-Descent round + " +
      "beam search seeded from the query's own edges — the HNSW/DiskANN " +
      "family as keyed shuffles; ref bar commercial_rfp_indexer.py:96-111)")

  /** The delta batch for incremental index maintenance: every 10th
    * vector withheld from codebook training, then ingested into the
    * frozen cells. % 10 = 3 intersects the query set (% 100 = 0) on
    * nothing, so queries always rank a mix of old and delta postings. */
  private val deltaPred = col("vec_id") % 10 === 3

  /** Oracle assign/probe against a prefixed trainer's codebook over the
    * FULL corpus elems (the unprefixed trainer's `kmelems`). */
  private def dAssignSql(cbPrefix: String, probes: Int,
                         where: String): String =
    s"""  SELECT vec_id, cl AS cell FROM (
       |    SELECT e.vec_id, c.cl,
       |      SUM(CAST(round(c.c*c.c*1e15) AS BIGINT))
       |        - 2*SUM(CAST(round(e.x*c.c*1e15) AS BIGINT)) AS d2
       |    FROM kmelems e JOIN ${cbPrefix}kc$ivfIters c ON c.dim = e.dim$where
       |    GROUP BY e.vec_id, c.cl)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) <= $probes""".stripMargin

  /** q_ann_delta — INCREMENTAL index maintenance (VERDICT r11 #6). The
    * reference's indexer story is full-refresh: delete every index file
    * and rerun (commercial_rfp_delete_index_files_and_reset_indexer
    * .py:27-41) — at 100 TB that is a full retrain + reassignment per
    * delta batch. The scale-correct alternative this query executes:
    * train the IVF codebook WITHOUT the delta batch ([[deltaPred]],
    * 10% of the corpus), freeze it, assign the delta batch into the
    * frozen cells (assignment is the same narrow argmin projection as
    * ingest — no Lloyd pass touches the data again), merge with the
    * existing postings as a plain union, and retrieve over the merged
    * index. Scored as a recall@3 scorecard against exact kNN on the FULL
    * corpus, next to the full-retrain variant in the same output —
    * differential-vs-rebuild in one record (the q_delta_dedup pattern
    * applied to the vector index). On the clustered fixture the frozen
    * path must hold recall: cluster structure doesn't move when 10% of
    * points arrive, which is exactly why frozen-cell ingest is sound
    * (AnnSpec pins ≥ 0.9 AND parity with retrain). The oracle re-trains
    * BOTH codebooks (prefixed trainers) and replays both retrievals plus
    * the exact ground truth in one statement. */
  val qAnnDelta = Q("q_ann_delta",
    (s, dir) => {
      val base = withNorm(clusteredEmb(s, dir))
      val frozen = KMeans.train(
        base.filter(!deltaPred).select("vec_id", "v"), ivfCells, ivfIters)
      val retrained = KMeans.train(
        base.select("vec_id", "v"), ivfCells, ivfIters)
      val qs = base.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("dxx").as("qxx"))
      // ground truth shared by both rungs (the annRecallFrom discipline)
      val exact = topK(base.withColumnRenamed("vec_id", "nbr_id")
          .crossJoin(broadcast(qs))
          .filter(col("nbr_id") =!= col("query_id")), 3,
          Seq("query_id", "nbr_id"))
        .localCheckpoint()
      def annOf(cb: Seq[(Int, Seq[Double])],
                postings: DataFrame): DataFrame = {
        val qsP = base.filter(isQuery)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("dxx").as("qxx"),
            explode(KMeans.probeCells(col("v"), cb, ivfNprobe)).as("qcell"))
        topK(postings.withColumnRenamed("vec_id", "nbr_id")
            .join(broadcast(qsP), col("cell") === col("qcell") &&
              col("nbr_id") =!= col("query_id")),
          3, Seq("query_id", "nbr_id"))
      }
      def recallOf(method: String, ann: DataFrame): DataFrame =
        exact.join(ann.select(col("query_id").as("aq"),
            col("nbr_id").as("an")),
            col("query_id") === col("aq") && col("nbr_id") === col("an"),
            "left")
          .agg(round(sum(when(col("an").isNotNull, 1).otherwise(0))
              .cast("double") / count(lit(1)).cast("double"), 6).as("recall"))
          .select(lit(method).as("method"), col("recall"))
      // the delta path, shaped as the maintenance op it is: standing
      // postings + the delta batch assigned into the SAME frozen cells,
      // merged by plain union (no data rewritten, no retrain)
      val standing = base.filter(!deltaPred)
        .withColumn("cell", KMeans.assignCell(col("v"), frozen))
      val deltaIn = base.filter(deltaPred)
        .withColumn("cell", KMeans.assignCell(col("v"), frozen))
      val merged = standing.unionByName(deltaIn)
      val rebuilt = base
        .withColumn("cell", KMeans.assignCell(col("v"), retrained))
      recallOf("ivf_frozen_delta", annOf(frozen, merged))
        .unionAll(recallOf("ivf_retrain", annOf(retrained, rebuilt)))
    },
    Some("WITH " + cembSql + """,
      |dbase AS (SELECT vec_id, embedding FROM cemb WHERE vec_id % 10 <> 3),
      |""".stripMargin +
      KMeans.trainSql("cemb", ivfCells, ivfIters) + ",\n" +
      KMeans.trainSql("dbase", ivfCells, ivfIters, prefix = "fz") + s""",
      |fzassign AS (
      |${dAssignSql("fz", 1, "")}
      |), fzprobe AS (
      |${dAssignSql("fz", ivfNprobe, s"\n    WHERE ${queryPredSql("e.")}")}
      |), rtassign AS (
      |${dAssignSql("", 1, "")}
      |), rtprobe AS (
      |${dAssignSql("", ivfNprobe, s"\n    WHERE ${queryPredSql("e.")}")}
      |), xpairs AS (
      |  SELECT e.vec_id AS nbr_id, q.vec_id AS query_id,
      |         e.embedding AS nv, q.embedding AS qv
      |  FROM cemb e CROSS JOIN
      |       (SELECT vec_id, embedding FROM cemb WHERE ${queryPredSql()}) q
      |  WHERE e.vec_id <> q.vec_id
      |), """.stripMargin +
      dotsSql("xpairs", "nv", "qv", "query_id, nbr_id", "x") + ",\n" +
      topSql("x", 3) + s""",
      |fq AS (
      |  SELECT p.vec_id AS query_id, p.cell, e.embedding AS qv
      |  FROM fzprobe p JOIN cemb e ON e.vec_id = p.vec_id
      |), fcand AS (
      |  SELECT q.query_id, q.qv, a.vec_id AS nbr_id, e.embedding AS nv
      |  FROM fq q JOIN fzassign a ON a.cell = q.cell AND a.vec_id <> q.query_id
      |       JOIN cemb e ON e.vec_id = a.vec_id
      |), """.stripMargin +
      dotsSql("fcand", "nv", "qv", "query_id, nbr_id", "f") + ",\n" +
      topSql("f", 3) + s""",
      |rq AS (
      |  SELECT p.vec_id AS query_id, p.cell, e.embedding AS qv
      |  FROM rtprobe p JOIN cemb e ON e.vec_id = p.vec_id
      |), rcand AS (
      |  SELECT q.query_id, q.qv, a.vec_id AS nbr_id, e.embedding AS nv
      |  FROM rq q JOIN rtassign a ON a.cell = q.cell AND a.vec_id <> q.query_id
      |       JOIN cemb e ON e.vec_id = a.vec_id
      |), """.stripMargin +
      dotsSql("rcand", "nv", "qv", "query_id, nbr_id", "r") + ",\n" +
      topSql("r", 3) + "\n" +
      recallSelect("ivf_frozen_delta", "f") + "\nUNION ALL\n" +
      recallSelect("ivf_retrain", "r")),
    "north star: incremental ANN maintenance - delta batch assigned into " +
      "FROZEN IVF cells, postings merged, recall vs full retrain in one " +
      "scorecard (ref full-refresh: " +
      "commercial_rfp_delete_index_files_and_reset_indexer.py:27-41)")

  def all: Seq[Q] = Seq(qChunk, qChunkRef, qKnn, qAnnLsh, qAnnMp, qAnnMt,
    qNearDup, qNearDupRep, qJaccard, qContainment, qDocDedup, qEmbedDup, qSimhash, qSimhashDup,
    qDupClusters, qDupClustersStar, qDupKeep, qSoftDedup, qSplitLeakfree, qChunkIndex,
    qCentroids, qAnnIvf, qAnnSq, qAnnIvfSq, qAnnRecall,
    qAnnPq, qAnnIvfPq, qAnnGraph, qAnnDelta, qSemDedup, qSemDedupSampled,
    qDiverseSample)
}
