package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenization, word-shingling, MinHash and SimHash — the text-dedup
  * toolkit of the LLM-data-pipeline north star. The reference deduplicates
  * only exact (question,response) pairs
  * (commercial_rfp_raw_data_ingestion_and_cleaning.py:251); near-dup is the
  * scale extension.
  *
  * Hash parity with the DuckDB oracle: every hash is `md5` of a plain
  * string (seed-prefixed shingle / token), identical in any engine, and
  * MinHash minima are lexicographic minima over hex strings — no
  * engine-specific hash function anywhere.
  *
  * Scale design: MinHash signatures are one groupBy over exploded shingles
  * (map-side partial min, one shuffle); LSH banding means candidate pairs
  * only ever form inside a (band, signature) bucket — an equi-join, never
  * an all-pairs cross join. SimHash is one groupBy with 16 conditional
  * sums. All shuffles are on keys with corpus-size cardinality, so the
  * plan survives a 100× scale-up unchanged.
  */
object Shingles {

  /** Whitespace tokens of `textCol` (oracle: string_split_regex '\s+'). */
  def tokens(df: DataFrame, idCol: String, textCol: String,
             lowered: Boolean = false): DataFrame = {
    val t = if (lowered) lower(col(textCol)) else col(textCol)
    df.select(col(idCol), explode(split(trim(t), "\\s+")).as("tok"))
  }

  /** Per-document distinct 3-gram shingle SET as an array column (pure
    * narrow projection — no explode, no distinct shuffle), for consumers
    * that need the shingle strings themselves; pairwise overlap counts
    * come from [[shingleJaccardCol]] / [[shingleOverlapCol]] instead
    * (this set + `array_intersect` is their test twin). Docs with <3
    * tokens get an empty set. `words` MUST
    * be a projected column, not an inline `split(...)` expression:
    * higher-order functions evaluate interpreted (no codegen
    * subexpression elimination), so an un-aliased split inside the
    * lambda would re-tokenize the document for every `element_at` of
    * every shingle — turning a linear pass quadratic. (Measured 6× on
    * the near-dup corpus.) */
  def shingleSetOfWords(words: Column): Column =
    when(size(words) >= 3,
      array_distinct(transform(sequence(lit(1), size(words) - 2), i =>
        concat_ws(" ", element_at(words, i),
          element_at(words, i + 1), element_at(words, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** One-pass PROJECTION form of the 8-slice MinHash signature (custom
    * codegen'd expression, [[graft.expressions.MinHashSlicedExpr]]):
    * array of 8 slice-minima, null under 3 tokens: per document, two
    * seeded md5s per word 3-gram shingle, each sliced into four 8-hex
    * pieces, minimum per slice. TextHashesSpec checks it doc for doc
    * against the shingle-explode + groupBy-minima formulation; this form
    * has ZERO shuffle and no shingle row explosion — the shape that
    * feeds LSH banding at 100 TB. */
  def minhashSlicedCol(words: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.expressions.MinHashSlicedExpr(
      GraftSqlBridge.expression(words)))
  }

  /** Exact distinct word 3-gram Jaccard of two token-array columns
    * (custom codegen'd expression, [[graft.expressions.ShingleJaccardExpr]]):
    * equal to `|sa ∩ sb| / |sa ∪ sb|` over [[shingleSetOfWords]] of each
    * side, from one hash-set pass and no shingle strings, so a copy
    * that predicate pushdown places in a join condition costs
    * microseconds. Null when neither side has 3 tokens. */
  def shingleJaccardCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.expressions.ShingleJaccardExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  /** The same pass as [[shingleJaccardCol]] returning the counts as
    * struct(ni, na, nb): |sa ∩ sb|, |sa|, |sb|
    * ([[graft.expressions.ShingleOverlapExpr]]). Bind it in its own
    * projection: the struct is read field by field. */
  def shingleOverlapCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.expressions.ShingleOverlapExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  /** One-pass PROJECTION form of the 64-bit SimHash fingerprint (custom
    * codegen'd expression, [[graft.expressions.SimHash64Expr]]): array
    * of the four 16-bit chunks (chunk 0 = md5 bits 0-15 in digest order,
    * MSB-first within each chunk), zero shuffle. TextHashesSpec checks
    * it doc for doc against the 64-sum groupBy formulation. */
  def simhash64Col(words: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.expressions.SimHash64Expr(
      GraftSqlBridge.expression(words)))
  }

  /** Drops LSH buckets with more than `cap` members before pairing —
    * the similarity family's skew escape hatch. A degenerate bucket
    * (boilerplate text sharing minima across thousands of docs) would
    * alone produce O(n²) candidate pairs inside the band join; such
    * buckets carry almost no discriminative signal, so production
    * near-dup pipelines cap them and move on. The count window
    * partitions by the SAME (band, sig) key the candidate join uses, so
    * the partitioning is computed once and reused — the guard costs no
    * extra shuffle. */
  def capBuckets(bands: DataFrame, cap: Int): DataFrame = {
    require(cap > 1, s"cap must allow pairs, got $cap")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    bands.withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") <= cap).drop("__n")
  }

  /** 16-bit SimHash over token occurrences: bit b is the sign of
    * Σ_tokens (bit b of md5(token) ? +1 : −1), packed MSB-first. The
    * digest's first 4 hex digits parse into ONE 16-bit int per token, so
    * the 16 per-bit extractions are cheap div/mod on that int. */
  def simhash16(toks: DataFrame, idCol: String): DataFrame = {
    val withH = toks.withColumn("h", md5(col("tok")))
      .select(col(idCol),
        expr("cast(conv(substring(h, 1, 4), 16, 10) as bigint)").as("h0"))
    def bitOf(b: Int): Column =
      expr(s"(h0 div ${1 << (15 - b)}) % 2")
    val sums = withH
      .groupBy(col(idCol))
      .agg(
        sum(when(bitOf(0) === 1, 1).otherwise(-1)).as("s0"),
        (1 until 16).map(b =>
          sum(when(bitOf(b) === 1, 1).otherwise(-1)).as(s"s$b")): _*)
    val packed = (0 until 16).map(b =>
      when(col(s"s$b") > 0, lit(1L << (15 - b))).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col(idCol), packed.cast("long").as("simhash"))
  }
}
