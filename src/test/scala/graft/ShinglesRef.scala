package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The aggregation formulations of the text hashes in
  * [[graft.ops.Shingles]]: shingle explode, groupBy minima, LSH banding
  * and the 64-sum SimHash. The codegen'd projection forms
  * (`minhashSlicedCol`, `simhash64Col`) are checked against these, doc
  * for doc (TextHashesSpec). */
object ShinglesRef {

  /** Word 3-gram shingles per document, exploded WITHOUT dedup — for
    * duplicate-insensitive consumers (MinHash minima), which can then
    * skip a distinct shuffle entirely. Documents with fewer than
    * 3 tokens yield no shingles (they cannot near-duplicate). */
  def shingles3All(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol), words.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("w")) - 2), i =>
          concat_ws(" ", element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2)))).as("s"))
  }

  /** 8-hash MinHash signature at 2 md5s per shingle: each seeded md5 is
    * sliced into four 8-hex (32-bit) pieces and each slice min'd
    * independently — the one-permutation-hashing idea (different bit
    * ranges of one digest act as independent hash functions). A quarter
    * of the one-digest-per-hash formulation's md5 work, fully codegen'd
    * (no higher-order functions in the hot path), and fed by the
    * NON-distinct explode:
    * minima are duplicate-insensitive, so the distinct shuffle is
    * skipped and the groupBy's map-side partial aggregation reduces each
    * partition to one row per doc before the only shuffle. 32-bit slices
    * keep band signatures (2 slices = 64 bits) collision-safe for
    * candidate generation; exact Jaccard verifies every candidate
    * anyway. */
  def minhashSliced(shing: DataFrame, idCol: String): DataFrame = {
    def slices(seed: Int, base: Int) = {
      val h = md5(concat(lit(s"$seed:"), col("s")))
      (0 until 4).map(k => min(substring(h, 1 + 8 * k, 8)).as(s"h${base + k}"))
    }
    val aggs = slices(0, 0) ++ slices(1, 4)
    shing.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding of an 8-hash signature into 4 bands of 2 rows:
    * (doc, band, sig) rows; docs sharing (band, sig) are candidates. */
  def bands4x2(minh: DataFrame, idCol: String): DataFrame =
    minh.select(col(idCol), posexplode(array(
        concat(col("h0"), col("h1")), concat(col("h2"), col("h3")),
        concat(col("h4"), col("h5")), concat(col("h6"), col("h7")))))
      .toDF(idCol, "band", "sig")

  /** 64-bit SimHash over token occurrences, emitted as four 16-bit chunk
    * columns c0..c3 (c0 = md5 bits 0-15 in digest order, MSB-first within
    * each chunk). Chunked rather than packed because (a) the Hamming
    * near-dup join bands on exactly these chunks — no bit slicing at join
    * time — and (b) a packed 64-bit value would need bit 63 = Long.MinValue,
    * which DuckDB's overflow-checked BIGINT arithmetic cannot build up by
    * addition. One shuffle: a groupBy with 64 conditional sums, map-side
    * combined. */
  def simhashChunks64(toks: DataFrame, idCol: String): DataFrame = {
    // parse the digest's first 16 hex digits into four 16-bit ints ONCE
    // per token (projected columns), so the 64 per-bit extractions are
    // cheap div/mod on those ints rather than 64 substring+conv calls
    // over the hex string (~3× on the sf0.1 corpus)
    val withH = toks.withColumn("h", md5(col("tok")))
      .select(col(idCol) +: (0 until 4).map(j =>
        expr(s"cast(conv(substring(h, ${1 + 4 * j}, 4), 16, 10) as bigint)")
          .as(s"h$j")): _*)
    def bitOf(b: Int): Column =
      expr(s"(h${b / 16} div ${1 << (15 - b % 16)}) % 2")
    val sums = withH
      .groupBy(col(idCol))
      .agg(
        sum(when(bitOf(0) === 1, 1).otherwise(-1)).as("s0"),
        (1 until 64).map(b =>
          sum(when(bitOf(b) === 1, 1).otherwise(-1)).as(s"s$b")): _*)
    val chunks = (0 until 4).map { j =>
      (0 until 16).map { i =>
        val b = j * 16 + i
        when(col(s"s$b") > 0, lit(1L << (15 - i))).otherwise(lit(0L))
      }.reduce(_ + _).cast("long").as(s"c$j")
    }
    sums.select(col(idCol) +: chunks: _*)
  }
}
