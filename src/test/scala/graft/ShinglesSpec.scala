package graft

import org.apache.spark.sql.functions._
import graft.ops.Shingles

/** Shingling / MinHash / SimHash building blocks. */
class ShinglesSpec extends SparkSpec {
  import spark.implicits._

  test("shingles3All: n-2 3-grams in order, <3 tokens yields none") {
    val df = Seq((1L, "a b c d e"), (2L, "x y")).toDF("doc_id", "text")
    val out = ShinglesRef.shingles3All(df, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "a b c"), (1L, "b c d"), (1L, "c d e")))
  }

  test("shingleSetOfWords deduplicates repeated shingles; empty under 3 tokens") {
    val df = Seq((1L, "a b a b a b"), (2L, "x y")).toDF("doc_id", "text")
    val out = df
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), Shingles.shingleSetOfWords(col("w")).as("ss"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L).toSet === Set("a b a", "b a b"))
    assert(out(2L) === Seq.empty)
  }

  test("identical docs share the full sliced MinHash signature") {
    val df = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"))
      .toDF("doc_id", "text")
    val m = ShinglesRef.minhashSliced(
      ShinglesRef.shingles3All(df, "doc_id", "text"), "doc_id")
      .drop("doc_id").distinct()
    assert(m.count() === 1)
  }

  test("minhashSliced: duplicate shingle occurrences cannot change minima") {
    // the same doc text repeated as extra rows multiplies every shingle
    // occurrence; min() must be unaffected — this is what lets the
    // signature pipeline skip the distinct shuffle
    val once = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val dup = once.unionAll(once).unionAll(once)
    val sigOnce = ShinglesRef.minhashSliced(
      ShinglesRef.shingles3All(once, "doc_id", "text"), "doc_id").collect()
    val sigDup = ShinglesRef.minhashSliced(
      ShinglesRef.shingles3All(dup, "doc_id", "text"), "doc_id").collect()
    assert(sigOnce.toSeq === sigDup.toSeq)
  }

  test("bands4x2 emits 4 bands whose signatures pair adjacent hashes") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val bands = ShinglesRef.bands4x2(
      ShinglesRef.minhashSliced(
        ShinglesRef.shingles3All(df, "doc_id", "text"), "doc_id"),
      "doc_id")
    val rows = bands.as[(Long, Int, String)].collect()
    assert(rows.map(_._2).sorted === Array(0, 1, 2, 3))
    assert(rows.forall(_._3.length === 16)) // two 8-hex (32-bit) slices
  }

  test("capBuckets drops only over-cap (band, sig) buckets") {
    val bands = Seq(
      (1L, 0, "x"), (2L, 0, "x"), (3L, 0, "x"), // hot bucket, 3 members
      (4L, 0, "y"), (5L, 0, "y"),               // honest bucket, 2 members
      (6L, 1, "x"))                             // other band, 1 member
      .toDF("doc_id", "band", "sig")
    val kept = Shingles.capBuckets(bands, cap = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(4L, 5L, 6L))
  }

  test("simhash16: in [0, 65536), identical docs identical hash") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val out = Shingles.simhash16(Shingles.tokens(df, "doc_id", "text"),
      "doc_id").as[(Long, Long)].collect().toMap
    assert(out(1L) === out(2L))
    assert(out.values.forall(h => h >= 0 && h < 65536))
  }

  test("simhashChunks64: 4 16-bit chunks, identical docs identical, " +
    "near-identical docs near in Hamming") {
    val df = Seq((1L, "alpha beta gamma delta eps zeta eta theta"),
      (2L, "alpha beta gamma delta eps zeta eta theta"),
      (3L, "alpha beta gamma delta eps zeta eta theta iota"),
      (4L, "completely unrelated text about other things"))
      .toDF("doc_id", "text")
    val out = ShinglesRef.simhashChunks64(Shingles.tokens(df, "doc_id", "text"),
      "doc_id").as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) === out(2L))
    out.values.flatten.foreach(c => assert(c >= 0 && c < 65536))
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    // one appended token in nine perturbs few bit-sums; unrelated text is far
    assert(ham(out(1L), out(3L)) < ham(out(1L), out(4L)))
  }
}
