package graft

import org.apache.spark.sql.functions._

/** q_zipf semantics beyond the oracle: the vocabulary stats are pinned to
  * hand-counted literals on a crafted corpus, and the fixed-point slope
  * is checked against an independent plain-Scala replay of the documented
  * arithmetic (snap ln·1e6 → integer OLS sums → one double division). */
class ZipfSpec extends SparkSpec {
  import spark.implicits._

  private def staged[T](docs: Seq[(Long, String)])(body: String => T): T =
    withTempDir("graft-zipf") { dir =>
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
      body(dir.getAbsolutePath)
    }

  /** The documented arithmetic, independently: freq → (rank, freq) by
    * (c desc, tok) over the top-100 → x=round(ln rk·1e6), y=round(ln c·1e6)
    * → slope = (nΣxy−ΣxΣy)/(nΣxx−ΣxΣx), rounded to 6. */
  private def modelSlope(freq: Seq[(String, Long)]): Double = {
    val head = freq.sortBy { case (tok, c) => (-c, tok) }.take(100)
    val xy = head.zipWithIndex.map { case ((_, c), i) =>
      (math.round(math.log(i + 1.0) * 1e6), math.round(math.log(c.toDouble) * 1e6))
    }
    val n = xy.size.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    BigDecimal((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("hand-counted corpus: vocab stats exact, slope matches the replay") {
    // freqs by construction: a:6 b:3 c:1 d:1 → vocab 4, total 11,
    // hapax 2 (c, d), ratio 0.5; ranks a<b<c<d by (freq desc, tok)
    val r = staged(Seq(1L -> "a a a a b b c", 2L -> "a a b d")) { dir =>
      graft.queries.TextQueries.qZipf.fn(spark, dir).collect()
    }
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 4L, "vocab_size")
    assert(row.getLong(1) == 11L, "total_tokens")
    assert(row.getLong(2) == 2L, "hapax")
    assert(row.getDouble(3) == 0.5, "hapax_ratio")
    val want = modelSlope(Seq("a" -> 6L, "b" -> 3L, "c" -> 1L, "d" -> 1L))
    assert(row.getDouble(4) == want, s"zipf_slope ${row.getDouble(4)} != $want")
    assert(row.getDouble(4) < 0, "a frequency profile must slope down")
  }

  test("shipped corpus: one row, downward slope, hapax bounded by vocab") {
    val r = graft.queries.TextQueries.qZipf
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getDouble(4) < 0)
    assert(row.getLong(2) <= row.getLong(0))
    assert(row.getLong(1) >= row.getLong(0))
  }
}
