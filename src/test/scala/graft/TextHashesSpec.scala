package graft

import org.apache.spark.sql.functions._
import graft.ops.Shingles

/** The one-pass projection expressions must be bit-identical to the
  * explode+aggregate formulations they replace in the hot paths (the
  * aggregations remain the oracle's mirror, so this equality is what
  * carries the oracle guarantee over to the expression path). */
class TextHashesSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    // multi-byte UTF-8: the MinHash kernel digests token bytes directly
    val nonAscii = Seq(
      (9000001L, "naïve café über straße naïve café"),
      (9000002L, "東京 大阪 京都 東京 大阪"),
      (9000003L, "emoji 🙂 rides 🙂 along ok")).toDF("doc_id", "text")
    // exact copies and near-duplicate variants, as in the near-dup corpus
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionAll(d.filter(col("doc_id") % 10 === 5).select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz yy")).as("text")))
      .unionAll(nonAscii)
  }

  test("MinHashSlicedExpr == shingle-explode + groupBy minima, doc for doc") {
    val viaAgg = Shingles.minhashSliced(
        Shingles.shingles3All(corpus, "doc_id", "text"), "doc_id")
      .select(col("doc_id"), array((0 until 8).map(i => col(s"h$i")): _*)
        .as("s8"))
    val wtok = split(trim(col("text")), "\\s+")
    val viaExpr = corpus
      .select(col("doc_id"), Shingles.minhashSlicedCol(wtok).as("s8"))
      .filter(col("s8").isNotNull)
    assert(viaAgg.count() === viaExpr.count())
    assert(viaAgg.except(viaExpr).isEmpty && viaExpr.except(viaAgg).isEmpty)
  }

  test("SimHash64Expr == 64-sum aggregation, doc for doc") {
    val viaAgg = Shingles.simhashChunks64(
        Shingles.tokens(corpus, "doc_id", "text"), "doc_id")
      .select(col("doc_id"),
        array(col("c0"), col("c1"), col("c2"), col("c3")).as("ch"))
    val wtok = split(trim(col("text")), "\\s+")
    val viaExpr = corpus
      .select(col("doc_id"), Shingles.simhash64Col(wtok).as("ch"))
    assert(viaAgg.count() === viaExpr.count())
    assert(viaAgg.except(viaExpr).isEmpty && viaExpr.except(viaAgg).isEmpty)
  }

  test("under-3-token docs get a null signature, not a garbage one") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val wtok = split(trim(col("text")), "\\s+")
    val out = df.select(col("doc_id"),
        Shingles.minhashSlicedCol(wtok).as("s8"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(out(1L).isEmpty)
    assert(out(2L).exists(s => s.size == 8 && s.forall(_.length == 8)))
  }

  test("expression survives both codegen and interpreted evaluation") {
    val df = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val wtok = split(trim(col("text")), "\\s+")
    val withExpr = df.select(Shingles.minhashSlicedCol(wtok).as("s8"),
      Shingles.simhash64Col(wtok).as("ch"))
    val codegen = withExpr.collect()(0)
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = withExpr.collect()(0)
      assert(codegen.getSeq[String](0) === interp.getSeq[String](0))
      assert(codegen.getSeq[Long](1) === interp.getSeq[Long](1))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  // --- the fused shingle-overlap kernel vs the array formulation ---

  private val wtok = split(trim(col("text")), "\\s+")

  /** (doc_a, doc_b, text_a, text_b) → kernel and legacy counts side by
    * side: (ni, na, nb) from shingle_overlap and from shingleSetOfWords +
    * array_intersect + size, and the kernel's Jaccard. */
  private def bothWays(pairs: org.apache.spark.sql.DataFrame) =
    pairs
      .select(col("doc_a"), col("doc_b"),
        split(trim(col("text_a")), "\\s+").as("wa"),
        split(trim(col("text_b")), "\\s+").as("wb"))
      .select(col("doc_a"), col("doc_b"),
        Shingles.shingleOverlapCol(col("wa"), col("wb")).as("ov"),
        Shingles.shingleJaccardCol(col("wa"), col("wb")).as("jac"),
        Shingles.shingleSetOfWords(col("wa")).as("sa"),
        Shingles.shingleSetOfWords(col("wb")).as("sb"))
      .select(col("doc_a"), col("doc_b"), col("jac"),
        col("ov.ni"), col("ov.na"), col("ov.nb"),
        size(array_intersect(col("sa"), col("sb"))).as("li"),
        size(col("sa")).as("la"), size(col("sb")).as("lb"))
      .as[(Long, Long, Option[Double], Int, Int, Int, Int, Int, Int)]
      .collect()

  private def assertSame(
      rows: Array[(Long, Long, Option[Double], Int, Int, Int, Int, Int, Int)])
      : Unit = rows.foreach { case (a, b, jac, ni, na, nb, li, la, lb) =>
    assert((ni, na, nb) === ((li, la, lb)), s"pair ($a, $b)")
    // the legacy Jaccard expression, evaluated the way Spark does
    val legacy = if (la + lb - li == 0) None
      else Some(li.toDouble / (la + lb - li))
    assert(jac === legacy, s"pair ($a, $b)")
  }

  test("shingle kernel == array formulation on LSH candidate pairs") {
    val bands = corpus
      .select(col("doc_id"), Shingles.minhashSlicedCol(wtok).as("s8"))
      .select(col("doc_id"), posexplode(array((0 until 4).map(k =>
        concat(element_at(col("s8"), 2 * k + 1),
          element_at(col("s8"), 2 * k + 2))): _*)))
      .toDF("doc_id", "band", "sig").filter(col("sig").isNotNull)
    val lsh = bands.toDF("doc_a", "band", "sig")
      .join(bands.toDF("doc_b", "band", "sig"), Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b")).select("doc_a", "doc_b")
    // neighbours by id: mostly unrelated documents (low, nonzero overlap)
    val near = corpus.select(col("doc_id").as("doc_a"),
      (col("doc_id") + 1).as("doc_b"))
    val text = corpus.select(col("doc_id"), col("text"))
    val pairs = lsh.unionAll(near).distinct()
      .join(text.toDF("doc_a", "text_a"), "doc_a")
      .join(text.toDF("doc_b", "text_b"), "doc_b")
    val rows = bothWays(pairs)
    assert(rows.length > 100)
    assert(rows.exists(r => r._4 > 0 && r._4 < r._5),
      "fixture has no partial overlap")
    assertSame(rows)
  }

  private val edgePairs = Seq(
    (1L, "a b a b a b a b", "b a b a b"),        // repeated shingles
    (2L, "x y", "x y z"),                         // one side under 3 tokens
    (3L, "p q", "r"),                             // both under 3 tokens
    (4L, "one two three four", "one two three four"), // identical
    (5L, "one two three four", "five six seven eight"), // disjoint
    (6L, "naïve café über straße naïve", "café über straße naïve café"),
    (7L, "東京 大阪 京都 東京 大阪 京都", "大阪 京都 東京 名古屋"),
    (8L, "  padded  text with   runs of spaces ", "padded text with runs"))

  test("shingle kernel == array formulation on edge cases") {
    val df = edgePairs.map { case (id, a, b) => (id, id, a, b) }
      .toDF("doc_a", "doc_b", "text_a", "text_b").repartition(2)
    val rows = bothWays(df)
    assert(rows.length === edgePairs.size)
    assertSame(rows)
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 === 2 && byId(1L)._5 === 2) // {a b a, b a b}
    assert(byId(3L)._3.isEmpty)                    // empty union: null
    assert(byId(4L)._3 === Some(1.0))
    assert(byId(5L)._3 === Some(0.0))
  }

  test("shingle kernels: codegen and interpreted evaluation agree") {
    def run(s: org.apache.spark.sql.SparkSession, codegen: Boolean) = {
      if (!codegen) {
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      import s.implicits._
      // repartition keeps the projection off the driver-side local
      // relation fold, so the chosen evaluation path really runs
      edgePairs.toDF("id", "text_a", "text_b").repartition(2)
        .select(col("id"),
          split(trim(col("text_a")), "\\s+").as("wa"),
          split(trim(col("text_b")), "\\s+").as("wb"))
        .select(col("id"),
          Shingles.shingleJaccardCol(col("wa"), col("wb")).as("jac"),
          Shingles.shingleOverlapCol(col("wa"), col("wb")).as("ov"),
          Shingles.shingleJaccardCol(col("wa"), lit(null)
            .cast("array<string>")).as("jac_null"))
        .select(col("id"), col("jac"), col("ov.ni"), col("ov.na"),
          col("ov.nb"), col("jac_null"))
        .as[(Long, Option[Double], Int, Int, Int, Option[Double])]
        .collect().sortBy(_._1).toSeq
    }
    val gen = run(spark.newSession(), codegen = true)
    val interp = run(spark.newSession(), codegen = false)
    assert(gen.size === edgePairs.size)
    assert(gen === interp)
    // a null token array is an empty document: Jaccard 0, or null when
    // the other side has no shingle either
    assert(gen.forall(r => r._6 === (if (r._4 == 0) None else Some(0.0))))
  }
}
