package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketch

/** q_vocab_encode semantics beyond the oracle: a model-differential fuzz
  * (the frequency-ranked vocab and the position-ordered id reassembly
  * are the intricate parts) against plain-Scala encoding. The registry
  * query fixes V; here the vocab builder + encoder are exercised through
  * the same public query body on crafted corpora. */
class VocabEncodeSpec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] =
    staged(docs) { dir =>
      graft.queries.TextQueries.qVocabEncode
        .fn(spark, dir) // fn reads documents.parquet from a dir
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    }

  // stage a documents.parquet the query body can read
  private def staged[T](docs: Seq[(Long, String)])(body: String => T): T =
    withTempDir("graft-vocab") { dir =>
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
      body(dir.getAbsolutePath)
    }

  /** Plain-Scala model of the query: top-24 terms by (freq desc, tok),
    * id = rank; encode in document order, OOV → 0. */
  private def model(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val toks = docs.flatMap { case (_, t) =>
      t.trim.toLowerCase.split("\\s+").toSeq }
    val vocab = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (tok, c) => (-c, tok) }.take(24)
      .zipWithIndex.map { case ((tok, _), i) => tok -> (i + 1) }.toMap
    docs.map { case (id, t) =>
      val ws = t.trim.toLowerCase.split("\\s+").toSeq
      val ids = ws.map(w => vocab.getOrElse(w, 0))
      id -> ((ws.size.toLong, ids.count(_ == 0).toLong, ids.mkString(" ")))
    }.toMap
  }

  test("differential fuzz: engine encoding equals the in-memory model") {
    import org.scalacheck.{Gen, Prop}
    // 30-word universe vs the query's V=24 → OOV guaranteed for the
    // rarest terms; frequency TIES are common (small docs), exercising
    // the deterministic (freq desc, tok) rank order
    val words = (0 until 30).map(i => f"w$i%02d")
    val genDoc = for {
      n <- Gen.choose(1, 20)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
    } yield ws.mkString(" ")
    val genCorpus = Gen.choose(2, 8)
      .flatMap(k => Gen.listOfN(k, genDoc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    checkProp(Prop.forAllNoShrink(genCorpus) { corpus =>
      run(corpus) == model(corpus)
    }, minTests = 10)
  }
}
