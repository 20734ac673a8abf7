package graft

import org.apache.spark.sql.functions._

/** ANN retrieval quality relations the oracles cannot express: the
  * multi-probe LSH candidate set is a superset of the single-probe set
  * (probe mask 0 is the query's own bucket), so its results must
  * dominate rank-for-rank. */
class AnnSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("multi-probe LSH dominates single-probe rank-for-rank") {
    val lsh = Registry.byName("q_ann_lsh").fn(spark, dir)
    val mp = Registry.byName("q_ann_mp").fn(spark, dir)
    assert(mp.count() >= lsh.count())
    val j = lsh.select(col("query_id"), col("rk"), col("score").as("s1"))
      .join(mp.select(col("query_id"), col("rk"), col("score").as("s2")),
        Seq("query_id", "rk"))
    // every (query, rank) single-probe answers must exist in multi-probe
    assert(j.count() === lsh.count())
    assert(j.filter(col("s2") < col("s1")).isEmpty,
      "multi-probe returned a worse score at some rank")
  }

  test("multi-table LSH dominates single-table rank-for-rank") {
    // table 0 uses exactly the single-table planes (same md5 seeds), so
    // the L-table candidate set is a strict superset of single-table's
    val lsh = Registry.byName("q_ann_lsh").fn(spark, dir)
    val mt = Registry.byName("q_ann_mt").fn(spark, dir)
    assert(mt.count() >= lsh.count())
    val j = lsh.select(col("query_id"), col("rk"), col("score").as("s1"))
      .join(mt.select(col("query_id"), col("rk"), col("score").as("s2")),
        Seq("query_id", "rk"))
    assert(j.count() === lsh.count())
    assert(j.filter(col("s2") < col("s1")).isEmpty,
      "multi-table returned a worse score at some rank")
  }

  test("IVF nprobe=2 dominates nprobe=1 rank-for-rank") {
    val p1 = graft.queries.SimilarityQueries.annIvf(spark, dir, 1)
    val p2 = graft.queries.SimilarityQueries.annIvf(spark, dir, 2)
    assert(p2.count() >= p1.count())
    val j = p1.select(col("query_id"), col("rk"), col("score").as("s1"))
      .join(p2.select(col("query_id"), col("rk"), col("score").as("s2")),
        Seq("query_id", "rk"))
    // the 2-probe candidate set is a superset (probes are nearest-first),
    // so every (query, rank) must still exist and never score worse
    assert(j.count() === p1.count())
    assert(j.filter(col("s2") < col("s1")).isEmpty,
      "nprobe=2 returned a worse score at some rank")
  }

  test("clustered fixture: single-table LSH recall positive, amplification dominates") {
    // on the shipped near-uniform embeddings lsh recall is honestly 0.00;
    // the clustered fixture exists so the band-survival ladder is
    // measurable — pin that it actually is (lsh > 0, and the or-amplified
    // / probe-expanded rungs never fall below the single-table rung)
    val r = Registry.byName("q_ann_recall").fn(spark, dir)
      .filter(col("fixture") === "clustered")
      .collect().map(row => row.getString(1) -> row.getDouble(2)).toMap
    assert(r("lsh") > 0.0,
      "clustered fixture failed to make single-table LSH demonstrate band survival")
    assert(r("mt") >= r("lsh"), "multi-table recall fell below single-table")
    assert(r("mp") >= r("lsh"), "multi-probe recall fell below single-table")
  }

  test("int8 SQ tracks exact cosine: tight score error, high top-3 agreement") {
    // measured at sf0.001: max |sq - exact| cosine error 0.0037 over all
    // query pairs, top-3 agreement 0.933 — and this is the WORST case for
    // quantization (near-uniform vectors, tiny neighbor margins). Pin
    // bounds with margin; everything here is deterministic.
    val knn3 = Registry.byName("q_knn").fn(spark, dir)
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("nbr_id"), col("score").as("exact"))
    val sq = Registry.byName("q_ann_sq").fn(spark, dir)
      .select(col("query_id"), col("nbr_id"), col("score").as("approx"))
    val nq = knn3.select("query_id").distinct().count()
    val agreed = knn3.join(sq, Seq("query_id", "nbr_id"))
    val agreement = agreed.count().toDouble / (3.0 * nq)
    assert(agreement >= 0.8, s"SQ top-3 agreement $agreement below 0.8")
    val maxErr = agreed
      .agg(max(abs(col("approx") - col("exact")))).head().getDouble(0)
    assert(maxErr < 0.01, s"SQ cosine error $maxErr exceeds 0.01")
  }

  test("graph ANN: beam search over the kNN graph reaches >=0.9 recall@3") {
    // q_ann_graph runs on the clustered fixture (like q_ann_pq — the data
    // shape where "nearest" is meaningful); measured 1.0 at sf0.001 and
    // 0.9 at sf0.1. Pin 0.9: the beam scores <= entries + rounds·beam·2R
    // pairs per query regardless of corpus size, so recall must come from
    // graph quality (Hamming-1 build probes + the NN-Descent round), not
    // from scanning more.
    val emb = graft.queries.SimilarityQueries.clusteredFrame(spark, dir)
    val g = Registry.byName("q_ann_graph").fn(spark, dir)
    assert(g.groupBy("query_id").count().filter(col("count") =!= 3).isEmpty,
      "a query's beam terminated with fewer than 3 reachable nodes")
    val recall = graft.queries.SimilarityQueries.recallVsExactOn(emb, g)
    assert(recall >= 0.9, s"graph-ANN recall@3 $recall fell below 0.9")
  }

  test("frozen-cell delta ingest holds recall next to a full retrain") {
    // q_ann_delta's contract (VERDICT r11 #6): assigning a 10% delta
    // batch into cells trained WITHOUT it must not cost recall on the
    // clustered fixture — cluster structure doesn't move when 10% of
    // points arrive, which is what makes frozen-cell ingest sound.
    val rows = Registry.byName("q_ann_delta").fn(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet === Set("ivf_frozen_delta", "ivf_retrain"))
    assert(rows("ivf_frozen_delta") >= 0.9,
      s"frozen-delta recall ${rows("ivf_frozen_delta")} < 0.9")
    assert(rows("ivf_frozen_delta") >= rows("ivf_retrain") - 0.05,
      s"frozen-delta recall ${rows("ivf_frozen_delta")} trails retrain " +
        s"${rows("ivf_retrain")} by more than 0.05")
  }

  test("exact kNN dominates every ANN variant at rank 1") {
    val knn = Registry.byName("q_knn").fn(spark, dir)
      .filter(col("rk") === 1)
      .select(col("query_id"), col("score").as("exact"))
    for (name <- Seq("q_ann_lsh", "q_ann_mp", "q_ann_mt", "q_ann_ivf")) {
      val ann = Registry.byName(name).fn(spark, dir)
        .filter(col("rk") === 1)
        .select(col("query_id"), col("score").as("approx"))
      val j = knn.join(ann, "query_id")
      assert(j.filter(col("approx") > col("exact")).isEmpty,
        s"$name rank-1 beat the exact scan — impossible")
    }
  }

  test("q_ann_recall's await: two failures surface as one with a suppressed") {
    import scala.concurrent.Future
    import graft.queries.SimilarityQueries.awaitBoth
    val exactErr = new IllegalStateException("exact kNN pass failed")
    val trainErr = new IllegalArgumentException("trainer failed")
    val both = intercept[IllegalStateException](
      awaitBoth(Future.failed(exactErr), Future.failed(trainErr)))
    assert(both eq exactErr)
    assert(both.getSuppressed.toSeq === Seq(trainErr))
    val second = new IllegalArgumentException("trainer only")
    val one = intercept[IllegalArgumentException](
      awaitBoth(Future.successful(1), Future.failed(second)))
    assert((one eq second) && one.getSuppressed.isEmpty)
    assert(awaitBoth(Future.successful(1), Future.successful("x")) === (1 -> "x"))
  }
}
