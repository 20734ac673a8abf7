package graft

import org.apache.spark.sql.DataFrame
import graft.queries.SimilarityQueries

/** Dev measurement for the IVF √n-cells claim (VERDICT r8 #2).
  *
  * Separates the two phases every IVF deployment separates:
  *  - **index build** (train coarse quantizer + assign every vector +
  *    int8-quantize): a one-time O(n·cells·dims) job — it GROWS with the
  *    cell count by construction, on any IVF implementation;
  *  - **query** (probe nprobe cells, bucket-join, integer-score, rank):
  *    the recurring read path whose candidate volume ≈ nprobe·n/cells is
  *    what the √n-cells production shape shrinks.
  *
  * For each frame it reports the pinned demo knob (q_ann_ivf_sq's
  * cells=8, nprobe=2) and the √n production knobs
  * ([[graft.queries.SimilarityQueries.scaledIvfParams]]: cells=√n,
  * nprobe~√(cells/8), sampled training) — build/query medians, recall@3
  * vs exact kNN, and the exact candidate-pair count (visible
  * sublinearity even where per-job floors mask wall-clock). Runs on the
  * raw embeddings AND the clustered fixture (q_ann_recall's clustered fixture):
  * the raw shipped vectors are near-uniform on the sphere, where no
  * sublinear ANN holds recall (cosine concentration — the honest
  * negative control); the clustered frame is where IVF's adaptivity
  * applies. One JSON line per (frame, config).
  *
  * Usage: runMain graft.IvfScale [sfDir] [runs] [raw|clustered|both]
  */
object IvfScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "both"
    val nprobe = 2 // q_ann_ivf_sq's ivfNprobe
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")

    val sf = sfDir.stripSuffix("/").split('/').last

    def config(frameName: String, emb: DataFrame, confName: String,
               cells: Int, np: Int, permille: Int): Unit = {
      val n = emb.count()
      // build phase: cold each run (train jobs run eagerly inside)
      val buildS = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val (cb, idx) = SimilarityQueries.ivfSqIndexOn(emb, cells, permille)
        Materialize.digest(idx)
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(runs / 2)
      // query phase: against a WARM prebuilt index — the deployment shape
      val (codebook, index0) = SimilarityQueries.ivfSqIndexOn(emb, cells, permille)
      val index = index0.persist()
      index.count()
      Materialize.digest(SimilarityQueries.ivfSqQueryOn(emb, codebook, index, np)) // warmup
      val queryS = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        Materialize.digest(SimilarityQueries.ivfSqQueryOn(emb, codebook, index, np))
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(runs / 2)
      val cands = SimilarityQueries.ivfCandidateCount(emb, codebook, index, np)
      val recall = SimilarityQueries.recallVsExactOn(emb,
        SimilarityQueries.ivfSqQueryOn(emb, codebook, index, np))
      index.unpersist()
      println(f"""{"sf":"$sf","frame":"$frameName","config":"$confName","n":$n,"cells":$cells,"nprobe":$np,"build_s":$buildS%.2f,"query_s":$queryS%.2f,"cands":$cands,"recall":$recall%.4f}""")
    }

    def report(frameName: String, emb: DataFrame): Unit = {
      val n = emb.count()
      val (cells, npEff, permille) = SimilarityQueries.scaledIvfParams(n, nprobe)
      config(frameName, emb, "pinned", 8, nprobe, 1000)
      config(frameName, emb, "scaled", cells, npEff, permille)
    }
    if (mode == "raw" || mode == "both")
      report("raw", Tables.embeddings(spark, sfDir))
    if (mode == "clustered" || mode == "both")
      report("clustered", SimilarityQueries.clusteredFrame(spark, sfDir))
    spark.stop()
  }
}
