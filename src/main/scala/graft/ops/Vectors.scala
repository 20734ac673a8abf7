package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity kernels (V3 north-star: the reference declares a
  * cosine HNSW index, commercial_rfp_indexer.py:95-124; here the same
  * retrieval semantics are built Spark-native: exact brute-force cosine as
  * the correctness baseline and random-hyperplane LSH bucketing as the
  * approximate scale path).
  *
  * Everything is a higher-order-function projection over
  * `ArrayType(FloatType)` — no UDFs, no explode of the vector, fully
  * codegen-compatible, zero shuffle until the final top-k / bucket join.
  *
  * Float-determinism contract shared with the DuckDB oracles: per-element
  * products are computed in DOUBLE (IEEE, identical in both engines), then
  * fixed-point-scaled to a LONG (`round(x*y*1e15)` — both engines round
  * half-away-from-zero on the identical double) and summed as integers —
  * integer addition is exact and order-independent, so the dot product is
  * bit-identical regardless of either engine's summation order or
  * parallelism. 64 elements × |x*y|·1e15 stays far below Long.MaxValue.
  * Scores are rounded to 6 decimals before ranking so rank order is also
  * engine-independent.
  */
object Vectors {
  import org.apache.spark.sql.GraftSqlBridge

  /** Scaled-long dot product Σ round(a_i*b_i*1e15) — the exact kernel,
    * as the codegen'd [[graft.expressions.FixedPointDot]] (see there for
    * why this is a custom Expression and not the equivalent
    * zip_with+aggregate HOF chain). */
  def dotScaled(a: Column, b: Column): Column =
    GraftSqlBridge.column(graft.expressions.FixedPointDot(
      GraftSqlBridge.expression(a.cast("array<double>")),
      GraftSqlBridge.expression(b.cast("array<double>"))))

  /** Exact (order-independent) dot product of two double arrays. */
  def dotExact(a: Column, b: Column): Column =
    dotScaled(a, b).cast("double") / lit(1e15)

  /** Exact integer dot product Σ aᵢ·bᵢ of two int arrays as a LONG —
    * the codegen'd [[graft.expressions.IntDot]], the scoring kernel of
    * the scalar-quantized ANN rungs. */
  def intDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(graft.expressions.IntDot(
      GraftSqlBridge.expression(a.cast("array<int>")),
      GraftSqlBridge.expression(b.cast("array<int>"))))

  def toDoubleArr(a: Column): Column = transform(a, _.cast("double"))

  /** Cosine similarity with precomputed squared norms (engine side computes
    * each norm once; the naive oracle recomputes per pair — fixed-point
    * exactness makes the results identical). */
  def cosineFromParts(dxy: Column, dxx: Column, dyy: Column): Column =
    dxy / (sqrt(dxx) * sqrt(dyy))

  // ---------------------------------------------------------------- LSH ---

  /** Deterministic pseudo-random hyperplane weights, derived from md5 so
    * the DuckDB oracle can reproduce them in SQL:
    * w(p,i) = int(md5("<seedPrefix>p_i")[0:4 hex]) / 65536 - 0.5. Computed
    * once driver-side and shipped as array literals, so bucket assignment
    * is a pure projection (no plane-table join, no shuffle). A non-empty
    * `seedPrefix` yields an independent weight family (used for the
    * clustered-fixture centers so they don't correlate with the planes). */
  def planeWeights(numPlanes: Int, dims: Int,
                   seedPrefix: String = ""): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dims) { (p, i) =>
      val hex = md.synchronized {
        md.reset()
        md.digest(s"$seedPrefix${p}_$i".getBytes("UTF-8")).take(2)
          .map("%02x".format(_)).mkString
      }
      java.lang.Long.parseLong(hex, 16) / 65536.0 - 0.5
    }
  }

  /** Random-hyperplane LSH bucket id: bit p of the bucket is the sign of
    * dot(v, plane_p). Same fixed-point dot as above, so the sign (and
    * hence the bucket) matches the oracle bit-for-bit. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(dotScaled(vec, typedLit(plane.toSeq)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** All multi-band LSH signatures in one fused pass (array<long>, one
    * element per band): semantically `bands.map(b => lshBucket(vec,
    * planes.slice(b*r, (b+1)*r)))` — VectorsSpec pins the equality — but
    * one codegen'd expression instead of planes.length separate dot
    * calls (see [[graft.expressions.HyperplaneBandSigs]] for the
    * measured 100× gap). */
  def lshBandSigs(vec: Column, planes: Array[Array[Double]],
                  rowsPerBand: Int): Column =
    GraftSqlBridge.column(graft.expressions.HyperplaneBandSigs(
      GraftSqlBridge.expression(vec.cast("array<double>")),
      planes, rowsPerBand))
}
