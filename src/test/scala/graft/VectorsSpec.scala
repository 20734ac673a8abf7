package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.ops.Vectors

/** Vector kernels: fixed-point dot exactness, cosine sanity, LSH buckets. */
class VectorsSpec extends SparkSpec {
  import spark.implicits._

  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(Vectors.dotExact(col("a"), col("b")).as("d"))
      .as[Double].head()

  test("dotExact matches the plain dot product to fixed-point precision") {
    val a = Seq(0.25, -0.5, 0.125)
    val b = Seq(1.0, 2.0, -4.0)
    assert(math.abs(dot(a, b) - (0.25 - 1.0 - 0.5)) < 1e-12)
  }

  test("dotExact is invariant to element order pairings (exact sums)") {
    val a = Seq.tabulate(64)(i => math.sin(i + 1))
    val d1 = dot(a, a)
    val d2 = dot(a.reverse, a.reverse)
    assert(d1 === d2) // bit-identical: integer summation is commutative
  }

  test("cosine of a vector with itself is 1") {
    val a = Seq.tabulate(16)(i => 0.1 * (i + 1))
    val df = Seq((a, a)).toDF("a", "b").select(
      Vectors.cosineFromParts(
        Vectors.dotExact(col("a"), col("b")),
        Vectors.dotExact(col("a"), col("a")),
        Vectors.dotExact(col("b"), col("b"))).as("c"))
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-9)
  }

  /** The zip_with+aggregate HOF formulation of [[Vectors.dotScaled]],
    * the reference the codegen'd kernel is checked against. */
  private def dotScaledHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => round(x * y * lit(1e15)).cast("long")),
      lit(0L), (acc, z) => acc + z)

  /** The HOF formulation of [[Vectors.intDot]]. */
  private def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y),
      lit(0L), (acc, z) => acc + z)

  test("codegen FixedPointDot is bit-identical to the HOF formulation") {
    val vecs = Seq(
      Seq.tabulate(64)(i => math.sin(i * 1.7) * 1.3),
      Seq.tabulate(64)(i => math.cos(i * 0.9) * -0.7),
      Seq(0.49999999999999994, -0.5, 2.5, -2.5, 0.0, 1e-16))
    vecs.combinations(2).foreach { case Seq(a, b0) =>
      val b = b0.take(a.length).padTo(a.length, 0.1)
      val df = Seq((a, b)).toDF("a", "b").select(
        Vectors.dotScaled(col("a"), col("b")).as("gen"),
        dotScaledHof(col("a"), col("b")).as("hof"))
      val (g, h) = df.as[(Long, Long)].head()
      assert(g === h)
    }
  }

  test("codegen IntDot is bit-identical to the HOF formulation") {
    val vecs = Seq(
      Seq.tabulate(64)(i => ((i * 37) % 255) - 127),
      Seq.tabulate(64)(i => 127 - ((i * 91) % 255)),
      Seq(127, -127, 0, 1, -1, 64))
    vecs.combinations(2).foreach { case Seq(a, b0) =>
      val b = b0.take(a.length).padTo(a.length, 3)
      val df = Seq((a, b)).toDF("a", "b").select(
        Vectors.intDot(col("a"), col("b")).as("gen"),
        intDotHof(col("a"), col("b")).as("hof"))
      val (g, h) = df.as[(Long, Long)].head()
      assert(g === h)
      assert(g === a.zip(b).map { case (x, y) => x.toLong * y }.sum)
    }
  }

  test("int_dot is SQL-callable via GraftExtensions") {
    val r = spark.sql(
      "SELECT int_dot(array(3, -2, 7), array(5, 4, -1)) AS d")
      .collect()(0).getLong(0)
    assert(r === 0L) // 15 - 8 - 7
  }

  test("planeWeights is deterministic and bounded in [-0.5, 0.5)") {
    val p1 = Vectors.planeWeights(6, 64)
    val p2 = Vectors.planeWeights(6, 64)
    assert(p1.flatten.toSeq === p2.flatten.toSeq)
    assert(p1.flatten.forall(w => w >= -0.5 && w < 0.5))
  }

  test("lshBucket: same vector same bucket; scaled copy same bucket") {
    val planes = Vectors.planeWeights(6, 8)
    val v = Seq(0.3, -0.2, 0.7, 0.1, -0.9, 0.4, 0.0, 0.2)
    val df = Seq((v, v.map(_ * 2.0))).toDF("a", "b").select(
      Vectors.lshBucket(col("a"), planes).as("ba"),
      Vectors.lshBucket(col("b"), planes).as("bb"))
    val (ba, bb) = df.as[(Long, Long)].head()
    assert(ba === bb) // hyperplane signs are scale-invariant
    assert(ba >= 0 && ba < 64)
  }

  test("HyperplaneBandSigs interpreted eval matches the codegen path") {
    // the interpreted twin (nullSafeEval) runs under codegen fallback;
    // a drift between the two would corrupt buckets silently
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val planes = Vectors.planeWeights(8, 4) // 2 bands × 4 planes
    val vecs = Seq(
      Seq(0.3, -0.2, 0.7, 0.1), Seq(-0.5, 0.5, 0.0, 1.0),
      Seq(0.0, 0.0, 0.0, 0.0), Seq(1e-9, -1e-9, 1e-9, -1e-9))
    val viaDf = vecs.toDF("v")
      .select(Vectors.lshBandSigs(col("v"), planes, 4).as("s"))
      .as[Seq[Long]].collect().toSeq
    val viaEval = vecs.map { v =>
      graft.expressions.HyperplaneBandSigs(
          Literal.create(v, ArrayType(DoubleType)), planes, 4)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    }
    assert(viaDf === viaEval)
  }

  test("multi-band LSH: bucket populations stay bounded, buckets scale") {
    // the q_embed_dup banding contract: 4 bands × 16 planes give ~65k
    // buckets per band, so no bucket collects more than a sliver of the
    // corpus — the property that kills the quadratic within-bucket pair
    // blowup of a fixed-small-bucket-count layout
    val bands = 4; val rows = 16
    val planes = Vectors.planeWeights(bands * rows, 64)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val n = e.count()
    // fused expression == per-band lshBucket composition, bit for bit
    val composed = (0 until bands).map { b =>
      Vectors.lshBucket(col("v"), planes.slice(b * rows, (b + 1) * rows))
    }
    val fused = Vectors.lshBandSigs(col("v"), planes, rows)
    assert(e.select(col("vec_id"),
        array(composed: _*).as("c"), fused.as("f"))
      .filter(col("c") =!= col("f")).isEmpty)
    val banded = e.select(col("vec_id"), posexplode(fused))
      .toDF("vec_id", "band", "sig")
    val pops = banded.groupBy("band", "sig").count()
      .agg(max(col("count")).as("maxPop"), count(lit(1)).as("nBuckets"))
      .as[(Long, Long)].head()
    val (maxPop, nBuckets) = pops
    // every band row lands somewhere; sig fits its 16 bits
    assert(banded.count() === n * bands)
    assert(banded.filter(col("sig") < 0 || col("sig") >= (1 << rows)).isEmpty)
    // population bound: no band bucket holds more than a handful (the
    // sf0.01 measurement is max 2 of 500; give slack for corpus quirks)
    assert(maxPop <= 8, s"band bucket too popular: $maxPop of $n")
    // bucket count grows with the corpus (near-unique sigs), far past the
    // retired 64-bucket ceiling
    assert(nBuckets >= bands * n / 2, s"only $nBuckets buckets for $n vecs")
  }
}
