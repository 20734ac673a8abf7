package graft

import graft.ops.{Sketch, TopK}
import org.apache.spark.sql.functions.{col, sum}

/** KMV cardinality sketch: exact fallback below k, bounded error above. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("groups with fewer than k distinct values estimate exactly") {
    val df = (0 until 10).map(i => ("small", s"v$i")) ++
      (0 until 10).flatMap(i => Seq(("dups", s"d${i % 3}")))
    val got = Sketch.kmvDistinct(df.toDF("g", "v"), "g", "v", k = 64)
      .as[(String, Double)].collect().toMap
    assert(got("small") === 10.0)
    assert(got("dups") === 3.0) // duplicates collapse before the sketch
  }

  test("k=64 estimate lands within 3 standard errors on 2000 distincts") {
    val df = (0 until 2000).map(i => ("big", s"value_$i")).toDF("g", "v")
    val est = Sketch.kmvDistinct(df, "g", "v", k = 64)
      .as[(String, Double)].head()._2
    // KMV relative stderr ≈ 1/sqrt(k-2) ≈ 12.7%; 3σ ≈ 38%
    assert(math.abs(est - 2000.0) / 2000.0 < 0.38,
      s"estimate $est too far from 2000")
  }

  test("sketches merge: minima of two halves re-capped == sketch of the whole") {
    val rows = (0 until 800).map(i => (s"g${i % 2}", s"v$i"))
    val whole = rows.toDF("g", "v")
    // arbitrary uneven split with overlap — merge must dedup shared values
    val partA = rows.filter(_._2.hashCode % 3 != 0) ++ rows.take(50)
    val partB = rows.filter(_._2.hashCode % 3 == 0) ++ rows.take(50)
    val k = 48
    // the merge: k smallest of the DISTINCT union (a value observed in
    // both halves counts once)
    val u = Sketch.kmvMinima(partA.toDF("g", "v"), "g", "v", k)
      .unionAll(Sketch.kmvMinima(partB.toDF("g", "v"), "g", "v", k)).distinct()
    val merged = TopK.perGroup(u, Seq(u("g")), Seq(u("h") -> false), k)
      .select(col("g"), col("h"))
    val estMerged = Sketch.kmvEstimate(merged, "g", k)
      .as[(String, Double)].collect().toMap
    val estWhole = Sketch.kmvDistinct(whole, "g", "v", k)
      .as[(String, Double)].collect().toMap
    assert(estMerged === estWhole) // exactly equal, not approximately
  }

  test("estimates are deterministic across runs and repartitionings") {
    val df = (0 until 500).map(i => (s"g${i % 2}", s"x$i")).toDF("g", "v")
    val a = Sketch.kmvDistinct(df, "g", "v", 32).collect().toSet
    val b = Sketch.kmvDistinct(df.repartition(13), "g", "v", 32)
      .collect().toSet
    assert(a === b) // order statistics don't care about partitioning
  }

  // ---- Count-Min ----

  test("CMS never undercounts; a wide sketch and an unseen key are exact") {
    // skewed stream: key k_i appears i+1 times (40 keys, 820 rows)
    val rows = (0 until 40).flatMap(i => Seq.fill(i + 1)(s"k$i"))
    val df = rows.toDF("key")
    val keys = (0 until 40).map(i => s"k$i")
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // narrow sketch (width 16 << 40 keys): collisions certain, but the
    // min-of-rows estimate must still dominate the true count
    val narrow = Sketch.cmsEstimate(Sketch.cmsCounters(df, "key", 4, 16),
        keys.toDF("key"), "key", 4, 16)
      .as[(String, Long)].collect().toMap
    keys.foreach(k => assert(narrow(k) >= exact(k),
      s"$k: est ${narrow(k)} undercounts ${exact(k)}"))
    // wide sketch: no 4-row total collision on this fixture → exact
    val wide = Sketch.cmsEstimate(Sketch.cmsCounters(df, "key", 4, 4096),
        keys.toDF("key"), "key", 4, 4096)
      .as[(String, Long)].collect().toMap
    keys.foreach(k => assert(wide(k) === exact(k)))
    // a key the sketch never saw estimates 0 (empty buckets), not null
    val unseen = Sketch.cmsEstimate(Sketch.cmsCounters(df, "key", 4, 4096),
        Seq("zz").toDF("key"), "key", 4, 4096)
      .as[(String, Long)].head()._2
    assert(unseen === 0L)
  }

  test("CMS counters merge by addition: sum of halves == sketch of whole") {
    val rows = (0 until 600).map(i => s"k${i % 23}")
    val (a, b) = rows.splitAt(217) // uneven split, shared keys
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val merged = Sketch.cmsCounters(a.toDF("key"), "key", 4, 32)
      .unionAll(Sketch.cmsCounters(b.toDF("key"), "key", 4, 32))
      .groupBy("j", "b").agg(sum("cnt").as("cnt"))
    val whole = Sketch.cmsCounters(rows.toDF("key"), "key", 4, 32)
    assert(toSet(merged) === toSet(whole)) // exactly equal, not approximately
  }

  test("CMS estimates are deterministic across repartitionings") {
    val rows = (0 until 300).map(i => s"k${i % 17}")
    val keys = (0 until 17).map(i => s"k$i")
    val a = Sketch.cmsEstimate(Sketch.cmsCounters(rows.toDF("key"), "key", 3, 64),
      keys.toDF("key"), "key", 3, 64).collect().toSet
    val b = Sketch.cmsEstimate(
      Sketch.cmsCounters(rows.toDF("key").repartition(7), "key", 3, 64),
      keys.toDF("key"), "key", 3, 64).collect().toSet
    assert(a === b)
  }

  test("histogram quantiles bracket the exact quantile within one bin width") {
    import org.scalacheck.{Gen, Prop}
    val width = 7.0
    val data = Gen.nonEmptyListOf(Gen.choose(0.0, 300.0))
    checkProp(Prop.forAllNoShrink(data) { vs =>
      val df = vs.map(("g", _)).toDF("g", "v")
      val got = Sketch.histQuantiles(df, "g", "v", width,
          Seq("p50" -> 0.5, "p99" -> 0.99))
        .as[(String, Long, Double, Double)].head()
      val sorted = vs.sorted
      def exact(q: Double): Double =
        sorted(math.ceil(q * vs.size).toInt.max(1) - 1)
      // interpolated estimate lands in (lower, upper] of the bin holding
      // the ceil(q·n)-th smallest value; the exact value is in
      // [lower, upper) of the same bin — two-sided |est − exact| < width
      got._2 == vs.size.toLong && Seq((got._3, 0.5), (got._4, 0.99))
        .forall { case (est, q) =>
          math.abs(est - exact(q)) < width }
    })
  }

  test("interpolation beats the lower-edge rule on uniform-ish data") {
    // deterministic near-uniform fixture over [0, 210): the exact p50 sits
    // mid-bin, where the lower-edge rule's error is ~half a width while
    // interpolation under the (here: true) uniform-within-bin assumption
    // nearly vanishes — the r9 accuracy upgrade, pinned quantitatively
    val width = 10.0
    val vs = (0 until 2100).map(i => (i * 97 % 2100) / 10.0)
    val df = vs.map(("g", _)).toDF("g", "v")
    val got = Sketch.histQuantiles(df, "g", "v", width,
        Seq("p50" -> 0.5, "p90" -> 0.9))
      .as[(String, Long, Double, Double)].head()
    val sorted = vs.sorted
    def exact(q: Double): Double =
      sorted(math.ceil(q * vs.size).toInt.max(1) - 1)
    def lowerEdge(q: Double): Double = {
      // the pre-r9 rule, recomputed locally: lower edge of the selected bin
      val n = vs.size
      val bins = vs.groupBy(v => math.floor(v / width).toLong)
        .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      var cum = 0L
      bins.collectFirst {
        case (b, c) if { cum += c; cum >= math.ceil(q * n) } => b * width
      }.get
    }
    for ((est, q) <- Seq((got._3, 0.5), (got._4, 0.9))) {
      val errInterp = math.abs(est - exact(q))
      val errLower = math.abs(lowerEdge(q) - exact(q))
      assert(errInterp < errLower,
        s"q=$q: interpolated err $errInterp !< lower-edge err $errLower")
      assert(errInterp <= width / 2,
        s"q=$q: interpolated err $errInterp exceeds half a width on uniform data")
    }
  }

  test("histogram bins merge by addition: sum of halves == bins of whole") {
    val rows = (0 until 500).map(i => ("g" + i % 3, (i * 37 % 211).toDouble))
    val (a, b) = rows.splitAt(191)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val merged = Sketch.histBins(a.toDF("g", "v"), "g", "v", 10.0)
      .unionAll(Sketch.histBins(b.toDF("g", "v"), "g", "v", 10.0))
      .groupBy("g", "bin")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    val whole = Sketch.histBins(rows.toDF("g", "v"), "g", "v", 10.0)
    assert(toSet(merged) === toSet(whole)) // exactly equal, not approximately
  }

  // ------------------------------------------------------ hash sample ---

  private def qsRows(n: Int): Seq[(String, Long, Double)] =
    (0 until n).map(i => ("g" + i % 2, i.toLong, (i * 131 % 997).toDouble))

  test("hash sample: merge of halves == sketch of whole, EXACTLY") {
    // split by value parity, NOT by position — the state must be a pure
    // function of the multiset, indifferent to how rows were distributed
    val rows = qsRows(3000)
    val (a, b) = rows.partition(_._2 % 2 == 0)
    val k = 128
    def st(r: Seq[(String, Long, Double)]) =
      Sketch.qsampleState(r.toDF("g", "id", "v"), "g", "id", "v", k)
    // the merge of states over disjoint rows: k smallest of the union
    val u = st(a).unionAll(st(b))
    val merged = TopK.perGroup(u, Seq(u("g")), Seq(u("h") -> false, u("v") -> false), k)
      .select(col("g"), col("h"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val whole = st(rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(merged === whole) // frame equality, the property KLL can't give
  }

  test("hash sample: groups at or under k estimate every quantile exactly") {
    val rows = (0 until 200).map(i => ("g", i.toLong, i.toDouble))
    val est = Sketch.qsampleQuantiles(
        Sketch.qsampleState(rows.toDF("g", "id", "v"), "g", "id", "v", 1024),
        "g", Seq("p50" -> 0.5, "p90" -> 0.9))
      .head()
    assert(est.getLong(1) === 200L)
    // ceil(0.5*200)=100th smallest of 0..199 = 99.0; ceil(0.9*200)=180th = 179.0
    assert(est.getDouble(2) === 99.0 && est.getDouble(3) === 179.0)
  }

  test("hash sample: rank error within the sampling bracket at k=1024") {
    val n = 20000
    val rows = (0 until n).map(i => ("g", i.toLong, (i * 7919 % n).toDouble))
    val est = Sketch.qsampleQuantiles(
        Sketch.qsampleState(rows.toDF("g", "id", "v"), "g", "id", "v", 1024),
        "g", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .head()
    // values are a permutation of 0..n-1, so a value IS its rank; the
    // sample q-quantile's population rank deviates by ~√(q(1-q)/k)·n
    // (σ ≤ 1.6% of n at k=1024) — assert a 3σ+slack bracket of 6%
    for ((q, idx) <- Seq((0.5, 2), (0.9, 3), (0.99, 4))) {
      val rank = est.getDouble(idx) / n
      assert(math.abs(rank - q) < 0.06,
        s"q=$q: sample rank $rank outside the 6% bracket")
    }
  }

  test("hash sample: deterministic across repartitionings") {
    val rows = qsRows(2500)
    def est(parts: Int) = Sketch.qsampleQuantiles(
        Sketch.qsampleState(rows.toDF("g", "id", "v").repartition(parts),
          "g", "id", "v", 256),
        "g", Seq("p50" -> 0.5, "p99" -> 0.99))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(est(1) === est(17))
  }
}
