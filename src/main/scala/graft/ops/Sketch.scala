package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch operators for cardinality at scale.
  *
  * KMV (k-minimum-values): hash every distinct value to a 60-bit uniform
  * integer, keep the k smallest per group, estimate the distinct count as
  * (k-1)·2⁶⁰/h_k from the k-th order statistic (exactly the distinct
  * count when a group holds fewer than k distinct hashes). The sketch is
  * a fixed-size order statistic — mergeable across partitions/days by
  * keeping the k smallest of a union — which is why it (and its HLL
  * cousins, `approx_count_distinct`) is the 100 TB path where exact
  * distinct is a full shuffle of every value.
  *
  * Determinism contract: md5-derived hashes (not engine-internal ones),
  * integer order statistics, and a single double division at the end —
  * reproducible bit-for-bit in ANSI SQL, unlike `approx_count_distinct`
  * whose HLL++ register layout no oracle can mirror.
  */
object Sketch {
  /** 2^60, exactly representable as a double. */
  private val Two60 = 1152921504606846976L

  /** 60-bit uniform hash of a string column (md5 prefix, the
    * q_fingerprint kernel). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The raw sketch state: the (up to) k smallest distinct hashes per
    * group → (groupCol, h). This is what makes KMV mergeable — the
    * distinct union of two groups'/days' minima, re-capped to the k
    * smallest, IS the sketch of the union (order statistics compose;
    * SketchSpec checks it). The k minima ride the custom [[TopK]] operator:
    * map-side bounded heaps, so after the distinct only ≤ k·|groups|
    * hash rows shuffle. */
  def kmvMinima(df: DataFrame, groupCol: String, valueCol: String,
                k: Int): DataFrame = {
    val hashed = df.select(col(groupCol), hash60(col(valueCol)).as("h"))
      .distinct()
    TopK.perGroup(hashed, Seq(hashed(groupCol)), Seq(hashed("h") -> false), k)
      .select(col(groupCol), col("h"))
  }

  /** Finisher: estimate from a minima frame → (groupCol, kmv_est). */
  def kmvEstimate(minima: DataFrame, groupCol: String, k: Int): DataFrame =
    minima.groupBy(groupCol)
      .agg(max("h").as("hk"), count(lit(1)).as("nk"))
      .select(col(groupCol),
        round(when(col("nk") < k, col("nk").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Two60).cast("double") /
            col("hk").cast("double")), 3).as("kmv_est"))

  /** Per-group KMV distinct estimate → (groupCol, kmv_est); the one-shot
    * composition of [[kmvMinima]] + [[kmvEstimate]]. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int): DataFrame =
    kmvEstimate(kmvMinima(df, groupCol, valueCol, k), groupCol, k)

  // --------------------------------------------------------------------
  // Count-Min sketch: point-frequency estimates in depth×width counters.
  //
  // Each of `depth` rows hashes every key into one of `width` buckets and
  // counts arrivals; a key's estimate is the MIN of its `depth` bucket
  // counters — always ≥ the true count (counters only ever over-count via
  // collisions), and ≤ true + ε·N with probability 1-δ for width = e/ε,
  // depth = ln(1/δ) (Cormode & Muthukrishnan 2005). The 100 TB frequency
  // path where exact per-key counts would shuffle the full key stream:
  // counters aggregate map-side, so at most depth·width rows reach the
  // shuffle per partition regardless of row count or key cardinality, and
  // two sketches MERGE by adding counters (SketchSpec checks it). Same
  // determinism contract as [[hash60]]: md5-derived row hashes an ANSI
  // oracle replicates bit-for-bit, never engine-internal hashing.
  // --------------------------------------------------------------------

  /** Row-j bucket of a key: a disjoint 28-bit slice (7 hex chars) of ONE
    * md5(key) digest, mod width. The first cut seeded `depth` hashes by
    * prefixing the row index ("j:key"), which costs one md5 per (row,
    * key) — the dominant cost of the whole sketch build at 600k rows ×
    * depth 4. One 128-bit digest carries four independent 28-bit slices
    * (md5 bits are independent; 28 bits ≫ the 9-bit width), so all rows
    * now share a single digest per key. Depth ≤ 4 by construction —
    * [[cmsCounters]] guards it. */
  def cmsBucket(key: Column, row: Int, width: Int): Column =
    cmsBucketFromHex(md5(key), row, width)

  /** Row-j bucket from an already-computed md5 hex column — lets the
    * sketch build pay ONE md5 per input row ([[cmsCounters]] projects
    * the digest before the ×depth explode). */
  private def cmsBucketFromHex(h: Column, row: Int, width: Int): Column =
    conv(substring(h, row * 7 + 1, 7), 16, 10).cast("long") % width

  /** Build the counter table → (j, b, cnt), ≤ depth·width rows. The
    * explode multiplies rows ×depth BEFORE the partial aggregate, so the
    * map-side combine still bounds what shuffles at depth·width per
    * partition. */
  def cmsCounters(df: DataFrame, keyCol: String, depth: Int,
                  width: Int): DataFrame = {
    require(depth <= 4, s"depth $depth > 4: one md5 carries four 28-bit slices")
    df.where(col(keyCol).isNotNull) // NULL keys are uncounted, as in MG
      .select(md5(col(keyCol)).as("h")) // ONE digest per row, pre-explode
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), cmsBucketFromHex(col("h"), j, width).as("b"))): _*))
        .as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for the keys in `keys(keyCol)` →
    * (keyCol, cms_est): min over rows of the key's bucket counter. The
    * counter table is ≤ depth·width rows by construction, so it
    * broadcasts; the key side never shuffles. Missing buckets count 0
    * (a key the sketch never saw estimates 0, not null). */
  def cmsEstimate(counters: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    val probes = keys.select(col(keyCol), explode(array((0 until depth).map(
        j => struct(lit(j).as("j"), cmsBucket(col(keyCol), j, width).as("b"))): _*))
        .as("jb"))
      .select(col(keyCol), col("jb.j").as("j"), col("jb.b").as("b"))
    probes.join(broadcast(counters), Seq("j", "b"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  // --------------------------------------------------------------------
  // Hash-sample quantile sketch: RANGE-FREE mergeable quantiles — the
  // KLL slot (Karnin, Lang & Liberty 2016), filled by the CANONICAL
  // construction this repo's determinism bar demands.
  //
  // The fixed-width histogram (below) needs the value range a priori and
  // carries O(range/width) state — a real liability for unbounded-domain
  // columns at 100 TB. The literature's range-free answer is KLL, but
  // vanilla KLL is a function of ARRIVAL ORDER (each compaction keeps
  // odd- or even-indexed survivors of whatever happened to be in the
  // buffer), so two honest implementations disagree bit-for-bit, and
  // merge-of-halves ≠ sketch-of-whole even with derandomized coin flips.
  // This repo's sketches hold a stronger bar: the state must be a pure
  // function of the input MULTISET (KMV's order statistics, CMS's
  // counters), so the DuckDB oracle can re-derive it and the merge spec
  // can demand exact equality. The canonical range-free construction
  // with that property is the BOTTOM-K HASH SAMPLE: keep the k rows with
  // the smallest md5-derived id hash (a uniform without-replacement
  // sample selected by hash, not by arrival), estimate quantiles as
  // order statistics of the kept values. Merge = k-smallest-of-union of
  // states built over disjoint rows —
  // associative, commutative, and EQUAL to the sketch of the whole, by
  // the same argument as KMV. The price of canonicity is accuracy:
  // rank error O(√(q(1-q)/k)) per query (sampling), versus KLL's
  // O(1/k) — the honest trade, recorded here and in the spec's bracket.
  // State is O(k) regardless of value range or key cardinality; at
  // 100 TB the k survivors per group pre-aggregate map-side through the
  // bounded-heap TopK operator exactly like KMV's minima.
  // --------------------------------------------------------------------

  /** The sketch state: the k (hash, value) pairs with the smallest
    * [[hash60]] of `idCol` per group → (group, h, v). `idCol` must be
    * row-unique (the hash is the sampling coin AND the tie-break, so
    * selection is total-ordered and partition-invariant); duplicate
    * VALUES each keep their own row — a multiset sample, which is what
    * quantile estimation needs. */
  def qsampleState(df: DataFrame, groupCol: String, idCol: String,
                   valueCol: String, k: Int): DataFrame = {
    val hashed = df.select(col(groupCol),
      hash60(col(idCol).cast("string")).as("h"),
      col(valueCol).cast("double").as("v"))
    TopK.perGroup(hashed, Seq(hashed(groupCol)),
        Seq(hashed("h") -> false, hashed("v") -> false), k)
      .select(col(groupCol), col("h"), col("v"))
  }

  /** Finisher: quantile estimates from a state frame → (group, m,
    * <name per q>), est(q) = the ceil(q·m)-th smallest kept value (the
    * sample's order statistic; exact when the group held ≤ k rows —
    * KMV's small-cardinality exactness, in the quantile domain). The
    * collect is bounded at k doubles per group by construction.
    *
    * Rank convention (ADVICE r10): "ceil" here is IEEE-double ceil of
    * the double product q·m — THE SPEC, not an approximation of exact
    * rational arithmetic. At exact multiples the two differ: q=0.9,
    * m=10 gives 0.9*10 = 9.000000000000002 in binary floating point, so
    * the kept rank is 10 (the max), not the mathematical ceil(9)=9 —
    * i.e. at lattice points the estimator reads one order statistic
    * high. This convention is deliberate: this Spark finisher and the
    * DuckDB oracle's identical `ceil(q*m)` chain share the double
    * product bit-for-bit, so the gate can never diverge on it, whereas
    * exact integer rank arithmetic would have to be hand-replicated in
    * both dialects to buy a distinction without statistical content
    * (both ranks are within the sample's O(√(q(1−q)/k)) error band). */
  def qsampleQuantiles(state: DataFrame, groupCol: String,
                       qs: Seq[(String, Double)]): DataFrame = {
    val agg = state.groupBy(groupCol).agg(
      count(lit(1)).as("m"),
      array_sort(collect_list(col("v"))).as("vs"))
    val ests = qs.map { case (name, q) =>
      element_at(col("vs"),
        ceil(lit(q) * col("m")).cast("int")).as(name)
    }
    agg.select(col(groupCol) +: col("m") +: ests: _*)
  }

  /** Fixed-width histogram of `valueCol` per group → (group, bin, cnt),
    * bin = floor(value/width). This is the mergeable QUANTILE-sketch
    * state: bin counts are integers that add across partitions, days, or
    * streams, and the whole state is O(value-range / width) per group —
    * versus exact `percentile_disc` (q_quantiles), which must sort every
    * group's full value set and cannot pre-aggregate map-side. The
    * histogram is the 100 TB quantile path; `width` trades accuracy
    * (estimates interpolate within one bin) for state. */
  def histBins(df: DataFrame, groupCol: String, valueCol: String,
               width: Double): DataFrame =
    df.groupBy(col(groupCol),
        floor(col(valueCol) / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Histogram quantile estimates per group, linearly INTERPOLATED within
    * the selected bin: for each (name, q), find the first bin whose
    * cumulative count reaches need = ceil(q·n), then place the estimate
    * at `bin·width + ((need − cum_before_bin) / bin_cnt)·width` — the
    * rank's fractional position inside the bin under the
    * uniform-within-bin assumption. The estimate lands in
    * (lower edge, upper edge], so |est − exact| < width two-sided
    * (SketchSpec pins the bracket AND that interpolation beats the
    * lower-edge rung's mean error), versus the pre-r9 lower-edge rule's
    * one-sided est ≤ exact < est + width with error up to a full width
    * at the top of the bin.
    *
    * Determinism across engines: the selection is integer comparisons
    * (struct-min by bin carries that bin's cum/cnt along), and the
    * finisher is a fixed IEEE op chain — double ceil, two exact
    * integer-valued subtractions, one division, multiply-adds in a
    * pinned order — mirrored token-for-token by the DuckDB oracle
    * (arg_min FILTER). Output:
    * (group, n, <one column per requested quantile>). */
  def histQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                    width: Double, qs: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byG = Window.partitionBy(groupCol)
    val cum = histBins(df, groupCol, valueCol, width)
      .withColumn("cum", sum(col("cnt")).over(byG.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(byG))
    // one struct-min per quantile: cum is strictly increasing in bin, so
    // min-by-bin IS the first qualifying bin, and the struct carries the
    // bin's own cnt (NOT min cnt over qualifying bins) along with it
    val sels = qs.map { case (name, q) =>
      min(when(col("cum") >= ceil(lit(q) * col("n")),
        struct(col("bin"), col("cum"), col("cnt")))).as(s"_sel_$name")
    }
    val agg = cum.groupBy(groupCol).agg(max(col("n")).as("n"), sels: _*)
    val ests = qs.map { case (name, q) =>
      val sel = col(s"_sel_$name")
      val need = ceil(lit(q) * col("n")).cast("double")
      val before = (sel("cum") - sel("cnt")).cast("double")
      (sel("bin").cast("double") * lit(width) +
        (need - before) / sel("cnt").cast("double") * lit(width)).as(name)
    }
    agg.select(col(groupCol) +: col("n") +: ests: _*)
  }
}
