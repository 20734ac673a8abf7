package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components over a pair table — the step every dedup
  * pipeline runs AFTER candidate-pair generation: retention needs the
  * transitive duplicate CLUSTER (if a~b and b~c, keeping a and c is still
  * a leak). The north-star extension of the reference's pairwise exact
  * dedup (commercial_rfp_raw_data_ingestion_and_cleaning.py:251).
  */
object Components {

  /** (node, cluster_id) for every node in `edges` (integral columns `a`,
    * `b`); cluster_id = the minimum node id reachable from the node.
    *
    * Min-label propagation on [[GraphLoop]]: each round a node adopts the
    * minimum label in its closed neighborhood, at one message shuffle and
    * one job (the changed-label count the driver stops on). Rounds = the
    * largest cluster's diameter, small for dedup clusters.
    *
    * Resource contract: returns with NO blocks left in the cache; the
    * labeling is reliably checkpointed (session checkpoint dir, else a
    * local temp dir; on a cluster set shared storage first), so the
    * caller never re-runs a round. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val g = new GraphLoop(edges)
    try {
      var labels = g.adj.mapPartitions(_.map { case (v, _) => (v, v) },
        preservesPartitioning = true)
      var changed = 1L
      var rounds = 0
      var prev: RDD[_] = null
      while (changed > 0 && rounds < maxIter) {
        val nbrMin = g.round(labels)((nbrs, l) => nbrs.iterator.map(_ -> l))(
          math.min)
        val step = g.hold(g.zipJoin(labels, nbrMin)((_, _))) // (label, nbrMin)
        changed = step.filter { case (_, (l, m)) => m < l }.count()
        if (prev != null) g.release(prev)
        prev = step
        labels = step.mapValues { case (l, m) => math.min(l, m) }
        rounds += 1
      }
      require(changed == 0,
        s"connectedComponents did not converge in $maxIter rounds")
      g.result(labels, "cluster_id", LongType)
        .select(col("node"), col("cluster_id").cast(g.keyType))
    } finally g.close()
  }

  /** Alternating large-star / small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the same (node, cluster_id) API and resource contract as
    * [[connectedComponents]], converging in O(log n) rounds regardless
    * of component DIAMETER. Use it when clusters can be long chains
    * (similarity graphs stitched through transitive near-dups); for the
    * small-diameter clusters capBuckets-guarded dedup produces, the
    * plain fixpoint needs fewer shuffles per round and wins.
    *
    * Each round rewrites the EDGE set (no label table):
    *  - large-star(u): every neighbor v > u re-links to
    *    m(u) = min(N(u) ∪ {u}) — per-edge emit, one min-groupBy + one
    *    equi-join, both on the node key; no neighborhood is ever
    *    collected into one row, so high-degree hubs spread across
    *    partitions instead of building a driver- or row-sized list.
    *  - small-star(u): every neighbor v ≤ u (and u itself) re-links
    *    to m(u).
    * At the joint fixpoint the edges form a star forest rooted at each
    * component's min id. Convergence is detected by an exact-count +
    * xxhash64-xor signature of the canonicalized edge set (one action
    * per round; a hash collision would need 2⁻⁶⁴ bad luck AND an
    * identical edge count).
    *
    * Each round CHECKPOINTS rather than caches: a round's plan
    * references its input ~16× (two sym() fan-outs and two
    * neighborhood-min joins), so carrying lineage across rounds grows
    * the logical plan 16^rounds — persist alone keeps execution linear
    * but still overflows the planner's tree walks after a handful of
    * rounds. Truncating per round keeps the plan O(1) and, as a
    * side-effect, the loop holds zero cache blocks at any point. */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    Checkpoints.ensureDir(sc)

    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("b").as("a"), col("a").as("b")))

    // per-node min over the closed neighborhood, m(u) = min(N(u) ∪ {u})
    def mins(s: DataFrame): DataFrame =
      s.groupBy(col("a")).agg(least(min(col("b")), col("a")).as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      s.join(mins(s), "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val withM = s.join(mins(s), "a")
      val relinked = withM.filter(col("b") <= col("a"))
        .select(col("b").as("n"), col("m"))
        .unionAll(withM.select(col("a").as("n"), col("m")))
      relinked.filter(col("n") =!= col("m"))
        .select(col("n").as("a"), col("m").as("b"))
        .distinct()
    }

    def signature(e: DataFrame): (Long, Long) = {
      val row = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }

    // One action per round: the signature rides the checkpoint's own
    // materialization as an OBSERVED metric (Dataset.observe, no second
    // scan). Observed metrics are accumulator-backed and can over-count
    // under task re-execution, so when two consecutive observed
    // signatures match the loop confirms with the exact [[signature]]
    // over both checkpointed edge sets: a phantom match keeps iterating
    // (the step is idempotent at the fixpoint), a phantom mismatch only
    // costs extra rounds.
    def observed(e: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation()
      (e.observe(obs, count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("x"))
        .checkpoint(eager = true), obs)
    }
    def sigOf(obs: org.apache.spark.sql.Observation): (Long, Long) = {
      val m = obs.get
      (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long])
    }

    val nodes = sym(edges.select(col("a"), col("b")))
      .select(col("a").as("node")).distinct()
    var (cur, obs0) = observed(
      edges.select(col("a"), col("b"))
        .filter(col("a") =!= col("b")).distinct())
    var sig = sigOf(obs0)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      val (next, obs) = observed(smallStar(largeStar(cur)))
      val nextSig = sigOf(obs)
      converged = nextSig == sig && signature(next) == signature(cur)
      cur = next
      sig = nextSig
      rounds += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // star forest: non-roots appear as `a` pointing at the component
    // min; roots (and self-loop-only singletons) label themselves
    nodes
      .join(cur.select(col("a").as("node"), col("b").as("cluster_id")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }
}
