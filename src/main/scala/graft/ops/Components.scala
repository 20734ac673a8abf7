package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Connected components over a pair table — the step every dedup
  * pipeline runs AFTER candidate-pair generation: retention needs the
  * transitive duplicate CLUSTER (if a~b and b~c, keeping a and c is still
  * a leak). The north-star extension of the reference's pairwise exact
  * dedup (commercial_rfp_raw_data_ingestion_and_cleaning.py:251).
  *
  * Both algorithms are step functions over [[GraphLoop.fixpoint]], on the
  * loop [[PageRank]] also runs on, and return (node, cluster_id) for every
  * node in `edges` (integral columns `a`, `b`; a self-loop alone still
  * makes a node), cluster_id = the minimum node id reachable from the
  * node. Resource contract: the labeling is reliably checkpointed
  * (session checkpoint dir, else a local temp dir; on a cluster set
  * shared storage first), so reading it never re-runs a round, and no
  * cached block outlives the call.
  */
object Components {

  /** Min-label propagation: each round a node adopts the minimum label in
    * its closed neighbourhood, at one message shuffle. Rounds = the
    * largest cluster's diameter, small for dedup clusters. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    clusters(edges) { g =>
      val labels = g.adj.mapPartitions(_.map { case (v, _) => (v, v) },
        preservesPartitioning = true)
      g.fixpoint(labels, maxIter) { l =>
        val nbrMin = g.round(l)((nbrs, x) => nbrs.iterator.map(_ -> x))(math.min)
        g.zipJoin(l, nbrMin)((x, y) => math.min(x, y))
      }(_ == _)
    }

  /** Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
    * whatever the components' DIAMETER, for clusters that can be long
    * chains (similarity graphs stitched through transitive near-dups);
    * on small-diameter dedup clusters the propagation above moves less
    * data per round and wins.
    *
    * The round state is each node's sorted, distinct neighbour list, and
    * a round rewrites those edges. With m(u) = min(N(u) ∪ {u}):
    *  - large-star: every neighbour v > u re-links to m(u);
    *  - small-star: every neighbour v ≤ u, and u itself, re-links to m(u).
    * Each step's edges are regrouped at one shuffle. Large-star also
    * keeps the self-loop (u, u), which changes no m(u) but keeps a node
    * whose only edge is a self-loop. At the fixpoint every component is
    * a star around its minimum, so cluster_id(u) = m(u). A hub's list
    * grows to its whole component. */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame =
    clusters(edges) { g =>
      def m(u: Long, nbrs: Array[Long]) = math.min(u, nbrs(0)) // sorted
      def star(large: Boolean)(s: RDD[(Long, Array[Long])]) =
        g.neighbours(s.flatMap { case (u, nbrs) =>
          val mu = m(u, nbrs)
          Iterator(u -> (if (large) u else mu)) ++
            nbrs.iterator.filter(v => (v > u) == large).map(_ -> mu)
        }).mapValues(_.sorted.distinct)
      g.fixpoint(g.adj.mapValues(_.sorted.distinct), maxIter)(
        s => star(large = false)(star(large = true)(s)))(_ sameElements _)
        .map { case (u, nbrs) => u -> m(u, nbrs) }
    }

  /** The (node, label) state `labels` builds on the loop over `edges`,
    * as (node, cluster_id) in the edges' key type. */
  private def clusters(edges: DataFrame)(
      labels: GraphLoop => RDD[(Long, Long)]): DataFrame = {
    val g = new GraphLoop(edges)
    try g.result(labels(g), "cluster_id", LongType)
      .select(col("node"), col("cluster_id").cast(g.keyType))
    finally g.close()
  }
}
