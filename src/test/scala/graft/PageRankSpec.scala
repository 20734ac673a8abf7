package graft

import org.apache.spark.sql.functions._
import graft.ops.PageRank

/** Fixed-point PageRank vs an in-memory replica of the exact integer
  * recurrence — the engine must match it to the last unit, on any graph,
  * because every operation (floor div, long sums, the rounded damping
  * base) is deterministic by construction. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** The reference recurrence, straight from the scaladoc. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val n = deg.size
    val base = math.round(0.15e12 / n)
    var fp = deg.keys.map(_ -> math.round(1e12 / n)).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => fp(src) / deg(src) }.sum
      }
      fp = contrib.map { case (node, c) => node -> (base + c * 85 / 100) }
    }
    fp
  }

  private def engine(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.scores(edges.toDF("a", "b"), iters)
      .select(col("node"), round(col("pr") * 1e12).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the exact integer recurrence on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    assert(engine(edges, 5) === reference(edges, 5))
  }

  test("hub of a star outranks its leaves") {
    val star = (1L to 20L).map(i => (0L, i))
    val got = engine(star, 5)
    assert(got(0L) > got(1L) * 5, s"hub should dominate: $got")
    assert((1L to 20L).map(got).distinct.size === 1, "leaves are symmetric")
  }

  test("mass is conserved up to the documented truncation loss") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 4), (1, 4), (1, 3))
    val total = engine(edges, 5).values.sum
    // each node loses < deg ulps per iteration to floor division, plus
    // the damping rounding — bound generously and assert we stay close
    assert(math.abs(total - 1e12) < 1e6, s"mass drifted: $total")
  }

  test("leaves no cached blocks behind (resource contract)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = PageRank.scores(Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"))
    // materialize the RESULT after return, then check nothing stays cached
    assert(out.count() === 5)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"PageRank.scores leaked cached RDDs: ${after -- before}")
  }
}
