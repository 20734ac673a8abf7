package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DoubleType

/** Fixed-iteration PageRank over an undirected edge set in fixed-point
  * integer arithmetic, so the result is bit-identical across engines,
  * partitionings and summation orders (the [[graft.expressions.FixedPointDot]]
  * discipline). Scores carry 12 decimal digits (`fp = round(score·1e12)`);
  * each iteration is
  *
  *   fp'(v) = round(0.15·1e12 / N) + (Σ_{u→v} (fp(u) div deg(u))) · 85 div 100
  *
  * with `div` the floor division both engines define identically for
  * non-negative longs: a deterministic quantization (≤ deg(u)·1e-12 of
  * mass per node per iteration), not an approximation.
  *
  * Runs on [[GraphLoop]]: one message shuffle per iteration, the rounds
  * chained lazily; deg(u) is u's neighbour count in the shared adjacency,
  * N its node count. Three jobs (N, the rounds, the checkpoint write), and
  * [[Components.connectedComponents]]' resource contract.
  */
object PageRank {

  /** Spark's `round` on a double (HALF_UP on its decimal form). */
  private def rounded(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** (node, pr) after `iters` damped iterations; `pr` = fp/1e12, exact in
    * double (fp ≤ 1e12 < 2^53). Input edges: undirected, `a` < `b`. */
  def scores(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val g = new GraphLoop(edges)
    try {
      val n = g.adj.count()
      val (fp0, base) =
        if (n == 0) (0L, 0L) else (rounded(1e12 / n), rounded(0.15e12 / n))
      var fp = g.adj.mapValues(_ => fp0)
      for (_ <- 1 to iters)
        fp = g.round(fp)((nbrs, f) => nbrs.iterator.map(_ -> f / nbrs.length))(
          _ + _).mapValues(s => base + s * 85 / 100)
      g.result(fp.mapValues(_.toDouble / 1e12), "pr", DoubleType)
    } finally g.close()
  }

  /** The oracle's replica as unrolled DuckDB CTEs (`psym`, `pdeg`, `pn`,
    * `pr0`..`pr<iters>`) — the [[KMeans.trainSql]] pattern: fixed
    * iteration count unrolled into plain CTEs, no recursive aggregation
    * (which SQL's recursive-CTE rules disallow). Caller supplies `src`,
    * a CTE with columns (a, b), and selects from `pr<iters>`. */
  def scoresSql(src: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""psym AS (SELECT a, b FROM $src UNION ALL SELECT b, a FROM $src),
         |pdeg AS (SELECT a, count(*) AS d FROM psym GROUP BY a),
         |pn AS (SELECT count(*) AS n FROM pdeg),
         |pr0 AS (
         |  SELECT a AS node, CAST(round(1e12 / (SELECT n FROM pn)) AS BIGINT) AS fp
         |  FROM pdeg
         |)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""",
         |pr$i AS (
         |  SELECT s.b AS node,
         |    CAST(round(0.15e12 / (SELECT n FROM pn)) AS BIGINT)
         |      + (SUM(p.fp // d.d) * 85) // 100 AS fp
         |  FROM pr${i - 1} p JOIN psym s ON s.a = p.node
         |       JOIN pdeg d ON d.a = p.node
         |  GROUP BY s.b
         |)""".stripMargin
    }
    sb.toString
  }
}
