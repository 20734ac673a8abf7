package graft

/** Layout invariance: a query's result does not depend on the shuffle
  * width. Each width runs on its own `newSession()` (same SparkContext,
  * separate SQLConf), so the shared session's conf is never changed, and
  * with AQE partition coalescing off, so width 5 really runs 5 reducers.
  * The digest is [[Materialize.digest]]: bit_xor of per-row xxhash64
  * over every column, plus the row count. */
class LayoutInvarianceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def run(query: String, shufflePartitions: Int): (Long, Long) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    Materialize.digest(Registry.byName(query).fn(s, dir))
  }

  for (query <- Seq("q_clean", "q_pipeline_e2e", "q_docx_roundtrip"))
    test(s"$query: identical digest at shuffle partitions 1 and 5") {
      val narrow = run(query, 1)
      assert(narrow._2 > 0, s"$query returned no rows")
      assert(run(query, 5) === narrow)
    }
}
