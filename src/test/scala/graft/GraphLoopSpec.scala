package graft

import org.apache.spark.sql.SparkSession
import graft.ops.{Components, GraphLoop, PageRank}

/** Layout invariance of the [[GraphLoop]] users: the same edges give the
  * same connected components from both algorithms and the same PageRank
  * scores, bit for bit, whatever the input's partition count and the
  * session's shuffle width — the loop's width comes from both. */
class GraphLoopSpec extends SparkSpec {

  // random edges plus a 12-node path, so labels travel many rounds
  private val edges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    random ++ (100L until 111L).map(i => (i, i + 1))
  }

  /** (loop width, CC labels, star CC labels, PageRank scores) for the
    * edges spread over
    * `parts` input partitions, on a fresh session (the shared session's
    * conf is never changed) at `shufflePartitions`. */
  private def run(shufflePartitions: Int, parts: Int)
      : (Int, Map[Long, Long], Map[Long, Long], Map[Long, Double]) = {
    val s: SparkSession = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    import s.implicits._
    val df = edges.toDF("a", "b").repartition(parts)
    val g = new GraphLoop(df)
    val width = try g.part.numPartitions finally g.close()
    (width,
      Components.connectedComponents(df).as[(Long, Long)].collect().toMap,
      Components.connectedComponentsStar(df).as[(Long, Long)].collect().toMap,
      PageRank.scores(df).as[(Long, Double)].collect().toMap)
  }

  test("CC and PageRank are identical at input widths 1/3 and shuffle widths 1/5") {
    val runs = for (sp <- Seq(1, 5); parts <- Seq(1, 3))
      yield (sp, parts) -> run(sp, parts)
    for (((sp, parts), (width, cc, star, _)) <- runs) {
      assert(width === math.min(sp, parts), s"width at sp=$sp parts=$parts")
      assert(star === cc, s"star CC differs from CC at sp=$sp parts=$parts")
    }
    val (_, cc, _, pr) = runs.head._2
    assert(cc.size === pr.size && cc(111L) === 100L)
    for (((sp, parts), (_, cc2, _, pr2)) <- runs.tail) {
      assert(cc2 === cc, s"CC differs at sp=$sp parts=$parts")
      assert(pr2 === pr, s"PageRank differs at sp=$sp parts=$parts")
    }
  }
}
