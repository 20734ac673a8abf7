package graft

import graft.ops.Components

/** Connected components: hand-checked shapes plus a property check
  * against an in-memory union-find oracle on random graphs. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chains, triangles, and isolated pairs get min-id labels") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> cluster 1
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle -> cluster 10
      (20L, 21L)                      // pair -> cluster 20
    ).toDF("a", "b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("leaves no cached blocks behind (resource contract)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Components.connectedComponents(edges)
    // materialize the RESULT after return — the caller's normal use —
    // and check the iteration's per-round persists are all gone
    assert(out.count() === 5)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"connectedComponents leaked cached RDDs: ${after -- before}")
  }

  test("star variant: chains, triangles, pairs, self-loop singleton") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> cluster 1
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle -> cluster 10
      (20L, 21L),                     // pair -> cluster 20
      (30L, 30L)                      // self-loop-only singleton -> 30
    ).toDF("a", "b")
    val got = Components.connectedComponentsStar(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L))
  }

  test("star variant handles a long path (deep diameter) and is clean") {
    // a 40-node path is the shape the fixpoint propagates slowest on
    // and the star algorithm exists for; also re-assert the resource
    // contract on this variant
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Components.connectedComponentsStar(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 39L).map(_ -> 0L).toMap)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"connectedComponentsStar leaked cached RDDs: ${after -- before}")
  }

  test("fixpoint survives a long path: plan depth stays bounded, cache clean") {
    // a 16-node path needs 15 propagation rounds: pins both the answer
    // and the resource contract on a deep chain
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 15L).map(_ -> 0L).toMap)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"connectedComponents leaked cached RDDs: ${after -- before}")
  }

  test("long path: one job per round plus at most 3; the result re-runs no round") {
    import org.apache.spark.GraftTestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "components-job-budget"
    val jobs = scala.collection.mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.synchronized { jobs += j; () }
    }
    def drained(): Seq[SparkListenerJobStart] = {
      GraftTestBus.drain(sc)
      jobs.synchronized { val js = jobs.toList; jobs.clear(); js }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "connectedComponents job budget")
    try {
      val edges = (0L until 15L).map(i => (i, i + 1)).toDF("a", "b")
      val out = Components.connectedComponents(edges)
      val loopJobs = drained()
      // 15 propagating rounds and one that finds no change, plus the
      // checkpoint's two jobs; several jobs per round would break this
      assert(loopJobs.size <= 15 + 3, s"${loopJobs.size} jobs for 15 rounds")
      assert(out.as[(Long, Long)].collect().toMap === (0L to 15L).map(_ -> 0L).toMap)
      // reading the checkpointed result is one stage per job: no shuffle
      // parent, so no round can be re-executed
      val readJobs = drained()
      assert(readJobs.nonEmpty && readJobs.forall(_.stageInfos.size == 1),
        s"stages per read job: ${readJobs.map(_.stageInfos.size)}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("star long path: one job per round plus at most 3; the result re-runs no round") {
    import org.apache.spark.GraftTestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "components-star-job-budget"
    val jobs = scala.collection.mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.synchronized { jobs += j; () }
    }
    def drained(): Seq[SparkListenerJobStart] = {
      GraftTestBus.drain(sc)
      jobs.synchronized { val js = jobs.toList; jobs.clear(); js }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "connectedComponentsStar job budget")
    try {
      val edges = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
      val out = Components.connectedComponentsStar(edges)
      val loopJobs = drained()
      // the 40-node path contracts in 6 rounds (7 reach the fixpoint of
      // the sorted neighbour lists), then the checkpoint's two jobs
      assert(loopJobs.size <= 6 + 3, s"${loopJobs.size} jobs for 6 rounds")
      assert(out.as[(Long, Long)].collect().toMap === (0L to 39L).map(_ -> 0L).toMap)
      // reading the checkpointed result is one stage per job: no shuffle
      // parent, so no round can be re-executed
      val readJobs = drained()
      assert(readJobs.nonEmpty && readJobs.forall(_.stageInfos.size == 1),
        s"stages per read job: ${readJobs.map(_.stageInfos.size)}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("property: star variant equals the fixpoint on random graphs") {
    import org.scalacheck.{Gen, Prop}
    val edgeGen = Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(12, edgeGen)) { raw =>
      val edges0 = raw.filter { case (a, b) => a != b }
      edges0.isEmpty || {
        val df = edges0.toDF("a", "b")
        val fix = Components.connectedComponents(df)
          .as[(Long, Long)].collect().toMap
        val star = Components.connectedComponentsStar(df)
          .as[(Long, Long)].collect().toMap
        fix == star
      }
    }, minTests = 8)
  }

  test("property: equals an in-memory union-find on random graphs") {
    import org.scalacheck.{Gen, Prop}
    val edgeGen = Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(12, edgeGen)) { raw =>
      val edges0 = raw.filter { case (a, b) => a != b }
      edges0.isEmpty || {
        val got = Components.connectedComponents(edges0.toDF("a", "b"))
          .as[(Long, Long)].collect().toMap
        // union-find oracle
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        for ((a, b) <- edges0) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
        }
        val nodes = edges0.flatMap { case (a, b) => Seq(a, b) }.distinct
        // canonical label = min node of the component
        val byRoot = nodes.groupBy(find)
        val want = byRoot.values.flatMap { ns =>
          val m = ns.min; ns.map(_ -> m)
        }.toMap
        got == want
      }
    }, minTests = 10)
  }
}
