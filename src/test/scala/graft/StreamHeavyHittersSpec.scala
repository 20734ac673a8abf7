package graft

import graft.streaming.Streams

/** Streaming Misra–Gries: unlike KMV (exact order statistics), MG counter
  * values depend on arrival batching — so this spec pins what the sketch
  * GUARANTEES rather than batch-equality: the GroupState sketch after any
  * micro-batch split and a checkpoint restart carries the exact total,
  * never overcounts, undercounts at most n/(m+1), and retains every key
  * above n/(m+1) — the properties the batch two-pass verify step relies
  * on. */
class StreamHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private val m = 16

  /** Two groups with different heavy structure (plus null keys, which
    * the contract excludes from counts AND total), deterministically
    * shuffled so hot keys are interleaved with the tail. */
  private def rows: Seq[(String, String)] = {
    val a = Seq.fill(300)("hot_a") ++ Seq.fill(240)("hot_b") ++
      (0 until 460).map(i => s"cold_$i") ++ Seq.fill(50)(null: String)
    val b = Seq.fill(500)("only") ++ (0 until 100).map(i => s"tail_$i") ++
      Seq.fill(25)(null: String)
    def mix(g: String, xs: Seq[String]) = xs.zipWithIndex
      .sortBy { case (_, i) => (i * 7919) % xs.length }
      .map { case (k, _) => (g, k) }
    mix("ga", a) ++ mix("gb", b)
  }

  // one row per group per batch: "last row per group is current" is
  // the emission contract under test, so the fold keeps the last
  private def runOnce(src: String, ckpt: String)
      : Map[String, (Long, Map[String, Long])] =
    lastPerKey(src, Some(ckpt))(Streams.heavyHittersStream(_, "g", "key", m))(
      _.map { case (g, n, cands) => g -> ((n, cands.toMap)) })

  test("guarantees hold across micro-batches and a checkpoint restart") {
    withTempDir("graft-hh-stream") { dir =>
      val src = s"${dir.getAbsolutePath}/rows"
      val ckpt = s"${dir.getAbsolutePath}/ckpt"

      val all = rows
      val (half1, half2) = all.splitAt(all.length / 2)
      half1.toDF("g", "key").coalesce(1).write.parquet(src)
      runOnce(src, ckpt)
      // restart folds the second half into checkpoint-recovered state
      half2.toDF("g", "key").coalesce(1).write.mode("append").parquet(src)
      val sk = runOnce(src, ckpt)

      // truth over NON-NULL keys only: gotN === n below therefore pins the
      // null-exclusion contract (the fixture carries 50+25 null rows)
      val truth = all.filter(_._2 != null).groupBy(_._1).view.mapValues(
        _.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
      truth.foreach { case (g, exact) =>
        val n = exact.values.sum
        val (gotN, est) = sk(g)
        assert(gotN === n,
          s"$g: total must be exact (and null-free) across the restart")
        assert(est.size <= m)
        est.foreach { case (k, e) =>
          assert(e <= exact(k), s"$g/$k overcounted")
          assert(exact(k) - e <= n / (m + 1), s"$g/$k undercount bound broken")
        }
        val heavies = exact.filter { case (_, c) => c > n / (m + 1) }.keySet
        assert(heavies.nonEmpty, s"$g fixture must have heavies")
        assert(heavies.subsetOf(est.keySet),
          s"$g lost a heavy key across batching: $heavies vs ${est.keySet}")
      }
    }
  }
}
