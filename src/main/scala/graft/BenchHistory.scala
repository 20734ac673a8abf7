package graft

/** Per-round bench history (VERDICT r8 #8, widened to the FULL registry
  * by VERDICT r10 #1a): appends one JSON line of [[Probe]]-style medians
  * for every registry query to `bench_history.jsonl`, so a judge can
  * adjudicate ANY driver-record outlier against a same-round median
  * instead of re-probing — the r10 gate number went 2.35× on three
  * ambient stalls precisely because two of the three queries weren't in
  * the (then hand-picked) history set.
  *
  * Cost discipline: every query gets a warmup plus one timed run; a
  * query takes the full 3-run-median treatment only when it is in the
  * heavy set (the queries whose regressions have historically needed
  * adjudication) or its first timed run reads ≥0.7 s (big enough that a
  * single reading shouldn't stand as the record). 1-run entries for the
  * sub-second tail are exactly what VERDICT r10 #1a asked for — the
  * point is coverage, not precision, and a sub-second query's drift is
  * bounded by its own size. The 3-run path carries the same stall guard
  * as [[Bench]]: median ≥5× the query's own fastest run (and >0.5 s
  * apart) → 3 more runs, median of the 3 fastest kept.
  *
  * Usage: runMain graft.BenchHistory <round> [sfDir] [query ...]
  */
object BenchHistory {
  /** Queries that always get 3-run medians: historically drift-prone or
    * heavy enough that one reading is not a record (iterative trainers,
    * streaming gate runs, graph/CC, recall scorecards, the r10 stall
    * victims and their alphabetical neighbors, the sync family). */
  private[graft] val heavyQueries: Set[String] = Set(
    "q_dup_clusters_star", "q_dup_clusters", "q_dup_keep",
    "q_split_leakfree", "q_ann_recall", "q_pagerank",
    "q_stream_sessionize", "q_stream_hourly", "q_cms", "q_near_dup",
    "q_semdedup", "q_entity_canon", "q_ann_ivf_sq", "q_near_dup_rep",
    "q_rollup", "q_bpe_train", "q_bpe_encode", "q_stream_append",
    "q_entity_canon_pr", "q_entity_canon2", "q_ann_pq", "q_bpe_subword",
    "q_stream_join", "q_stream_sess_win",
    // VERDICT r10 housekeeping: the three r10 driver-stall victims plus
    // the rest of the streaming/sync families they sat beside
    "q_ann_lsh", "q_asof_join", "q_asof_bcast", "q_ann_ivf_pq",
    "q_sync_upload", "q_sync_delete", "q_sync_diff",
    "q_stream_moments", "q_stream_dedup",
    // r11 second wave: the iterative graph build/search, the
    // featurizer-bound selector, and the semdedup-composed sampler
    "q_ann_graph", "q_dsir_select", "q_diverse_sample",
    // r16: the two r15 late registrations recording their first
    // calm-window medians (VERDICT r15 #5) — streaming gate run and
    // the composed crawl plan; both deserve 3-run medians even when a
    // warm first run dips under the 0.7 s one-run bar
    "q_stream_crawl", "q_crawl_curate_e2e")

  /** The most recent recorded median PER QUERY at `sf` (e.g. "sf0.1"):
    * matching-sf lines layered oldest → newest, newest value winning
    * per key. Layering (r16; previously last-line-wins) lets a PARTIAL
    * line — a late registration recording its first medians — add its
    * queries without shadowing the full-registry calm-window record
    * beneath it, which last-line-wins would have gutted (mv/ms and the
    * stall guard would have lost every other query's reference).
    * Empty when the file is absent, no line matches, or parsing fails —
    * [[Bench]]'s history stall guard must degrade to inert, never abort
    * the report. The parser leans on the writer's fixed one-line format
    * below (keys are registry names, all `q`-prefixed; values plain
    * JSON numbers). */
  def latestMedians(sf: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("bench_history.jsonl")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val sfTag = s""""sf":"$sf""""
        val kv = """"(q[A-Za-z0-9_]*)":([0-9][0-9.]*)""".r
        java.nio.file.Files.readAllLines(p).asScala
          .filter(_.contains(sfTag))
          .foldLeft(Map.empty[String, Double]) { (acc, line) =>
            // per-LINE resilience: under layering, one malformed line
            // (no "medians" key, truncated mid-write) must only lose
            // itself, not discard every other line's record through
            // the outer catch (review r16)
            try acc ++ kv
              .findAllMatchIn(line.substring(line.indexOf("\"medians\"")))
              .map(g => g.group(1) -> g.group(2).toDouble)
            catch { case _: Throwable => acc }
          }
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val round = args(0).toInt
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val meds = names.map { name =>
      val fn = SparkEntry.queries(name)
      def timed(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); Materialize.digest(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      Materialize.digest(fn(spark, sfDir)) // untimed warmup
      val first = timed()
      val med =
        if (!heavyQueries.contains(name) && first < 0.7) first
        else {
          var runs = (Seq(first) ++ Seq(timed(), timed())).sorted
          if (runs(1) > 5 * runs.head && runs(1) - runs.head > 0.5)
            runs = (runs ++ Seq(timed(), timed(), timed())).sorted.take(3)
          runs(1)
        }
      name -> med
    }
    val sf = sfDir.stripSuffix("/").split('/').last
    val qs = meds.map { case (k, v) => s""""$k":${Bench.fmtTrim(v, 2)}""" }
      .mkString("{", ",", "}")
    val line =
      s"""{"round":$round,"sf":"$sf","medians":$qs}""" + "\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_history.jsonl"), line,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    print(line)
    spark.stop()
  }
}
