package graft

import graft.queries.{RelationalQueries, RfpQueries, SimilarityQueries}
import graft.ops.Chunk

/** Physical-plan regression tests: the scale posture (pushdown, broadcast,
  * shuffle counts) is asserted, not just hoped for — a refactor that
  * silently adds an exchange or drops a pushed filter fails here.
  * Runs against sf0.001 (plans, not data, are under test). */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: Q): String =
    q.fn(spark, dir).queryExecution.executedPlan.toString

  private def countOcc(s: String, needle: String): Int =
    s.sliding(needle.length).count(_ == needle)

  test("near-dup plans run MinHash only in projections and no array HOFs") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val helper = new AdaptiveSparkPlanHelper {}
    // another spec may have cached the same frame: its plan then sits
    // behind the in-memory scan
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      helper.collectWithSubqueries(p) { case n => n }.flatMap {
        case m: InMemoryTableScanExec => m +: allNodes(m.relation.cachedPlan)
        case n => Seq(n)
      }
    for (q <- Seq(SimilarityQueries.qNearDup, SimilarityQueries.qNearDupRep)) {
      val df = q.fn(spark, dir)
      df.collect() // the final adaptive plan
      val nodes = allNodes(df.queryExecution.executedPlan)
      def has(p: SparkPlan)(f: PartialFunction[Expression, Unit]) =
        p.expressions.exists(_.exists(f.isDefinedAt))
      val minhashAt = nodes.filter(has(_) {
        case _: graft.expressions.MinHashSlicedExpr => })
      assert(minhashAt.nonEmpty, s"${q.name}: no MinHash in the plan")
      // a copy in a Filter or scan DataFilters runs MinHash twice per doc
      assert(minhashAt.forall(_.isInstanceOf[ProjectExec]),
        s"${q.name}: MinHash outside a Project in\n" +
          minhashAt.filterNot(_.isInstanceOf[ProjectExec])
            .map(_.simpleString(200)).mkString("\n"))
      val hofs = nodes.filter(has(_) {
        case _: ArrayTransform | _: ArrayDistinct | _: ArrayIntersect => })
      assert(hofs.isEmpty, s"${q.name}: array HOFs remain in\n" +
        hofs.map(_.simpleString(200)).mkString("\n"))
    }
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan(RelationalQueries.q1)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q5_region broadcasts the dimension sides") {
    val p = plan(RelationalQueries.q5)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q3_top compiles the deterministic top-10 to TakeOrdered") {
    assert(plan(RelationalQueries.q3).contains("TakeOrderedAndProject"))
  }

  test("window dedups cost exactly one shuffle") {
    val p = plan(RfpQueries.qDedupExact)
    assert(countOcc(p, "Exchange hashpartitioning") === 1)
  }

  test("q_chunk is shuffle-free (pure narrow chunking)") {
    assert(!plan(SimilarityQueries.qChunk).contains("Exchange"))
  }

  test("q_crawl_e2e is a shuffle-free single pass over the WARC bytes") {
    // the crawl front door's scale contract: ingest → HTTP gate → HTML
    // strip → length gate compose into ONE map-only plan (a shuffle here
    // would re-partition the whole crawl at 100 TB); the final orderBy is
    // display-determinism for the oracle compare, so tolerate exactly the
    // range-partition exchange it plans and nothing else
    val p = plan(graft.queries.TextQueries.qCrawlE2e)
    assert(countOcc(p, "Exchange hashpartitioning") === 0,
      "crawl e2e must not hash-shuffle")
  }

  test("q_knn broadcasts the query set (no shuffle before ranking)") {
    val p = plan(SimilarityQueries.qKnn)
    assert(p.contains("BroadcastNestedLoopJoin"))
    // only the final per-query ranking window shuffles
    assert(countOcc(p, "Exchange hashpartitioning") === 1)
    // the broadcast side is O(1) in corpus size: the vec_id cap reaches
    // the query-set scan as a pushed filter (the scale contract — an
    // uncapped query set would broadcast 1% of the corpus)
    assert(p.contains("LessThan(vec_id,3200)"),
      "query-set cap not pushed to the broadcast-side scan")
  }

  test("q_ann_sq keeps q_knn's scale contract on the quantized path") {
    val p = plan(SimilarityQueries.qAnnSq)
    assert(p.contains("BroadcastNestedLoopJoin"))
    // quantization must not change the plan shape: one ranking shuffle,
    // O(1) broadcast side with the cap pushed to the scan
    assert(countOcc(p, "Exchange hashpartitioning") === 1)
    assert(p.contains("LessThan(vec_id,3200)"),
      "query-set cap not pushed to the broadcast-side scan")
  }

  test("cleaning chain is a single fused scan stage (no shuffle)") {
    assert(!plan(RfpQueries.qClean).contains("Exchange"))
  }

  test("e2e pipeline: narrow stages fuse, 3 dedup windows cost 2 shuffles") {
    val p = plan(graft.queries.PipelineQueries.qPipelineE2e)
    assert(countOcc(p, "Exchange hashpartitioning") === 2)
  }

  test("RFP cleaning runs once, never in a Filter") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    def isCleaning(e: Expression): Boolean =
      e.exists(x => x.isInstanceOf[RegExpReplace] || x.isInstanceOf[GetTimestamp])
    for (q <- Seq(RfpQueries.qClean, graft.queries.PipelineQueries.qPipelineE2e)) {
      val df = q.fn(spark, dir)
      df.collect() // the final adaptive plan
      val nodes = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
        case n => n }
      val conditions = nodes.flatMap {
        case f: FilterExec => Seq(f.condition)
        case s: FileSourceScanExec => s.dataFilters ++ s.partitionFilters
        case _ => Nil
      }
      assert(!conditions.exists(isCleaning),
        s"${q.name}: cleaning expressions in a filter:\n" +
          conditions.filter(isCleaning).mkString("\n"))
      // the P2 normalization, trim(regexp_replace(c, "\s+", " ")), once
      // per cleaned column: a second copy of the same subject is a rerun
      val subjects = nodes.flatMap(_.expressions.flatMap(_.collect {
        case RegExpReplace(subject, Literal(p, _), Literal(r, _), _)
            if String.valueOf(p) == "\\s+" && String.valueOf(r) == " " =>
          subject.canonicalized
      }))
      assert(subjects.size >= 7, s"${q.name}: ${subjects.size} normalizations")
      val reruns = subjects.groupBy(identity).filter(_._2.size > 1)
      assert(reruns.isEmpty, s"${q.name}: normalized more than once:\n" +
        reruns.map { case (e, c) => s"${c.size}× $e" }.mkString("\n"))
    }
  }

  test("curation family: redact/sample are shuffle-free, pack/upsert one shuffle") {
    import graft.queries.CurationQueries
    assert(!plan(CurationQueries.qRedact).contains("Exchange"))
    assert(!plan(CurationQueries.qSample).contains("Exchange"))
    // pack: the (lang, pack_id) aggregation reuses the window's lang
    // partitioning (subset-key co-location), so the whole plan is ONE
    // shuffle; upsert: one window over the narrow union
    assert(countOcc(plan(CurationQueries.qPack), "Exchange hashpartitioning") === 1)
    assert(countOcc(plan(CurationQueries.qUpsert), "Exchange hashpartitioning") === 1)
  }

  test("analytics family: quantiles/lag-lead one shuffle, pivot two-phase") {
    import graft.queries.AnalyticsQueries
    assert(countOcc(plan(AnalyticsQueries.qQuantiles), "Exchange hashpartitioning") === 1)
    assert(countOcc(plan(AnalyticsQueries.qLagLead), "Exchange hashpartitioning") === 1)
    // Spark's pivot is a two-level aggregate: the first exchange reduces
    // the input to |source × lang| rows, so the second moves almost
    // nothing — fine at any scale, but pin it so a regression to three
    // (or a collapse to a cartesian) is caught
    assert(countOcc(plan(AnalyticsQueries.qPivot), "Exchange hashpartitioning") === 2)
  }

  test("q_decontam broadcasts the eval shingle set; corpus side stays narrow") {
    val p = plan(graft.queries.TextQueries.qDecontam)
    assert(p.contains("BroadcastHashJoin"))
    // only the eval-set distinct and the final matched-rows count
    // shuffle; the corpus shingle stream itself never does
    assert(countOcc(p, "Exchange hashpartitioning") === 2)
  }

  test("q_embed_dup: one fused signature pass, equi-joins only") {
    val p = plan(SimilarityQueries.qEmbedDup)
    // the 64 plane signs compile to ONE hyperplane_band_sigs call per
    // corpus branch (base + perturbed), never per-plane expressions
    assert(countOcc(p, "hyperplane_band_sigs") <= 2,
      s"expected fused signatures, got ${countOcc(p, "hyperplane_band_sigs")} calls")
    // candidate generation and the verify rejoins are all equi-joins
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_delta_dedup plans an anti-join on the hash key") {
    val p = plan(graft.queries.CurationQueries.qDeltaDedup)
    assert(p.contains("LeftAnti"), s"expected an anti-join:\n$p")
  }

  test("retrieval family: heap-based top-k, term filter before any shuffle") {
    import graft.queries.RetrievalQueries
    val pb = plan(RetrievalQueries.qBm25)
    // ranking is TakeOrderedAndProject (per-partition bounded heaps) —
    // a global Sort here would single-reduce the corpus at 100 TB
    assert(pb.contains("TakeOrderedAndProject"))
    // r15: the registered query reads the session-shared checkpointed
    // score frame, so the term-filter contract is asserted on the
    // BUILD plan (the one that actually tokenizes the corpus, once per
    // session): the O(1) query-term set prunes the token stream right
    // at the generate (before tf/df shuffles), so aggregation cost is
    // O(matching tokens) not O(corpus tokens)
    val pscored = RetrievalQueries.bm25Scored(
        graft.Tables.documents(spark, dir), "doc_id", "text",
        Seq("vector", "join", "stream", "filter"))
      .queryExecution.executedPlan.toString
    assert(pscored.contains("tok#") &&
      pscored.contains(" IN (vector,join,stream,filter)")
      || pscored.contains("tok IN"),
      s"term filter not visible in the build plan:\n$pscored")
    val ph = plan(RetrievalQueries.qHybridRrf)
    // the fused shortlist is a ≤100-row checkpoint since r15 — the
    // registered plan must stay a bounded window over the tiny frame
    assert(ph.contains("Window") && ph.contains("Scan ExistingRDD"),
      s"expected a window over the shared shortlist checkpoint:\n$ph")
    // ...and the shortlist BUILD keeps its contracts: the vector ranker
    // broadcasts the single query vector (never the corpus) and both
    // rankers take their top-50 through bounded heaps
    val pf = RetrievalQueries.fusedShortlist(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pf.contains("BroadcastNestedLoopJoin"),
      s"query-vector broadcast not visible in the shortlist build:\n$pf")
    assert(pf.contains("TakeOrderedAndProject"))
  }

  test("q_cardinality takes its k-minima through the custom TopK operator") {
    import graft.queries.AnalyticsQueries
    val p = plan(AnalyticsQueries.qCardinality)
    // map-side bounded heaps: only k rows per group survive to the
    // shuffle — a silent regression to a window formulation would sort
    // the full distinct-hash stream per group instead
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"),
      s"expected the two-phase TopK physical operator:\n$p")
  }

  test("clustered-fixture re-basing is a pure projection (no extra exchange)") {
    // clusteredEmb ships the 20×64 center weights as a literal and
    // re-bases each vector in a transform — if a refactor ever turned
    // that into a center-table join, the clustered recall plan would
    // grow exchanges over the base recall plan
    val base = countOcc(SimilarityQueries.annRecallFixture(spark, dir,
        clustered = false)
      .queryExecution.executedPlan.toString, "Exchange hashpartitioning")
    val clus = countOcc(SimilarityQueries.annRecallFixture(spark, dir,
        clustered = true)
      .queryExecution.executedPlan.toString, "Exchange hashpartitioning")
    assert(clus === base,
      s"clustered recall has $clus hash exchanges vs base $base")
  }

  test("q_boilerplate's paragraph-frequency table joins by shuffle, never broadcast") {
    import graft.queries.CurationQueries
    // the CCNet frequency table is |distinct paragraphs| rows — tiny on
    // the fixture, corpus-sized at 100 TB. The scaladoc's scale contract
    // (it is NOT broadcastable, unlike the domain blocklist) must hold in
    // the PLAN, not just in prose: a size-estimate flip to broadcast
    // would pass the oracle here and OOM the join at scale
    val p = plan(CurationQueries.qBoilerplate)
    assert(!p.contains("BroadcastHashJoin"),
      s"frequency table got broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffle join for the frequency table:\n$p")
  }

  test("q_heavy_hitters' exact pass filters to candidates before its one shuffle") {
    import graft.queries.AnalyticsQueries
    // pass 1 (the sketch) runs eagerly inside the call; the returned
    // frame is pass 2, whose only hash shuffle must sit above the
    // candidate-set filter — a regression to the naive full-keyspace
    // groupBy would still pass the oracle but lose the whole point
    val p = plan(AnalyticsQueries.qHeavyHitters)
    assert(countOcc(p, "Exchange hashpartitioning") === 1,
      s"expected exactly one hash shuffle (candidate-key groupBy):\n$p")
    assert(p.contains("INSET") || p.contains(" IN ("),
      s"expected the broadcast candidate-set filter:\n$p")
  }

  test("q_span_dedup: two block passes, duplicate-flag left join") {
    import graft.queries.TextQueries
    val p = plan(TextQueries.qSpanDedup)
    // the duplicate-block set is corpus-sized in the worst case, so
    // flagging must be a keyed JOIN (Spark may pick broadcast from
    // small-SF stats, but the shape must stay a join, never a collect)
    assert(p.contains("LeftOuter"), s"expected the duplicate-flag join:\n$p")
    // the exploded block stream is consumed exactly twice (duplicate
    // counting + the flagged per-doc pass); the first cut of this query
    // planned a THIRD posexplode for a separate totals branch
    assert(countOcc(p, "Generate posexplode") === 2,
      s"expected exactly two posexplodes:\n$p")
  }

  test("q_bpe_merge: one counting shuffle, top-20 via TakeOrdered") {
    import graft.queries.TextQueries
    val p = plan(TextQueries.qBpeMerge)
    // global top-k must compile to TakeOrderedAndProject (per-partition
    // heaps + driver merge of 20 rows), not a full sort of the pair space
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(countOcc(p, "Exchange hashpartitioning") === 1,
      s"expected exactly one hash shuffle (the pair count):\n$p")
  }

  test("rank-limit pushdown (WindowGroupLimit) fires on the rn<=k dedups") {
    // Spark's InferWindowGroupLimit prunes each map partition to the
    // per-group rank limit BEFORE the window shuffle — the built-in
    // optimization our row_number()-then-filter formulations are written
    // to trigger (the Spark-first alternative to hand-rolling the prune;
    // the custom TopKPerGroup operator remains the (c)-tier demo and the
    // global-top-k path). A formulation drift that silently loses the
    // pushdown (e.g. filtering on a derived column) fails here.
    assert(plan(RfpQueries.qDedupExact).contains("WindowGroupLimit"))
    assert(plan(graft.Registry.byName("q_topk_per_group"))
      .contains("WindowGroupLimit"))
    // q_latest_per_q is CORRECTLY exempt: its A5/A6 semantics keep ALL
    // rows tied at the max date, so it is a windowed max + filter (no
    // rank function), which the rank-limit rule cannot and should not
    // touch — pin that it stays a Window, not a silent semantic change
    // to row_number
    val lp = plan(graft.Registry.byName("q_latest_per_q"))
    assert(lp.contains("Window") && !lp.contains("WindowGroupLimit"))
  }

  test("q_fuzzy_join pins the variant shuffle against AQE coalescing") {
    // the self-join's output is far larger than its input (Σ block²
    // candidate rows exist only on the reduce side); AQE sizes partitions
    // by the map bytes it can see and coalesced the 100×-fixture run to
    // ~2 tasks (~58 s, one core pegged). The REPARTITION_BY_NUM exchange
    // is the guard — losing it reintroduces the single-core expansion.
    val p = plan(graft.queries.TextQueries.qFuzzyJoin)
    assert(countOcc(p, "REPARTITION_BY_NUM") === 2,
      s"expected the pinned variant repartition on both join inputs:\n$p")
  }

  test("q_semdedup broadcasts |cells| rep rows, never the corpus") {
    // the min_by agg carries each cell representative's vector out of the
    // cell aggregation, so the ONLY join is members × |cells| reps — the
    // first cut joined members to the full corpus on rep_id (AQE
    // broadcast the corpus: fine at demo scale, dead at 100 TB)
    val p = plan(graft.queries.SimilarityQueries.qSemDedup)
    assert(countOcc(p, "BroadcastHashJoin") === 1,
      s"expected exactly the rep-side broadcast join:\n$p")
    assert(p.contains("min_by") || p.contains("nearest_cells"),
      s"rep vectors must come from the cell agg, not a corpus join:\n$p")
  }

  test("q_fuzzy_join2 keeps the pinned variant shuffle at depth 2") {
    // depth 2 multiplies variants per name (~len²/2) and widens blocks —
    // the AQE-coalescing trap q_fuzzy_join documented applies with more
    // force, so the same REPARTITION_BY_NUM guard must hold
    val p = plan(graft.queries.TextQueries.qFuzzyJoin2)
    assert(countOcc(p, "REPARTITION_BY_NUM") === 2,
      s"expected the pinned variant repartition on both join inputs:\n$p")
  }

  test("q_ann_pq scores through the broadcast LUT and keeps the query cap") {
    val p = plan(graft.queries.SimilarityQueries.qAnnPq)
    // codes ⋈ LUT must be a broadcast hash join (the LUT is
    // |queries|·pqM·pqK rows by construction); the float vectors are
    // only touched by the shortlist rerank join
    assert(p.contains("BroadcastHashJoin"),
      s"expected the LUT broadcast join:\n$p")
    // r13: the clustered fixture is localCheckpoint-pinned, so the cap is
    // no longer a parquet PushedFilters entry ("LessThan(vec_id,3200)") —
    // it must still appear as a Filter over the pinned frame BEFORE the
    // broadcast (the query set stays O(1)-capped however the source is
    // materialized)
    assert(p.contains("vec_id#") && p.contains("< 3200"),
      s"query-set cap not applied before the broadcast:\n$p")
  }

  test("q_sample_quantile takes its bottom-k through the custom TopK " +
    "operator") {
    // the sample state must ride the bounded-heap operator (map-side
    // pruning: ≤ k·|groups| rows shuffle) — a window formulation would
    // sort the full value stream
    val p = plan(graft.queries.AnalyticsQueries.qSampleQuantile)
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"),
      s"expected the custom top-k physical operators in the plan:\n$p")
  }

  test("q_session_window plans the native session-window aggregation") {
    val p = plan(graft.queries.StreamQueries.qSessionWindow)
    assert(p.contains("session_window"),
      s"expected the built-in session_window expression:\n$p")
  }

  test("neardup banding keeps the md5 chain above the repartition " +
      "exchange (no pushed-down Filter re-serializes the micro-batch)") {
    import org.apache.spark.sql.functions.{col, lit}
    // mirror the stream path: a repartitioned (doc_id, text, ts) source
    // through the shared banding projection
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        lit("2025-01-01 00:00:00").cast("timestamp").as("ts"))
      .repartition(8, col("doc_id"))
    val p = graft.queries.StreamQueries.neardupBandRows(src)
      .queryExecution.executedPlan.toString
    // the <3-word cut rides inside the explode's when(); a Filter node
    // would be pushed below the exchange with the whole split+shingle
    // chain inlined into its predicate (observed at 100x: the map
    // side's one task per slice file ran the entire banding serially)
    // match the FilterExec node rendering ("+- Filter (...)"), not the
    // FileScan's "PushedFilters: []" metadata
    assert(!p.contains("- Filter ("),
      s"banding plans a Filter (pushdown below the exchange):\n$p")
    assert(countOcc(p, "Exchange") === 1,
      s"expected exactly the one repartition exchange:\n$p")
  }

  test("q_dsir_select: global Gumbel draw through TopK, llr broadcast, " +
      "no global sort") {
    import graft.queries.CurationQueries
    val p = plan(CurationQueries.qDsirSelect)
    // the without-replacement draw is the custom operator's
    // empty-grouping mode: map-side bounded heaps, one AllTuples merge —
    // never a single-partition ranking window or a global range sort
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"),
      s"expected the two-phase TopK physical operator:\n$p")
    assert(!p.contains("rangepartitioning"),
      "the draw must not plan a global range sort")
    // the <=4096-row llr model joins broadcast; document counts and the
    // target set stay keyed shuffles
    assert(p.contains("BroadcastHashJoin"), "llr table not broadcast")
  }

  test("q_diverse_sample: per-cell quota through TopK, rep frame still " +
      "broadcast") {
    import graft.queries.SimilarityQueries
    val p = plan(SimilarityQueries.qDiverseSample)
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"),
      s"expected the two-phase TopK physical operator:\n$p")
    // composing on q_semdedup must not lose its scale contract: the
    // only broadcast is the |cells|-row rep frame (never the corpus)
    assert(p.contains("BroadcastHashJoin"), "rep frame not broadcast")
  }

  test("q_domain_cap: per-domain cap through TopK, blocklist broadcast, " +
      "no global sort") {
    import graft.queries.CurationQueries
    val p = plan(CurationQueries.qDomainCap)
    // the cap is the bounded-heap operator — map-side pruning is the
    // whole scale story for a hot crawl domain (only cap·|domains| rows
    // shuffle), never a per-domain ranking window over the raw rows
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"),
      s"expected the two-phase TopK physical operator:\n$p")
    assert(!p.contains("rangepartitioning"),
      "the cap must not plan a global range sort")
    // the blocklist anti-join broadcasts the thousands-row dim side
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist must anti-join broadcast:\n$p")
  }

  test("no registered query plans a cartesian product") {
    Registry.all.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
    }
  }

  test("fixed_point_dot is SQL-callable via GraftExtensions") {
    val r = spark.sql(
      "SELECT fixed_point_dot(array(0.5D, 2.0D), array(2.0D, 0.25D)) AS d")
      .collect()(0).getLong(0)
    assert(r === 1500000000000000L) // (1.0 + 0.5) * 1e15
  }
}
