package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Analytics capability rows beyond the §2.8 set already covered
  * (joins/windows/rollup/set-ops): exact discrete quantiles, pivot, and
  * offset window functions — each a one-shuffle plan with a DuckDB
  * oracle.
  */
object AnalyticsQueries {

  /** q_quantiles — exact per-group quantiles. Discrete quantiles
    * (`percentile_disc` / DuckDB `quantile_disc`) rather than continuous:
    * both engines then SELECT an actual data value by rank instead of
    * interpolating, so parity is exact set arithmetic with no
    * float-formula coupling. One shuffle (partial sort-agg per group). */
  val qQuantiles = Q("q_quantiles",
    (s, dir) => {
      def pd(p: Double, name: String) =
        expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY value)").as(name)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(pd(0.25, "p25"), pd(0.5, "p50"), pd(0.75, "p75"),
          pd(0.95, "p95"), count(lit(1)).as("n"))
    },
    Some("""SELECT event_type,
      |  quantile_disc(value, 0.25) AS p25,
      |  quantile_disc(value, 0.50) AS p50,
      |  quantile_disc(value, 0.75) AS p75,
      |  quantile_disc(value, 0.95) AS p95,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin),
    "§2.8 capability: exact per-group quantiles (discrete, engine-parity-safe)")

  /** q_pivot — wide-format pivot: document counts per source, one column
    * per language (explicit value list, as a production pivot at scale
    * must be — an unlisted-values pivot needs a driver-side distinct
    * pass first). Absent cells coalesce to 0 on both sides. */
  val qPivot = Q("q_pivot",
    (s, dir) => {
      val langs = Seq("en", "de", "fr", "es", "zh")
      val p = Tables.documents(s, dir)
        .groupBy("source").pivot("lang", langs).agg(count(lit(1)))
      p.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
    },
    Some("""SELECT source,
      |  count(CASE WHEN lang = 'en' THEN 1 END) AS en,
      |  count(CASE WHEN lang = 'de' THEN 1 END) AS de,
      |  count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
      |  count(CASE WHEN lang = 'es' THEN 1 END) AS es,
      |  count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
      |FROM documents GROUP BY source""".stripMargin),
    "§2.8 capability: pivot to wide format (explicit value list)")

  /** q_lag_lead — offset window functions: each event with the same
    * user's previous event type, gap to it, and next event id, in
    * deterministic (ts, event_id) order. One shuffle (the user window). */
  val qLagLead = Q("q_lag_lead",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .as("gap_us"),
        lead(col("event_id"), 1).over(w).as("next_id"))
    },
    Some("""SELECT user_id, event_id, event_type,
      |  lag(event_type, 1) OVER w AS prev_type,
      |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
      |  lead(event_id, 1) OVER w AS next_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),
    "§2.8 capability: offset window functions (lag/lead, deterministic order)")

  /** q_profile — one-pass column profiling (the data-quality audit a
    * curation pipeline runs on every drop): per column, null count,
    * exact distinct count, and min/max rendered as strings under a
    * uniform row schema. One scan: the three exact countDistincts share
    * a single aggregate (Catalyst Expands the input 3×; a production
    * 100 TB profiler swaps in approx_count_distinct to avoid that — HLL
    * sketches aren't oracle-comparable across engines, so the query
    * keeps the exact form). */
  val qProfile = Q("q_profile",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      def nulls(c: String) = sum(col(c).isNull.cast("long")).as(s"nn_$c")
      def prof(c: String) = Seq(nulls(c),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
      val aggs = prof("lang") ++ prof("source") ++ prof("n_chars")
      d.agg(aggs.head, aggs.tail: _*)
        .select(expr("""stack(3,
          |'lang',    nn_lang,    nd_lang,    mn_lang,    mx_lang,
          |'source',  nn_source,  nd_source,  mn_source,  mx_source,
          |'n_chars', nn_n_chars, nd_n_chars, mn_n_chars, mx_n_chars)
          |AS (column_name, n_nulls, n_distinct, min_v, max_v)""".stripMargin))
    },
    Some("""SELECT 'lang' AS column_name,
      |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
      |  CAST(min(lang) AS VARCHAR) AS min_v, CAST(max(lang) AS VARCHAR) AS max_v
      |FROM documents
      |UNION ALL
      |SELECT 'source',
      |  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(DISTINCT source) AS BIGINT),
      |  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars',
      |  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(DISTINCT n_chars) AS BIGINT),
      |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
      |FROM documents""".stripMargin),
    "north star: column profiling / data-quality audit (one-pass)")

  /** q_grouping_sets — multi-grain aggregation in one pass (the GROUPING
    * SETS capability beyond q_rollup's hierarchy): per-lang totals,
    * per-source totals, and the grand total from a single scan+Expand.
    * lang/source are non-null in this data, so output NULLs uniquely
    * mark the aggregated-out dimension on both sides. */
  val qGroupingSets = Q("q_grouping_sets",
    (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents_gs")
      s.sql("""SELECT lang, source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents_gs
        |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin)
    },
    Some("""SELECT lang, source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin),
    "§2.8 capability: GROUPING SETS multi-grain aggregate (one scan)")

  /** q_cardinality — KMV (k-minimum-values) distinct-count sketch per
    * group, demonstrated against the exact count: est = (k-1)·2⁶⁰/h_k
    * where h_k is the k-th smallest 60-bit md5 hash fraction of the
    * distinct values (falling back to the exact count when a group has
    * fewer than k distinct hashes). The production cardinality path at
    * 100 TB — the sketch is a fixed-size order statistic, mergeable
    * across partitions — here the k-minima come from the custom
    * [[graft.ops.TopK]] operator (map-side bounded heaps: only
    * ≤ k·|groups| hash rows shuffle after the distinct, never the full
    * hash stream). All arithmetic is exact-integer until one double
    * division mirrored verbatim in the oracle (2⁶⁰ and 63·2⁶⁰ are exact
    * doubles; long→double rounding is IEEE round-to-nearest in both
    * engines). */
  val qCardinality = Q("q_cardinality",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = docs
        .select(col("source"), graft.ops.Sketch.hash60(col("text")).as("h"))
        .distinct()
        .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
      exact.join(graft.ops.Sketch.kmvDistinct(docs, "source", "text", 64),
          "source")
        .withColumn("rel_err", round(
          (col("kmv_est") - col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double"), 6))
        .select("source", "exact_distinct", "kmv_est", "rel_err")
    },
    Some("""WITH hashed AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      |  FROM documents
      |), exact AS (
      |  SELECT source, count(*) AS exact_distinct FROM hashed GROUP BY source
      |), ranked AS (
      |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      |  FROM hashed
      |), kmv AS (
      |  SELECT source, max(h) AS hk, count(*) AS nk
      |  FROM ranked WHERE rk <= 64 GROUP BY source
      |), est AS (
      |  SELECT e.source, e.exact_distinct,
      |    round(CASE WHEN k.nk < 64 THEN CAST(k.nk AS DOUBLE)
      |      ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(k.hk AS DOUBLE)
      |      END, 3) AS kmv_est
      |  FROM exact e JOIN kmv k USING (source)
      |)
      |SELECT source, exact_distinct, kmv_est,
      |  round((kmv_est - CAST(exact_distinct AS DOUBLE))
      |      / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
      |FROM est""".stripMargin),
    "north star: KMV cardinality sketch (mergeable distinct-count, exact-checked)")

  /** Cohort-retention core over any (user_id, ts) frame — shared by
    * q_cohort and AnalyticsSpec's crafted-frame pins. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    def dk(k: Int) =
      count_distinct(when(col("k") === k, col("user_id"))).as(s"d$k")
    ev.join(cohort, "user_id")
      .withColumn("k", datediff(col("day"), col("cohort_day")))
      .filter(col("k") <= 3)
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"))
      .agg(dk(0), dk(1), dk(2), dk(3))
  }

  /** q_cohort — cohort retention: users grouped by first-seen day, with
    * distinct-user counts still active k days later (k = 0..3). The
    * engine-capability staple for product analytics at scale: one
    * distinct shuffle on (user, day), one min-agg for the cohort
    * assignment, one join back on the user key, one count-distinct agg.
    * Days project as yyyy-MM-dd strings on both sides (DATE columns
    * hash-mismatch through pandas). All outputs are exact integers. */
  val qCohort = Q("q_cohort",
    (s, dir) => cohortRetention(Tables.events(s, dir)),
    Some("""WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
      |), j AS (
      |  SELECT e.user_id, c.cohort_day,
      |    date_diff('day', c.cohort_day, e.day) AS k
      |  FROM ev e JOIN cohort c USING (user_id)
      |  WHERE date_diff('day', c.cohort_day, e.day) <= 3
      |)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      |  CAST(count(DISTINCT CASE WHEN k = 0 THEN user_id END) AS BIGINT) AS d0,
      |  CAST(count(DISTINCT CASE WHEN k = 1 THEN user_id END) AS BIGINT) AS d1,
      |  CAST(count(DISTINCT CASE WHEN k = 2 THEN user_id END) AS BIGINT) AS d2,
      |  CAST(count(DISTINCT CASE WHEN k = 3 THEN user_id END) AS BIGINT) AS d3
      |FROM j GROUP BY cohort_day""".stripMargin),
    "§2.8 capability: cohort retention (first-seen day × day-offset distinct users)")

  /** Per-user funnel completion times: frame i holds (user_id, t_i) — the
    * earliest stage-i event strictly after the user's t_(i-1), so a
    * same-timestamp event never advances a stage. The sequential
    * min-join chain behind [[funnelStages]]. */
  def funnelUserTimes(events: DataFrame, stages: Seq[String]): Seq[DataFrame] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select("user_id", "event_type", "ts")
    stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stageType, i)) =>
        val hits = ev.filter(col("event_type") === stageType)
        Some(prev match {
          case None => hits.groupBy("user_id").agg(min(col("ts")).as(s"t$i"))
          case Some(p) => hits.join(p, "user_id")
            .filter(col("ts") > col(s"t${i - 1}"))
            .groupBy("user_id").agg(min(col("ts")).as(s"t$i"))
        })
    }.flatten
  }

  /** Ordered-funnel core over any (user_id, event_type, ts) frame —
    * each stage strictly after the user's previous stage; shared by
    * q_funnel and AnalyticsSpec's ordering pins. */
  def funnelStages(events: DataFrame, stages: Seq[String]): DataFrame =
    funnelUserTimes(events, stages).zip(stages.zipWithIndex)
      .map { case (df, (stageType, i)) =>
        df.agg(count(lit(1)).as("users"))
          .select(lit(s"${i + 1}_$stageType").as("stage"), col("users"))
      }.reduce(_.unionAll(_))

  /** q_funnel — ordered-funnel analysis: per user, the earliest 'view',
    * the earliest 'click' strictly after it, and the earliest 'purchase'
    * strictly after that; output is users-per-stage. The sequential
    * constraint (each stage after the previous) is the part plain
    * groupBy can't express — it needs the per-user min-join chain, every
    * step an equi-join on the user key (no windows over full history, no
    * per-user event collection — at 100 TB a user's events never
    * assemble into one row). */
  val qFunnel = Q("q_funnel",
    (s, dir) => funnelStages(Tables.events(s, dir),
      Seq("view", "click", "purchase")),
    Some("""WITH f1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), f2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN f1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY e.user_id
      |), f3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN f2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY e.user_id
      |)
      |SELECT '1_view' AS stage, count(*) AS users FROM f1
      |UNION ALL SELECT '2_click', count(*) FROM f2
      |UNION ALL SELECT '3_purchase', count(*) FROM f3""".stripMargin),
    "§2.8 capability: ordered funnel (sequential min-join chain, per-stage users)")

  /** q_skew_audit — join-key skew diagnostic: the top-10 hottest values
    * of a join column with each key's share of total rows — the check an
    * engineer runs BEFORE shuffling a 100 TB join on that key (a key
    * holding >1/shuffle-partitions of the rows serializes its partition;
    * AQE skew-split and salting are the mitigations, SkewJoinSpec pins
    * the first). One map-side-combined
    * count per key, a broadcast single-row total, TakeOrdered top-10.
    * Shares are one double division rounded to 6, mirrored verbatim. */
  val qSkewAudit = Q("q_skew_audit",
    (s, dir) => {
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).cast("double").as("total"))
      counts.crossJoin(broadcast(total))
        .orderBy(col("cnt").desc, col("key")).limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("key"))))
        .select(col("rk"), col("key"), col("cnt"),
          round(col("cnt").cast("double") / col("total"), 6).as("share"))
    },
    Some("""WITH counts AS (
      |  SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
      |), total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts)
      |SELECT row_number() OVER (ORDER BY cnt DESC, key) AS rk, key, cnt,
      |  round(CAST(cnt AS DOUBLE) / total, 6) AS share
      |FROM (SELECT * FROM counts ORDER BY cnt DESC, key LIMIT 10) c
      |CROSS JOIN total""".stripMargin),
    "scale diagnostics: join-key skew audit (hot keys + share before the shuffle)")

  /** The Zipf-tiered key [[qHeavyHitters]] mines: a deterministic skew
    * fixture over lineitem (same philosophy as the clustered ANN
    * fixture — derived in-query so both engines see identical data). 8
    * hot keys hold ~6.2% of rows each, 256 medium keys ~0.1%, the rest
    * near-unique — so at threshold 1/50 (2%) exactly the hot tier
    * qualifies, with no key near the boundary, while the ~37k-key space
    * (sf0.1) dwarfs the 64-counter sketch: the candidate pruning is
    * real, not vacuous. */
  private def hhKey = {
    val r = col("l_orderkey") % 16
    when(r < 8, concat(lit("h"), r.cast("string")))
      .when(r < 12, concat(lit("m"), (col("l_orderkey") % 1024).cast("string")))
      .otherwise(concat(lit("c"), col("l_orderkey").cast("string")))
  }
  private val hhKeySql =
    """CASE WHEN l_orderkey % 16 < 8 THEN 'h' || CAST(l_orderkey % 16 AS VARCHAR)
      |     WHEN l_orderkey % 16 < 12 THEN 'm' || CAST(l_orderkey % 1024 AS VARCHAR)
      |     ELSE 'c' || CAST(l_orderkey AS VARCHAR) END""".stripMargin

  /** q_heavy_hitters — exact frequent keys over a wide key space via the
    * two-pass Misra–Gries pattern ([[graft.ops.HeavyHitters]]): a
    * 64-counter sketch finds candidates in O(m) state, an exact pass
    * counts only candidate rows. Output: every key holding > 1/50 of the
    * rows, with exact counts and shares. The DuckDB oracle is the naive
    * full groupBy + HAVING — a wholly different plan, so this is a
    * differential check that the sketch path loses no heavy key. */
  val qHeavyHitters = Q("q_heavy_hitters",
    (s, dir) => graft.ops.HeavyHitters.heavyHitters(
      Tables.lineitem(s, dir).select(hhKey.as("key")), "key", m = 64, k = 50),
    Some(s"""WITH keyed AS (SELECT $hhKeySql AS key FROM lineitem),
      |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM keyed),
      |c AS (SELECT key, count(*) AS cnt FROM keyed GROUP BY key)
      |SELECT key, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
      |FROM c CROSS JOIN t
      |WHERE CAST(cnt AS DOUBLE) > total / 50""".stripMargin),
    "scale diagnostics: exact heavy hitters via two-pass Misra-Gries " +
      "(candidate sketch + exact verify; generalizes the dup census A1-A3 " +
      "to frequency thresholds)")

  /** The fixed CMS probe set: the 8 hot-tier keys, two medium-tier keys
    * (1024-modulus residues 8 and 523 ≡ 11 mod 16, so both actually
    * occur), and one key no row carries — O(1) external input by the
    * same contract as the BM25 query terms. */
  private val cmsKeys = (0 until 8).map(i => s"h$i") ++ Seq("m8", "m523", "nope")
  private val cmsDepth = 4
  private val cmsWidth = 512

  /** q_cms — Count-Min point-frequency sketch over the same Zipf-tiered
    * key stream [[qHeavyHitters]] mines, probed at the fixed
    * [[cmsKeys]]: per key the exact count, the sketch estimate, and the
    * collision overestimate (≥ 0 always — CMS never undercounts). The
    * 100 TB frequency path when the key space dwarfs memory: the
    * depth×width counter table aggregates map-side (≤ 4·512 rows ever
    * shuffle, vs ~37k keys at sf0.1 for the exact plan), merges by
    * coordinate-wise addition (SketchSpec checks sum of halves == sketch
    * of the whole), and the exact side prunes to the O(1) probe keys BEFORE
    * its shuffle. Hashing is the md5-derived [[graft.ops.Sketch.hash60]]
    * family seeded per row, so the oracle replicates every counter
    * bit-for-bit. */
  val qCms = Q("q_cms",
    (s, dir) => {
      import s.implicits._
      // loadSpread: 4 md5-derived hashes per row run ABOVE the scan —
      // single-file input serialized them onto one core (guide §2.5)
      val keyed = Tables.loadSpread(s, dir, "lineitem", "l_orderkey")
        .select(hhKey.as("key"))
      val counters = graft.ops.Sketch.cmsCounters(keyed, "key",
        cmsDepth, cmsWidth)
      val exact = keyed.filter(col("key").isin(cmsKeys: _*))
        .groupBy("key").agg(count(lit(1)).as("exact_n"))
      graft.ops.Sketch.cmsEstimate(counters, cmsKeys.toDF("key"), "key",
          cmsDepth, cmsWidth)
        .join(exact, Seq("key"), "left")
        .select(col("key"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"), col("cms_est"),
          (col("cms_est") - coalesce(col("exact_n"), lit(0L))).as("overest"))
    },
    Some {
      val keyList = cmsKeys.map("'" + _ + "'").mkString(", ")
      def bSql(j: String, k: String) =
        s"('0x' || substr(md5($k), 1 + 7*$j, 7))::BIGINT % $cmsWidth"
      s"""WITH keyed AS (SELECT $hhKeySql AS key FROM lineitem),
        |qk AS (SELECT unnest([$keyList]) AS key),
        |js AS (SELECT unnest(range($cmsDepth)) AS j),
        |counters AS (
        |  SELECT j, ${bSql("j", "key")} AS b, count(*) AS cnt
        |  FROM keyed CROSS JOIN js GROUP BY 1, 2
        |), est AS (
        |  SELECT q.key, min(coalesce(c.cnt, 0)) AS cms_est
        |  FROM qk q CROSS JOIN js j
        |  LEFT JOIN counters c
        |    ON c.j = j.j AND c.b = ${bSql("j.j", "q.key")}
        |  GROUP BY 1
        |), ex AS (
        |  SELECT key, count(*) AS exact_n FROM keyed
        |  WHERE key IN ($keyList) GROUP BY key
        |)
        |SELECT e.key, coalesce(x.exact_n, 0) AS exact_n, e.cms_est,
        |  e.cms_est - coalesce(x.exact_n, 0) AS overest
        |FROM est e LEFT JOIN ex x USING (key)""".stripMargin
    },
    "scale diagnostics: Count-Min frequency sketch (bounded counters, " +
      "mergeable, probe-key estimates vs exact)")

  /** q_anomaly — volume anomaly detection on the event stream: hourly
    * counts per event_type, z-scored against that type's own
    * mean/stddev, windows with |z| ≥ 3 flagged. The monitoring pattern
    * every ingestion pipeline runs over its telemetry.
    *
    * Determinism contract: the moments are exact integer sums (count,
    * Σc, Σc² over BIGINT hourly counts — no overflow anywhere near 2^63
    * for hourly buckets), and the z formula applies only IEEE-exact ops
    * (divide, multiply, subtract, sqrt are all correctly rounded, so
    * identical inputs give bit-identical doubles in both engines) in the
    * SAME expression order as the oracle: m = Σc/n, var = Σc²/n − m·m,
    * z = (c − m)/√var. No double is ever summed.
    *
    * Scale shape: two keyed aggregations (hour-bucket counts, per-type
    * moments — the second input is one row per (type, hour), thousands
    * of times smaller than the events) and one join keyed on event_type;
    * at real cardinalities the moments side is broadcast-sized, and
    * Spark's stats pick that up on their own. */
  val qAnomaly = Q("q_anomaly",
    (s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour").as("win"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"), col("win.start").as("w"), col("c"))
      val stats = hourly.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("sc2"))
      val m = col("sc").cast("double") / col("n")
      val variance = col("sc2").cast("double") / col("n") - m * m
      hourly.join(stats, "event_type")
        // variance > 0 guard: a perfectly constant group gives 0/0 = NaN,
        // and NaN compares greater-than in both engines — without the
        // guard every window of a flat stream is flagged as "anomalous".
        .filter(variance > 0.0)
        .withColumn("z", round((col("c") - m) / sqrt(variance), 6))
        .filter(abs(col("z")) >= 3.0)
        .select(col("event_type"),
          date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("c"), col("z"))
    },
    Some("""WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS w, count(*) AS c
      |  FROM events GROUP BY 1, 2
      |), s AS (
      |  SELECT event_type, count(*) AS n, sum(c) AS sc, sum(c*c) AS sc2
      |  FROM h GROUP BY 1
      |), z AS (
      |  SELECT h.event_type, h.w, h.c,
      |    round((h.c - CAST(s.sc AS DOUBLE)/s.n) /
      |      sqrt(CAST(s.sc2 AS DOUBLE)/s.n
      |        - (CAST(s.sc AS DOUBLE)/s.n)*(CAST(s.sc AS DOUBLE)/s.n)),
      |      6) AS z
      |  FROM h JOIN s USING (event_type)
      |  WHERE CAST(s.sc2 AS DOUBLE)/s.n
      |    - (CAST(s.sc AS DOUBLE)/s.n)*(CAST(s.sc AS DOUBLE)/s.n) > 0
      |)
      |SELECT event_type, strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  c, z
      |FROM z WHERE abs(z) >= 3.0""".stripMargin),
    "north star: per-type volume anomaly detection (z-score over hourly windows)")

  /** Per-group exact moments (count, mean, stddev) of `value`, computed
    * the deterministic way: values snapped to fixed-point cents
    * (DECIMAL(18,2)·100 → BIGINT, the q_events_hourly cast), moments as
    * exact integer sums, finishers restricted to IEEE-exact ops in a
    * fixed order. Exactness contract: sums stay exact while
    * n·cents² < 2^53 per group (here ≤ ~2e15; a group outgrowing that
    * shards its key). Backs [[qValueMoments]]; the streaming
    * [[graft.streaming.Streams.momentsStream]] replicates its op chain,
    * and StreamMomentsSpec asserts batch ≡ stream equality. */
  def valueMoments(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val vc = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val agg = events.select(col("event_type"), vc.as("vc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"),
        sum(col("vc") * col("vc")).as("s2"))
    val m = col("s").cast("double") / col("n")
    agg.select(col("event_type"), col("n"),
      round(m / 100.0, 6).as("mean_value"),
      round(sqrt(col("s2").cast("double") / col("n") - m * m) / 100.0, 6)
        .as("std_value"))
  }

  /** q_value_moments — the per-type telemetry baseline (n/mean/stddev of
    * event value): the batch twin of the O(1)-state streaming moments
    * ([[graft.streaming.Streams.momentsStream]]) and the same moment
    * arithmetic [[qAnomaly]] applies to hourly counts. */
  val qValueMoments = Q("q_value_moments",
    (s, dir) => valueMoments(Tables.events(s, dir)),
    Some("""WITH v AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events
      |), a AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(vc) AS BIGINT) AS s, CAST(sum(vc*vc) AS BIGINT) AS s2
      |  FROM v GROUP BY 1
      |)
      |SELECT event_type, n,
      |  round((CAST(s AS DOUBLE)/n) / 100.0, 6) AS mean_value,
      |  round(sqrt(CAST(s2 AS DOUBLE)/n
      |    - (CAST(s AS DOUBLE)/n)*(CAST(s AS DOUBLE)/n)) / 100.0, 6)
      |    AS std_value
      |FROM a""".stripMargin),
    "north star: exact per-group moments (the telemetry baseline q_anomaly z-scores against)")

  /** q_hist_quantile — mergeable histogram quantiles
    * ([[graft.ops.Sketch.histQuantiles]]): the SCALE path next to
    * q_quantiles' exact `percentile_disc`. Exact per-group quantiles
    * must sort each group's full value set with no map-side
    * pre-aggregation — unworkable when one group spans TBs — while the
    * histogram pre-aggregates to O(range/width) integer bin counts that
    * merge across partitions, days, and streams by plain addition
    * (SketchSpec checks sum of halves == bins of the whole).
    * Since r9 estimates are linearly INTERPOLATED within the selected
    * bin (uniform-within-bin assumption; |est − exact| < width
    * two-sided) — the oracle mirrors the selection with
    * `arg_min(..., bin) FILTER` and the identical IEEE finisher chain. */
  val qHistQuantile = Q("q_hist_quantile",
    (s, dir) => graft.ops.Sketch.histQuantiles(
      Tables.events(s, dir), "event_type", "value", 10.0,
      Seq("p50_est" -> 0.5, "p90_est" -> 0.9, "p99_est" -> 0.99)),
    Some("""WITH b AS (
      |  SELECT event_type, CAST(floor(value/10.0) AS BIGINT) AS bin,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), c AS (
      |  SELECT event_type, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM b
      |)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  CAST(min(bin) FILTER (WHERE cum >= ceil(0.5*n)) AS DOUBLE) * 10.0
      |    + (ceil(0.5 * max(n))
      |       - CAST(arg_min(cum - cnt, bin) FILTER (WHERE cum >= ceil(0.5*n)) AS DOUBLE))
      |      / CAST(arg_min(cnt, bin) FILTER (WHERE cum >= ceil(0.5*n)) AS DOUBLE)
      |      * 10.0 AS p50_est,
      |  CAST(min(bin) FILTER (WHERE cum >= ceil(0.9*n)) AS DOUBLE) * 10.0
      |    + (ceil(0.9 * max(n))
      |       - CAST(arg_min(cum - cnt, bin) FILTER (WHERE cum >= ceil(0.9*n)) AS DOUBLE))
      |      / CAST(arg_min(cnt, bin) FILTER (WHERE cum >= ceil(0.9*n)) AS DOUBLE)
      |      * 10.0 AS p90_est,
      |  CAST(min(bin) FILTER (WHERE cum >= ceil(0.99*n)) AS DOUBLE) * 10.0
      |    + (ceil(0.99 * max(n))
      |       - CAST(arg_min(cum - cnt, bin) FILTER (WHERE cum >= ceil(0.99*n)) AS DOUBLE))
      |      / CAST(arg_min(cnt, bin) FILTER (WHERE cum >= ceil(0.99*n)) AS DOUBLE)
      |      * 10.0 AS p99_est
      |FROM c GROUP BY event_type""".stripMargin),
    "north star: mergeable histogram quantile sketch (the 100 TB path next to exact percentile_disc)")

  /** Sample capacity for [[qSampleQuantile]]: 1024 keeps the per-group
    * state at 8 KiB of doubles while the 3σ rank error stays under ~5%
    * (√(0.25/1024) ≈ 1.6% σ — the canonicity trade recorded in
    * [[graft.ops.Sketch]]'s block comment). */
  private val qsampleK = 1024

  /** q_sample_quantile — RANGE-FREE mergeable quantiles
    * ([[graft.ops.Sketch.qsampleState]]): the third rung of the quantile
    * ladder. q_quantiles is exact but unmergeable (full sort per group);
    * q_hist_quantile pre-aggregates but needs the value range a priori
    * and carries O(range/width) state — a genuine 100 TB liability for
    * unbounded-domain columns; this one is O(k) state with NO domain
    * knowledge: the bottom-k-by-hash sample (the canonical, multiset-
    * determined construction in the KLL slot — the op's block comment
    * records why vanilla KLL's arrival-order compaction cannot meet the
    * merge≡whole / oracle bit-equality bar, and the O(√(1/k)) accuracy
    * price of canonicity). Estimates are sample order statistics, so
    * both engines pick the identical data value — no interpolation
    * formula to couple. At sf0.01+ every event_type holds more rows
    * than k, so the gate exercises the genuinely-sketched path (at
    * sf0.001 groups fit and the estimates are exact — KMV's
    * small-cardinality exactness in the quantile domain). */
  val qSampleQuantile = Q("q_sample_quantile",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val est = graft.ops.Sketch.qsampleQuantiles(
        graft.ops.Sketch.qsampleState(ev, "event_type", "event_id", "value",
          qsampleK),
        "event_type",
        Seq("p50_est" -> 0.5, "p90_est" -> 0.9, "p99_est" -> 0.99))
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      n.join(est, "event_type")
        .select("event_type", "n", "m", "p50_est", "p90_est", "p99_est")
    },
    Some(s"""WITH s AS (
      |  SELECT event_type, v FROM (
      |    SELECT event_type, CAST(value AS DOUBLE) AS v,
      |      row_number() OVER (PARTITION BY event_type ORDER BY
      |        ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT,
      |        CAST(value AS DOUBLE)) AS rk
      |    FROM events) t
      |  WHERE rk <= $qsampleK
      |), e AS (
      |  SELECT event_type, count(*) AS m, list(v ORDER BY v) AS vs
      |  FROM s GROUP BY event_type
      |), nn AS (
      |  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
      |)
      |SELECT nn.event_type, nn.n, e.m,
      |  vs[CAST(ceil(0.5 * m) AS INT)] AS p50_est,
      |  vs[CAST(ceil(0.9 * m) AS INT)] AS p90_est,
      |  vs[CAST(ceil(0.99 * m) AS INT)] AS p99_est
      |FROM nn JOIN e USING (event_type)""".stripMargin),
    "north star: range-free mergeable quantile sketch (bottom-k hash " +
      "sample, the canonical KLL-slot construction; merge == whole exact)")

  /** q_mad_outliers — robust per-type outlier detection via median /
    * median-absolute-deviation, the breakdown-resistant complement to
    * q_anomaly's mean/stddev z-scores (one pathological burst inflates a
    * stddev and HIDES further outliers; the median/MAD pair has a 50%
    * breakdown point). Both medians are DISCRETE quantiles
    * (q_quantiles' parity discipline — each engine selects an actual
    * data value, no interpolation formula to couple), the deviation and
    * the 3·MAD fence are single IEEE ops on identical inputs, so the
    * flag boundary is exact on both engines with no rounding.
    *
    * Plan shape: exact robust stats cost two sorted aggregations and a
    * re-join by construction (med → deviations → mad → fence count) —
    * all keyed on the |types|-sized group key; `q_hist_quantile` is the
    * one-pass mergeable-sketch alternative when exactness can yield. */
  val qMadOutliers = Q("q_mad_outliers",
    (s, dir) => {
      val ev = Tables.events(s, dir).select("event_type", "value")
      val med = ev.groupBy("event_type").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
      val dev = ev.join(med, "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)").as("mad"))
      dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    },
    Some("""WITH med AS (
      |  SELECT event_type, quantile_disc(value, 0.5) AS med
      |  FROM events GROUP BY 1
      |), dev AS (
      |  SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
      |  FROM events e JOIN med m USING (event_type)
      |), mad AS (
      |  SELECT event_type, quantile_disc(dev, 0.5) AS mad
      |  FROM dev GROUP BY 1
      |)
      |SELECT d.event_type, min(d.med) AS med, min(m.mad) AS mad,
      |  count(*) AS n,
      |  CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type""".stripMargin),
    "north star: robust median/MAD outlier fence (50% breakdown point " +
      "vs the z-score's zero)")

  def all: Seq[Q] = Seq(qQuantiles, qPivot, qLagLead, qProfile,
    qGroupingSets, qCardinality, qCohort, qFunnel, qSkewAudit,
    qHeavyHitters, qCms, qAnomaly, qValueMoments, qHistQuantile,
    qSampleQuantile, qMadOutliers)
}
