package graft
package queries

import graft.core.{FeatureRow, GeoJson, TileRow}
import graft.functions.cells
import graft.functions.raster._
import graft.functions.spatial._
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Fixtures._
import OracleCtes._
import OracleCtes2._

/** Event-analytics gates: sessions, funnels, sketches, time series
  * (20 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QEvents2 {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gridline-crossing tiling cost: per trajectory segment the exact
    // count of 64-unit vertical / 16-unit horizontal grid boundaries
    // crossed (|⌊x₂/G⌋−⌊x₁/G⌋| + |…|) — the tile-fanout estimate a vector
    // tiler prices BEFORE cutting; one lag window + one rollup.,
    "events_conversion_lag" -> ((s, dir) => {
      val ev = t(s, dir, "events").selectExpr("user_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val lags = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("us") > col("v_us"))
        .groupBy("user_id").agg((min("us") - max("v_us")).as("lag_us"))
      // per-user rows scale with the data: exact rank via the
      // range-partitioned two-phase row_number (ops.GlobalRank) and the
      // global count via a broadcast scalar, never an unpartitioned window
      def at(p: Double) =
        max(when(col("rn") === floor((col("n") - 1) * lit(p)) + 1,
          col("lag_us")))
      ops.GlobalRank.withRowNumber(lags, "rn",
          Seq(col("lag_us"), col("user_id")))
        .crossJoin(broadcast(lags.agg(count(lit(1)).as("n"))))
        .agg(max("n").as("n_converted"), at(0.25).as("p25_us"),
          at(0.5).as("p50_us"), at(0.75).as("p75_us"))
    }),
    "events_funnel" -> ((s, dir) => {
      t(s, dir, "events")
        .selectExpr("user_id",
          "unix_micros(cast(ts as timestamp)) AS tus", "event_id", "event_type")
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("tus"), col("event_id"),
          col("event_type").as("etype")))).as("evs"))
        .selectExpr("user_id",
          """aggregate(evs,
               named_struct('stage', 0, 't1', CAST(NULL AS BIGINT),
                            't2', CAST(NULL AS BIGINT), 't3', CAST(NULL AS BIGINT)),
               (acc, e) -> CASE
                 WHEN acc.stage = 0 AND e.etype = 'view'
                   THEN named_struct('stage', 1, 't1', e.tus, 't2', acc.t2, 't3', acc.t3)
                 WHEN acc.stage = 1 AND e.etype = 'click'
                   THEN named_struct('stage', 2, 't1', acc.t1, 't2', e.tus, 't3', acc.t3)
                 WHEN acc.stage = 2 AND e.etype = 'purchase'
                   THEN named_struct('stage', 3, 't1', acc.t1, 't2', acc.t2, 't3', e.tus)
                 ELSE acc END) AS f""")
        .selectExpr("user_id", "f.stage AS funnel_stage", "f.t1 AS view_us",
          "f.t2 AS click_us", "f.t3 AS purchase_us")
        .orderBy("user_id")
    }),
    // Sliding 7-day distinct actives (WAU per day): each (user, active-day)
    // explodes into the 7 report-days its activity covers, then one
    // distinct-count groupBy — an equi-plan, NO range join; reported for
    // observed activity days only (semi-join).,
    "events_wau" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(expr("cast(ts as timestamp)")).as("d"))
        .distinct()
      val days = ev.select(col("d").as("day")).distinct()
      ev.select(col("user_id"),
          explode(expr("sequence(d, date_add(d, 6))")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
        .orderBy("day")
    }),
    // Cohort retention: users bucketed by first-activity week (Monday), then
    // distinct actives per (cohort_week, week_offset). Two shuffles by
    // construction: min-per-user, then the count-distinct re-key; the
    // user->cohort map rides the same shuffle as a join on user_id.,
    "events_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("wk", to_date(date_trunc("week", expr("cast(ts as timestamp)"))))
      val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      ev.join(cohort, "user_id")
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),
    // Kaplan-Meier survival curve in exact quantized arithmetic: customer
    // lifetime = days between first and last order; customers still
    // ordering in the dataset's final 90 days are CENSORED (they leave the
    // at-risk pool at their observed lifetime without counting as a death
    // — the thing that distinguishes KM from the empirical CDF). Per death
    // time t:
    // s_ppm ← s_ppm·(n_k − d_k) div n_k, the sequential product run by ONE
    // flatMapGroups over the ≤(horizon+1)-row pre-aggregated curve (state
    // bounded by the day horizon, never the users); oracle replays it as a
    // recursive CTE over the ranked death times.,
    "events_survival" -> ((s, dir) => {
      import s.implicits._
      val users = t(s, dir, "orders")
        .selectExpr("o_custkey AS user_id",
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS d")
        .groupBy("user_id").agg(min("d").as("d0"), max("d").as("d1"))
      val horizon = users.agg(max("d1")).head().getLong(0)
      val lv = users.selectExpr("user_id", "d1 - d0 AS lifetime",
        s"CASE WHEN d1 < ${horizon}L - 90L THEN 1 ELSE 0 END AS died")
      // global window input is the per-lifetime aggregate: lifetime is a
      // day count, so the frame is bounded by the calendar span, not rows
      val lifeCnt = lv.groupBy("lifetime").agg(count(lit(1)).as("n_at"))
      val nGe = lifeCnt.withColumn("n_ge",
        sum("n_at").over(Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("lifetime"))).orderBy(col("lifetime").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val curve = lv.filter(col("died") === 1)
        .groupBy(col("lifetime").as("t")).agg(count(lit(1)).as("d_k"))
        .join(nGe.select(col("lifetime").as("t"), col("n_ge").as("n_k")), "t")
      curve.select(col("t"), col("d_k"), col("n_k"))
        .as[(Long, Long, Long)]
        .groupByKey(_ => true)
        .flatMapGroups { (_: Boolean, it: Iterator[(Long, Long, Long)]) =>
          val rows = it.toArray.sortBy(_._1)
          var sp = 1000000L
          rows.iterator.map { case (tt, dk, nk) =>
            sp = sp * (nk - dk) / nk
            (tt, nk, dk, sp)
          }
        }
        .toDF("t_day", "n_risk", "n_deaths", "s_ppm")
        .orderBy("t_day")
    }),
    // EXACT mergeable distinct (ops.Sketches.BitmapDistinctAgg): per-group
    // bitmap over the bounded user domain, byte-OR merged — one 8 KiB
    // buffer per (group, partition) crosses the wire instead of every
    // (group, user) pair; the exact counterpart to events_hll_distinct.
    // 64 Ki bits covers the user domain through sf1 (the sf0.1 bench runs
    // this too — a domain-sized sketch is part of the contract).,
    "events_bitmap_distinct" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new ops.Sketches.BitmapDistinctAgg(65536).toColumn
          .name("n_distinct"))
        .toDF("event_type", "n_distinct")
        .orderBy("event_type")
    }),
    // The composed curation pipeline — the ops are designed to CHAIN:
    // exact dedup (md5 keeper) -> quality gate (length + Gopher word-rep)
    // -> 13-gram decontamination (broadcast eval grams, anti-join) ->
    // per-source token budget (md5-ordered cumsum cap). Four stages,
    // four key-bounded shuffles, one scan of the corpus text.,
    "events_transition" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      t(s, dir, "events")
        .selectExpr("user_id", "unix_micros(cast(ts as timestamp)) AS tus",
          "event_id", "event_type")
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),
    // Sequence packing: concatenate each source's docs in doc_id order and
    // chop into 512-token training sequences — every doc gets (seq_id,
    // offset) of its start; docs straddle boundaries, as GPT-style packing
    // does. One shuffle (window per source), exact integer cumsums.,
    "events_quantiles" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      val nw = Window.partitionBy("event_type")
      def at(p: Double) =
        max(when(col("rn") === floor((col("n") - 1) * lit(p)) + 1, col("value")))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(nw))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"), at(0.5).as("p50"), at(0.9).as("p90"),
          at(0.99).as("p99"))
        .orderBy("event_type")
    }),
    // Robust outlier profile (ops.Quantiles.madOutliers): lower-median +
    // MAD with the |x − med| > 2·MAD Hampel flag, exact integer cents —
    // the 50%-breakdown counterpart of events_welford's mean/stddev z-flag
    // (which outliers drag). Both window sorts share one event_type
    // Exchange.,
    "events_mad" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("iv", floor(col("value") * 100).cast("long"))
      ops.Quantiles.madOutliers(e, "event_type", col("iv"), col("event_id"))
        .orderBy("event_type")
    }),
    // One-pass HISTOGRAM quantiles (ops.Quantiles) — the scale path next to
    // events_quantiles' exact per-group sort: bounded mergeable bin counts
    // ($5 bins on exact cents), cumulative over the tiny bin list, same
    // selection-rank convention. At 100 TB the exact sort dies on a huge
    // group; the histogram's state is the bin count, period.,
    "events_histq" -> ((s, dir) => {
      ops.Quantiles.histogramQuantiles(
          t(s, dir, "events"), "event_type",
          round(col("value") * 100, 0).cast("long"), 500L,
          Seq(0.5, 0.9, 0.99))
        .orderBy("event_type")
    }),
    // HLL-style distinct sketch (ops.Sketches) vs the exact count: the
    // bounded-state distinct path — 32 integer registers per group cross
    // the shuffle instead of every (group, user) pair. Deterministic
    // hash + exact-integer register sum make the estimate oracle-exact.,
    "events_hll_distinct" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sk = ops.Sketches.hllDistinct(e, "event_type", "user_id")
      val exact = e.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      sk.join(exact, "event_type").orderBy("event_type")
    }),
    // KMV bottom-k distinct sketch (ops.Sketches.kmvDistinct): keep the 64
    // smallest distinct hashes per group; the 64th order statistic gives
    // the cardinality estimate (k−1)·2³¹/h_k — tighter than HLL-32
    // (σ≈1/√62) AND the retained set is a deterministic key sample that
    // composes into Jaccard estimates. Two-phase: capped TreeSet fold per
    // partition (≤ k·partitions rows per group cross the shuffle), then a
    // global bottom-k — exact count(distinct) joined alongside as the
    // gate's accuracy witness.,
    "events_kmv_distinct" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sk = ops.Sketches.kmvDistinct(e, "event_type", "user_id", 64)
      val exact = e.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      sk.join(exact, "event_type").orderBy("event_type")
    }),
    // Count-Min heavy hitters (ops.Sketches.cmSketch/cmEstimate): bounded
    // mergeable frequency state — 3×1024 counters cross the shuffle instead
    // of every distinct key — then point estimates (min over rows, an
    // overestimate by construction: cm_est ≥ n_exact on every output row)
    // for the exact top-20 keys, both sides oracle-exact.,
    "events_cm_topk" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sk = ops.Sketches.cmSketch(e, "user_id", 1024)
      val top = e.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(20)
      ops.Sketches.cmEstimate(top, "user_id", sk, 1024)
        .orderBy(col("n_exact").desc, col("user_id"))
    }),
    "events_key_skew" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .groupBy("n").agg(count(lit(1)).as("n_keys"))
        .orderBy("n")
    }),
    // Top event PATHS (3-step behavioural n-grams): the "what do users do
    // next-next" product-analytics staple one step beyond
    // events_transition's Markov pairs. One user-keyed window (two leads),
    // vocabulary-bounded count, global top-10.,
    "events_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        // top-10 via distributed TakeOrdered; rank window over 10 rows
        .orderBy(col("n").desc, col("path")).limit(10)
        .withColumn("rk", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("n"))).orderBy(col("n").desc, col("path"))))
        .orderBy("rk")
    }),
    // Gini concentration of per-key volume — the single-number skew verdict
    // events_key_skew's histogram feeds: G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    // over counts sorted ascending (rank i by count, user_id ties), in
    // exact integers quantized to ppm with ONE integer division. The
    // "does one source dominate the corpus" gate of mixing recipes.,
    "events_gini" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      // per-key rows scale with the data: exact rank i via the
      // range-partitioned two-phase row_number (ops.GlobalRank)
      val ranked = ops.GlobalRank.withRowNumber(counts, "i",
        Seq(col("n"), col("user_id")))
      ranked.agg(count(lit(1)).as("n_keys"), sum("n").as("total"),
          sum(col("i") * col("n")).as("iwsum"))
        .selectExpr("n_keys", "total",
          "((2 * iwsum - (n_keys + 1) * total) * 1000000) div (CAST(n_keys AS BIGINT) * total) AS gini_ppm")
    }),
    // Deterministic train/val/test split — assignment must be a pure
    // function of the row key (reproducible, join-free, engine-independent)
    // never a random() sample. The multiplicative hash keeps the arithmetic
    // in oracle-replicable BIGINT range; a production corpus with unbounded
    // ids would use xxhash64 (engine-internal, same shape).,
    "events_rollup" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("hr", date_trunc("hour", col("ts")))
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .rollup("event_type", "hr")
        .agg(count(lit(1)).as("n"),
          (sum("cents") / lit(100.0)).as("sum_value"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("hr").cast("string"), lit("(all)")).as("hr"),
          col("n"), col("sum_value"))
        .orderBy("event_type", "hr")
    }),
    // Sessionization (gaps-and-islands): per-user sessions split at a
    // 12-hour silence — the batch form of the streaming session-window op
    // (StreamingSpec's mapGroupsWithState covers the incremental form).
    // Gap arithmetic runs on exact integer microseconds (a double timestamp
    // diff would not be oracle-exact); per-session aggregates shuffle once
    // on user_id and the window + groupBy share that partitioning.,
    "events_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 12L * 3600 * 1000000
      t(s, dir, "events")
        // ts is TIMESTAMP_NTZ in the parquet; the cast reads it in the
        // session's UTC zone, so unix_micros equals DuckDB's epoch_us
        .withColumn("tus", expr("unix_micros(cast(ts as timestamp))"))
        .withColumn("prev", lag("tus", 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sess_seq", sum("new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // exact integer cents, same as events_rollup: a raw double sum is
        // accumulation-order dependent and would flake vs the oracle at a
        // round(x, 2) boundary
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .groupBy(col("user_id"), col("sess_seq"))
        .agg(count(lit(1)).as("n_events"),
          min("tus").as("start_us"), max("tus").as("end_us"),
          (sum("cents") / lit(100.0)).as("sum_value"))
        .orderBy("user_id", "sess_seq")
    }),
    // AS-OF join: each purchase annotated with the user's most recent view
    // at-or-before it (exact integer micros). Join-free union+window fill —
    // one shuffle on user_id, linear scan per group; see ops.AsofJoin.,
    "events_asof" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("tus", expr("unix_micros(cast(ts as timestamp))"))
        .select("event_id", "user_id", "tus", "event_type")
      val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
      val views = e.filter(col("event_type") === "view").drop("event_type")
      ops.AsofJoin.asofJoin(purchases, views, Seq("user_id"),
          tsCol = "tus", seqCol = "event_id", payload = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("tus"),
          col("asof_event_id").as("view_event_id"),
          col("asof_tus").as("view_tus"),
          (col("tus") - col("asof_tus")).as("gap_us"))
        .orderBy("event_id")
    }),
    // Semantic dedup (SemDeDup): trained-kmeans clusters bound the candidate
    // space, exact cosine prunes within clusters, smallest-id survivor —
    // over the embedding dedup corpus (base + exact copies + perturbed
    // copies). Cross-cluster dup pairs are missed by design (the published
    // recall trade); the copies land with their originals here because a
    // copy's assignment is bit-identical and the perturbation is tiny.,
    "events_interval_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("ms", expr("unix_millis(cast(ts as timestamp))"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id").as("l_id"), col("ms").as("l_s"),
          (col("ms") + (col("event_id") % 7 + 1) * 60000L).as("l_e"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("r_id"), col("ms").as("r_s"),
          (col("ms") + (col("event_id") % 11 + 1) * 60000L).as("r_e"))
      ops.IntervalJoin.overlapJoin(views, buys, binWidth = 300000L)
        .orderBy("l_id", "r_id")
    }),
  )

  val sql: Map[String, String] = Map(
    // the walk cumsum, floor-bucket deltas per segment,
    "events_conversion_lag" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         v AS (SELECT user_id, min(us) AS v_us FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         lg AS (SELECT e.user_id, CAST(min(e.us) - max(v.v_us) AS BIGINT) AS lag_us
           FROM ev e JOIN v ON v.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.us > v.v_us GROUP BY 1),
         r AS (SELECT lag_us, user_id,
             row_number() OVER (ORDER BY lag_us, user_id) AS rn,
             count(*) OVER () AS n FROM lg)
         SELECT CAST(max(n) AS BIGINT) AS n_converted,
           max(CASE WHEN rn = floor((n-1)*0.25)+1 THEN lag_us END) AS p25_us,
           max(CASE WHEN rn = floor((n-1)*0.5)+1 THEN lag_us END) AS p50_us,
           max(CASE WHEN rn = floor((n-1)*0.75)+1 THEN lag_us END) AS p75_us
         FROM r""",
    "events_funnel" ->
      """WITH r AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
         u AS (SELECT DISTINCT user_id FROM r),
         a AS (SELECT user_id, min(rn) AS p1 FROM r WHERE event_type = 'view' GROUP BY 1),
         b AS (SELECT r.user_id, min(rn) AS p2 FROM r JOIN a USING (user_id)
               WHERE event_type = 'click' AND rn > p1 GROUP BY 1),
         c AS (SELECT r.user_id, min(rn) AS p3 FROM r JOIN b USING (user_id)
               WHERE event_type = 'purchase' AND rn > p2 GROUP BY 1)
         SELECT u.user_id,
           CASE WHEN p3 IS NOT NULL THEN 3 WHEN p2 IS NOT NULL THEN 2
                WHEN p1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage,
           t1.tus AS view_us, t2.tus AS click_us, t3.tus AS purchase_us
         FROM u LEFT JOIN a USING (user_id) LEFT JOIN b USING (user_id)
           LEFT JOIN c USING (user_id)
           LEFT JOIN r t1 ON t1.user_id = u.user_id AND t1.rn = a.p1
           LEFT JOIN r t2 ON t2.user_id = u.user_id AND t2.rn = b.p2
           LEFT JOIN r t3 ON t3.user_id = u.user_id AND t3.rn = c.p3
         ORDER BY u.user_id""",
    "events_wau" ->
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         days AS (SELECT DISTINCT d AS day FROM ev),
         exp AS (SELECT user_id, d + CAST(i AS INT) AS day FROM ev, unnest(range(0, 7)) AS t(i))
         SELECT day, count(DISTINCT user_id) AS wau FROM exp
         WHERE day IN (SELECT day FROM days) GROUP BY 1 ORDER BY 1""",
    "events_retention" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         cohort AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) / 7 AS INT) AS week_offset,
           count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN cohort ON ev.user_id = cohort.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // streaks: gaps-and-islands on distinct epoch days (d − row_number
    // constant along a run),
    "events_survival" ->
      """WITH RECURSIVE d AS (SELECT o_custkey AS user_id,
           epoch_us(o_orderdate) // 86400000000 AS d FROM orders),
         u AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM d GROUP BY 1),
         hz AS (SELECT max(d1) AS h FROM u),
         lv AS (SELECT user_id, d1 - d0 AS lifetime,
             CASE WHEN d1 < (SELECT h FROM hz) - 90 THEN 1 ELSE 0 END AS died FROM u),
         lc AS (SELECT lifetime, count(*) AS n_at FROM lv GROUP BY 1),
         ge AS (SELECT lifetime, CAST(sum(n_at) OVER (ORDER BY lifetime DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge FROM lc),
         dt AS (SELECT lifetime AS t, CAST(count(*) AS BIGINT) AS d_k
           FROM lv WHERE died = 1 GROUP BY 1),
         curve AS (SELECT dt.t, dt.d_k, ge.n_ge AS n_k,
             row_number() OVER (ORDER BY dt.t) AS idx
           FROM dt JOIN ge ON ge.lifetime = dt.t),
         km AS (SELECT idx, t, n_k, d_k,
             (1000000 * (n_k - d_k)) // n_k AS s_ppm FROM curve WHERE idx = 1
           UNION ALL
           SELECT c.idx, c.t, c.n_k, c.d_k, (km.s_ppm * (c.n_k - c.d_k)) // c.n_k
           FROM km JOIN curve c ON c.idx = km.idx + 1)
         SELECT t AS t_day, n_k AS n_risk, d_k AS n_deaths,
           CAST(s_ppm AS BIGINT) AS s_ppm
         FROM km ORDER BY t_day""",
    // the bitmap aggregator is EXACT — the oracle is count(distinct),
    "events_bitmap_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
         FROM events GROUP BY 1 ORDER BY event_type""",
    // same 2-gram stats, same quantized ratio, same instance-sum,
    "events_transition" ->
      """WITH r AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events)
         SELECT prev AS from_type, event_type AS to_type, count(*) AS n
         FROM r WHERE prev IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""",
    "events_quantiles" ->
      """WITH r AS (SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type, max(n) AS n,
           max(CASE WHEN rn = floor((n-1)*0.5)+1 THEN value END) AS p50,
           max(CASE WHEN rn = floor((n-1)*0.9)+1 THEN value END) AS p90,
           max(CASE WHEN rn = floor((n-1)*0.99)+1 THEN value END) AS p99
         FROM r GROUP BY 1 ORDER BY 1""",
    "events_mad" ->
      """WITH b AS (SELECT event_type, CAST(floor(value*100) AS BIGINT) AS iv,
           event_id FROM events),
         m1 AS (SELECT event_type, iv,
           row_number() OVER (PARTITION BY event_type ORDER BY iv, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n FROM b),
         med AS (SELECT event_type, iv AS med FROM m1 WHERE rn = (n+1)//2),
         d AS (SELECT b.event_type, abs(b.iv - med.med) AS dev, b.event_id,
           med.med FROM b JOIN med USING (event_type)),
         m2 AS (SELECT event_type, dev,
           row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n FROM d),
         mad AS (SELECT event_type, dev AS mad FROM m2 WHERE rn = (n+1)//2)
         SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(max(d.med) AS BIGINT) AS med, CAST(max(mad.mad) AS BIGINT) AS mad,
           CAST(sum(CASE WHEN d.dev > 2*mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_out
         FROM d JOIN mad USING (event_type)
         GROUP BY d.event_type ORDER BY d.event_type""",
    "events_histq" ->
      """WITH b AS (SELECT event_type,
             CAST(floor(CAST(round(value*100, 0) AS BIGINT) / 500.0) AS BIGINT) AS bin
           FROM events),
         g AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
         cum AS (SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
           FROM g)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN cum >= floor((n-1)*0.5)+1 THEN bin*500 END) AS p50_lo,
           min(CASE WHEN cum >= floor((n-1)*0.9)+1 THEN bin*500 END) AS p90_lo,
           min(CASE WHEN cum >= floor((n-1)*0.99)+1 THEN bin*500 END) AS p99_lo
         FROM cum GROUP BY event_type ORDER BY event_type""",
    "events_hll_distinct" -> hllDistinctOracleSql,
    // definitional bottom-64: distinct hashes ranked per group, the 64th
    // order statistic finishes the estimate by exact integer division,
    "events_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
           (user_id * 1103515245 + 12345) % 2147483648 AS h FROM events),
         r AS (SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_k,
             CAST(max(h) AS BIGINT) AS kth_hash
           FROM r WHERE rk <= 64 GROUP BY 1)
         SELECT s.event_type, s.n_k, s.kth_hash,
           CASE WHEN s.n_k < 64 THEN s.n_k
                ELSE (CAST(63 AS BIGINT) * 2147483648) // greatest(s.kth_hash, 1) END AS kmv_q,
           e.n_exact
         FROM s JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
                      FROM events GROUP BY 1) e ON s.event_type = e.event_type
         ORDER BY s.event_type""",
    // the streaming sketch drains to the SAME registers -> same estimate,
    "events_cm_topk" ->
      """WITH sk AS (SELECT j, pos, count(*) AS cnt FROM (
           SELECT 0 AS j, ((user_id * 1103515245 + 12345) % 2147483648) % 1024 AS pos FROM events
           UNION ALL SELECT 1, ((user_id * 214013 + 2531011) % 2147483648) % 1024 FROM events
           UNION ALL SELECT 2, ((user_id * 69069 + 1234567) % 2147483648) % 1024 FROM events)
           GROUP BY 1, 2),
         top AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
           ORDER BY n_exact DESC, user_id LIMIT 20),
         tp AS (SELECT user_id, n_exact, 0 AS j, ((user_id * 1103515245 + 12345) % 2147483648) % 1024 AS pos FROM top
           UNION ALL SELECT user_id, n_exact, 1, ((user_id * 214013 + 2531011) % 2147483648) % 1024 FROM top
           UNION ALL SELECT user_id, n_exact, 2, ((user_id * 69069 + 1234567) % 2147483648) % 1024 FROM top)
         SELECT tp.user_id, tp.n_exact, min(cnt) AS cm_est
         FROM tp JOIN sk ON tp.j = sk.j AND tp.pos = sk.pos
         GROUP BY 1, 2 ORDER BY n_exact DESC, user_id""",
    "events_key_skew" ->
      """WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
         SELECT n, count(*) AS n_keys FROM per GROUP BY n ORDER BY n""",
    // Gini over ascending-ranked counts; all-integer, one // at the end,
    "events_trigrams" ->
      """WITH s AS (SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path FROM s
           WHERE e3 IS NOT NULL),
         c AS (SELECT path, count(*) AS n FROM p GROUP BY 1),
         r AS (SELECT *, CAST(row_number() OVER (ORDER BY n DESC, path) AS INT) AS rk FROM c)
         SELECT path, CAST(n AS BIGINT) AS n, rk FROM r WHERE rk <= 10
         ORDER BY rk""",
    // χ² numerator Σ(7O−T)² stays integer; one // to ppm,
    "events_gini" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         r AS (SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(i * n) AS BIGINT) AS iwsum FROM r)
         SELECT n_keys, total,
           ((2 * iwsum - (n_keys + 1) * total) * 1000000) // (n_keys * total) AS gini_ppm
         FROM a""",
    // same split, same bigram windows, same integer lift quantization; the
    // oracle's // is floor division on positives exactly like Spark's div,
    "events_rollup" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
           CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
         SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(CAST(hr AS VARCHAR), '(all)') AS hr,
           count(*) AS n, CAST(sum(cents) AS BIGINT) / 100.0 AS sum_value
         FROM h GROUP BY ROLLUP(event_type, hr)
         ORDER BY 1, 2""",
    "events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
         m AS (SELECT *, CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
                    OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 43200000000
                  THEN 1 ELSE 0 END AS new_sess FROM e),
         s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq FROM m)
         SELECT user_id, sess_seq, count(*) AS n_events,
           min(tus) AS start_us, max(tus) AS end_us,
           CAST(sum(cents) AS BIGINT) / 100.0 AS sum_value
         FROM s GROUP BY 1, 2 ORDER BY user_id, sess_seq""",
    // same union+window formulation as ops.AsofJoin: right (view) rows sort
    // before left (purchase) rows at an equal timestamp => inclusive match,
    "events_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events),
         u AS (SELECT user_id, tus, event_id, 0 AS side, event_id AS r_id FROM e WHERE event_type = 'view'
               UNION ALL
               SELECT user_id, tus, event_id, 1 AS side, NULL AS r_id FROM e WHERE event_type = 'purchase'),
         w AS (SELECT *,
             last_value(r_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_event_id,
             last_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_tus
           FROM u)
         SELECT event_id, user_id, tus, view_event_id, view_tus,
           tus - view_tus AS gap_us
         FROM w WHERE side = 1 ORDER BY event_id""",
    "events_interval_join" -> intervalJoinOracleSql,
  )
}
