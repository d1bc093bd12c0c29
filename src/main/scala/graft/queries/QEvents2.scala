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

/** Event-analytics gates: funnels, retention, quantiles, sketches,
  * sessions, as-of join (12 entries),
  * each with its DuckDB oracle SQL.
  */
object QEvents2 {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Funnel analysis: view -> click -> purchase as a per-user state machine
    // folded over the (ts, event_id)-ordered event sequence with the
    // codegen'd higher-order `aggregate` — ONE shuffle (groupBy user_id), no
    // self-joins. Per-user sequences are memory-bounded (events/user, not
    // events/table); a pathological single-user firehose would move to
    // repartition + sortWithinPartitions + mapPartitions streaming fold.
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
    // observed activity days only (semi-join).
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
    // user->cohort map rides the same shuffle as a join on user_id.
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
    // Event-type transition counts: the Markov matrix of consecutive
    // per-user events — one window shuffle, integer counts.
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
    // Exact per-type quantiles (p50/p90/p99) by selection rank
    // floor((n−1)p)+1 over the (value, event_id) total order.
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
    // One-pass HISTOGRAM quantiles (ops.Quantiles) — the scale path next to
    // events_quantiles' exact per-group sort: bounded mergeable bin counts
    // ($5 bins on exact cents), cumulative over the tiny bin list, same
    // selection-rank convention. At 100 TB the exact sort dies on a huge
    // group; the histogram's state is the bin count, period.
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
    // hash + exact-integer register sum make the estimate oracle-exact.
    "events_hll_distinct" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sk = ops.Sketches.hllDistinct(e, "event_type", "user_id")
      val exact = e.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      sk.join(exact, "event_type").orderBy("event_type")
    }),
    // Count-Min heavy hitters (ops.Sketches.cmSketch/cmEstimate): bounded
    // mergeable frequency state — 3×1024 counters cross the shuffle instead
    // of every distinct key — then point estimates (min over rows, an
    // overestimate by construction: cm_est ≥ n_exact on every output row)
    // for the exact top-20 keys, both sides oracle-exact.
    "events_cm_topk" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sk = ops.Sketches.cmSketch(e, "user_id", 1024)
      val top = e.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(20)
      ops.Sketches.cmEstimate(top, "user_id", sk, 1024)
        .orderBy(col("n_exact").desc, col("user_id"))
    }),
    // Key-skew profile (count-of-counts): per-key cardinality histogram —
    // the diagnostic that sizes salting / AQE-skew decisions before a big
    // join or agg. Two mergeable aggregations; the second's input is bounded
    // by the number of DISTINCT per-key counts, so the profile of a 100 TB
    // table is a few hundred rows.
    "events_key_skew" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .groupBy("n").agg(count(lit(1)).as("n_keys"))
        .orderBy("n")
    }),
    // ROLLUP over (event_type, hour): per-level counts and exact integer
    // cents in one expand-and-aggregate pass.
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
    // on user_id and the window + groupBy share that partitioning.
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
    // one shuffle on user_id, linear scan per group; see ops.AsofJoin.
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
  )

  val sql: Map[String, String] = Map(
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
    // replicates ops.Sketches.hllDistinct step for step: same congruential
    // hash, same lsb-CASE rank, same exact-integer register sum over the
    // 2^40 denominator, same single IEEE division at the end
    "events_hll_distinct" -> hllDistinctOracleSql,
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
    // before left (purchase) rows at an equal timestamp => inclusive match
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
  )
}
