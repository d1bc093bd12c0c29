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

/** Trajectory gates: distances, map-matching, mobility measures
  * (24 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QTraj {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "traj_geofence" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_id AS tie",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      val fences = Seq(
        (1L, Seq(-119.7, -120.0, -119.4), Seq(36.25, 35.75, 35.75)),
        (2L, Seq(-119.0, -119.3, -118.7), Seq(36.35, 35.85, 35.85)))
        .toDF("fence_id", "xs", "ys")
      ops.Trajectory.geofence(pts, fences)
        .orderBy("traj_id", "fence_id", "tie")
    }),
    // Per-(trajectory, fence) dwell (ops.Trajectory.fenceDwell): exact µs
    // inside each fence by left-continuous interval attribution + visit
    // counts — same walk and fences as traj_geofence, sparse pair output.,
    "traj_fence_dwell" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_id AS tie",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      val fences = Seq(
        (1L, Seq(-119.7, -120.0, -119.4), Seq(36.25, 35.75, 35.75)),
        (2L, Seq(-119.0, -119.3, -118.7), Seq(36.35, 35.85, 35.85)))
        .toDF("fence_id", "xs", "ys")
      ops.Trajectory.fenceDwell(pts, fences)
        .orderBy("traj_id", "fence_id")
    }),
    // Home/work anchor cells (ops.Trajectory.anchors): modal 0.005° cell
    // per (trajectory, hour-regime) — night fixes vote "home", business
    // hours vote "work"; counts aggregate before the top-1 window ranks.,
    "traj_anchors" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id", "hour(CAST(ts AS TIMESTAMP)) AS hour",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      ops.Trajectory.anchors(pts)
        .orderBy("traj_id", "regime")
    }),
    // Implausible-speed flagging (ops.Trajectory.speedFlags): the GPS
    // cleaning pass — exact integer µdeg/s per fix pair, teleports planted
    // every 101st event jump the walk by 5 degrees.,
    "traj_speed" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_id AS tie",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      ops.Trajectory.speedFlags(pts, maxSpeedQ = 100L)
        .orderBy("traj_id", "tie")
    }),
    // Acceleration profile + harsh-event audit (ops.Trajectory.accelFlags):
    // the derivative above traj_speed — per consecutive segment pair
    // (speed_q − prev)·10⁶ DIV dt_us (trunc-div matches on negatives, so
    // braking rows replay exactly), harsh counts both directions, one
    // rollup row per trajectory on the same single traj_id window.,
    "traj_accel" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_id AS tie",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      ops.Trajectory.accelFlags(pts, harshQ = 50L)
        .orderBy("traj_id")
    }),
    // Regular-grid gap filling (ops.AsofJoin.gapFill): one row per type per
    // hour across its observed span, forward-filled — the normalization
    // pass that makes ROWS-frame analytics honest on sparse series. The
    // user subset sparsifies the hourly buckets so real gaps exist.,
    "traj_pipeline" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_id AS tie",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      ops.Trajectory.cleanPipeline(pts, maxSpeedQ = 100L,
          stepUs = 21600000000L)
        .orderBy("o_cell", "d_cell")
    }),
    // Fixed-interval time resampling (ops.Trajectory.resample): positions
    // at 6h epoch-aligned ticks lerped between fixes, exact micro-degree /
    // micro-second integer arithmetic — the normalization pass before
    // same-instant trajectory analytics.,
    "traj_resample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("pxc", sum("dx").over(w))
        .withColumn("pyc", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_id AS tie",
          "-120.0D + pxc / 1000.0D AS lng", "36.0D + pyc / 1000.0D AS lat")
      ops.Trajectory.resample(pts, 21600000000L)
        .orderBy("traj_id", "tick_us")
    }),
    // Contact-graph join: distinct trajectory pairs sharing a (cell, day)
    // observation bucket — bucketed self-join, never all-pairs.,
    "traj_colocation" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .selectExpr("user_id AS traj_id",
          "(px DIV 6) * 1000000 + (py DIV 4) AS cell",
          "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 AS tb")
      ops.Trajectory.colocation(pts).orderBy("t1", "t2")
    }),
    // Convoy / co-travel detection (ops.Trajectory.convoy): pairs sharing a
    // cell in ≥3 CONSECUTIVE day buckets. Users ride 10 deterministic
    // "routes" (cell = route's moving position per day) with per-user
    // dropout days ((traj_id + tb) % 5 = 0), so pair runs genuinely
    // fragment and only some reach the threshold — gaps-and-islands over
    // the bucketed contact join.,
    "traj_convoy" -> ((s, dir) => {
      val pts = t(s, dir, "events")
        .selectExpr("user_id AS traj_id",
          "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 AS tb")
        .distinct()
        .filter(expr("(traj_id + tb) % 5 != 0"))
        .withColumn("cell", expr("(traj_id % 10) * 1000 + tb % 7"))
      ops.Trajectory.convoy(pts, minLen = 3)
        .orderBy("t1", "t2", "start_tb")
    }),
    // Symmetric discrete Hausdorff over candidate trajectory pairs
    // (ops.Trajectory.hausdorff): the track-similarity refine after
    // cell-level colocation — exact integer squared distances, the
    // quadratic expansion confined to the candidate pairs (here the
    // labeled bounded all-pairs of a 12-track subset, the gate's stand-in
    // for colocation output).,
    "traj_hausdorff" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .filter(col("user_id") < 12)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .select(col("user_id").as("traj_id"), col("px"), col("py"))
      val ids = pts.select("traj_id").distinct()
      val pairs = ids.select(col("traj_id").as("t1"))
        .join(ids.select(col("traj_id").as("t2")), col("t1") < col("t2"))
      ops.Trajectory.hausdorff(pts, pairs).orderBy("t1", "t2")
    }),
    // Discrete Fréchet distance (ops.Trajectory.frechet): the order-aware
    // coupling DP over 20 six-vertex closed-form walks, all 190 ordered
    // pairs. Oracle unrolls the DP as one CTE per anti-diagonal (11
    // levels), LEFT-joining the two predecessor diagonals with MaxValue
    // coalesce at the lattice borders.,
    "traj_frechet" -> ((s, dir) => {
      val trajs = t(s, dir, "supplier")
        .selectExpr("s_suppkey % 20 AS traj_id").distinct()
      val pts = trajs
        .select(col("traj_id"), explode(expr("sequence(0, 5)")).as("seq"))
        .selectExpr("traj_id", "seq",
          "(traj_id * 7 + seq * (traj_id % 5 + 1) * 3) % 40 AS px",
          "(traj_id * 11 + seq * (traj_id % 3 + 2) * 2) % 40 AS py")
      val pairs = trajs.select(col("traj_id").as("t1"))
        .join(trajs.select(col("traj_id").as("t2")), col("t1") < col("t2"))
      ops.Trajectory.frechet(pts, pairs).orderBy("t1", "t2")
    }),
    // LCSS trajectory similarity (ops.Trajectory.lcss): tolerance-gated
    // longest common subsequence over the same pair lattice — the
    // outlier-robust member of the frechet/hausdorff family; identical
    // anti-diagonal oracle with COALESCE-0 borders.,
    "traj_lcss" -> ((s, dir) => {
      val trajs = t(s, dir, "supplier")
        .selectExpr("s_suppkey % 20 AS traj_id").distinct()
      val pts = trajs
        .select(col("traj_id"), explode(expr("sequence(0, 5)")).as("seq"))
        .selectExpr("traj_id", "seq",
          "(traj_id * 7 + seq * (traj_id % 5 + 1) * 3) % 40 AS px",
          "(traj_id * 11 + seq * (traj_id % 3 + 2) * 2) % 40 AS py")
      val pairs = trajs.select(col("traj_id").as("t1"))
        .join(trajs.select(col("traj_id").as("t2")), col("t1") < col("t2"))
      ops.Trajectory.lcss(pts, pairs, eps2 = 64L).orderBy("t1", "t2")
    }),
    // DTW (ops.Trajectory.dtw): summed-cost elastic alignment — the third
    // member of the frechet/lcss similarity trio on the same pair
    // lattice; identical anti-diagonal oracle with + for the combine.,
    "traj_dtw" -> ((s, dir) => {
      val trajs = t(s, dir, "supplier")
        .selectExpr("s_suppkey % 20 AS traj_id").distinct()
      val pts = trajs
        .select(col("traj_id"), explode(expr("sequence(0, 5)")).as("seq"))
        .selectExpr("traj_id", "seq",
          "(traj_id * 7 + seq * (traj_id % 5 + 1) * 3) % 40 AS px",
          "(traj_id * 11 + seq * (traj_id % 3 + 2) * 2) % 40 AS py")
      val pairs = trajs.select(col("traj_id").as("t1"))
        .join(trajs.select(col("traj_id").as("t2")), col("t1") < col("t2"))
      ops.Trajectory.dtw(pts, pairs).orderBy("t1", "t2")
    }),
    // Viterbi map-matching (ops.Trajectory.mapMatch): the first 6 fixes of
    // each of 12 event-derived walks snapped to a 5×5 road-node grid under
    // emission d² + transition 3·manhattan — the HMM decoder that keeps a
    // noisy fix from jumping roads. The full DP cost table is the output,
    // so the oracle replays the recurrence one CTE per step with a
    // correlated min over the previous column.,
    "traj_mapmatch" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .filter(col("user_id") < 12)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .withColumn("seq", row_number().over(w) - 1)
        .filter(col("seq") < 6)
        .select(col("user_id").as("traj_id"), col("seq"), col("px"),
          col("py"))
      val nodes = for { i <- 0L until 5L; j <- 0L until 5L }
        yield (i * 5 + j, j * 20, i * 20)
      ops.Trajectory.mapMatch(pts, nodes, tw = 3L)
        .orderBy("traj_id", "step", "node_id")
    }),
    // Chaikin corner-cutting (the classic polyline smoother, public): each
    // segment (p, q) is replaced by Q = (3p+q)/4 and R = (p+3q)/4,
    // endpoints kept; 2 rounds. Coordinates AND the ordering key scale ×4
    // per round (Q at 3·s_p + s_q etc.), so everything stays exact 64-bit
    // integers — final coords are 16× the true values. One traj-keyed
    // window per round.,
    "traj_dwell" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .selectExpr("user_id AS traj_id", "ts", "event_id AS tie",
          "(px DIV 6) * 1000000 + (py DIV 4) AS cell")
      ops.Trajectory.dwellRuns(pts, minRun = 4)
        .orderBy("traj_id", "ts_start", "cell")
    }),
    // Origin–destination matrix over the same random-walk trajectories:
    // first→last cell per user, counted per (o, d) pair. One window shuffle
    // keyed by trajectory, then the flow rollup.,
    "traj_od_matrix" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .selectExpr("user_id AS traj_id", "ts", "event_id AS tie",
          "(px DIV 6) * 1000000 + (py DIV 4) AS cell")
      ops.Trajectory.odMatrix(pts).orderBy("o_cell", "d_cell")
    }),
    // RFM quintile scoring: recency (days since last event vs the corpus
    // max), frequency, monetary (exact cents) per user, each cut into
    // NTILE(5) with a deterministic (metric, user_id) order — the
    // customer-value segmentation staple. Events aggregate ONCE per user;
    // the ntile windows rank the already-aggregated user rows (bounded by
    // |users|, never by events).,
    "traj_corridor" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .selectExpr("user_id AS traj_id", "event_id AS seq", "px", "py")
      ops.Trajectory.corridorAudit(pts, corridorSegs, r = 40L)
        .orderBy("traj_id")
    }),
    // Emerging-hotspot trend: Mann–Kendall S per spatial cell over its
    // daily visit counts (sign-of-pair-difference sums — pure comparisons,
    // no arithmetic on magnitudes) + the tie-correction term Σt(t−1)(2t+5)
    // the consumer's variance needs. The TEMPORAL layer over
    // geo_cell_density's static counts; pair join key-bounded per cell
    // (≤ 30 days here). Single-day cells drop (no pairs) in both engines.,
    "traj_elevation_exposure" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .withColumn("lng", expr("-120 + ((px % 600) + 0.5D) / 600.0D"))
        .withColumn("lat", expr("36 + ((py % 600) + 0.5D) / 600.0D"))
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      pts.withColumn("elev",
          ops.ElevAt.elev_at_nearest(col("lng"), col("lat"), bc))
        .groupBy(col("user_id").as("traj_id"))
        .agg(count(lit(1)).as("n_fixes"),
          sum(expr("CAST(elev AS BIGINT)")).as("sum_elev"),
          sum(when(col("elev") >= 3600.0, 1L).otherwise(0L)).as("n_high"),
          max(expr("CAST(elev AS BIGINT)")).as("max_elev"))
        .orderBy("traj_id")
    }),
    // Simpson concentration of event types per user: exact collision
    // probability Σnₜ(nₜ−1)/(n(n−1)) in ppm — one-type users score 10⁶,
    // balanced explorers near 200k; the behavioral-diversity read.,
    "traj_metric_agreement" -> ((s, dir) => {
      val trajs = t(s, dir, "supplier")
        .selectExpr("s_suppkey % 20 AS traj_id").distinct()
      val pts = trajs
        .select(col("traj_id"), explode(expr("sequence(0, 5)")).as("seq"))
        .selectExpr("traj_id", "seq",
          "(traj_id * 7 + seq * (traj_id % 5 + 1) * 3) % 40 AS px",
          "(traj_id * 11 + seq * (traj_id % 3 + 2) * 2) % 40 AS py")
      val pairs = trajs.select(col("traj_id").as("t1"))
        .join(trajs.select(col("traj_id").as("t2")), col("t1") < col("t2"))
      val d = ops.Trajectory.dtw(pts, pairs)
        .select(col("t1"), col("t2"), col("dtw_d2"))
      val f = ops.Trajectory.frechet(pts, pairs)
        .select(col("t1"), col("t2"), col("frechet_d2"))
      val m = d.join(f, Seq("t1", "t2"))
        .withColumn("pid", expr("t1 * 100 + t2"))
      m.as("x").join(m.as("y"), col("x.pid") < col("y.pid"))
        .withColumn("sd", expr(
          "CASE WHEN x.dtw_d2 = y.dtw_d2 OR x.frechet_d2 = y.frechet_d2 " +
            "THEN 0 WHEN (x.dtw_d2 < y.dtw_d2) = " +
            "(x.frechet_d2 < y.frechet_d2) THEN 1 ELSE -1 END"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sd") === 1, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("sd") === -1, 1L).otherwise(0L)).as("discordant"))
        .withColumn("tau_milli", expr(
          "(concordant - discordant) * 1000 DIV (concordant + discordant)"))
    }),
    // Daily-count anomalies by median/MAD: per type the nearest-rank
    // median daily count, the MAD, and days beyond median ± 3·MAD — the
    // robust daily-volume alarm.,
    "traj_bbox_iou" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val bb = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .groupBy(col("user_id"))
        .agg(min("px").as("x0"), max("px").as("x1"),
          min("py").as("y0"), max("py").as("y1"))
      bb.as("a").join(bb.as("b"), col("a.user_id") < col("b.user_id"))
        .withColumn("ix", expr(
          "greatest(0, least(a.x1, b.x1) - greatest(a.x0, b.x0))"))
        .withColumn("iy", expr(
          "greatest(0, least(a.y1, b.y1) - greatest(a.y0, b.y0))"))
        .withColumn("inter", expr("ix * iy"))
        .withColumn("uni", expr(
          "(a.x1 - a.x0) * (a.y1 - a.y0) + " +
            "(b.x1 - b.x0) * (b.y1 - b.y0) - ix * iy"))
        .filter(col("uni") > 0)
        .withColumn("iou_ppm", expr("inter * 1000000 DIV uni"))
        .select(col("a.user_id").as("traj_a"),
          col("b.user_id").as("traj_b"), col("inter"), col("uni"),
          col("iou_ppm"))
        // top-20 via distributed TakeOrdered first; the rank window then
        // runs over a provably-20-row frame
        .orderBy(col("iou_ppm").desc, col("traj_a"), col("traj_b")).limit(20)
        .withColumn("rk", row_number().over(Window
          .partitionBy(ops.GlobalRank.boundedPartitionKey(col("iou_ppm")))
          .orderBy(col("iou_ppm").desc, col("traj_a"), col("traj_b"))).cast("int"))
        .orderBy("rk")
    }),
    // Leave-one-out IDW cross-validation: each station predicted from its
    // radius neighbors with integer-quantized inverse-square weights
    // (w = 10⁹ DIV max(d², 1) — exact in both engines), milli-floored
    // prediction vs actual — the interpolation-error read geo_idw itself
    // can't give. Stations broadcast; stations with no in-radius neighbor
    // drop (both engines).,
    "traj_od_independence" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .selectExpr("user_id AS traj_id", "ts", "event_id AS tie",
          "(px DIV 6) * 1000000 + (py DIV 4) AS cell")
      val flows = ops.Trajectory.odMatrix(pts)
      val rt = flows.groupBy("o_cell").agg(sum("n_traj").as("r"))
      val ct = flows.groupBy("d_cell").agg(sum("n_traj").as("cc"))
      val g = flows.agg(sum("n_traj").as("gt"))
      flows.join(rt, Seq("o_cell")).join(ct, Seq("d_cell"))
        .crossJoin(broadcast(g))
        .withColumn("emp_ppm", expr("1000000 * n_traj DIV gt"))
        .withColumn("exp_ppm", expr("1000000 * r * cc DIV (gt * gt)"))
        .withColumn("dev_ppm", expr("abs(emp_ppm - exp_ppm)"))
        .select("o_cell", "d_cell", "n_traj", "emp_ppm", "exp_ppm", "dev_ppm")
        .orderBy("o_cell", "d_cell")
    }),
    "traj_flow_communities" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .selectExpr("user_id AS traj_id", "ts", "event_id AS tie",
          "(px DIV 6) * 1000000 + (py DIV 4) AS cell")
      val flows = ops.Trajectory.odMatrix(pts)
      ops.Graph.labelPropagate(
          flows.select(col("o_cell").as("src"), col("d_cell").as("dst")),
          rounds = 3)
        .groupBy("lbl").agg(count(lit(1)).as("n_cells"))
        .orderBy("lbl")
    }),
    // Peaks-over-threshold excess pieces: nearest-rank p90 daily
    // threshold per type, exceedance count and excess moments — the
    // method-of-moments inputs of a GPD tail fit, exact.,
    "traj_follow_detect" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 7).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
        .withColumn("step", row_number().over(w).cast("long"))
        .selectExpr("user_id", "step",
          "(px DIV 6) * 1000000 + (py DIV 4) AS cell")
      pts.selectExpr("user_id AS a", "step + 2 AS step", "cell")
        .join(pts.selectExpr("user_id AS b", "step", "cell"),
          Seq("step", "cell"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_follow"))
        // top-10 via distributed TakeOrdered first; the rank window then
        // runs over a provably-10-row frame
        .orderBy(col("n_follow").desc, col("a").asc, col("b").asc).limit(10)
        .withColumn("rk", row_number().over(Window
          .partitionBy(ops.GlobalRank.boundedPartitionKey(col("n_follow")))
          .orderBy(col("n_follow").desc, col("a").asc, col("b").asc)))
        .select("rk", "a", "b", "n_follow")
        .orderBy("rk")
    }),
    // Correlated-subquery surface: orders beating their own customer's
    // average, exact cents cross-multiplied (no float average formed).,
    "traj_edr" -> ((s, dir) => {
      val trajs = t(s, dir, "supplier")
        .selectExpr("s_suppkey % 20 AS traj_id").distinct()
      val pts = trajs
        .select(col("traj_id"), explode(expr("sequence(0, 5)")).as("seq"))
        .selectExpr("traj_id", "seq",
          "(traj_id * 7 + seq * (traj_id % 5 + 1) * 3) % 40 AS px",
          "(traj_id * 11 + seq * (traj_id % 3 + 2) * 2) % 40 AS py")
      val pairs = trajs.select(col("traj_id").as("t1"))
        .join(trajs.select(col("traj_id").as("t2")), col("t1") < col("t2"))
      ops.Trajectory.edr(pts, pairs, eps2 = 25L).orderBy("t1", "t2")
    }),
    // Quantization-level usage: distinct sample values, 256-level
    // utilization and the Simpson concentration of the level histogram —
    // the bit-depth health check (re-quantized or clipped audio shows a
    // collapsed level set).
  )

  val sql: Map[String, String] = Map(
    "traj_geofence" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS tie, ts_us,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         p AS (SELECT traj_id, tie, ts_us,
           -120.0 + pxc / 1000.0 AS lng, 36.0 + pyc / 1000.0 AS lat FROM c),
         f(fence_id, x1, y1, x2, y2, x3, y3) AS (VALUES
           (CAST(1 AS BIGINT), -119.7, 36.25, -120.0, 35.75, -119.4, 35.75),
           (CAST(2 AS BIGINT), -119.0, 36.35, -119.3, 35.85, -118.7, 35.85)),
         m AS (SELECT traj_id, fence_id, tie, ts_us,
           CASE WHEN ((CASE WHEN (y1 > lat) <> (y3 > lat) AND lng < (x3 - x1) * (lat - y1) / (y3 - y1) + x1 THEN 1 ELSE 0 END)
             + (CASE WHEN (y2 > lat) <> (y1 > lat) AND lng < (x1 - x2) * (lat - y2) / (y1 - y2) + x2 THEN 1 ELSE 0 END)
             + (CASE WHEN (y3 > lat) <> (y2 > lat) AND lng < (x2 - x3) * (lat - y3) / (y2 - y3) + x3 THEN 1 ELSE 0 END)) % 2 = 1
             THEN 1 ELSE 0 END AS inside
           FROM p, f),
         d AS (SELECT traj_id, fence_id, tie, ts_us, inside,
           lag(inside) OVER (PARTITION BY traj_id, fence_id ORDER BY ts_us, tie) AS prev FROM m)
         SELECT traj_id, fence_id, tie, ts_us,
           CASE WHEN inside = 1 THEN 'enter' ELSE 'exit' END AS event
         FROM d WHERE prev IS NOT NULL AND prev <> inside
         ORDER BY traj_id, fence_id, tie""",
    // fence dwell: same membership chain, lead-interval attribution,
    // first-fix-inside counts as a visit,
    "traj_fence_dwell" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS tie, ts_us,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         p AS (SELECT traj_id, tie, ts_us,
           -120.0 + pxc / 1000.0 AS lng, 36.0 + pyc / 1000.0 AS lat FROM c),
         f(fence_id, x1, y1, x2, y2, x3, y3) AS (VALUES
           (CAST(1 AS BIGINT), -119.7, 36.25, -120.0, 35.75, -119.4, 35.75),
           (CAST(2 AS BIGINT), -119.0, 36.35, -119.3, 35.85, -118.7, 35.85)),
         m AS (SELECT traj_id, fence_id, tie, ts_us,
           CASE WHEN ((CASE WHEN (y1 > lat) <> (y3 > lat) AND lng < (x3 - x1) * (lat - y1) / (y3 - y1) + x1 THEN 1 ELSE 0 END)
             + (CASE WHEN (y2 > lat) <> (y1 > lat) AND lng < (x1 - x2) * (lat - y2) / (y1 - y2) + x2 THEN 1 ELSE 0 END)
             + (CASE WHEN (y3 > lat) <> (y2 > lat) AND lng < (x2 - x3) * (lat - y3) / (y2 - y3) + x3 THEN 1 ELSE 0 END)) % 2 = 1
             THEN 1 ELSE 0 END AS inside
           FROM p, f),
         d AS (SELECT traj_id, fence_id, ts_us, inside,
           lag(inside) OVER w2 AS prev,
           coalesce(lead(ts_us) OVER w2 - ts_us, 0) AS dt_us
           FROM m WINDOW w2 AS (PARTITION BY traj_id, fence_id ORDER BY ts_us, tie)),
         g AS (SELECT traj_id, fence_id,
           CAST(sum(inside) AS BIGINT) AS n_inside,
           CAST(sum(CASE WHEN inside = 1 AND (prev IS NULL OR prev = 0) THEN 1 ELSE 0 END) AS BIGINT) AS visits,
           CAST(sum(CASE WHEN inside = 1 THEN dt_us ELSE 0 END) AS BIGINT) AS dwell_us
           FROM d GROUP BY 1, 2)
         SELECT traj_id, fence_id, n_inside, visits, dwell_us
         FROM g WHERE n_inside > 0 ORDER BY traj_id, fence_id""",
    "traj_anchors" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, hour(ts) AS hr,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, hr,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         p AS (SELECT traj_id,
           CASE WHEN hr < 6 THEN 'home'
                WHEN hr >= 9 AND hr < 17 THEN 'work' END AS regime,
           CAST(floor((-120.0 + pxc / 1000.0) * 200.0) AS BIGINT) AS cell_x,
           CAST(floor((36.0 + pyc / 1000.0) * 200.0) AS BIGINT) AS cell_y
           FROM c),
         g AS (SELECT traj_id, regime, cell_x, cell_y,
           CAST(count(*) AS BIGINT) AS n_fixes
           FROM p WHERE regime IS NOT NULL GROUP BY 1, 2, 3, 4),
         r AS (SELECT *, row_number() OVER (PARTITION BY traj_id, regime
             ORDER BY n_fixes DESC, cell_x, cell_y) AS rn FROM g)
         SELECT traj_id, regime, cell_x, cell_y, n_fixes
         FROM r WHERE rn = 1 ORDER BY traj_id, regime""",
    // geofence: same synthetic walk as traj_speed, same per-edge ray-cast
    // fragment as geo_pip (edge (i, i−1) wrapping), lag keeps the flips,
    "traj_speed" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS tie, ts_us,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         q AS (SELECT traj_id, ts_us, tie,
           CAST(floor((-120.0 + pxc / 1000.0) * 1000000.0) AS BIGINT) AS xq,
           CAST(floor((36.0 + pyc / 1000.0) * 1000000.0) AS BIGINT) AS yq FROM c),
         d AS (SELECT traj_id, tie, ts_us, xq, yq,
           lag(ts_us) OVER w2 AS pts, lag(xq) OVER w2 AS px,
           lag(yq) OVER w2 AS py
           FROM q WINDOW w2 AS (PARTITION BY traj_id ORDER BY ts_us, tie)),
         e AS (SELECT traj_id, tie, pts,
           coalesce(CAST(floor(sqrt(CAST((xq-px)*(xq-px) + (yq-py)*(yq-py) AS DOUBLE))) AS BIGINT), 0) AS dist_q,
           coalesce(ts_us - pts, 0) AS dt_us FROM d),
         g AS (SELECT traj_id, tie, pts, dist_q, dt_us,
           CASE WHEN pts IS NULL THEN 0
                WHEN dt_us = 0 AND dist_q = 0 THEN 0
                WHEN dt_us = 0 THEN -1
                ELSE (dist_q * 1000000) // dt_us END AS speed_q FROM e)
         SELECT traj_id, tie, dist_q, dt_us, speed_q,
           (pts IS NOT NULL AND (speed_q = -1 OR speed_q > 100)) AS flagged
         FROM g ORDER BY traj_id, tie""",
    // the traj_speed chain plus one more lag; trunc-div matches DIV on
    // negative (braking) numerators,
    "traj_accel" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS tie, ts_us,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         q AS (SELECT traj_id, ts_us, tie,
           CAST(floor((-120.0 + pxc / 1000.0) * 1000000.0) AS BIGINT) AS xq,
           CAST(floor((36.0 + pyc / 1000.0) * 1000000.0) AS BIGINT) AS yq FROM c),
         d AS (SELECT traj_id, tie, ts_us, xq, yq,
           lag(ts_us) OVER w2 AS pts, lag(xq) OVER w2 AS px,
           lag(yq) OVER w2 AS py
           FROM q WINDOW w2 AS (PARTITION BY traj_id ORDER BY ts_us, tie)),
         e AS (SELECT traj_id, tie, ts_us, pts,
           coalesce(CAST(floor(sqrt(CAST((xq-px)*(xq-px) + (yq-py)*(yq-py) AS DOUBLE))) AS BIGINT), 0) AS dist_q,
           coalesce(ts_us - pts, 0) AS dt_us FROM d),
         g AS (SELECT traj_id, tie, ts_us, dt_us,
           CASE WHEN pts IS NULL THEN 0
                WHEN dt_us = 0 AND dist_q = 0 THEN 0
                WHEN dt_us = 0 THEN -1
                ELSE (dist_q * 1000000) // dt_us END AS speed_q FROM e),
         h AS (SELECT traj_id, dt_us, speed_q,
           lag(speed_q) OVER w3 AS prev_sq, row_number() OVER w3 AS rn
           FROM g WINDOW w3 AS (PARTITION BY traj_id ORDER BY ts_us, tie)),
         i AS (SELECT traj_id, ((speed_q - prev_sq) * 1000000) // dt_us AS accel_q
           FROM h WHERE prev_sq IS NOT NULL AND prev_sq <> -1
             AND speed_q <> -1 AND dt_us > 0 AND rn > 2)
         SELECT traj_id, CAST(count(*) AS BIGINT) AS n_acc,
           CAST(sum(CASE WHEN accel_q <= -50 THEN 1 ELSE 0 END) AS BIGINT) AS n_harsh_brake,
           CAST(sum(CASE WHEN accel_q >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_harsh_accel,
           CAST(min(accel_q) AS BIGINT) AS min_accel_q,
           CAST(max(accel_q) AS BIGINT) AS max_accel_q
         FROM i GROUP BY 1 ORDER BY traj_id""",
    "traj_pipeline" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS tie, ts_us,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         q AS (SELECT traj_id, ts_us, tie,
           CAST(floor((-120.0 + pxc / 1000.0) * 1000000.0) AS BIGINT) AS xq,
           CAST(floor((36.0 + pyc / 1000.0) * 1000000.0) AS BIGINT) AS yq FROM c),
         d AS (SELECT traj_id, tie, ts_us, xq, yq,
           lag(ts_us) OVER w2 AS pts, lag(xq) OVER w2 AS px,
           lag(yq) OVER w2 AS py
           FROM q WINDOW w2 AS (PARTITION BY traj_id ORDER BY ts_us, tie)),
         e AS (SELECT traj_id, tie, pts,
           coalesce(CAST(floor(sqrt(CAST((xq-px)*(xq-px) + (yq-py)*(yq-py) AS DOUBLE))) AS BIGINT), 0) AS dist_q,
           coalesce(ts_us - pts, 0) AS dt_us FROM d),
         g AS (SELECT traj_id, tie, pts, dist_q, dt_us,
           CASE WHEN pts IS NULL THEN 0
                WHEN dt_us = 0 AND dist_q = 0 THEN 0
                WHEN dt_us = 0 THEN -1
                ELSE (dist_q * 1000000) // dt_us END AS speed_q FROM e),
         cl AS (SELECT q.traj_id, q.ts_us, q.tie, q.xq, q.yq
           FROM q JOIN g ON q.traj_id = g.traj_id AND q.tie = g.tie
           WHERE NOT (g.pts IS NOT NULL AND (g.speed_q = -1 OR g.speed_q > 100))),
         d2 AS (SELECT traj_id, ts_us, tie, xq, yq,
           lag(ts_us) OVER w3 AS pts, lag(xq) OVER w3 AS px,
           lag(yq) OVER w3 AS py, row_number() OVER w3 AS rn
           FROM cl WINDOW w3 AS (PARTITION BY traj_id ORDER BY ts_us, tie)),
         f2 AS (SELECT traj_id, ts_us AS tick_us, xq AS ax, yq AS ay
           FROM d2 WHERE rn = 1 AND ts_us % 21600000000 = 0),
         s2 AS (SELECT d2.*, pts // 21600000000 + 1 AS k0,
           ts_us // 21600000000 AS k1 FROM d2 WHERE rn > 1 AND ts_us > pts),
         g2 AS (SELECT traj_id, k.kk * 21600000000 AS tick_us, px, py, xq, yq,
           k.kk * 21600000000 - pts AS offq, ts_us - pts AS den
           FROM s2, unnest(range(s2.k0, s2.k1 + 1)) AS k(kk)),
         h2 AS (SELECT traj_id, tick_us,
           px + CASE WHEN xq >= px THEN ((xq - px) * offq) // den
                ELSE -(((px - xq) * offq) // den) END AS ax,
           py + CASE WHEN yq >= py THEN ((yq - py) * offq) // den
                ELSE -(((py - yq) * offq) // den) END AS ay FROM g2),
         tk AS (SELECT traj_id, tick_us, ax, ay FROM f2
           UNION ALL SELECT traj_id, tick_us, ax, ay FROM h2),
         cells AS (SELECT traj_id, tick_us,
           ((ax + 180000000) // 100000) * 10000 + (ay + 90000000) // 100000 AS cell
           FROM tk),
         ends AS (SELECT traj_id,
           first_value(cell) OVER w4 AS o_cell,
           last_value(cell) OVER w4 AS d_cell
           FROM cells WINDOW w4 AS (PARTITION BY traj_id ORDER BY tick_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         dd AS (SELECT DISTINCT traj_id, o_cell, d_cell FROM ends)
         SELECT o_cell, d_cell, CAST(count(*) AS BIGINT) AS n_traj
         FROM dd GROUP BY 1, 2 ORDER BY o_cell, d_cell""",
    "traj_resample" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS tie, ts_us,
           sum(dx) OVER w AS pxc, sum(dy) OVER w AS pyc
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         q AS (SELECT traj_id, ts_us, tie,
           CAST(floor((-120.0 + pxc / 1000.0) * 1000000.0) AS BIGINT) AS xq,
           CAST(floor((36.0 + pyc / 1000.0) * 1000000.0) AS BIGINT) AS yq FROM c),
         d AS (SELECT traj_id, ts_us, xq, yq,
           lag(ts_us) OVER w2 AS pts, lag(xq) OVER w2 AS px,
           lag(yq) OVER w2 AS py, row_number() OVER w2 AS rn
           FROM q WINDOW w2 AS (PARTITION BY traj_id ORDER BY ts_us, tie)),
         f AS (SELECT traj_id, ts_us AS tick_us, xq AS ax, yq AS ay
           FROM d WHERE rn = 1 AND ts_us % 21600000000 = 0),
         s AS (SELECT d.*, pts // 21600000000 + 1 AS k0,
           ts_us // 21600000000 AS k1 FROM d WHERE rn > 1 AND ts_us > pts),
         g AS (SELECT traj_id, k.kk * 21600000000 AS tick_us, px, py, xq, yq,
           k.kk * 21600000000 - pts AS offq, ts_us - pts AS den
           FROM s, unnest(range(s.k0, s.k1 + 1)) AS k(kk)),
         h AS (SELECT traj_id, tick_us,
           px + CASE WHEN xq >= px THEN ((xq - px) * offq) // den
                ELSE -(((px - xq) * offq) // den) END AS ax,
           py + CASE WHEN yq >= py THEN ((yq - py) * offq) // den
                ELSE -(((py - yq) * offq) // den) END AS ay FROM g)
         SELECT traj_id, tick_us, ax, ay FROM f
         UNION ALL SELECT traj_id, tick_us, ax, ay FROM h
         ORDER BY traj_id, tick_us""",
    "traj_colocation" ->
      """WITH pts AS (SELECT user_id, ts, event_id,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events),
         c AS (SELECT user_id, ts, event_id,
             CAST(sum(dx) OVER w AS BIGINT) AS px,
             CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         o AS (SELECT DISTINCT user_id,
             (px // 6) * 1000000 + (py // 4) AS cell,
             epoch_us(ts) // 86400000000 AS tb FROM c),
         p AS (SELECT a.user_id AS t1, b.user_id AS t2
           FROM o a JOIN o b ON a.cell = b.cell AND a.tb = b.tb
             AND a.user_id < b.user_id)
         SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_encounters
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    // convoy: route cells shared per day minus dropout days, then
    // gaps-and-islands runs of length >= 3,
    "traj_convoy" ->
      """WITH pts AS (SELECT DISTINCT user_id AS traj_id,
           epoch_us(ts) // 86400000000 AS tb FROM events),
         o AS (SELECT traj_id, tb, (traj_id % 10) * 1000 + tb % 7 AS cell
           FROM pts WHERE (traj_id + tb) % 5 <> 0),
         ct AS (SELECT DISTINCT a.traj_id AS t1, b.traj_id AS t2, a.tb
           FROM o a JOIN o b ON a.cell = b.cell AND a.tb = b.tb
             AND a.traj_id < b.traj_id),
         runs AS (SELECT t1, t2, tb,
             tb - row_number() OVER (PARTITION BY t1, t2 ORDER BY tb) AS grp
           FROM ct)
         SELECT t1, t2, CAST(min(tb) AS BIGINT) AS start_tb,
           CAST(count(*) AS BIGINT) AS len
         FROM runs GROUP BY t1, t2, grp HAVING count(*) >= 3
         ORDER BY t1, t2, start_tb""",
    "traj_hausdorff" ->
      """WITH p AS (SELECT user_id AS traj_id,
             CAST(sum(event_id % 7) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS px,
             CAST(sum((event_id * 3) % 5) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS py
           FROM events WHERE user_id < 12),
         ids AS (SELECT DISTINCT traj_id FROM p),
         pairs AS (SELECT a.traj_id AS t1, b.traj_id AS t2
           FROM ids a, ids b WHERE a.traj_id < b.traj_id),
         j AS (SELECT t1, t2, pa.px AS ax, pa.py AS ay,
             pb.px AS bx, pb.py AS b_y,
             (pa.px - pb.px) * (pa.px - pb.px)
               + (pa.py - pb.py) * (pa.py - pb.py) AS d2
           FROM pairs
           JOIN p pa ON pa.traj_id = t1 JOIN p pb ON pb.traj_id = t2),
         hab AS (SELECT t1, t2, max(mn) AS h_ab,
             CAST(count(*) AS BIGINT) AS n_a
           FROM (SELECT t1, t2, ax, ay, min(d2) AS mn FROM j
                 GROUP BY 1, 2, 3, 4) GROUP BY 1, 2),
         hba AS (SELECT t1, t2, max(mn) AS h_ba,
             CAST(count(*) AS BIGINT) AS n_b
           FROM (SELECT t1, t2, bx, b_y, min(d2) AS mn FROM j
                 GROUP BY 1, 2, 3, 4) GROUP BY 1, 2)
         SELECT hab.t1, hab.t2, n_a, n_b,
           CAST(greatest(h_ab, h_ba) AS BIGINT) AS hausdorff_d2
         FROM hab JOIN hba ON hab.t1 = hba.t1 AND hab.t2 = hba.t2
         ORDER BY hab.t1, hab.t2""",
    // Holt recurrence replayed as a recursive CTE; the floor division is
    // spelled out the same way the engine spells it, so negative trends
    // floor identically in both engines,
    "traj_frechet" -> frechetOracleSql,
    "traj_lcss" -> lcssOracleSql,
    // the frechet lattice with summed costs per anti-diagonal,
    "traj_dtw" -> {
      val big = "9223372036854775807"
      val diags = (1 to 10).map { k =>
        val p2 = s"ca${math.max(k - 2, 0)}"
        s"""ca$k AS MATERIALIZED (SELECT c.t1, c.t2, c.i, c.j,
            c.d2 + LEAST(
              COALESCE(p1.v, $big), COALESCE(p3.v, $big), COALESCE(p2.v, $big)) AS v
          FROM cells c
          LEFT JOIN ca${k - 1} p1 ON p1.t1 = c.t1 AND p1.t2 = c.t2
            AND p1.i = c.i - 1 AND p1.j = c.j
          LEFT JOIN ca${k - 1} p3 ON p3.t1 = c.t1 AND p3.t2 = c.t2
            AND p3.i = c.i AND p3.j = c.j - 1
          LEFT JOIN $p2 p2 ON p2.t1 = c.t1 AND p2.t2 = c.t2
            AND p2.i = c.i - 1 AND p2.j = c.j - 1
          WHERE c.i + c.j = $k)"""
      }.mkString(",\n         ")
      s"""WITH trajs AS (SELECT DISTINCT s_suppkey % 20 AS traj_id FROM supplier),
         v AS (SELECT traj_id, CAST(g AS BIGINT) AS seq,
             (traj_id * 7 + g * (traj_id % 5 + 1) * 3) % 40 AS px,
             (traj_id * 11 + g * (traj_id % 3 + 2) * 2) % 40 AS py
           FROM trajs, unnest(range(0, 6)) AS t(g)),
         pairs AS (SELECT a.traj_id AS t1, b.traj_id AS t2
           FROM trajs a, trajs b WHERE a.traj_id < b.traj_id),
         cells AS MATERIALIZED (SELECT p.t1, p.t2, CAST(va.seq AS INT) AS i, CAST(vb.seq AS INT) AS j,
             (va.px - vb.px)*(va.px - vb.px) + (va.py - vb.py)*(va.py - vb.py) AS d2
           FROM pairs p JOIN v va ON va.traj_id = p.t1 JOIN v vb ON vb.traj_id = p.t2),
         ca0 AS MATERIALIZED (SELECT t1, t2, i, j, d2 AS v FROM cells WHERE i = 0 AND j = 0),
         $diags,
         sz AS (SELECT t1, t2, CAST(max(i) + 1 AS INTEGER) AS n_a,
             CAST(max(j) + 1 AS INTEGER) AS n_b FROM cells GROUP BY 1, 2)
         SELECT ca10.t1, ca10.t2, sz.n_a, sz.n_b,
           CAST(ca10.v AS BIGINT) AS dtw_d2
         FROM ca10 JOIN sz ON sz.t1 = ca10.t1 AND sz.t2 = ca10.t2
         ORDER BY ca10.t1, ca10.t2"""
    },
    // Kitagawa decomposition: ppm weights × floor-cent rates; effects are
    // integer products (no negative division anywhere),
    "traj_mapmatch" -> mapMatchOracleSql,
    "traj_dwell" ->
      """WITH pts AS (SELECT user_id, ts, event_id,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events),
         c AS (SELECT user_id, ts, event_id,
             CAST(sum(dx) OVER w AS BIGINT) AS px,
             CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT user_id, ts, event_id,
             (px // 6) * 1000000 + (py // 4) AS cell FROM c),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, cell ORDER BY ts, event_id) AS rc
           FROM k)
         SELECT user_id AS traj_id, cell, CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS ts_start, max(ts) AS ts_end
         FROM r GROUP BY user_id, cell, rn - rc
         HAVING count(*) >= 4 ORDER BY traj_id, ts_start, cell""",
    "traj_od_matrix" ->
      """WITH pts AS (SELECT user_id, ts, event_id,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events),
         c AS (SELECT user_id, ts, event_id,
             CAST(sum(dx) OVER w AS BIGINT) AS px,
             CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT user_id, ts, event_id,
             (px // 6) * 1000000 + (py // 4) AS cell FROM c),
         f AS (SELECT user_id, cell,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
           FROM k),
         od AS (SELECT o.cell AS o_cell, d.cell AS d_cell
           FROM (SELECT user_id, cell FROM f WHERE ra = 1) o
           JOIN (SELECT user_id, cell FROM f WHERE rd = 1) d USING (user_id))
         SELECT o_cell, d_cell, CAST(count(*) AS BIGINT) AS n_traj
         FROM od GROUP BY 1, 2 ORDER BY 1, 2""",
    // user-level aggregates once, then deterministic NTILE(5) cuts,
    "traj_corridor" -> {
      s"""WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id AS traj_id, event_id AS seq,
           CAST(sum(dx) OVER w AS BIGINT) AS px,
           CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         m AS (SELECT traj_id, seq,
           ${corridorInsideSql(corridorSegs, 40L)} AS inside FROM c)
         SELECT traj_id, CAST(count(*) AS BIGINT) AS n_fixes,
           CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
           CAST(min(CASE WHEN NOT inside THEN seq END) AS BIGINT) AS first_out,
           CAST(max(CASE WHEN NOT inside THEN seq END) AS BIGINT) AS last_out
         FROM m GROUP BY 1 ORDER BY traj_id"""
    },
    "traj_elevation_exposure" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id,
           CAST(sum(dx) OVER w AS BIGINT) AS px,
           CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         m AS (SELECT user_id,
             -120 + ((px % 600) + 0.5) / 600.0 AS lng,
             36 + ((py % 600) + 0.5) / 600.0 AS lat
           FROM c),
         k AS (SELECT user_id,
             CAST(floor((lng + 120) * 600 + 0.5) AS BIGINT) AS cn,
             CAST(floor((lat - 36) * 600 + 0.5) AS BIGINT) AS rn
           FROM m),
         e AS (SELECT user_id,
             CAST(((-120+180)*7 + (36+90)*11) % 1000
               + 2*cn + 3*rn + ((cn//8)*(rn//8)) % 32 AS BIGINT) AS elev
           FROM k)
         SELECT user_id AS traj_id, CAST(count(*) AS BIGINT) AS n_fixes,
           CAST(sum(elev) AS BIGINT) AS sum_elev,
           CAST(sum(CASE WHEN elev >= 3600 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           CAST(max(elev) AS BIGINT) AS max_elev
         FROM e GROUP BY 1 ORDER BY traj_id""",
    // per-user type counts, exact collision probability,
    "traj_metric_agreement" -> {
      val big = "9223372036854775807"
      def dpDiags(prefix: String, combine: String) = (1 to 10).map { k =>
        val p2 = s"$prefix${math.max(k - 2, 0)}"
        s"""$prefix$k AS MATERIALIZED (SELECT c.t1, c.t2, c.i, c.j,
            $combine AS v
          FROM cells c
          LEFT JOIN $prefix${k - 1} p1 ON p1.t1 = c.t1 AND p1.t2 = c.t2
            AND p1.i = c.i - 1 AND p1.j = c.j
          LEFT JOIN $prefix${k - 1} p3 ON p3.t1 = c.t1 AND p3.t2 = c.t2
            AND p3.i = c.i AND p3.j = c.j - 1
          LEFT JOIN $p2 p2 ON p2.t1 = c.t1 AND p2.t2 = c.t2
            AND p2.i = c.i - 1 AND p2.j = c.j - 1
          WHERE c.i + c.j = $k)"""
      }.mkString(",\n         ")
      val fre = dpDiags("fa",
        s"GREATEST(c.d2, LEAST(COALESCE(p1.v, $big), COALESCE(p3.v, $big), COALESCE(p2.v, $big)))")
      val dtw = dpDiags("da",
        s"c.d2 + LEAST(COALESCE(p1.v, $big), COALESCE(p3.v, $big), COALESCE(p2.v, $big))")
      s"""WITH trajs AS (SELECT DISTINCT s_suppkey % 20 AS traj_id FROM supplier),
         v AS (SELECT traj_id, CAST(g AS BIGINT) AS seq,
             (traj_id * 7 + g * (traj_id % 5 + 1) * 3) % 40 AS px,
             (traj_id * 11 + g * (traj_id % 3 + 2) * 2) % 40 AS py
           FROM trajs, unnest(range(0, 6)) AS t(g)),
         pairs AS (SELECT a.traj_id AS t1, b.traj_id AS t2
           FROM trajs a, trajs b WHERE a.traj_id < b.traj_id),
         cells AS MATERIALIZED (SELECT p.t1, p.t2, CAST(va.seq AS INT) AS i, CAST(vb.seq AS INT) AS j,
             (va.px - vb.px)*(va.px - vb.px) + (va.py - vb.py)*(va.py - vb.py) AS d2
           FROM pairs p JOIN v va ON va.traj_id = p.t1 JOIN v vb ON vb.traj_id = p.t2),
         fa0 AS MATERIALIZED (SELECT t1, t2, i, j, d2 AS v FROM cells WHERE i = 0 AND j = 0),
         $fre,
         da0 AS MATERIALIZED (SELECT t1, t2, i, j, d2 AS v FROM cells WHERE i = 0 AND j = 0),
         $dtw,
         m AS (SELECT fa10.t1 * 100 + fa10.t2 AS pid,
             da10.v AS dtw_d2, fa10.v AS frechet_d2
           FROM fa10 JOIN da10 ON da10.t1 = fa10.t1 AND da10.t2 = fa10.t2),
         sd AS (SELECT CASE WHEN x.dtw_d2 = y.dtw_d2
               OR x.frechet_d2 = y.frechet_d2 THEN 0
             WHEN (x.dtw_d2 < y.dtw_d2) = (x.frechet_d2 < y.frechet_d2)
               THEN 1 ELSE -1 END AS s
           FROM m x JOIN m y ON x.pid < y.pid)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           (CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
             - CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT))
             * 1000 // (CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
             + CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT))
             AS tau_milli
         FROM sd"""
    },
    // two-phase nearest-rank median/MAD per type, 3-MAD day flags,
    "traj_bbox_iou" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT user_id,
           CAST(sum(dx) OVER w AS BIGINT) AS px,
           CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         bb AS (SELECT user_id, min(px) AS x0, max(px) AS x1,
             min(py) AS y0, max(py) AS y1 FROM c GROUP BY 1),
         p AS (SELECT a.user_id AS traj_a, b.user_id AS traj_b,
             greatest(0, least(a.x1, b.x1) - greatest(a.x0, b.x0)) AS ix,
             greatest(0, least(a.y1, b.y1) - greatest(a.y0, b.y0)) AS iy,
             (a.x1 - a.x0) * (a.y1 - a.y0) AS ar_a,
             (b.x1 - b.x0) * (b.y1 - b.y0) AS ar_b
           FROM bb a JOIN bb b ON a.user_id < b.user_id),
         q AS (SELECT traj_a, traj_b, CAST(ix * iy AS BIGINT) AS inter,
             CAST(ar_a + ar_b - ix * iy AS BIGINT) AS uni
           FROM p WHERE ar_a + ar_b - ix * iy > 0),
         r AS (SELECT traj_a, traj_b, inter, uni,
             inter * 1000000 // uni AS iou_ppm FROM q),
         s AS (SELECT *, CAST(row_number() OVER (ORDER BY iou_ppm DESC,
             traj_a, traj_b) AS INT) AS rk FROM r)
         SELECT traj_a, traj_b, inter, uni, iou_ppm, rk
         FROM s WHERE rk <= 20 ORDER BY rk""",
    // per-source token mass, integer weight split of the 200k budget,
    "traj_od_independence" ->
      """WITH pts AS (SELECT user_id, ts, event_id,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events),
         c AS (SELECT user_id, ts, event_id,
             CAST(sum(dx) OVER w AS BIGINT) AS px,
             CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT user_id, ts, event_id,
             (px // 6) * 1000000 + (py // 4) AS cell FROM c),
         f AS (SELECT user_id, cell,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
           FROM k),
         od AS (SELECT o.cell AS o_cell, d.cell AS d_cell
           FROM (SELECT user_id, cell FROM f WHERE ra = 1) o
           JOIN (SELECT user_id, cell FROM f WHERE rd = 1) d USING (user_id)),
         flows AS (SELECT o_cell, d_cell, CAST(count(*) AS BIGINT) AS n_traj
           FROM od GROUP BY 1, 2),
         rt AS (SELECT o_cell, CAST(sum(n_traj) AS BIGINT) AS r
           FROM flows GROUP BY 1),
         ct AS (SELECT d_cell, CAST(sum(n_traj) AS BIGINT) AS cc
           FROM flows GROUP BY 1),
         g AS (SELECT CAST(sum(n_traj) AS BIGINT) AS gt FROM flows)
         SELECT fl.o_cell, fl.d_cell, fl.n_traj,
           CAST(1000000 * fl.n_traj // gt AS BIGINT) AS emp_ppm,
           CAST(1000000 * rt.r * ct.cc // (gt * gt) AS BIGINT) AS exp_ppm,
           CAST(abs(1000000 * fl.n_traj // gt
             - 1000000 * rt.r * ct.cc // (gt * gt)) AS BIGINT) AS dev_ppm
         FROM flows fl JOIN rt ON rt.o_cell = fl.o_cell
           JOIN ct ON ct.d_cell = fl.d_cell, g
         ORDER BY fl.o_cell, fl.d_cell""",
    // 9-value neighbourhood mode via count-argmax, tie to smallest value,
    "traj_flow_communities" -> {
      val rounds = (1 to 3).map { r =>
        s"""v$r AS (SELECT s.u AS node, l.lbl, count(*) AS cnt
             FROM sym s JOIN l${r - 1} l ON s.v = l.node GROUP BY 1, 2),
           l$r AS (SELECT node, lbl FROM v$r
             QUALIFY row_number() OVER (PARTITION BY node
               ORDER BY cnt DESC, lbl ASC) = 1)"""
      }.mkString(",\n         ")
      s"""WITH pts AS (SELECT user_id, ts, event_id,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events),
         cw AS (SELECT user_id, ts, event_id,
             CAST(sum(dx) OVER w AS BIGINT) AS px,
             CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT user_id, ts, event_id,
             (px // 6) * 1000000 + (py // 4) AS cell FROM cw),
         fe AS (SELECT user_id, cell,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
           FROM k),
         od AS (SELECT DISTINCT o.user_id, o.cell AS o_cell, d.cell AS d_cell
           FROM (SELECT user_id, cell FROM fe WHERE ra = 1) o
           JOIN (SELECT user_id, cell FROM fe WHERE rd = 1) d USING (user_id)),
         e AS (SELECT DISTINCT GREATEST(o_cell, d_cell) AS hi,
             LEAST(o_cell, d_cell) AS lo FROM od),
         e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
         sym AS (SELECT lo AS u, hi AS v FROM e2
           UNION ALL SELECT hi AS u, lo AS v FROM e2),
         l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
         $rounds
         SELECT lbl, CAST(count(*) AS BIGINT) AS n_cells
         FROM l3 GROUP BY 1 ORDER BY lbl"""
    },
    // nearest-rank p90 threshold, exceedance moments,
    "traj_follow_detect" ->
      """WITH pts AS (SELECT user_id, ts, event_id,
           event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events),
         cw AS (SELECT user_id, ts, event_id,
             CAST(sum(dx) OVER w AS BIGINT) AS px,
             CAST(sum(dy) OVER w AS BIGINT) AS py,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS BIGINT) AS step
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT user_id, step,
             (px // 6) * 1000000 + (py // 4) AS cell FROM cw),
         j AS (SELECT a.user_id AS a, b.user_id AS b
           FROM k a JOIN k b ON b.step = a.step + 2 AND b.cell = a.cell
           WHERE a.user_id <> b.user_id),
         g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_follow
           FROM j GROUP BY 1, 2)
         SELECT CAST(row_number() OVER (ORDER BY n_follow DESC, a, b)
             AS INT) AS rk, a, b, n_follow
         FROM g QUALIFY rk <= 10 ORDER BY rk""",
    // correlated above-own-average via cross-multiplied cents,
    "traj_edr" -> {
      val combine =
        """LEAST(COALESCE(p1.v, c.j + 1) + 1,
            COALESCE(p3.v, c.i + 1) + 1,
            COALESCE(p2.v, CASE WHEN c.i = 0 AND c.j = 0 THEN 0
              WHEN c.i = 0 THEN c.j ELSE c.i END)
              + (CASE WHEN c.d2 <= 25 THEN 0 ELSE 1 END))"""
      val diags = (1 to 10).map { k =>
        val p2 = s"ea${math.max(k - 2, 0)}"
        s"""ea$k AS MATERIALIZED (SELECT c.t1, c.t2, c.i, c.j, $combine AS v
          FROM cells c
          LEFT JOIN ea${k - 1} p1 ON p1.t1 = c.t1 AND p1.t2 = c.t2
            AND p1.i = c.i - 1 AND p1.j = c.j
          LEFT JOIN ea${k - 1} p3 ON p3.t1 = c.t1 AND p3.t2 = c.t2
            AND p3.i = c.i AND p3.j = c.j - 1
          LEFT JOIN $p2 p2 ON p2.t1 = c.t1 AND p2.t2 = c.t2
            AND p2.i = c.i - 1 AND p2.j = c.j - 1
          WHERE c.i + c.j = $k)"""
      }.mkString(",\n         ")
      s"""WITH trajs AS (SELECT DISTINCT s_suppkey % 20 AS traj_id FROM supplier),
         v AS (SELECT traj_id, CAST(g AS BIGINT) AS seq,
             (traj_id * 7 + g * (traj_id % 5 + 1) * 3) % 40 AS px,
             (traj_id * 11 + g * (traj_id % 3 + 2) * 2) % 40 AS py
           FROM trajs, unnest(range(0, 6)) AS t(g)),
         pairs AS (SELECT a.traj_id AS t1, b.traj_id AS t2
           FROM trajs a, trajs b WHERE a.traj_id < b.traj_id),
         cells AS MATERIALIZED (SELECT p.t1, p.t2,
             CAST(va.seq AS INT) AS i, CAST(vb.seq AS INT) AS j,
             (va.px - vb.px)*(va.px - vb.px)
               + (va.py - vb.py)*(va.py - vb.py) AS d2
           FROM pairs p JOIN v va ON va.traj_id = p.t1
           JOIN v vb ON vb.traj_id = p.t2),
         ea0 AS MATERIALIZED (SELECT t1, t2, i, j,
             CASE WHEN d2 <= 25 THEN 0 ELSE 1 END AS v
           FROM cells WHERE i = 0 AND j = 0),
         $diags
         SELECT t1, t2, CAST(6 AS INT) AS n_a, CAST(6 AS INT) AS n_b,
           CAST(v AS BIGINT) AS edr
         FROM ea10 ORDER BY t1, t2"""
    },
    // 256-entry level census replayed from the closed-form bytes
  )
}
