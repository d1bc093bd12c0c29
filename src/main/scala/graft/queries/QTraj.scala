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

/** Trajectory gates: speed flags and Fréchet / DTW / EDR distances
  * (4 entries), each with its DuckDB oracle SQL.
  */
object QTraj {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Implausible-speed flagging (ops.Trajectory.speedFlags): the GPS
    // cleaning pass — exact integer µdeg/s per fix pair, teleports planted
    // every 101st event jump the walk by 5 degrees.
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
    // Discrete Fréchet distance (ops.Trajectory.frechet): the order-aware
    // coupling DP over 20 six-vertex closed-form walks, all 190 ordered
    // pairs. Oracle unrolls the DP as one CTE per anti-diagonal (11
    // levels), LEFT-joining the two predecessor diagonals with MaxValue
    // coalesce at the lattice borders.
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
    // DTW (ops.Trajectory.dtw): summed-cost elastic alignment on the same
    // pair lattice as traj_frechet; identical anti-diagonal oracle with +
    // for the combine.
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
    // EDR (ops.Trajectory.edr): edit distance on real sequences over the
    // same pair lattice as traj_frechet; two vertices match when their
    // squared distance is at most 25.
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
  )

  val sql: Map[String, String] = Map(
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
    "traj_frechet" -> frechetOracleSql,
    // the frechet lattice with summed costs per anti-diagonal
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
  )
}
