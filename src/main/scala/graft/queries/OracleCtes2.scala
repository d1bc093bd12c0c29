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

/** DuckDB oracle SQL builders (part 2).
  * All members are defs (no cross-file val init-order hazards).
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object OracleCtes2 {

  /** Bilinear elevation oracle over the 6-present/2-absent gate tiles —
    * shared by the broadcast-index and cogroup physical paths. */
  private[graft] def cogroupElevOracleSql: String =
    """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
         -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
         36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
         FROM lineitem),
       k AS (SELECT point_id, lng, lat,
         CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
         (lng - floor(lng)) * 600 AS colf, (lat - floor(lat)) * 600 AS rowf FROM pts),
       g AS (SELECT *, CAST(floor(colf) AS BIGINT) AS c0, CAST(floor(rowf) AS BIGINT) AS r0,
         colf - floor(colf) AS cf, rowf - floor(rowf) AS rf,
         ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM k),
       v AS (SELECT *,
         a + 2*c0     + 3*r0     + ((c0//8)*(r0//8)) % 32         AS v00,
         a + 2*(c0+1) + 3*r0     + (((c0+1)//8)*(r0//8)) % 32     AS v10,
         a + 2*(c0+1) + 3*(r0+1) + (((c0+1)//8)*((r0+1)//8)) % 32 AS v11,
         a + 2*c0     + 3*(r0+1) + ((c0//8)*((r0+1)//8)) % 32     AS v01 FROM g)
       SELECT point_id,
         (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END ||
          lpad(CAST(abs(swlat) AS VARCHAR), 2, '0') ||
          CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END ||
          lpad(CAST(abs(swlng) AS VARCHAR), 3, '0')) AS tile_key,
         CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
              ELSE (v00 + (v10 - v00) * cf) +
                   ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
         END AS elev
       FROM v ORDER BY point_id"""

  /** Shared scaffold for the nearest-node map-algebra oracles (flowdir/TRI):
    * point → nearest grid node (cn, rn) + tile base offset `a`, exactly the
    * geo_slope CTEs.
    */
  private[graft] def nodeScaffoldSql: String =
    """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
         -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
         36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
         FROM lineitem),
       k AS (SELECT point_id,
         CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
         CAST(floor((lng - floor(lng)) * 600 + 0.5) AS BIGINT) AS cn,
         CAST(floor((lat - floor(lat)) * 600 + 0.5) AS BIGINT) AS rn FROM pts),
       b AS (SELECT *, ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM k)"""

  /** Synthetic-grid sample value at node (c, r) — TileGen.sampleAt in SQL. */
  private[graft] def gridV(c: String, r: String): String =
    s"(a + 2*($c) + 3*($r) + (((($c))//8)*((($r))//8)) % 32)"

  private[graft] def clamp(base: String, d: Int): String =
    if (d == 0) base else s"LEAST(600, GREATEST(0, $base + ($d)))"

  /** Zonal-histogram oracle (PIP membership × bilinear elevation × 256 m
    * bins).
    */
  private[graft] def zonalHistOracleSql: String =
    """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS px,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS py
           FROM lineitem),
         tri AS (SELECT s_suppkey AS poly_id,
           -120.0 + (s_suppkey % 40) * 0.1 AS cx, 36.0 + ((s_suppkey * 3) % 20) * 0.1 AS cy,
           0.05 + (s_suppkey % 7) * 0.013 AS w, 0.04 + (s_suppkey % 5) * 0.017 AS h
           FROM supplier),
         tv AS (SELECT poly_id, cx AS x1, cy + h AS y1, cx - w AS x2, cy - h AS y2,
           cx + w AS x3, cy - h AS y3 FROM tri),
         inside AS (SELECT point_id, poly_id, px, py FROM (
             SELECT p.point_id, p.px, p.py, tv.* FROM pts p JOIN tv
             ON p.px >= tv.x2 AND p.px <= tv.x3 AND p.py >= tv.y2 AND p.py <= tv.y1)
           WHERE ((CASE WHEN (y1 > py) <> (y3 > py) AND px < (x3 - x1) * (py - y1) / (y3 - y1) + x1 THEN 1 ELSE 0 END)
                + (CASE WHEN (y2 > py) <> (y1 > py) AND px < (x1 - x2) * (py - y2) / (y1 - y2) + x2 THEN 1 ELSE 0 END)
                + (CASE WHEN (y3 > py) <> (y2 > py) AND px < (x2 - x3) * (py - y3) / (y2 - y3) + x3 THEN 1 ELSE 0 END)) % 2 = 1),
         ek AS (SELECT point_id, px AS lng, py AS lat,
           CAST(floor(px) AS BIGINT) AS swlng, CAST(floor(py) AS BIGINT) AS swlat,
           (px - floor(px)) * 600 AS colf, (py - floor(py)) * 600 AS rowf FROM pts),
         eg AS (SELECT *, CAST(floor(colf) AS BIGINT) AS c0, CAST(floor(rowf) AS BIGINT) AS r0,
           colf - floor(colf) AS cf, rowf - floor(rowf) AS rf,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM ek),
         ev AS (SELECT *,
           a + 2*c0     + 3*r0     + ((c0//8)*(r0//8)) % 32         AS v00,
           a + 2*(c0+1) + 3*r0     + (((c0+1)//8)*(r0//8)) % 32     AS v10,
           a + 2*(c0+1) + 3*(r0+1) + (((c0+1)//8)*((r0+1)//8)) % 32 AS v11,
           a + 2*c0     + 3*(r0+1) + ((c0//8)*((r0+1)//8)) % 32     AS v01 FROM eg),
         e AS (SELECT point_id,
           CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
                ELSE (v00 + (v10 - v00) * cf) +
                     ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
           END AS elev FROM ev)
         SELECT poly_id, CAST(floor(elev / 256.0) AS BIGINT) AS bin, count(*) AS n
         FROM inside JOIN e USING (point_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""

  /** PageRank oracle: the 3 rounds unrolled as CTE chains — every step an
    * integer floor-division (`//` = Spark `DIV` on positive operands) or an
    * order-independent sum, so ranks are bit-equal across engines.
    */
  private[graft] def pagerankOracleSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""c$r AS (SELECT e.dst AS node, sum(rr.pr // o.outdeg) AS inflow
           FROM r${r - 1} rr JOIN outdeg o USING (node)
           JOIN e ON e.src = rr.node GROUP BY 1),
         r$r AS (SELECT n.node,
             150000 + (850000 * COALESCE(c.inflow, 0)) // 1000000 AS pr
           FROM nodes n LEFT JOIN c$r c USING (node))"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT l_suppkey % 500 AS src,
           l_partkey % 500 AS dst FROM lineitem),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         outdeg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         $rounds
         SELECT node, CAST(pr AS BIGINT) AS pr FROM r3 ORDER BY node"""
  }

  /** Label-propagation oracle: the engine's 3 deterministic mode-vote
    * sweeps unrolled — per round, neighbor-label counts then the per-node
    * argmax with the (cnt DESC, lbl ASC) tie order as QUALIFY. Same
    * canonical-undirected graph recipe as the k-core oracle.
    */
  private[graft] def labelpropOracleSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""v$r AS (SELECT s.u AS node, l.lbl, count(*) AS cnt
           FROM sym s JOIN l${r - 1} l ON s.v = l.node GROUP BY 1, 2),
         l$r AS (SELECT node, lbl FROM v$r
           QUALIFY row_number() OVER (PARTITION BY node
             ORDER BY cnt DESC, lbl ASC) = 1)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
         FROM lineitem WHERE l_orderkey % 7 = 0),
         e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
         sym AS (SELECT lo AS u, hi AS v FROM e2
                 UNION ALL SELECT hi AS u, lo AS v FROM e2),
         l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
         $rounds
         SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS lbl
         FROM l3 ORDER BY node"""
  }

  /** Fréchet oracle: the coupling DP unrolled as one CTE per anti-diagonal
    * (i+j = k, 11 levels over 6×6 lattices); the two predecessor diagonals
    * LEFT-join with MaxValue coalesce so lattice borders take the only
    * available predecessor — exactly the engine's boundary rule.
    */
  private[graft] def frechetOracleSql: String = {
    val big = "9223372036854775807"
    val diags = (1 to 10).map { k =>
      val p2 = s"ca${math.max(k - 2, 0)}"
      s"""ca$k AS MATERIALIZED (SELECT c.t1, c.t2, c.i, c.j,
          GREATEST(c.d2, LEAST(
            COALESCE(p1.v, $big), COALESCE(p3.v, $big), COALESCE(p2.v, $big))) AS v
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
       SELECT ca10.t1, ca10.t2, sz.n_a, sz.n_b, CAST(ca10.v AS BIGINT) AS frechet_d2
       FROM ca10 JOIN sz ON sz.t1 = ca10.t1 AND sz.t2 = ca10.t2
       ORDER BY ca10.t1, ca10.t2"""
  }

  /** NN-descent oracle: LSH buckets, bucket-pair top-3, one
    * neighbour-of-neighbour expansion, exact re-rank, recall vs the brute
    * baseline — every stage the engine runs, in fold-dot arithmetic.
    */
  private[graft] def nnDescentOracleSql: String = {
    val bucket = (0 until 8).map { j =>
      s"(CASE WHEN ${sqlPlaneDot(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    def fdot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(0,64),
          d -> $a.v[d+1] * $b.v[d+1])), (p,q) -> p + q)"""
    s"""WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       f AS MATERIALIZED (SELECT vec_id, v, $bucket AS b8,
         sqrt(list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> v[d+1] * v[d+1])), (p,q) -> p + q)) AS nrm FROM vv),
       fb AS MATERIALIZED (SELECT vec_id, b8 % 16 AS band0, b8 // 16 AS band1 FROM f),
       cp AS (SELECT DISTINCT qid, nid FROM (
         SELECT a.vec_id AS qid, b.vec_id AS nid FROM fb a
           JOIN fb b ON a.band0 = b.band0 AND a.vec_id <> b.vec_id
         UNION ALL
         SELECT a.vec_id, b.vec_id FROM fb a
           JOIN fb b ON a.band1 = b.band1 AND a.vec_id <> b.vec_id)),
       c0 AS (SELECT cp.qid, cp.nid,
           ${fdot("a", "b")} / (a.nrm * b.nrm) AS cos
         FROM cp JOIN f a ON a.vec_id = cp.qid JOIN f b ON b.vec_id = cp.nid),
       knn0 AS MATERIALIZED (SELECT qid, nid FROM (SELECT *,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         FROM c0) WHERE rk <= 3),
       und AS MATERIALIZED (SELECT DISTINCT qid, nid FROM (
         SELECT qid, nid FROM knn0 UNION ALL SELECT nid AS qid, qid AS nid FROM knn0)),
       ex AS (SELECT k1.qid, k2.nid FROM und k1
         JOIN und k2 ON k2.qid = k1.nid WHERE k1.qid <> k2.nid),
       cl AS (SELECT DISTINCT qid, nid FROM (
         SELECT qid, nid FROM knn0 UNION ALL SELECT qid, nid FROM ex)),
       c1 AS (SELECT cl.qid, cl.nid,
           ${fdot("a", "b")} / (a.nrm * b.nrm) AS cos
         FROM cl JOIN f a ON a.vec_id = cl.qid JOIN f b ON b.vec_id = cl.nid),
       knn1 AS (SELECT qid, nid FROM (SELECT *,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         FROM c1) WHERE rk <= 3),
       q AS (SELECT vec_id AS qid, v, nrm FROM f WHERE vec_id < 25),
       exc AS (SELECT q.qid, f.vec_id AS nid,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> q.v[d+1] * f.v[d+1])), (p,q2) -> p + q2) / (q.nrm * f.nrm) AS cos
         FROM q, f WHERE f.vec_id <> q.qid),
       exact AS MATERIALIZED (SELECT qid, nid FROM (SELECT *,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         FROM exc) WHERE rk <= 3),
       h0 AS (SELECT k.qid, count(*) AS hits FROM knn0 k
         JOIN exact e ON e.qid = k.qid AND e.nid = k.nid
         WHERE k.qid < 25 GROUP BY 1),
       h1 AS (SELECT k.qid, count(*) AS hits FROM knn1 k
         JOIN exact e ON e.qid = k.qid AND e.nid = k.nid
         WHERE k.qid < 25 GROUP BY 1)
       SELECT q.qid, CAST(COALESCE(h0.hits, 0) AS BIGINT) AS hits_lsh,
         CAST(COALESCE(h1.hits, 0) AS BIGINT) AS hits_nnd
       FROM (SELECT DISTINCT qid FROM q) q
       LEFT JOIN h0 ON h0.qid = q.qid
       LEFT JOIN h1 ON h1.qid = q.qid ORDER BY q.qid"""
  }

  /** D8 flow-direction oracle: replicates TileIndex.flowdirD8's integer
    * comparison (2·drop²ₛ vs drop²d, first maximal code wins) over the 8
    * clamped neighbours of the nearest node. Missing tile ⇒ 0.
    */
  private[graft] def flowdirOracleSql: String = {
    val scores = (0 until 8).map { i =>
      val dc = Seq(1, 1, 0, -1, -1, -1, 0, 1)(i)
      val dr = Seq(0, 1, 1, 1, 0, -1, -1, -1)(i)
      val mult = if (dc != 0 && dr != 0) 1 else 2
      val vn = gridV(clamp("cn", dc), clamp("rn", dr))
      s"CASE WHEN (vc - $vn) > 0 THEN $mult*(vc - $vn)*(vc - $vn) ELSE -1 END AS s$i"
    }.mkString(",\n           ")
    val cascade = (0 until 8).map(i => s"WHEN s$i = best THEN ${1 << i}").mkString(" ")
    s"""$nodeScaffoldSql,
       c AS (SELECT *, ${gridV("cn", "rn")} AS vc FROM b),
       n AS (SELECT point_id, swlng, swlat,
           $scores FROM c),
       m AS (SELECT *, GREATEST(s0, s1, s2, s3, s4, s5, s6, s7) AS best FROM n)
       SELECT point_id,
         CAST(CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0
                   WHEN best <= 0 THEN 0 $cascade END AS BIGINT) AS d8
       FROM m ORDER BY point_id"""
  }

  /** Terrain-ruggedness-index oracle: Σ|neighbour − centre| over the same 8
    * clamped neighbours. Missing tile ⇒ 0.
    */
  private[graft] def triOracleSql: String = {
    val terms = (0 until 8).map { i =>
      val dc = Seq(1, 1, 0, -1, -1, -1, 0, 1)(i)
      val dr = Seq(0, 1, 1, 1, 0, -1, -1, -1)(i)
      s"abs(${gridV(clamp("cn", dc), clamp("rn", dr))} - vc)"
    }.mkString(" + ")
    s"""$nodeScaffoldSql,
       c AS (SELECT *, ${gridV("cn", "rn")} AS vc FROM b)
       SELECT point_id,
         CAST(CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0
                   ELSE $terms END AS BIGINT) AS tri
       FROM c ORDER BY point_id"""
  }

  /** Laplacian-curvature oracle: N + S + E + W − 4·centre on the synthetic
    * grid, neighbours clamped, the two absent tiles ⇒ 0.
    */
  private[graft] def curvatureOracleSql: String = {
    val terms = Seq((1, 0), (-1, 0), (0, 1), (0, -1))
      .map { case (dc, dr) => gridV(clamp("cn", dc), clamp("rn", dr)) }
      .mkString(" + ")
    s"""$nodeScaffoldSql,
       c AS (SELECT *, ${gridV("cn", "rn")} AS vc FROM b)
       SELECT point_id,
         CAST(CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0
                   ELSE ($terms) - 4*vc END AS BIGINT) AS lap
       FROM c ORDER BY point_id"""
  }

  /** Aspect-octant oracle: the geo_slope gradient CTEs + the same exact
    * sign/|·| classification as TileIndex.aspectOctant. Missing tile ⇒ 0.
    */
  private[graft] def aspectOracleSql: String =
    s"""$nodeScaffoldSql,
       e AS (SELECT *, GREATEST(0, cn-1) AS c0, LEAST(600, cn+1) AS c1,
         GREATEST(0, rn-1) AS r0, LEAST(600, rn+1) AS r1 FROM b),
       d AS (SELECT point_id, swlng, swlat,
         -((${gridV("c1", "rn")} - ${gridV("c0", "rn")}) / (c1 - c0)) AS gx,
         -((${gridV("cn", "r1")} - ${gridV("cn", "r0")}) / (r1 - r0)) AS gy
         FROM e)
       SELECT point_id,
         CAST(CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0
                   WHEN gx = 0 AND gy = 0 THEN 0
                   WHEN abs(gx) > abs(gy) THEN CASE WHEN gx > 0 THEN 1 ELSE 5 END
                   WHEN abs(gy) > abs(gx) THEN CASE WHEN gy > 0 THEN 7 ELSE 3 END
                   WHEN gx > 0 THEN CASE WHEN gy > 0 THEN 8 ELSE 2 END
                   ELSE CASE WHEN gy > 0 THEN 6 ELSE 4 END
              END AS BIGINT) AS aspect
       FROM d ORDER BY point_id"""

  /** Profile oracle: the bilinear closed form (same CTEs as the elevation
    * oracle) + lag/window sums over integer-quantized segments — CAST on the
    * sums because DuckDB widens BIGINT sums to HUGEINT.
    */
  private[graft] def profileOracleSql: String =
    """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
         -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
         36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
         FROM lineitem),
       k AS (SELECT point_id, lng, lat,
         CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
         (lng - floor(lng)) * 600 AS colf, (lat - floor(lat)) * 600 AS rowf FROM pts),
       g AS (SELECT *, CAST(floor(colf) AS BIGINT) AS c0, CAST(floor(rowf) AS BIGINT) AS r0,
         colf - floor(colf) AS cf, rowf - floor(rowf) AS rf,
         ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM k),
       v AS (SELECT *,
         a + 2*c0     + 3*r0     + ((c0//8)*(r0//8)) % 32         AS v00,
         a + 2*(c0+1) + 3*r0     + (((c0+1)//8)*(r0//8)) % 32     AS v10,
         a + 2*(c0+1) + 3*(r0+1) + (((c0+1)//8)*((r0+1)//8)) % 32 AS v11,
         a + 2*c0     + 3*(r0+1) + ((c0//8)*((r0+1)//8)) % 32     AS v01 FROM g),
       e AS (SELECT point_id % 199 AS line_id, point_id AS seq, lng, lat,
         CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
              ELSE (v00 + (v10 - v00) * cf) +
                   ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
         END AS elev FROM v),
       d AS (SELECT line_id, seq, elev,
         lng - lag(lng) OVER w AS dx, lat - lag(lat) OVER w AS dy,
         elev - lag(elev) OVER w AS rise
         FROM e WINDOW w AS (PARTITION BY line_id ORDER BY seq)),
       q AS (SELECT line_id, seq, elev,
         coalesce(CAST(floor(sqrt(dx*dx + dy*dy) * 1000000.0) AS BIGINT), 0) AS seg_q,
         coalesce(CAST(floor(greatest(rise, 0.0) * 64.0) AS BIGINT), 0) AS rise_q FROM d)
       SELECT line_id, seq, elev,
         CAST(sum(seg_q) OVER w2 AS BIGINT) AS cum_dist_q,
         CAST(sum(rise_q) OVER w2 AS BIGINT) AS ascent_q
       FROM q WINDOW w2 AS (PARTITION BY line_id ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY line_id, seq"""

  /** Viewshed oracle: the profile oracle's elevation + cumulative-distance
    * CTEs, extended with the tangent-surrogate running-max comparison.
    */
  private[graft] def viewshedOracleSql: String =
    """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
         -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
         36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
         FROM lineitem),
       k AS (SELECT point_id, lng, lat,
         CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
         (lng - floor(lng)) * 600 AS colf, (lat - floor(lat)) * 600 AS rowf FROM pts),
       g AS (SELECT *, CAST(floor(colf) AS BIGINT) AS c0, CAST(floor(rowf) AS BIGINT) AS r0,
         colf - floor(colf) AS cf, rowf - floor(rowf) AS rf,
         ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM k),
       v AS (SELECT *,
         a + 2*c0     + 3*r0     + ((c0//8)*(r0//8)) % 32         AS v00,
         a + 2*(c0+1) + 3*r0     + (((c0+1)//8)*(r0//8)) % 32     AS v10,
         a + 2*(c0+1) + 3*(r0+1) + (((c0+1)//8)*((r0+1)//8)) % 32 AS v11,
         a + 2*c0     + 3*(r0+1) + ((c0//8)*((r0+1)//8)) % 32     AS v01 FROM g),
       e AS (SELECT point_id % 199 AS line_id, point_id AS seq, lng, lat,
         CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
              ELSE (v00 + (v10 - v00) * cf) +
                   ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
         END AS elev FROM v),
       d AS (SELECT line_id, seq, elev,
         lng - lag(lng) OVER w AS dx, lat - lag(lat) OVER w AS dy
         FROM e WINDOW w AS (PARTITION BY line_id ORDER BY seq)),
       q AS (SELECT line_id, seq, elev,
         coalesce(CAST(floor(sqrt(dx*dx + dy*dy) * 1000000.0) AS BIGINT), 0) AS seg_q FROM d),
       c AS (SELECT line_id, seq, elev, CAST(sum(seg_q) OVER w2 AS BIGINT) AS dd
         FROM q WINDOW w2 AS (PARTITION BY line_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       r AS (SELECT line_id, seq, elev, dd,
         row_number() OVER w3 AS rn, first_value(elev) OVER w3 AS obs
         FROM c WINDOW w3 AS (PARTITION BY line_id ORDER BY seq)),
       t AS (SELECT line_id, seq, rn,
         CASE WHEN rn = 1 THEN NULL
              ELSE (elev - obs) / CAST(greatest(dd, 1) AS DOUBLE) END AS ratio FROM r),
       p AS (SELECT line_id, seq, rn, ratio,
         max(ratio) OVER (PARTITION BY line_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM t)
       SELECT line_id, seq, (rn = 1 OR pm IS NULL OR ratio > pm) AS visible
       FROM p ORDER BY line_id, seq"""

}
