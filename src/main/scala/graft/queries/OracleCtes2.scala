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

  /** D8 flow-direction oracle: replicates TileIndex.flowdirD8's integer
    * comparison (2·drop²ₛ vs drop²d, first maximal code wins) over the 8
    * clamped neighbours of the nearest node. Missing tile ⇒ 0.
    */
  /** Zonal-histogram oracle (PIP membership × bilinear elevation × 256 m
    * bins); also the body the `zonal_majority` oracle ranks over.
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

  /** Shared D8 scaffolding of the hydrology oracles: the 100×100 synthetic
    * grid, its steepest-descent successor table — reused by watershed,
    * basin-size and flow-accumulation replays.
    */
  private[graft] def watershedCtes: String =
    """cells AS (SELECT t1.i AS i, t2.j AS j, t1.i*100 + t2.j AS cell
           FROM range(0,100) t1(i), range(0,100) t2(j)),
         e AS (SELECT cell, i, j, (i*i)%97 + (j*j)%89 + (i*j)%31 AS e FROM cells),
         nb AS (SELECT cell, e, k,
             i + [1,1,0,-1,-1,-1,0,1][k+1] AS ni,
             j + [0,1,1,1,0,-1,-1,-1][k+1] AS nj
           FROM e, range(0,8) t(k)),
         sc AS (SELECT cell, e, k, ni, nj,
             CASE WHEN ni BETWEEN 0 AND 99 AND nj BETWEEN 0 AND 99
                   AND e - ((ni*ni)%97 + (nj*nj)%89 + (ni*nj)%31) > 0
               THEN e - ((ni*ni)%97 + (nj*nj)%89 + (ni*nj)%31)
               ELSE -1 END AS drp FROM nb),
         pick AS (SELECT cell, drp, ni*100 + nj AS nc,
             row_number() OVER (PARTITION BY cell ORDER BY drp DESC, k ASC) AS rk
           FROM sc),
         succ AS (SELECT cell,
             CASE WHEN drp > 0 THEN nc ELSE cell END AS succ
           FROM pick WHERE rk = 1)"""

  private[graft] def watershedOracleSql: String =
    s"""WITH RECURSIVE $watershedCtes,
         w AS (SELECT cell, succ AS cur FROM succ
           UNION ALL
           SELECT w.cell, s.succ FROM w JOIN succ s ON s.cell = w.cur
           WHERE s.succ <> w.cur)
         SELECT w.cell, w.cur AS sink FROM w JOIN succ s ON s.cell = w.cur
         WHERE s.succ = w.cur ORDER BY w.cell"""

  /** Flow-accumulation oracle: every cell's downstream path enumerated by
    * the recursive walk (one row per (source, downstream node), absorbing
    * at the sink), then upstream counts per node + self.
    */
  private[graft] def flowaccumOracleSql: String =
    s"""WITH RECURSIVE $watershedCtes,
         p AS (SELECT cell, succ AS cur FROM succ WHERE succ <> cell
           UNION ALL
           SELECT p.cell, s.succ FROM p JOIN succ s ON s.cell = p.cur
           WHERE s.succ <> p.cur)
         SELECT s.cell, CAST(1 + COALESCE(q.cnt, 0) AS BIGINT) AS acc
         FROM succ s LEFT JOIN (SELECT cur, count(*) AS cnt FROM p GROUP BY 1) q
           ON q.cur = s.cell
         ORDER BY s.cell"""

  /** hex_rollup oracle: res-9 axial assignment → per-cell counts → centers
    * re-assigned at res 7 — op-order-identical to Hex.cellToParent
    * (cellCenter → latLngToCell; Sqrt3 = sqrt(3.0) in both engines).
    */
  private[graft] def hexRollupOracleSql: String = {
    val e9 = graft.geo.Hex.edge(9)
    val e7 = graft.geo.Hex.edge(7)
    s"""WITH pts AS ($quadrantPtsCte),
       ax9 AS (SELECT point_id,
         (sqrt(3.0)/3.0 * lng - lat/3.0) / CAST('$e9' AS DOUBLE) AS qf,
         (2.0/3.0 * lat) / CAST('$e9' AS DOUBLE) AS rf FROM pts),
       r09 AS (SELECT point_id, qf, rf, -qf - rf AS sf,
         CAST(floor(qf + 0.5) AS BIGINT) AS qi,
         CAST(floor(rf + 0.5) AS BIGINT) AS ri,
         CAST(floor(-qf - rf + 0.5) AS BIGINT) AS si FROM ax9),
       rr9 AS (SELECT point_id,
         CASE WHEN abs(qi - qf) > abs(ri - rf) AND abs(qi - qf) > abs(si - sf)
              THEN -ri - si ELSE qi END AS q,
         CASE WHEN NOT (abs(qi - qf) > abs(ri - rf) AND abs(qi - qf) > abs(si - sf))
                   AND abs(ri - rf) > abs(si - sf)
              THEN -qi - si ELSE ri END AS r FROM r09),
       g AS (SELECT q, r, count(*) AS n9 FROM rr9 GROUP BY 1, 2),
       ctr AS (SELECT n9,
         CAST('$e9' AS DOUBLE) * (sqrt(3.0) * q + sqrt(3.0) / 2.0 * r) AS cx,
         CAST('$e9' AS DOUBLE) * (CAST(1.5 AS DOUBLE) * r) AS cy FROM g),
       ax7 AS (SELECT n9,
         (sqrt(3.0)/3.0 * cx - cy/3.0) / CAST('$e7' AS DOUBLE) AS qf,
         (2.0/3.0 * cy) / CAST('$e7' AS DOUBLE) AS rf FROM ctr),
       r07 AS (SELECT *, -qf - rf AS sf,
         CAST(floor(qf + 0.5) AS BIGINT) AS qi,
         CAST(floor(rf + 0.5) AS BIGINT) AS ri,
         CAST(floor(-qf - rf + 0.5) AS BIGINT) AS si FROM ax7),
       rr7 AS (SELECT n9,
         CASE WHEN abs(qi - qf) > abs(ri - rf) AND abs(qi - qf) > abs(si - sf)
              THEN -ri - si ELSE qi END AS q7,
         CASE WHEN NOT (abs(qi - qf) > abs(ri - rf) AND abs(qi - qf) > abs(si - sf))
                   AND abs(ri - rf) > abs(si - sf)
              THEN -qi - si ELSE ri END AS r7 FROM r07)
       SELECT CAST(7 AS BIGINT) * 288230376151711744 + (q7 + 268435456) * 536870912 + (r7 + 268435456) AS cell7,
         CAST(sum(n9) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_children
       FROM rr7 GROUP BY 1 ORDER BY 1"""
  }

  /** Mosaic-downsample oracle: the 2:1 box mean over the assembled 2°
    * block, every sample recomputed closed-form (TileGen.sampleAt), absent
    * tiles ⇒ 0, `>> 2` exact mean.
    */
  private[graft] def tileMosaicOracleSql: String = {
    def samp(rE: String, cE: String): String =
      s"""(CASE WHEN ((plng + ($cE) // 600) = -118 AND (36 + ($rE) // 600) = 37)
              OR ((plng + ($cE) // 600) = -117 AND (36 + ($rE) // 600) = 36) THEN 0
           ELSE ((plng + ($cE) // 600 + 180)*7 + (36 + ($rE) // 600 + 90)*11) % 1000
                + 2*(($cE) % 600) + 3*(($rE) % 600)
                + (((($cE) % 600)//8) * ((($rE) % 600)//8)) % 32 END)"""
    s"""WITH rc AS (SELECT plng, tr.r AS r, tc.c AS c
         FROM (VALUES (-120), (-118)) p(plng),
              range(0,600) tr(r), range(0,600) tc(c)),
       s AS (SELECT plng, r, c,
         (${samp("2*r", "2*c")} + ${samp("2*r", "2*c+1")} +
          ${samp("2*r+1", "2*c")} + ${samp("2*r+1", "2*c+1")}) >> 2 AS v
         FROM rc)
       SELECT plng, 36 AS plat, CAST(count(*) AS BIGINT) AS n_px,
         CAST(sum(v) AS BIGINT) AS v_sum, CAST(sum(v*r) AS BIGINT) AS vr_sum,
         CAST(sum(v*c) AS BIGINT) AS vc_sum
       FROM s GROUP BY plng ORDER BY plng"""
  }

  /** Power-iteration oracle: the 3 rounds of integer-exact Xᵀ(Xv) unrolled
    * as CTE chains (v0 = e₀·1000; per-round ÷2²⁰ and max-normalize as
    * floor-of-double-division, mirroring Embeddings.powerIteration).
    */
  /** Shared WITH-body of the power-iteration replay: x (milli-quantized
    * corpus), v0 (seed) and per-round dot/u/s/m/v CTEs — reused by the
    * projection oracle below.
    */
  private[graft] def powerIterCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""dot$r AS (SELECT vec_id, CAST(sum(xq * v) AS BIGINT) AS s
           FROM x JOIN v${r - 1} USING (d) GROUP BY 1),
         u$r AS (SELECT d, CAST(sum(xq * s) AS BIGINT) AS u
           FROM x JOIN dot$r USING (vec_id) GROUP BY 1),
         s$r AS (SELECT d, CAST(floor(CAST(u AS DOUBLE)/1048576.0) AS BIGINT) AS su
           FROM u$r),
         m$r AS (SELECT max(abs(su)) AS m FROM s$r),
         v$r AS (SELECT d, CAST(floor(CAST(su AS DOUBLE)*1000.0/CAST(m AS DOUBLE))
           AS BIGINT) AS v FROM s$r, m$r)"""
    }.mkString(",\n         ")
    s"""x AS (SELECT vec_id, d,
           CAST(floor(CAST(embedding[d+1] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
         FROM embeddings, range(0,64) t(d)),
       v0 AS (SELECT d, CASE WHEN d = 0 THEN 1000 ELSE 0 END AS v
         FROM range(0,64) t(d)),
       $roundCtes"""
  }

  private[graft] def powerIterOracleSql(rounds: Int): String = {
    val out = (1 to rounds)
      .map(r => s"SELECT $r AS rnd, d, v FROM v$r").mkString(" UNION ALL ")
    s"""WITH ${powerIterCtes(rounds)}
       SELECT * FROM ($out) ORDER BY rnd, d"""
  }

  /** PCA-projection oracle: the round-3 direction replayed via the shared
    * CTEs, then the same milli-quantized integer dot per vector.
    */
  private[graft] def pcaProjectOracleSql: String =
    s"""WITH ${powerIterCtes(3)}
       SELECT vec_id, CAST(sum(xq * v) AS BIGINT) AS score
       FROM x JOIN v3 USING (d) GROUP BY 1 ORDER BY vec_id"""

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

  /** HITS oracle: the engine's 3 fixed rounds unrolled as CTEs — per round
    * auth_raw = Σ hub over in-edges, L1-renormalized to ppm by truncating
    * division, then hub_raw = Σ NEW auth over out-edges, renormalized the
    * same way. All arithmetic non-negative integers, so DuckDB's `//`
    * equals Spark's DIV bit-for-bit.
    */
  private[graft] def hitsOracleSql: String = {
    def norm(raw: String, out: String) =
      s"""(SELECT n.node,
             (COALESCE(x.raw, 0) * 1000000) // (SELECT sum(raw) FROM $raw) AS $out
           FROM nodes n LEFT JOIN $raw x USING (node))"""
    val rounds = (1 to 3).map { r =>
      s"""ar$r AS (SELECT e.dst AS node, sum(h.hub) AS raw
           FROM h${r - 1} h JOIN e ON e.src = h.node GROUP BY 1),
         a$r AS ${norm(s"ar$r", "auth")},
         hr$r AS (SELECT e.src AS node, sum(a.auth) AS raw
           FROM a$r a JOIN e ON e.dst = a.node GROUP BY 1),
         h$r AS ${norm(s"hr$r", "hub")}"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT l_suppkey % 500 AS src,
           l_partkey % 500 AS dst FROM lineitem
           WHERE l_suppkey % 500 <> l_partkey % 500),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
         $rounds
         SELECT CAST(a3.node AS BIGINT) AS node, CAST(a3.auth AS BIGINT) AS auth,
                CAST(h3.hub AS BIGINT) AS hub
         FROM a3 JOIN h3 USING (node) ORDER BY node"""
  }

  /** Two-hop oracle: wedge join for distance-2 candidates, EXISTS
    * anti-filter for direct neighbors, same canonical-undirected recipe.
    */
  private[graft] def twoHopOracleSql: String =
    """WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
         FROM lineitem WHERE l_orderkey % 7 = 0),
       e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
       sym AS (SELECT lo AS u, hi AS v FROM e2
               UNION ALL SELECT hi AS u, lo AS v FROM e2),
       direct AS (SELECT u AS node, count(*) AS n_direct FROM sym GROUP BY 1),
       th AS (SELECT DISTINCT a.u, b.v AS w FROM sym a JOIN sym b ON a.v = b.u
         WHERE b.v <> a.u),
       thx AS (SELECT u, w FROM th WHERE NOT EXISTS
         (SELECT 1 FROM sym s WHERE s.u = th.u AND s.v = th.w)),
       t2 AS (SELECT u AS node, count(*) AS n_twohop FROM thx GROUP BY 1)
       SELECT CAST(d.node AS BIGINT) AS node,
         CAST(n_direct AS BIGINT) AS n_direct,
         CAST(COALESCE(n_twohop, 0) AS BIGINT) AS n_twohop
       FROM direct d LEFT JOIN t2 USING (node) ORDER BY node"""

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

  /** k-core oracle: the engine's fixed-round peel unrolled as CTEs — per
    * round, degrees over edges with BOTH endpoints in the prior survivor
    * set, HAVING deg ≥ k. Same graph recipe as the engine (canonical
    * undirected dedup, self-loops dropped, adjacency doubled).
    */
  private[graft] def kcoreOracleSql: String = {
    val rounds = (1 to 4).map { r =>
      s"""d$r AS (SELECT s.u AS node, count(*) AS deg
           FROM sym s JOIN a${r - 1} x ON s.u = x.node
           JOIN a${r - 1} y ON s.v = y.node
           GROUP BY 1 HAVING count(*) >= 18),
         a$r AS (SELECT node FROM d$r)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT
           GREATEST(l_suppkey % 500, l_partkey % 500) AS hi,
           LEAST(l_suppkey % 500, l_partkey % 500) AS lo
         FROM lineitem WHERE l_orderkey % 7 = 0),
         e2 AS (SELECT hi, lo FROM e WHERE hi <> lo),
         sym AS (SELECT lo AS u, hi AS v FROM e2
                 UNION ALL SELECT hi AS u, lo AS v FROM e2),
         a0 AS (SELECT DISTINCT u AS node FROM sym),
         $rounds
         SELECT node, CAST(deg AS BIGINT) AS deg FROM d4 ORDER BY node"""
  }

  /** Hilbert-key oracle: the published xy→d recurrence unrolled as 8 CTE
    * steps — quadrant digit `(3·rx)⊕ry` written as the polynomial
    * `3rx + ry − 2·rx·ry` (rx, ry ∈ {0,1}), then the reflect+transpose
    * frame update, all in exact integers.
    */
  /** The 8-level Hilbert quadrant+rotation recurrence as chained CTEs
    * (h1..h8 from h0) — shared by the hilbert-key oracle and the
    * curve-locality audit.
    */
  private[graft] def hilbertStepCtes: String =
    (0 until 8).map { i =>
      val sv = 128 >> i
      s"""h${i + 1} AS (SELECT point_id,
          d + ${sv.toLong * sv} * (3 * rx + ry - 2 * rx * ry) AS d,
          CASE WHEN ry = 1 THEN x ELSE (CASE WHEN rx = 1 THEN $sv - 1 - y ELSE y END) END AS x,
          CASE WHEN ry = 1 THEN y ELSE (CASE WHEN rx = 1 THEN $sv - 1 - x ELSE x END) END AS y
        FROM (SELECT point_id, d, x, y,
            CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END AS rx,
            CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END AS ry FROM h$i))"""
    }.mkString(",\n         ")

  /** Bit-interleave Morton key of two 8-bit axes as a pure arithmetic
    * expression; `div` is the integer-division token ("DIV" Spark,
    * "//" DuckDB).
    */
  private[graft] def mortonSql(qx: String, qy: String, div: String): String =
    (0 until 8).map { k =>
      val p = 1 << k
      s"(($qx $div $p) % 2) * ${1L << (2 * k)} + " +
        s"(($qy $div $p) % 2) * ${1L << (2 * k + 1)}"
    }.mkString(" + ")

  private[graft] def hilbertOracleSql: String = {
    val steps = hilbertStepCtes
    s"""WITH pts AS (SELECT c_custkey AS point_id,
         -180 + (c_custkey % 360) + 0.5 AS lng,
         -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
       h0 AS (SELECT point_id, CAST(0 AS BIGINT) AS d,
         LEAST(255, GREATEST(0, CAST(floor(((lng + 180.0) / 360.0) * 256.0) AS BIGINT))) AS x,
         LEAST(255, GREATEST(0, CAST(floor(((lat + 90.0) / 180.0) * 256.0) AS BIGINT))) AS y FROM pts),
       $steps
       SELECT point_id, CAST(d AS BIGINT) AS hkey FROM h8 ORDER BY point_id"""
  }

  /** MMR oracle: the exact cosine top-20 kernel (same list_sum fold as
    * ann_cosine_topk), the candidate pairwise-sim matrix, then the 4
    * greedy rounds unrolled — each round scores the not-yet-picked
    * candidates via a correlated max-sim subquery against the selected
    * set and picks the (score desc, neighbor_id) winner.
    */
  private[graft] def mmrOracleSql: String = {
    val lam = "CAST(0.5 AS DOUBLE)"
    val rounds = (2 to 4).map { st =>
      s"""sc$st AS (SELECT c.qid, c.neighbor_id, c.rel,
            $lam * c.rel - $lam * (SELECT max(s.sim) FROM sim s
              JOIN sel${st - 1} p ON p.qid = s.qid AND p.neighbor_id = s.ib
              WHERE s.qid = c.qid AND s.ia = c.neighbor_id) AS score
          FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM sel${st - 1} p
            WHERE p.qid = c.qid AND p.neighbor_id = c.neighbor_id)),
         pick$st AS (SELECT qid, $st AS step, neighbor_id, rel, score FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, neighbor_id) AS rn FROM sc$st) WHERE rn = 1),
         sel$st AS (SELECT qid, neighbor_id FROM sel${st - 1}
           UNION ALL SELECT qid, neighbor_id FROM pick$st)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 3),
       p AS (SELECT qid, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qnrm * nrm) AS rel
         FROM q, n WHERE n.vec_id <> qid),
       cand AS (SELECT qid, neighbor_id, rel FROM (
           SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, neighbor_id) AS rk
           FROM p) WHERE rk <= 20),
       cv AS (SELECT c.qid, c.neighbor_id, n.v, n.nrm FROM cand c
         JOIN n ON n.vec_id = c.neighbor_id),
       sim AS (SELECT a.qid, a.neighbor_id AS ia, b.neighbor_id AS ib,
           list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS sim
         FROM cv a JOIN cv b ON a.qid = b.qid AND a.neighbor_id <> b.neighbor_id),
       sc1 AS (SELECT qid, neighbor_id, rel, $lam * rel AS score FROM cand),
       pick1 AS (SELECT qid, 1 AS step, neighbor_id, rel, score FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, neighbor_id) AS rn FROM sc1) WHERE rn = 1),
       sel1 AS (SELECT qid, neighbor_id FROM pick1),
       $rounds
       SELECT qid, CAST(step AS INTEGER) AS step, neighbor_id,
         round(rel, 4) AS rel_r, round(score, 4) AS score_r
       FROM (SELECT * FROM pick1 UNION ALL SELECT * FROM pick2
         UNION ALL SELECT * FROM pick3 UNION ALL SELECT * FROM pick4)
       ORDER BY qid, step"""
  }

  /** Farthest-first oracle: 4 unrolled pick rounds, each the LEAST of the
    * exact integer distances to every prior pivot, top-1 by
    * (d2 desc, vec_id).
    */
  private[graft] def farthestFirstOracleSql: String = {
    def d2(p: String) =
      s"CAST(list_sum(list_transform(range(1,65), " +
        s"i -> (q.eq[i] - $p.eq[i]) * (q.eq[i] - $p.eq[i]))) AS BIGINT)"
    val rounds = (1 to 4).map { r =>
      val pivots = (0 until r).map(j => s"p$j")
      val mind =
        if (r == 1) d2("p0")
        else pivots.map(d2).mkString("LEAST(", ", ", ")")
      s"""d$r AS (SELECT q.vec_id, q.eq, $mind AS d2
         FROM e q, ${pivots.mkString(", ")}),
         p$r AS (SELECT vec_id, eq, d2 FROM d$r
           ORDER BY d2 DESC, vec_id LIMIT 1)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS eq
         FROM embeddings),
       p0 AS (SELECT vec_id, eq FROM e ORDER BY vec_id LIMIT 1),
       $rounds
       SELECT CAST(0 AS BIGINT) AS pick_no, vec_id,
         CAST(0 AS BIGINT) AS d2 FROM p0
       UNION ALL SELECT 1, vec_id, d2 FROM p1
       UNION ALL SELECT 2, vec_id, d2 FROM p2
       UNION ALL SELECT 3, vec_id, d2 FROM p3
       UNION ALL SELECT 4, vec_id, d2 FROM p4
       ORDER BY pick_no"""
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

  /** LCSS oracle: the tolerance-gated DP per anti-diagonal, COALESCE-0
    * borders (missing lattice edges contribute an empty subsequence).
    */
  private[graft] def lcssOracleSql: String = {
    val eps2 = 64L
    val diags = (1 to 10).map { k =>
      val p2 = s"ca${math.max(k - 2, 0)}"
      s"""ca$k AS MATERIALIZED (SELECT c.t1, c.t2, c.i, c.j,
          CASE WHEN c.d2 <= $eps2 THEN COALESCE(p2.v, 0) + 1
               ELSE GREATEST(COALESCE(p1.v, 0), COALESCE(p3.v, 0)) END AS v
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
       ca0 AS MATERIALIZED (SELECT t1, t2, i, j,
           CASE WHEN d2 <= $eps2 THEN 1 ELSE 0 END AS v
         FROM cells WHERE i = 0 AND j = 0),
       $diags,
       sz AS (SELECT t1, t2, CAST(max(i) + 1 AS INTEGER) AS n_a,
           CAST(max(j) + 1 AS INTEGER) AS n_b FROM cells GROUP BY 1, 2)
       SELECT ca10.t1, ca10.t2, sz.n_a, sz.n_b,
         CAST(ca10.v AS BIGINT) AS lcss_len,
         CAST(ca10.v AS BIGINT) * 1000000 // least(sz.n_a, sz.n_b) AS sim_ppm
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

  /** Map-matching oracle: the Viterbi recurrence replayed one MATERIALIZED
    * CTE per fix, the previous column folded in via a correlated min over
    * all 25 states.
    */
  private[graft] def mapMatchOracleSql: String = {
    val nodes = (for { i <- 0L until 5L; j <- 0L until 5L }
      yield s"(${i * 5 + j}, ${j * 20}, ${i * 20})").mkString(",")
    val steps = (1 to 5).map { k =>
      s"""v$k AS MATERIALIZED (SELECT f.traj_id, n.node_id,
          (SELECT min(p.cost + 3*(abs(n.nx - pn.nx) + abs(n.ny - pn.ny)))
             FROM v${k - 1} p JOIN nodes pn ON pn.node_id = p.node_id
             WHERE p.traj_id = f.traj_id)
          + (f.px - n.nx)*(f.px - n.nx) + (f.py - n.ny)*(f.py - n.ny) AS cost
        FROM fx f, nodes n WHERE f.seq = $k)"""
    }.mkString(",\n         ")
    val out = (0 to 5).map(k =>
      s"SELECT traj_id, $k AS step, node_id, cost FROM v$k")
      .mkString("\n         UNION ALL ")
    s"""WITH p0 AS (SELECT user_id, ts, event_id,
         event_id % 7 AS dx, (event_id * 3) % 5 AS dy FROM events
         WHERE user_id < 12),
       c AS (SELECT user_id, ts, event_id,
           CAST(sum(dx) OVER w AS BIGINT) AS px,
           CAST(sum(dy) OVER w AS BIGINT) AS py,
           row_number() OVER w - 1 AS seq
         FROM p0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       fx AS MATERIALIZED (SELECT user_id AS traj_id, seq, px, py FROM c
         WHERE seq < 6),
       nodes(node_id, nx, ny) AS (VALUES $nodes),
       v0 AS MATERIALIZED (SELECT f.traj_id, n.node_id,
           (f.px - n.nx)*(f.px - n.nx) + (f.py - n.ny)*(f.py - n.ny) AS cost
         FROM fx f, nodes n WHERE f.seq = 0),
       $steps
       SELECT traj_id, CAST(step AS INT) AS step,
         CAST(node_id AS BIGINT) AS node_id, CAST(cost AS BIGINT) AS cost
       FROM ($out) ORDER BY traj_id, step, node_id"""
  }

  /** PPR oracle: the pagerank recurrence with the teleport share pinned to
    * the seed literals, 3 rounds unrolled.
    */
  private[graft] def pprOracleSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""c$r AS (SELECT e.dst AS node, sum(rr.ppr // o.outdeg) AS inflow
           FROM r${r - 1} rr JOIN outdeg o USING (node)
           JOIN e ON e.src = rr.node GROUP BY 1),
         r$r AS (SELECT n.node,
             (CASE WHEN n.node IN (7, 42, 99) THEN 150000 ELSE 0 END)
               + (850000 * COALESCE(c.inflow, 0)) // 1000000 AS ppr
           FROM nodes n LEFT JOIN c$r c USING (node))"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT l_suppkey % 500 AS src,
           l_partkey % 500 AS dst FROM lineitem),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         outdeg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(CASE WHEN node IN (7, 42, 99)
             THEN 1000000 ELSE 0 END AS BIGINT) AS ppr FROM nodes),
         $rounds
         SELECT node, CAST(ppr AS BIGINT) AS ppr FROM r3 ORDER BY node"""
  }

  /** Cost-distance oracle: the same 8-connected uphill-cost edges from
    * the closed-form field, the same 6 Bellman–Ford relaxations unrolled
    * as per-round min-aggregated CTEs (exact min-plus integers).
    */
  private[graft] def costDistanceOracleSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""d$r AS (SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d${r - 1}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM d${r - 1} p JOIN e ON e.src = p.node) GROUP BY node)"""
    }.mkString(",\n         ")
    s"""WITH g AS (SELECT range AS id, range // 100 AS i, range % 100 AS j
           FROM range(0, 10000)),
       nb(di, dj) AS (VALUES (1,0),(1,1),(0,1),(-1,1),(-1,0),(-1,-1),(0,-1),(1,-1)),
       e AS (SELECT i*100 + j AS src, (i+di)*100 + (j+dj) AS dst,
           1 + GREATEST(0,
             (((i+di)*(i+di))%97 + ((j+dj)*(j+dj))%89 + ((i+di)*(j+dj))%31)
             - ((i*i)%97 + (j*j)%89 + (i*j)%31)) AS w
         FROM g, nb
         WHERE i+di BETWEEN 0 AND 99 AND j+dj BETWEEN 0 AND 99),
       d0(node, dist) AS (SELECT 5050, 0),
       $rounds
       SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
       FROM d6 ORDER BY node"""
  }

  /** Convex-hull oracle: the Carathéodory certificate — a deduped point is
    * a hull vertex iff it is NOT strictly inside any triangle of same-group
    * points and NOT strictly between two of them on a segment. All cross
    * products are exact BIGINT (integer coordinates), so the certificate
    * identifies exactly the engine's minimal strict-turn vertex set.
    */
  private[graft] def convexHullOracleSql: String =
    """WITH raw AS (SELECT c_custkey % 25 AS gid,
           (c_custkey * 7) % 1201 AS x, (c_custkey * 13) % 1009 AS y
         FROM customer WHERE c_custkey <= 1000),
       pts AS (SELECT DISTINCT gid, x, y FROM raw),
       tri AS (SELECT DISTINCT p.gid, p.x, p.y
         FROM pts p
         JOIN pts a ON a.gid = p.gid
         JOIN pts b ON b.gid = p.gid
         JOIN pts c ON c.gid = p.gid
         WHERE ((a.x-p.x)*(b.y-p.y) - (a.y-p.y)*(b.x-p.x) > 0 AND
                (b.x-p.x)*(c.y-p.y) - (b.y-p.y)*(c.x-p.x) > 0 AND
                (c.x-p.x)*(a.y-p.y) - (c.y-p.y)*(a.x-p.x) > 0)
            OR ((a.x-p.x)*(b.y-p.y) - (a.y-p.y)*(b.x-p.x) < 0 AND
                (b.x-p.x)*(c.y-p.y) - (b.y-p.y)*(c.x-p.x) < 0 AND
                (c.x-p.x)*(a.y-p.y) - (c.y-p.y)*(a.x-p.x) < 0)),
       seg AS (SELECT DISTINCT p.gid, p.x, p.y
         FROM pts p
         JOIN pts a ON a.gid = p.gid
         JOIN pts b ON b.gid = p.gid
         WHERE (a.x-p.x)*(b.y-p.y) - (a.y-p.y)*(b.x-p.x) = 0
           AND (p.x-a.x)*(b.x-p.x) + (p.y-a.y)*(b.y-p.y) > 0)
       SELECT gid, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y FROM (
         SELECT * FROM pts
         EXCEPT (SELECT * FROM tri UNION SELECT * FROM seg))
       ORDER BY gid, x, y"""

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

  /** TPI oracle: 24·centre − Σ(5×5 neighbourhood minus centre) on the
    * synthetic grid, neighbours clamped, the two absent tiles ⇒ 0.
    */
  private[graft] def tpiOracleSql: String = {
    val terms = (for { dr <- -2 to 2; dc <- -2 to 2; if !(dr == 0 && dc == 0) }
      yield gridV(clamp("cn", dc), clamp("rn", dr))).mkString(" + ")
    s"""$nodeScaffoldSql,
       c AS (SELECT *, ${gridV("cn", "rn")} AS vc FROM b)
       SELECT point_id,
         CAST(CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0
                   ELSE 24*vc - ($terms) END AS BIGINT) AS tpi24
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
