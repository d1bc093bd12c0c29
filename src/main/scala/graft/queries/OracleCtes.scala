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
import OracleCtes2._

/** DuckDB oracle SQL builders (part 1): CTE factories and SQL fragments.
  * All members are defs (no cross-file val init-order hazards).
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object OracleCtes {

  /** Douglas-Peucker oracle: the recursion unrolled as `levels` chained CTE
    * levels (standard SQL recursion cannot aggregate/window in the recursive
    * term). Each level joins the still-active chords to their interior
    * points, ranks by the sqrt/div-free split metric m = cross² (point
    * distance² on a degenerate chord) with ties to the smallest seq —
    * exactly [[graft.geo.Simplify]]'s strict-> scan — and splits where
    * m > ε²·len². `levels` is sized ABOVE the measured max split depth of
    * the deterministic gate data (13 at sf0.01, 24 at sf0.1; ε = 0.25,
    * ε² = 0.0625 exact in binary): the DP result is depth-independent, and
    * an undersized unroll would surface as a gate mismatch, never a silent
    * false pass.
    */
  private[graft] def simplifyOracleSql(levels: Int): String = simplifyOracleCore(
    levels,
    """pts AS MATERIALIZED (SELECT point_id % 199 AS line_id, point_id AS seq, lng, lat
       FROM p0 WHERE point_id % 10 = 0)""",
    "SELECT line_id, seq, lng, lat FROM keeps ORDER BY line_id, seq")

  private[graft] def simplifyOracleCore(levels: Int, ptsSql: String,
                                 finalSelect: String): String = {
    // segments CARRY their chord-endpoint coords (alng/alat/blng/blat) so
    // each level joins the (MATERIALIZED — one parquet scan, not one per
    // reference) points CTE exactly once; split rows carry the split point's
    // coords into the child segments the same way.
    val len2 = "(s.blng-s.alng)*(s.blng-s.alng)+(s.blat-s.alat)*(s.blat-s.alat)"
    val cross = "((s.blng-s.alng)*(p.lat-s.alat)-(s.blat-s.alat)*(p.lng-s.alng))"
    val m = s"CASE WHEN $len2 = 0 THEN (p.lng-s.alng)*(p.lng-s.alng)+(p.lat-s.alat)*(p.lat-s.alat) " +
      s"ELSE $cross*$cross END"
    val t = s"CASE WHEN $len2 = 0 THEN 0.0625 ELSE 0.0625 * ($len2) END"
    val levelCtes = (1 to levels).map { k =>
      s"""cand$k AS (SELECT s.line_id, s.lo, s.hi, s.alng, s.alat, s.blng, s.blat,
            p.seq, p.lng AS plng, p.lat AS plat, $m AS m, $t AS t,
            row_number() OVER (PARTITION BY s.line_id, s.lo, s.hi ORDER BY $m DESC, p.seq) AS rn
          FROM seg${k - 1} s
          JOIN pts p ON p.line_id = s.line_id AND p.seq > s.lo AND p.seq < s.hi),
        split$k AS MATERIALIZED (SELECT * FROM cand$k WHERE rn = 1 AND m > t),
        seg$k AS (SELECT line_id, lo, seq AS hi, alng, alat, plng AS blng, plat AS blat FROM split$k
                  UNION ALL
                  SELECT line_id, seq AS lo, hi, plng AS alng, plat AS alat, blng, blat FROM split$k)"""
    }.mkString(",\n")
    val keepUnions = (1 to levels)
      .map(k => s"UNION SELECT line_id, seq, plng AS lng, plat AS lat FROM split$k").mkString(" ")
    s"""WITH p0 AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
         -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
         36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
         FROM lineitem),
       $ptsSql,
       ends AS (SELECT line_id, min(seq) AS lo, max(seq) AS hi FROM pts GROUP BY line_id),
       seg0 AS (SELECT e.line_id, e.lo, e.hi, a.lng AS alng, a.lat AS alat,
           b.lng AS blng, b.lat AS blat
         FROM ends e
         JOIN pts a ON a.line_id = e.line_id AND a.seq = e.lo
         JOIN pts b ON b.line_id = e.line_id AND b.seq = e.hi),
       $levelCtes,
       keeps AS (SELECT line_id, lo AS seq, alng AS lng, alat AS lat FROM seg0
         UNION SELECT line_id, hi AS seq, blng AS lng, blat AS lat FROM seg0 $keepUnions)
       $finalSelect"""
  }

  /** Shared PIP oracle: bbox prefilter (a superset — every ray-cast-inside
    * point lies in the bbox) then the exact ray-cast edge tests with the
    * same (i,j) edge orientation and IEEE op order as graft.geo.RayCast.
    * Divisions sit inside CASE so the horizontal base edge never divides
    * by zero.
    */
  private[graft] def pipOracleFor(ptsCte: String): String =
    s"""WITH pts AS ($ptsCte),
       tri AS (SELECT s_suppkey AS poly_id,
         -120.0 + (s_suppkey % 40) * 0.1 AS cx,
         36.0 + ((s_suppkey * 3) % 20) * 0.1 AS cy,
         0.05 + (s_suppkey % 7) * 0.013 AS w,
         0.04 + (s_suppkey % 5) * 0.017 AS h
         FROM supplier),
       v AS (SELECT poly_id, cx AS x1, cy + h AS y1, cx - w AS x2, cy - h AS y2,
         cx + w AS x3, cy - h AS y3 FROM tri),
       cand AS (SELECT p.point_id, p.px, p.py, v.* FROM pts p JOIN v
         ON p.px >= v.x2 AND p.px <= v.x3 AND p.py >= v.y2 AND p.py <= v.y1)
       SELECT point_id, poly_id FROM cand
       WHERE ((CASE WHEN (y1 > py) <> (y3 > py) AND px < (x3 - x1) * (py - y1) / (y3 - y1) + x1 THEN 1 ELSE 0 END)
            + (CASE WHEN (y2 > py) <> (y1 > py) AND px < (x1 - x2) * (py - y2) / (y1 - y2) + x2 THEN 1 ELSE 0 END)
            + (CASE WHEN (y3 > py) <> (y2 > py) AND px < (x2 - x3) * (py - y3) / (y2 - y3) + x3 THEN 1 ELSE 0 END)) % 2 = 1
       ORDER BY point_id, poly_id"""

  /** Polygon-join oracle: bbox-overlap candidates (a superset of the truth,
    * like the engine's S2-cover join) + the SAME orientation-sign predicate
    * in DuckDB list-lambda syntax.
    */
  private[graft] def polyJoinOracleSql: String = {
    def orient(ax: String, ay: String, bx: String, by: String,
               cx: String, cy: String): String =
      s"((($bx) - ($ax)) * (($cy) - ($ay)) - ((($by) - ($ay)) * (($cx) - ($ax))))"
    def vin(pxs: String, pys: String, qx: String, qy: String): String =
      s"len(list_filter(range(1, len($pxs)+1), i -> ${orient(
        s"$pxs[i]", s"$pys[i]",
        s"$pxs[(i % len($pxs)) + 1]", s"$pys[(i % len($pxs)) + 1]",
        qx, qy)} >= 0)) = len($pxs)"
    val (a1x, a1y) = ("axs[i]", "ays[i]")
    val (a2x, a2y) = ("axs[(i % len(axs)) + 1]", "ays[(i % len(axs)) + 1]")
    val (b1x, b1y) = ("bxs[j]", "bys[j]")
    val (b2x, b2y) = ("bxs[(j % len(bxs)) + 1]", "bys[(j % len(bxs)) + 1]")
    val o1 = orient(a1x, a1y, a2x, a2y, b1x, b1y)
    val o2 = orient(a1x, a1y, a2x, a2y, b2x, b2y)
    val o3 = orient(b1x, b1y, b2x, b2y, a1x, a1y)
    val o4 = orient(b1x, b1y, b2x, b2y, a2x, a2y)
    val cross = s"""len(list_filter(range(1, len(axs)+1), i ->
        len(list_filter(range(1, len(bxs)+1), j ->
          ($o1) * ($o2) < 0 AND ($o3) * ($o4) < 0)) > 0)) > 0"""
    val bInA = s"len(list_filter(range(1, len(bxs)+1), j -> ${vin(
      "axs", "ays", "bxs[j]", "bys[j]")})) > 0"
    val aInB = s"len(list_filter(range(1, len(axs)+1), k -> ${vin(
      "bxs", "bys", "axs[k]", "ays[k]")})) > 0"
    s"""WITH ta AS (SELECT s_suppkey AS pa,
         -120.0 + (s_suppkey % 40) * 0.1 AS cx, 36.0 + ((s_suppkey * 3) % 20) * 0.1 AS cy,
         0.05 + (s_suppkey % 7) * 0.013 AS w, 0.04 + (s_suppkey % 5) * 0.017 AS h FROM supplier),
       a AS (SELECT pa, [cx, cx - w, cx + w] AS axs, [cy + h, cy - h, cy - h] AS ays,
         cx - w AS axmin, cx + w AS axmax, cy - h AS aymin, cy + h AS aymax FROM ta),
       tb AS (SELECT s_suppkey AS pb,
         -120.0 + ((s_suppkey * 7) % 40) * 0.1 + 0.03 AS cx, 36.0 + ((s_suppkey * 5) % 20) * 0.1 + 0.02 AS cy,
         0.06 + (s_suppkey % 5) * 0.011 AS w, 0.05 + (s_suppkey % 3) * 0.019 AS h FROM supplier),
       b AS (SELECT pb, [cx, cx - w, cx + w] AS bxs, [cy + h, cy - h, cy - h] AS bys,
         cx - w AS bxmin, cx + w AS bxmax, cy - h AS bymin, cy + h AS bymax FROM tb),
       cand AS (SELECT pa, pb, axs, ays, bxs, bys FROM a JOIN b
         ON axmin <= bxmax AND bxmin <= axmax AND aymin <= bymax AND bymin <= aymax)
       SELECT pa AS poly_a, pb AS poly_b FROM cand
       WHERE ($bInA) OR ($aInB) OR ($cross)
       ORDER BY 1, 2"""
  }

  // ---- polynomial-haversine SQL fragments (mirror graft.geo.Geodesic,
  //      coefficient doubles shared via Double.toString round-trips) ----
  private[graft] def d2s(d: Double): String = java.lang.Double.toString(d)

  private[graft] def sqlSinP(x: String): String = {
    import graft.geo.Geodesic._
    val x2 = s"(($x)*($x))"
    s"(($x) * (1.0 + $x2 * (${d2s(Sin3)} + $x2 * (${d2s(Sin5)} + $x2 * ${d2s(Sin7)}))))"
  }

  private[graft] def sqlCosP(x: String): String = {
    val x2 = s"(($x)*($x))"
    val tail = graft.geo.Geodesic.CosTail.reverse.foldLeft(null: String) { (acc, c) =>
      if (acc == null) d2s(c) else s"(${d2s(c)} + $x2 * ($acc))"
    }
    s"(1.0 + $x2 * ($tail))"
  }

  private[graft] def sqlAsinP(u: String): String = {
    import graft.geo.Geodesic._
    val u2 = s"(($u)*($u))"
    s"(($u) * (1.0 + $u2 * (${d2s(Asin3)} + $u2 * (${d2s(Asin5)} + $u2 * (${d2s(Asin7)} + $u2 * ${d2s(Asin9)})))))"
  }

  private[graft] def sqlHavT(plng: String, plat: String, tlng: String, tlat: String): String = {
    val deg = d2s(graft.geo.Geodesic.DegToRad)
    val dphi = s"((($tlat) - ($plat)) * $deg * 0.5)"
    val dlmb = s"((($tlng) - ($plng)) * $deg * 0.5)"
    val sp = sqlSinP(dphi); val sl = sqlSinP(dlmb)
    s"($sp * $sp + ${sqlCosP(s"(($plat) * $deg)")} * ${sqlCosP(s"(($tlat) * $deg)")} * $sl * $sl)"
  }

  private[graft] def sqlMetersFromT(t: String): String =
    s"(${d2s(2.0 * graft.geo.Geodesic.EarthRadiusM)} * ${sqlAsinP(s"sqrt($t)")})"

  private[graft] def knnGeodesicOracleSql: String =
    s"""WITH probes AS (SELECT c_custkey AS probe_id,
         -20.0 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS plng,
         66.0 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS plat
         FROM customer WHERE c_custkey % 100 = 0),
       targets AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS target_id,
         -20 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS tlng,
         66 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS tlat
         FROM lineitem),
       pairs AS (SELECT probe_id, target_id,
         ${sqlHavT("plng", "plat", "tlng", "tlat")} AS t
         FROM probes, targets),
       r AS (SELECT probe_id, target_id, t,
         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY t, target_id) AS INTEGER) AS rank FROM pairs)
       SELECT probe_id, target_id, rank, ${sqlMetersFromT("t")} AS dist_m
       FROM r WHERE rank <= 5 ORDER BY probe_id, rank"""

  /** Brute-force geodesic range join: same polynomial-haversine kernel; the
    * t-threshold is the ENGINE's Scala-computed double spliced exactly
    * (Double.toString round-trips), so the filter sees bit-equal operands.
    */
  private[graft] def rangeGeodesicOracleSql: String = {
    val sinHalf = graft.geo.Geodesic.sinP(
      2000.0 / (2.0 * graft.geo.Geodesic.EarthRadiusM))
    val tThr = sinHalf * sinHalf
    s"""WITH probes AS (SELECT c_custkey AS probe_id,
         -20.0 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS plng,
         66.0 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS plat
         FROM customer WHERE c_custkey % 100 = 0),
       targets AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS target_id,
         -20 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS tlng,
         66 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS tlat
         FROM lineitem),
       pairs AS (SELECT probe_id, target_id,
         ${sqlHavT("plng", "plat", "tlng", "tlat")} AS t
         FROM probes, targets)
       SELECT probe_id, target_id, ${sqlMetersFromT("t")} AS dist_m
       FROM pairs WHERE t <= ${d2s(tThr)}
       ORDER BY probe_id, target_id"""
  }

  /** Multi-ring even-odd oracle: same IEEE edge orientation as RayCast's
    * loop (edge (i, j = i−1) wrapping WITHIN each ring), crossing parity
    * summed across rings. The division is float (DuckDB inf/nan, never an
    * error) and guarded by the crossing condition like the engine's.
    */
  private[graft] def pipHolesOracleSql: String = {
    val j = "((i + len(xss[r]) - 2) % len(xss[r])) + 1"
    val crossings = s"""list_sum(list_transform(range(1, len(xss)+1), r ->
        len(list_filter(range(1, len(xss[r])+1), i ->
          (yss[r][i] > py) <> (yss[r][$j] > py)
          AND px < (xss[r][$j] - xss[r][i]) * (py - yss[r][i]) / (yss[r][$j] - yss[r][i]) + xss[r][i]))))"""
    s"""WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
         -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS px,
         36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS py
         FROM lineitem),
       tri AS (SELECT s_suppkey AS poly_id,
         -120.0 + (s_suppkey % 40) * CAST(0.1 AS DOUBLE) AS cx,
         36.0 + ((s_suppkey * 3) % 20) * CAST(0.1 AS DOUBLE) AS cy,
         CAST(0.05 AS DOUBLE) + (s_suppkey % 7) * CAST(0.013 AS DOUBLE) AS w,
         CAST(0.04 AS DOUBLE) + (s_suppkey % 5) * CAST(0.017 AS DOUBLE) AS h
         FROM supplier),
       poly AS (SELECT poly_id, cx, cy, w, h,
         [[cx - w, cx + w, cx + w, cx - w],
          [cx - w*CAST(0.5 AS DOUBLE), cx + w*CAST(0.5 AS DOUBLE), cx + w*CAST(0.5 AS DOUBLE), cx - w*CAST(0.5 AS DOUBLE)],
          [cx + CAST(0.35 AS DOUBLE) - w*CAST(0.4 AS DOUBLE), cx + CAST(0.35 AS DOUBLE) + w*CAST(0.4 AS DOUBLE),
           cx + CAST(0.35 AS DOUBLE) + w*CAST(0.4 AS DOUBLE), cx + CAST(0.35 AS DOUBLE) - w*CAST(0.4 AS DOUBLE)]] AS xss,
         [[cy - h, cy - h, cy + h, cy + h],
          [cy - h*CAST(0.5 AS DOUBLE), cy - h*CAST(0.5 AS DOUBLE), cy + h*CAST(0.5 AS DOUBLE), cy + h*CAST(0.5 AS DOUBLE)],
          [cy - h*CAST(0.4 AS DOUBLE), cy - h*CAST(0.4 AS DOUBLE), cy + h*CAST(0.4 AS DOUBLE), cy + h*CAST(0.4 AS DOUBLE)]] AS yss
         FROM tri),
       cand AS (SELECT p.point_id, p.px, p.py, poly.poly_id, xss, yss FROM pts p JOIN poly
         ON p.px >= cx - w AND p.px <= cx + CAST(0.35 AS DOUBLE) + w*CAST(0.4 AS DOUBLE)
         AND p.py >= cy - h AND p.py <= cy + h)
       SELECT point_id, poly_id FROM cand WHERE ($crossings) % 2 = 1
       ORDER BY point_id, poly_id"""
  }

  /** Oracle of events_hll_distinct (the batch sketch). */
  private[graft] def hllDistinctOracleSql: String = {
    val lsbCase = (0 until 26).map(i => s"WHEN ${1L << i} THEN ${i + 1}")
      .mkString(" ")
    s"""WITH h AS (SELECT event_type,
           (user_id * 1103515245 + 12345) % 2147483648 AS h FROM events),
       b AS (SELECT event_type, h % 32 AS bucket, h // 32 AS rest FROM h),
       r AS (SELECT event_type, bucket,
           CASE (rest & -rest) $lsbCase ELSE 27 END AS rk FROM b),
       m AS (SELECT event_type, bucket, max(rk) AS m FROM r GROUP BY 1, 2),
       s AS (SELECT event_type, count(*) AS n_buckets,
           CAST(sum(1::BIGINT << (40 - m)) AS BIGINT) AS sump
         FROM m GROUP BY 1),
       q AS (SELECT event_type, n_buckets,
           CAST(floor(CAST(0.697 AS DOUBLE) * CAST(1125899906842624 AS DOUBLE)
             / CAST(sump + (32 - n_buckets) * (1::BIGINT << 40) AS DOUBLE)) AS BIGINT) AS hll_q
         FROM s)
       SELECT q.event_type, n_buckets, hll_q, e.n_exact
       FROM q JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
                    FROM events GROUP BY 1) e ON q.event_type = e.event_type
       ORDER BY q.event_type"""
  }

  private[graft] def pipOracleSql: String = pipOracleFor(
    """SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
       -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS px,
       36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS py
       FROM lineitem""")

  private[graft] def pipOracleSkewSql: String = pipOracleFor(
    """SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
       CASE WHEN l_orderkey % 3 = 0
         THEN -119.0 + (((l_partkey*600 + l_suppkey) % 3000) + 0.5)/3000.0 * 0.1
         ELSE -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 END AS px,
       CASE WHEN l_orderkey % 3 = 0
         THEN 36.5 + (((l_suppkey*131 + l_linenumber) % 3000) + 0.5)/3000.0 * 0.1
         ELSE 36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 END AS py
       FROM lineitem""")

  // ---- shared DuckDB fragments for the dedup/similarity oracles ----
  /** 60-bit md5 hash — mirrors TextDedup.h60. */
  private[graft] def sqlH60(x: String): String =
    s"CAST(('0x' || substring(md5($x),1,15)) AS BIGINT)"
  /** Word 3-gram shingles — mirrors TextDedup.shingles(_, 3). */
  private[graft] def sqlShingles3: String =
    """CASE WHEN len(string_split(text,' ')) >= 3
       THEN list_transform(range(1, len(string_split(text,' '))-1),
         i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
       ELSE [text] END"""
  private[graft] def sqlDedupCorpus: String =
    """SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
       UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz qq ww ee rr tt' AS text
         FROM documents WHERE doc_id % 7 = 0"""
  /** Sequential-fold dot product of v against hyperplane j — mirrors
    * Embeddings.dot/planeWeight (left fold, same IEEE op order).
    */
  private[graft] def sqlPlaneDot(j: Int): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(0,64),
        d -> v[d+1] * ((($j*97 + d*31) % 19) - 9))), (p,q) -> p + q)"""

  /** Shared WITH-body for the MinHash oracles (pairs + clustering). */
  private[graft] def minhashCtes: String = {
    val sigs = (0 until 8).map { j =>
      s"list_min(list_transform(hv, h -> (${2 * j + 3}*h + ${5 * j + 7}) % 1048573)) AS m$j"
    }.mkString(",\n           ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band_id, m${2 * b}*1048573 + m${2 * b + 1} AS band_key FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""corpus AS ($sqlDedupCorpus),
       sh AS (SELECT doc_id, $sqlShingles3 AS sh FROM corpus),
       hv AS (SELECT doc_id, list_transform(sh, x -> ${sqlH60("x")} % 1048573) AS hv FROM sh),
       sig AS (SELECT doc_id, $sigs FROM hv),
       banded AS ($bandRows)"""
  }

  /** SemDeDup oracle: the trained-centroid CTEs (identical to
    * ann_kmeans_train), the embedding dedup corpus, final assignment by
    * (d2, c) rank, and the within-cluster cosine prune — every cosine is
    * the same left-fold dot / (na·nb) the engine computes.
    */
  private[graft] def semDedupOracleSql: String = {
    def fdot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(0,64),
          d -> $a.v[d+1]*$b.v[d+1])), (p,q) -> p + q)"""
    s"""WITH ${kmeansTrainCtes(8, 3)},
       corpus AS (
         SELECT vec_id, v FROM vv
         UNION ALL SELECT vec_id + 100000 AS vec_id, v FROM vv WHERE vec_id % 10 = 0
         UNION ALL SELECT vec_id + 200000 AS vec_id,
           list_transform(range(0,64), d -> v[d+1] + CAST((d % 5) - 2 AS DOUBLE)*0.001) AS v
           FROM vv WHERE vec_id % 7 = 0),
       cd AS (SELECT vec_id, c, list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> (v[d+1]-cl[d+1])*(v[d+1]-cl[d+1]))), (p,q) -> p + q) AS d2
         FROM corpus, cents3),
       ca AS (SELECT vec_id, c AS centroid FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM cd)
         WHERE rn = 1),
       cn AS (SELECT corpus.vec_id, centroid, v,
           sqrt(list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> v[d+1]*v[d+1])), (p,q) -> p + q)) AS nrm
         FROM corpus JOIN ca ON ca.vec_id = corpus.vec_id),
       dups AS (SELECT b.vec_id, count(*) AS n_dups
         FROM cn a JOIN cn b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
         WHERE ${fdot("a", "b")} / (a.nrm * b.nrm) >= 0.95
         GROUP BY b.vec_id)
       SELECT c.vec_id, CAST(c.centroid AS INT) AS centroid,
         CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
         COALESCE(d.n_dups, 0) = 0 AS keep
       FROM ca c LEFT JOIN dups d ON d.vec_id = c.vec_id ORDER BY c.vec_id"""
  }

  /** Fuzzy-decontamination oracle: the minhash band pipeline over
    * corpus ∪ eval (corpus = non-eval docs + mutated eval copies at
    * +300000), cross-set band candidates, exact shingle-Jaccard verify.
    */
  private[graft] def decontamFuzzyOracleSql: String = {
    val sigs = (0 until 8).map { j =>
      s"list_min(list_transform(hv, h -> (${2 * j + 3}*h + ${5 * j + 7}) % 1048573)) AS m$j"
    }.mkString(",\n           ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band_id, m${2 * b}*1048573 + m${2 * b + 1} AS band_key FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""WITH alldocs AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 7
         UNION ALL SELECT doc_id + 300000 AS doc_id, text || ' zz qq ww ee rr tt' AS text
           FROM documents WHERE doc_id % 50 = 7
         UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 50 = 7),
       sh AS (SELECT doc_id, $sqlShingles3 AS sh FROM alldocs),
       hv AS (SELECT doc_id, list_transform(sh, x -> ${sqlH60("x")} % 1048573) AS hv FROM sh),
       sig AS (SELECT doc_id, $sigs FROM hv),
       banded AS ($bandRows),
       cand AS (SELECT DISTINCT a.doc_id, b.doc_id AS eval_id
         FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
         WHERE (a.doc_id >= 300000 OR a.doc_id % 50 <> 7)
           AND b.doc_id < 300000 AND b.doc_id % 50 = 7),
       ds AS (SELECT doc_id, list_distinct(sh) AS s FROM sh)
       SELECT doc_id, eval_id, j FROM (
         SELECT c.doc_id, c.eval_id,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             len(list_distinct(list_concat(sa.s, sb.s))), 6) AS j
         FROM cand c JOIN ds sa ON sa.doc_id = c.doc_id
           JOIN ds sb ON sb.doc_id = c.eval_id)
       WHERE j >= 0.5 ORDER BY doc_id, eval_id"""
  }

  /** MinHash-recall oracle: exact-Jaccard >= 0.5 truth (integer 2|∩| >= |∪|)
    * on the doc_id % 40 = 0 dedup-corpus subset vs the band-join detections.
    */
  private[graft] def minhashRecallOracleSql: String = {
    val sigs = (0 until 8).map { j =>
      s"list_min(list_transform(hv, h -> (${2 * j + 3}*h + ${5 * j + 7}) % 1048573)) AS m$j"
    }.mkString(",\n           ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band_id, m${2 * b}*1048573 + m${2 * b + 1} AS band_key FROM sig"
    }.mkString("\n           UNION ALL ")
    s"""WITH corpus AS ($sqlDedupCorpus),
       sub AS (SELECT * FROM corpus WHERE doc_id % 40 = 0),
       shr AS (SELECT doc_id, $sqlShingles3 AS sh FROM sub),
       shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM shr),
       truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM shd a, shd b WHERE a.doc_id < b.doc_id
           AND 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(list_concat(a.sh, b.sh)))),
       hv AS (SELECT doc_id, list_transform(sh, x -> ${sqlH60("x")} % 1048573) AS hv FROM shr),
       sig AS (SELECT doc_id, $sigs FROM hv),
       banded AS ($bandRows),
       det AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       hit AS (SELECT t.doc_a, t.doc_b FROM truth t JOIN det USING (doc_a, doc_b))
       SELECT (SELECT count(*) FROM truth) AS n_truth,
              (SELECT count(*) FROM hit) AS n_detected,
              CAST((SELECT count(*) FROM hit) AS DOUBLE) / (SELECT count(*) FROM truth) AS recall"""
  }

  private[graft] def minhashOracleSql: String =
    s"""WITH $minhashCtes
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
       WHERE a.doc_id < b.doc_id ORDER BY doc_a, doc_b"""

  /** Cross-modal verification oracle: the MinHash candidate pairs scored
    * by embedding cosine (copies map to base vectors via % 100000).
    */
  private[graft] def crossModalOracleSql: String = {
    def fdot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(0,64),
          d -> $a.v[d+1] * $b.v[d+1])), (p,q) -> p + q)"""
    s"""WITH $minhashCtes,
       pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       f AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0,
           list_transform(range(0,64), d -> v[d+1] * v[d+1])), (p,q) -> p + q)) AS nrm FROM vv),
       sc AS (SELECT p.doc_a, p.doc_b, ${fdot("a", "b")} / (a.nrm * b.nrm) AS cos
         FROM pairs p JOIN f a ON a.vec_id = p.doc_a % 100000
         JOIN f b ON b.vec_id = p.doc_b % 100000)
       SELECT doc_a, doc_b, round(cos, 4) AS cos_r,
         CAST(CASE WHEN cos >= 0.999 THEN 1 ELSE 0 END AS INT) AS vec_agree
       FROM sc ORDER BY doc_a, doc_b"""
  }

  /** Block-HOG oracle: the orientation octant ladder with the two block
    * GROUP BY keys added.
    */
  private[graft] def hogOracleSql: String = {
    def v(dc: Int, dr: Int) = gridV(s"c.range+($dc)", s"r.range+($dr)")
    s"""WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
       k AS (SELECT swlng, swlat,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM corners),
       g AS (SELECT swlng, swlat, (r.range // 150) AS br, (c.range // 150) AS bc,
           (${v(1, 0)} - ${v(-1, 0)}) AS gx,
           (${v(0, 1)} - ${v(0, -1)}) AS gy
         FROM k, range(1,600) r, range(1,600) c),
       sct AS (SELECT swlng, swlat, br, bc, gx, gy,
           CASE WHEN gx = 0 AND gy = 0 THEN 8
                WHEN gx > 0 AND gy >= 0 THEN (CASE WHEN gy < gx THEN 0 ELSE 1 END)
                WHEN gx <= 0 AND gy > 0 THEN (CASE WHEN -gx < gy THEN 2 ELSE 3 END)
                WHEN gx < 0 AND gy <= 0 THEN (CASE WHEN -gy < -gx THEN 4 ELSE 5 END)
                ELSE (CASE WHEN gx < -gy THEN 6 ELSE 7 END) END AS sector
         FROM g)
       SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
           CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
         CAST(br AS INT) AS br, CAST(bc AS INT) AS bc,
         CAST(sector AS INT) AS sector,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gx*gx + gy*gy) AS BIGINT) AS energy
       FROM sct GROUP BY 1, 2, 3, 4 ORDER BY image_id, br, bc, sector"""
  }

  /** Connected components of the MinHash pair graph as a recursive CTE:
    * enumerate every (doc, reachable doc) pair, component = min reachable.
    * Mirrors TextDedup.connectedComponents' min-label fixpoint exactly.
    */
  private[graft] def clusterOracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
         WHERE a.doc_id < b.doc_id),
       reach(doc, other) AS (
         SELECT doc_id, doc_id FROM corpus
         UNION
         SELECT r.doc, CASE WHEN e.doc_a = r.other THEN e.doc_b ELSE e.doc_a END
         FROM reach r JOIN edges e ON e.doc_a = r.other OR e.doc_b = r.other)
       SELECT doc AS doc_id, min(other) AS comp, doc = min(other) AS keep
       FROM reach GROUP BY doc ORDER BY doc_id"""

  /** CTEs of the img_phash_neardup oracle: recompute the 6×4 variant
    * corpus's 64-bit perceptual hashes from the closed-form tile generator,
    * band them 4×16 bits, and emit banded candidate pairs (`cand`). Ends
    * unterminated — the oracle appends its pair filter.
    */
  private[graft] def phashPairCtes: String =
    """corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat, ((8*r.range+7)//601)*8 + (8*c.range+7)//601 AS idx,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c),
         blk AS (SELECT swlng, swlat, idx, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
           FROM g GROUP BY 1, 2, 3),
         vb AS (SELECT swlng, swlat, vr.range AS var, idx,
           CAST(sv + CASE WHEN (((swlng+180)*31 + (swlat+90)*17 + idx*idx*7) % 64 < 32) != (idx < vr.range)
                          THEN 4000*n ELSE 0 END AS DOUBLE)/n AS bm
           FROM blk, range(0,4) vr),
         m AS (SELECT swlng, swlat, var, list_reduce(list(bm ORDER BY idx), (a, b) -> a + b)/64.0 AS mean
           FROM vb GROUP BY 1, 2, 3),
         bits AS (SELECT vb.swlng, vb.swlat, vb.var,
           CAST(sum(CASE WHEN idx < 63 AND bm > mean THEN CAST(1 AS BIGINT) << idx ELSE 0 END) AS BIGINT)
           + CASE WHEN max(CASE WHEN idx = 63 AND bm > mean THEN 1 ELSE 0 END) = 1
                  THEN -9223372036854775808 ELSE 0 END AS phash
           FROM vb JOIN m ON vb.swlng = m.swlng AND vb.swlat = m.swlat AND vb.var = m.var
           GROUP BY 1, 2, 3),
         corpus AS (SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
             CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0') ||
             '_v' || CAST(var AS VARCHAR)) AS image_id, phash FROM bits),
         bands AS (SELECT image_id, phash, b.range AS band_i,
             (phash >> (16*CAST(b.range AS INT))) & 65535 AS band_key
           FROM corpus, range(0,4) b),
         cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b, a.phash AS pa, b.phash AS pb
           FROM bands a JOIN bands b ON a.band_i = b.band_i AND a.band_key = b.band_key
             AND a.image_id < b.image_id)"""

  /** Shared CTEs for the Cavnar–Trenkle langid gates: regenerate the
    * deterministic multilingual corpus (word lists rendered from the SAME
    * ops.LangId constants), re-derive padded char 2-/3-grams, train the
    * rank-order profiles on the doc_id%10<3 slice, and classify the
    * held-out slice by the out-of-place distance — every step integer
    * counting + ranking with total tie orders.
    */
  private[graft] def langIdCtes: String = {
    val langwords = "[" + ops.LangId.LangWords.map(ws =>
      "[" + ws.map("'" + _ + "'").mkString(",") + "]").mkString(",") + "]"
    val shared = "[" + ops.LangId.SharedWords.map("'" + _ + "'").mkString(",") + "]"
    val langnames = "[" + ops.LangId.LangNames.map("'" + _ + "'").mkString(",") + "]"
    s"""base AS (SELECT doc_id, $langnames[CAST(doc_id % 4 AS INT) + 1] AS lang FROM documents),
       gen AS (SELECT doc_id, lang,
           list_transform(range(0,30), i -> CASE WHEN (doc_id*13 + i*11) % 10 < 3
             THEN $shared[CAST((doc_id*7 + i*3) % 8 AS INT) + 1]
             ELSE $langwords[CAST(doc_id % 4 AS INT) + 1][CAST((doc_id*31 + i*7) % 16 AS INT) + 1] END) AS ws
         FROM base),
       ngr AS (SELECT doc_id, lang, unnest(flatten(list_transform(ws, w0 ->
           flatten([ list_transform(range(1, length('_' || w0 || '_')), i -> substring('_' || w0 || '_', CAST(i AS INT), 2)),
                     list_transform(range(1, length('_' || w0 || '_') - 1), i -> substring('_' || w0 || '_', CAST(i AS INT), 3)) ])))) AS ngram
         FROM gen),
       tn AS (SELECT lang, ngram, count(*) AS cnt FROM ngr WHERE doc_id % 10 < 3 GROUP BY 1, 2),
       prof AS (SELECT lang, ngram, rank FROM (
           SELECT lang, ngram, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, ngram) AS rank FROM tn)
         WHERE rank <= 40),
       dn AS (SELECT doc_id, ngram, count(*) AS cnt FROM ngr WHERE doc_id % 10 >= 3 GROUP BY 1, 2),
       dprof AS (SELECT doc_id, ngram, drank FROM (
           SELECT doc_id, ngram, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ngram) AS drank FROM dn)
         WHERE drank <= 40),
       langs AS (SELECT DISTINCT lang FROM prof),
       sc AS (SELECT d.doc_id, l.lang,
           CAST(sum(COALESCE(abs(CAST(d.drank AS BIGINT) - CAST(p.rank AS BIGINT)), 40)) AS BIGINT) AS dist
         FROM dprof d CROSS JOIN langs l LEFT JOIN prof p ON p.lang = l.lang AND p.ngram = d.ngram
         GROUP BY 1, 2),
       pred AS (SELECT doc_id, lang AS predicted, dist FROM (
           SELECT doc_id, lang, dist, row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn FROM sc)
         WHERE rn = 1)"""
  }

  private[graft] def simhashOracleSql: String = {
    val bits = (0 until 16).map { b =>
      s"""(CASE WHEN list_sum(list_transform(hw, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 THEN ${1L << b} ELSE 0 END)"""
    }.mkString(" + ")
    s"""WITH hw AS (SELECT doc_id, list_transform(string_split(text,' '),
         w -> ${sqlH60("w")}) AS hw FROM documents)
       SELECT doc_id, CAST($bits AS BIGINT) AS simhash16 FROM hw ORDER BY doc_id"""
  }

  private[graft] def annLshOracleSql: String = {
    val bucket = (0 until 8).map { j =>
      s"(CASE WHEN ${sqlPlaneDot(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val pairDot = """list_reduce(list_prepend(0.0, list_transform(range(0,64),
        d -> a.v[d+1] * b.v[d+1])), (p,q) -> p + q)"""
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM corpus),
       f AS (SELECT vec_id, v, $bucket AS bucket,
         sqrt(list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> v[d+1] * v[d+1])), (p,q) -> p + q)) AS nrm FROM vv)
       SELECT id_a, id_b, round(cos, 4) AS cos_r FROM (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           $pairDot / (a.nrm * b.nrm) AS cos
         FROM f a JOIN f b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       WHERE cos >= 0.999 ORDER BY id_a, id_b"""
  }

  /** IVF top-k search oracle: same centroid formula/assignment tie order
    * ((d2, c) lexicographic), same nProbe selection, same cosine fold and
    * (cos DESC, neighbor_id) rank order as Embeddings.ivfSearch.
    */
  private[graft] def ivfTopkOracleSql: String =
    """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cents AS (SELECT range AS c FROM range(0, 8)),
       d AS (SELECT vec_id, c,
         list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
           (p,q) -> p + q) AS d2
         FROM vv, cents),
       nrm AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> v[d+1] * v[d+1])), (p,q) -> p + q)) AS nrm FROM vv),
       assign AS (SELECT vec_id, c AS centroid FROM (
         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d) WHERE rn = 1),
       qprobe AS (SELECT vec_id AS qid, c AS centroid FROM (
         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d WHERE vec_id < 5) WHERE rn <= 2),
       cand AS (SELECT q.qid, n.vec_id AS neighbor_id, a.centroid,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> n.v[d+1] * qn.v[d+1])), (p,q) -> p + q) / (n.nrm * qn.nrm) AS cos
         FROM qprobe q JOIN assign a ON a.centroid = q.centroid
         JOIN nrm n ON n.vec_id = a.vec_id
         JOIN nrm qn ON qn.vec_id = q.qid
         WHERE n.vec_id <> q.qid)
       SELECT qid, neighbor_id, CAST(centroid AS INT) AS centroid, rank, round(cos, 4) AS cos_r FROM (
         SELECT qid, neighbor_id, centroid, cos,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM cand)
       WHERE rank <= 5 ORDER BY qid, rank"""

  /** Shared IVF-PQ candidate CTEs (coarse assign + PQ codes + qprobe +
    * ADC-scored candidates) for the topk and recall oracles — the codebook
    * constants and tie-break order live in exactly one place. The ADC
    * subspace sum is a left fold seeded with 0.0, IEEE-identical to
    * Spark's `(0 until 8).map(term).reduce(_ + _)`.
    */
  private[graft] def ivfPqCandCtes(maxQid: Int): String =
    s"""vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cents AS (SELECT range AS c FROM range(0, 8)),
       d AS (SELECT vec_id, c,
         list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
           (p,q) -> p + q) AS d2
         FROM vv, cents),
       assign AS (SELECT vec_id, c AS centroid FROM (
         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d) WHERE rn = 1),
       pqd AS (SELECT vec_id, s.s AS s, kk.k AS k,
           list_reduce(list_prepend(0.0, list_transform(range(0,8),
             dd -> (v[s.s*8 + dd + 1] - (((s.s*29 + kk.k*53 + dd*17) % 13) - 6)) * (v[s.s*8 + dd + 1] - (((s.s*29 + kk.k*53 + dd*17) % 13) - 6)))),
             (p,q) -> p + q) AS d2
         FROM vv, (SELECT range AS s FROM range(0,8)) s, (SELECT range AS k FROM range(0,8)) kk),
       codes AS (SELECT vec_id, list(k ORDER BY s) AS codes FROM (
         SELECT vec_id, s, k, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, k) AS rn FROM pqd)
         WHERE rn = 1 GROUP BY vec_id),
       qprobe AS (SELECT vec_id AS qid, c AS centroid FROM (
         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d WHERE vec_id < $maxQid) WHERE rn <= 2),
       cand AS (SELECT q.qid, a.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(0,8), s ->
             list_reduce(list_prepend(0.0, list_transform(range(0,8),
               dd -> (qv.v[s*8 + dd + 1] - (((s*29 + cd.codes[s+1]*53 + dd*17) % 13) - 6)) * (qv.v[s*8 + dd + 1] - (((s*29 + cd.codes[s+1]*53 + dd*17) % 13) - 6)))),
               (p,q) -> p + q))), (p,q) -> p + q) AS adc
         FROM qprobe q JOIN assign a ON a.centroid = q.centroid
         JOIN codes cd ON cd.vec_id = a.vec_id
         JOIN vv qv ON qv.vec_id = q.qid
         WHERE a.vec_id <> q.qid)"""

  private[graft] def ivfPqOracleSql: String =
    s"""WITH ${ivfPqCandCtes(5)}
       SELECT qid, neighbor_id, rank, round(adc, 4) AS adc_r FROM (
         SELECT qid, neighbor_id, adc,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS INTEGER) AS rank FROM cand)
       WHERE rank <= 5 ORDER BY qid, rank"""

  /** IVF-PQ recall oracle: the shared [[ivfPqCandCtes]] (queries < 25)
    * semi-joined against the exact EUCLIDEAN top-5 baseline (ADC is L2 —
    * a cosine baseline would conflate quantization loss with metric
    * mismatch; Embeddings.ivfPqRecall scaladoc has the measurement).
    */
  private[graft] def ivfPqRecallOracleSql: String =
    s"""WITH ${ivfPqCandCtes(25)},
       pq AS (SELECT qid, neighbor_id FROM (
         SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS rank FROM cand)
         WHERE rank <= 5),
       exp AS (SELECT qn.vec_id AS qid, n.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (n.v[d+1] - qn.v[d+1]) * (n.v[d+1] - qn.v[d+1]))), (p,q) -> p + q) AS dist2
         FROM vv qn, vv n WHERE qn.vec_id < 25 AND n.vec_id <> qn.vec_id),
       ex AS (SELECT qid, neighbor_id FROM (
         SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY dist2, neighbor_id) AS rank FROM exp)
         WHERE rank <= 5),
       hits AS (SELECT p.qid, count(*) AS n_hits FROM pq p
         JOIN ex ON ex.qid = p.qid AND ex.neighbor_id = p.neighbor_id GROUP BY p.qid)
       SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
         COALESCE(h.n_hits, 0) / 5.0 AS recall
       FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 25) q
       LEFT JOIN hits h ON h.qid = q.qid ORDER BY q.qid"""

  /** Unrolled Lloyd-training CTEs for the coarse quantizer: `cents0` is the
    * deterministic Forgy seed (the first k vectors by id — the engine's
    * dataSeeds), each round r derives assignment `ca_r` (lexicographic
    * (d2, c) — same tie order as the engine's least()), the quantized sums
    * `cs_r`, and the carried centroid lists `cents_r` (empty (c, dim) slots
    * keep the previous value, as the engine's driver fold does). The d2 fold
    * and the one-division mean are IEEE-identical to the engine's, so every
    * round's centroids agree bit-for-bit.
    */
  private[graft] def kmeansTrainCtes(k: Int, rounds: Int): String = {
    val fold64 = "list_reduce(list_prepend(0.0, list_transform(range(0,64), " +
      "d -> (v[d+1]-cl[d+1])*(v[d+1]-cl[d+1]))), (p,q) -> p + q)"
    val sb = new StringBuilder
    sb ++= s"""vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cents0 AS (SELECT vec_id AS c, v AS cl FROM vv WHERE vec_id < $k)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
       cd$r AS (SELECT vec_id, c, $fold64 AS d2 FROM vv, cents${r - 1}),
       ca$r AS (SELECT vec_id, c AS centroid FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM cd$r)
         WHERE rn = 1),
       cs$r AS (SELECT centroid, dd.range AS dim, count(*) AS n,
           CAST(sum(CAST(floor(v[dd.range+1]*1000000.0) AS BIGINT)) AS BIGINT) AS sum_q
         FROM ca$r JOIN vv USING (vec_id) CROSS JOIN range(0,64) dd GROUP BY 1, 2),
       cents$r AS (SELECT p.c,
           list(COALESCE(CAST(x.sum_q AS DOUBLE)/(x.n*1000000.0), p.cl[dd.range+1]) ORDER BY dd.range) AS cl
         FROM cents${r - 1} p CROSS JOIN range(0,64) dd
         LEFT JOIN cs$r x ON x.centroid = p.c AND x.dim = dd.range
         GROUP BY p.c)"""
    }
    sb.toString
  }

  /** Unrolled Lloyd-training CTEs for the PQ codebooks (one (s, k) entry per
    * subspace x code, `dims = 64/nSub` local dims each; code k of subspace s
    * seeds from vector k's s-th subvector, the engine's per-subspace Forgy)
    * — the per-subspace twin of [[kmeansTrainCtes]]; needs `vv` in scope.
    */
  private[graft] def pqTrainCtes(nSub: Int, kCodes: Int, rounds: Int): String = {
    val dims = 64 / nSub
    val sb = new StringBuilder
    sb ++= s"""cb0 AS (SELECT ss.range AS s, vec_id AS k, list_transform(range(0,$dims),
           d -> v[ss.range*$dims + d + 1]) AS cl
         FROM vv CROSS JOIN range(0,$nSub) ss WHERE vec_id < $kCodes)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
       pd$r AS (SELECT vec_id, cb.s AS s, cb.k AS k,
           list_reduce(list_prepend(0.0, list_transform(range(0,$dims),
             dd -> (v[cb.s*$dims + dd + 1]-cb.cl[dd+1])*(v[cb.s*$dims + dd + 1]-cb.cl[dd+1]))),
             (p,q) -> p + q) AS d2
         FROM vv, cb${r - 1} cb),
       pa$r AS (SELECT vec_id, s, k AS code FROM (
           SELECT vec_id, s, k, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, k) AS rn FROM pd$r)
         WHERE rn = 1),
       ps$r AS (SELECT s, code, dd.range AS dim, count(*) AS n,
           CAST(sum(CAST(floor(v[s*$dims + dd.range + 1]*1000000.0) AS BIGINT)) AS BIGINT) AS sum_q
         FROM pa$r JOIN vv USING (vec_id) CROSS JOIN range(0,$dims) dd GROUP BY 1, 2, 3),
       cb$r AS (SELECT p.s, p.k,
           list(COALESCE(CAST(x.sum_q AS DOUBLE)/(x.n*1000000.0), p.cl[dd.range+1]) ORDER BY dd.range) AS cl
         FROM cb${r - 1} p CROSS JOIN range(0,$dims) dd
         LEFT JOIN ps$r x ON x.s = p.s AND x.code = p.k AND x.dim = dd.range
         GROUP BY p.s, p.k)"""
    }
    sb.toString
  }

  private[graft] def kmeansTrainOracleSql: String = {
    val per = (1 to 3).map { r =>
      s"""SELECT $r AS round, CAST(centroid AS INTEGER) AS centroid,
          CAST(dim AS INTEGER) AS dim, n, sum_q,
          CAST(sum_q AS DOUBLE)/(n*1000000.0) AS mean FROM cs$r"""
    }.mkString(" UNION ALL ")
    s"""WITH ${kmeansTrainCtes(8, 3)}
       SELECT * FROM ($per) ORDER BY round, centroid, dim"""
  }

  /** Shared trained-IVF-PQ candidate CTEs: both training loops (coarse +
    * PQ), final-round assignment/codes, probe lists for queries < maxQid,
    * and ADC candidates — the per-subspace terms fold in subspace order via
    * an ordered list aggregate, matching the engine's left-assoc sum
    * (prepending 0.0 is exact: every term is a nonnegative sum of squares).
    */
  private[graft] def ivfPqTrainedCandCtes(maxQid: Int): String =
    s"""${kmeansTrainCtes(8, 3)}, ${pqTrainCtes(8, 16, 3)},
       fd AS (SELECT vec_id, c,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (v[d+1]-cl[d+1])*(v[d+1]-cl[d+1]))), (p,q) -> p + q) AS d2
         FROM vv, cents3),
       fassign AS (SELECT vec_id, c AS centroid FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM fd)
         WHERE rn = 1),
       fqprobe AS (SELECT vec_id AS qid, c AS centroid FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
           FROM fd WHERE vec_id < $maxQid)
         WHERE rn <= 2),
       fpd AS (SELECT vec_id, cb.s AS s, cb.k AS k,
           list_reduce(list_prepend(0.0, list_transform(range(0,8),
             dd -> (v[cb.s*8 + dd + 1]-cb.cl[dd+1])*(v[cb.s*8 + dd + 1]-cb.cl[dd+1]))),
             (p,q) -> p + q) AS d2
         FROM vv, cb3 cb),
       fcodes AS (SELECT vec_id, s, k AS code FROM (
           SELECT vec_id, s, k, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, k) AS rn FROM fpd)
         WHERE rn = 1),
       adc_terms AS (SELECT q.qid, a.vec_id, cs.s,
           list_reduce(list_prepend(0.0, list_transform(range(0,8),
             dd -> (qv.v[cs.s*8 + dd + 1]-cb.cl[dd+1])*(qv.v[cs.s*8 + dd + 1]-cb.cl[dd+1]))),
             (p,q) -> p + q) AS term
         FROM fqprobe q JOIN fassign a ON a.centroid = q.centroid
         JOIN fcodes cs ON cs.vec_id = a.vec_id
         JOIN cb3 cb ON cb.s = cs.s AND cb.k = cs.code
         JOIN vv qv ON qv.vec_id = q.qid
         WHERE a.vec_id <> q.qid),
       cand AS (SELECT qid, vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list(term ORDER BY s)), (p,q) -> p + q) AS adc
         FROM adc_terms GROUP BY qid, vec_id)"""

  /** ADC shortlist (size `shortlist`) + exact L2 re-rank — the engine's
    * ivfPqSearchRefined replayed: the refine d2 is the same 64-dim fold.
    */
  private[graft] def ivfPqRefinedCtes(shortlist: Int): String =
    s"""short AS (SELECT qid, neighbor_id FROM (
           SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id) AS rank FROM cand)
         WHERE rank <= $shortlist),
       rr AS (SELECT s.qid, s.neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (n.v[d+1] - qv.v[d+1]) * (n.v[d+1] - qv.v[d+1]))), (p,q) -> p + q) AS dist2
         FROM short s JOIN vv n ON n.vec_id = s.neighbor_id
         JOIN vv qv ON qv.vec_id = s.qid)"""

  private[graft] def ivfPqTrainedRecallOracleSql: String =
    s"""WITH ${ivfPqTrainedCandCtes(25)}, ${ivfPqRefinedCtes(50)},
       pq AS (SELECT qid, neighbor_id FROM (
           SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY dist2, neighbor_id) AS rank FROM rr)
         WHERE rank <= 5),
       exp AS (SELECT qn.vec_id AS qid, n.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> (n.v[d+1] - qn.v[d+1]) * (n.v[d+1] - qn.v[d+1]))), (p,q) -> p + q) AS dist2
         FROM vv qn, vv n WHERE qn.vec_id < 25 AND n.vec_id <> qn.vec_id),
       ex AS (SELECT qid, neighbor_id FROM (
           SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY dist2, neighbor_id) AS rank FROM exp)
         WHERE rank <= 5),
       hits AS (SELECT p.qid, count(*) AS n_hits FROM pq p
         JOIN ex ON ex.qid = p.qid AND ex.neighbor_id = p.neighbor_id GROUP BY p.qid)
       SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
         COALESCE(h.n_hits, 0) / 5.0 AS recall
       FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 25) q
       LEFT JOIN hits h ON h.qid = q.qid ORDER BY q.qid"""

  /** Recall@5 oracle: IVF candidate set (same CTEs as the topk oracle, 25
    * queries) intersected with the exact brute-force top-5 per query.
    */
  private[graft] def ivfRecallOracleSql: String =
    """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cents AS (SELECT range AS c FROM range(0, 8)),
       d AS (SELECT vec_id, c,
         list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
           (p,q) -> p + q) AS d2
         FROM vv, cents),
       nrm AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> v[d+1] * v[d+1])), (p,q) -> p + q)) AS nrm FROM vv),
       assign AS (SELECT vec_id, c AS centroid FROM (
         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d) WHERE rn = 1),
       qprobe AS (SELECT vec_id AS qid, c AS centroid FROM (
         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d WHERE vec_id < 25) WHERE rn <= 2),
       cand AS (SELECT q.qid, n.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> n.v[d+1] * qn.v[d+1])), (p,q) -> p + q) / (n.nrm * qn.nrm) AS cos
         FROM qprobe q JOIN assign a ON a.centroid = q.centroid
         JOIN nrm n ON n.vec_id = a.vec_id
         JOIN nrm qn ON qn.vec_id = q.qid
         WHERE n.vec_id <> q.qid),
       ivf AS (SELECT qid, neighbor_id FROM (
         SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 5),
       exp AS (SELECT qn.vec_id AS qid, n.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(0,64),
             d -> n.v[d+1] * qn.v[d+1])), (p,q) -> p + q) / (n.nrm * qn.nrm) AS cos
         FROM nrm qn, nrm n WHERE qn.vec_id < 25 AND n.vec_id <> qn.vec_id),
       ex AS (SELECT qid, neighbor_id FROM (
         SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank FROM exp)
         WHERE rank <= 5),
       hits AS (SELECT i.qid, count(*) AS n_hits FROM ivf i
         JOIN ex ON ex.qid = i.qid AND ex.neighbor_id = i.neighbor_id GROUP BY i.qid)
       SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
         COALESCE(h.n_hits, 0) / 5.0 AS recall
       FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 25) q
       LEFT JOIN hits h ON h.qid = q.qid ORDER BY q.qid"""

  private[graft] def ivfOracleSql: String =
    """WITH vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cents AS (SELECT range AS c FROM range(0, 8)),
       d AS (SELECT vec_id, c,
         list_reduce(list_prepend(0.0, list_transform(range(0,64),
           d -> (v[d+1] - (((c*53 + d*17) % 13) - 6)) * (v[d+1] - (((c*53 + d*17) % 13) - 6)))),
           (p,q) -> p + q) AS d2
         FROM vv, cents)
       SELECT vec_id, CAST(c AS INT) AS centroid, round(d2, 4) AS d2_r FROM (
         SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d)
       WHERE rn = 1 ORDER BY vec_id"""

  /** DuckDB re-implementation of the S2 cell id (graft.geo.S2): xyz → face →
    * quadratic ST → leaf ij, then the 30-level Hilbert walk as a recursive
    * CTE with the ijToPos/posToOrientation tables inlined as CASEs. HUGEINT
    * carries the unsigned 64-bit id; the final CASE maps to the signed Long
    * the engine emits. An independent second implementation of the whole
    * algorithm — the strongest cross-check the offline sandbox allows.
    */
  private[graft] def s2OracleSql(ptsCte: String, level: Int): String = {
    val ijToPos = Array(Array(0, 1, 3, 2), Array(0, 3, 1, 2), Array(2, 3, 1, 0), Array(2, 1, 3, 0))
    val cases = (for { b <- 0 until 4; ij <- 0 until 4 }
      yield s"WHEN ${b * 4 + ij} THEN ${ijToPos(b)(ij)}").mkString(" ")
    val posExpr = s"(CASE (bits & 3) * 4 + (((i >> k) & 1) * 2 + ((j >> k) & 1)) $cases END)"
    val lsb = 1L << (2 * (30 - level))
    s"""WITH RECURSIVE pts AS ($ptsCte),
       xyz AS (SELECT point_id,
         cos(radians(lat))*cos(radians(lng)) AS x,
         cos(radians(lat))*sin(radians(lng)) AS y,
         sin(radians(lat)) AS z FROM pts),
       f0 AS (SELECT point_id, x, y, z,
         CASE WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
              ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END AS fb FROM xyz),
       fc AS (SELECT point_id, x, y, z,
         fb + CASE WHEN (CASE fb WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0 THEN 3 ELSE 0 END AS face
         FROM f0),
       uv AS (SELECT point_id, face,
         CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                   WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
         CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                   WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
         FROM fc),
       st AS (SELECT point_id, face,
         CASE WHEN u >= 0 THEN 0.5*sqrt(1.0 + 3.0*u) ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*u) END AS s,
         CASE WHEN v >= 0 THEN 0.5*sqrt(1.0 + 3.0*v) ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*v) END AS t
         FROM uv),
       ij AS (SELECT point_id, face,
         GREATEST(0, LEAST(1073741823, CAST(floor(1073741824 * s) AS BIGINT))) AS i,
         GREATEST(0, LEAST(1073741823, CAST(floor(1073741824 * t) AS BIGINT))) AS j
         FROM st),
       pow4(k, p) AS (SELECT 0, CAST(1 AS HUGEINT) UNION ALL SELECT k+1, p*4 FROM pow4 WHERE k < 29),
       hil AS (
         SELECT point_id, face, i, j, 29 AS k, (face & 1) AS bits,
           CAST(face AS HUGEINT) * 1152921504606846976 AS n FROM ij
         UNION ALL
         SELECT h.point_id, h.face, h.i, h.j, h.k - 1,
           xor(h.bits, CASE pos WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END),
           h.n + CAST(pos AS HUGEINT) * pw.p
         FROM (SELECT *, $posExpr AS pos FROM hil WHERE k >= 0) h
         JOIN pow4 pw ON pw.k = h.k),
       leafid AS (SELECT point_id, n * 2 + 1 AS id FROM hil WHERE k = -1)
       SELECT point_id,
         CAST(CASE WHEN pid >= 9223372036854775808 THEN pid - 18446744073709551616 ELSE pid END AS BIGINT) AS cell,
         CAST(CASE WHEN id  >= 9223372036854775808 THEN id  - 18446744073709551616 ELSE id  END AS BIGINT) AS leaf
       FROM (SELECT point_id, id, (id // ${2 * lsb}) * ${2 * lsb} + $lsb AS pid FROM leafid)
       ORDER BY point_id"""
  }

  private[graft] def quadrantPtsCte: String =
    """SELECT c_custkey AS point_id,
       -180 + (c_custkey % 360) + 0.5 AS lng,
       -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer"""

  /** DuckDB re-implementation of the aperture-7 hex cell (graft.geo.Hex):
    * axial coords at the embedded edge-length literal, JVM-round
    * (floor(x+0.5)) cube rounding, same packed id arithmetic.
    */
  private[graft] def hexOracleSql(ptsCte: String, res: Int): String = {
    val e = graft.geo.Hex.edge(res)
    s"""WITH pts AS ($ptsCte),
       ax AS (SELECT point_id,
         (sqrt(3.0)/3.0 * lng - lat/3.0) / $e AS qf,
         (2.0/3.0 * lat) / $e AS rf FROM pts),
       r0 AS (SELECT point_id, qf, rf, -qf - rf AS sf,
         CAST(floor(qf + 0.5) AS BIGINT) AS qi,
         CAST(floor(rf + 0.5) AS BIGINT) AS ri,
         CAST(floor(-qf - rf + 0.5) AS BIGINT) AS si FROM ax),
       rr AS (SELECT point_id,
         CASE WHEN abs(qi - qf) > abs(ri - rf) AND abs(qi - qf) > abs(si - sf)
              THEN -ri - si ELSE qi END AS q,
         CASE WHEN NOT (abs(qi - qf) > abs(ri - rf) AND abs(qi - qf) > abs(si - sf))
                   AND abs(ri - rf) > abs(si - sf)
              THEN -qi - si ELSE ri END AS r FROM r0)
       SELECT point_id,
         CAST($res AS BIGINT) * 288230376151711744 + (q + 268435456) * 536870912 + (r + 268435456) AS cell
       FROM rr ORDER BY point_id"""
  }

}
