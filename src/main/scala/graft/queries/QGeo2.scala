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

/** Geospatial gates: terrain derivatives, polygon area, z/x/y rollup,
  * contours, tile pyramid (7 entries),
  * each with its DuckDB oracle SQL.
  */
object QGeo2 {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Discrete Laplacian curvature: 4-neighbour second difference, integer
    // arithmetic on the int16 grid (sinks > 0, ridges < 0).
    "geo_curvature" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("lap",
          ops.ElevAt.elev_curvature(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "lap")
        .orderBy("point_id")
    }),
    // Map algebra: terrain ruggedness index — Σ|neighbour − centre| over the
    // same 8 clamped neighbours; pure integer arithmetic.
    "geo_tri" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("tri", ops.ElevAt.elev_tri(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "tri")
        .orderBy("point_id")
    }),
    // Map algebra: aspect octant — dominant compass direction of the
    // downslope vector from the central-difference gradient, quantized to
    // 8 sectors (+0 flat) so there is no atan2 ulp risk cross-engine.
    "geo_aspect" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("aspect", ops.ElevAt.elev_aspect(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "aspect")
        .orderBy("point_id")
    }),
    // Vector analytics: shoelace area / perimeter / area-weighted centroid
    // per polygon ring, composed from built-in higher-order functions (an
    // in-order fold the oracle replicates term-for-term).
    "geo_area" -> ((s, dir) => {
      trianglePolys(s, dir)
        .select(col("poly_id"),
          polygon_area(col("xs"), col("ys")).as("area"),
          polygon_perimeter(col("xs"), col("ys")).as("perimeter"),
          polygon_centroid_x(col("xs"), col("ys")).as("cxc"),
          polygon_centroid_y(col("xs"), col("ys")).as("cyc"))
        .orderBy("poly_id")
    }),
    // z/x/y rollup: the gate points counted per z14 tile, and per z12 and
    // z10 parent by shifting the z14 indexes.
    "zxy_rollup" -> ((s, dir) => {
      val p = gatePoints(s, dir)
        .withColumn("x14", zxy_x(col("lng"), lit(14)))
        .withColumn("y14", zxy_y(col("lat"), lit(14)))
      p.select(lit(14).as("z"), col("x14").as("x"), col("y14").as("y"))
        .unionAll(p.select(lit(12).as("z"), shiftright(col("x14"), 2).as("x"),
          shiftright(col("y14"), 2).as("y")))
        .unionAll(p.select(lit(10).as("z"), shiftright(col("x14"), 4).as("x"),
          shiftright(col("y14"), 4).as("y")))
        .groupBy("z", "x", "y").agg(count(lit(1)).as("n"))
        .orderBy("z", "x", "y")
    }),
    // Marching-squares contour census at the 1800 m isoline: the exact
    // per-cell case classification of raster→vector contour extraction,
    // engine-computed from the real decode, oracle-recomputed from the
    // closed-form corners. t=1800 cuts every gate tile (v spans ~806-3869).
    "geo_contours" -> ((s, dir) => {
      ops.ImageOps.contourCensus(gateTiles(s), 1800).orderBy("image_id")
    }),
    // Tile pyramid (ops.TilePyramid.materialize): each gate tile rendered as
    // 2×2 Terrarium PNG sub-tiles of 64 px, decoded back and summed per
    // channel.
    "tile_pyramid" -> ((s, dir) => {
      import s.implicits._
      val subs = ops.TilePyramid.materialize(gateTiles(s), 2, 64)
      subs.map { st =>
        val (elevs, sz) = graft.raster.ImageCodec.decodeToElevations(st.png)
        var rs = 0L; var gs = 0L; var bs = 0L
        var i = 0
        while (i < elevs.length) {
          val (r, g, b) = graft.raster.Terrarium.encode(elevs(i))
          rs += r; gs += g; bs += b
          i += 1
        }
        (st.image_id, st.sx, st.sy, sz.toLong * sz, rs, gs, bs)
      }.toDF("image_id", "sx", "sy", "n_px", "r_sum", "g_sum", "b_sum")
        .orderBy("image_id", "sx", "sy")
    }),
  )

  val sql: Map[String, String] = Map(
    "geo_curvature" -> curvatureOracleSql,
    "geo_tri" -> triOracleSql,
    "geo_aspect" -> aspectOracleSql,
    "geo_area" ->
      """WITH p AS (SELECT s_suppkey AS poly_id,
           -120.0 + (s_suppkey % 40) * CAST(0.1 AS DOUBLE) AS cx,
           36.0 + ((s_suppkey * 3) % 20) * CAST(0.1 AS DOUBLE) AS cy,
           CAST(0.05 AS DOUBLE) + (s_suppkey % 7) * CAST(0.013 AS DOUBLE) AS w,
           CAST(0.04 AS DOUBLE) + (s_suppkey % 5) * CAST(0.017 AS DOUBLE) AS h
           FROM supplier),
         v AS (SELECT poly_id, cx AS x0, cx - w AS x1, cx + w AS x2,
           cy + h AS y0, cy - h AS y1, cy - h AS y2 FROM p),
         c AS (SELECT poly_id, x0, x1, x2, y0, y1, y2,
           x0*y1 - x1*y0 AS cr0, x1*y2 - x2*y1 AS cr1, x2*y0 - x0*y2 AS cr2,
           sqrt((x1-x0)*(x1-x0) + (y1-y0)*(y1-y0)) AS e0,
           sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1)) AS e1,
           sqrt((x0-x2)*(x0-x2) + (y0-y2)*(y0-y2)) AS e2 FROM v)
         SELECT poly_id,
           (0.0 + cr0 + cr1 + cr2) * 0.5 AS area,
           0.0 + e0 + e1 + e2 AS perimeter,
           (0.0 + (x0+x1)*cr0 + (x1+x2)*cr1 + (x2+x0)*cr2) / (3.0 * (0.0 + cr0 + cr1 + cr2)) AS cxc,
           (0.0 + (y0+y1)*cr0 + (y1+y2)*cr1 + (y2+y0)*cr2) / (3.0 * (0.0 + cr0 + cr1 + cr2)) AS cyc
         FROM c ORDER BY poly_id""",
    // same z14 web-mercator formula as geo_zxy over the gate point cloud
    "zxy_rollup" ->
      """WITH pts AS (SELECT
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         c AS (SELECT lng, least(greatest(lat, -85.05112877980659), 85.05112877980659) AS latc FROM pts),
         xy AS (SELECT
           CAST(least(greatest(floor((lng + 180.0)/360.0 * 16384), 0), 16383) AS INT) AS x14,
           CAST(least(greatest(floor((1.0 - ln(tan(radians(latc)) + 1.0/cos(radians(latc)))/pi())/2.0 * 16384), 0), 16383) AS INT) AS y14
           FROM c),
         lv AS (SELECT 14 AS z, x14 AS x, y14 AS y FROM xy
           UNION ALL SELECT 12, x14 >> 2, y14 >> 2 FROM xy
           UNION ALL SELECT 10, x14 >> 4, y14 >> 4 FROM xy)
         SELECT CAST(z AS INT) AS z, CAST(x AS INT) AS x, CAST(y AS INT) AS y, count(*) AS n
         FROM lv GROUP BY 1, 2, 3 ORDER BY z, x, y""",
    "geo_contours" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat,
             ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c),
         ab AS (SELECT swlng, swlat, count(*) FILTER (v >= 1800) AS n_above
           FROM g GROUP BY 1, 2),
         cellbase AS (SELECT swlng, swlat,
             ((swlng+180)*7 + (swlat+90)*11) % 1000 AS b, r.range AS r, c.range AS c
           FROM corners, range(0,600) r, range(0,600) c),
         cells AS (SELECT swlng, swlat,
             (CASE WHEN b + 2*c + 3*r + ((c//8)*(r//8)) % 32 >= 1800 THEN 1 ELSE 0 END)
           + (CASE WHEN b + 2*(c+1) + 3*r + (((c+1)//8)*(r//8)) % 32 >= 1800 THEN 2 ELSE 0 END)
           + (CASE WHEN b + 2*(c+1) + 3*(r+1) + (((c+1)//8)*((r+1)//8)) % 32 >= 1800 THEN 4 ELSE 0 END)
           + (CASE WHEN b + 2*c + 3*(r+1) + ((c//8)*((r+1)//8)) % 32 >= 1800 THEN 8 ELSE 0 END) AS idx
           FROM cellbase),
         cc AS (SELECT swlng, swlat,
             count(*) FILTER (idx NOT IN (0, 15)) AS n_cut,
             count(*) FILTER (idx IN (5, 10)) AS n_saddles,
             CAST(sum(CASE WHEN idx IN (0, 15) THEN 0 WHEN idx IN (5, 10) THEN 2 ELSE 1 END) AS BIGINT) AS n_segments
           FROM cells GROUP BY 1, 2)
         SELECT (CASE WHEN ab.swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(ab.swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN ab.swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(ab.swlng) AS VARCHAR),3,'0')) AS image_id,
           CAST(1800 AS INT) AS threshold, ab.n_above, cc.n_cut, cc.n_saddles, cc.n_segments
         FROM ab JOIN cc ON ab.swlng = cc.swlng AND ab.swlat = cc.swlat
         ORDER BY image_id""",
    // pyramid: pixel centers are dyadic rationals ((k+0.5)/128 is exact in
    // binary), the bilinear runs in the engine's exact op order, and the
    // Terrarium triple of the sampled double is recomputed per pixel — the
    // engine's values additionally round-trip through real PNG bytes
    "tile_pyramid" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         px AS (SELECT swlng, swlat, sx.range AS sx, sy.range AS sy, r.range AS r, c.range AS c
           FROM corners, range(0,2) sx, range(0,2) sy, range(0,64) r, range(0,64) c),
         pos AS (SELECT swlng, swlat, sx, sy,
           (swlat + (sy*64 + r + 0.5)/128.0 - swlat) * 600 AS rowf,
           (swlng + (sx*64 + c + 0.5)/128.0 - swlng) * 600 AS colf FROM px),
         eg AS (SELECT *, CAST(floor(colf) AS BIGINT) AS c0, CAST(floor(rowf) AS BIGINT) AS r0,
           colf - floor(colf) AS cf, rowf - floor(rowf) AS rf,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM pos),
         ev AS (SELECT *,
           a + 2*c0     + 3*r0     + ((c0//8)*(r0//8)) % 32         AS v00,
           a + 2*(c0+1) + 3*r0     + (((c0+1)//8)*(r0//8)) % 32     AS v10,
           a + 2*(c0+1) + 3*(r0+1) + (((c0+1)//8)*((r0+1)//8)) % 32 AS v11,
           a + 2*c0     + 3*(r0+1) + ((c0//8)*((r0+1)//8)) % 32     AS v01 FROM eg),
         e AS (SELECT swlng, swlat, sx, sy,
           ((v00 + (v10 - v00) * cf) +
            ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf) + 32768.0 AS ee FROM ev),
         t AS (SELECT swlng, swlat, sx, sy,
           CAST(floor(ee / 256) AS BIGINT) AS tr,
           CAST(trunc(ee % 256) AS BIGINT) AS tg,
           CAST(floor((ee - floor(ee)) * 256) AS BIGINT) AS tb FROM e)
         SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           CAST(sx AS INT) AS sx, CAST(sy AS INT) AS sy,
           count(*) AS n_px, CAST(sum(tr) AS BIGINT) AS r_sum,
           CAST(sum(tg) AS BIGINT) AS g_sum, CAST(sum(tb) AS BIGINT) AS b_sum
         FROM t GROUP BY swlng, swlat, sx, sy ORDER BY image_id, sx, sy""",
  )
}
