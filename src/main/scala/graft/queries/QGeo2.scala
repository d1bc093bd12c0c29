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

/** Geospatial gates: tiling, elevation sampling, spatial joins, terrain, cells
  * (15 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QGeo2 {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_line_intersect" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").filter(col("l_orderkey") % 50 <= 1)
        .selectExpr(
          "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS seg_id",
          "l_orderkey % 50 AS grp",
          "-119.5 + ((l_partkey % 501))/1000.0D AS x1",
          "36.2 + (((l_suppkey*7) % 501))/1000.0D AS y1",
          "((l_suppkey % 41) - 20)/2000.0D AS dx",
          "(((l_orderkey*3) % 41) - 20)/2000.0D AS dy")
        .selectExpr("seg_id", "grp", "x1", "y1",
          "x1 + dx AS x2", "y1 + dy AS y2")
      val a = base.filter(col("grp") === 0).drop("grp")
      val b = base.filter(col("grp") === 1).drop("grp")
      ops.SpatialJoin.segmentIntersectJoin(a, b, cellSize = 0.02)
        .orderBy("a_id", "b_id")
    }),
    // Per-group convex hull (coverage footprint): 25 groups of ≤ 40 integer
    // points; the minimal vertex set is exact-Long geometry, so the oracle
    // re-derives it from the Carathéodory characterization. The custkey cap
    // keeps the oracle's O(n⁴) certificate tractable — the ENGINE side is
    // one group-keyed shuffle at any scale.,
    "geo_convex_hull" -> ((s, dir) => {
      val pts = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .selectExpr("c_custkey % 25 AS gid",
          "(c_custkey * 7) % 1201 AS x", "(c_custkey * 13) % 1009 AS y")
      ops.SpatialJoin.convexHullPerGroup(pts).orderBy("gid", "x", "y")
    }),
    // Hull diameter per group: the farthest pair, computed on the HULL
    // vertices only (all max-distance pairs are hull vertices — distance
    // along a segment is strictly convex, so interior/edge points never
    // tie a vertex pair) — hull size ≪ point count is what makes the
    // all-pairs refine scale; the oracle brute-forces ALL distinct point
    // pairs, which must agree by that argument. Deterministic argmax by
    // (d2 desc, ax, ay, bx, by).,
    "geo_hull_diameter" -> ((s, dir) => {
      val pts = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
        .selectExpr("c_custkey % 25 AS gid",
          "(c_custkey * 7) % 1201 AS x", "(c_custkey * 13) % 1009 AS y")
      val hull = ops.SpatialJoin.convexHullPerGroup(pts)
      val pairs = hull.select(col("gid"), col("x").as("ax"), col("y").as("ay"))
        .join(hull.select(col("gid"), col("x").as("bx"), col("y").as("by")),
          Seq("gid"))
        .filter(col("ax") < col("bx") ||
          (col("ax") === col("bx") && col("ay") < col("by")))
        .withColumn("d2", expr(
          "(ax - bx) * (ax - bx) + (ay - by) * (ay - by)"))
      val best = pairs.withColumn("rn", row_number().over(
          Window.partitionBy("gid").orderBy(col("d2").desc, col("ax"),
            col("ay"), col("bx"), col("by"))))
        .filter(col("rn") === 1).drop("rn")
      val n = pts.distinct().groupBy("gid").agg(count(lit(1)).as("n_pts"))
      best.join(n, Seq("gid"))
        .select("gid", "n_pts", "d2", "ax", "ay", "bx", "by")
        .orderBy("gid")
    }),
    // Distributed power iteration (3 rounds of integer-exact Xᵀ(Xv)) for
    // the corpus's top principal direction.,
    "geo_curvature" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("lap",
          ops.ElevAt.elev_curvature(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "lap")
        .orderBy("point_id")
    }),
    "geo_tri" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("tri", ops.ElevAt.elev_tri(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "tri")
        .orderBy("point_id")
    }),
    // Topographic position index (×24, exact integer): centre node vs its
    // 5×5 neighbourhood mean — positive = ridgetop, negative = valley
    // bottom, ~0 = planar slope; the landform classifier next to geo_tri's
    // unsigned ruggedness. Same broadcast-index codegen probe, zero shuffle.,
    "geo_tpi" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("tpi24", ops.ElevAt.elev_tpi(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "tpi24")
        .orderBy("point_id")
    }),
    // Map algebra: aspect octant — dominant compass direction of the
    // downslope vector from the central-difference gradient, quantized to
    // 8 sectors (+0 flat) so there is no atan2 ulp risk cross-engine.,
    "geo_aspect" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("aspect", ops.ElevAt.elev_aspect(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "aspect")
        .orderBy("point_id")
    }),
    // Vector analytics: shoelace area / perimeter / area-weighted centroid
    // per polygon ring, composed from built-in higher-order functions (an
    // in-order fold the oracle replicates term-for-term).,
    "geo_area" -> ((s, dir) => {
      trianglePolys(s, dir)
        .select(col("poly_id"),
          polygon_area(col("xs"), col("ys")).as("area"),
          polygon_perimeter(col("xs"), col("ys")).as("perimeter"),
          polygon_centroid_x(col("xs"), col("ys")).as("cxc"),
          polygon_centroid_y(col("xs"), col("ys")).as("cyc"))
        .orderBy("poly_id")
    }),

    // Component-size distribution (large-star/small-star CC + histogram):
    // the dedup-blast-radius read — how many merge groups of each size a
    // connected-components pass produces; O(log n) CC rounds, two
    // key-bounded rollups.,
    "geo_cell_turnover" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
      val cells = pts.select(
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
            .as("eday"),
          expr("px DIV 200").as("cell_x"), expr("py DIV 50").as("cell_y"))
        .distinct()
      val sz = cells.groupBy("eday").agg(count(lit(1)).as("n_cells"))
      val common = cells.as("a").join(cells.as("b"),
          col("a.cell_x") === col("b.cell_x") &&
            col("a.cell_y") === col("b.cell_y") &&
            col("b.eday") === col("a.eday") + 1)
        .groupBy(col("b.eday").as("eday"))
        .agg(count(lit(1)).as("n_common"))
      sz.as("t").join(sz.as("p"), col("p.eday") === col("t.eday") - 1)
        .select(col("t.eday").as("eday"), col("t.n_cells").as("n_cells"),
          col("p.n_cells").as("n_prev"))
        .join(common, Seq("eday"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .withColumn("jaccard_ppm", expr(
          "n_common * 1000000 DIV (n_cells + n_prev - n_common)"))
        .orderBy("eday")
    }),
    // Per-trajectory speed quantiles: exact integer µunit/s Manhattan
    // speeds per segment, nearest-rank p50/p95 — the mobility profile
    // over traj_speed's binary flags.,
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
    "geo_centroid_drift" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pts = t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          ((col("event_id") % 7) +
            when(col("event_id") % 101 === 0, 5000L).otherwise(0L)).as("dx"),
          ((col("event_id") * 3) % 5).as("dy"))
        .withColumn("px", sum("dx").over(w))
        .withColumn("py", sum("dy").over(w))
      val daily = pts.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum("px").as("sx"), sum("py").as("sy"))
        .withColumn("cx_milli", expr("sx * 1000 DIV n"))
        .withColumn("cy_milli", expr("sy * 1000 DIV n"))
      // global window input is the per-day aggregate: the frame is
      // bounded by the calendar span, not the row count
      val wd = Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("day"))).orderBy("day")
      daily.withColumn("pcx", lag("cx_milli", 1).over(wd))
        .withColumn("pcy", lag("cy_milli", 1).over(wd))
        .withColumn("drift_d2_milli", expr(
          "CASE WHEN pcx IS NULL THEN NULL ELSE " +
            "(cx_milli - pcx) * (cx_milli - pcx) + " +
            "(cy_milli - pcy) * (cy_milli - pcy) END"))
        .select("day", "n", "cx_milli", "cy_milli", "drift_d2_milli")
        .orderBy("day")
    }),
    // Per-user Fano dispersion of daily activity: variance/mean numerator
    // and denominator exact, milli-floored index — bursty users (>1000)
    // vs metronomes (<1000); users with ≥ 2 active days.,
    "geo_curve_locality" -> ((s, dir) => {
      val pts = quadrantPoints(s, dir)
        .withColumn("qx", expr("LEAST(255, GREATEST(0, " +
          "CAST(floor(((lng + 180.0D) / 360.0D) * 256.0D) AS BIGINT)))"))
        .withColumn("qy", expr("LEAST(255, GREATEST(0, " +
          "CAST(floor(((lat + 90.0D) / 180.0D) * 256.0D) AS BIGINT)))"))
        .withColumn("hkey", cells.hilbert_key(col("lng"), col("lat")))
        .withColumn("mkey", expr(mortonSql("qx", "qy", "DIV")))
      def jumps(keyCol: String, nm: String) = {
        // point-scaled rows: adjacent-in-curve-order deltas via the
        // range-partitioned two-phase lag with boundary carry
        // (ops.GlobalRank), one range shuffle for both lagged columns
        ops.GlobalRank.withLags(pts,
            Seq("qx" -> "pqx", "qy" -> "pqy"),
            Seq(col(keyCol), col("point_id")))
          .filter(col("pqx").isNotNull)
          .agg(sum(expr("abs(qx - pqx) + abs(qy - pqy)"))
              .as(s"${nm}_jump"),
            max(expr("abs(qx - pqx) + abs(qy - pqy)")).as(s"${nm}_max"))
      }
      pts.agg(count(lit(1)).as("n_pts"))
        .crossJoin(jumps("hkey", "hilbert"))
        .crossJoin(jumps("mkey", "morton"))
    }),
    // Marching-squares contour census at the 1800 m isoline: the exact
    // per-cell case classification of raster→vector contour extraction,
    // engine-computed from the real decode, oracle-recomputed from the
    // closed-form corners. t=1800 cuts every gate tile (v spans ~806-3869).,
    "geo_contours" -> ((s, dir) => {
      ops.ImageOps.contourCensus(gateTiles(s), 1800).orderBy("image_id")
    }),
    // Value-based RANGE window frame surface: per type, for each distinct
    // cents level the event mass within ±500 cents — the sliding
    // value-band density q_window's ROWS frames can't express; frame
    // bounds are values, so the result is tie-independent.,
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
    "geo_cost_corridor" -> ((s, dir) => {
      def gridEdges(rev: Boolean) = {
        val base = s.range(100L * 100L)
          .selectExpr("id AS src", "id DIV 100 AS i", "id % 100 AS j")
          .withColumn("k", explode(sequence(lit(0), lit(7))))
          .selectExpr("src", "i", "j",
            "i + element_at(array(1,1,0,-1,-1,-1,0,1), k+1) AS ni",
            "j + element_at(array(0,1,1,1,0,-1,-1,-1), k+1) AS nj")
          .filter("ni BETWEEN 0 AND 99 AND nj BETWEEN 0 AND 99")
          .selectExpr("src", "ni*100 + nj AS dst",
            """1 + greatest(0, ((ni*ni)%97 + (nj*nj)%89 + (ni*nj)%31) -
               ((i*i)%97 + (j*j)%89 + (i*j)%31)) AS w""")
        if (rev) base.selectExpr("dst AS src", "src AS dst", "w") else base
      }
      val dF = ops.Graph.sssp(gridEdges(rev = false), source = 5050L, rounds = 6)
      val dB = ops.Graph.sssp(gridEdges(rev = true), source = 5555L, rounds = 6)
      val best = dF.filter(col("node") === 5555L).head().getLong(1)
      dF.join(dB.withColumnRenamed("dist", "db"), Seq("node"))
        .withColumn("tot", col("dist") + col("db"))
        .filter(col("tot") <= lit(best + 50L))
        .agg(lit(best).as("best_cost"), count(lit(1)).as("n_corridor"),
          sum(when(col("tot") === best, 1L).otherwise(0L)).as("n_optimal"),
          sum(when(col("tot") <= best + 10L, 1L).otherwise(0L)).as("n_tight"))
    }),
  )

  val sql: Map[String, String] = Map(
    "geo_line_intersect" ->
      """WITH base AS (SELECT
           ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS seg_id,
           l_orderkey % 50 AS grp,
           -119.5 + ((l_partkey % 501))/1000.0 AS x1,
           36.2 + (((l_suppkey*7) % 501))/1000.0 AS y1,
           ((l_suppkey % 41) - 20)/2000.0 AS dx,
           (((l_orderkey*3) % 41) - 20)/2000.0 AS dy
           FROM lineitem WHERE l_orderkey % 50 <= 1),
         segs AS (SELECT seg_id, grp, x1, y1, x1 + dx AS x2, y1 + dy AS y2 FROM base),
         p AS (SELECT a.seg_id AS a_id, b.seg_id AS b_id,
             a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
           FROM segs a, segs b WHERE a.grp = 0 AND b.grp = 1),
         o AS (SELECT *,
             (bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1) AS d1,
             (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1) AS d2,
             (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) AS d3,
             (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) AS d4
           FROM p),
         hit AS (SELECT *, d1/(d1 - d2) AS t FROM o
           WHERE d1*d2 < 0.0 AND d3*d4 < 0.0)
         SELECT a_id, b_id, ax1 + t*(ax2-ax1) AS ix, ay1 + t*(ay2-ay1) AS iy
         FROM hit ORDER BY a_id, b_id""",
    "geo_convex_hull" -> convexHullOracleSql,
    // brute-force all DISTINCT point pairs per group — every max-distance
    // pair is a hull-vertex pair (strict convexity along segments), so the
    // engine's hull-only refine must agree, argmax ties included,
    "geo_hull_diameter" ->
      """WITH pts AS (SELECT DISTINCT c_custkey % 25 AS gid,
           (c_custkey * 7) % 1201 AS x, (c_custkey * 13) % 1009 AS y
           FROM customer WHERE c_custkey <= 1000),
         pr AS (SELECT a.gid, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
           FROM pts a JOIN pts b ON a.gid = b.gid
             AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
         best AS (SELECT gid, d2, ax, ay, bx, by,
             row_number() OVER (PARTITION BY gid
               ORDER BY d2 DESC, ax, ay, bx, by) AS rn
           FROM pr),
         n AS (SELECT gid, CAST(count(*) AS BIGINT) AS n_pts
           FROM pts GROUP BY 1)
         SELECT best.gid, n.n_pts, d2, ax, ay, bx, by
         FROM best JOIN n ON n.gid = best.gid WHERE rn = 1
         ORDER BY best.gid""",
    // CAST(... AS TIMESTAMP): DuckDB date_trunc('day') returns DATE where
    // the engine emits a timestamp_ntz bucket — same instant, driver-hash-
    // sensitive type (the round-3 HUGEINT lesson applied to dates),
    "geo_curvature" -> curvatureOracleSql,
    "geo_tri" -> triOracleSql,
    "geo_tpi" -> tpiOracleSql,
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
    // recursive min-label reach over the same sparse graph, then the
    // size histogram,
    "geo_cell_turnover" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           epoch_us(ts) // 86400000000 AS eday,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT eday,
           CAST(sum(dx) OVER w AS BIGINT) AS px,
           CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         cells AS (SELECT DISTINCT eday, px // 200 AS cell_x,
             py // 50 AS cell_y FROM c),
         sz AS (SELECT eday, CAST(count(*) AS BIGINT) AS n_cells
           FROM cells GROUP BY 1),
         cm AS (SELECT b.eday, CAST(count(*) AS BIGINT) AS n_common
           FROM cells a JOIN cells b ON b.cell_x = a.cell_x
             AND b.cell_y = a.cell_y AND b.eday = a.eday + 1
           GROUP BY 1)
         SELECT t.eday, t.n_cells, p.n_cells AS n_prev,
           COALESCE(cm.n_common, 0) AS n_common,
           COALESCE(cm.n_common, 0) * 1000000
             // (t.n_cells + p.n_cells - COALESCE(cm.n_common, 0))
             AS jaccard_ppm
         FROM sz t JOIN sz p ON p.eday = t.eday - 1
         LEFT JOIN cm ON cm.eday = t.eday
         ORDER BY t.eday""",
    // Manhattan µspeed per segment, nearest-rank quantiles,
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
    // per-row centroid from the closed form, regression pieces,
    "geo_centroid_drift" ->
      """WITH b AS (SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
           event_id % 7 + CASE WHEN event_id % 101 = 0 THEN 5000 ELSE 0 END AS dx,
           (event_id * 3) % 5 AS dy
           FROM events WHERE user_id < 50),
         c AS (SELECT ts, CAST(sum(dx) OVER w AS BIGINT) AS px,
           CAST(sum(dy) OVER w AS BIGINT) AS py
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(px) AS BIGINT) AS sx,
             CAST(sum(py) AS BIGINT) AS sy
           FROM c GROUP BY 1),
         e AS (SELECT day, n, sx * 1000 // n AS cx_milli,
             sy * 1000 // n AS cy_milli FROM d),
         f AS (SELECT day, n, cx_milli, cy_milli,
             lag(cx_milli) OVER (ORDER BY day) AS pcx,
             lag(cy_milli) OVER (ORDER BY day) AS pcy FROM e)
         SELECT day, n, cx_milli, cy_milli,
           CASE WHEN pcx IS NULL THEN NULL
                ELSE (cx_milli - pcx) * (cx_milli - pcx)
                   + (cy_milli - pcy) * (cy_milli - pcy) END AS drift_d2_milli
         FROM f ORDER BY day""",
    // daily counts per user, exact dispersion pieces,
    "geo_curve_locality" ->
      s"""WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         h0 AS (SELECT point_id, CAST(0 AS BIGINT) AS d,
           LEAST(255, GREATEST(0, CAST(floor(((lng + 180.0) / 360.0) * 256.0) AS BIGINT))) AS x,
           LEAST(255, GREATEST(0, CAST(floor(((lat + 90.0) / 180.0) * 256.0) AS BIGINT))) AS y FROM pts),
         $hilbertStepCtes,
         kk AS (SELECT h8.point_id, CAST(h8.d AS BIGINT) AS hkey,
             h0.x AS qx, h0.y AS qy,
             ${mortonSql("h0.x", "h0.y", "//")} AS mkey
           FROM h8 JOIN h0 ON h0.point_id = h8.point_id),
         hj AS (SELECT CAST(sum(j) AS BIGINT) AS hilbert_jump,
             CAST(max(j) AS BIGINT) AS hilbert_max FROM (
             SELECT abs(qx - lag(qx) OVER w) + abs(qy - lag(qy) OVER w) AS j
             FROM kk WINDOW w AS (ORDER BY hkey, point_id)) t
           WHERE j IS NOT NULL),
         mj AS (SELECT CAST(sum(j) AS BIGINT) AS morton_jump,
             CAST(max(j) AS BIGINT) AS morton_max FROM (
             SELECT abs(qx - lag(qx) OVER w) + abs(qy - lag(qy) OVER w) AS j
             FROM kk WINDOW w AS (ORDER BY mkey, point_id)) t
           WHERE j IS NOT NULL),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_pts FROM kk)
         SELECT n_pts, hilbert_jump, hilbert_max, morton_jump, morton_max
         FROM n, hj, mj""",
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
    // value-based RANGE frame over distinct cents levels,
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
    // gaps-and-islands runs over quantized levels, per-run floors,
    "geo_cost_corridor" -> {
      def relax(p: String, edge: String) = (1 to 6).map { r =>
        s"""$p$r AS (SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM $p${r - 1}
              UNION ALL
              SELECT $edge.dst AS node, q.dist + $edge.w AS dist
              FROM $p${r - 1} q JOIN $edge ON $edge.src = q.node) GROUP BY node)"""
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
         er AS (SELECT dst AS src, src AS dst, w FROM e),
         f0(node, dist) AS (SELECT 5050, 0),
         ${relax("f", "e")},
         b0(node, dist) AS (SELECT 5555, 0),
         ${relax("b", "er")},
         bc AS (SELECT dist AS best FROM f6 WHERE node = 5555),
         j AS (SELECT f6.node, f6.dist + b6.dist AS tot
           FROM f6 JOIN b6 USING (node))
         SELECT CAST(best AS BIGINT) AS best_cost,
           CAST(count(*) AS BIGINT) AS n_corridor,
           CAST(sum(CASE WHEN tot = best THEN 1 ELSE 0 END) AS BIGINT) AS n_optimal,
           CAST(sum(CASE WHEN tot <= best + 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_tight
         FROM j, bc WHERE tot <= best + 50 GROUP BY best"""
    },
  )
}
