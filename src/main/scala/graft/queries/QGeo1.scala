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
  * (65 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QGeo1 {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_dbscan" -> ((s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS pid",
        "CASE WHEN c_custkey % 41 = 0 THEN -130.0D + (c_custkey % 100) / 10.0D ELSE -120.0D + ((c_custkey % 12) % 4) * 0.5D + ((c_custkey * 7) % 19 - 9) / 1000.0D END AS lng",
        "CASE WHEN c_custkey % 41 = 0 THEN 30.0D + ((c_custkey * 13) % 100) / 10.0D ELSE 36.0D + ((c_custkey % 12) DIV 4) * 0.5D + ((c_custkey * 11) % 23 - 11) / 1000.0D END AS lat")
      ops.SpatialJoin.dbscan(pts, eps = 0.0025, minPts = 8).orderBy("pid")
    }),
    // Composed cluster-shape pipeline: DBSCAN (cell-bucketed range join +
    // star CC) labels the dense blobs, then each cluster's 1-in-5 member
    // sample is hulled by the exact integer Graham scan — the
    // cluster→footprint-polygon step of heatmap/territory mining, both
    // stages the already-gated primitives. Coordinates are ×1000-quantized
    // to integers (round() pins both engines) so the hull certificate
    // stays exact.,
    "geo_dbscan_hulls" -> ((s, dir) => {
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS pid",
        "CASE WHEN c_custkey % 41 = 0 THEN -130.0D + (c_custkey % 100) / 10.0D ELSE -120.0D + ((c_custkey % 12) % 4) * 0.5D + ((c_custkey * 7) % 19 - 9) / 1000.0D END AS lng",
        "CASE WHEN c_custkey % 41 = 0 THEN 30.0D + ((c_custkey * 13) % 100) / 10.0D ELSE 36.0D + ((c_custkey % 12) DIV 4) * 0.5D + ((c_custkey * 11) % 23 - 11) / 1000.0D END AS lat")
      val members = ops.SpatialJoin.dbscan(pts, eps = 0.0025, minPts = 8)
        .filter(col("role") =!= "noise")
        .filter(col("pid") % 5 === 0)
        .join(pts, "pid")
        .selectExpr("cluster AS gid",
          "CAST(round((lng + 130.0D) * 1000) AS BIGINT) AS x",
          "CAST(round((lat - 30.0D) * 1000) AS BIGINT) AS y")
        .distinct()
      ops.SpatialJoin.convexHullPerGroup(members)
        .withColumnRenamed("gid", "cluster")
        .orderBy("cluster", "x", "y")
    }),
    // Single-source shortest paths (ops.Graph.sssp): 4 fixed Bellman-Ford
    // relaxation rounds from node 0, exact min-plus integer arithmetic —
    // the oracle unrolls the same rounds as CTEs.,
    "geo_line_density" -> ((s, dir) => {
      val verts = gatePoints(s, dir)
        .withColumn("line_id", col("point_id") % 199)
        .withColumn("seq", col("point_id"))
      ops.Rasterize.lineDensity(verts, cellsPerDeg = 100)
        .orderBy("cx", "cy")
    }),
    // ---- spatial core (F4/F9, J1/J4+F1/F2/F8, F6, z/x/y) ----,
    "geo_tile_key" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("tile_key", tile_key(col("lng"), col("lat")))
        .select("point_id", "tile_key")
        .orderBy("point_id")
    }),
    "geo_elev_bilinear" -> ((s, dir) => {
      Elevation.lookupBroadcast(gatePoints(s, dir), gateTiles(s))
        .select("point_id", "tile_key", "elev")
        .orderBy("point_id")
    }),
    // COMPOSED raster pipeline (the spatial analogue of curation_pipeline
    // for the raster path): J1 broadcast elevation join → per-row integer
    // quantization (bilinear output is an exact multiple of 0.25 on the
    // half-sample gate points, so ×100 is integer and the rollup sums are
    // order-insensitive) → hex-cell rollup. One gate pins the composition
    // of three already-gated stages end to end.,
    "geo_enrich_rollup" -> ((s, dir) => {
      Elevation.lookupBroadcast(gatePoints(s, dir), gateTiles(s))
        .withColumn("cell", cells.hex_cell(col("lng"), col("lat"), lit(6)))
        .withColumn("q", expr("CAST(round(elev * 100) AS BIGINT)"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sum("q").as("sum_q"),
          min("q").as("min_q"), max("q").as("max_q"))
        .orderBy("cell")
    }),
    // Elevation profile (the reference's /polyline use case as analytics):
    // per-vertex elevation + running planar distance / total ascent per
    // line, running totals integer-quantized for engine-independent sums.,
    "geo_elev_profile" -> ((s, dir) => {
      val verts = gatePoints(s, dir)
        .withColumn("line_id", col("point_id") % 199)
        .withColumn("seq", col("point_id"))
      ops.Elevation.profile(verts, gateTiles(s))
        .select("line_id", "seq", "elev", "cum_dist_q", "ascent_q")
        .orderBy("line_id", "seq")
    }),
    // Line-of-sight along each profile line (ops.Elevation.viewshed): the
    // reference's elevation profiles extended to visibility analysis —
    // tangent-surrogate comparison against the running max angle, one
    // line_id shuffle for the whole query.,
    "geo_viewshed" -> ((s, dir) => {
      val verts = gatePoints(s, dir)
        .withColumn("line_id", col("point_id") % 199)
        .withColumn("seq", col("point_id"))
      ops.Elevation.viewshed(verts, gateTiles(s))
        .select("line_id", "seq", "visible")
        .orderBy("line_id", "seq")
    }),
    // Point-at-fraction along each line (ops.Trajectory.pointAlong — the
    // turf `along` primitive): quarter/mid/three-quarter waypoints in
    // exact micro-degree integer arithmetic, one line_id window pass.,
    "geo_along" -> ((s, dir) => {
      val verts = gatePoints(s, dir)
        .withColumn("line_id", col("point_id") % 199)
        .withColumn("seq", col("point_id"))
      ops.Trajectory.pointAlong(verts, Seq(250000L, 500000L, 750000L))
        .orderBy("line_id", "f_ppm")
    }),
    "geo_terrarium" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .selectExpr("((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id",
          "(l_extendedprice % 9000.0D) - 500.0D AS e")
        .withColumn("rgb", terrarium_rgb(col("e")))
        .select(col("point_id"), element_at(col("rgb"), 1).as("r"),
          element_at(col("rgb"), 2).as("g"), element_at(col("rgb"), 3).as("b"))
        .orderBy("point_id")
    }),
    // J1 through the shuffle path (the 100 TB route: cogroup on tile key,
    // decode each tile once per group, salt-4) — same oracle as the
    // broadcast-index path, proving physical-path equivalence in the gate.,
    "geo_elev_cogroup" -> ((s, dir) => {
      import s.implicits._
      val coords = gatePoints(s, dir)
        .select(col("point_id").cast("string").as("feature_id"),
          lit(0L).as("coord_idx"), col("lng"), col("lat"))
        .as[core.CoordRow]
      ops.Elevation.lookupCogroup(coords, gateTiles(s), salt = 4)
        .toDF()
        .select(col("feature_id").cast("long").as("point_id"),
          col("tile_key"), col("elev"))
        .orderBy("point_id")
    }),
    // F3: nearest-neighbour sampling mode via the broadcast tile index.,
    "geo_elev_nearest" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("elev", ops.ElevAt.elev_at_nearest(col("lng"), col("lat"), bc))
        .select("point_id", "elev")
        .orderBy("point_id")
    }),
    // F5: polyline encode/decode round trip as a distributed query — points
    // grouped into per-group polylines, encoded (precision 5), decoded back.,
    "polyline_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val pts = gatePoints(s, dir).withColumn("grp", col("point_id") % 500)
        .select(col("grp").cast("long"), col("point_id").cast("long"),
          col("lng"), col("lat"))
        .as[(Long, Long, Double, Double)]
      val encoded = pts.groupByKey(_._1).mapGroups { (g, it) =>
        val sorted = it.toArray.sortBy(_._2)
        (g, graft.geo.Polyline.encode(sorted.toSeq.map(t => (t._3, t._4))))
      }
      encoded.flatMap { case (g, pl) =>
        graft.geo.Polyline.decode(pl).iterator.zipWithIndex.map {
          case ((lng, lat), i) => (g, i, lng, lat)
        }
      }.toDF("grp", "idx", "lng5", "lat5").orderBy("grp", "idx")
    }),
    // A4 + P4 end to end: synthesize LineString features from point groups,
    // run the full GeoJSON addElevation pipeline (per-feature broadcast-index
    // sample and nested write-back), then re-extract per-feature stats whose
    // oracle is the closed-form bilinear field. first/last/min/max are
    // order-independent or index-pinned — exact doubles, no float-sum order
    // sensitivity.,
    "feature_reassembly" -> ((s, dir) => {
      import s.implicits._
      val pts = gatePoints(s, dir).withColumn("grp", col("point_id") % 200)
        .select(col("grp").cast("long"), col("point_id").cast("long"),
          col("lng"), col("lat"))
        .as[(Long, Long, Double, Double)]
      val features = pts.groupByKey(_._1).mapGroups { (g, it) =>
        val sorted = it.toArray.sortBy(_._2)
        val coords = sorted.map(t => s"[${t._3},${t._4}]").mkString(",")
        core.FeatureRow(g.toString,
          s"""{"type":"Feature","id":"$g","geometry":{"type":"LineString","coordinates":[$coords]},"properties":{}}""")
      }
      ops.Elevation.addElevation(features, gateTiles(s))
        .map { fr =>
          val es = core.GeoJson.elevations(fr)
          (fr.feature_id.toLong, es.size.toLong, es.head, es.last, es.min, es.max)
        }
        .toDF("grp", "n", "first_elev", "last_elev", "min_elev", "max_elev")
        .orderBy("grp")
    }),
    // Map algebra: central-difference slope at the nearest grid node.,
    "geo_slope" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("slope2", ops.ElevAt.elev_slope2(col("lng"), col("lat"), bc))
        .select("point_id", "slope2")
        .orderBy("point_id")
    }),
    // Zonal statistics: J2 (PIP) × J4 (elevation sampling) × aggregation —
    // per-polygon stats of the terrain under its contained points.,
    "zonal_stats" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      ops.SpatialJoin.pointInPolygon(gatePoints(s, dir), trianglePolys(s, dir), Some(11))
        .withColumn("elev", ops.ElevAt.elev_at(col("lng"), col("lat"), bc))
        .groupBy("poly_id")
        .agg(count(lit(1)).as("n_points"),
          min(col("elev")).as("min_elev"), max(col("elev")).as("max_elev"))
        .orderBy("poly_id")
    }),
    // Per-zone exact MEDIAN elevation (selection statistic zonal_stats's
    // min/max can't express): lower median = the value at rank
    // (n+1) DIV 2 ordered by (elev, point_id) — a total order, so the
    // picked VALUE is engine-independent. One zone-keyed window.,
    "zonal_median" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      val memb = ops.SpatialJoin.pointInPolygon(gatePoints(s, dir),
          trianglePolys(s, dir), Some(11))
        .withColumn("elev", ops.ElevAt.elev_at(col("lng"), col("lat"), bc))
      val w = Window.partitionBy("poly_id")
        .orderBy(col("elev"), col("point_id"))
      memb.withColumn("rn", row_number().over(w))
        .withColumn("n_points", count(lit(1)).over(
          Window.partitionBy("poly_id")))
        .filter(expr("rn = (n_points + 1) DIV 2"))
        .select(col("poly_id"), col("n_points"),
          col("elev").as("median_elev"))
        .orderBy("poly_id")
    }),
    // Zonal histogram: per-polygon elevation distribution in width-256 bins
    // (terrain mix per zone) — the PIP join + probe of zonal_stats, one
    // map-combined groupBy on (poly, bin). floor(x/256.0) is exact for the
    // power-of-two width, so the oracle replays it bit-for-bit.,
    "zonal_hist" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      ops.SpatialJoin.pointInPolygon(gatePoints(s, dir), trianglePolys(s, dir), Some(11))
        .withColumn("elev", ops.ElevAt.elev_at(col("lng"), col("lat"), bc))
        .withColumn("bin", floor(col("elev") / lit(256.0)).cast("long"))
        .groupBy("poly_id", "bin").agg(count(lit(1)).as("n"))
        .orderBy("poly_id", "bin")
    }),
    // Majority elevation class per zone (mode with the deterministic
    // (count desc, bin) tie-break) — the categorical zonal statistic.,
    "zonal_majority" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("poly_id").orderBy(col("n").desc, col("bin").asc)
      ops.SpatialJoin.pointInPolygon(gatePoints(s, dir), trianglePolys(s, dir), Some(11))
        .withColumn("elev", ops.ElevAt.elev_at(col("lng"), col("lat"), bc))
        .withColumn("bin", floor(col("elev") / lit(256.0)).cast("long"))
        .groupBy("poly_id", "bin").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("poly_id"), col("bin").as("majority_bin"), col("n"))
        .orderBy("poly_id")
    }),
    // Pyramid build step: 2°×2° mosaic + 2:1 box downsample with the F8
    // missing-tile⇒0 rule; one key-bounded groupBy, ≤4 tiles per group.
    // Block (-118,36) has both absent tiles — exercises the no-data path.,
    "tile_mosaic" -> ((s, dir) => {
      ops.TilePyramid.downsampleMosaic(gateTiles(s)).orderBy("plng", "plat")
    }),
    // Voronoi catchment labeling: 60k points against 40 broadcast sites;
    // the argmin partial-aggregates map-side (one struct per point crosses
    // the shuffle, not the 40-fanned candidates).,
    "geo_voronoi" -> ((s, dir) => {
      val sites = t(s, dir, "supplier").filter(col("s_suppkey") <= 40)
        .selectExpr("s_suppkey AS site_id",
          "-120 + (s_suppkey % 4) + (((s_suppkey*13) % 97) + 0.5D)/97.0D AS sx",
          "36 + (s_suppkey % 2) + (((s_suppkey*29) % 97) + 0.5D)/97.0D AS sy")
      // dedup the gate input by id: the oracle's QUALIFY is per point_id,
      // and sf0.001 carries one genuinely duplicated lineitem row (same
      // quad twice ⇒ same point_id AND coords, so dedup loses nothing)
      ops.SpatialJoin.voronoiAssign(gatePoints(s, dir).dropDuplicates("point_id"), sites)
        .orderBy("point_id")
    }),
    // Pole of inaccessibility (ops.Rasterize.poleOfInaccessibility): the
    // label-anchor point of the hole-punched polygons — even-odd membership
    // on a 16×16 cell-center lattice over each polygon's bbox, exact L1
    // distance transform to the nearest outside cell (grid border counts),
    // argmax with (dist desc, gy, gx) ties. Per-polygon local kernel, no
    // shuffle; the oracle states the inside×outside pair minimum
    // definitionally.,
    "geo_polylabel" -> ((s, dir) => {
      ops.Rasterize.poleOfInaccessibility(holePolys(s, dir), gridN = 16)
        .orderBy("poly_id")
    }),
    // IDW gridding: interpolate a scattered observation field at probe
    // points (exact 3×3-ring candidates, integer-quantized weights).,
    "geo_idw" -> ((s, dir) => {
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 10 === 0)
        .selectExpr("c_custkey AS probe_id",
          "-120 + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS px",
          "36 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS py")
      val obs = t(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 0)
        .selectExpr(
          "-120 + (l_orderkey % 4) + ((l_partkey % 577) + 0.5D)/577.0D AS x",
          "36 + (l_suppkey % 2) + (((l_partkey*13) % 577) + 0.5D)/577.0D AS y",
          "l_partkey % 1000 + 1 AS v")
      ops.SpatialJoin.idwInterpolate(probes, obs, radius = 0.05)
        .orderBy("probe_id")
    }),
    // S2 + hex cell assignment with full cross-engine oracles (the DuckDB
    // side re-implements the Hilbert curve as a recursive CTE).,
    "geo_s2_cell" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("cell", cells.s2_cell(col("lng"), col("lat"), lit(12)))
        .withColumn("leaf", cells.s2_cell(col("lng"), col("lat"), lit(30)))
        .select("point_id", "cell", "leaf")
        .orderBy("point_id")
    }),
    // Multi-resolution hex rollup: res-9 counts re-keyed to their res-7
    // parents (center-containment parentage) — the H3-style pyramid
    // aggregation next to the z/x/y quadtree rollup. Two key-bounded
    // shuffles; the parent re-key is per-row codegen on aggregated cells.,
    "hex_rollup" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("cell9", cells.hex_cell(col("lng"), col("lat"), lit(9)))
        .groupBy("cell9").agg(count(lit(1)).as("n9"))
        .withColumn("cell7", cells.hex_parent(col("cell9"), lit(7)))
        .groupBy("cell7").agg(sum("n9").cast("long").as("n"),
          count(lit(1)).cast("long").as("n_children"))
        .orderBy("cell7")
    }),
    "geo_hex_cell" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("cell", cells.hex_cell(col("lng"), col("lat"), lit(9)))
        .select("point_id", "cell")
        .orderBy("point_id")
    }),
    // Hex grid distance (cells.hex_grid_distance — the h3 gridDistance
    // API): axial metric unpacked straight from the cell id bit layout as
    // codegen'd integer ops; consecutive-point pairs via one key-bounded
    // self-join. Pins the packed layout AND the ring metric the kNN
    // pruning bound quantifies over.,
    "geo_hex_distance" -> ((s, dir) => {
      val pts = quadrantPoints(s, dir)
        .withColumn("cell", cells.hex_cell(col("lng"), col("lat"), lit(9)))
        .select("point_id", "cell")
      val b = pts.select((col("point_id") - 1).as("point_id"),
        col("cell").as("cell_b"))
      pts.withColumnRenamed("cell", "cell_a").join(b, "point_id")
        .withColumn("hex_dist",
          cells.hex_grid_distance(col("cell_a"), col("cell_b")))
        .orderBy("point_id")
    }),
    // Geohash cell strings (geo.Geohash closed-form interleave, codegen'd
    // expression): the STRING-prefix cell index — substring(gh, 1, k) IS
    // the k-char parent, shown alongside — interoperable with any external
    // geohash-keyed dataset (the encoding is fully published, unlike h3's
    // constant tables). All-quadrant points exercise both hemispheres.
    // STR R-tree leaf packing audit (ops.SpatialJoin.strPack, Leutenegger
    // et al.): global x-rank DISTRIBUTED (range repartition + partition
    // offsets, never one window partition), ⌈√L⌉ vertical slices, y-rank
    // leaves of 64 — per-leaf count + bbox, the bulk-load quality table
    // of a spatial index build. The oracle replays the identical rank
    // arithmetic.,
    "geo_str_pack" -> ((s, dir) => {
      val pts = quadrantPoints(s, dir).selectExpr("point_id",
        "CAST(floor(lng * 1000000.0D) AS BIGINT) AS xq",
        "CAST(floor(lat * 1000000.0D) AS BIGINT) AS yq")
      ops.SpatialJoin.strPack(pts, leafCap = 64)
        .orderBy("slice", "leaf")
    }),
    // 10-digit Open Location Code / plus code (cells.olc, public spec):
    // 1/8000°-grid floor, five interleaved base-20 digit pairs, '+' after
    // pair 4 — the third public cell encoding beside geohash and
    // z/x/y-S2-hex, composed entirely from codegen'd built-ins (the digit
    // extraction keeps double division exact, see the scaladoc). olc_block
    // is the 8-char (≈275 m) block key sharing drops to.,
    "geo_olc" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("olc", cells.olc(col("lng"), col("lat")))
        .withColumn("olc_block", substring(col("olc"), 1, 8))
        .select("point_id", "olc", "olc_block")
        .orderBy("point_id")
    }),
    "geo_geohash" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("gh", cells.geohash(col("lng"), col("lat"), lit(7)))
        .withColumn("gh_parent", substring(col("gh"), 1, 4))
        .select("point_id", "gh", "gh_parent")
        .orderBy("point_id")
    }),
    // Coverage-gap audit (the missing-data side of the tile store): the
    // candidate 1° key grid of a bbox anti-joined against the present
    // tiles — which tiles a whole-region job would find absent (the
    // reference's NO_DATA⇒0 lane, surfaced as an audit table). Grid is
    // generated, never scanned; the anti-join broadcasts the key set.,
    "geo_coverage_gap" -> ((s, dir) => {
      val grid = s.range(0, 24).selectExpr(
        "CAST(-121 + id % 6 AS DOUBLE) + 0.5D AS lng",
        "CAST(35 + id DIV 6 AS DOUBLE) + 0.5D AS lat")
        .select(tile_key(col("lng"), col("lat")).as("tile_key"))
      val present = gateTiles(s).select(col("image_id").as("tile_key"))
      grid.join(present, Seq("tile_key"), "left_anti").orderBy("tile_key")
    }),
    // Hex-cell density profile: the skew report that feeds salting/adaptive
    // PIP hot-set decisions — dense cells at res 7, one map-combined shuffle.,
    "geo_cell_density" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("cell", cells.hex_cell(col("lng"), col("lat"), lit(7)))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy(col("n").desc, col("cell"))
    }),
    // Vector→raster burn (rasterize): pixel centers on an EXACT 1/64°
    // lattice (px = −120 + (2·gi+1)/128 — power-of-two divisions, zero
    // rounding, both engines bit-identical) PIP-joined to the triangle
    // family via the existing hex-cover join; per-pixel covering-polygon
    // count. The rasterization primitive of map rendering / zonal
    // preprocessing — candidates come from the cell join, never
    // pixels × polygons.,
    "geo_rasterize" -> ((s, dir) => {
      val centers = s.range(264L * 136L)
        .selectExpr("id AS point_id",
          "-120 + (2 * (id DIV 136) + 1) / 128.0D AS lng",
          "36 + (2 * (id % 136) + 1) / 128.0D AS lat")
      ops.SpatialJoin.pointInPolygon(centers, trianglePolys(s, dir), Some(11))
        .groupBy(expr("point_id DIV 136").as("gi"),
          expr("point_id % 136").as("gj"))
        .agg(count(lit(1)).as("n_polys"))
        .orderBy("gi", "gj")
    }),
    // Terrain cost-distance (least-cost reachability): the hydrology
    // family's closed-form 100×100 elevation field turned into an
    // 8-connected weighted graph (move cost 1 + max(0, uphill rise)) and
    // relaxed 6 Bellman–Ford rounds from the center cell via Graph.sssp —
    // the cost-surface / isochrone primitive of terrain routing. Exact
    // min-plus integer arithmetic; the oracle unrolls the same 6 rounds.,
    "geo_cost_distance" -> ((s, dir) => {
      val edges = s.range(100L * 100L)
        .selectExpr("id AS src", "id DIV 100 AS i", "id % 100 AS j")
        .withColumn("k", explode(sequence(lit(0), lit(7))))
        .selectExpr("src", "i", "j",
          "i + element_at(array(1,1,0,-1,-1,-1,0,1), k+1) AS ni",
          "j + element_at(array(0,1,1,1,0,-1,-1,-1), k+1) AS nj")
        .filter("ni BETWEEN 0 AND 99 AND nj BETWEEN 0 AND 99")
        .selectExpr("src", "ni*100 + nj AS dst",
          """1 + greatest(0, ((ni*ni)%97 + (nj*nj)%89 + (ni*nj)%31) -
             ((i*i)%97 + (j*j)%89 + (i*j)%31)) AS w""")
      ops.Graph.sssp(edges, source = 5050L, rounds = 6).orderBy("node")
    }),
    // kRing smoothing (cells.hex_disk — the h3 gridDisk API): per-cell
    // counts spread to every cell within grid distance 2 via a PLAN-TIME
    // literal-offset array (pack is linear in (q,r): one 64-bit add per
    // disk member, explode ×19, fully codegen) and re-aggregated — the
    // hotspot-smoothing / neighborhood-dilation primitive where shuffle
    // traffic scales with CELLS × disk size, never with the points inside;
    // an occupied-cell equi-join keeps the output on the data.,
    "geo_hex_kring" -> ((s, dir) => {
      val perCell = quadrantPoints(s, dir)
        .withColumn("cell", cells.hex_cell(col("lng"), col("lat"), lit(9)))
        .groupBy("cell").agg(count(lit(1)).as("n"))
      val spread = perCell
        .select(explode(cells.hex_disk(col("cell"), 2)).as("cell"), col("n"))
        .groupBy("cell").agg(sum("n").as("smooth"))
      perCell.join(spread, "cell")
        .select(col("cell"), col("n"), col("smooth"))
        .orderBy("cell")
    }),
    // Spatial connected regions (island detection): occupied res-1 hex
    // cells linked to occupied NEIGHBORS (one hex_disk(1) literal-offset
    // explode + one equi-join — never all-pairs), components via the
    // O(log n)-round large-star/small-star contraction, then per-region
    // cell/point rollups. The contiguous-coverage analysis (service
    // areas, data-coverage islands) composed from three gated primitives.,
    "geo_hex_regions" -> ((s, dir) => {
      val perCell = quadrantPoints(s, dir)
        .withColumn("cell", cells.hex_cell(col("lng"), col("lat"), lit(1)))
        .groupBy("cell").agg(count(lit(1)).as("n"))
      val edges = perCell
        .select(col("cell").as("doc_a"),
          explode(cells.hex_disk(col("cell"), 1)).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
      val comps = ops.TextDedup.connectedComponentsStar(edges,
        perCell.select(col("cell").as("doc_id")))
      perCell.join(comps, perCell("cell") === comps("doc_id"))
        .groupBy(col("comp").as("region"))
        .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"))
        .orderBy("region")
    }),
    // Discrete KDE heatmap: 3×3 integer-kernel smoothing of per-cell point
    // counts (center 4 / edge 2 / corner 1) — density shuffles move cells,
    // never points.,
    "geo_kde" -> ((s, dir) => {
      ops.Rasterize.kdeSmooth(gatePoints(s, dir), cellsPerDeg = 20)
        .orderBy("gx", "gy")
    }),
    // Stay-point detection: integer random-walk positions per user (exact
    // cumulative sums), bucketed to cells; dwell = >=4 consecutive events
    // in one cell via gaps-and-islands.,
    "geo_cell_skew" -> ((s, dir) => {
      val cells = gatePoints(s, dir)
        .select(zxy_x(col("lng"), lit(14)).as("x"),
          zxy_y(col("lat"), lit(14)).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum("n").as("tot"))
      cells.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("n * 1000000L div tot"))
        // top-10 via distributed TakeOrdered; rank window over 10 rows
        .orderBy(col("n").desc, col("x"), col("y")).limit(10)
        .withColumn("rank", row_number().over(
          Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("n"))).orderBy(col("n").desc, col("x"), col("y"))))
        .select("x", "y", "n", "share_ppm", "rank")
        .orderBy("rank")
    }),
    "geo_zxy" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("x", zxy_x(col("lng"), lit(14)))
        .withColumn("y", zxy_y(col("lat"), lit(14)))
        .select("point_id", "x", "y")
        .orderBy("point_id")
    }),
    // Bing quadkey (functions.raster.quadkey): the STRING tile address
    // whose prefix property turns pyramid containment into LIKE/range
    // predicates parquet stats prune — digits unrolled at plan time into
    // one codegen'd concat of bit ops over the same z14 tile coords.,
    "geo_quadkey" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("x", zxy_x(col("lng"), lit(14)))
        .withColumn("y", zxy_y(col("lat"), lit(14)))
        .withColumn("qk", quadkey(col("x"), col("y"), 14))
        .select("point_id", "x", "y", "qk")
        .orderBy("point_id")
    }),
    // Z-order (Morton) write-clustering key: sort-before-write locality so
    // parquet row-group min/max stats prune spatial range predicates. The
    // oracle replays the quantizer and the 4-step magic-mask bit spread.,
    "geo_zorder" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("zkey", cells.zorder_key(col("lng"), col("lat")))
        .select("point_id", "zkey")
        .orderBy("point_id")
    }),
    // Hilbert-curve clustering key (graft.geo.Hilbert — codegen'd
    // HilbertKeyExpr): the tighter-locality alternative to geo_zorder
    // (consecutive keys are ALWAYS grid-adjacent). The oracle unrolls the
    // published 8-level quadrant+rotation recurrence as chained CTEs in
    // pure integer arithmetic.,
    "geo_hilbert" -> ((s, dir) => {
      quadrantPoints(s, dir)
        .withColumn("hkey", cells.hilbert_key(col("lng"), col("lat")))
        .select("point_id", "hkey")
        .orderBy("point_id")
    }),
    // Data-skipping audit — the NUMBER behind the zorder_key scaladoc's
    // clustering claim: the same points bucketed by the top-6 Morton bits
    // (8×8 spatial blocks) vs by row-major qy stripes; per bucket×layout,
    // parquet-style min/max stats decide which buckets a box predicate can
    // SKIP. The lng-band predicate is the separator: every row-major
    // stripe spans all longitudes (no pruning), while z-order scans only
    // the intersecting column blocks. Pure integer min/max pruning
    // arithmetic the oracle replays directly.
    // BLOOM data-skipping audit — the secondary-index complement to
    // store_zorder_skip's min/max pruning: point lookups on a NON-layout
    // column (o_custkey in an o_orderkey-bucketed store) can't use
    // min/max; a per-bucket bloom (the deterministic Sketches hash family,
    // 3×4096 bits) prunes buckets instead. Per probe key (15 present + 5
    // provably absent): candidate buckets vs true buckets vs MISSED true
    // buckets — the no-false-negative contract is a gated output column
    // (n_missed ≡ 0), and absent keys' candidate counts measure the FP
    // cost. Bit positions are DISTINCT'd per bucket (bounded state, the
    // bloomBuild shuffle shape).,
    "geo_pip" -> ((s, dir) => {
      ops.SpatialJoin.pointInPolygon(gatePoints(s, dir), trianglePolys(s, dir), Some(11))
        .select(col("point_id"), col("poly_id"))
        .orderBy("point_id", "poly_id")
    }),
    // Skew handling over genuinely skewed input (one third of points in an
    // 8-cell hotspot): only the hotspot cells salt / split, the uniform
    // remainder joins at the coarse level untouched.,
    "geo_pip_salted" -> ((s, dir) => {
      ops.SpatialJoin.pointInPolygonSalted(skewPoints(s, dir), trianglePolys(s, dir),
          level = 11, hotThreshold = 500L, salt = 8)
        .select(col("point_id"), col("poly_id"))
        .orderBy("point_id", "poly_id")
    }),
    "geo_pip_adaptive" -> ((s, dir) => {
      ops.SpatialJoin.pointInPolygonAdaptive(skewPoints(s, dir), trianglePolys(s, dir),
          level = 11, hotThreshold = 500L, splitLevels = 2)
        .select(col("point_id"), col("poly_id"))
        .orderBy("point_id", "poly_id")
    }),
    // Multi-ring PIP (VERDICT r3 missing #1): rectangles with a centered
    // HOLE plus a disjoint second shell (MultiPolygon) — even-odd over all
    // rings, so hole points are excluded and second-shell points included.
    // Same S2-cover join; refine is the codegen'd ray_cast_multi.,
    "geo_pip_holes" -> ((s, dir) => {
      ops.SpatialJoin.pointInPolygonMulti(gatePoints(s, dir), holePolys(s, dir), Some(11))
        .select(col("point_id"), col("poly_id"))
        .orderBy("point_id", "poly_id")
    }),
    "geo_knn" -> ((s, dir) => {
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .selectExpr("c_custkey AS probe_id",
          "-120.0D + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS lng",
          "36.0D + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS lat")
      val targets = gatePoints(s, dir).withColumnRenamed("point_id", "target_id")
      ops.SpatialJoin.knn(probes, targets, k = 5, res = 5)
        .select(col("probe_id"), col("target_id"), col("rank"), col("dist2"))
        .orderBy("probe_id", "rank")
    }),
    // GEODESIC kNN at 66-68°N, where 1° of longitude is ~43 km and planar
    // degree ranking is simply wrong — hex cells still prune, only the
    // refine metric changes (polynomial haversine; Geodesic scaladoc).,
    "geo_knn_geodesic" -> ((s, dir) => {
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .selectExpr("c_custkey AS probe_id",
          "-20.0D + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS lng",
          "66.0D + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS lat")
      val targets = t(s, dir, "lineitem").selectExpr(
        "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS target_id",
        "-20 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5D)/600.0D AS lng",
        "66 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5D)/600.0D AS lat")
      ops.SpatialJoin.knnGeodesic(probes, targets, k = 5, res = 5)
        .orderBy("probe_id", "rank")
    }),
    // Geodesic (meter-radius) range join at the same 66-68°N fixture: the
    // hex-disk cover widens by the cos-lat-safe planar superset, the exact
    // refine keeps polynomial-haversine t ≤ sinP(r/2R)² — pure arithmetic
    // the oracle replays IEEE-exactly (same kernel as geo_knn_geodesic).,
    "geo_range_geodesic" -> ((s, dir) => {
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .selectExpr("c_custkey AS probe_id",
          "-20.0D + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS lng",
          "66.0D + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS lat")
      val targets = t(s, dir, "lineitem").selectExpr(
        "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS target_id",
        "-20 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5D)/600.0D AS lng",
        "66 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5D)/600.0D AS lat")
      ops.SpatialJoin.withinDistanceGeodesic(probes, targets, radiusMeters = 2000.0)
        .orderBy("probe_id", "target_id")
    }),
    // Trajectory simplification: Douglas-Peucker over the gate trails (the
    // reference's polyline domain as analytics). Split rule is sqrt/div-free
    // (cross² > ε²·len²) so the unrolled-CTE oracle replicates every branch;
    // ε = 0.25 (exact binary double) keeps ~79% of the zigzag vertices.
    // Movement bearing octant per trajectory segment: the aspect-octant
    // sign/|.| classification on (dlng, dlat) — no atan2, engine-exact.,
    "geo_bearing" -> ((s, dir) => {
      val w = Window.partitionBy("line_id").orderBy("seq")
      gatePoints(s, dir).filter(col("point_id") % 10 === 0)
        .select((col("point_id") % 199).as("line_id"), col("point_id").as("seq"),
          col("lng"), col("lat"))
        .withColumn("dx", col("lng") - lag("lng", 1).over(w))
        .withColumn("dy", col("lat") - lag("lat", 1).over(w))
        .filter(col("dx").isNotNull)
        .withColumn("octant",
          when(col("dx") === 0 && col("dy") === 0, 0)
            .when(abs(col("dx")) > abs(col("dy")),
              when(col("dx") > 0, 1).otherwise(5))
            .when(abs(col("dy")) > abs(col("dx")),
              when(col("dy") > 0, 3).otherwise(7))
            .otherwise(when(col("dx") > 0,
              when(col("dy") > 0, 2).otherwise(8))
              .otherwise(when(col("dy") > 0, 4).otherwise(6))))
        .select("line_id", "seq", "octant")
        .orderBy("line_id", "seq")
    }),
    // Polygon-polygon intersection join (J6): S2-cover cell equi-join
    // candidates, exact orientation-sign refine (vertex containment either
    // way or proper edge crossing) as codegen'd HOF arithmetic.,
    "geo_poly_join" -> ((s, dir) => {
      ops.SpatialJoin.polygonJoin(
          trianglePolys(s, dir), trianglePolysB(s, dir), level = 9)
        .orderBy("poly_a", "poly_b")
    }),
    // z14 tile cover of polygon bboxes: which slippy tiles does a feature
    // touch — the serving-side fan-out count per feature; pure per-row math.,
    "geo_tile_cover" -> ((s, dir) => {
      import graft.functions.raster.{zxy_x, zxy_y}
      trianglePolys(s, dir)
        .select(col("poly_id"),
          array_min(col("xs")).as("xmin"), array_max(col("xs")).as("xmax"),
          array_min(col("ys")).as("ymin"), array_max(col("ys")).as("ymax"))
        .select(col("poly_id"),
          zxy_x(col("xmin"), lit(14)).as("tx0"),
          zxy_x(col("xmax"), lit(14)).as("tx1"),
          zxy_y(col("ymax"), lit(14)).as("ty0"),
          zxy_y(col("ymin"), lit(14)).as("ty1"))
        .withColumn("n_tiles",
          (col("tx1") - col("tx0") + 1).cast("long") * (col("ty1") - col("ty0") + 1))
        .orderBy("poly_id")
    }),
    "geo_simplify" -> ((s, dir) => {
      val verts = gatePoints(s, dir).filter(col("point_id") % 10 === 0)
        .select((col("point_id") % 199).as("line_id"), col("point_id").as("seq"),
          col("lng"), col("lat"))
      ops.Trajectory.simplify(verts, eps = 0.25)
        .select("line_id", "seq", "lng", "lat")
        .orderBy("line_id", "seq")
    }),
    // Vector→raster rasterization with exact area weights: each triangle
    // clipped (Sutherland–Hodgman) against every 1/16° cell its bbox
    // touches — the clip kernel's first ORACLE gate (1/16° cell edges are
    // exact binary doubles, so every clip intermediate is IEEE-replicable
    // and the oracle replays all four clip passes in SQL).,
    "geo_cell_weights" -> ((s, dir) => {
      ops.Rasterize.cellAreaWeights(trianglePolys(s, dir), cellsPerDeg = 16)
        .orderBy("poly_id", "cx", "cy")
    }),
    // AREA-WEIGHTED zonal elevation — the composition Rasterize promises:
    // per-cell overlap weights x bilinear elevation at cell centers
    // (missing tile => 0), aggregated per polygon over floor-quantized
    // integers so the sums are order-independent and oracle-exact. The
    // weighted mean divides the two exact sums once.,
    "zonal_weighted" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      ops.Rasterize.cellAreaWeights(trianglePolys(s, dir), cellsPerDeg = 16)
        .withColumn("clng", (col("cx").cast("double") + lit(0.5)) / lit(16.0))
        .withColumn("clat", (col("cy").cast("double") + lit(0.5)) / lit(16.0))
        .withColumn("elev", ops.ElevAt.elev_at(col("clng"), col("clat"), bc))
        .withColumn("wq", floor(col("area") * col("elev") * lit(1.0e9)).cast("long"))
        .withColumn("aq", floor(col("area") * lit(1.0e12)).cast("long"))
        .groupBy("poly_id")
        .agg(count(lit(1)).as("n_cells"), sum("wq").as("wsum_q"), sum("aq").as("asum_q"))
        .withColumn("wmean", col("wsum_q") / col("asum_q") * lit(1000.0))
        .orderBy("poly_id")
    }),
    // Split-apply DP — the scale path for continent-length lines: chunks
    // of 16 consecutive vertices with shared boundary points, exact DP per
    // chunk (memory bounded by chunk+1 regardless of line length); the
    // oracle replays the chunked grouping through the same unrolled CTEs.,
    "geo_simplify_chunked" -> ((s, dir) => {
      val verts = gatePoints(s, dir).filter(col("point_id") % 10 === 0)
        .select((col("point_id") % 199).as("line_id"), col("point_id").as("seq"),
          col("lng"), col("lat"))
      ops.Trajectory.simplifyChunked(verts, eps = 0.25, chunk = 16)
        .select("line_id", "seq", "lng", "lat")
        .orderBy("line_id", "seq")
    }),
    // J5: within-distance (range) join — every gate point within 0.05° of a
    // sampled customer probe; probe-side hex-disk cover (7 cells at the
    // derived res), one cell equi-join, exact dist2 refine.,
    "geo_range_join" -> ((s, dir) => {
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .selectExpr("c_custkey AS probe_id",
          "-120.0D + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS lng",
          "36.0D + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS lat")
      val targets = gatePoints(s, dir).withColumnRenamed("point_id", "target_id")
      ops.SpatialJoin.withinDistance(probes, targets, radius = 0.05)
        .orderBy("probe_id", "target_id")
    }),
    // Ripley's K point-pattern statistic: ordered close pairs of ONE
    // point set counted at 4 nested radii — the clustered-vs-random
    // diagnostic of spatial statistics (K above πr² ⇒ clustering). The
    // pair set comes from the hex-pruned within-distance join at r_max
    // (never all-pairs); the 4-radius classification is a 4-literal-row
    // broadcast nested loop over already-bounded pairs. k_est = A·n/n²
    // is ONE IEEE division over exact integers (A = 8 deg², the point
    // quadrant's area).,
    "geo_ripley_k" -> ((s, dir) => {
      import s.implicits._
      val pts = t(s, dir, "customer").filter(col("c_custkey") % 20 === 0)
        .selectExpr("c_custkey AS point_id",
          "-120.0D + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS lng",
          "36.0D + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS lat")
        .localCheckpoint(false)
      val pairs = ops.SpatialJoin.withinDistance(
          pts.withColumnRenamed("point_id", "probe_id"),
          pts.withColumnRenamed("point_id", "target_id"), radius = 0.2)
        .filter(col("probe_id") =!= col("target_id"))
      val radii = Seq((1L, 0.05), (2L, 0.10), (3L, 0.15), (4L, 0.20))
        .toDF("r_idx", "r")
      val n = pts.agg(count(lit(1)).as("n"))
      radii.join(pairs,
          expr("dist2 <= CAST(r AS DOUBLE) * CAST(r AS DOUBLE)"), "left")
        .groupBy("r_idx", "r")
        .agg(count(col("probe_id")).as("n_pairs"))
        .crossJoin(broadcast(n))
        .withColumn("k_est",
          (col("n_pairs").cast("double") * lit(8.0)) /
            (col("n") * col("n")).cast("double"))
        .select("r_idx", "r", "n_pairs", "n", "k_est")
        .orderBy("r_idx")
    }),
    // Quadrat-count dispersion audit (classic CSR χ² screen): 32×8 cells
    // of 0.25° over the gate bbox; χ² = Σ_cells(C·nᵢ − N)² / (C·N) by
    // cross-multiplication (empty cells contribute N² each via the closed
    // form — no spine join). Uniform vs planted-hotspot points side by
    // side: the number a spatial partitioner reads before deciding to
    // salt. Exact for N ≲ 2·10⁹ points (127N squared fits a Long);
    // beyond that, shard-stratified χ² slabs.,
    "geo_quadrat" -> ((s, dir) => {
      val nc = 256L
      def stat(pts: DataFrame, tag: String) = {
        val cells = pts.selectExpr(
            "CAST(floor((lng + 120.0D) * 8.0D) AS BIGINT) AS cx",
            "CAST(floor((lat - 36.0D) * 4.0D) AS BIGINT) AS cy")
          .groupBy("cx", "cy").agg(count(lit(1)).as("cnt"))
        val tot = cells.agg(sum("cnt").cast("long").as("n_points"))
        cells.crossJoin(broadcast(tot))
          .groupBy("n_points")
          .agg(count(lit(1)).as("n_occupied"),
            sum((lit(nc) * col("cnt") - col("n_points")) *
              (lit(nc) * col("cnt") - col("n_points"))).cast("long")
              .as("ss_occ"))
          .withColumn("ss", col("ss_occ") +
            (lit(nc) - col("n_occupied")) * col("n_points") * col("n_points"))
          .selectExpr(s"'$tag' AS dataset", "n_points", "n_occupied",
            s"ss div ($nc * n_points) AS chi2_q")
      }
      stat(gatePoints(s, dir), "uniform")
        .unionAll(stat(skewPoints(s, dir), "skewed"))
        .orderBy("dataset")
    }),
    // Map algebra: Lambertian hillshade (sun az 315°, alt 45°) from the same
    // central-difference gradient as geo_slope; all light-vector constants
    // are exact double literals so the oracle reproduces the value exactly.,
    "geo_hillshade" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("hillshade", ops.ElevAt.elev_hillshade(col("lng"), col("lat"), bc))
        .select("point_id", "hillshade")
        .orderBy("point_id")
    }),
    // Map algebra, hydrology: D8 flow direction — steepest descent to the 8
    // clamped neighbours of the nearest grid node, ESRI power-of-2 codes.
    // The straight-vs-diagonal comparison is sqrt/division-free (2·drop²ₛ vs
    // drop²d), pure integers, so the oracle replicates every branch exactly.,
    "geo_flowdir" -> ((s, dir) => {
      val bc = ops.TileIndex.broadcastIndex(gateTiles(s))
      gatePoints(s, dir)
        .withColumn("d8", ops.ElevAt.elev_flowdir(col("lng"), col("lat"), bc).cast("long"))
        .select("point_id", "d8")
        .orderBy("point_id")
    }),
    // Watershed delineation over a synthetic multi-basin 100×100 grid:
    // D8 steepest-descent successors (first maximal drop wins, borders
    // excluded) resolved to sink labels by O(log path) pointer doubling.,
    "geo_watershed" -> ((s, dir) => {
      ops.FlowGraph.sinkLabels(d8SuccGrid(s)).orderBy("cell")
    }),
    // Flow accumulation: upstream contributing cells per node (self
    // included) — paths enumerated in O(log L) path-doubling rounds, never
    // a sequential walk.,
    "geo_flowaccum" -> ((s, dir) => {
      ops.FlowGraph.accumulation(d8SuccGrid(s)).orderBy("cell")
    }),
    // Strahler stream order (ops.FlowGraph.strahler): the hydrology
    // branch-ranking classic over a deterministic binary flow tree
    // (child → child div 2) whose node set comes from orders — leaves
    // order 1, promote at ≥2 max-order children; bottom-up rounds = tree
    // height. The oracle unrolls the same 9 rounds as chained CTEs.,
    "geo_strahler" -> ((s, dir) => {
      val e = t(s, dir, "orders")
        .selectExpr("o_orderkey % 199 + 1 AS child")
        .distinct()
        .selectExpr("child", "child div 2 AS parent")
      ops.FlowGraph.strahler(e).orderBy("node")
    }),
    // Bounded-radius map matching: snap sampled customer points onto the
    // nearest lineitem-derived segment within 0.05°; grid-ring candidates
    // are exact at cell size = radius.,
    "geo_snap" -> ((s, dir) => {
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 10 === 0)
        .selectExpr("c_custkey AS probe_id",
          "-120 + (c_custkey % 4) + ((c_custkey % 577) + 0.5D)/577.0D AS px",
          "36 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5D)/577.0D AS py")
      val segs = t(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 0)
        .selectExpr(
          "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS seg_id",
          "-120 + (l_orderkey % 4) + ((l_partkey % 577) + 0.5D)/577.0D AS x1",
          "36 + (l_suppkey % 2) + (((l_partkey*13) % 577) + 0.5D)/577.0D AS y1",
          "((l_suppkey % 20) + 1)/4000.0D AS dx",
          "(((l_orderkey*3) % 41) - 20)/4000.0D AS dy")
        .selectExpr("seg_id", "x1", "y1", "x1 + dx AS x2", "y1 + dy AS y2")
      ops.SpatialJoin.snapToSegments(probes, segs, radius = 0.05)
        .orderBy("probe_id")
    }),
    // Vector overlay: proper segment×segment crossings between two dense
    // lineitem-derived families in a 0.5° box; PBSM reference-point dedup,
    // four-orientation refine.
  )

  val sql: Map[String, String] = Map(
    "geo_dbscan" -> dbscanOracleSql,
    "geo_dbscan_hulls" -> dbscanHullsOracleSql,
    "geo_line_density" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         v AS (SELECT point_id % 199 AS line_id, point_id AS seq,
           CAST(floor(lng * 100) AS BIGINT) AS x1,
           CAST(floor(lat * 100) AS BIGINT) AS y1 FROM pts),
         d AS (SELECT line_id, x1, y1, lag(x1) OVER w AS x0, lag(y1) OVER w AS y0
           FROM v WINDOW w AS (PARTITION BY line_id ORDER BY seq)),
         s AS (SELECT *, greatest(abs(x1-x0), abs(y1-y0), 1) AS steps
           FROM d WHERE x0 IS NOT NULL),
         tr AS (SELECT DISTINCT line_id,
           x0 + CASE WHEN x1 >= x0 THEN ((x1-x0)*k.kk) // steps
                ELSE -(((x0-x1)*k.kk) // steps) END AS cx,
           y0 + CASE WHEN y1 >= y0 THEN ((y1-y0)*k.kk) // steps
                ELSE -(((y0-y1)*k.kk) // steps) END AS cy
           FROM s, unnest(range(0, s.steps + 1)) AS k(kk))
         SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_lines
         FROM tr GROUP BY 1, 2 ORDER BY cx, cy""",
    "geo_tile_key" ->
      """WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer)
         SELECT point_id,
           (CASE WHEN floor(lat) < 0 THEN 'S' ELSE 'N' END ||
            lpad(CAST(CAST(abs(floor(lat)) AS BIGINT) AS VARCHAR), 2, '0') ||
            CASE WHEN floor(lng) < 0 THEN 'W' ELSE 'E' END ||
            lpad(CAST(CAST(abs(floor(lng)) AS BIGINT) AS VARCHAR), 3, '0')) AS tile_key
         FROM pts ORDER BY point_id""",
    "geo_elev_bilinear" -> cogroupElevOracleSql,
    // the streaming enrichment path must land on the identical result, so
    // it shares the bilinear oracle,
    "geo_enrich_rollup" -> {
      val e6 = graft.geo.Hex.edge(6)
      """WITH pts AS (SELECT
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         k AS (SELECT lng, lat,
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
         ev AS (SELECT lng, lat,
           CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
                ELSE (v00 + (v10 - v00) * cf) +
                     ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
           END AS elev FROM v),""" +
      s"""
         ax AS (SELECT elev,
           (sqrt(3.0)/3.0 * lng - lat/3.0) / $e6 AS qf,
           (2.0/3.0 * lat) / $e6 AS rf2 FROM ev),
         r0c AS (SELECT elev, qf, rf2, -qf - rf2 AS sf,
           CAST(floor(qf + 0.5) AS BIGINT) AS qi,
           CAST(floor(rf2 + 0.5) AS BIGINT) AS ri,
           CAST(floor(-qf - rf2 + 0.5) AS BIGINT) AS si FROM ax),
         rr AS (SELECT elev,
           CASE WHEN abs(qi - qf) > abs(ri - rf2) AND abs(qi - qf) > abs(si - sf)
                THEN -ri - si ELSE qi END AS q,
           CASE WHEN NOT (abs(qi - qf) > abs(ri - rf2) AND abs(qi - qf) > abs(si - sf))
                     AND abs(ri - rf2) > abs(si - sf)
                THEN -qi - si ELSE ri END AS r FROM r0c),
         cq AS (SELECT
           CAST(6 AS BIGINT) * 288230376151711744 + (q + 268435456) * 536870912 + (r + 268435456) AS cell,
           CAST(round(elev * 100) AS BIGINT) AS q100 FROM rr)
         SELECT cell, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q100) AS BIGINT) AS sum_q,
           CAST(min(q100) AS BIGINT) AS min_q,
           CAST(max(q100) AS BIGINT) AS max_q
         FROM cq GROUP BY cell ORDER BY cell"""
    },
    "geo_elev_profile" -> profileOracleSql,
    "geo_viewshed" -> viewshedOracleSql,
    "geo_along" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         v AS (SELECT point_id % 199 AS line_id, point_id AS seq,
           CAST(floor(lng * 1000000.0) AS BIGINT) AS xq,
           CAST(floor(lat * 1000000.0) AS BIGINT) AS yq FROM pts),
         d AS (SELECT line_id, seq, xq, yq,
           lag(xq) OVER w AS px, lag(yq) OVER w AS py,
           row_number() OVER w AS rn
           FROM v WINDOW w AS (PARTITION BY line_id ORDER BY seq)),
         sg AS (SELECT *, coalesce(CAST(floor(sqrt(CAST((xq-px)*(xq-px) + (yq-py)*(yq-py) AS DOUBLE))) AS BIGINT), 0) AS seg_q FROM d),
         c AS (SELECT *,
           CAST(sum(seg_q) OVER (PARTITION BY line_id ORDER BY seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_q,
           CAST(sum(seg_q) OVER (PARTITION BY line_id) AS BIGINT) AS total_q FROM sg),
         f AS (SELECT c.*, CAST(fr.f_ppm AS BIGINT) AS f_ppm,
           (total_q * fr.f_ppm) // 1000000 AS tq
           FROM c CROSS JOIN (VALUES (250000), (500000), (750000)) AS fr(f_ppm)),
         h AS (SELECT *, tq - (cum_q - seg_q) AS offq FROM f
           WHERE (tq = 0 AND rn = 1) OR (tq > cum_q - seg_q AND tq <= cum_q))
         SELECT line_id, f_ppm,
           CASE WHEN seg_q = 0 THEN xq
                ELSE px + CASE WHEN xq >= px THEN ((xq - px) * offq) // seg_q
                          ELSE -(((px - xq) * offq) // seg_q) END END AS ax,
           CASE WHEN seg_q = 0 THEN yq
                ELSE py + CASE WHEN yq >= py THEN ((yq - py) * offq) // seg_q
                          ELSE -(((py - yq) * offq) // seg_q) END END AS ay
         FROM h ORDER BY line_id, f_ppm""",
    "geo_terrarium" ->
      """WITH e AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           ((l_extendedprice % 9000.0) - 500.0) + 32768.0 AS ev FROM lineitem)
         SELECT point_id, CAST(floor(ev / 256) AS INT) AS r,
           CAST(trunc(ev % 256) AS INT) AS g,
           CAST(floor((ev - floor(ev)) * 256) AS INT) AS b
         FROM e ORDER BY point_id""",
    // same z14 web-mercator formula as geo_zxy over the gate point cloud,
    "geo_elev_cogroup" -> cogroupElevOracleSql,
    // the composed pipeline replayed per ROW in one CTE chain — elevation
    // and hex cell computed side by side, never joined (the synthetic
    // point_id is not injective at every SF, so a point_id join would
    // fabricate rows the engine's straight-line plan never sees),
    "geo_elev_nearest" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         k AS (SELECT point_id,
           CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
           CAST(floor((lng - floor(lng)) * 600 + 0.5) AS BIGINT) AS cn,
           CAST(floor((lat - floor(lat)) * 600 + 0.5) AS BIGINT) AS rn FROM pts)
         SELECT point_id,
           CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
                ELSE CAST(((swlng+180)*7 + (swlat+90)*11) % 1000
                     + 2*cn + 3*rn + ((cn//8)*(rn//8)) % 32 AS DOUBLE)
           END AS elev
         FROM k ORDER BY point_id""",
    "polyline_roundtrip" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem)
         SELECT point_id % 500 AS grp,
           CAST(row_number() OVER (PARTITION BY point_id % 500 ORDER BY point_id) - 1 AS INTEGER) AS idx,
           CAST(floor(lng*100000 + 0.5) AS BIGINT)/100000.0 AS lng5,
           CAST(floor(lat*100000 + 0.5) AS BIGINT)/100000.0 AS lat5
         FROM pts ORDER BY grp, idx""",
    "feature_reassembly" ->
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
         e AS (SELECT point_id, point_id % 200 AS grp,
           CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
                ELSE (v00 + (v10 - v00) * cf) +
                     ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
           END AS elev FROM v),
         w AS (SELECT grp, elev,
           row_number() OVER (PARTITION BY grp ORDER BY point_id) AS rn,
           count(*) OVER (PARTITION BY grp) AS n FROM e)
         SELECT grp, n, max(CASE WHEN rn = 1 THEN elev END) AS first_elev,
           max(CASE WHEN rn = n THEN elev END) AS last_elev,
           min(elev) AS min_elev, max(elev) AS max_elev
         FROM w GROUP BY grp, n ORDER BY grp""",
    "geo_slope" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         k AS (SELECT point_id,
           CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
           CAST(floor((lng - floor(lng)) * 600 + 0.5) AS BIGINT) AS cn,
           CAST(floor((lat - floor(lat)) * 600 + 0.5) AS BIGINT) AS rn FROM pts),
         b AS (SELECT *, GREATEST(0, cn-1) AS c0, LEAST(600, cn+1) AS c1,
           GREATEST(0, rn-1) AS r0, LEAST(600, rn+1) AS r1,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM k),
         d AS (SELECT point_id, swlng, swlat,
           ((a + 2*c1 + 3*rn + ((c1//8)*(rn//8)) % 32) -
            (a + 2*c0 + 3*rn + ((c0//8)*(rn//8)) % 32)) / (c1 - c0) AS dc,
           ((a + 2*cn + 3*r1 + ((cn//8)*(r1//8)) % 32) -
            (a + 2*cn + 3*r0 + ((cn//8)*(r0//8)) % 32)) / (r1 - r0) AS dr
           FROM b)
         SELECT point_id,
           CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
                ELSE dc*dc + dr*dr END AS slope2
         FROM d ORDER BY point_id""",
    "zonal_stats" ->
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
         SELECT poly_id, count(*) AS n_points, min(elev) AS min_elev, max(elev) AS max_elev
         FROM inside JOIN e USING (point_id)
         GROUP BY poly_id ORDER BY poly_id""",
    // lower median: the value at rank (n+1)//2 under the (elev, point_id)
    // total order — same membership and bilinear kernel as zonal_stats,
    "zonal_median" ->
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
           END AS elev FROM ev),
         w AS (SELECT poly_id, point_id, elev,
           row_number() OVER (PARTITION BY poly_id ORDER BY elev, point_id) AS rn,
           count(*) OVER (PARTITION BY poly_id) AS n_points
           FROM inside JOIN e USING (point_id))
         SELECT poly_id, n_points, elev AS median_elev
         FROM w WHERE rn = (n_points + 1) // 2 ORDER BY poly_id""",
    "zonal_hist" -> zonalHistOracleSql,
    "zonal_majority" ->
      s"""SELECT poly_id, bin AS majority_bin, CAST(n AS BIGINT) AS n
         FROM ($zonalHistOracleSql)
         QUALIFY row_number() OVER (PARTITION BY poly_id ORDER BY n DESC, bin) = 1
         ORDER BY poly_id""",
    "tile_mosaic" -> tileMosaicOracleSql,
    "geo_voronoi" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         sites AS (SELECT s_suppkey AS site_id,
           -120 + (s_suppkey % 4) + (((s_suppkey*13) % 97) + 0.5)/97.0 AS sx,
           36 + (s_suppkey % 2) + (((s_suppkey*29) % 97) + 0.5)/97.0 AS sy
           FROM supplier WHERE s_suppkey <= 40),
         c AS (SELECT point_id, site_id,
           (lng - sx)*(lng - sx) + (lat - sy)*(lat - sy) AS d2 FROM pts, sites)
         SELECT point_id, site_id, d2 FROM c
         QUALIFY row_number() OVER (PARTITION BY point_id ORDER BY d2, site_id) = 1
         ORDER BY point_id""",
    "geo_polylabel" -> polylabelOracleSql,
    "geo_idw" ->
      """WITH probes AS (SELECT c_custkey AS probe_id,
           -120 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS px,
           36 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS py
           FROM customer WHERE c_custkey % 10 = 0),
         obs AS (SELECT
           -120 + (l_orderkey % 4) + ((l_partkey % 577) + 0.5)/577.0 AS x,
           36 + (l_suppkey % 2) + (((l_partkey*13) % 577) + 0.5)/577.0 AS y,
           l_partkey % 1000 + 1 AS v
           FROM lineitem WHERE l_orderkey % 20 = 0),
         c AS (SELECT probe_id, v, (px - x) AS ddx, (py - y) AS ddy
           FROM probes, obs),
         f AS (SELECT probe_id, v, ddx*ddx + ddy*ddy AS d2 FROM c
           WHERE ddx*ddx + ddy*ddy > 0.0 AND ddx*ddx + ddy*ddy <= 0.05*0.05),
         w AS (SELECT probe_id, v,
           CAST(LEAST(floor(1.0/d2), 1000000000000.0) AS BIGINT) AS wq FROM f)
         SELECT probe_id, CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(wq * v) AS BIGINT) AS vsum, CAST(sum(wq) AS BIGINT) AS wsum,
           CAST(sum(wq * v) AS BIGINT) // CAST(sum(wq) AS BIGINT) AS idw_q
         FROM w GROUP BY 1 ORDER BY 1""",
    "geo_s2_cell" -> s2OracleSql(quadrantPtsCte, 12),
    "hex_rollup" -> hexRollupOracleSql,
    "geo_hex_cell" -> hexOracleSql(quadrantPtsCte, 9),
    "geo_hex_distance" ->
      s"""WITH c AS (${hexOracleSql(quadrantPtsCte, 9)}),
         p AS (SELECT a.point_id, a.cell AS cell_a, b.cell AS cell_b
           FROM c a JOIN c b ON b.point_id = a.point_id + 1),
         d AS (SELECT point_id, cell_a, cell_b,
             ((cell_a // 536870912) % 536870912) - 268435456 AS qa,
             (cell_a % 536870912) - 268435456 AS ra,
             ((cell_b // 536870912) % 536870912) - 268435456 AS qb,
             (cell_b % 536870912) - 268435456 AS rb
           FROM p)
         SELECT point_id, cell_a, cell_b,
           CAST((abs(qa - qb) + abs(ra - rb) + abs((qa - qb) + (ra - rb)))
             // 2 AS BIGINT) AS hex_dist
         FROM d ORDER BY point_id""",
    "geo_str_pack" ->
      """WITH pts AS (SELECT c_custkey AS point_id,
           CAST(floor((-180 + (c_custkey % 360) + 0.5) * 1000000.0) AS BIGINT) AS xq,
           CAST(floor((-90 + ((c_custkey * 7) % 180) + 0.25) * 1000000.0) AS BIGINT) AS yq
           FROM customer),
         p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
         c AS (SELECT n,
             CAST(ceil(sqrt(CAST((n + 63) // 64 AS DOUBLE))) AS BIGINT) AS s
           FROM p),
         r AS (SELECT point_id, xq, yq,
             row_number() OVER (ORDER BY xq, point_id) - 1 AS xr FROM pts),
         sl AS (SELECT r.xq, r.yq, r.point_id,
             xr // ((c.n + c.s - 1) // c.s) AS slice FROM r, c),
         yr AS (SELECT slice, xq, yq,
             (row_number() OVER (PARTITION BY slice ORDER BY yq, point_id) - 1) // 64 AS leaf
           FROM sl)
         SELECT CAST(slice AS BIGINT) AS slice, CAST(leaf AS BIGINT) AS leaf,
           CAST(count(*) AS BIGINT) AS n_pts,
           min(xq) AS min_x, max(xq) AS max_x,
           min(yq) AS min_y, max(yq) AS max_y
         FROM yr GROUP BY 1, 2 ORDER BY slice, leaf""",
    // base-20 digit picks straight off the 1/8000°-grid integers,
    // lat-major interleave with the '+' after pair 4,
    "geo_olc" -> {
      def d(v: String, p: Long) =
        s"substr('23456789CFGHJMPQRVWX', CAST(($v // $p) % 20 AS INTEGER) + 1, 1)"
      val code = Seq(160000L, 8000L, 400L, 20L).map(p =>
        s"${d("ilat", p)} || ${d("ilng", p)}").mkString(" || ") +
        s" || '+' || ${d("ilat", 1L)} || ${d("ilng", 1L)}"
      s"""WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         q AS (SELECT point_id,
           LEAST(1439999, GREATEST(0, CAST(floor((lat + 90.0) * 8000.0) AS BIGINT))) AS ilat,
           LEAST(2879999, GREATEST(0, CAST(floor((lng + 180.0) * 8000.0) AS BIGINT))) AS ilng
           FROM pts),
         g AS (SELECT point_id, $code AS olc FROM q)
         SELECT point_id, olc, substr(olc, 1, 8) AS olc_block FROM g
         ORDER BY point_id"""
    },
    "geo_geohash" -> {
      // base-32 pick of char i (1-based) from the 60-bit interleaved code
      val chars = (1 to 7).map(i =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((code >> ${60 - 5 * i}) & 31) AS INTEGER) + 1, 1)")
      s"""WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         q AS (SELECT point_id,
           LEAST(1073741823, GREATEST(0, CAST(floor(((lng + 180.0) / 360.0) * 1073741824.0) AS BIGINT))) AS qx,
           LEAST(1073741823, GREATEST(0, CAST(floor(((lat + 90.0) / 180.0) * 1073741824.0) AS BIGINT))) AS qy FROM pts),
         s0 AS (SELECT point_id, ((qx | (qx << 16)) & 281470681808895) AS x, ((qy | (qy << 16)) & 281470681808895) AS y FROM q),
         s1 AS (SELECT point_id, ((x | (x << 8)) & 71777214294589695) AS x, ((y | (y << 8)) & 71777214294589695) AS y FROM s0),
         s2 AS (SELECT point_id, ((x | (x << 4)) & 1085102592571150095) AS x, ((y | (y << 4)) & 1085102592571150095) AS y FROM s1),
         s3 AS (SELECT point_id, ((x | (x << 2)) & 3689348814741910323) AS x, ((y | (y << 2)) & 3689348814741910323) AS y FROM s2),
         s4 AS (SELECT point_id, ((x | (x << 1)) & 6148914691236517205) AS x, ((y | (y << 1)) & 6148914691236517205) AS y FROM s3),
         c AS (SELECT point_id, ((x << 1) | y) AS code FROM s4),
         g AS (SELECT point_id, ${chars.mkString(" || ")} AS gh FROM c)
         SELECT point_id, gh, substr(gh, 1, 4) AS gh_parent FROM g
         ORDER BY point_id"""
    },
    "geo_coverage_gap" ->
      """WITH g AS (SELECT -121 + (CAST(i AS INT) % 6) AS swlng,
             35 + (CAST(i AS INT) // 6) AS swlat FROM range(0, 24) t(i)),
         keys AS (SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END ||
             lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
             CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END ||
             lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS tile_key FROM g),
         present(tile_key) AS (VALUES ('N36W120'),('N37W120'),('N36W119'),
           ('N37W119'),('N36W118'),('N37W117'))
         SELECT tile_key FROM keys
         WHERE tile_key NOT IN (SELECT tile_key FROM present)
         ORDER BY tile_key""",
    // same cell derivation; distance = axial metric over the offset-encoded
    // q/r unpacked by exact integer division (2^29 = 536870912),
    "geo_cell_density" ->
      s"""SELECT cell, count(*) AS n FROM (${hexOracleSql(quadrantPtsCte, 7)})
         GROUP BY cell HAVING count(*) >= 5 ORDER BY n DESC, cell""",
    // rasterize: the zonal triangle family against exact 1/64° pixel
    // centers, even-odd PIP per center, per-pixel covering count,
    "geo_rasterize" ->
      """WITH g AS (SELECT range AS id, range // 136 AS gi, range % 136 AS gj
           FROM range(0, 35904)),
         ctr AS (SELECT gi, gj,
             -120 + (2*gi + 1) / 128.0 AS px, 36 + (2*gj + 1) / 128.0 AS py
           FROM g),
         tri AS (SELECT s_suppkey AS poly_id,
           -120.0 + (s_suppkey % 40) * 0.1 AS cx, 36.0 + ((s_suppkey * 3) % 20) * 0.1 AS cy,
           0.05 + (s_suppkey % 7) * 0.013 AS w, 0.04 + (s_suppkey % 5) * 0.017 AS h
           FROM supplier),
         tv AS (SELECT poly_id, cx AS x1, cy + h AS y1, cx - w AS x2, cy - h AS y2,
           cx + w AS x3, cy - h AS y3 FROM tri),
         inside AS (SELECT gi, gj, poly_id FROM (
             SELECT c.gi, c.gj, c.px, c.py, tv.* FROM ctr c JOIN tv
             ON c.px >= tv.x2 AND c.px <= tv.x3 AND c.py >= tv.y2 AND c.py <= tv.y1)
           WHERE ((CASE WHEN (y1 > py) <> (y3 > py) AND px < (x3 - x1) * (py - y1) / (y3 - y1) + x1 THEN 1 ELSE 0 END)
                + (CASE WHEN (y2 > py) <> (y1 > py) AND px < (x1 - x2) * (py - y2) / (y1 - y2) + x2 THEN 1 ELSE 0 END)
                + (CASE WHEN (y3 > py) <> (y2 > py) AND px < (x2 - x3) * (py - y3) / (y2 - y3) + x3 THEN 1 ELSE 0 END)) % 2 = 1)
         SELECT CAST(gi AS BIGINT) AS gi, CAST(gj AS BIGINT) AS gj,
           count(*) AS n_polys
         FROM inside GROUP BY 1, 2 ORDER BY 1, 2""",
    "geo_cost_distance" -> costDistanceOracleSql,
    "geo_hex_kring" -> hexKringOracleSql,
    "geo_hex_regions" -> hexRegionsOracleSql,
    // candidate bbox key grid minus the present tiles,
    "geo_kde" ->
      """WITH pts AS (SELECT
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         c AS (SELECT CAST(floor(lng*20) AS BIGINT) AS cx,
             CAST(floor(lat*20) AS BIGINT) AS cy, count(*) AS n
           FROM pts GROUP BY 1, 2),
         sm AS (SELECT cx + di AS gx, cy + dj AS gy,
             n * (2 - abs(di)) * (2 - abs(dj)) AS w
           FROM c, range(-1,2) t1(di), range(-1,2) t2(dj))
         SELECT gx, gy, CAST(sum(w) AS BIGINT) AS density
         FROM sm GROUP BY 1, 2 ORDER BY 1, 2""",
    "geo_cell_skew" ->
      """WITH pts AS (SELECT
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         c AS (SELECT lng,
           least(greatest(lat, -85.05112877980659), 85.05112877980659) AS latc FROM pts),
         xy AS (SELECT
             CAST(least(greatest(floor((lng + 180.0)/360.0 * 16384), 0), 16383) AS INT) AS x,
             CAST(least(greatest(floor((1.0 - ln(tan(radians(latc)) + 1.0/cos(radians(latc)))/pi())/2.0 * 16384), 0), 16383) AS INT) AS y
           FROM c),
         g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM xy GROUP BY 1, 2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
         SELECT x, y, n, n * 1000000 // tot AS share_ppm,
           CAST(row_number() OVER (ORDER BY n DESC, x, y) AS INT) AS rank
         FROM g, t QUALIFY rank <= 10 ORDER BY rank""",
    "geo_zxy" ->
      """WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         c AS (SELECT point_id, lng,
           least(greatest(lat, -85.05112877980659), 85.05112877980659) AS latc FROM pts)
         SELECT point_id,
           CAST(least(greatest(floor((lng + 180.0)/360.0 * 16384), 0), 16383) AS INT) AS x,
           CAST(least(greatest(floor((1.0 - ln(tan(radians(latc)) + 1.0/cos(radians(latc)))/pi())/2.0 * 16384), 0), 16383) AS INT) AS y
         FROM c ORDER BY point_id""",
    // same tile coords as geo_zxy; quadkey digits unrolled exactly as the
    // engine's plan-time concat of bit ops,
    "geo_quadkey" -> {
      val digits = (14 to 1 by -1).map { i =>
        s"CAST((x >> ${i - 1}) % 2 + 2*((y >> ${i - 1}) % 2) AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         c AS (SELECT point_id, lng,
           least(greatest(lat, -85.05112877980659), 85.05112877980659) AS latc FROM pts),
         xy AS (SELECT point_id,
           CAST(least(greatest(floor((lng + 180.0)/360.0 * 16384), 0), 16383) AS INT) AS x,
           CAST(least(greatest(floor((1.0 - ln(tan(radians(latc)) + 1.0/cos(radians(latc)))/pi())/2.0 * 16384), 0), 16383) AS INT) AS y
         FROM c)
         SELECT point_id, x, y, $digits AS qk
         FROM xy ORDER BY point_id"""
    },
    "geo_zorder" ->
      """WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         q AS (SELECT point_id,
           LEAST(65535, GREATEST(0, CAST(floor(((lng + 180.0) / 360.0) * 65536.0) AS BIGINT))) AS qx,
           LEAST(65535, GREATEST(0, CAST(floor(((lat + 90.0) / 180.0) * 65536.0) AS BIGINT))) AS qy FROM pts),
         s1 AS (SELECT point_id, ((qx | (qx << 8)) & 16711935) AS x, ((qy | (qy << 8)) & 16711935) AS y FROM q),
         s2 AS (SELECT point_id, ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y FROM s1),
         s3 AS (SELECT point_id, ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y FROM s2),
         s4 AS (SELECT point_id, ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y FROM s3)
         SELECT point_id, ((y << 1) | x) AS zkey FROM s4 ORDER BY point_id""",
    // min/max data-skipping: zorder 8×8 blocks vs row-major qy stripes;
    // a bucket is scanned iff the predicate box intersects its stat box
    // per-bucket distinct bit positions, all-3-hash candidate rule,
    // true/missed buckets definitionally,
    "geo_hilbert" -> hilbertOracleSql,
    "geo_pip" -> pipOracleSql,
    "geo_pip_salted" -> pipOracleSkewSql,
    "geo_pip_adaptive" -> pipOracleSkewSql,
    "geo_pip_holes" -> pipHolesOracleSql,
    "geo_knn" ->
      """WITH probes AS (SELECT c_custkey AS probe_id,
           -120.0 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS plng,
           36.0 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS plat
           FROM customer WHERE c_custkey % 100 = 0),
         targets AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS target_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS tlng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS tlat
           FROM lineitem),
         pairs AS (SELECT probe_id, target_id,
           (tlng - plng) * (tlng - plng) + (tlat - plat) * (tlat - plat) AS dist2
           FROM probes, targets),
         r AS (SELECT probe_id, target_id, dist2,
           CAST(row_number() OVER (PARTITION BY probe_id ORDER BY dist2, target_id) AS INTEGER) AS rank FROM pairs)
         SELECT probe_id, target_id, rank, dist2 FROM r WHERE rank <= 5
         ORDER BY probe_id, rank""",
    "geo_knn_geodesic" -> knnGeodesicOracleSql,
    "geo_range_geodesic" -> rangeGeodesicOracleSql,
    "geo_bearing" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         v AS (SELECT point_id % 199 AS line_id, point_id AS seq, lng, lat
           FROM pts WHERE point_id % 10 = 0),
         d AS (SELECT line_id, seq,
             lng - lag(lng) OVER w AS dx, lat - lag(lat) OVER w AS dy
           FROM v WINDOW w AS (PARTITION BY line_id ORDER BY seq))
         SELECT line_id, seq,
           CASE WHEN dx = 0 AND dy = 0 THEN 0
                WHEN abs(dx) > abs(dy) THEN CASE WHEN dx > 0 THEN 1 ELSE 5 END
                WHEN abs(dy) > abs(dx) THEN CASE WHEN dy > 0 THEN 3 ELSE 7 END
                ELSE CASE WHEN dx > 0 THEN (CASE WHEN dy > 0 THEN 2 ELSE 8 END)
                          ELSE (CASE WHEN dy > 0 THEN 4 ELSE 6 END) END
           END AS octant
         FROM d WHERE dx IS NOT NULL ORDER BY line_id, seq""",
    "geo_poly_join" -> polyJoinOracleSql,
    "geo_tile_cover" -> {
      def tx(e: String) =
        s"CAST(least(greatest(floor(($e + 180.0)/360.0 * 16384), 0), 16383) AS INT)"
      def ty(e: String) = {
        val c = s"radians(least(greatest($e, -85.05112877980659), 85.05112877980659))"
        s"CAST(least(greatest(floor((1.0 - ln(tan($c) + 1.0/cos($c))/pi())/2.0 * 16384), 0), 16383) AS INT)"
      }
      s"""WITH tri AS (SELECT s_suppkey AS poly_id,
           -120.0 + (s_suppkey % 40) * 0.1 AS cx, 36.0 + ((s_suppkey * 3) % 20) * 0.1 AS cy,
           0.05 + (s_suppkey % 7) * 0.013 AS w, 0.04 + (s_suppkey % 5) * 0.017 AS h FROM supplier),
         bb AS (SELECT poly_id, cx - w AS xmin, cx + w AS xmax,
           cy - h AS ymin, cy + h AS ymax FROM tri),
         tc AS (SELECT poly_id,
           ${tx("xmin")} AS tx0, ${tx("xmax")} AS tx1,
           ${ty("ymax")} AS ty0, ${ty("ymin")} AS ty1 FROM bb)
         SELECT poly_id, tx0, tx1, ty0, ty1,
           CAST(tx1 - tx0 + 1 AS BIGINT) * (ty1 - ty0 + 1) AS n_tiles
         FROM tc ORDER BY poly_id"""
    },
    "geo_simplify" -> simplifyOracleSql(32),
    // chunks hold <= 17 points => split depth <= 15 < 16 levels,
    "geo_cell_weights" -> cellAreaOracleSql,
    "zonal_weighted" -> zonalWeightedOracleSql,
    "geo_simplify_chunked" -> simplifyChunkedOracleSql(16, 16),
    "geo_range_join" ->
      """WITH probes AS (SELECT c_custkey AS probe_id,
           -120.0 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS plng,
           36.0 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS plat
           FROM customer WHERE c_custkey % 100 = 0),
         targets AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS target_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS tlng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS tlat
           FROM lineitem)
         SELECT probe_id, target_id,
           (tlng - plng) * (tlng - plng) + (tlat - plat) * (tlat - plat) AS dist2
         FROM probes, targets
         WHERE (tlng - plng) * (tlng - plng) + (tlat - plat) * (tlat - plat)
               <= CAST(0.05 AS DOUBLE) * CAST(0.05 AS DOUBLE)
         ORDER BY probe_id, target_id""",
    // quadrat χ²: 256 cells, cross-multiplied Σ(256·nᵢ − N)² with the
    // empty-cell closed form, over the uniform and skewed point sets,
    "geo_ripley_k" ->
      """WITH pts AS (SELECT c_custkey AS point_id,
           -120.0 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS lng,
           36.0 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS lat
           FROM customer WHERE c_custkey % 20 = 0),
         nn AS (SELECT count(*) AS n FROM pts),
         pairs AS (SELECT a.point_id AS pa,
             (b.lng - a.lng) * (b.lng - a.lng) + (b.lat - a.lat) * (b.lat - a.lat) AS dist2
           FROM pts a, pts b
           WHERE a.point_id <> b.point_id
             AND (b.lng - a.lng) * (b.lng - a.lng) + (b.lat - a.lat) * (b.lat - a.lat)
                 <= CAST(0.2 AS DOUBLE) * CAST(0.2 AS DOUBLE)),
         radii(r_idx, r) AS (VALUES (1, CAST(0.05 AS DOUBLE)), (2, CAST(0.10 AS DOUBLE)),
           (3, CAST(0.15 AS DOUBLE)), (4, CAST(0.20 AS DOUBLE))),
         cnt AS (SELECT r_idx, r, count(p.pa) AS n_pairs
           FROM radii LEFT JOIN pairs p ON p.dist2 <= r * r GROUP BY 1, 2)
         SELECT CAST(r_idx AS BIGINT) AS r_idx, r,
           CAST(n_pairs AS BIGINT) AS n_pairs, nn.n AS n,
           CAST(n_pairs AS DOUBLE) * 8.0 / CAST(nn.n * nn.n AS DOUBLE) AS k_est
         FROM cnt, nn ORDER BY r_idx""",
    "geo_quadrat" ->
      """WITH u AS (SELECT -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         k AS (SELECT CASE WHEN l_orderkey % 3 = 0
             THEN -119.0 + (((l_partkey*600 + l_suppkey) % 3000) + 0.5)/3000.0 * 0.1
             ELSE -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 END AS lng,
           CASE WHEN l_orderkey % 3 = 0
             THEN 36.5 + (((l_suppkey*131 + l_linenumber) % 3000) + 0.5)/3000.0 * 0.1
             ELSE 36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 END AS lat
           FROM lineitem),
         cu AS (SELECT CAST(floor((lng + 120.0)*8.0) AS BIGINT) AS cx,
             CAST(floor((lat - 36.0)*4.0) AS BIGINT) AS cy,
             CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2),
         ck AS (SELECT CAST(floor((lng + 120.0)*8.0) AS BIGINT) AS cx,
             CAST(floor((lat - 36.0)*4.0) AS BIGINT) AS cy,
             CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY 1, 2),
         au AS (SELECT cnt, (SELECT CAST(sum(cnt) AS BIGINT) FROM cu) AS n FROM cu),
         ak AS (SELECT cnt, (SELECT CAST(sum(cnt) AS BIGINT) FROM ck) AS n FROM ck),
         ru AS (SELECT 'uniform' AS dataset, n AS n_points,
             CAST(count(*) AS BIGINT) AS n_occupied,
             CAST(sum((256*cnt - n)*(256*cnt - n)) AS BIGINT)
               + (256 - CAST(count(*) AS BIGINT)) * n * n AS ss
           FROM au GROUP BY n),
         rk AS (SELECT 'skewed' AS dataset, n AS n_points,
             CAST(count(*) AS BIGINT) AS n_occupied,
             CAST(sum((256*cnt - n)*(256*cnt - n)) AS BIGINT)
               + (256 - CAST(count(*) AS BIGINT)) * n * n AS ss
           FROM ak GROUP BY n)
         SELECT dataset, n_points, n_occupied,
           ss // (256 * n_points) AS chi2_q
         FROM (SELECT * FROM ru UNION ALL SELECT * FROM rk)
         ORDER BY dataset""",
    // Ripley's K: brute-force ordered close pairs of the same point set at
    // r_max, classified at 4 nested radii; k_est = pairs·A/n² with A = 8,
    "geo_hillshade" ->
      """WITH pts AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5)/600.0 AS lng,
           36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5)/600.0 AS lat
           FROM lineitem),
         k AS (SELECT point_id,
           CAST(floor(lng) AS BIGINT) AS swlng, CAST(floor(lat) AS BIGINT) AS swlat,
           CAST(floor((lng - floor(lng)) * 600 + 0.5) AS BIGINT) AS cn,
           CAST(floor((lat - floor(lat)) * 600 + 0.5) AS BIGINT) AS rn FROM pts),
         b AS (SELECT *, GREATEST(0, cn-1) AS c0, LEAST(600, cn+1) AS c1,
           GREATEST(0, rn-1) AS r0, LEAST(600, rn+1) AS r1,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 AS a FROM k),
         d AS (SELECT point_id, swlng, swlat,
           ((a + 2*c1 + 3*rn + ((c1//8)*(rn//8)) % 32) -
            (a + 2*c0 + 3*rn + ((c0//8)*(rn//8)) % 32)) / (c1 - c0) AS dc,
           ((a + 2*cn + 3*r1 + ((cn//8)*(r1//8)) % 32) -
            (a + 2*cn + 3*r0 + ((cn//8)*(r0//8)) % 32)) / (r1 - r0) AS dr
           FROM b)
         SELECT point_id,
           CASE WHEN (swlng = -118 AND swlat = 37) OR (swlng = -117 AND swlat = 36) THEN 0.0
                ELSE (-0.5 * -dc + 0.5 * -dr + 0.7071067811865476) / sqrt(dc*dc + dr*dr + 1.0) END AS hillshade
         FROM d ORDER BY point_id""",
    "geo_flowdir" -> flowdirOracleSql,
    "geo_watershed" -> watershedOracleSql,
    "geo_flowaccum" -> flowaccumOracleSql,
    // strahler: 9 unrolled bottom-up rounds; per round, parents whose
    // children are all assigned take max(child) (+1 on a ≥2-way tie).
    // The per-round CTEs MUST be MATERIALIZED: inlined, a9's expansion
    // re-reads the orders parquet exponentially many times (fd blowup).,
    "geo_strahler" -> {
      val rounds = (1 to 9).map { k =>
        s"""c$k AS MATERIALIZED (SELECT e.parent AS node, a.ord
             FROM e LEFT JOIN a${k - 1} a ON a.node = e.child),
           g$k AS (SELECT node, count(*) AS nc, count(ord) AS na, max(ord) AS mo
             FROM c$k GROUP BY 1),
           t$k AS (SELECT g.node, g.mo,
               sum(CASE WHEN c.ord = g.mo THEN 1 ELSE 0 END) AS ct
             FROM g$k g JOIN c$k c ON c.node = g.node
             WHERE g.nc = g.na AND g.node NOT IN (SELECT node FROM a${k - 1})
             GROUP BY 1, 2),
           a$k AS MATERIALIZED (SELECT * FROM a${k - 1} UNION ALL
             SELECT node, mo + CASE WHEN ct >= 2 THEN 1 ELSE 0 END FROM t$k)"""
      }.mkString(",\n         ")
      s"""WITH ch AS MATERIALIZED (SELECT DISTINCT o_orderkey % 199 + 1 AS child FROM orders),
         e AS MATERIALIZED (SELECT child, child // 2 AS parent FROM ch WHERE child <> child // 2),
         nodes AS (SELECT child AS node FROM e UNION SELECT parent FROM e),
         a0 AS (SELECT node, CAST(1 AS BIGINT) AS ord FROM nodes
           WHERE node NOT IN (SELECT parent FROM e)),
         $rounds
         SELECT node, CAST(ord AS BIGINT) AS strahler_ord FROM a9 ORDER BY node"""
    },
    "geo_snap" ->
      """WITH probes AS (SELECT c_custkey AS probe_id,
           -120 + (c_custkey % 4) + ((c_custkey % 577) + 0.5)/577.0 AS px,
           36 + (c_custkey % 2) + (((c_custkey*13) % 577) + 0.5)/577.0 AS py
           FROM customer WHERE c_custkey % 10 = 0),
         segs0 AS (SELECT ((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS seg_id,
           -120 + (l_orderkey % 4) + ((l_partkey % 577) + 0.5)/577.0 AS x1,
           36 + (l_suppkey % 2) + (((l_partkey*13) % 577) + 0.5)/577.0 AS y1,
           ((l_suppkey % 20) + 1)/4000.0 AS dx,
           (((l_orderkey*3) % 41) - 20)/4000.0 AS dy
           FROM lineitem WHERE l_orderkey % 20 = 0),
         segs AS (SELECT seg_id, x1, y1, x1 + dx AS x2, y1 + dy AS y2 FROM segs0),
         cand AS (SELECT probe_id, seg_id, px, py, x1, y1, x2, y2,
             CASE WHEN (x2-x1)*(x2-x1) + (y2-y1)*(y2-y1) > 0.0
               THEN LEAST(1.0, GREATEST(0.0,
                 ((px-x1)*(x2-x1) + (py-y1)*(y2-y1)) /
                 ((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))))
               ELSE 0.0 END AS t
           FROM probes, segs),
         d AS (SELECT probe_id, seg_id, t,
             (px - (x1 + t*(x2-x1))) AS ddx,
             (py - (y1 + t*(y2-y1))) AS ddy FROM cand),
         f AS (SELECT probe_id, seg_id, t, ddx*ddx + ddy*ddy AS dist2
           FROM d WHERE ddx*ddx + ddy*ddy <= 0.05*0.05)
         SELECT probe_id, seg_id, t, dist2 FROM f
         QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY dist2, seg_id) = 1
         ORDER BY probe_id"""
  )
}
