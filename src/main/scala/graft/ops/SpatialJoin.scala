package graft.ops

import graft.geo.{Hex, RayCast, S2}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** `ray_cast(px, py, xs, ys)` — even-odd point-in-ring test over packed
  * coordinate arrays; the PIP join's refine for one ring per row, and the
  * SQL function `ray_cast` ([[graft.GraftExtensions]]).
  */
case class RayCastExpr(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType,
    ArrayType(DoubleType, containsNull = false), ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "ray_cast"
  override def nullSafeEval(px: Any, py: Any, xs: Any, ys: Any): Any =
    RayCast.contains(px.asInstanceOf[Double], py.asInstanceOf[Double],
      xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (px, py, xs, ys) =>
      s"${ev.value} = graft.geo.RayCast.contains($px, $py, $xs, $ys);")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): RayCastExpr =
    copy(first = a, second = b, third = c, fourth = d)
}

/** `ray_cast_multi(px, py, xss, yss)` — multi-ring even-odd membership over
  * rings packed as arrays-of-arrays: Polygon-with-holes and MultiPolygon
  * membership (RayCast.containsMulti scaladoc has the semantics); the PIP
  * join's refine for multi-ring input.
  */
case class RayCastMultiExpr(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  private val rings = ArrayType(ArrayType(DoubleType, containsNull = false),
    containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, rings, rings)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "ray_cast_multi"
  override def nullSafeEval(px: Any, py: Any, xss: Any, yss: Any): Any =
    RayCast.containsMulti(px.asInstanceOf[Double], py.asInstanceOf[Double],
      xss.asInstanceOf[ArrayData], yss.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (px, py, xss, yss) =>
      s"${ev.value} = graft.geo.RayCast.containsMulti($px, $py, $xss, $yss);")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): RayCastMultiExpr =
    copy(first = a, second = b, third = c, fourth = d)
}

/** Spatial joins over cell indexes (north rule J2/J3): candidate pairs via
  * cell equi-join (Catalyst plans a hash shuffle join — or broadcast when one
  * side is small), exact refinement predicates after.
  *
  * Scale design (100 TB / 10^12 rows):
  *  - the only shuffle is the cell equi-join; both sides are keyed by the
  *    same cell id, so AQE can coalesce or skew-split it at runtime;
  *  - the cover level trades replication (poly side ×|cover|) against
  *    candidate fan-in (points per cell) and is the caller's choice;
  *  - dense-cell skew (urban hotspots) has one mechanism: on the shuffle
  *    path, AQE's skew-join split cuts a hot cell's point partition into
  *    advisory-sized slices and replicates the matching cover partition to
  *    each ("Parallel Spatial Join Processing with Adaptive Replication",
  *    EDBT 2025, driven by Spark's own map-output sizes). When the cover
  *    side is small enough to broadcast, every task holds all of it and
  *    cell skew never reaches a task.
  */
object SpatialJoin {

  def ray_cast(px: Column, py: Column, xs: Column, ys: Column): Column =
    GraftColumns.column(RayCastExpr(
      GraftColumns.expression(px.cast(DoubleType)),
      GraftColumns.expression(py.cast(DoubleType)),
      GraftColumns.expression(xs), GraftColumns.expression(ys)))

  def ray_cast_multi(px: Column, py: Column, xss: Column, yss: Column): Column =
    GraftColumns.column(RayCastMultiExpr(
      GraftColumns.expression(px.cast(DoubleType)),
      GraftColumns.expression(py.cast(DoubleType)),
      GraftColumns.expression(xss), GraftColumns.expression(yss)))

  // ---------------- J2: point-in-polygon ----------------

  /** Candidate cells of a polygon bbox at `level` (S2 superset cover). */
  private def coverCells(xs: Seq[Double], ys: Seq[Double], level: Int): Seq[Long] =
    S2.coverBBox(xs.min, ys.min, xs.max, ys.max, level)

  /** Point-in-polygon join: S2 bbox cover, cell equi-join with a fused
    * inclusive-bbox filter, late ring fetch on `poly_id`, then the
    * codegen'd even-odd ray-cast refine.
    *
    * Geometry is never replicated per cover cell: the cell join carries
    * only flat `(cell, poly_id, bbox)` rows, so geometry bytes stay
    * proportional to the polygon count, not count × cover size. The
    * inclusive bbox keeps every point the refine could accept (all rings
    * lie within the hull bbox) and drops the cell-slop candidates (12.4M
    * cell candidates → 1.9M bbox survivors on the holes gate at sf0.1);
    * only the survivors fetch their rings.
    *
    * The polygon schema picks the refine. Rings (`xss, yss`) take the
    * multi-ring [[ray_cast_multi]]; a flat `xs, ys` frame is one ring per
    * row and takes the single-ring [[ray_cast]], which `RayCast` keeps
    * bit-identical to the multi-ring test over one ring. Wrapping flat
    * rings as one-ring arrays read slower on the registry's flat-input rows
    * (`geo_pip`, `zonal_*`) in a paired registry A/B at sf0.1.
    *
    * @param points (point_id, lng, lat) — any extra columns pass through
    * @param polys  (poly_id, xss: array<array<double>>, yss) — ring r is
    *               (xss[r], yss[r]), shells and holes in any order — or
    *               (poly_id, xs: array<double>, ys) for one ring per row
    * @param level  S2 cover and probe level
    * @return (point columns..., poly_id) — one row per (point, containing
    *         polygon) pair
    */
  def pointInPolygon(points: DataFrame, polys: DataFrame, level: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val rings = polys.columns.contains("xss")
    val (xs, ys) = if (rings) ("xss", "yss") else ("xs", "ys")
    val (hullXs, hullYs) =
      if (rings) (flatten(col(xs)), flatten(col(ys))) else (col(xs), col(ys))
    val polyCells = polys
      .select(col("poly_id"), hullXs, hullYs)
      .as[(Long, Array[Double], Array[Double])]
      .flatMap { case (pid, hx, hy) =>
        coverCells(hx.toSeq, hy.toSeq, level)
          .map(c => (c, pid, hx.min, hx.max, hy.min, hy.max))
      }
      .toDF("cell", "poly_id", "bxmin", "bxmax", "bymin", "bymax")
    val refine = if (rings) ray_cast_multi _ else ray_cast _
    points
      .withColumn("cell", graft.functions.cells.s2_cell(col("lng"), col("lat"), lit(level)))
      .join(polyCells, Seq("cell"))
      .filter(col("lng") >= col("bxmin") && col("lng") <= col("bxmax") &&
        col("lat") >= col("bymin") && col("lat") <= col("bymax"))
      .drop("cell", "bxmin", "bxmax", "bymin", "bymax")
      .join(polys.select(col("poly_id"), col(xs), col(ys)), Seq("poly_id"))
      .filter(refine(col("lng"), col("lat"), col(xs), col(ys)))
      .drop(xs, ys)
  }

  // ---------------- J5: within-distance (range) join ----------------

  /** Hex resolution whose cell edge best matches `radius`: the finest res
    * with edge ≥ radius, so each probe replicates to a disk of O(7) cells
    * while per-cell candidate density stays proportional to the query area.
    */
  def rangeResFor(radius: Double): Int = {
    var r = 0
    while (r < Hex.MaxRes && Hex.edge(r + 1) >= radius) r += 1
    r
  }

  /** Within-distance (range) join: every (probe, target) pair with planar
    * squared degree distance ≤ radius². The classic spatial range join the
    * reference cannot express — generalizes its single-point lookup to
    * "all points near X" analytics (geofencing, catchment areas).
    *
    * Scale shape (the only shuffle is one cell equi-join, same contract as
    * J2): the PROBE side replicates to the hex cells of `gridDisk(cell, R)` —
    * R chosen so [[Hex.ringLowerBoundDegrees]] proves any cell outside the
    * disk is strictly farther than `radius` from every point of the probe's
    * cell (the same bound that makes kNN ring pruning exact) — while the
    * (usually much larger) TARGET side is keyed by its own cell only, never
    * replicated. Both sides shuffle on the cell id, so AQE can coalesce or
    * skew-split the join at runtime, as in [[pointInPolygon]]. With the
    * default resolution ([[rangeResFor]]) the disk is 7 cells (R = 1).
    *
    * @param probes  (probe_id, lng, lat)
    * @param targets (target_id, lng, lat)
    * @param radius  planar degree radius (> 0)
    * @param res     hex resolution; None = [[rangeResFor]](radius)
    * @return (probe_id, target_id, dist2), dist2 ≤ radius²
    */
  def withinDistance(probes: DataFrame, targets: DataFrame, radius: Double,
                     res: Option[Int] = None): DataFrame = {
    require(radius > 0, s"radius must be > 0, got $radius")
    val spark = probes.sparkSession
    import spark.implicits._
    val lvl = res.getOrElse(rangeResFor(radius))
    var rings = 1
    while (Hex.ringLowerBoundDegrees(lvl, rings + 1) <= radius) rings += 1
    val r2 = radius * radius
    val cand = probes
      .select(col("probe_id").cast(LongType), col("lng").cast(DoubleType),
        col("lat").cast(DoubleType)).as[(Long, Double, Double)]
      .flatMap { case (pid, plng, plat) =>
        Hex.gridDisk(Hex.latLngToCell(plng, plat, lvl), rings)
          .map(c => (c, pid, plng, plat))
      }
      .toDF("cell", "probe_id", "plng", "plat")
    val tgt = targets
      .select(col("target_id").cast(LongType), col("lng").cast(DoubleType).as("tlng"),
        col("lat").cast(DoubleType).as("tlat"))
      .withColumn("cell", graft.functions.cells.hex_cell(col("tlng"), col("tlat"), lit(lvl)))
    cand.join(tgt, Seq("cell"))
      .select(col("probe_id"), col("target_id"),
        ((col("tlng") - col("plng")) * (col("tlng") - col("plng")) +
         (col("tlat") - col("plat")) * (col("tlat") - col("plat"))).as("dist2"))
      .filter(col("dist2") <= lit(r2))
  }

  /** [[withinDistance]] with a GEODESIC (meter) radius: the hex-disk cover
    * widens to [[graft.geo.Geodesic.coverDegreesFor]]'s safe planar superset
    * (longitude degrees shrink by cos lat), and the exact refine keeps pairs
    * whose polynomial-haversine term t stays under sinP(radius/2R)² — all
    * pure arithmetic, oracle-replayable.
    *
    * @return (probe_id, target_id, dist_m), dist_m ≤ radiusMeters
    */
  def withinDistanceGeodesic(probes: DataFrame, targets: DataFrame,
                             radiusMeters: Double,
                             res: Option[Int] = None): DataFrame = {
    import graft.geo.Geodesic
    require(radiusMeters > 0, s"radius must be > 0, got $radiusMeters")
    val spark = probes.sparkSession
    import spark.implicits._
    val phiCap = {
      val t = targets.select(max(abs(col("lat")))).head()
      val p = probes.select(max(abs(col("lat")))).head()
      math.max(if (t.isNullAt(0)) 0.0 else t.getDouble(0),
        if (p.isNullAt(0)) 0.0 else p.getDouble(0))
    }
    val coverDeg = Geodesic.coverDegreesFor(radiusMeters, phiCap)
    val lvl = res.getOrElse(rangeResFor(coverDeg))
    var rings = 1
    while (Hex.ringLowerBoundDegrees(lvl, rings + 1) <= coverDeg) rings += 1
    val sinHalf = Geodesic.sinP(radiusMeters / (2.0 * Geodesic.EarthRadiusM))
    val tThr = sinHalf * sinHalf
    val cand = probes
      .select(col("probe_id").cast(LongType), col("lng").cast(DoubleType),
        col("lat").cast(DoubleType)).as[(Long, Double, Double)]
      .flatMap { case (pid, plng, plat) =>
        Hex.gridDisk(Hex.latLngToCell(plng, plat, lvl), rings)
          .map(c => (c, pid, plng, plat))
      }
      .toDF("cell", "probe_id", "plng", "plat")
    val tgt = targets
      .select(col("target_id").cast(LongType), col("lng").cast(DoubleType).as("tlng"),
        col("lat").cast(DoubleType).as("tlat"))
      .withColumn("cell", graft.functions.cells.hex_cell(col("tlng"), col("tlat"), lit(lvl)))
    cand.join(tgt, Seq("cell"))
      .select(col("probe_id"), col("target_id"),
        Geodesic.havT(col("plng"), col("plat"), col("tlng"), col("tlat")).as("t"))
      .filter(col("t") <= lit(tThr))
      .select(col("probe_id"), col("target_id"),
        Geodesic.metersFromT(col("t")).as("dist_m"))
  }

  /** kNN join: for each probe, the k nearest targets by planar squared
    * degree distance (ties by target_id). Cell-ring expansion over the hex
    * index in GEOMETRIC ring batches (0–1 | 2–4 | 5–8 | 9–maxRings):
    * candidate cells of a whole batch join on hex cell at once, so the
    * driver loop is ≤ 4 rounds instead of one per ring — at 10^9 probes the
    * per-round driver barrier and job-scheduling overhead dominates
    * single-ring expansion. A probe stops expanding when it holds >= k
    * neighbors whose kth distance is below the lower bound of the first
    * unexplored ring (distance-bounded pruning, north rule J3).
    *
    * Incremental ranking: only the running top-k per pending probe (`best`,
    * <= k rows/probe) carries across rounds — never the full accumulated
    * candidate set — so each round's window re-rank is O(batch candidates +
    * k·pending), not O(all candidates ever seen). Dropping a candidate that
    * ranked > k is exact: the candidate set only grows, so nothing outside
    * the running top-k can re-enter it.
    *
    * @param probes  (probe_id, lng, lat)
    * @param targets (target_id, lng, lat)
    * @param res     hex resolution; pick so E[targets/cell] ≈ k
    */
  def knn(probes: DataFrame, targets: DataFrame, k: Int, res: Int,
          maxRings: Int = 12): DataFrame =
    knnImpl(probes, targets, k, res, maxRings,
      dist = (plng, plat, tlng, tlat) =>
        (tlng - plng) * (tlng - plng) + (tlat - plat) * (tlat - plat),
      settleBound = d => d * d)

  /** [[knn]] ranked by GEODESIC (meter) distance — the hex cells stay the
    * pruning structure, only the refine metric changes (VERDICT r3 #5). The
    * ranking value is the monotone haversine term [[graft.geo.Geodesic.havT]]
    * (polynomial kernels — bit-replayable by the oracle; Geodesic scaladoc
    * has the accuracy envelope), the settle bound is the conservative
    * [[graft.geo.Geodesic.tLowerBound]] at the workload's max |lat| (at
    * extreme polar caps the bound degrades toward the exact brute-force
    * fallback — correct, just less pruned).
    *
    * @return (probe_id, target_id, rank, dist_m) — rank by (t, target_id),
    *         dist_m = polynomial-haversine meters
    */
  def knnGeodesic(probes: DataFrame, targets: DataFrame, k: Int, res: Int,
                  maxRings: Int = 12): DataFrame = {
    import graft.geo.Geodesic
    val phiCap = {
      val t = targets.select(max(abs(col("lat")))).head()
      val p = probes.select(max(abs(col("lat")))).head()
      math.max(if (t.isNullAt(0)) 0.0 else t.getDouble(0),
        if (p.isNullAt(0)) 0.0 else p.getDouble(0))
    }
    knnImpl(probes, targets, k, res, maxRings,
      dist = Geodesic.havT,
      settleBound = d => Geodesic.tLowerBound(d, phiCap))
      .select(col("probe_id"), col("target_id"), col("rank"),
        Geodesic.metersFromT(col("dist2")).as("dist_m"))
  }

  private def knnImpl(probes: DataFrame, targets: DataFrame, k: Int, res: Int,
                      maxRings: Int,
                      dist: (Column, Column, Column, Column) => Column,
                      settleBound: Double => Double): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val tgt = targets
      .select(col("target_id").cast(LongType), col("lng").cast(DoubleType).as("tlng"),
        col("lat").cast(DoubleType).as("tlat"))
      .withColumn("tcell", graft.functions.cells.hex_cell(col("tlng"), col("tlat"), lit(res)))
      .persist()
    val totalTargets = tgt.count()

    var pending = probes
      .select(col("probe_id").cast(LongType), col("lng").cast(DoubleType),
        col("lat").cast(DoubleType)).as[(Long, Double, Double)]
    var best: DataFrame = null // running top-k of still-pending probes
    val doneParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // first batch is disk(1), NOT the center cell alone: the lower bound of
    // ring 1 is 0 (a ring-1 cell can touch the center cell), so a (0,0)
    // batch can never settle a probe and only adds a wasted driver round
    val batches = Seq((0, 1), (2, 4), (5, 8), (9, maxRings))
      .filter(_._1 <= maxRings)
      .map { case (lo, hi) => (lo, math.min(hi, maxRings)) }
    val it = batches.iterator
    while (it.hasNext && totalTargets > 0 && !pending.isEmpty) {
      val (lo, hi) = it.next()
      // candidate cells of rings lo..hi for every pending probe (rings are
      // disjoint across batches, so every (probe, target) pair appears once)
      val cand = pending.flatMap { case (pid, plng, plat) =>
        val c = Hex.latLngToCell(plng, plat, res)
        val cells =
          if (lo == 0) Hex.gridDisk(c, hi)
          else (lo to hi).flatMap(r => Hex.gridRing(c, r))
        cells.map(cc => (pid, plng, plat, cc))
      }.toDF("probe_id", "plng", "plat", "tcell")
      val pairs = cand.join(tgt, Seq("tcell"))
        .select(col("probe_id"), col("plng"), col("plat"), col("target_id"),
          dist(col("plng"), col("plat"), col("tlng"), col("tlat")).as("dist2"))
      // re-rank running top-k ∪ this batch's candidates; localCheckpoint cuts
      // the compounding lineage (the loop is driver-side but every step is a
      // distributed job)
      val all = if (best == null) pairs else best.unionAll(pairs)
      val w = Window.partitionBy(col("probe_id")).orderBy(col("dist2"), col("target_id"))
      val ranked = all.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).localCheckpoint(true)
      // a probe is settled when its kth candidate beats the lower bound of
      // every ring past `hi`. strict <: at dist2 == b2 an unexplored
      // equal-distance target with a smaller id could still outrank the kth
      // under the (dist2, id) order. Probes that can never settle this way
      // (fewer than k targets in all rings) ride through the loop cheaply
      // and are finished exactly by the brute-force fallback below.
      val b2 = settleBound(Hex.ringLowerBoundDegrees(res, hi + 1))
      val doneIds = ranked.filter(col("rk") === k && col("dist2") < lit(b2))
        .select("probe_id").localCheckpoint(true)
      doneParts += ranked.join(doneIds, Seq("probe_id"))
        .select(col("probe_id"), col("target_id"), col("rk").as("rank"), col("dist2"))
      pending = pending.toDF("probe_id", "lng", "lat")
        .join(doneIds, Seq("probe_id"), "left_anti").as[(Long, Double, Double)]
        .localCheckpoint(true)
      best = ranked.join(doneIds, Seq("probe_id"), "left_anti").drop("rk")
    }
    // probes still unsettled after maxRings (rings exhausted without the
    // bound closing — sparse/far targets, or fewer than k targets in range)
    // get an EXACT brute-force pass so the "k nearest per probe" contract
    // holds unconditionally. Broadcast whichever side is SMALL (usually the
    // ring-pruned pending probes; with a tiny target table — where NO probe
    // can ever settle and pending is everything — the target side); if both
    // sides are genuinely large the partitioned cartesian is the honest
    // plan, never a forced driver-side broadcast of an unbounded set.
    if (totalTargets > 0 && !pending.isEmpty) {
      // byte-based broadcast gate (a row cap alone ignores row width): a
      // materialized UnsafeRow here is ~(8B null bitmap + 8B per field) ≈
      // 32-40 B plus object overhead, call it 64 B — 64 MB budget ⇒ ~1M
      // rows, a driver/executor footprint Spark's broadcast machinery
      // handles comfortably. Past it the partitioned cartesian is the
      // honest plan.
      val broadcastMaxBytes = 64L << 20
      val estRowBytes = 64L
      val broadcastLimit = broadcastMaxBytes / estRowBytes
      val pendDf0 = pending.toDF("probe_id", "plng", "plat")
      val nPending = pendDf0.count()
      val pairs0 =
        if (nPending <= broadcastLimit) broadcast(pendDf0).crossJoin(tgt)
        else if (totalTargets <= broadcastLimit) pendDf0.crossJoin(broadcast(tgt))
        else pendDf0.crossJoin(tgt)
      val pairs = pairs0
        .select(col("probe_id"), col("target_id"),
          dist(col("plng"), col("plat"), col("tlng"), col("tlat")).as("dist2"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("dist2"), col("target_id"))
      doneParts += pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("probe_id"), col("target_id"), col("rank"), col("dist2"))
        .localCheckpoint(true)
    }
    tgt.unpersist()
    if (doneParts.isEmpty)
      spark.emptyDataset[(Long, Long, Int, Double)]
        .toDF("probe_id", "target_id", "rank", "dist2")
    else doneParts.reduceLeft(_ unionAll _)
  }

  // ---------------- J6: polygon-polygon intersection join ----------------

  /** 2D orientation determinant as a SQL-expr fragment: >0 iff c is left of
    * a→b. Operand order is part of the cross-engine contract.
    */
  private def orientSql(ax: String, ay: String, bx: String, by: String,
                        cx: String, cy: String): String =
    s"((($bx) - ($ax)) * (($cy) - ($ay)) - ((($by) - ($ay)) * (($cx) - ($ax))))"

  /** q inside the CCW convex ring (pxs, pys): left-of (or on) every edge. */
  private def vertexInSql(pxs: String, pys: String,
                          qx: String, qy: String): String =
    s"""forall(sequence(1, size($pxs)), i -> ${orientSql(
      s"element_at($pxs, i)", s"element_at($pys, i)",
      s"element_at($pxs, (i % size($pxs)) + 1)",
      s"element_at($pys, (i % size($pxs)) + 1)", qx, qy)} >= 0D)"""

  /** Convex-ring intersection predicate over packed coordinate arrays
    * (axs, ays) × (bxs, bys), both CCW: any vertex containment either way,
    * or any PROPER edge crossing. Semantics are CLOSED-set intersection:
    * the vertex test is boundary-inclusive (orient >= 0), so rings sharing
    * just a vertex or touching edge-on-edge DO count as intersecting (any
    * convex touch puts some vertex on the other ring's boundary); only the
    * edge-crossing arm is strict (sign products < 0), which is subsumed by
    * the vertex arm for touches. Deterministic in both engines either way.
    */
  private[graft] def intersectsSql(axs: String, ays: String,
                                   bxs: String, bys: String): String = {
    def edge(xs: String, ys: String, i: String) = (
      s"element_at($xs, $i)", s"element_at($ys, $i)",
      s"element_at($xs, (($i) % size($xs)) + 1)",
      s"element_at($ys, (($i) % size($xs)) + 1)")
    val (a1x, a1y, a2x, a2y) = edge(axs, ays, "i")
    val (b1x, b1y, b2x, b2y) = edge(bxs, bys, "j")
    val o1 = orientSql(a1x, a1y, a2x, a2y, b1x, b1y)
    val o2 = orientSql(a1x, a1y, a2x, a2y, b2x, b2y)
    val o3 = orientSql(b1x, b1y, b2x, b2y, a1x, a1y)
    val o4 = orientSql(b1x, b1y, b2x, b2y, a2x, a2y)
    val cross =
      s"""exists(sequence(1, size($axs)), i ->
            exists(sequence(1, size($bxs)), j ->
              ($o1) * ($o2) < 0D AND ($o3) * ($o4) < 0D))"""
    val bInA = s"exists(sequence(1, size($bxs)), j -> ${vertexInSql(
      axs, ays, s"element_at($bxs, j)", s"element_at($bys, j)")})"
    val aInB = s"exists(sequence(1, size($axs)), k -> ${vertexInSql(
      bxs, bys, s"element_at($axs, k)", s"element_at($ays, k)")})"
    s"($bInA) OR ($aInB) OR ($cross)"
  }

  /** Polygon↔polygon intersection join for convex CCW rings.
    *
    * Candidates come from a shared S2 superset cover of each ring's bbox —
    * ONE cell equi-join, never a cartesian (two bboxes that overlap share
    * the cell containing any overlap point, so the cover join is a superset
    * of the truth); the exact orientation-sign predicate refines. At scale
    * both sides shuffle once on cell; rings travel as packed arrays and the
    * refine is codegen'd higher-order-function arithmetic, no UDF.
    *
    * @param a (poly_id, xs, ys) left rings, CCW convex
    * @param b (poly_id, xs, ys) right rings, CCW convex
    * @return (poly_a, poly_b) intersecting pairs
    */
  def polygonJoin(a: DataFrame, b: DataFrame, level: Int = 9): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    def cellsOf(df: DataFrame, idAs: String): DataFrame = df
      .select(col("poly_id").cast(LongType), col("xs").cast("array<double>"),
        col("ys").cast("array<double>"))
      .as[(Long, Seq[Double], Seq[Double])]
      .flatMap { case (id, xs, ys) => coverCells(xs, ys, level).map(c => (c, id)) }
      .toDF("cell", idAs)
    val cand = cellsOf(a, "poly_a").join(cellsOf(b, "poly_b"), Seq("cell"))
      .select("poly_a", "poly_b").distinct()
    cand
      .join(a.select(col("poly_id").as("poly_a"),
        col("xs").cast("array<double>").as("axs"),
        col("ys").cast("array<double>").as("ays")), Seq("poly_a"))
      .join(b.select(col("poly_id").as("poly_b"),
        col("xs").cast("array<double>").as("bxs"),
        col("ys").cast("array<double>").as("bys")), Seq("poly_b"))
      // cheap bbox-overlap pre-filter: the cover cells are coarse (a level-9
      // cell is bigger than a typical ring), so most cell-sharing pairs have
      // disjoint bboxes — reject them with 8 comparisons before the O(n·m)
      // orientation predicate (measured 5x on the 1000x1000 gate: 8.2->1.6 s)
      .filter(array_min(col("axs")) <= array_max(col("bxs")) &&
        array_min(col("bxs")) <= array_max(col("axs")) &&
        array_min(col("ays")) <= array_max(col("bys")) &&
        array_min(col("bys")) <= array_max(col("ays")))
      .filter(expr(intersectsSql("axs", "ays", "bxs", "bys")))
      .select("poly_a", "poly_b")
  }

  /** Bounded-radius snap of points onto the nearest line segment — the map-
    * matching primitive (GPS trace → road network). Exact within `radius`:
    * the grid cell size equals the radius, probes search their 3×3 cell
    * ring, and any segment within `radius` of a probe has bbox cover
    * intersecting that ring — so the ring join is a complete candidate set,
    * not a heuristic. One equi-join shuffle on the cell; segments replicate
    * to O(len/radius + 1)² cells, probes to 9.
    *
    * Refinement projects the probe onto each candidate segment
    * (`t = clamp₀₁((p−a)·(b−a)/|b−a|²)`, degenerate segments snap to their
    * `a` endpoint) in a fixed association order, so the doubles are
    * bit-reproducible. Per probe the single nearest segment survives
    * (ties: smaller seg_id); probes with nothing in range emit no row.
    *
    * @param probes (probe_id, px, py)
    * @param segs   (seg_id, x1, y1, x2, y2)
    * @return (probe_id, seg_id, t, dist2)
    */
  def snapToSegments(probes: DataFrame, segs: DataFrame,
                     radius: Double): DataFrame = {
    require(radius > 0, s"radius must be > 0, got $radius")
    val cs = lit(radius)
    val segCells = segs
      .withColumn("gx0", floor(least(col("x1"), col("x2")) / cs).cast("long"))
      .withColumn("gx1", floor(greatest(col("x1"), col("x2")) / cs).cast("long"))
      .withColumn("gy0", floor(least(col("y1"), col("y2")) / cs).cast("long"))
      .withColumn("gy1", floor(greatest(col("y1"), col("y2")) / cs).cast("long"))
      .withColumn("gx", explode(sequence(col("gx0"), col("gx1"))))
      .withColumn("gy", explode(sequence(col("gy0"), col("gy1"))))
      .select("seg_id", "x1", "y1", "x2", "y2", "gx", "gy")
    val probeCells = probes
      .withColumn("pgx", floor(col("px") / cs).cast("long"))
      .withColumn("pgy", floor(col("py") / cs).cast("long"))
      .withColumn("gx", explode(sequence(col("pgx") - 1, col("pgx") + 1)))
      .withColumn("gy", explode(sequence(col("pgy") - 1, col("pgy") + 1)))
      .select("probe_id", "px", "py", "gx", "gy")
    val dxs = col("x2") - col("x1")
    val dys = col("y2") - col("y1")
    val len2 = dxs * dxs + dys * dys
    val dot = (col("px") - col("x1")) * dxs + (col("py") - col("y1")) * dys
    val t = when(len2 > 0.0, least(lit(1.0), greatest(lit(0.0), dot / len2)))
      .otherwise(lit(0.0))
    val cand = probeCells.join(segCells, Seq("gx", "gy"))
      .withColumn("t", t)
      .withColumn("ddx", col("px") - (col("x1") + col("t") * dxs))
      .withColumn("ddy", col("py") - (col("y1") + col("t") * dys))
      .withColumn("dist2", col("ddx") * col("ddx") + col("ddy") * col("ddy"))
      .filter(col("dist2") <= lit(radius * radius))
    // a segment spanning several ring cells yields duplicate candidate rows
    // with identical (t, dist2) — row_number keeps exactly one survivor
    val w = Window.partitionBy("probe_id").orderBy(col("dist2"), col("seg_id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("probe_id", "seg_id", "t", "dist2")
  }

  /** Segment×segment intersection join — the vector-overlay primitive
    * (road/river crossings, trajectory × boundary). Candidates come from a
    * uniform-grid equi-join over each segment's bbox cell cover; the pair
    * is emitted only from the ONE cell containing the upper-left corner of
    * the two bboxes' overlap (the PBSM reference-point rule), so no
    * distinct-shuffle is needed to dedup multi-cell pairs.
    *
    * Refinement is the classic four-orientation test (proper intersection:
    * the endpoints of each segment straddle the other's line), and the
    * crossing point comes from the signed-distance ratio `t = d1/(d1−d2)`
    * — all fixed-order double arithmetic, bit-reproducible. Collinear
    * overlaps and shared endpoints are NOT emitted (proper crossings only
    * — the d·d < 0 strictness), which is the documented contract.
    *
    * @param a (seg_id, x1, y1, x2, y2) — emitted as a_id
    * @param b (seg_id, x1, y1, x2, y2) — emitted as b_id
    * @return (a_id, b_id, ix, iy) one row per properly-crossing pair
    */
  def segmentIntersectJoin(a: DataFrame, b: DataFrame,
                           cellSize: Double): DataFrame = {
    require(cellSize > 0, s"cellSize must be > 0, got $cellSize")
    val cs = lit(cellSize)
    def cover(df: DataFrame, p: String): DataFrame = df
      .select(col("seg_id").as(s"${p}_id"), col("x1").as(s"${p}x1"),
        col("y1").as(s"${p}y1"), col("x2").as(s"${p}x2"), col("y2").as(s"${p}y2"))
      .withColumn(s"${p}x0", least(col(s"${p}x1"), col(s"${p}x2")))
      .withColumn(s"${p}y0", least(col(s"${p}y1"), col(s"${p}y2")))
      .withColumn(s"${p}xm", greatest(col(s"${p}x1"), col(s"${p}x2")))
      .withColumn(s"${p}ym", greatest(col(s"${p}y1"), col(s"${p}y2")))
      .withColumn("gx", explode(sequence(
        floor(col(s"${p}x0") / cs).cast("long"),
        floor(col(s"${p}xm") / cs).cast("long"))))
      .withColumn("gy", explode(sequence(
        floor(col(s"${p}y0") / cs).cast("long"),
        floor(col(s"${p}ym") / cs).cast("long"))))
    def cross(px: Column, py: Column, qx: Column, qy: Column,
              rx: Column, ry: Column): Column =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val d1 = cross(col("bx1"), col("by1"), col("bx2"), col("by2"),
      col("ax1"), col("ay1")) // a1 vs line b
    val d2 = cross(col("bx1"), col("by1"), col("bx2"), col("by2"),
      col("ax2"), col("ay2")) // a2 vs line b
    val d3 = cross(col("ax1"), col("ay1"), col("ax2"), col("ay2"),
      col("bx1"), col("by1")) // b1 vs line a
    val d4 = cross(col("ax1"), col("ay1"), col("ax2"), col("ay2"),
      col("bx2"), col("by2")) // b2 vs line a
    cover(a, "a").join(cover(b, "b"), Seq("gx", "gy"))
      // PBSM reference point: only the cell holding the overlap's min corner
      // emits the pair; any crossing point lies in both bboxes, so that cell
      // is in both covers and the pair is found exactly once
      .filter(col("gx") === floor(greatest(col("ax0"), col("bx0")) / cs).cast("long") &&
        col("gy") === floor(greatest(col("ay0"), col("by0")) / cs).cast("long"))
      .withColumn("d1", d1).withColumn("d2", d2)
      .withColumn("d3", d3).withColumn("d4", d4)
      .filter(col("d1") * col("d2") < 0.0 && col("d3") * col("d4") < 0.0)
      .withColumn("t", col("d1") / (col("d1") - col("d2")))
      .select(col("a_id"), col("b_id"),
        (col("ax1") + col("t") * (col("ax2") - col("ax1"))).as("ix"),
        (col("ay1") + col("t") * (col("ay2") - col("ay1"))).as("iy"))
  }

}
