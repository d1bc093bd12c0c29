package graft.ops

import graft.geo.ConvexClip
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector→raster rasterization with EXACT area weights — the missing step
  * between boolean point-in-polygon membership and area-weighted zonal
  * aggregation: a polygon spanning several raster cells contributes to each
  * cell in proportion to the overlap area, not 0/1 (the standard
  * "area-weighted zonal statistics" / conservative-regridding primitive).
  *
  * Cells are an axis-aligned degree grid of `cellsPerDeg` cells per degree.
  * Use a POWER OF TWO (16 ⇒ 1/16°): every cell boundary is then an exactly
  * representable binary double (cx/16.0 is exact), so the Sutherland–
  * Hodgman clip ([[ConvexClip.clip]]) and its shoelace area are pure IEEE
  * mul/add/div chains an independent engine replays bit-for-bit — this is
  * the op that makes the clip kernel itself oracle-gated, not just
  * spec-gated. (Slippy z-tiles need the transcendental Mercator transform
  * and stay spec-territory; the degree grid is the HGT tiling the engine's
  * raster store already uses, refined.)
  *
  * Scale shape: pure per-row flatMap on the polygon scan — each polygon
  * expands to its bbox's cells (bounded by polygon extent / cell size) and
  * clips locally; NO shuffle, no join. Downstream zonal aggregation groups
  * by (cx, cy) — one key-bounded shuffle of (cell, weight) rows, never
  * geometry.
  */
object Rasterize {

  /** Per-cell overlap areas of simple polygon rings (`poly_id`, packed
    * `xs`/`ys`) against the `cellsPerDeg` degree grid; cells with zero
    * overlap are dropped.
    *
    * @return (poly_id, cx, cy, area) — cx/cy = floor(lng·cells),
    *         floor(lat·cells); area in square degrees, exact IEEE shoelace
    *         of the clipped ring
    */
  def cellAreaWeights(polys: DataFrame, cellsPerDeg: Int): DataFrame = {
    require(cellsPerDeg > 0 && (cellsPerDeg & (cellsPerDeg - 1)) == 0,
      s"cellsPerDeg must be a power of two for exact cell boundaries, got $cellsPerDeg")
    val spark = polys.sparkSession
    import spark.implicits._
    polys.select(col("poly_id").cast("long"),
        col("xs").cast("array<double>"), col("ys").cast("array<double>"))
      .as[(Long, Seq[Double], Seq[Double])]
      .flatMap { case (pid, xsS, ysS) =>
        val xs = xsS.toArray; val ys = ysS.toArray
        val cx0 = math.floor(xs.min * cellsPerDeg).toInt
        val cx1 = math.floor(xs.max * cellsPerDeg).toInt
        val cy0 = math.floor(ys.min * cellsPerDeg).toInt
        val cy1 = math.floor(ys.max * cellsPerDeg).toInt
        for {
          cx <- (cx0 to cx1).iterator
          cy <- (cy0 to cy1).iterator
          x0 = cx.toDouble / cellsPerDeg; x1 = (cx + 1).toDouble / cellsPerDeg
          y0 = cy.toDouble / cellsPerDeg; y1 = (cy + 1).toDouble / cellsPerDeg
          a = ConvexClip.intersectionArea(xs, ys,
            Array(x0, x1, x1, x0), Array(y0, y0, y1, y1))
          if a > 0.0
        } yield (pid, cx, cy, a)
      }
      .toDF("poly_id", "cx", "cy", "area")
  }

  /** Discrete kernel-density surface over a degree grid — the "heatmap"
    * companion to the point-count density (`geo_cell_density`): per-cell
    * point counts convolved with the separable integer kernel
    * `(2−|di|)·(2−|dj|)` (center 4, edges 2, corners 1) over the 3×3
    * neighbourhood, so isolated-cell noise smooths into ridges the way a
    * Gaussian KDE would, but in exact integer arithmetic.
    *
    * Scale shape: one partial-aggregated count shuffle keyed by cell, a
    * constant 9× row fan-out of the (already aggregated, tiny) cell counts
    * — never of the points — and a second key-bounded cell shuffle. Both
    * shuffles move O(#occupied cells), not O(#points).
    *
    * @return (gx, gy, density) for every cell receiving any kernel mass
    */
  def kdeSmooth(points: DataFrame, cellsPerDeg: Int): DataFrame = {
    require(cellsPerDeg > 0, s"cellsPerDeg must be > 0, got $cellsPerDeg")
    import org.apache.spark.sql.functions._
    val counts = points.select(
        floor(col("lng") * cellsPerDeg).cast("long").as("cx"),
        floor(col("lat") * cellsPerDeg).cast("long").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    counts
      .withColumn("di", explode(sequence(lit(-1), lit(1))))
      .withColumn("dj", explode(sequence(lit(-1), lit(1))))
      .select((col("cx") + col("di")).as("gx"),
        (col("cy") + col("dj")).as("gy"),
        (col("n") * (lit(2) - abs(col("di"))) * (lit(2) - abs(col("dj"))))
          .as("w"))
      .groupBy("gx", "gy").agg(sum("w").cast("long").as("density"))
  }

  /** LINE rasterization — per-cell distinct-line density (the road/trail
    * density map; the 1-D companion of [[cellAreaWeights]]' polygon
    * kernel). Each consecutive vertex pair is traced onto the cell grid by
    * integer DDA: `steps = max(|Δcx|, |Δcy|, 1)` and cell i of the trace is
    * `(c0 + Δ·i div steps)` with the engine's sign-split non-negative
    * division — every cell the parameterized line passes at 1/steps
    * sampling, exact integers, engine-replayable (Bresenham's
    * error-accumulator variant visits the same cells for |Δ| ≤ steps but
    * is gratuitously stateful for SQL replay; DDA at the max-delta step
    * count is the standard supercover-lite). Duplicate coverage dedupes
    * per line, then the density is a distinct-line count per cell.
    *
    * Plan shape: one window-free explode (steps+1 rows per segment — the
    * trace length is the segment's cell span, data-bounded), one distinct,
    * one (cx, cy) rollup. Lines never join anything.
    *
    * @param verts (line_id, seq, lng, lat)
    * @param cellsPerDeg grid resolution (cells per degree)
    * @return (cx, cy, n_lines)
    */
  def lineDensity(verts: DataFrame, cellsPerDeg: Int): DataFrame = {
    require(cellsPerDeg > 0, s"cellsPerDeg must be positive: $cellsPerDeg")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("line_id").orderBy("seq")
    verts
      .select(col("line_id"), col("seq"),
        floor(col("lng") * cellsPerDeg).cast("long").as("x1"),
        floor(col("lat") * cellsPerDeg).cast("long").as("y1"))
      .withColumn("x0", lag("x1", 1).over(w))
      .withColumn("y0", lag("y1", 1).over(w))
      .filter(col("x0").isNotNull)
      .withColumn("steps",
        greatest(abs(col("x1") - col("x0")), abs(col("y1") - col("y0")), lit(1L)))
      .withColumn("i", explode(sequence(lit(0L), col("steps"))))
      .selectExpr("line_id",
        """x0 + CASE WHEN x1 >= x0 THEN ((x1 - x0) * i) DIV steps
             ELSE -(((x0 - x1) * i) DIV steps) END AS cx""",
        """y0 + CASE WHEN y1 >= y0 THEN ((y1 - y0) * i) DIV steps
             ELSE -(((y0 - y1) * i) DIV steps) END AS cy""")
      .distinct()
      .groupBy("cx", "cy").agg(count(lit(1)).as("n_lines"))
  }

}
