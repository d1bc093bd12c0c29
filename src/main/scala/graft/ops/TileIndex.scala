package graft.ops

import graft.core.{DecodedTile, TileCodec, TileRow}
import graft.geo.TileKey
import graft.raster.Bilinear
import graft.table.{TileFile, TileStore}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.util.SerializableConfiguration

import java.util.concurrent.atomic.{AtomicInteger, AtomicReferenceArray}

/** Broadcast tile-pyramid index (north star: "assigns every geometry ... via
  * a broadcast tile-pyramid index"): the raster side of the point→tile join,
  * probed per row without materializing the `bytes` column into join output
  * rows.
  *
  * What is broadcast depends on where the tiles come from. An index over a
  * bare [[graft.table.TileStore.readTiles]] scan ships only a reference to
  * each tile file (path, length, mtime) and the Hadoop configuration; an
  * index over any other tile set ships the rows. Either way an executor
  * loads a tile on its first probe, decodes it once, and keeps it in a
  * direct-address slot over the 64,800 1° cells (no hash, no boxed key).
  * This is the reference's per-process tile cache
  * (src/fetchTileData.ts:19-33,50-84) in executor form: the slot lock
  * coalesces concurrent first probes, there is no eviction, and the cache
  * lives in this instance, so it lasts as long as its broadcast (one job or
  * endpoint call) and holds only the tiles that executor probed. The
  * missing tile ⇒ 0 rule (src/elevation/getElevation.ts:22-28) lives in
  * [[TileIndex.elevation]].
  *
  * Why not a plain broadcast hash join on `bytes`: Spark's join output
  * materializes each probe row, and reading a BinaryType column copies the
  * full payload (`UnsafeRow.getBinary`) — a 2.9 MB memcpy per coordinate,
  * i.e. ~3 TB of copying per million rows. The index keeps payloads out of
  * the row entirely; the probe is 4 int16 reads (`Bilinear`).
  */
final class TileIndex private (rows: Array[TileRow], files: Array[TileFile],
                               conf: SerializableConfiguration) extends Serializable {

  /** An index over tile rows held in memory. */
  def this(rows: Array[TileRow]) = this(rows, Array.empty, null)

  /** The probe state, built by this instance's first probe in each JVM. */
  @transient private lazy val slots = new TileIndex.Slots(rows, files, conf)

  /** Tiles in the index: its rows, or its store's tile files. */
  def size: Int = rows.length + files.length

  /** Tiles this instance has loaded and decoded in this JVM. */
  private[graft] def loads: Int = slots.loads.get

  /** The decoded tile with SW corner (swLng, swLat), or null: the missing
    * tile of F8, and every corner off the 1° grid.
    */
  private def tileAt(swLng: Double, swLat: Double): DecodedTile = {
    val k = TileIndex.key(swLng, swLat)
    if (k < 0) null else slots.tile(k)
  }

  /** Bilinear elevation at (lng, lat); missing tile ⇒ sea level 0 (F8). */
  def elevation(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else Bilinear.sampleGrid(d.samples, d.size, swLng, swLat, lng, lat)
  }

  /** Squared slope magnitude (map-algebra / terrain-analysis op, beyond the
    * reference): central-difference gradient at the grid node nearest to
    * (lng, lat), clamped at tile edges — `(dz/dcol)² + (dz/drow)²` in
    * meters²-per-cell². Missing tile ⇒ 0 (F8 semantics).
    */
  def slope2(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else {
      val size = d.size - 1
      val (rn, cn) = Bilinear.nearestNode(d.size, swLng, swLat, lng, lat)
      val c0 = math.max(0, cn - 1); val c1 = math.min(size, cn + 1)
      val r0 = math.max(0, rn - 1); val r1 = math.min(size, rn + 1)
      val dc = (d.sample(rn, c1) - d.sample(rn, c0)).toDouble / (c1 - c0)
      val dr = (d.sample(r1, cn) - d.sample(r0, cn)).toDouble / (r1 - r0)
      dc * dc + dr * dr
    }
  }

  /** Lambertian hillshade (map-algebra op, beyond the reference): analytic
    * illumination of the surface normal by a fixed light from azimuth 315°
    * (NW), altitude 45° — the GDAL/ESRI default sun. Uses the same
    * central-difference gradient as [[slope2]]; the light vector components
    * are EXACT double literals (−0.5, 0.5, √2/2) so the DuckDB oracle can
    * reproduce the value bit-for-bit: every remaining op (mul/add/div/sqrt)
    * is IEEE correctly-rounded and therefore engine-independent. Missing
    * tile ⇒ 0 (F8 no-data semantics; flat terrain yields √2/2, so 0 is
    * unambiguously "no data").
    */
  def hillshade(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else {
      val size = d.size - 1
      val (rn, cn) = Bilinear.nearestNode(d.size, swLng, swLat, lng, lat)
      val c0 = math.max(0, cn - 1); val c1 = math.min(size, cn + 1)
      val r0 = math.max(0, rn - 1); val r1 = math.min(size, rn + 1)
      val dc = (d.sample(rn, c1) - d.sample(rn, c0)).toDouble / (c1 - c0)
      val dr = (d.sample(r1, cn) - d.sample(r0, cn)).toDouble / (r1 - r0)
      // light L = (lx, ly, lz), unnormalized surface normal N = (−dc, −dr, 1):
      // illum = (L·N)/|N|. lx = cos45·sin315 = −0.5, ly = cos45·cos315 = 0.5,
      // lz = sin45 = √2/2. Same association order as the oracle SQL.
      (-0.5 * -dc + 0.5 * -dr + 0.7071067811865476) /
        math.sqrt(dc * dc + dr * dr + 1.0)
    }
  }

  /** D8 flow direction (hydrology map-algebra op, beyond the reference):
    * steepest-descent direction from the grid node nearest (lng, lat) to its
    * 8 neighbours, ESRI power-of-2 codes — E=1, SE=2, S=4, SW=8, W=16, NW=32,
    * N=64, NE=128 in HGT north-first row order (row 0 = north, so +row =
    * south). Comparison is sqrt/division-free: straight and diagonal drops
    * compare via `2·dropₛ² vs dropd²` (slope² scaled by the common 2), pure
    * integer arithmetic the DuckDB oracle replicates exactly. Neighbours are
    * CLAMPED at tile edges (a clamped straight neighbour equals the centre ⇒
    * drop 0 ⇒ never selected). All drops ≤ 0 (pit/flat) ⇒ 0; ties break to
    * the smallest code; missing tile ⇒ 0 (F8 no-data).
    */
  def flowdirD8(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else {
      val size = d.size - 1
      val (rn, cn) = Bilinear.nearestNode(d.size, swLng, swLat, lng, lat)
      val vc = d.sample(rn, cn).toLong
      var best = -1L
      var bestCode = 0
      var i = 0
      while (i < 8) {
        val dc = TileIndex.d8dc(i); val dr = TileIndex.d8dr(i)
        val cc = math.min(size, math.max(0, cn + dc))
        val rc = math.min(size, math.max(0, rn + dr))
        val drop = vc - d.sample(rc, cc)
        if (drop > 0) {
          // straight (|dc|+|dr|=1): slope² = drop²; diagonal: drop²/2.
          // Compare 2·slope²: straight → 2·drop², diagonal → drop².
          val score = if (dc != 0 && dr != 0) drop * drop else 2 * drop * drop
          if (score > best) { best = score; bestCode = 1 << i }
        }
        i += 1
      }
      bestCode.toDouble
    }
  }

  /** Terrain ruggedness index (Riley et al. 1999, beyond the reference):
    * Σ|v(neighbour) − v(centre)| over the same 8 clamped neighbours as
    * [[flowdirD8]] — pure integer arithmetic, oracle-exact. Missing tile ⇒ 0.
    */
  def tri(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else {
      val size = d.size - 1
      val (rn, cn) = Bilinear.nearestNode(d.size, swLng, swLat, lng, lat)
      val vc = d.sample(rn, cn).toLong
      var sum = 0L
      var i = 0
      while (i < 8) {
        val cc = math.min(size, math.max(0, cn + TileIndex.d8dc(i)))
        val rc = math.min(size, math.max(0, rn + TileIndex.d8dr(i)))
        sum += math.abs(d.sample(rc, cc) - vc)
        i += 1
      }
      sum.toDouble
    }
  }

  /** Discrete Laplacian curvature (map-algebra op, beyond the reference):
    * the 4-neighbour second difference N + S + E + W − 4·centre at the grid
    * node nearest to (lng, lat), neighbours clamped at tile edges — positive
    * in sinks/valleys, negative on ridges/peaks, 0 on planar slopes. Pure
    * integer arithmetic on int16 samples, so oracle-exact. Missing tile ⇒ 0.
    */
  def laplacian(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else {
      val size = d.size - 1
      val (rn, cn) = Bilinear.nearestNode(d.size, swLng, swLat, lng, lat)
      val c0 = math.max(0, cn - 1); val c1 = math.min(size, cn + 1)
      val r0 = math.max(0, rn - 1); val r1 = math.min(size, rn + 1)
      (d.sample(rn, c0).toLong + d.sample(rn, c1) + d.sample(r0, cn) +
        d.sample(r1, cn) - 4L * d.sample(rn, cn)).toDouble
    }
  }

  /** Aspect octant (map-algebra op, beyond the reference): dominant compass
    * direction of the DOWNSLOPE vector (−dc, −dr) from the same
    * central-difference gradient as [[slope2]], in HGT north-first row order
    * (−dr > 0 points south). Quantized to be engine-exact — no atan2 ulp
    * risk: cardinal when one axis strictly dominates (|gx| ≷ |gy|),
    * intercardinal on the exact diagonal. Codes: 0 flat, 1 E, 2 NE, 3 N,
    * 4 NW, 5 W, 6 SW, 7 S, 8 SE. Missing tile ⇒ 0.
    */
  def aspectOctant(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else {
      val size = d.size - 1
      val (rn, cn) = Bilinear.nearestNode(d.size, swLng, swLat, lng, lat)
      val c0 = math.max(0, cn - 1); val c1 = math.min(size, cn + 1)
      val r0 = math.max(0, rn - 1); val r1 = math.min(size, rn + 1)
      val gx = -((d.sample(rn, c1) - d.sample(rn, c0)).toDouble / (c1 - c0))
      val gy = -((d.sample(r1, cn) - d.sample(r0, cn)).toDouble / (r1 - r0))
      val ax = math.abs(gx); val ay = math.abs(gy)
      val code =
        if (gx == 0.0 && gy == 0.0) 0
        else if (ax > ay) { if (gx > 0) 1 else 5 }
        else if (ay > ax) { if (gy > 0) 7 else 3 }
        else { // exact diagonal
          if (gx > 0) { if (gy > 0) 8 else 2 }
          else { if (gy > 0) 6 else 4 }
        }
      code.toDouble
    }
  }

  /** Nearest-neighbour sampling mode (reference `_nearestNeighbour`). */
  def elevationNearest(lng: Double, lat: Double): Double = {
    val swLng = math.floor(lng)
    val swLat = math.floor(lat)
    val d = tileAt(swLng, swLat)
    if (d == null) 0.0
    else Bilinear.nearestGrid(d.samples, d.size, swLng, swLat, lng, lat)
  }
}

object TileIndex {
  /** The 1° cells of the grid: 360 × 180. */
  private val Cells = 64800

  /** Per-JVM probe state of one index: for each cell, the tile's source (a
    * [[TileRow]] or a [[TileFile]], also the cell's lock) and, once loaded,
    * the decoded tile. A source key repeated keeps the last row, as the
    * collected rows' map did.
    */
  private final class Slots(rows: Array[TileRow], files: Array[TileFile],
                            conf: SerializableConfiguration) {
    private val sources = new Array[AnyRef](Cells)
    private val tiles = new AtomicReferenceArray[DecodedTile](Cells)
    val loads = new AtomicInteger
    rows.foreach(t => put(t.image_id, t))
    files.foreach(f => put(f.tileKey, f))

    private def put(tileKey: String, source: AnyRef): Unit = {
      val (swLng, swLat) = TileKey.toDegrees(tileKey)
      val k = key(swLng, swLat)
      if (k >= 0) sources(k) = source
    }

    /** Cell k's decoded tile, or null when the cell has no tile. */
    def tile(k: Int): DecodedTile = {
      val d = tiles.get(k)
      if (d != null) d else load(k)
    }

    /** Cell k's tile, loaded and decoded by the first caller. */
    private def load(k: Int): DecodedTile = {
      val source = sources(k)
      if (source == null) null
      else source.synchronized {
        var d = tiles.get(k)
        if (d == null) {
          d = TileCodec.decode(source match {
            case t: TileRow  => t
            case f: TileFile => TileStore.readTile(f, conf.value)
          })
          tiles.set(k, d)
          loads.incrementAndGet()
        }
        d
      }
    }
  }

  /** Int key of the 1° tile with floored SW corner (swLng, swLat): a
    * bijection from the grid [−180, 179] × [−90, 89] onto [0, 64800), and
    * -1 (no tile) for any other corner, NaN and ±∞ included. Lng 180.0 is
    * valid GeoJSON; the reference keys it N36E180-style, a tile that does
    * not exist, so it samples 0 instead of aliasing W180 one row north.
    */
  def key(swLng: Double, swLat: Double): Int =
    if (swLng >= -180 && swLng <= 179 && swLat >= -90 && swLat <= 89)
      (swLat.toInt + 90) * 360 + (swLng.toInt + 180)
    else -1

  /** D8 neighbour offsets, index i ⇒ code 1<<i: E SE S SW W NW N NE
    * (HGT north-first rows: +dr = south).
    */
  private[ops] val d8dc: Array[Int] = Array(1, 1, 0, -1, -1, -1, 0, 1)
  private[ops] val d8dr: Array[Int] = Array(0, 1, 1, 1, 0, -1, -1, -1)

  /** Broadcast an index of `tiles`. A bare [[TileStore.readTiles]] scan
    * whose every tile_key holds one file is indexed from the store's file
    * listing: no Spark job runs, and the broadcast is a few hundred bytes
    * per tile plus the Hadoop configuration, whatever the store's size.
    * Any other tile set (in-memory rows, filtered or derived frames, a
    * store with a tile split over files) is collected to the driver and
    * broadcast as encoded rows, so it must fit in driver memory: ~2.9 MB
    * per 3″ tile, ~26 MB at 1″.
    */
  def broadcastIndex(tiles: Dataset[TileRow]): Broadcast[TileIndex] = {
    val index = TileStore.tileFiles(tiles) match {
      case Some((files, conf)) =>
        new TileIndex(Array.empty, files.toArray, new SerializableConfiguration(conf))
      case None => new TileIndex(tiles.collect())
    }
    tiles.sparkSession.sparkContext.broadcast(index)
  }
}

/** `elev_at(lng, lat)` over a broadcast [[TileIndex]] — the whole J1/J4
  * lookup join collapsed into one codegen'd scalar probe.
  */
case class ElevAtExpr(left: Expression, right: Expression,
                      bc: Broadcast[TileIndex], method: String = "elevation")
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "elev_at"
  override def nullSafeEval(lng: Any, lat: Any): Any = {
    val x = lng.asInstanceOf[Double]; val y = lat.asInstanceOf[Double]
    method match {
      case "elevationNearest" => bc.value.elevationNearest(x, y)
      case "slope2"           => bc.value.slope2(x, y)
      case "hillshade"        => bc.value.hillshade(x, y)
      case "flowdirD8"        => bc.value.flowdirD8(x, y)
      case "tri"              => bc.value.tri(x, y)
      case "laplacian"        => bc.value.laplacian(x, y)
      case "aspectOctant"     => bc.value.aspectOctant(x, y)
      case _                  => bc.value.elevation(x, y)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tileIndexBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, (lng, lat) =>
      s"${ev.value} = ((graft.ops.TileIndex) $ref.value()).$method($lng, $lat);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ElevAtExpr =
    copy(left = l, right = r)
}

object ElevAt {
  private def probe(lng: Column, lat: Column, bc: Broadcast[TileIndex],
                    method: String): Column =
    GraftColumns.column(ElevAtExpr(
      GraftColumns.expression(lng.cast(DoubleType)),
      GraftColumns.expression(lat.cast(DoubleType)), bc, method))
  def elev_at(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "elevation")
  def elev_at_nearest(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "elevationNearest")
  def elev_slope2(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "slope2")
  def elev_hillshade(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "hillshade")
  def elev_flowdir(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "flowdirD8")
  def elev_tri(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "tri")
  def elev_curvature(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "laplacian")
  def elev_aspect(lng: Column, lat: Column, bc: Broadcast[TileIndex]): Column =
    probe(lng, lat, bc, "aspectOctant")
}
