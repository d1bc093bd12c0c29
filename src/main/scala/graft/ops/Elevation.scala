package graft.ops

import graft.core._
import graft.functions.spatial._
import graft.geo.{Polyline, TileKey}
import graft.raster.{Bilinear, Terrarium}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One sampled coordinate (J1/J4 output row). */
final case class ElevRow(feature_id: String, coord_idx: Long, lng: Double,
                         lat: Double, tile_key: String, elev: Double)

/** The reference's core query as Spark plans: per-coordinate terrain lookup =
  * point→tile **left-outer equi-join** on the floored-degree tile key, then
  * bilinear sampling, with missing tiles coalesced to sea level 0
  * (reference: src/elevation/getElevation.ts, fetchElevationTileData.ts).
  *
  * Two physical paths; the caller picks one:
  *
  *  - [[lookupBroadcast]]: probe a broadcast [[TileIndex]] with a codegen'd
  *    scalar expression: zero shuffle, and no join row ever carries a tile
  *    payload. Over a bare [[graft.table.TileStore.readTiles]] scan the
  *    index broadcasts file references and each executor loads a tile on
  *    its first probe; any other tile set is collected and broadcast as
  *    encoded rows (see [[TileIndex.broadcastIndex]]). The two endpoints,
  *    [[addElevation]] and [[polylineToTerrarium]], probe the same index
  *    inside each feature or polyline row: no coordinate rows and no
  *    reassembly shuffle.
  *
  *  - [[lookupCogroup]]: a shuffle join. Both sides hash-partition on
  *    (tile_key, salt); each group decodes its tile **once** and streams its
  *    coordinates through in-memory sampling. Salting (`salt > 1`) splits the
  *    coordinate stream of hot tiles across `salt` reducers by replicating
  *    only the tile row, never the coords. `geo_elev_cogroup` and the
  *    headline bench's cogroup block run it.
  */
object Elevation {

  /** P4: explode features to coordinate rows in coordEach document order. */
  def coordRows(features: Dataset[FeatureRow]): Dataset[CoordRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[CoordRow]
    features.flatMap(GeoJson.coordRows _)
  }

  /** Broadcast path: probe a broadcast [[TileIndex]] with a codegen'd
    * scalar expression — zero shuffle, zero join-row materialization of the
    * raster payloads (see TileIndex scaladoc for why a broadcast hash join
    * on the `bytes` column is a per-row multi-MB memcpy). `coords` needs
    * (lng, lat) columns; extra columns pass through. Adds `tile_key` and
    * `elev`.
    */
  def lookupBroadcast(coords: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    val bc = TileIndex.broadcastIndex(tiles)
    coords
      .withColumn("tile_key", tile_key(col("lng"), col("lat")))
      .withColumn("elev", ElevAt.elev_at(col("lng"), col("lat"), bc))
  }

  /** Elevation profile over ordered polyline vertices — the reference's
    * `/polyline` use case (src/server.ts:52-72) as an analytic query: per
    * vertex, the bilinear elevation plus the running planar distance and
    * total ascent along its line. The running totals are quantized to exact
    * integers (micro-degrees; 1/64 m) BEFORE the window sum: a windowed SUM
    * over doubles is association-order-dependent (Spark folds rows
    * sequentially, other engines may use segment trees), while integer
    * summands make the running totals engine-independent — the per-vertex
    * `elev` itself stays the exact IEEE double. One window per line; at
    * 10^12 vertices the only shuffle is the hash partition on line_id and
    * lines are independent.
    *
    * @param vertices (line_id, seq, lng, lat) — seq orders vertices within
    *                 a line; extra columns pass through
    */
  def profile(vertices: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("line_id").orderBy("seq")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lookupBroadcast(vertices, tiles)
      .withColumn("dx", col("lng") - lag("lng", 1).over(w))
      .withColumn("dy", col("lat") - lag("lat", 1).over(w))
      .withColumn("seg_q", coalesce(
        floor(sqrt(col("dx") * col("dx") + col("dy") * col("dy")) * lit(1000000.0))
          .cast("long"), lit(0L)))
      .withColumn("rise_q", coalesce(
        floor(greatest(col("elev") - lag("elev", 1).over(w), lit(0.0)) * lit(64.0))
          .cast("long"), lit(0L)))
      .withColumn("cum_dist_q", sum("seg_q").over(cum))
      .withColumn("ascent_q", sum("rise_q").over(cum))
      .drop("dx", "dy", "seg_q", "rise_q")
  }

  /** Line-of-sight visibility along each profile line (viewshed-on-a-line):
    * vertex i is visible from the line's FIRST vertex iff its elevation
    * angle exceeds every intermediate vertex's angle. The angle surrogate is
    * `(elev_i − elev_obs) / max(cum_dist_q_i, 1)` — exact double minus exact
    * double over an exact integer, ONE IEEE division per vertex, so an
    * independent engine reproduces every ratio bit-for-bit (no trig needed:
    * atan is monotone, so comparing tangents decides visibility).
    *
    * All four window functions share the profile's (line_id, seq) window —
    * still exactly ONE shuffle on line_id for the whole query; the running
    * `max` is order-independent (unlike a double sum) so no quantization is
    * needed.
    */
  def viewshed(vertices: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("line_id").orderBy("seq")
    val cumF = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevF = w.rowsBetween(Window.unboundedPreceding, -1)
    profile(vertices, tiles)
      .withColumn("rn", row_number().over(w))
      .withColumn("obs_elev", first("elev").over(cumF))
      .withColumn("ratio", when(col("rn") === 1, lit(null).cast("double"))
        .otherwise((col("elev") - col("obs_elev")) /
          greatest(col("cum_dist_q"), lit(1L)).cast("double")))
      .withColumn("prev_max", max("ratio").over(prevF))
      .withColumn("visible", col("rn") === 1 || col("prev_max").isNull ||
        col("ratio") > col("prev_max"))
  }

  /** Shuffle/cogroup path with optional skew salting. Handles every `fmt`
    * (hgt/png/jpg) because each tile is decoded exactly once per group.
    */
  def lookupCogroup(coords: Dataset[CoordRow], tiles: Dataset[TileRow],
                    salt: Int = 1): Dataset[ElevRow] = {
    val spark = coords.sparkSession
    import spark.implicits._
    val s = math.max(1, salt)
    // Packed Long shuffle key `tileIntKey * salt + lane` instead of a
    // per-row `"$tileKey#$lane"` string: the string form allocates, hashes
    // and compares ~16 bytes per probe row — pure overhead on the path
    // where EVERY row crosses the shuffle. The int tile key is the one the
    // broadcast index uses (TileIndex.key): off the 1° grid it is -1, which
    // no tile is keyed to, so such a coordinate samples 0 on both paths.
    val keyedCoords = coords.groupByKey { c =>
      val k = TileIndex.key(math.floor(c.lng), math.floor(c.lat)).toLong
      // salt lane from a per-row hash: coord_idx alone degenerates to one
      // lane for point-style inputs where every row has coord_idx 0
      val lane = if (s == 1) 0
        else math.floorMod(c.feature_id.hashCode * 31 + c.coord_idx.toInt, s)
      k * s + lane
    }
    val keyedTiles = tiles.flatMap { t =>
      val (lngD, latD) = TileKey.toDegrees(t.image_id)
      val k = TileIndex.key(lngD, latD).toLong
      if (k < 0) Iterator.empty else (0 until s).iterator.map(i => (k * s + i, t))
    }.groupByKey(_._1)
    keyedCoords.cogroup(keyedTiles) { (_, cs, ts) =>
      ts.toSeq.headOption match {
        case Some((_, tile)) =>
          val d = TileCodec.decode(tile)
          cs.map { c =>
            ElevRow(c.feature_id, c.coord_idx, c.lng, c.lat, tile.image_id,
              Bilinear.sampleGrid(d.samples, d.size, d.swLng.toDouble,
                d.swLat.toDouble, c.lng, c.lat))
          }
        case None => // missing tile ⇒ sea level (F8 no-data coalesce)
          cs.map(c => ElevRow(c.feature_id, c.coord_idx, c.lng, c.lat,
            TileKey.of(c.lng, c.lat), 0.0))
      }
    }
  }

  /** Full `/geojson` query (entry point 1): add elevations into the GeoJSON
    * features. One narrow pass per feature, like the reference's in-place
    * `coordEach` mutation (src/elevation/addElevation.ts): the tile table is
    * broadcast once as a [[TileIndex]], and every position is sampled inside
    * the row that owns it with [[TileIndex.elevation]] (the method the
    * `elev_at` probe of [[lookupBroadcast]] calls) and written into index 2.
    * No coordinate rows, no shuffle, no join. A feature without positions
    * comes back unchanged.
    */
  def addElevation(features: Dataset[FeatureRow],
                   tiles: Dataset[TileRow]): Dataset[FeatureRow] =
    addElevation(features, TileIndex.broadcastIndex(tiles))

  /** [[addElevation]] over a tile index the caller has already broadcast. */
  def addElevation(features: Dataset[FeatureRow],
                   index: Broadcast[TileIndex]): Dataset[FeatureRow] = {
    val spark = features.sparkSession
    import spark.implicits._
    features.map(f => GeoJson.withElevations(f)(index.value.elevation))
  }

  /** Entry point 2 (`/polyline`): decode polyline → sample → Terrarium byte
    * stream in vertex order (F5 → J1 → F6), one narrow pass per polyline
    * over the broadcast [[TileIndex]]. Each row is one primitive loop
    * ([[terrariumBytes]]): no vertex array, no boxed elevations, no byte
    * triples. An empty polyline emits no row. A malformed one fails its
    * task with the first failure on the way: the loop samples each vertex
    * before it reads the next, so a tile load for an earlier vertex (a
    * store file changed or gone) can fail before the bad varint does.
    */
  def polylineToTerrarium(polylines: Dataset[(String, String)],
                          tiles: Dataset[TileRow]): Dataset[(String, Array[Byte])] = {
    val spark = polylines.sparkSession
    import spark.implicits._
    val bc = TileIndex.broadcastIndex(tiles)
    polylines.flatMap { case (id, pl) =>
      val index = bc.value
      val bytes = terrariumBytes(pl)(index.elevation)
      Option.when(bytes.nonEmpty)(id -> bytes)
    }
  }

  /** The Terrarium bytes of one encoded polyline: [[Polyline.Cursor]] reads
    * each vertex as [[Polyline.decode]] does, `elev` samples it, and
    * [[Terrarium.write]] puts its three bytes into the line's output array,
    * sized up front by [[Polyline.vertexCount]].
    */
  private[graft] def terrariumBytes(pl: String)(elev: (Double, Double) => Double): Array[Byte] = {
    val out = new Array[Byte](3 * Polyline.vertexCount(pl))
    val c = new Polyline.Cursor(pl)
    var at = 0
    while (c.next()) {
      Terrarium.write(elev(c.lng, c.lat), out, at)
      at += 3
    }
    out
  }
}
