package graft.geo

/** Web-Mercator (slippy-map) z/x/y tile addressing — the tile-pyramid
  * generalization of the reference's 1°×1° keys (north rule: "identical tile
  * (z/x/y) assignments").
  */
object WebMercator {
  final val MaxLat = 85.05112877980659 // atan(sinh(π)) in degrees

  def tileX(lng: Double, z: Int): Int = {
    val n = 1 << z
    val x = math.floor((lng + 180.0) / 360.0 * n).toInt
    math.min(math.max(x, 0), n - 1)
  }

  def tileY(lat: Double, z: Int): Int = {
    val n = 1 << z
    val latRad = math.toRadians(math.min(math.max(lat, -MaxLat), MaxLat))
    val y = math.floor(
      (1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi) / 2.0 * n).toInt
    math.min(math.max(y, 0), n - 1)
  }

  def tile(lng: Double, lat: Double, z: Int): (Int, Int) = (tileX(lng, z), tileY(lat, z))

  /** Pack z/x/y into one sortable long: [z:5][x:29][y:29] (z ≤ 28). */
  def pack(z: Int, x: Int, y: Int): Long =
    (z.toLong << 58) | (x.toLong << 29) | y.toLong

  def unpack(k: Long): (Int, Int, Int) =
    ((k >>> 58).toInt, ((k >>> 29) & 0x1fffffffL).toInt, (k & 0x1fffffffL).toInt)

  /** All tiles at zoom z intersecting a lng/lat bbox (cell cover). Rejects
    * antimeridian-crossing boxes (minLng > maxLng) explicitly — silently
    * returning an empty cover would drop candidate tiles; callers split such
    * boxes into two x-ranges first.
    */
  def cover(minLng: Double, minLat: Double, maxLng: Double, maxLat: Double,
            z: Int): Seq[(Int, Int)] = {
    require(minLng <= maxLng && minLat <= maxLat,
      s"bbox must not cross the antimeridian / be inverted: [$minLng,$maxLng]x[$minLat,$maxLat]")
    val x0 = tileX(minLng, z); val x1 = tileX(maxLng, z)
    val y0 = tileY(maxLat, z); val y1 = tileY(minLat, z) // y grows southward
    for (x <- x0 to x1; y <- y0 to y1) yield (x, y)
  }
}
