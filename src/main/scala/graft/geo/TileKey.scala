package graft.geo

/** SRTM-style 1°×1° tile key: `{N|S}{lat:2d}{E|W}{lng:3d}` from the floored
  * degrees of the tile's southwest corner.
  *
  * Semantics pinned by the reference: hemisphere letter comes from the sign of
  * the floored value (0 → N/E); latitude zero-padded to 2 digits, longitude to
  * 3 (reference: src/elevation/getElevationTileKey.ts:3-10); the caller floors
  * toward −∞, never truncates (src/elevation/fetchElevationTileData.ts:16-17 —
  * `-118.29213 → W119`).
  */
object TileKey {
  def ofDegrees(lngDeg: Int, latDeg: Int): String = {
    val sb = new java.lang.StringBuilder(7)
    sb.append(if (latDeg < 0) 'S' else 'N')
    zeroPad(sb, math.abs(latDeg), 2)
    sb.append(if (lngDeg < 0) 'W' else 'E')
    zeroPad(sb, math.abs(lngDeg), 3)
    sb.toString
  }

  /** `%0<width>d` without `String.format` (it parses the format on every
    * call). `math.abs(Int.MinValue)` stays negative, but its digits are
    * wider than any width here, so the sign never needs zeros after it.
    */
  private def zeroPad(sb: java.lang.StringBuilder, v: Int, width: Int): Unit = {
    val digits = Integer.toString(v)
    var i = digits.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(digits)
  }

  /** Tile key of the 1°×1° tile containing the coordinate (floor, not trunc). */
  def of(lng: Double, lat: Double): String =
    ofDegrees(math.floor(lng).toInt, math.floor(lat).toInt)

  /** Inverse of [[ofDegrees]]: key → (swLng, swLat). */
  def toDegrees(key: String): (Int, Int) = {
    require(key.length == 7, s"bad tile key: $key")
    val lat = key.substring(1, 3).toInt * (if (key.charAt(0) == 'S') -1 else 1)
    val lng = key.substring(4, 7).toInt * (if (key.charAt(3) == 'W') -1 else 1)
    (lng, lat)
  }
}
