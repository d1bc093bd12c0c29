package graft.geo

/** Google encoded-polyline codec, precision 5 — the published algorithm the
  * reference delegates to `@mapbox/polyline.toGeoJSON` for
  * (src/server.ts:60). Decodes to (lng, lat) pairs in LineString order.
  */
object Polyline {
  private final val Factor = 1e5

  /** The one varint loop: walks an encoded polyline's vertices in order.
    * Each [[next]] reads one vertex's two zigzag varints (lat, then lng) and
    * sets [[lng]] and [[lat]] to the running sums over 1e5. A string cut
    * inside a vertex throws `StringIndexOutOfBoundsException` from the read
    * past its end.
    */
  final class Cursor(str: String) {
    private var index = 0
    private var latE5 = 0L
    private var lngE5 = 0L
    var lng = 0.0
    var lat = 0.0

    private def varint(): Long = {
      var result = 0L
      var shift = 0
      var b = 0
      do {
        b = str.charAt(index) - 63; index += 1
        result |= (b & 0x1f).toLong << shift
        shift += 5
      } while (b >= 0x20)
      if ((result & 1) != 0) ~(result >> 1) else result >> 1
    }

    /** Read the next vertex; false once the string is used up. */
    def next(): Boolean = index < str.length && {
      latE5 += varint()
      lngE5 += varint()
      lng = lngE5 / Factor
      lat = latE5 / Factor
      true
    }
  }

  /** Vertices a full [[Cursor]] walk of `str` reads: half the chars that end
    * a varint. A walk either reads exactly this many or throws.
    */
  def vertexCount(str: String): Int = {
    var ends = 0
    var i = 0
    while (i < str.length) {
      if (str.charAt(i) - 63 < 0x20) ends += 1
      i += 1
    }
    ends / 2
  }

  /** Decode an encoded polyline into (lng, lat) coordinates. */
  def decode(str: String): Array[(Double, Double)] = {
    val out = new Array[(Double, Double)](vertexCount(str))
    val c = new Cursor(str)
    var i = 0
    while (c.next()) { out(i) = (c.lng, c.lat); i += 1 }
    out
  }

  /** Encode (lng, lat) coordinates into a precision-5 polyline string. */
  def encode(coords: Iterable[(Double, Double)]): String = {
    val sb = new StringBuilder
    var prevLat = 0L
    var prevLng = 0L
    def emit(v: Long): Unit = {
      var value = if (v < 0) ~(v << 1) else v << 1
      while (value >= 0x20) {
        sb.append(((0x20 | (value & 0x1f)) + 63).toChar)
        value >>= 5
      }
      sb.append((value + 63).toChar)
    }
    coords.foreach { case (lng, lat) =>
      val iLat = math.round(lat * Factor)
      val iLng = math.round(lng * Factor)
      emit(iLat - prevLat)
      emit(iLng - prevLng)
      prevLat = iLat; prevLng = iLng
    }
    sb.toString
  }
}
