package graft.raster

/** Terrarium (terrain-RGB) elevation encoding.
  *
  * Encode semantics pinned by the reference
  * (src/elevation/getTerrariumDemElevation.ts:10-20): per coordinate,
  * `e = elev + 32768`; bytes `[floor(e/256), e % 256,
  * floor((e - floor(e)) * 256)]`, each stored through JS `Uint8Array`
  * assignment (ToUint8: NaN and ±∞ give 0, anything else truncates toward
  * zero and wraps mod 256). Decode is the published Terrarium formula
  * `R*256 + G + B/256 - 32768`.
  *
  * The middle byte skips the `%`, which the JVM runs as a runtime call
  * (`fmod`), not an instruction: it is `toUint8(e)`. For finite `e`,
  * `e % 256` is exact and keeps the sign of `e`: `e = 256q + (e % 256)`
  * with the integer `q = trunc(e / 256)`, and both terms have the sign of
  * `e`, so `trunc(e) = 256q + trunc(e % 256)`, i.e. `trunc(e) ≡ trunc(e %
  * 256) (mod 256)`. For `|e| < 2^63`, `trunc(e)` is `e.toLong` exactly and
  * its low 8 bits are the byte; at or above 2^63, and for NaN and ±∞, both
  * forms give 0.
  *
  * [[rgb]] is the one implementation of the arithmetic: [[write]] (the
  * `/polyline` row), [[encode]] (the `terrarium_rgb` expression and the
  * `tile_pyramid` check), [[encodeStream]] and the PNG codec all call it.
  */
object Terrarium {
  private final val Two63 = 9.223372036854775808e18 // 2^63

  /** JS ToUint8. Below 2^63 in magnitude `toLong` truncates toward zero
    * exactly; at or above it a finite double is a multiple of 2^11, so mod
    * 256 it is 0, as are NaN and ±∞.
    */
  @inline private def toUint8(x: Double): Int =
    if (math.abs(x) < Two63) (x.toLong & 0xffL).toInt else 0

  /** The three bytes of one elevation packed as `0xRRGGBB`. */
  def rgb(elev: Double): Int = {
    val e = elev + 32768.0
    val r = toUint8(math.floor(e / 256))
    val g = toUint8(e)
    val b = toUint8(math.floor((e - math.floor(e)) * 256))
    (r << 16) | (g << 8) | b
  }

  /** Write one elevation's three bytes to `out(at)`, `out(at + 1)` and
    * `out(at + 2)`.
    */
  def write(elev: Double, out: Array[Byte], at: Int): Unit = {
    val p = rgb(elev)
    out(at) = (p >> 16).toByte; out(at + 1) = (p >> 8).toByte; out(at + 2) = p.toByte
  }

  /** Encode one elevation into (r, g, b), each 0..255. */
  def encode(elev: Double): (Int, Int, Int) = {
    val p = rgb(elev)
    ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
  }

  /** Encode a sequence of elevations to the reference's 3-bytes-per-coordinate
    * stream in input order (content type application/x-terrarium-dem).
    */
  def encodeStream(elevs: Iterable[Double]): Array[Byte] = {
    val out = new Array[Byte](elevs.size * 3)
    var i = 0
    elevs.foreach { e => write(e, out, i); i += 3 }
    out
  }

  /** Published Terrarium decode. Within 1/256 of the encoded elevation. */
  def decode(r: Int, g: Int, b: Int): Double =
    (r & 0xff) * 256.0 + (g & 0xff) + (b & 0xff) / 256.0 - 32768.0
}
