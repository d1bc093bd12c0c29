package graft

import graft.core.{GeoJson, TileCodec}
import graft.geo.{Polyline, TileKey, WebMercator}
import graft.raster._
import graft.synth.TileGen
import org.scalatest.funsuite.AnyFunSuite

/** Golden vectors ported from the reference's own test suite, plus unit
  * properties of the pure core (no Spark).
  */
class TileKeySpec extends AnyFunSuite {
  // reference tests/elevation/getElevationTileKey.test.js:5-31 — all quadrants
  test("formats south and west") {
    assert(TileKey.ofDegrees(-1, -1) == "S01W001")
    assert(TileKey.ofDegrees(-1, -90) == "S90W001")
    assert(TileKey.ofDegrees(-90, -90) == "S90W090")
    assert(TileKey.ofDegrees(-180, -90) == "S90W180")
  }
  test("formats north and east") {
    assert(TileKey.ofDegrees(1, 1) == "N01E001")
    assert(TileKey.ofDegrees(1, 90) == "N90E001")
    assert(TileKey.ofDegrees(90, 90) == "N90E090")
    assert(TileKey.ofDegrees(180, 90) == "N90E180")
  }
  test("formats north and west") {
    assert(TileKey.ofDegrees(-1, 1) == "N01W001")
    assert(TileKey.ofDegrees(-180, 90) == "N90W180")
  }
  test("formats south and east") {
    assert(TileKey.ofDegrees(1, -1) == "S01E001")
    assert(TileKey.ofDegrees(180, -90) == "S90E180")
  }
  test("floor keying, not trunc (reference fetchElevationTileData.test.js:17-20)") {
    assert(TileKey.of(-118.29213, 36.57859) == "N36W119")
    assert(TileKey.of(0.0, 0.0) == "N00E000")
    assert(TileKey.of(-0.5, -0.5) == "S01W001")
  }
  test("ofDegrees matches the %02d/%03d formatter on arbitrary ints and the Int edges") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    def formatted(lngDeg: Int, latDeg: Int): String = {
      val latH = if (latDeg < 0) "S" else "N"
      val lngH = if (lngDeg < 0) "W" else "E"
      f"$latH${math.abs(latDeg)}%02d$lngH${math.abs(lngDeg)}%03d"
    }
    val edges = Gen.oneOf(Int.MinValue, Int.MinValue + 1, -1000, -999, -181, -180, -100, -99,
      -91, -90, -10, -9, -1, 0, 1, 9, 10, 90, 99, 100, 180, 999, 1000, Int.MaxValue - 1, Int.MaxValue)
    val degrees = Gen.frequency(2 -> edges, 3 -> Gen.choose(-200, 200),
      3 -> Gen.choose(Int.MinValue, Int.MaxValue))
    val prop = Prop.forAll(degrees, degrees) { (lng, lat) => TileKey.ofDegrees(lng, lat) == formatted(lng, lat) }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(20000), prop)
    assert(res.passed, res.status)
    // finite huge coordinates floor to the Int edges
    for (lng <- Seq(-1e300, -3e9, 3e9, 1e300); lat <- Seq(-1e300, 1e300)) {
      assert(TileKey.of(lng, lat) == formatted(math.floor(lng).toInt, math.floor(lat).toInt))
    }
    assert(TileKey.of(1e300, -1e300) == "S-2147483648E2147483647")
  }
  test("key round-trip") {
    for (lng <- Seq(-180, -119, -1, 0, 1, 179); lat <- Seq(-90, -37, 0, 36, 89)) {
      assert(TileKey.toDegrees(TileKey.ofDegrees(lng, lat)) == ((lng, lat)))
    }
  }
}

class HgtSpec extends AnyFunSuite {
  test("canonical sizes (reference getResolutionAndSize.test.js)") {
    assert(Hgt.resolutionAndSize(Hgt.OneArcSecondBytes) == ((1, 3601)))
    assert(Hgt.resolutionAndSize(Hgt.ThreeArcSecondBytes) == ((3, 1201)))
    assertThrows[Hgt.UnsupportedSizeException](Hgt.resolutionAndSize(0))
  }
  test("north-first layout + big-endian int16 round-trip") {
    val size = 4
    val g = Array.tabulate(size * size)(i => (i * 37 - 300).toShort)
    val bytes = Hgt.encode(g, size)
    // logical (row=0, col=0) is the LAST byte row of the buffer
    val offLastRow = ((size - 1) * size + 0) * 2
    val v = ((bytes(offLastRow) << 8) | (bytes(offLastRow + 1) & 0xff)).toShort
    assert(v == g(0))
    assert(Hgt.decode(bytes, size).sameElements(g))
    for (r <- 0 until size; c <- 0 until size)
      assert(Hgt.readSample(bytes, size, r, c) == g(r * size + c))
  }
}

class BilinearSpec extends AnyFunSuite {
  // 3×3 grid over tile SW=(10, 20): values row-major south-first
  private val g = Array[Short](10, 20, 30, 40, 50, 60, 70, 80, 90)
  private val bytes = Hgt.encode(g, 3)

  test("corners are exact") {
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 10.0, 20.0) == 10.0)
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 11.0, 20.0) == 30.0)
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 10.0, 21.0) == 70.0)
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 11.0, 21.0) == 90.0)
  }
  test("midpoints interpolate (hand-computed)") {
    // center of cell (0,0): row=col=0.5 → avg of 10,20,40,50 = 30
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 10.25, 20.25) == 30.0)
    // pure col interpolation at row 0: col=1.5 → (20+30)/2 = 25
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 10.75, 20.0) == 25.0)
    // pure row interpolation at col 0: row=1.5 → (40+70)/2 = 55
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, 10.0, 20.75) == 55.0)
  }
  test("matches reference op order bit-for-bit on irregular fracs") {
    val lng = 10.0 + 0.3717; val lat = 20.0 + 0.6133
    val n = 2
    val row = (lat - 20.0) * n; val col = (lng - 10.0) * n
    val rl = math.floor(row).toInt; val cl = math.floor(col).toInt
    val rf = row - rl; val cf = col - cl
    def s(r: Int, c: Int) = g(r * 3 + c).toDouble
    val v1 = s(rl, cl) + (s(rl, cl + 1) - s(rl, cl)) * cf
    val v2 = s(rl + 1, cl) + (s(rl + 1, cl + 1) - s(rl + 1, cl)) * cf
    val expect = v1 + (v2 - v1) * rf
    assert(Bilinear.sampleHgt(bytes, 3, 10, 20, lng, lat) == expect)
    assert(Bilinear.sampleGrid(g, 3, 10, 20, lng, lat) == expect)
  }
  test("within min/max of the 4 corners (property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val lng = 10.0 + rnd.nextDouble(); val lat = 20.0 + rnd.nextDouble()
      val v = Bilinear.sampleHgt(bytes, 3, 10, 20, lng, lat)
      assert(v >= 10.0 && v <= 90.0)
    }
  }
  test("out-of-bounds throws (P2)") {
    assertThrows[Bilinear.OutOfTileBounds](Bilinear.sampleHgt(bytes, 3, 10, 20, 9.99, 20.5))
    assertThrows[Bilinear.OutOfTileBounds](Bilinear.sampleHgt(bytes, 3, 10, 20, 10.5, 21.01))
  }
  test("nearest neighbour") {
    assert(Bilinear.nearestHgt(bytes, 3, 10, 20, 10.2, 20.2) == 10.0) // row=col=0.4 → (0,0)
    assert(Bilinear.nearestHgt(bytes, 3, 10, 20, 10.3, 20.3) == 50.0) // row=col=0.6 → (1,1)
    assert(Bilinear.nearestHgt(bytes, 3, 10, 20, 10.25, 20.25) == 50.0) // 0.5 rounds up (JS Math.round)
  }
}

class TerrariumSpec extends AnyFunSuite {
  test("known encodings") {
    assert(Terrarium.encode(0.0) == ((128, 0, 0)))
    assert(Terrarium.encode(1.0) == ((128, 1, 0)))
    assert(Terrarium.encode(-1.0) == ((127, 255, 0)))
    assert(Terrarium.encode(0.5) == ((128, 0, 128)))
  }
  test("encode∘decode ≈ id within 1/256 (property)") {
    val rnd = new scala.util.Random(7)
    // 32767 + (1 - 2^-40) rounds to 32768, one past the 16-bit range
    val int16 = int16WithFractions.filter(_ < 32768)
    for (e <- Array.fill(1000)(rnd.nextDouble() * 9000 - 500) ++ int16) {
      val (r, g, b) = Terrarium.encode(e)
      assert(math.abs(Terrarium.decode(r, g, b) - e) < 1.0 / 256 + 1e-9, s"elev $e")
    }
  }
  test("stream layout: 3 bytes per coord in order (F6)") {
    val bytes = Terrarium.encodeStream(Seq(0.0, 1.0))
    assert(bytes.length == 6)
    assert((bytes(0) & 0xff, bytes(1) & 0xff, bytes(2) & 0xff) == ((128, 0, 0)))
    assert((bytes(3) & 0xff, bytes(4) & 0xff, bytes(5) & 0xff) == ((128, 1, 0)))
  }

  /** JS ToUint8, exact at any magnitude: NaN and ±∞ give 0, anything else
    * truncates toward zero and wraps mod 256.
    */
  private def jsToUint8(x: Double): Int =
    if (x.isNaN || x.isInfinite) 0
    else new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.DOWN)
      .toBigInteger.mod(java.math.BigInteger.valueOf(256)).intValue

  /** The reference's three bytes (src/elevation/getTerrariumDemElevation.ts:10-20). */
  private def reference(elev: Double): Seq[Int] = {
    val e = elev + 32768
    Seq(jsToUint8(math.floor(e / 256)), jsToUint8(e % 256),
      jsToUint8(math.floor((e - math.floor(e)) * 256)))
  }

  private def assertEncodesLikeReference(elevs: Array[Double]): Unit = {
    val out = new Array[Byte](3 * elevs.length)
    elevs.indices.foreach(i => Terrarium.write(elevs(i), out, 3 * i))
    elevs.indices.foreach { i =>
      val want = reference(elevs(i))
      val got = Seq(out(3 * i) & 0xff, out(3 * i + 1) & 0xff, out(3 * i + 2) & 0xff)
      assert(got == want, s"elev ${elevs(i)} (bits ${java.lang.Double.doubleToRawLongBits(elevs(i))})")
      assert(Terrarium.encode(elevs(i)) == ((want(0), want(1), want(2))))
    }
    assert(Terrarium.encodeStream(elevs.toSeq).sameElements(out))
  }

  private val int16WithFractions: Array[Double] =
    for (v <- (-32768 to 32767).toArray; off <- Array(0.0, 1.0 / 256, 0.5, 1 - math.pow(2, -40)))
      yield v + off

  test("write equals the reference formula byte for byte: int16 range with fractions") {
    assertEncodesLikeReference(int16WithFractions)
  }

  test("write equals the reference formula byte for byte: doubles drawn by bit pattern") {
    val rnd = new scala.util.Random(11)
    assertEncodesLikeReference(Array.fill(200000)(java.lang.Double.longBitsToDouble(rnd.nextLong())))
  }

  test("write equals the reference formula byte for byte: specials and range edges") {
    val edges = Seq(Double.NaN, Double.PositiveInfinity, 0.0, math.pow(2, 53), math.pow(2, 62),
      math.pow(2, 63), Double.MaxValue)
    // each edge, its neighbours, and the elevations that put e itself on it
    val near = edges.flatMap(x => Seq(x, math.nextUp(x), math.nextDown(x), x - 32768))
    assertEncodesLikeReference(near.flatMap(x => Seq(x, -x)).toArray)
  }
}

class ImageCodecSpec extends AnyFunSuite {
  private val size = 101
  private val g = TileGen.grid(-119, 36, size, TileGen.planeAt)
  private val gentle = TileGen.grid(-119, 36, size, TileGen.gentleAt)

  test("png round-trip is lossless") {
    val (back, s2) = ImageCodec.decodeToGrid(ImageCodec.encodePng(g, size))
    assert(s2 == size)
    assert(back.sameElements(g))
  }
  test("jpg round-trip meets PSNR >= 40 dB on pixels (lossy invariant)") {
    val jpg = ImageCodec.encodeJpg(gentle, size)
    val (back, _) = ImageCodec.decodeToGrid(jpg)
    // PSNR over the RGB channel bytes (pixel fidelity per input_hint)
    def channels(xs: Array[Short]): Array[Double] = xs.flatMap { v =>
      val (r, gg, b) = Terrarium.encode(v.toDouble); Array(r.toDouble, gg.toDouble, b.toDouble)
    }
    val p = Fidelity.psnr(channels(gentle), channels(back), 255.0)
    assert(p >= 40.0, s"pixel PSNR $p < 40 dB")
    // decoded PIXELS allclose (the input_hint invariant is pixel-space: JPEG's
    // YCbCr round-trip makes meter-space tightness impossible for Terrarium)
    assert(Fidelity.allclose(channels(gentle), channels(back), rtol = 0.0, atol = 16.0))
  }
  test("phash is stable and distinguishes tiles") {
    val h1 = Fidelity.phash(g, size)
    assert(h1 == Fidelity.phash(TileGen.grid(-119, 36, size, TileGen.planeAt), size))
  }
}

class PolylineSpec extends AnyFunSuite {
  test("google reference vector decodes (precision 5)") {
    val pts = Polyline.decode("_p~iF~ps|U_ulLnnqC_mqNvxq`@")
    assert(pts.length == 3)
    assert(pts(0) == ((-120.2, 38.5)))
    assert(pts(1) == ((-120.95, 40.7)))
    assert(pts(2) == ((-126.453, 43.252)))
  }
  test("encode∘decode round-trips on 1e-5 grid") {
    val coords = Seq((-118.29213, 36.57859), (-118.3, 36.6), (0.0, 0.0), (179.99999, -89.99999))
    val back = Polyline.decode(Polyline.encode(coords))
    coords.zip(back).foreach { case ((a1, a2), (b1, b2)) =>
      assert(math.abs(a1 - b1) < 1e-9 && math.abs(a2 - b2) < 1e-9)
    }
  }

  /** Seeded lines of 0-40 vertices on the 1e-5 grid over the whole globe. */
  private val lines: Seq[Seq[(Double, Double)]] = {
    val rnd = new scala.util.Random(5)
    Seq.fill(500)(Seq.fill(rnd.nextInt(41))(
      ((rnd.nextInt(36000001) - 18000000) / 1e5, (rnd.nextInt(18000001) - 9000000) / 1e5)))
  }

  /** The vertices the fused `/polyline` loop hands to its sampler. */
  private def fusedVertices(pl: String): (Seq[(Double, Double)], Int) = {
    val seen = Seq.newBuilder[(Double, Double)]
    val bytes = graft.ops.Elevation.terrariumBytes(pl) { (lng, lat) => seen += ((lng, lat)); 0.0 }
    (seen.result(), bytes.length)
  }

  test("decode(encode(cs)) is cs on the 1e-5 grid, and the fused loop reads the same vertices (property)") {
    lines.foreach { cs =>
      val pl = Polyline.encode(cs)
      assert(Polyline.decode(pl).toSeq == cs, pl)
      assert(fusedVertices(pl) == ((cs, 3 * cs.length)), pl)
    }
    assert(Polyline.decode("").isEmpty && fusedVertices("") == ((Nil, 0))) // no vertices, no row
  }

  test("truncated and odd-varint strings: the fused loop throws what decode throws (property)") {
    def outcome(f: => Any): Either[Class[_], Any] =
      try Right(f) catch { case e: Exception => Left(e.getClass) }
    var malformed = 0
    lines.filter(_.nonEmpty).take(100).foreach { cs =>
      val pl = Polyline.encode(cs)
      val cuts = (1 until pl.length).map(pl.take) ++ Seq(pl + "?", pl + "_")
      cuts.foreach { s =>
        val decoded = outcome(Polyline.decode(s).toSeq)
        val fused = outcome(fusedVertices(s))
        decoded match {
          case Left(cls) => malformed += 1; assert(fused == Left(cls), s)
          case Right(vs: Seq[_]) => assert(fused == Right((vs, 3 * vs.length)), s)
          case other => fail(s"$other")
        }
      }
    }
    assert(malformed > 1000)
  }
}

class WebMercatorSpec extends AnyFunSuite {
  test("known slippy tiles") {
    assert(WebMercator.tile(0.0, 0.0, 1) == ((1, 1)))
    assert(WebMercator.tile(-180.0, 85.0, 0) == ((0, 0)))
    // OSM wiki example: z=17 lat=51.51202 lng=0.02435 → (65544, 43582)
    assert(WebMercator.tile(0.02435, 51.51202, 17) == ((65544, 43582)))
  }
  test("pack/unpack round-trip") {
    for (z <- Seq(0, 9, 14, 22); x <- Seq(0, 123456); y <- Seq(0, 99999)) {
      val n = 1 << z
      val (xx, yy) = (math.min(x, n - 1), math.min(y, n - 1))
      assert(WebMercator.unpack(WebMercator.pack(z, xx, yy)) == ((z, xx, yy)))
    }
  }
  test("cover includes corner tiles") {
    val tiles = WebMercator.cover(-119.5, 36.5, -118.2, 37.8, 9)
    assert(tiles.contains(WebMercator.tile(-119.5, 36.5, 9)))
    assert(tiles.contains(WebMercator.tile(-118.2, 37.8, 9)))
  }
}

class GeoJsonSpec extends AnyFunSuite {
  private def jmt: String = {
    val in = getClass.getResourceAsStream("/JMT.json")
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  test("JMT fixture: 54 features, 5998 positions (reference addElevation.test.js)") {
    val doc = GeoJson.parse(jmt)
    assert(GeoJson.isGeoJson(doc))
    val rows = GeoJson.featureRows(doc)
    assert(rows.length == 54)
    val coords = rows.flatMap(GeoJson.coordRows)
    assert(coords.length == 5998)
    // bbox spans tiles N36/37 W119/120; the fixture's coords actually touch 3
    val keys = coords.map(c => TileKey.of(c.lng, c.lat)).toSet
    assert(keys == Set("N36W119", "N37W119", "N37W120"))
  }
  test("withElevations writes position index 2, preserves properties") {
    val f = core.FeatureRow("x",
      """{"type":"Feature","id":"x","geometry":{"type":"LineString","coordinates":[[1.0,2.0],[3.0,4.0,99.0]]},"properties":{"title":"t","updated":1439166161000}}""")
    val elevs = Map((1.0, 2.0) -> 10.5, (3.0, 4.0) -> 20.5)
    val out = GeoJson.withElevations(f)((lng, lat) => elevs((lng, lat)))
    val node = GeoJson.parse(out.feature_json)
    val cs = node.get("geometry").get("coordinates")
    assert(cs.get(0).get(2).asDouble() == 10.5)
    assert(cs.get(1).get(2).asDouble() == 20.5) // overwrites existing 3rd component
    assert(node.get("properties").get("updated").asLong() == 1439166161000L)
  }
  test("withElevations writes every finite double so it parses back bit-identical (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
    val point = core.FeatureRow("p",
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]},"properties":{}}""")
    val plain = new com.fasterxml.jackson.databind.ObjectMapper()
    val edges = Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL,
      math.nextDown(java.lang.Double.MIN_NORMAL), Double.MaxValue, -Double.MaxValue,
      1e23, 8.41e21, 2.0e-3, 1.0e7, 9999999.999999998, 4.9e-324, 1.0, -1.0)
    val sign = Gen.oneOf(1.0, -1.0)
    val subnormal = for (m <- Gen.choose(1L, (1L << 52) - 1); s <- sign) yield s * longBitsToDouble(m)
    val anyBits = Gen.choose(Long.MinValue, Long.MaxValue).map(longBitsToDouble)
      .suchThat(d => !d.isNaN && !d.isInfinite)
    val elevLike = Gen.choose(-100.0, 3900.0)
    val doubles = Gen.frequency(2 -> edges, 2 -> subnormal, 4 -> anyBits, 2 -> elevLike)
    val prop = Prop.forAll(doubles) { d =>
      val out = GeoJson.withElevations(point)((_, _) => d)
      val viaProgram = GeoJson.elevations(out).head
      val viaJdk = plain.readTree(out.feature_json).get("geometry").get("coordinates").get(2)
        .asDouble()
      Prop(doubleToRawLongBits(viaProgram) == doubleToRawLongBits(d) &&
        doubleToRawLongBits(viaJdk) == doubleToRawLongBits(d)) :| s"$d -> ${out.feature_json}"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(20000), prop)
    assert(res.passed, res.status)
  }
  test("split then withElevations on JMT writes the same JSON as a default ObjectMapper") {
    import com.fasterxml.jackson.databind.JsonNode
    import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode}
    val index = new graft.ops.TileIndex(
      TileGen.tiles(Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37)), 1201, "hgt").toArray)
    // what readDocuments and addElevation run per document and per feature
    val got = GeoJson.featureRows(GeoJson.parse(jmt))
      .map(fr => GeoJson.withElevations(fr)(index.elevation).feature_json)
    // the same steps over Jackson's defaults (JDK double parse and print)
    val plain = new com.fasterxml.jackson.databind.ObjectMapper()
    def walk(n: JsonNode): Unit =
      if (n != null && n.isArray) {
        if (n.size() > 0 && n.get(0).isNumber) {
          val pos = n.asInstanceOf[ArrayNode]
          val e = DoubleNode.valueOf(index.elevation(pos.get(0).asDouble(), pos.get(1).asDouble()))
          if (pos.size() >= 3) pos.set(2, e) else pos.add(e)
        } else (0 until n.size()).foreach(i => walk(n.get(i)))
      }
    val fs = plain.readTree(jmt).get("features")
    val want = (0 until fs.size()).map { i =>
      val f = plain.readTree(plain.writeValueAsString(fs.get(i)))
      walk(f.get("geometry").get("coordinates"))
      plain.writeValueAsString(f)
    }
    assert(got.size == 54)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) => assert(g == w, s"feature $i") }
  }
  test("geometry collection + bare geometry traversal") {
    val g = """{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,2]},{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]]]}]}"""
    val rows = GeoJson.featureRows(GeoJson.parse(g))
    assert(rows.length == 1)
    assert(GeoJson.coordRows(rows.head).length == 5)
  }
  test("rejects non-GeoJSON (P1)") {
    assert(!GeoJson.isGeoJson(GeoJson.parse("""{"type":"Nope"}""")))
    assert(!GeoJson.isGeoJson(GeoJson.parse("42")))
  }
}

class TileGenSpec extends AnyFunSuite {
  test("caption round-trips and matches generator") {
    val t = TileGen.tileRow(-119, 36, 121, "hgt")
    val c = TileCodec.parseCaption(t.caption)
    assert(c.tile_key == "N36W119" && c.sw_lng == -119 && c.sw_lat == 36 && c.size == 121)
    val d = TileCodec.decode(t)
    assert(d.size == 121 && d.swLng == -119 && d.swLat == 36)
    assert(d.sample(0, 0) == TileGen.sampleAt(-119, 36, 0, 0))
    assert(d.sample(100, 37) == TileGen.sampleAt(-119, 36, 100, 37))
  }
  test("png/hgt fmt decode to identical grids; jpg is allclose (PSNR>=40)") {
    val hgt = TileCodec.decode(TileGen.tileRow(-119, 36, 121, "hgt", TileGen.planeAt))
    val png = TileCodec.decode(TileGen.tileRow(-119, 36, 121, "png", TileGen.planeAt))
    assert(hgt.samples.sameElements(png.samples))
    val gentleHgt = TileCodec.decode(TileGen.tileRow(-119, 36, 121, "hgt", TileGen.gentleAt))
    val jpg = TileCodec.decode(TileGen.tileRow(-119, 36, 121, "jpg", TileGen.gentleAt))  // pixel-space fidelity only
    def px(xs: Array[Short]): Array[Double] = xs.flatMap { v =>
      val (r, g, b) = graft.raster.Terrarium.encode(v.toDouble)
      Array(r.toDouble, g.toDouble, b.toDouble)
    }
    assert(Fidelity.psnr(px(gentleHgt.samples), px(jpg.samples), 255.0) >= 40.0)
  }
}
