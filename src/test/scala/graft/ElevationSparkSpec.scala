package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode}
import graft.core._
import graft.geo.{Polyline, TileKey}
import graft.ops.{Elevation, TileIndex}
import graft.raster.{Bilinear, Terrarium}
import graft.synth.TileGen
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end `/geojson` query on the reference's own golden fixture against
  * a pure-Scala scalar oracle (reference semantics re-implemented coordinate
  * by coordinate), plus physical-path equivalence (broadcast vs cogroup vs
  * salted cogroup vs png-format tiles, and both endpoints against the
  * coordinate-row plans they replaced).
  */
class ElevationSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def jmt: String = {
    val in = getClass.getResourceAsStream("/JMT.json")
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  private val corners = Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37))
  private def tiles(fmt: String) = TileGen.tiles(corners, 601, fmt)

  /** Scalar oracle: the reference pipeline, one coordinate at a time. */
  private def oracleElev(rows: Seq[CoordRow], ts: Seq[TileRow]): Map[(String, Long), Double] = {
    val decoded = ts.map(t => t.image_id -> TileCodec.decode(t)).toMap
    rows.map { c =>
      val key = TileKey.of(c.lng, c.lat)
      val e = decoded.get(key) match {
        case Some(d) => Bilinear.sampleGrid(d.samples, d.size, d.swLng.toDouble, d.swLat.toDouble, c.lng, c.lat)
        case None    => 0.0 // NO_DATA ⇒ sea level (F8)
      }
      (c.feature_id, c.coord_idx) -> e
    }.toMap
  }

  test("JMT end-to-end: broadcast join equals scalar oracle exactly (5,998 coords)") {
    import spark.implicits._
    val features = spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt)))
    val coords = GeoJson.featureRows(GeoJson.parse(jmt)).flatMap(GeoJson.coordRows)
    assert(coords.length == 5998)
    val expect = oracleElev(coords, tiles("hgt"))
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val got = Elevation.lookupBroadcast(Elevation.coordRows(features).toDF(), tds)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .collect()
    assert(got.length == 5998) // join row count == per-coordinate lookup count
    got.foreach { case (fid, idx, e) => assert(e == expect((fid, idx)), s"($fid,$idx)") }
    assert(got.map(_._3).count(_ > 0) == 5998) // all on-land coords gain elev > 0
  }

  test("ocean LineString near [0,0] ⇒ all elevations exactly 0 (missing tiles)") {
    import spark.implicits._
    val ocean = FeatureRow("ocean",
      """{"type":"Feature","id":"ocean","geometry":{"type":"LineString","coordinates":[[0,0],[0.25,0.25],[0.5,0.5],[0.75,0.75],[1,1]]},"properties":{}}""")
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val got = Elevation.lookupBroadcast(
      Elevation.coordRows(spark.createDataset(Seq(ocean))).toDF(), tds)
      .select($"elev").as[Double].collect()
    assert(got.length == 5 && got.forall(_ == 0.0))
  }

  test("cogroup path (salt 1 and 4) and png tiles agree with broadcast exactly") {
    import spark.implicits._
    val features = spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt)))
    val coords = Elevation.coordRows(features)
    val hgt = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val png = spark.createDataset(tiles("png"))(Encoders.product[TileRow])
    val base = Elevation.lookupBroadcast(coords.toDF(), hgt)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    for ((name, ds) <- Seq(
        "cogroup" -> Elevation.lookupCogroup(coords, hgt),
        "cogroup-salt4" -> Elevation.lookupCogroup(coords, hgt, salt = 4),
        "cogroup-png" -> Elevation.lookupCogroup(coords, png))) {
      val got = ds.collect()
      assert(got.length == base.size, name)
      got.foreach(r => assert(r.elev == base((r.feature_id, r.coord_idx)), s"$name (${r.feature_id},${r.coord_idx})"))
    }
  }

  test("a corner off the 1° grid probes no tile: lng 180 and -180.5 sample 0 on both paths") {
    import spark.implicits._
    // the int key (swLat + 90) * 360 + (swLng + 180) would send (180, 36)
    // to W180/N37 and (-181, 35) to E179/N34: both tiles exist, non-zero
    val ts = TileGen.tiles(Seq((-180, 37), (179, 34)), 61, "hgt")
    assert(TileGen.sampleAt(-180, 37, 30, 0) != 0 && TileGen.sampleAt(179, 34, 30, 60) != 0)
    val index = new TileIndex(ts.toArray)
    assert(index.elevation(-179.5, 37.5) != 0.0 && index.elevation(179.5, 34.5) != 0.0)
    val probes = Seq((180.0, 36.5, "N36E180"), (-180.5, 35.5, "N35W181"))
    for ((lng, lat, _) <- probes) assert(index.elevation(lng, lat) == 0.0, s"($lng, $lat)")
    val coords = probes.zipWithIndex.map { case ((lng, lat, _), i) =>
      CoordRow(s"f$i", 0L, lng, lat) }
    val tds = spark.createDataset(ts)(Encoders.product[TileRow])
    val cds = spark.createDataset(coords)(Encoders.product[CoordRow])
    val want = probes.zipWithIndex.map { case ((_, _, key), i) => (s"f$i", key, 0.0) }.toSet
    for (salt <- Seq(1, 4)) {
      val got = Elevation.lookupCogroup(cds, tds, salt).collect()
        .map(r => (r.feature_id, r.tile_key, r.elev)).toSet
      assert(got == want, s"cogroup salt $salt")
    }
    val bc = Elevation.lookupBroadcast(cds.toDF(), tds)
      .select($"feature_id", $"tile_key", $"elev").as[(String, String, Double)]
      .collect().toSet
    assert(bc == want, "broadcast")
  }

  test("addElevation writes elev into position index 2 of the GeoJSON (A4 reassembly)") {
    import spark.implicits._
    val features = spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt)))
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val out = Elevation.addElevation(features, tds).collect()
    assert(out.length == 54)
    val coords = out.flatMap { fr =>
      val n = GeoJson.parse(fr.feature_json)
      assert(n.get("properties") != null) // properties survive round-trip
      GeoJson.coordRows(fr)
    }
    assert(coords.length == 5998)
    // every position now has a third component > 0
    out.foreach { fr =>
      val node = GeoJson.parse(fr.feature_json)
      val geom = node.get("geometry")
      def walk(n: com.fasterxml.jackson.databind.JsonNode): Unit =
        if (n.isArray) {
          if (n.size() > 0 && n.get(0).isNumber) assert(n.size() >= 3 && n.get(2).asDouble() > 0.0)
          else (0 until n.size()).foreach(i => walk(n.get(i)))
        }
      walk(geom.get("coordinates"))
    }
  }

  test("polyline → terrarium byte stream (entry point 2)") {
    import spark.implicits._
    val pl = graft.geo.Polyline.encode(Seq((-118.8, 36.2), (-118.7, 36.3)))
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val out = Elevation.polylineToTerrarium(spark.createDataset(Seq(("p1", pl))), tds).collect()
    assert(out.length == 1)
    val (_, bytes) = out.head
    assert(bytes.length == 6) // 3 bytes per coordinate
    // oracle: scalar pipeline + reference Terrarium encode
    val coords = graft.geo.Polyline.decode(pl).zipWithIndex
      .map { case ((lng, lat), i) => CoordRow("p1", i.toLong, lng, lat) }
    val expectE = oracleElev(coords.toSeq, tiles("hgt"))
    val expected = graft.raster.Terrarium.encodeStream(
      coords.map(c => expectE((c.feature_id, c.coord_idx))))
    assert(bytes.sameElements(expected))
  }

  /** Oracle for `polylineToTerrarium` as a coordinate-row plan: explode to
    * vertex rows, probe them with `lookupBroadcast`, group them back per id
    * and sort by vertex index.
    */
  private def coordRowTerrarium(polylines: Dataset[(String, String)],
                                tds: Dataset[TileRow]): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    val coords = polylines.flatMap { case (id, pl) =>
      Polyline.decode(pl).iterator.zipWithIndex.map {
        case ((lng, lat), i) => CoordRow(id, i.toLong, lng, lat)
      }
    }
    Elevation.lookupBroadcast(coords.toDF(), tds)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .groupByKey(_._1).mapGroups { (id, rows) =>
        (id, Terrarium.encodeStream(rows.toArray.sortBy(_._2).map(_._3)))
      }
  }

  /** Oracle for `addElevation` as a coordinate-row plan: explode to
    * coordinate rows, probe them with `lookupBroadcast`, group the
    * elevations per feature id and join them back onto the features; a
    * feature without coordinates falls out of the join's null branch
    * unchanged.
    */
  private def coordRowAddElevation(features: Dataset[FeatureRow],
                                   tds: Dataset[TileRow]): Dataset[FeatureRow] = {
    import spark.implicits._
    val perFeature = Elevation.lookupBroadcast(Elevation.coordRows(features).toDF(), tds)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroups((fid, rows) => (fid, rows.map(r => r._2 -> r._3).toMap))
    features.joinWith(perFeature, features("feature_id") === perFeature("_1"), "left_outer")
      .map { case (f, kv) => if (kv == null) f else ElevationSparkSpec.writeElevations(f, kv._2) }
  }

  /** 200 seeded polylines: lines that wander over and off the four tiles,
    * all-sea lines, lines with vertices on exact integer degrees (tile
    * corners and edges), 1-vertex lines and short walks inside one tile.
    */
  private def seededPolylines: Seq[(String, String)] = {
    val r = new scala.util.Random(20240601L)
    def in(lo: Double, hi: Double): Double = lo + r.nextDouble() * (hi - lo)
    (0 until 200).map { i =>
      val n = 2 + r.nextInt(30)
      val vs: Seq[(Double, Double)] = i % 5 match {
        case 0 => Seq.fill(n)((in(-121.0, -117.5), in(35.5, 38.5)))
        case 1 => Seq.fill(n)((in(-150.0, -140.0), in(0.0, 10.0)))
        case 2 => Seq.fill(n)(
          if (r.nextBoolean()) ((-121 + r.nextInt(4)).toDouble, (35 + r.nextInt(4)).toDouble)
          else ((-120 + r.nextInt(2)).toDouble, in(36.0, 38.0)))
        case 3 => Seq((in(-120.0, -118.0), in(36.0, 38.0)))
        case _ =>
          var p = (in(-119.9, -119.1), in(36.1, 36.9))
          Seq.fill(n) { p = (p._1 + in(-0.01, 0.01), p._2 + in(-0.01, 0.01)); p }
      }
      (s"line-$i", Polyline.encode(vs))
    }
  }

  test("polylineToTerrarium equals the coordinate-row plan byte for byte (200 seeded polylines)") {
    import spark.implicits._
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val input = spark.createDataset(seededPolylines :+ ("empty" -> ""))
    val got = Elevation.polylineToTerrarium(input, tds).collect()
    val want = coordRowTerrarium(input, tds).collect()
    assert(got.length == 200 && want.length == 200) // the empty polyline emits no row
    assert(got.map(_._1).distinct.length == 200)
    assert(got.map { case (id, b) => id -> b.toSeq }.toMap ==
      want.map { case (id, b) => id -> b.toSeq }.toMap)
    // the cases the seeded set exists for all occur
    val decoded = seededPolylines.map { case (id, pl) => id -> Polyline.decode(pl) }
    assert(decoded.exists(_._2.length == 1))
    assert(decoded.exists(_._2.exists { case (lng, lat) => lng.isWhole && lat.isWhole }))
    assert(got.exists { case (_, b) => b.grouped(3).forall(_.toSeq == Terrarium.encodeStream(Seq(0.0)).toSeq) })
    assert(decoded.exists(_._2.map { case (lng, lat) => TileKey.of(lng, lat) }.distinct.length > 1))
  }

  private val extraFeatures = Seq(
    // null geometry and empty coordinates: returned byte for byte (1.50 would
    // be rewritten to 1.5 by a parse-and-write round trip)
    FeatureRow("x-null", """{"type":"Feature","geometry":null,"properties":{"w":1.50}}"""),
    FeatureRow("x-empty", """{"type":"Feature","geometry":{"type":"LineString","coordinates":[]},"properties":{"w":1.50}}"""),
    FeatureRow("x-gc", """{"type":"Feature","geometry":{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[-119.25,36.75]},{"type":"LineString","coordinates":[[-120.5,37.5],[-118.5,36.5]]}]},"properties":{}}"""),
    FeatureRow("x-third", """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[-119.5,36.5,1234.5],[-119.4,36.6,-7]]},"properties":{"w":1.50}}"""),
    FeatureRow("x-sea", """{"type":"Feature","geometry":{"type":"MultiPoint","coordinates":[[-150.0,5.0],[-149.5,5.5]]},"properties":{}}"""),
    FeatureRow("x-whole", """{"type":"Feature","geometry":{"type":"MultiLineString","coordinates":[[[-119,37],[-120,36]],[[-118,38],[-121,35]]]},"properties":{}}"""),
    FeatureRow("x-poly", """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[-120.5,36.5],[-118.5,36.5],[-118.5,37.5],[-120.5,36.5]]]},"properties":{}}"""),
    FeatureRow("x-bare", """{"type":"Point","coordinates":[-119.75,37.25]}"""))

  test("addElevation equals the coordinate-row plan string for string (JMT + edge features)") {
    import spark.implicits._
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val input = GeoJson.featureRows(GeoJson.parse(jmt)) ++ extraFeatures
    val ds = spark.createDataset(input)
    val got = Elevation.addElevation(ds, tds).collect()
    val want = coordRowAddElevation(ds, tds).collect()
    assert(got.length == input.length && want.length == input.length)
    assert(got.map(f => f.feature_id -> f.feature_json).toMap ==
      want.map(f => f.feature_id -> f.feature_json).toMap)
    val byId = got.map(f => f.feature_id -> f.feature_json).toMap
    assert(byId("x-null") == extraFeatures(0).feature_json)
    assert(byId("x-empty") == extraFeatures(1).feature_json)
    val third = ElevationSparkSpec.positions(GeoJson.parse(byId("x-third")).get("geometry"))
    assert(third.map(_.size()) == Seq(3, 3) && third.head.get(2).asDouble() != 1234.5)
  }

  test("rows that share an id are each sampled on their own coordinates") {
    import spark.implicits._
    val ts = tiles("hgt")
    val tds = spark.createDataset(ts)(Encoders.product[TileRow])
    val index = new TileIndex(ts.toArray)
    val features = Seq(
      FeatureRow("dup", """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[-119.5,36.5],[-119.25,36.25],[-119.1,36.9]]},"properties":{"n":1}}"""),
      FeatureRow("dup", """{"type":"Feature","geometry":{"type":"Point","coordinates":[-119.8,37.6]},"properties":{"n":2}}"""))
    val got = Elevation.addElevation(spark.createDataset(features), tds).collect()
    assert(got.length == 2)
    got.foreach { f =>
      val cs = GeoJson.coordRows(f)
      assert(GeoJson.elevations(f) == cs.map(c => index.elevation(c.lng, c.lat)))
    }
    assert(got.map(f => GeoJson.coordRows(f).length).sorted.toSeq == Seq(1, 3))

    val lines = Seq(Seq((-119.5, 36.5), (-119.25, 36.25), (-119.1, 36.9)), Seq((-119.8, 37.6), (-118.2, 36.1)))
    val input = lines.map(vs => "dup" -> Polyline.encode(vs))
    val out = Elevation.polylineToTerrarium(spark.createDataset(input), tds).collect()
    val want = input.map { case (_, pl) =>
      Terrarium.encodeStream(Polyline.decode(pl).map { case (lng, lat) => index.elevation(lng, lat) }).toSeq
    }
    assert(out.map(_._2.toSeq).sortBy(_.length).toSeq == want.sortBy(_.length))
  }

  test("both endpoints run as narrow passes: no shuffle exchange in the executed plans") {
    import spark.implicits._
    val tds = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val aqe = new AdaptiveSparkPlanHelper {}
    // the final adaptive plan is in place only after the action has run
    def shuffles(ds: Dataset[_]): Seq[ShuffleExchangeExec] = {
      ds.collect()
      aqe.collect(ds.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }
    }
    val polylines = Elevation.polylineToTerrarium(spark.createDataset(seededPolylines), tds)
    assert(shuffles(polylines).isEmpty, polylines.queryExecution.executedPlan.toString)
    val features = Elevation.addElevation(
      spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt))), tds)
    assert(shuffles(features).isEmpty, features.queryExecution.executedPlan.toString)
  }

  test("SparkEntry.entry smoke: rows > 0 and Whitney-area elevations positive") {
    val df = SparkEntry.entry(spark)
    assert(df.count() == 5998)
  }

  test("tile pyramid: PNG sub-tiles round-trip to bilinear pixel-center samples") {
    import graft.ops.TilePyramid
    val src = spark.createDataset(tiles("hgt"))(Encoders.product[TileRow])
    val subs = TilePyramid.materialize(src, 2, 64).collect()
    assert(subs.length == corners.length * 4)
    assert(subs.forall(_.size == 64))
    val byKey = subs.map(s => (s.image_id, s.sx, s.sy) -> s).toMap
    val grid = TileGen.grid(-119, 36, 601)
    for ((sx, sy) <- Seq((0, 0), (1, 0), (0, 1), (1, 1))) {
      val st = byKey(("N36W119", sx, sy))
      val (elevs, sz) = graft.raster.ImageCodec.decodeToElevations(st.png)
      assert(sz == 64)
      // every decoded pixel is the Terrarium quantization (floor to 1/256)
      // of the bilinear sample at its pixel center
      for ((r, c) <- Seq((0, 0), (13, 41), (63, 63))) {
        val lat = 36.0 + (sy * 64 + r + 0.5) / 128.0
        val lng = -119.0 + (sx * 64 + c + 0.5) / 128.0
        val want = Bilinear.sampleGrid(grid, 601, -119.0, 36.0, lng, lat)
        val got = elevs(r * 64 + c)
        assert(got <= want && want - got < 1.0 / 256.0,
          s"($sx,$sy) px($r,$c): got $got want $want")
      }
    }
  }
}

/** Helpers the coordinate-row oracle ships to executors (outside the suite,
  * which is not serializable).
  */
object ElevationSparkSpec {
  /** Every position array of a GeoJSON geometry in coordEach order. */
  def positions(geom: JsonNode): Seq[ArrayNode] =
    if (geom == null || geom.isNull) Nil
    else if (geom.get("type").asText() == "GeometryCollection") {
      val gs = geom.get("geometries")
      (0 until gs.size()).flatMap(i => positions(gs.get(i)))
    } else {
      def walk(n: JsonNode): Seq[ArrayNode] =
        if (!n.isArray) Nil
        else if (n.size() > 0 && n.get(0).isNumber) Seq(n.asInstanceOf[ArrayNode])
        else (0 until n.size()).flatMap(i => walk(n.get(i)))
      walk(geom.get("coordinates"))
    }

  /** Write `elevs(i)` into index 2 of the i-th position (0.0 where absent). */
  def writeElevations(f: FeatureRow, elevs: Map[Long, Double]): FeatureRow = {
    val node = GeoJson.parse(f.feature_json)
    val geom = if (node.get("type").asText() == "Feature") node.get("geometry") else node
    positions(geom).zipWithIndex.foreach { case (pos, i) =>
      val e = DoubleNode.valueOf(elevs.getOrElse(i.toLong, 0.0))
      if (pos.size() >= 3) pos.set(2, e) else pos.add(e)
    }
    FeatureRow(f.feature_id, GeoJson.write(node))
  }
}
