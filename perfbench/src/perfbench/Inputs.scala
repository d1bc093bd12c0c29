package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.synth.TileGen

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators for every workload, and the independent
  * elevation oracle the outputs are checked against. The program under test
  * receives only what these produce.
  */
object Inputs {

  val TileSize = 1201

  /** The 8 tiles the `Headline` probe uses: lng -120..-117, lat 36..37. */
  val HeadlineTiles: Seq[(Int, Int)] =
    for { lng <- -120 to -117; lat <- 36 to 37 } yield (lng, lat)

  /** Open Pacific west of the tile block: no tile is ever written here. */
  val OceanTile: (Int, Int) = (-125, 36)

  /** The hot tile of the `job_trails` documents: `HotShare` of the features
    * on land sit inside it, the rest anywhere over the 8 headline tiles, so a
    * per-tile shuffle has one heavy group.
    */
  val HotTile: (Int, Int) = (-119, 36)
  val HotShare = 0.4

  // ---------------------------------------------------------------- oracle

  /** Closed-form bilinear elevation over `TileGen.sampleAt`, written from the
    * reference formula rather than through `graft.raster`. A coordinate whose
    * tile is not in `present` is at sea level.
    */
  def oracleElev(lng: Double, lat: Double, present: Set[(Int, Int)]): Double = {
    val swLng = math.floor(lng).toInt
    val swLat = math.floor(lat).toInt
    if (!present((swLng, swLat))) 0.0
    else {
      val n = TileSize - 1
      val y = (lat - swLat) * n
      val x = (lng - swLng) * n
      val r0 = math.floor(y).toInt
      val c0 = math.floor(x).toInt
      val r1 = math.min(r0 + 1, n)
      val c1 = math.min(c0 + 1, n)
      def z(r: Int, c: Int): Double = TileGen.sampleAt(swLng, swLat, r, c).toDouble
      val south = z(r0, c0) + (z(r0, c1) - z(r0, c0)) * (x - c0)
      val north = z(r1, c0) + (z(r1, c1) - z(r1, c0)) * (x - c0)
      south + (north - south) * (y - r0)
    }
  }

  val Tolerance = 1e-6

  // ------------------------------------------------------------- polylines

  /** One encoded polyline and its integer (1e-5 degree) vertices. */
  final case class Line(id: String, encoded: String, lngE5: Array[Int], latE5: Array[Int]) {
    def vertex(i: Int): (Double, Double) = (lngE5(i) / 1e5, latE5(i) / 1e5)
  }

  val OceanShare = 0.03

  /** Short polylines (10-40 vertices) over the headline tiles, 3% at sea.
    * Vertices are whole 1e-5 degrees, so the precision-5 codec is lossless.
    */
  def polylines(seed: Long, n: Int): Array[Line] = {
    val rng = new SplittableRandom(seed ^ 0x5deece66dL)
    Array.tabulate(n) { k =>
      val (swLng, swLat) =
        if (rng.nextDouble() < OceanShare) OceanTile
        else HeadlineTiles(rng.nextInt(HeadlineTiles.size))
      val len = 10 + rng.nextInt(31)
      val lo = 100
      val hi = 100000 - 100
      var x = lo + rng.nextInt(hi - lo)
      var y = lo + rng.nextInt(hi - lo)
      val xs = new Array[Int](len)
      val ys = new Array[Int](len)
      var i = 0
      while (i < len) {
        xs(i) = swLng * 100000 + x
        ys(i) = swLat * 100000 + y
        x = math.min(hi, math.max(lo, x + rng.nextInt(61) - 30))
        y = math.min(hi, math.max(lo, y + rng.nextInt(61) - 30))
        i += 1
      }
      val line = Line(f"$k%08d", "", xs, ys)
      line.copy(encoded = graft.geo.Polyline.encode(xs.indices.map(line.vertex)))
    }
  }

  // ------------------------------------------------------- GeoJSON documents

  /** One generated feature: its unique `bench_fid` and input positions. */
  final case class Feature(fid: String, lng: Array[Double], lat: Array[Double], ocean: Boolean)

  private val mapper = new ObjectMapper()

  /** JMT templates: its Points and its LineStrings of 8-300 coordinates. */
  private lazy val templates: IndexedSeq[JsonNode] = {
    val in = getClass.getResourceAsStream("/JMT.json")
    require(in != null, "JMT.json is not on the classpath")
    val fs = try mapper.readTree(in).get("features") finally in.close()
    (0 until fs.size()).map(fs.get).filter { f =>
      val g = f.get("geometry")
      g.get("type").asText() match {
        case "Point" => true
        case "LineString" => val n = g.get("coordinates").size(); n >= 8 && n <= 300
        case _ => false
      }
    }
  }

  /** Write JMT-shaped FeatureCollection documents (one per file) until at
    * least `minCoords` coordinates are out. Every template is moved by a
    * seeded offset that keeps it inside the headline tiles (40% of those in
    * the hot tile) or, for about 3% of features, inside the ocean tile, and
    * each vertex is jittered.
    */
  def writeDocuments(dir: Path, seed: Long, minCoords: Long): Array[Feature] = {
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed)
    val out = ArrayBuffer[Feature]()
    var coords = 0L
    var doc = 0
    while (coords < minCoords) {
      val root = mapper.createObjectNode()
      root.put("type", "FeatureCollection")
      val arr = root.putArray("features")
      templates.zipWithIndex.foreach { case (tpl, i) =>
        val f = tpl.deepCopy[ObjectNode]()
        val g = f.get("geometry").asInstanceOf[ObjectNode]
        val isPoint = g.get("type").asText() == "Point"
        val positions: Seq[ArrayNode] =
          if (isPoint) Seq(g.get("coordinates").asInstanceOf[ArrayNode])
          else { val c = g.get("coordinates"); (0 until c.size()).map(c.get(_).asInstanceOf[ArrayNode]) }
        val lng0 = positions.map(_.get(0).asDouble())
        val lat0 = positions.map(_.get(1).asDouble())
        val ocean = rng.nextDouble() < OceanShare
        def inside(t: (Int, Int)) = (t._1 + 0.01, t._1 + 0.99, t._2 + 0.01, t._2 + 0.99)
        val (bx0, bx1, by0, by1) =
          if (ocean) inside(OceanTile)
          else if (rng.nextDouble() < HotShare) inside(HotTile)
          else (-119.99, -116.01, 36.01, 37.99)
        def shift(lo: Double, hi: Double, b0: Double, b1: Double): Double =
          b0 - lo + rng.nextDouble() * math.max(0.0, (b1 - b0) - (hi - lo))
        val dx = shift(lng0.min, lng0.max, bx0, bx1)
        val dy = shift(lat0.min, lat0.max, by0, by1)
        val lng = lng0.map(v => v + dx + (rng.nextDouble() - 0.5) * 2e-5).toArray
        val lat = lat0.map(v => v + dy + (rng.nextDouble() - 0.5) * 2e-5).toArray
        positions.indices.foreach { k =>
          positions(k).removeAll()
          positions(k).add(lng(k)).add(lat(k))
        }
        val fid = s"d$doc-$i"
        val props = f.get("properties") match {
          case o: ObjectNode => o
          case _ => f.putObject("properties")
        }
        props.put("bench_fid", fid)
        arr.add(f)
        out += Feature(fid, lng, lat, ocean)
        coords += lng.length
      }
      Files.write(dir.resolve(f"doc-$doc%05d.json"),
        mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
      doc += 1
    }
    out.toArray
  }
}
