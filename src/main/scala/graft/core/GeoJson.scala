package graft.core

import com.fasterxml.jackson.core.{JsonFactoryBuilder, StreamReadFeature, StreamWriteFeature}
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.mutable.ArrayBuffer

/** One GeoJSON Feature as a Spark row: lossless JSON payload + stable id. */
final case class FeatureRow(feature_id: String, feature_json: String)

/** One coordinate position in deterministic document order (the reference's
  * `coordEach` order — src/elevation/addElevation.ts:11-17).
  */
final case class CoordRow(feature_id: String, coord_idx: Long, lng: Double, lat: Double)

/** GeoJSON reader/writer on Jackson's tree model (Jackson ships with Spark).
  *
  * `from_json` can't express GeoJSON (coordinates nest to a per-geometry-type
  * variable depth), so parsing is a recursive descent over `JsonNode`s: a
  * coordinates subtree whose first element is a number is a position; anything
  * else recurses. Validation matches the reference's shallow duck-typing
  * (src/types.ts:21-45).
  */
object GeoJson {
  val GeometryTypes: Set[String] = Set("Point", "MultiPoint", "LineString",
    "MultiLineString", "Polygon", "MultiPolygon", "GeometryCollection")

  /** Fast double codecs: the JDK's `Double.parseDouble` and `Double.toString`
    * are most of the per-coordinate cost of a feature pass. The fast parser
    * is exact (correctly rounded, like the JDK's). The fast writer prints the
    * shortest string that reads back as the same double. On the JMT fixture
    * its output is byte-identical to the JDK's (GeoJsonSpec); on a few
    * values, mostly huge exponents, JDK 17 prints extra digits. Either
    * string parses to the same double.
    */
  private val mapper = new ObjectMapper(new JsonFactoryBuilder()
    .enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER)
    .enable(StreamWriteFeature.USE_FAST_DOUBLE_WRITER)
    .build())

  def parse(s: String): JsonNode = mapper.readTree(s)
  def write(n: JsonNode): String = mapper.writeValueAsString(n)

  /** Shallow duck-typing: accepts FeatureCollection | Feature | Geometry. */
  def isGeoJson(n: JsonNode): Boolean =
    n != null && n.isObject && n.has("type") && {
      val t = n.get("type").asText()
      t == "FeatureCollection" || t == "Feature" || GeometryTypes.contains(t)
    }

  /** Split a document into Feature rows. A bare Geometry becomes a single
    * anonymous Feature. The row's `feature_id` is ALWAYS the document index:
    * GeoJSON `id` fields need not be unique (the reference's own JMT fixture
    * has 54 features with 33 distinct ids) and reassembly groups on
    * `feature_id`, so it must be a key. The original `id` stays untouched
    * inside `feature_json` (lossless round-trip).
    */
  def featureRows(doc: JsonNode): Seq[FeatureRow] = {
    require(isGeoJson(doc), "not GeoJSON")
    doc.get("type").asText() match {
      case "FeatureCollection" =>
        val fs = doc.get("features")
        (0 until fs.size()).map(i => FeatureRow(i.toString, write(fs.get(i))))
      case "Feature" =>
        Seq(FeatureRow("0", write(doc)))
      case _ => // bare geometry → wrap
        val f = mapper.createObjectNode()
        f.put("type", "Feature")
        f.set[ObjectNode]("geometry", doc.deepCopy[JsonNode]())
        f.set[ObjectNode]("properties", mapper.createObjectNode())
        Seq(FeatureRow("0", write(f)))
    }
  }

  /** Visit every position array of a geometry node in document order. */
  private def eachPosition(geom: JsonNode)(f: ArrayNode => Unit): Unit = {
    if (geom == null || geom.isNull) return
    geom.get("type").asText() match {
      case "GeometryCollection" =>
        val gs = geom.get("geometries")
        (0 until gs.size()).foreach(i => eachPosition(gs.get(i))(f))
      case _ =>
        def walk(n: JsonNode): Unit =
          if (n.isArray) {
            if (n.size() > 0 && n.get(0).isNumber) f(n.asInstanceOf[ArrayNode])
            else (0 until n.size()).foreach(i => walk(n.get(i)))
          }
        walk(geom.get("coordinates"))
    }
  }

  /** Flatten one feature's coordinates in coordEach order. */
  def coordRows(fr: FeatureRow): Seq[CoordRow] = {
    val f = parse(fr.feature_json)
    val geom = if (f.get("type").asText() == "Feature") f.get("geometry") else f
    val out = new ArrayBuffer[CoordRow]()
    var i = 0L
    eachPosition(geom) { pos =>
      out += CoordRow(fr.feature_id, i, pos.get(0).asDouble(), pos.get(1).asDouble())
      i += 1
    }
    out.toSeq
  }

  /** Sample every position of a feature in coordEach order with
    * `elev(lng, lat)` and write the result into position index 2,
    * overwriting any existing third component (the reference's mutation,
    * src/elevation/addElevation.ts:13-15). A feature without positions (null
    * geometry, empty coordinates) comes back unchanged, byte for byte.
    */
  def withElevations(fr: FeatureRow)(elev: (Double, Double) => Double): FeatureRow = {
    val f = parse(fr.feature_json)
    val geom = if (f.get("type").asText() == "Feature") f.get("geometry") else f
    var any = false
    eachPosition(geom) { pos =>
      val e = DoubleNode.valueOf(elev(pos.get(0).asDouble(), pos.get(1).asDouble()))
      if (pos.size() >= 3) pos.set(2, e) else pos.add(e)
      any = true
    }
    if (any) FeatureRow(fr.feature_id, write(f)) else fr
  }

  /** Read back the third (elevation) component of every position in
    * coordEach order — 0.0 where absent. Inverse of [[withElevations]].
    */
  def elevations(fr: FeatureRow): Seq[Double] = {
    val f = parse(fr.feature_json)
    val geom = if (f.get("type").asText() == "Feature") f.get("geometry") else f
    val out = new ArrayBuffer[Double]()
    eachPosition(geom) { pos =>
      out += (if (pos.size() >= 3) pos.get(2).asDouble() else 0.0)
    }
    out.toSeq
  }
}
