package graft

import graft.core.TileRow
import graft.ops.TileIndex
import graft.sources.GeoJsonSource
import graft.synth.TileGen
import graft.table.TileStore
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.lang.Double.doubleToLongBits
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A [[TileIndex]] built from a tile store's file listing against one built
  * from the same rows in memory: the same samples bit for bit, only the
  * probed tiles loaded, once per index, and a loud failure instead of a
  * stale or malformed tile.
  */
class TileIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_tileindex_test"

  private def dataset(rows: Seq[TileRow]): Dataset[TileRow] =
    spark.createDataset(rows)(Encoders.product[TileRow])

  private def store(name: String, rows: Seq[TileRow]): String = {
    val dir = s"$base/$name"
    graft.table.Checkpoint.clear(dir)
    TileStore.write(dataset(rows), dir)
    dir
  }

  private val methods: Seq[(String, (TileIndex, Double, Double) => Double)] = Seq(
    "elevation" -> (_.elevation(_, _)),
    "elevationNearest" -> (_.elevationNearest(_, _)),
    "slope2" -> (_.slope2(_, _)),
    "hillshade" -> (_.hillshade(_, _)),
    "flowdirD8" -> (_.flowdirD8(_, _)),
    "tri" -> (_.tri(_, _)),
    "laplacian" -> (_.laplacian(_, _)),
    "aspectOctant" -> (_.aspectOctant(_, _)))

  /** The first method whose samples at (lng, lat) differ in their bits. */
  private def mismatch(a: TileIndex, b: TileIndex, lng: Double, lat: Double): Option[String] =
    methods.collectFirst {
      case (name, f) if doubleToLongBits(f(a, lng, lat)) != doubleToLongBits(f(b, lng, lat)) =>
        s"$name($lng, $lat): ${f(a, lng, lat)} vs ${f(b, lng, lat)}"
    }

  test("a store-backed index samples bit-identically to the in-memory one (property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    val big = Seq((-119, 36), (-120, 36))
    val edges = Seq((-180, -90), (179, 89), (-180, 89), (179, -90), (0, 0), (-1, 0), (0, -1), (-1, -1))
    val rows = TileGen.tiles(big, 1201) ++ TileGen.tiles(edges, 61) :+
      TileGen.tileRow(-119, 37, 61, "png")
    val dir = store("equiv", rows)
    val (bc, build) = Listened(spark.sparkContext)(TileIndex.broadcastIndex(TileStore.readTiles(spark, dir)))
    assert(build.jobs == 0, s"a store-backed index ran ${build.jobs} Spark jobs")
    val fromStore = bc.value
    val inMemory = new TileIndex(rows.toArray)
    assert(fromStore.size == rows.size && fromStore.loads == 0)

    val present = (big ++ edges :+ ((-119, 37))).map { case (lng, lat) => (lng.toDouble, lat.toDouble) }
    val last = 1199.0 / 1200 // the last row and column of a 1201² tile
    val special = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      180.0, -180.0, 90.0, -90.0, 179.0, 89.0, math.nextDown(180.0), math.nextUp(-180.0),
      math.nextDown(90.0), math.nextUp(-90.0), math.nextDown(-180.0), math.nextUp(180.0))
    val edgeProbes = for {
      (lng, lat) <- Seq((-119.0, 36.0), (-120.0, 36.0))
      dx <- Seq(0.0, last, (last + 1) / 2, math.nextDown(1.0), 1.0)
      dy <- Seq(0.0, last, (last + 1) / 2, math.nextDown(1.0), 1.0)
    } yield (lng + dx, lat + dy)
    val specialProbes = for (lng <- special; lat <- special) yield (lng, lat)
    val integers = for (lng <- -181 to 181 by 1; lat <- Seq(-91, -90, -1, 0, 36, 37, 89, 90, 91))
      yield (lng.toDouble, lat.toDouble)
    for ((lng, lat) <- edgeProbes ++ specialProbes ++ integers)
      assert(mismatch(fromStore, inMemory, lng, lat).isEmpty, mismatch(fromStore, inMemory, lng, lat))

    val inTile = for {
      (lng, lat) <- Gen.oneOf(present)
      dx <- Gen.frequency(8 -> Gen.choose(0.0, 1.0), 1 -> Gen.choose(last, 1.0), 1 -> Gen.const(0.0))
      dy <- Gen.frequency(8 -> Gen.choose(0.0, 1.0), 1 -> Gen.choose(last, 1.0), 1 -> Gen.const(0.0))
    } yield (lng + dx, lat + dy)
    val anywhere = for (lng <- Gen.choose(-181.0, 181.0); lat <- Gen.choose(-91.0, 91.0)) yield (lng, lat)
    val mixed = for (lng <- Gen.oneOf(special); lat <- Gen.choose(-91.0, 91.0)) yield (lng, lat)
    val probe = Gen.frequency(6 -> inTile, 3 -> anywhere, 1 -> mixed, 1 -> mixed.map(_.swap))
    val prop = Prop.forAll(probe) { case (lng, lat) =>
      val m = mismatch(fromStore, inMemory, lng, lat)
      Prop(m.isEmpty) :| m.getOrElse("")
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(20000), prop)
    assert(res.passed, res.status)
    // every tile was probed, and each was loaded once
    assert(fromStore.loads == rows.size && inMemory.loads == rows.size)
  }

  private def writeJmt(dir: String): String = {
    new java.io.File(dir).mkdirs()
    val in = getClass.getResourceAsStream("/JMT.json")
    val jmt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    Files.writeString(Paths.get(s"$dir/jmt.geojson"), jmt)
    s"$dir/jmt.geojson"
  }

  /** The `features/` text of a job's output, its part files in order. */
  private def featuresText(outDir: String): String =
    Files.list(Paths.get(s"$outDir/features")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString).map(Files.readString).mkString

  test("ElevationJob over a 48-tile store loads only the 3 tiles JMT probes, once per index") {
    val corners = for { lng <- -122 to -115; lat <- 34 to 39 } yield (lng, lat)
    val rows = TileGen.tiles(corners, 121)
    val dir = store("job48", rows)
    val docs = writeJmt(s"$base/job48docs")
    val probed = graft.core.GeoJson.featureRows(graft.core.GeoJson.parse(Files.readString(Paths.get(docs))))
      .flatMap(graft.core.GeoJson.coordRows).map(c => graft.geo.TileKey.of(c.lng, c.lat)).distinct
    assert(probed.sorted == Seq("N36W119", "N37W119", "N37W120"))
    def pass(tiles: Dataset[TileRow], name: String) = {
      val out = s"$base/job48out/$name"
      graft.table.Checkpoint.clear(out)
      val (index, features) = ElevationJob.run(GeoJsonSource.readDocuments(spark, docs), tiles, out,
        runId = s"tileindex-$name")
      assert(features == 54L, name)
      (index.value, featuresText(out))
    }
    val (fromStore, text) = pass(TileStore.readTiles(spark, dir), "store")
    val (inMemory, want) = pass(dataset(rows), "memory")
    assert(text.nonEmpty && text == want)
    assert(fromStore.size == 48 && fromStore.loads == 3, s"${fromStore.loads} tiles loaded")
    assert(inMemory.loads == 3, s"${inMemory.loads} in-memory tiles decoded")
    // a second index of the same store keeps no tile of the first
    val (again, againText) = pass(TileStore.readTiles(spark, dir), "again")
    assert(again.loads == 3 && againText == want)
    assert(fromStore.loads == 3)
  }

  /** The data file of one tile_key partition of a store. */
  private def partFile(dir: String, tileKey: String): java.nio.file.Path =
    Files.walk(Paths.get(dir)).iterator().asScala.find { p =>
      p.getParent.getFileName.toString == s"tile_key=$tileKey" && p.getFileName.toString.startsWith("part-")
    }.get

  test("a store changed after the index was built fails the first probe, naming the tile") {
    val rows = TileGen.tiles(Seq((-119, 36), (-120, 36)), 61)
    val dir = store("rewritten", rows)
    // a file touched in place: same path and length, another mtime
    val touched = TileIndex.broadcastIndex(TileStore.readTiles(spark, dir))
    val part = partFile(dir, "N36W119")
    Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis - 60000))
    val t = intercept[IllegalStateException](touched.value.elevation(-118.5, 36.5))
    assert(t.getMessage.contains("N36W119") && t.getMessage.contains("changed"), t.getMessage)
    // a store written over
    val bc = TileIndex.broadcastIndex(TileStore.readTiles(spark, dir))
    TileStore.write(dataset(rows), dir)
    val e = intercept[IllegalStateException](bc.value.elevation(-118.5, 36.5))
    assert(e.getMessage.contains("N36W119"), e.getMessage)
    // the same failure inside a job
    import spark.implicits._
    val job = intercept[org.apache.spark.SparkException] {
      // columns, not literals: a probe of literals is folded on the driver
      spark.range(1).select(graft.ops.ElevAt.elev_at($"id" - 119.5, $"id" + 36.5, bc)).collect()
    }
    assert(job.getMessage.contains("N36W120"), job.getMessage)
  }

  test("a tile of the wrong byte length fails with the collect path's P3 message") {
    val bad = TileRow("N36W119", new Array[Byte](100), 61, 61, "hgt", "{}", 0L)
    val dir = store("badsize", Seq(bad))
    val fromStore = TileIndex.broadcastIndex(TileStore.readTiles(spark, dir)).value
    val collected = TileIndex.broadcastIndex(dataset(Seq(bad))).value
    val e1 = intercept[IllegalArgumentException](fromStore.elevation(-118.5, 36.5))
    val e2 = intercept[IllegalArgumentException](collected.elevation(-118.5, 36.5))
    assert(e1.getMessage == e2.getMessage && e1.getMessage.contains("P3 size predicate"), e1.getMessage)
  }

  test("a tile split over two files, a filtered scan and in-memory rows take the collect path") {
    val rows = TileGen.tiles(Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37)), 61)
    val dir = store("twofiles", rows)
    assert(TileStore.tileFiles(TileStore.readTiles(spark, dir)).map(_._1.size).contains(4))
    assert(TileStore.tileFiles(TileStore.readTiles(spark, dir).filter(_.w > 0)).isEmpty)
    assert(TileStore.tileFiles(dataset(rows)).isEmpty)
    val part = partFile(dir, "N36W119")
    Files.copy(part, part.resolveSibling("part-99999-copy.snappy.parquet"))
    val tiles = TileStore.readTiles(spark, dir)
    assert(TileStore.tileFiles(tiles).isEmpty)
    val (bc, build) = Listened(spark.sparkContext)(TileIndex.broadcastIndex(tiles))
    assert(build.jobs >= 1, "the split tile was not collected")
    assert(bc.value.size == 5)
    val inMemory = new TileIndex(rows.toArray)
    for (i <- 0 to 16; j <- 0 to 16; lng = -120.0 + i / 8.0; lat = 36.0 + j / 8.0)
      assert(mismatch(bc.value, inMemory, lng, lat).isEmpty, mismatch(bc.value, inMemory, lng, lat))
  }
}
