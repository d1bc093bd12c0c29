package graft

import graft.synth.TileGen
import graft.table.TileStore
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** HGT-archive ingestion (the reference's S3 layout → the engine's
  * partitioned table) and the end-to-end elevation batch job.
  */
class IngestJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_test"

  test("ingestHgt: raw .hgt files become a partitioned caption table; join works") {
    graft.table.Checkpoint.clear(base)
    val hgtDir = new java.io.File(s"$base/hgt"); hgtDir.mkdirs()
    val corners = Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37))
    for ((lng, lat) <- corners) {
      val key = graft.geo.TileKey.ofDegrees(lng, lat)
      val bytes = graft.raster.Hgt.encode(TileGen.grid(lng, lat, 121), 121)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/hgt/$key.hgt"), bytes)
    }
    val n = TileStore.ingestHgt(spark, s"$base/hgt", s"$base/store")
    assert(n == 4)
    val tiles = TileStore.readTiles(spark, s"$base/store")
    val rows = tiles.collect()
    assert(rows.map(_.image_id).toSet ==
      Set("N36W119", "N36W120", "N37W119", "N37W120"))
    // caption + phash integrity of ingested rows (input_hint invariants):
    // recomputed phash equals the stored column, caption georeferencing
    // equals the tile key's corner and the payload size
    val integ = graft.ops.ImageOps.integrity(tiles).collect()
    assert(integ.forall { r =>
      val (lng, lat) = graft.geo.TileKey.toDegrees(r.getAs[String]("image_id"))
      r.getAs[Long]("phash") == r.getAs[Long]("phash_stored") &&
        r.getAs[String]("cap_tile_key") == r.getAs[String]("image_id") &&
        r.getAs[Int]("cap_sw_lng") == lng &&
        r.getAs[Int]("cap_sw_lat") == lat &&
        r.getAs[Int]("cap_size") == 121
    })
    // elevation join over the ingested store matches the synthetic grid
    val pt = Seq((1L, -118.5, 36.5))
    import spark.implicits._
    val out = graft.ops.Elevation.lookupBroadcast(
      pt.toDF("point_id", "lng", "lat"), tiles).collect()(0)
    val expected = graft.raster.Bilinear.sampleGrid(
      TileGen.grid(-119, 36, 121), 121, -119.0, 36.0, -118.5, 36.5)
    assert(out.getAs[Double]("elev") == expected)
  }

  test("resample: 3:1 decimation keeps shared grid nodes, round-trips HGT") {
    import graft.core.TileCodec
    val tiles = spark.createDataset(TileGen.tiles(Seq((-119, 36)), 121, "hgt"))(
      org.apache.spark.sql.Encoders.product[graft.core.TileRow])
    val rs = graft.ops.ImageOps.resample(tiles, 3).collect()
    assert(rs.length == 1)
    val t = rs(0)
    assert(t.w == 41 && t.h == 41 && t.fmt == "hgt")
    val d = TileCodec.decode(t)
    for (r <- 0 until 41; c <- 0 until 41)
      assert(d.sample(r, c) == TileGen.sampleAt(-119, 36, 3 * r, 3 * c),
        s"node ($r,$c)")
    val cap = TileCodec.parseCaption(t.caption)
    assert(cap.size == 41 && cap.tile_key == "N36W119")
    assert(t.phash == graft.raster.Fidelity.phash(d.samples, 41))
  }

  test("augment permutes the grid exactly; moments follow the identities") {
    import graft.core.TileCodec
    val n = 121; val m = n - 1
    val tiles = spark.createDataset(TileGen.tiles(Seq((-119, 36)), n, "hgt"))(
      org.apache.spark.sql.Encoders.product[graft.core.TileRow])
    val ref: (Int, Int) => Int = (r, c) => TileGen.sampleAt(-119, 36, r, c)
    val expect: Map[String, (Int, Int) => Int] = Map(
      "flip_h" -> ((r, c) => ref(r, m - c)),
      "flip_v" -> ((r, c) => ref(m - r, c)),
      "rot90" -> ((r, c) => ref(m - c, r)))
    for ((mode, f) <- expect) {
      val t = graft.ops.ImageOps.augment(tiles, mode).collect()(0)
      assert(t.fmt == "hgt" && t.w == n && t.image_id == "N36W119")
      val d = TileCodec.decode(t)
      for (r <- 0 until n; c <- 0 until n)
        assert(d.sample(r, c) == f(r, c), s"$mode ($r,$c)")
      assert(t.phash == graft.raster.Fidelity.phash(d.samples, n))
      // moment identities vs the unaugmented sums
      var s0 = 0L; var rm0 = 0L; var cm0 = 0L
      for (r <- 0 until n; c <- 0 until n) {
        val v = ref(r, c).toLong; s0 += v; rm0 += v * r; cm0 += v * c
      }
      val mom = graft.ops.ImageOps.positionMoments(
        graft.ops.ImageOps.augment(tiles, mode)).collect()(0)
      val (er, ec) = mode match {
        case "flip_h" => (rm0, m * s0 - cm0)
        case "flip_v" => (m * s0 - rm0, cm0)
        case "rot90"  => (cm0, m * s0 - rm0)
      }
      assert(mom.px_sum == s0 && mom.r_moment == er && mom.c_moment == ec, mode)
    }
    intercept[IllegalArgumentException] {
      graft.ops.ImageOps.augment(tiles, "rot45")
    }
  }

  test("contourCensus: hand-computed saddle grid; thresholds outside range") {
    import org.apache.spark.sql.Encoders
    // 3x3 checker at t=5: all four 2x2 cells are saddles (cases 10/5/5/10)
    val g = Array[Short](1, 9, 1, 9, 1, 9, 1, 9, 1)
    val row = graft.core.TileRow("N36W119", graft.raster.Hgt.encode(g, 3),
      3, 3, "hgt", "{}", 0L)
    val ds = spark.createDataset(Seq(row))(Encoders.product[graft.core.TileRow])
    val got = graft.ops.ImageOps.contourCensus(ds, 5)
      .collect().map(r => (r.getAs[Long]("n_above"), r.getAs[Long]("n_cut"),
        r.getAs[Long]("n_saddles"), r.getAs[Long]("n_segments"))).head
    assert(got == ((4L, 4L, 4L, 8L)))
    val below = graft.ops.ImageOps.contourCensus(ds, 100).collect().head
    assert(below.getAs[Long]("n_cut") == 0 &&
      below.getAs[Long]("n_segments") == 0 && below.getAs[Long]("n_above") == 0)
    val above = graft.ops.ImageOps.contourCensus(ds, -10).collect().head
    assert(above.getAs[Long]("n_cut") == 0 && below.getAs[Long]("n_saddles") == 0 &&
      above.getAs[Long]("n_above") == 9)
  }

  test("ingestHgt rejects non-square payloads (P3 size predicate)") {
    graft.table.Checkpoint.clear(s"$base/bad")
    val d = new java.io.File(s"$base/bad/hgt"); d.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/bad/hgt/N00E000.hgt"), new Array[Byte](1001))
    val e = intercept[org.apache.spark.SparkException] {
      TileStore.ingestHgt(spark, s"$base/bad/hgt", s"$base/bad/store")
    }
    assert(e.getMessage.contains("UNSUPPORTED_SIZE") ||
      Option(e.getCause).exists(_.getMessage.contains("UNSUPPORTED_SIZE")))
  }

  test("strict mode rejects square-but-noncanonical sizes (reference P3 parity)") {
    graft.table.Checkpoint.clear(s"$base/strict")
    val d = new java.io.File(s"$base/strict/hgt"); d.mkdirs()
    // a 121x121 square grid: legal in lenient mode, UNSUPPORTED_SIZE in
    // strict mode (the reference accepts only 3601^2 / 1201^2,
    // src/elevation/getResolutionAndSize.ts:17-26)
    val bytes = graft.raster.Hgt.encode(TileGen.grid(-119, 36, 121), 121)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/strict/hgt/N36W119.hgt"), bytes)
    val e = intercept[org.apache.spark.SparkException] {
      TileStore.ingestHgt(spark, s"$base/strict/hgt", s"$base/strict/store",
        strict = true)
    }
    assert(e.getMessage.contains("UNSUPPORTED_SIZE") ||
      Option(e.getCause).exists(_.getMessage.contains("UNSUPPORTED_SIZE")))
    // same file ingests fine in lenient mode
    assert(TileStore.ingestHgt(spark, s"$base/strict/hgt", s"$base/strict/store2") == 1)
  }

  private def writeJmt(dir: String): String = {
    new java.io.File(dir).mkdirs()
    val in = getClass.getResourceAsStream("/JMT.json")
    val jmt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/jmt.geojson"), jmt)
    s"$dir/jmt.geojson"
  }

  test("ElevationJob over a tile store runs at most 3 Spark jobs; summary counts") {
    // the job stops the suite's session: this runs after every test that
    // uses `spark`, and before the last test, which starts its own
    graft.table.Checkpoint.clear(s"$base/jobcount")
    val docs = writeJmt(s"$base/jobcount")
    val corners = Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37))
    TileStore.write(spark.createDataset(TileGen.tiles(corners, 121, "hgt"))(
      org.apache.spark.sql.Encoders.product[graft.core.TileRow]), s"$base/jobcount/store")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    })
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout) {
      ElevationJob.main(Array(docs, s"$base/jobcount/store", s"$base/jobcount/out"))
    }
    // stopping the session drained the listener bus: every job is counted.
    // One pass: the bucketed write (shuffle map + write, which also counts
    // the manifest stats) and the GeoJSON-lines write of the committed
    // table; the tile index comes from the store's listing, not a collect
    info(s"${jobs.get()} Spark jobs in one ElevationJob pass")
    assert(jobs.get() <= 3, s"${jobs.get()} Spark jobs in one ElevationJob pass")
    val summary = stdout.toString(java.nio.charset.StandardCharsets.UTF_8).linesIterator
      .find(_.contains("\"job\":\"elevation\"")).getOrElse(fail(s"no summary line in: $stdout"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(summary)
    assert(json.get("tiles").asLong() == 4L, summary)
    assert(json.get("features").asLong() == 54L, summary)
  }

  test("ElevationJob end to end: JMT file in, GeoJSON-lines out, elevations > 0") {
    graft.table.Checkpoint.clear(s"$base/job")
    writeJmt(s"$base/job")
    // the job owns (and stops) the active session — runs last in this suite;
    // assertions get a fresh session
    ElevationJob.main(Array(s"$base/job/jmt.geojson", "SYNTH", s"$base/job/out"))
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val back = graft.sources.GeoJsonSource.readLines(s2, s"$base/job/out/features")
    assert(back.count() == 54)
    // every coordinate gained a positive elevation (reference addElevation
    // post-condition for land tiles, tests/elevation/addElevation.test.js)
    val elevs = back.collect().flatMap(graft.core.GeoJson.elevations)
    assert(elevs.length == 5998 && elevs.forall(_ > 0.0))
  }
}
