package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{FeatureRow, TileRow}
import graft.ops.{Elevation, TileIndex}
import graft.sources.GeoJsonSource
import graft.synth.TileGen
import graft.table.{Checkpoint, TileStore}
import graft.functions.spatial.tile_key
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `job_trails`: the reference's `/geojson` endpoint as the shipped batch
  * job. Each pass is one in-process `graft.ElevationJob.main` call into a
  * fresh output directory (it starts and stops its own Spark session).
  */
final class JobTrails(a: Args) extends Workload {
  val TargetCoords = 400000L
  /** The JIT keeps speeding passes up for a while after the first. */
  val WarmUpPasses = 3

  private var docs: Path = _
  private var store: Path = _
  private var features: Map[String, Inputs.Feature] = Map.empty
  private var coords = 0L
  private val present = Inputs.HeadlineTiles.toSet

  private var setupSession: SparkSession = _

  /** A session to write the tile store with; stopped before the warm-up,
    * because every pass starts its own.
    */
  def start(): Unit = setupSession = Main.session(a.cpus)

  def prepare(rep: Int): Unit = {
    Main.deleteTree(a.work.resolve(s"setup-${rep - 1}"))
    val dir = a.work.resolve(s"setup-$rep")
    docs = dir.resolve("docs")
    store = dir.resolve("store")
    TileStore.write(setupSession.createDataset(TileGen.tiles(Inputs.HeadlineTiles, Inputs.TileSize))(
      Encoders.product[TileRow]), store.toString)
    val fs = Inputs.writeDocuments(docs, a.seed, TargetCoords)
    features = fs.map(f => f.fid -> f).toMap
    coords = fs.map(_.lng.length.toLong).sum
  }

  def warmUp(): Unit = {
    setupSession.stop()
    for (i <- 0 until WarmUpPasses) {
      val out = a.work.resolve(s"warmup-$i")
      graft.ElevationJob.main(Array(docs.toString, store.toString, out.toString))
      Main.deleteTree(out)
    }
  }

  private def outDir(i: Int): Path = a.work.resolve(s"out-$i")

  def pass(i: Int): (Long, Double, () => Option[String]) = {
    Main.deleteTree(outDir(i - 1))
    val out = outDir(i)
    Main.deleteTree(out)
    val t0 = System.nanoTime()
    graft.ElevationJob.main(Array(docs.toString, store.toString, out.toString))
    val secs = (System.nanoTime() - t0) / 1e9
    (coords, secs, () => check(out))
  }

  private val mapper = new ObjectMapper()

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).toList
      finally s.close()
    }

  /** Sorted GeoJSON-lines the job wrote. */
  private def outputLines(out: Path): Seq[String] =
    files(out.resolve("features")).filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala).sorted

  /** Every feature comes back once, with its coordinates in place and an
    * elevation that matches the oracle (exactly 0.0 at sea); the manifests
    * account for every feature.
    */
  def check(out: Path): Option[String] = {
    val seen = scala.collection.mutable.HashSet[String]()
    val lines = outputLines(out)
    val bad = lines.iterator.map { line =>
      val f = mapper.readTree(line)
      val fid = f.get("properties").get("bench_fid").asText()
      val g = f.get("geometry")
      val pos = if (g.get("type").asText() == "Point") Seq(g.get("coordinates"))
        else { val c = g.get("coordinates"); (0 until c.size()).map(c.get) }
      features.get(fid) match {
        case None => Some(s"unknown feature $fid")
        case Some(_) if !seen.add(fid) => Some(s"duplicate feature $fid")
        case Some(e) if e.lng.length != pos.size =>
          Some(s"$fid has ${pos.size} coordinates, expected ${e.lng.length}")
        case Some(e) =>
          pos.indices.iterator.map { k =>
            val p = pos(k)
            val lng = p.get(0).asDouble(); val lat = p.get(1).asDouble()
            val elev = if (p.size() == 3) p.get(2).asDouble() else Double.NaN
            val want = Inputs.oracleElev(lng, lat, present)
            if (lng != e.lng(k) || lat != e.lat(k)) Some(s"$fid[$k] moved")
            else if (e.ocean && elev != 0.0) Some(s"$fid[$k] at sea has elevation $elev")
            else if (!(math.abs(elev - want) <= Inputs.Tolerance)) Some(s"$fid[$k] elev $elev != $want")
            else None
          }.collectFirst { case Some(m) => m }
      }
    }.collectFirst { case Some(m) => m }
    val manifestRows = files(out.resolve("table").resolve("manifest"))
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala)
      .filter(_.trim.nonEmpty).map(l => mapper.readTree(l).get("row_count").asLong())
    bad.orElse {
      if (lines.size != features.size) Some(s"${lines.size} features out, ${features.size} in")
      else if (manifestRows.sum != features.size)
        Some(s"manifests count ${manifestRows.sum} rows, ${features.size} features in")
      else None
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def traced(t: Tracer): (Seq[Metric], Option[String]) = {
    val (_, uSecs, uCheck) = pass(0)
    val uErr = uCheck()
    val out0 = outDir(0)
    val written = files(out0).map(Files.size).sum
    val tableFiles = files(out0.resolve("table")).size
    val untracedLines = outputLines(out0)

    // the job's own plan, rebuilt from the public functions it calls:
    // `commit` and `render` mirror the body of graft.ElevationJob.main, and
    // the check after the spans fails if their output drifts from the job's
    val spark = Main.session(a.cpus)
    implicit val fenc = Encoders.product[FeatureRow]
    val docsS = docs.toString
    val storeS = store.toString
    def read = GeoJsonSource.readDocuments(spark, docsS)
    def tiles = TileStore.readTiles(spark, storeS)
    def coordRows = Elevation.coordRows(read).toDF()
    def commit(dir: Path): Seq[graft.table.BucketManifest] = {
      Main.deleteTree(dir)
      Checkpoint.writeResumable(Elevation.addElevation(read, tiles).toDF(), Seq("feature_id"),
        nBuckets = 8, s"$dir/table", runId = s"traced-${a.seed}")
    }
    def render(dir: Path): Unit = GeoJsonSource.writeLines(
      Checkpoint.read(spark, s"$dir/table").as[FeatureRow], s"$dir/features")
    val tDir = a.work.resolve("traced")
    // the same commit + render without the listener, for the overhead
    // ratio; the first run in the new session is a warm-up
    val untracedChainS = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      commit(tDir)
      render(tDir)
      (System.nanoTime() - t0) / 1e9
    }.last

    t.attach(spark.sparkContext)
    val (_, sRead) = t.spanMedian("readDocuments")(noop(read.toDF()))
    val (_, sCoord) = t.spanMedian("coordRows")(noop(coordRows))
    val (_, sKey) = t.spanMedian("tile_key")(noop(coordRows.withColumn("tile_key", tile_key(col("lng"), col("lat")))))
    val (_, sTiles) = t.spanMedian("readTiles")(noop(tiles.toDF()))
    val (_, sIndex) = t.spanMedian("broadcastIndex")(TileIndex.broadcastIndex(tiles).destroy())
    val (_, sLookup) = t.spanMedian("lookupBroadcast")(noop(Elevation.lookupBroadcast(coordRows, tiles)))
    // the shuffle path addElevation takes with broadcastTiles = false
    val (_, sCogroup) = t.spanMedian("lookupCogroup")(noop(
      Elevation.lookupCogroup(Elevation.coordRows(read), tiles, Layers.CogroupSalt).toDF()))
    val (_, sAdd) = t.spanMedian("addElevation")(noop(Elevation.addElevation(read, tiles).toDF()))
    val (manifests, sWrite) = t.spanMedian("writeResumable")(commit(tDir))
    val (_, sLines) = t.span("writeLines")(render(tDir))
    spark.stop()

    val same = outputLines(tDir) == untracedLines
    val copyFiles = files(tDir.resolve("table")).size
    val full = sWrite.counters.get.add(sLines.counters.get)
    val missing = features.values.filter(_.ocean).map(_.lng.length.toLong).sum
    val ms = Layers.common(coords, features.size.toLong, missing, full, t,
      untracedChainS, sWrite.seconds + sLines.seconds, failed = uErr.isDefined) ++
      Layers.cogroup(sCogroup, sCoord.seconds, coords, Inputs.HeadlineTiles.size) ++ Seq(
      Metric("sources.readDocuments.self_s", sRead.seconds, "s"),
      Metric("ops.Elevation.coordRows.self_s", sCoord.seconds - sRead.seconds, "s"),
      Metric("functions.tile_key.self_ns_per_coord", (sKey.seconds - sCoord.seconds) / coords * 1e9, "ns"),
      Metric("ops.Elevation.lookupBroadcast.self_s", sLookup.seconds - sCoord.seconds, "s"),
      Metric("ops.TileIndex.elev_at.self_ns_per_coord",
        (sLookup.seconds - sKey.seconds - sIndex.seconds) / coords * 1e9, "ns"),
      Metric("ops.Elevation.addElevation.reassembly_self_s", sAdd.seconds - sLookup.seconds, "s"),
      Metric("table.Checkpoint.writeResumable.self_s", sWrite.seconds - sAdd.seconds, "s"),
      Metric("sources.writeLines.self_s", sLines.seconds, "s"),
      Metric("table.TileStore.readTiles.self_s", sTiles.seconds, "s"),
      Metric("ops.TileIndex.broadcastIndex_s", sIndex.seconds, "s"),
      Metric("table.Checkpoint.files_written", tableFiles.toDouble, "count"),
      Metric("table.Checkpoint.manifest_rows", manifests.size.toDouble, "count"),
      Metric("bytes_written_per_coord", written.toDouble / coords, "B"),
      Metric("job.uncovered_share", 1 - (sWrite.seconds + sLines.seconds) / uSecs, "share"))
    val err = uErr.orElse(check(tDir)).orElse(
      if (!same) Some("traced output differs from the untraced pass")
      else if (copyFiles != tableFiles)
        Some(s"traced commit wrote $copyFiles table files, the job $tableFiles")
      else None)
    (ms, err)
  }

  def close(): Unit = SparkSession.getActiveSession.foreach(_.stop())
}
