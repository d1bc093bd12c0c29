package perfbench

import graft.core.{CoordRow, TileRow}
import graft.ops.{Elevation, TileIndex}
import graft.synth.TileGen
import graft.table.TileStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Observation, Row, SparkSession}

/** `polyline_terrarium`: the reference's `/polyline` endpoint in batch — many
  * short encoded polylines through `Elevation.polylineToTerrarium` into a
  * noop sink. An observation on the sink carries the checks: line count,
  * Terrarium byte count and the byte streams of every 100th line.
  */
final class PolylineTerrarium(a: Args) extends Workload {
  val NLines = 60000

  private var spark: SparkSession = _
  private var store: String = _
  private var linesDir: String = _
  private var lines: Array[Inputs.Line] = _
  private var vertices = 0L
  private val present = Inputs.HeadlineTiles.toSet

  def start(): Unit = spark = Main.session(a.cpus)

  def prepare(rep: Int): Unit = {
    Main.deleteTree(a.work.resolve(s"setup-${rep - 1}"))
    val dir = a.work.resolve(s"setup-$rep")
    store = dir.resolve("store").toString
    linesDir = dir.resolve("lines").toString
    TileStore.write(spark.createDataset(TileGen.tiles(Inputs.HeadlineTiles, Inputs.TileSize))(
      Encoders.product[TileRow]), store)
    lines = Inputs.polylines(a.seed, NLines)
    vertices = lines.map(_.lngE5.length.toLong).sum
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(lines.map(l => (l.id, l.encoded)).toSeq, a.cpus)
      .toDF("id", "polyline").write.mode("overwrite").parquet(linesDir)
  }

  /** The JIT keeps speeding passes up for a while after the first. */
  def warmUp(): Unit = for (_ <- 0 until 3) run()

  private def input: Dataset[(String, String)] = {
    val s = spark
    import s.implicits._
    s.read.parquet(linesDir).as[(String, String)]
  }

  private def tiles = TileStore.readTiles(spark, store)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run the endpoint into the noop sink; returns (lines, bytes, samples). */
  private def run(): (Long, Long, Seq[Row]) = {
    val obs = Observation("terrarium")
    noop(Elevation.polylineToTerrarium(input, tiles).toDF("id", "terrarium")
      .observe(obs, count(lit(1)).as("n"), sum(length(col("terrarium"))).as("bytes"),
        collect_list(when(substring(col("id"), -2, 2) === "00",
          struct(col("id"), col("terrarium")))).as("sample")))
    val m = obs.get
    (m("n").asInstanceOf[Long], m("bytes").asInstanceOf[Long], m("sample").asInstanceOf[Seq[Row]])
  }

  def pass(i: Int): (Long, Double, () => Option[String]) = {
    val t0 = System.nanoTime()
    val r = run()
    val secs = (System.nanoTime() - t0) / 1e9
    (vertices, secs, () => check(r))
  }

  /** Every line comes out with 3 bytes per vertex; every sampled line's
    * bytes decode to the oracle elevation within Terrarium's 1/256 step.
    */
  def check(r: (Long, Long, Seq[Row])): Option[String] = {
    val (n, bytes, samples) = r
    val wantSamples = lines.indices.count(_ % 100 == 0)
    if (n != NLines) Some(s"$n lines out, $NLines in")
    else if (bytes != 3 * vertices) Some(s"$bytes Terrarium bytes for $vertices vertices")
    else if (samples.size != wantSamples) Some(s"${samples.size} sampled lines, expected $wantSamples")
    else samples.iterator.map { s =>
      val line = lines(s.getString(0).toInt)
      val b = s.getAs[Array[Byte]](1)
      if (b.length != 3 * line.lngE5.length) Some(s"line ${line.id}: ${b.length} bytes")
      else line.lngE5.indices.iterator.map { k =>
        val (lng, lat) = line.vertex(k)
        val want = Inputs.oracleElev(lng, lat, present)
        val got = (b(3 * k) & 0xff) * 256.0 + (b(3 * k + 1) & 0xff) + (b(3 * k + 2) & 0xff) / 256.0 - 32768.0
        if (got <= want + Inputs.Tolerance && want - got < 1.0 / 256 + Inputs.Tolerance) None
        else Some(s"line ${line.id}[$k]: Terrarium $got for elevation $want")
      }.collectFirst { case Some(m) => m }
    }.collectFirst { case Some(m) => m }
  }

  def traced(t: Tracer): (Seq[Metric], Option[String]) = {
    val t0 = System.nanoTime()
    val untraced = run()
    val uSecs = (System.nanoTime() - t0) / 1e9
    val uErr = check(untraced)
    t.attach(spark.sparkContext)
    val s = spark
    import s.implicits._
    implicit val cenc = Encoders.product[CoordRow]
    // copies of the plan graft.ops.Elevation.polylineToTerrarium builds,
    // cut at each layer; the check after the spans fails if the copy no
    // longer computes the program's output
    def decoded = input.flatMap { case (id, pl) =>
      graft.geo.Polyline.decode(pl).iterator.zipWithIndex.map {
        case ((lng, lat), i) => CoordRow(id, i.toLong, lng, lat)
      }
    }
    def probed = Elevation.lookupBroadcast(decoded.toDF(), tiles)
      .select($"feature_id", $"coord_idx", $"elev").as[(String, Long, Double)]
    val (_, sRead) = t.spanMedian("read")(noop(input.toDF()))
    val (_, sDecode) = t.spanMedian("Polyline.decode")(noop(decoded.toDF()))
    val (_, sIndex) = t.spanMedian("broadcastIndex")(TileIndex.broadcastIndex(tiles).destroy())
    // tile_key is pruned here: only feature_id, coord_idx and elev are kept
    val (_, sProbe) = t.spanMedian("lookupBroadcast")(noop(probed.toDF()))
    def sortPerLine[U: Encoder](f: (String, Array[Double]) => U): Dataset[U] =
      probed.groupByKey(_._1).mapGroups((id, rows) => f(id, rows.toArray.sortBy(_._2).map(_._3)))
    val (_, sSort) = t.spanMedian("sortPerLine")(noop(sortPerLine((id, e) => (id, e.length)).toDF()))
    val (r, sFull) = t.spanMedian("polylineToTerrarium")(run())
    val c = sFull.counters.get
    val missing = lines.filter(l => !present((math.floorDiv(l.lngE5(0), 100000), math.floorDiv(l.latE5(0), 100000))))
      .map(_.lngE5.length.toLong).sum
    val ms = Layers.common(vertices, NLines.toLong, missing, c, t, uSecs, sFull.seconds,
      failed = uErr.isDefined) ++ Seq(
      Metric("geo.Polyline.decode.self_s", sDecode.seconds - sRead.seconds, "s"),
      Metric("ops.Elevation.lookupBroadcast.self_s", sProbe.seconds - sDecode.seconds, "s"),
      Metric("ops.TileIndex.broadcastIndex_s", sIndex.seconds, "s"),
      Metric("ops.TileIndex.elev_at.self_ns_per_coord",
        (sProbe.seconds - sDecode.seconds - sIndex.seconds) / vertices * 1e9, "ns"),
      Metric("raster.Terrarium.encodeStream.self_s", sFull.seconds - sSort.seconds, "s")) ++
      Layers.shuffle(c, vertices, c.maxOverMedian)
    def sampleBytes(x: (Long, Long, Seq[Row])) = x._3.map(y => y.getString(0) -> y.getAs[Array[Byte]](1).toSeq).toMap
    val same = r._1 == untraced._1 && r._2 == untraced._2 && sampleBytes(r) == sampleBytes(untraced)
    // the copied prefix, finished with the program's encoder, untimed
    val copy = sortPerLine((id, e) => (id, e.length,
      if (id.endsWith("00")) graft.raster.Terrarium.encodeStream(e) else Array.emptyByteArray)).collect()
    val copySamples = copy.collect { case (id, _, b) if id.endsWith("00") => id -> b.toSeq }.toMap
    val err = uErr.orElse(check(r)).orElse(
      if (!same) Some("traced output differs from the untraced pass")
      else if (copy.length != r._1 || 3 * copy.map(_._2.toLong).sum != r._2 || copySamples != sampleBytes(r))
        Some("the traced copy of polylineToTerrarium no longer matches its output")
      else None)
    (ms, err)
  }

  def close(): Unit = if (spark != null) spark.stop()
}
