package perfbench

import graft.core.TileCodec
import graft.synth.TileGen

/** The per-layer metrics a traced run prints. Every workload prints all of
  * them; a layer the workload does not reach reads 0.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "coords" -> "count", "features" -> "count", "probes_missing_tile" -> "count",
    "tasks" -> "count", "gc_share" -> "share", "peak_rss_mb" -> "MiB",
    "failed_share" -> "share", "bytes_written_per_coord" -> "B",
    "trace.coords_per_s_untraced" -> "1/s", "trace.coords_per_s_traced" -> "1/s",
    "trace.overhead_share" -> "share", "job.uncovered_share" -> "share",
    "sources.readDocuments.self_s" -> "s", "ops.Elevation.coordRows.self_s" -> "s",
    "ops.Elevation.lookupBroadcast.self_s" -> "s",
    "ops.Elevation.addElevation.reassembly_self_s" -> "s",
    "table.Checkpoint.writeResumable.self_s" -> "s", "sources.writeLines.self_s" -> "s",
    "table.TileStore.readTiles.self_s" -> "s",
    "table.Checkpoint.files_written" -> "count", "table.Checkpoint.manifest_rows" -> "count",
    "ops.TileIndex.broadcastIndex_s" -> "s", "ops.TileIndex.elev_at.self_ns_per_coord" -> "ns",
    "functions.tile_key.self_ns_per_coord" -> "ns",
    "ops.Elevation.lookupCogroup.self_ns_per_coord" -> "ns",
    "shuffle.write_bytes_per_coord" -> "B", "shuffle.records" -> "count",
    "spill_bytes" -> "B", "task_time.max_over_median" -> "ratio",
    "core.TileCodec.decode_ms_per_tile" -> "ms", "cogroup.tile_bytes_share" -> "share",
    "cogroup.tile_replication_mb" -> "MiB",
    "geo.Polyline.decode.self_s" -> "s", "raster.Terrarium.encodeStream.self_s" -> "s")

  /** Put the metrics in [[All]]'s order, filling unreached layers with 0. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val extra = ms.map(_.name).filterNot(All.map(_._1).toSet)
    require(extra.isEmpty, s"metrics missing from Layers.All: $extra")
    All.map { case (n, u) => ms.find(_.name == n).getOrElse(Metric(n, 0.0, u)) }
  }

  /** Median wall time of decoding one HGT tile, called directly. */
  def decodeMs(): Double = {
    val tile = TileGen.tileRow(-119, 36, Inputs.TileSize)
    Main.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      TileCodec.decode(tile)
      (System.nanoTime() - t0) / 1e6
    })
  }

  val CogroupSalt = 2

  /** Metrics of a `lookupCogroup` span: self time per coordinate over the
    * `baseS` of its input, its shuffle and skew, and how much of its shuffle
    * is replicated tile rows (the map stage that writes exactly tiles x salt
    * records).
    */
  def cogroup(span: Span, baseS: Double, coords: Long, nTiles: Int): Seq[Metric] = {
    val c = span.counters.get
    val tileRows = nTiles.toLong * CogroupSalt
    val tileBytes = c.stageShuffle.values.collect { case (b, n) if n == tileRows => b }.sum
    shuffle(c, coords, c.readMaxOverMedian) ++ Seq(
      Metric("ops.Elevation.lookupCogroup.self_ns_per_coord", (span.seconds - baseS) / coords * 1e9, "ns"),
      Metric("cogroup.tile_bytes_share", tileBytes.toDouble / c.shuffleWriteBytes, "share"),
      Metric("cogroup.tile_replication_mb", tileRows * Inputs.TileSize * Inputs.TileSize * 2 / 1048576.0, "MiB"))
  }

  /** Shuffle volume and spill of the job group `c`, with a task skew ratio. */
  def shuffle(c: GroupCounters, coords: Long, skew: Double): Seq[Metric] = Seq(
    Metric("shuffle.write_bytes_per_coord", c.shuffleWriteBytes.toDouble / coords, "B"),
    Metric("shuffle.records", c.shuffleRecords.toDouble, "count"),
    Metric("spill_bytes", c.spillBytes.toDouble, "B"),
    Metric("task_time.max_over_median", skew, "ratio"))

  /** Metrics every workload reports from its traced full pass `c`. */
  def common(coords: Long, features: Long, missing: Long, c: GroupCounters, t: Tracer,
             untracedS: Double, tracedS: Double, failed: Boolean): Seq[Metric] = Seq(
    Metric("coords", coords.toDouble, "count"),
    Metric("features", features.toDouble, "count"),
    Metric("probes_missing_tile", missing.toDouble, "count"),
    Metric("tasks", c.tasks.toDouble, "count"),
    Metric("gc_share", c.gcShare, "share"),
    Metric("peak_rss_mb", t.all.map(_.rssMb).max, "MiB"),
    Metric("failed_share", if (failed) 1.0 else 0.0, "share"),
    Metric("trace.coords_per_s_untraced", coords / untracedS, "1/s"),
    Metric("trace.coords_per_s_traced", coords / tracedS, "1/s"),
    Metric("trace.overhead_share", tracedS / untracedS - 1, "share"),
    Metric("core.TileCodec.decode_ms_per_tile", decodeMs(), "ms"))
}
