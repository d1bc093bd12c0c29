package graft

import graft.core.{FeatureRow, TileRow}
import graft.ops.{Elevation, TileIndex}
import graft.sources.GeoJsonSource
import graft.synth.TileGen
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** The reference's `/geojson` endpoint as a spark-submit batch job
  * (src/server.ts:74-95 → file-to-file): read GeoJSON documents, add
  * elevations from a tile store via the broadcast tile-pyramid index, write
  * GeoJSON-lines plus a run-summary JSON line.
  *
  * Usage:
  *   spark-submit --class graft.ElevationJob <jar> \
  *     <geojson-path> <tile-store-dir | SYNTH> <out-dir>
  *
  * `SYNTH` uses the deterministic synthetic 3″ pyramid over the JMT bbox
  * (no external data, same as the test fixtures). A real deployment first
  * runs [[graft.table.TileStore.ingestHgt]] over its HGT archive and passes
  * the store directory.
  *
  * One pass over a tile store runs 3 Spark jobs, and every one of them
  * moves feature data:
  *  1. the shuffle map stage of the bucketed write: read the documents, add
  *     elevations and route the features to their buckets;
  *  2. the bucketed write, whose tasks also count each bucket's rows and
  *     checksum for its manifest row;
  *  3. the GeoJSON-lines write of the committed table, read with the schema
  *     recorded in the commit log.
  * The broadcast [[TileIndex]] is built from the store's file listing and
  * each task loads the tiles it probes, so no job collects tiles. The
  * commit log is written and read on the driver, and the summary's `tiles`
  * and `features` come from the index and the commit log, so none of those
  * is a job either.
  */
object ElevationJob {
  def main(args: Array[String]): Unit = {
    val Array(geojsonPath, tileArg, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val features = GeoJsonSource.readDocuments(spark, geojsonPath)
    val tiles: Dataset[TileRow] =
      if (tileArg == "SYNTH")
        spark.createDataset(TileGen.tiles(
          Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37)), 1201, "hgt"))(
          Encoders.product[TileRow])
      else table.TileStore.readTiles(spark, tileArg)

    val t0 = System.nanoTime()
    val (index, nFeatures) = run(features, tiles, outDir, runId = s"elevjob-${t0}")
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"elevation","features":$nFeatures,"tiles":${index.value.size},"sec":$secs%.3f,"buckets":8}""")
    spark.stop()
  }

  /** One pass of the job into `outDir`: the index it broadcast, and the
    * number of features it committed.
    */
  private[graft] def run(features: Dataset[FeatureRow], tiles: Dataset[TileRow],
                         outDir: String, runId: String): (Broadcast[TileIndex], Long) = {
    val spark = features.sparkSession
    val index = TileIndex.broadcastIndex(tiles)
    val out = Elevation.addElevation(features, index)
    // checkpointed output (north rule): enriched features commit per hash
    // bucket with lineage manifests; a killed job rerun with the same outDir
    // resumes at bucket granularity, then the GeoJSON-lines render reads the
    // committed snapshot
    table.Checkpoint.writeResumable(out.toDF(), Seq("feature_id"),
      nBuckets = 8, s"$outDir/table", runId = runId)
    val committed = table.Checkpoint.read(spark, s"$outDir/table")
      .as[FeatureRow](Encoders.product[FeatureRow])
    GeoJsonSource.writeLines(committed, s"$outDir/features")
    // counts from the commit log the driver just wrote (no Spark job) rather
    // than re-parsing the output
    (index, table.Checkpoint.committedRowCount(spark, s"$outDir/table"))
  }
}
