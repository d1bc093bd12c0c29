package graft

import graft.core.TileRow
import graft.ops.{Elevation, TileIndex}
import graft.sources.GeoJsonSource
import graft.synth.TileGen
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
  * One pass over a tile store runs 4 Spark jobs, and every one of them
  * moves tile or feature data:
  *  1. collect the tiles for the broadcast [[TileIndex]] (the store is read
  *     with its known schema, so no footer-inference job precedes it);
  *  2. the shuffle map stage of the bucketed write: read the documents, add
  *     elevations and route the features to their buckets;
  *  3. the bucketed write, whose tasks also count each bucket's rows and
  *     checksum for its manifest row;
  *  4. the GeoJSON-lines write of the committed table, read with the schema
  *     recorded in the commit log.
  * The commit log is written and read on the driver, and the summary's
  * `tiles` and `features` come from the index and the commit log, so none
  * of those is a job.
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
    val index = TileIndex.broadcastIndex(tiles)
    val out = Elevation.addElevation(features, index)
    // checkpointed output (north rule): enriched features commit per hash
    // bucket with lineage manifests; a killed job rerun with the same outDir
    // resumes at bucket granularity, then the GeoJSON-lines render reads the
    // committed snapshot
    table.Checkpoint.writeResumable(out.toDF(), Seq("feature_id"),
      nBuckets = 8, s"$outDir/table", runId = s"elevjob-${t0}")
    val committed = table.Checkpoint.read(spark, s"$outDir/table")
      .as[graft.core.FeatureRow](Encoders.product[graft.core.FeatureRow])
    GeoJsonSource.writeLines(committed, s"$outDir/features")
    // counts from the commit log the driver just wrote (no Spark job) rather
    // than re-parsing the output
    val nFeatures = table.Checkpoint.committedRowCount(spark, s"$outDir/table")
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"elevation","features":$nFeatures,"tiles":${index.value.size},"sec":$secs%.3f,"buckets":8}""")
    spark.stop()
  }
}
