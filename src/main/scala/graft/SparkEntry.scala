package graft

import graft.core.GeoJson
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — each `queries` entry is one operator from SURVEY.md §2
  * (or a training-pipeline op), and `oracleSql` carries the equivalent DuckDB
  * SQL over the same parquet tables.
  *
  * Geo queries derive deterministic coordinates from the TPC-H-ish columns
  * (pure integer/IEEE-double arithmetic, so the DuckDB oracle reproduces the
  * exact doubles), and sample synthetic in-memory tiles whose int16 grids
  * follow a closed form the oracle can also recompute (graft.synth.TileGen).
  */
object SparkEntry {

  /** Flagship: the reference's own golden fixture (JMT, 54 features / 5,998
    * coords) sampled against the 3-arc-second synthetic tile pyramid via the
    * broadcast tile join. Driver smoke-checks rows>0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/JMT.json")
    val jmt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val features = spark.createDataset(GeoJson.featureRows(GeoJson.parse(jmt)))
    val tiles = spark.createDataset(TileGen.tiles(
      Seq((-119, 36), (-120, 36), (-119, 37), (-120, 37)), 1201, "hgt"))
    Elevation.lookupBroadcast(Elevation.coordRows(features).toDF(), tiles)
      .select($"feature_id", $"coord_idx", $"lng", $"lat", $"tile_key", $"elev")
  }

  /** The registry: 133 entries, every SURVEY.md §2 gate plus one to four
    * representatives of each family. `graft.Verify` runs all of them and
    * `graft.Bench` times them; `RegistrySpec` pins the exact name set.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.QRel.queries ++
    graft.queries.QEvents1.queries ++
    graft.queries.QEvents2.queries ++
    graft.queries.QStore.queries ++
    graft.queries.QGraph.queries ++
    graft.queries.QGeo1.queries ++
    graft.queries.QGeo2.queries ++
    graft.queries.QTraj.queries ++
    graft.queries.QText.queries ++
    graft.queries.QAnn.queries ++
    graft.queries.QDq.queries ++
    graft.queries.QDedup.queries ++
    graft.queries.QMedia.queries ++
    graft.queries.QImg.queries ++
    graft.queries.QCuration.queries

  /** DuckDB oracle SQL, keys matching [[queries]]. */
  def oracleSql: Map[String, String] =
    graft.queries.QRel.sql ++
    graft.queries.QEvents1.sql ++
    graft.queries.QEvents2.sql ++
    graft.queries.QStore.sql ++
    graft.queries.QGraph.sql ++
    graft.queries.QGeo1.sql ++
    graft.queries.QGeo2.sql ++
    graft.queries.QTraj.sql ++
    graft.queries.QText.sql ++
    graft.queries.QAnn.sql ++
    graft.queries.QDq.sql ++
    graft.queries.QDedup.sql ++
    graft.queries.QMedia.sql ++
    graft.queries.QImg.sql ++
    graft.queries.QCuration.sql
}
