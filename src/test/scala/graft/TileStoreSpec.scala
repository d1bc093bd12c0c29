package graft

import graft.synth.TileGen
import graft.table.TileStore
import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tile store scans: the known-schema `readTiles` read and the plain
  * full read.
  */
class TileStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = s"${System.getProperty("java.io.tmpdir")}/graft_tilestore_test"

  private def corners = for { lng <- -122 to -115; lat <- 34 to 39 } yield (lng, lat)

  test("readTiles: same rows as the inferred-schema read, and no Spark job before an action") {
    // 8 tiles, as in the benchmark: a store of more partition directories
    // than spark.sql.sources.parallelPartitionDiscovery.threshold (32) is
    // listed by a Spark job, whatever the schema
    val small = s"${dir}_small"
    graft.table.Checkpoint.clear(small)
    val smallCorners = for { lng <- -122 to -119; lat <- 36 to 37 } yield (lng, lat)
    TileStore.write(spark.createDataset(TileGen.tiles(smallCorners, 61, "hgt"))(
      Encoders.product[graft.core.TileRow]), small)
    val (tiles, build) = Listened(spark.sparkContext)(TileStore.readTiles(spark, small))
    assert(build.jobs == 0, s"readTiles launched ${build.jobs} Spark jobs")
    val got = tiles.collect()
    def key(t: graft.core.TileRow) =
      (t.image_id, t.bytes.toSeq, t.w, t.h, t.fmt, t.caption, t.phash)
    val want = TileStore.read(spark, small)
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .as[graft.core.TileRow](Encoders.product[graft.core.TileRow]).collect()
    assert(got.length == smallCorners.size)
    assert(got.map(key).sortBy(_._1).toSeq == want.map(key).sortBy(_._1).toSeq)
  }

  test("full scan without predicate reads everything") {
    graft.table.Checkpoint.clear(dir)
    TileStore.write(spark.createDataset(TileGen.tiles(corners, 61, "hgt"))(
      Encoders.product[graft.core.TileRow]), dir)
    val n = TileStore.read(spark, dir).select("tile_key").distinct().count()
    assert(n == corners.size)
  }
}
