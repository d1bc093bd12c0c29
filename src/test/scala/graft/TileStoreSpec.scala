package graft

import graft.synth.TileGen
import graft.table.TileStore
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Partition-pruned tile scans: the bbox cover reaches the file scan as
  * PartitionFilters (plan-level assertion, not just row counts).
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

  test("scanBBox reads only covered tiles, via PartitionFilters") {
    graft.table.Checkpoint.clear(dir)
    val tiles = spark.createDataset(TileGen.tiles(corners.toSeq, 61, "hgt"))(
      Encoders.product[graft.core.TileRow])
    TileStore.write(tiles, dir)
    assert(TileStore.read(spark, dir).count() == corners.size)

    // JMT-style bbox → exactly 4 tiles
    val scan = TileStore.scanBBox(spark, dir, -119.56, 36.56, -118.24, 37.88)
    val got = scan.select("tile_key").collect().map(_.getString(0)).toSet
    assert(got == Set("N36W119", "N36W120", "N37W119", "N37W120"))

    // plan-level: the predicate prunes partitions (scan reads 4 of 48 dirs)
    val fileScan = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(fileScan.partitionFilters.nonEmpty,
      s"expected partition filters, plan:\n${scan.queryExecution.executedPlan}")
    // the scan's own metric: files actually read after pruning
    scan.collect() // materialize so metrics populate
    val numFiles = fileScan.metrics("numFiles").value
    assert(numFiles == 4, s"expected 4 files read after pruning, got $numFiles")
  }

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
    val n = TileStore.read(spark, dir).select("tile_key").distinct().count()
    assert(n == corners.size)
  }
}
