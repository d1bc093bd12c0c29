package graft.table

import graft.core.TileRow
import graft.geo.{S2, TileKey}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import scala.jdk.CollectionConverters._

/** One tile's data file in a tile store, as the store's listing gave it. */
final case class TileFile(tileKey: String, path: String, length: Long, mtime: Long)

/** On-disk tile table, one directory per tile.
  *
  * Schema decision, not an optimizer rule (SURVEY.md §4): the spatial keys —
  * `tile_key` and a coarse S2 cell `cell8` of the tile center — are stored
  * as **partition columns**. The store-backed [[graft.ops.TileIndex]] reads
  * the `tile_key=` listing ([[tileFiles]]) and loads only the tiles it
  * probes, and a predicate on either key reaches the scan as Catalyst
  * `PartitionFilters`. At 10^12 rows the same layout holds: one directory
  * tree per coarse cell, Parquet row-group stats prune within.
  */
object TileStore {

  /** Write the tile table partitioned by (cell8, tile_key). */
  def write(tiles: Dataset[TileRow], dir: String): Unit = {
    tiles.toDF()
      .withColumn("tile_key", col("image_id"))
      .withColumn("cell8", cell8Of(col("image_id")))
      .write.mode("overwrite")
      .partitionBy("cell8", "tile_key")
      .parquet(dir)
  }

  /** Coarse S2 cell (level 8) of a tile's center — the directory-level
    * spatial partition key.
    */
  private def cell8Of = udf { (key: String) =>
    val (swLng, swLat) = TileKey.toDegrees(key)
    S2.latLngToCell(swLng + 0.5, swLat + 0.5, 8)
  }

  def read(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(dir)

  /** The table as [[write]] lays it out: the [[TileRow]] columns, then the
    * two partition columns.
    */
  private val TableSchema = StructType.fromDDL(
    "image_id string, bytes binary, w int, h int, fmt string, caption string, " +
      "phash bigint, cell8 bigint, tile_key string")

  private val RowColumns = Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

  /** Read back as the typed input-table row (drops partition duplicates).
    * The schema is given, so no Spark job infers it from Parquet footers.
    */
  def readTiles(spark: SparkSession, dir: String): Dataset[TileRow] =
    spark.read.schema(TableSchema).parquet(dir)
      .select(RowColumns.map(col): _*)
      .as[TileRow](Encoders.product[TileRow])

  /** The tile files behind `tiles` and the Hadoop configuration to read
    * them with, when `tiles` is a bare [[readTiles]] scan: its optimized
    * plan projects the [[TileRow]] columns from one Parquet relation
    * partitioned by exactly (cell8, tile_key), with no filter, and each
    * tile_key partition holds one file under a distinct key. None for any
    * other input. The relation's file index listed the store when the scan
    * was built, so this runs no Spark job.
    */
  def tileFiles(tiles: Dataset[TileRow]): Option[(Seq[TileFile], Configuration)] =
    tiles.queryExecution.optimizedPlan match {
      case Project(cols, scan: LogicalRelation) => scan.relation match {
        case rel: HadoopFsRelation if rel.fileFormat.isInstanceOf[ParquetFileFormat] &&
            rel.bucketSpec.isEmpty &&
            rel.partitionSchema.fieldNames.toSeq == Seq("cell8", "tile_key") &&
            rel.partitionSchema("tile_key").dataType == StringType &&
            cols.map { case a: AttributeReference => a.name; case _ => "" } == RowColumns =>
          val parts = rel.location.listFiles(Nil, Nil)
          val files = parts.collect {
            case p if p.files.size == 1 && !p.values.isNullAt(1) =>
              val f = p.files.head
              TileFile(p.values.getUTF8String(1).toString, f.getPath.toString,
                f.getLen, f.getModificationTime)
          }
          Option.when(files.size == parts.size && files.map(_.tileKey).distinct.size == files.size)(
            (files, rel.getHadoopConf(rel.sparkSession, rel.options)))
        case _ => None
      }
      case _ => None
    }

  /** Read the tile in `file` with parquet-hadoop: the columns
    * [[graft.core.TileCodec.decode]] reads (caption and phash are left
    * empty) of the file's last row, the one a collected scan keeps. A file
    * that is gone, or whose length or mtime is not the listing's, fails
    * naming its tile, so a store rewritten after its listing is never read
    * as the old one.
    */
  def readTile(file: TileFile, conf: Configuration): TileRow = {
    def fail(what: String, cause: Throwable = null) =
      new IllegalStateException(s"tile ${file.tileKey}: ${file.path} $what", cause)
    val path = new Path(file.path)
    val status = try path.getFileSystem(conf).getFileStatus(path) catch {
      case e: java.io.FileNotFoundException =>
        throw fail("is gone since the tile store was listed", e)
    }
    if (status.getLen != file.length || status.getModificationTime != file.mtime)
      throw fail(s"changed since the tile store was listed (length ${file.length} -> " +
        s"${status.getLen}, mtime ${file.mtime} -> ${status.getModificationTime})")
    // read options from `conf`: the one-argument open builds default options
    // on a fresh Configuration, which parses core-default.xml once per tile
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf),
      HadoopReadOptions.builder(conf, path).build())
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val columns = new MessageType(schema.getName, Seq("image_id", "bytes", "w", "h", "fmt")
        .map(c => schema.getType(schema.getFieldIndex(c))).asJava)
      reader.setRequestedSchema(columns)
      val io = new ColumnIOFactory().getColumnIO(columns, schema)
      var last: TileRow = null
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(columns))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read()
          last = TileRow(g.getString("image_id", 0), g.getBinary("bytes", 0).getBytes,
            g.getInteger("w", 0), g.getInteger("h", 0), g.getString("fmt", 0), null, 0L)
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
      if (last == null || last.image_id != file.tileKey)
        throw fail(s"holds ${Option(last).fold("no row")(t => s"tile ${t.image_id}")}, not this tile")
      last
    } finally reader.close()
  }

  /** Ingest a directory of raw SRTM `.hgt` files — the reference's own data
    * layout (S3 objects named `{N|S}lat{E|W}lng.hgt`,
    * src/elevation/fetchElevationTileData.ts:11-21) — into the partitioned
    * image+caption table. Per file: parse the tile key from the name, apply
    * the P3 size predicate (square int16 grid; the reference accepts 3601²
    * and 1201², src/elevation/getResolutionAndSize.ts — synthetic test
    * scales use smaller squares with resolution=0), derive the caption and
    * the decoded-grid phash. This is the migration path for a reference
    * deployment: point the engine at the existing HGT archive.
    *
    * @param strict reference-parity P3 enforcement: ONLY the two canonical
    *               payload sizes (25,934,402 B = 3601² and 2,884,802 B =
    *               1201², src/elevation/getResolutionAndSize.ts:17-26) are
    *               accepted; anything else fails the job with
    *               `UNSUPPORTED_SIZE`, exactly like the reference throws.
    *               Default lenient mode additionally allows any square int16
    *               grid (synthetic test scales, resolution=0).
    */
  def ingestHgt(spark: SparkSession, hgtDir: String, storeDir: String,
                strict: Boolean = false): Long = {
    import graft.core.{TileCaption, TileCodec}
    implicit val enc = Encoders.product[TileRow]
    val tiles = spark.read.format("binaryFile").load(s"$hgtDir/*.hgt")
      .select("path", "content")
      .as[(String, Array[Byte])](Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .map { case (path, bytes) =>
        val key = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".hgt")
        val size = math.sqrt(bytes.length / 2.0).toInt
        require(size.toLong * size * 2 == bytes.length,
          s"UNSUPPORTED_SIZE: ${bytes.length} bytes in $key (not a square int16 grid)")
        require(!strict || size == 3601 || size == 1201,
          s"UNSUPPORTED_SIZE: ${bytes.length} bytes in $key " +
            "(strict mode accepts only 3601x3601 or 1201x1201)")
        val (swLng, swLat) = TileKey.toDegrees(key)
        val resolution = size match { case 3601 => 1; case 1201 => 3; case _ => 0 }
        val z = 9
        val (x, y) = graft.geo.WebMercator.tile(swLng + 0.5, swLat + 0.5, z)
        val caption = TileCodec.captionJson(
          TileCaption(key, z, x, y, swLng, swLat, resolution, size))
        val grid = graft.raster.Hgt.decode(bytes, size)
        TileRow(key, bytes, size, size, "hgt", caption,
          graft.raster.Fidelity.phash(grid, size))
      }
    write(tiles, storeDir)
    read(spark, storeDir).count()
  }
}
