package graft.ops

import graft.core.{TileCodec, TileRow}
import graft.raster.{Bilinear, ImageCodec}
import org.apache.spark.sql.{Dataset, Encoders}

/** Materializes the SERVING-side artifact of a terrain stack: a pyramid of
  * Terrarium-RGB PNG sub-tiles rendered from the 1° elevation store — the
  * producer counterpart of the reference's consumption path (its S3 bucket
  * of terrain tiles; decode semantics
  * reference src/elevation/getTerrariumDemElevation.ts:5-23 +
  * getElevation.ts:31-58). Each source tile splits into subdiv×subdiv PNGs
  * of outSize² pixels, each pixel bilinear-sampled at its center in the
  * tile's own plate-carrée frame. Deliberately NOT Web-Mercator rendering:
  * the mercator projection's transcendentals are not bit-reproducible
  * across engines, while plate-carrée pixel centers are dyadic rationals
  * whenever subdiv·outSize is a power of two — every sampled elevation and
  * every Terrarium byte is then oracle-exact (non-power-of-two divisions
  * stay deterministic, they just add one shared rounding).
  *
  * Scale shape: one mapPartitions over the tile table — each source tile
  * decodes ONCE and emits its subdiv² PNGs with NO shuffle; the pyramid
  * inherits the store's tile_key partitioning, so a 100 TB render is an
  * embarrassingly parallel scan whose output co-locates with its input.
  */
object TilePyramid {

  /** One rendered pyramid tile: `(sx, sy)` indexes the sub-grid west→east /
    * south→north inside source tile `image_id`.
    */
  final case class SubTile(image_id: String, sx: Int, sy: Int, size: Int,
                           png: Array[Byte])

  def materialize(tiles: Dataset[TileRow], subdiv: Int,
                  outSize: Int): Dataset[SubTile] = {
    implicit val enc = Encoders.product[SubTile]
    tiles.mapPartitions { it =>
      it.flatMap { t =>
        val d = TileCodec.decode(t)
        val denom = (subdiv * outSize).toDouble
        // Iterator, not a strict for/yield: emit one encoded sub-tile at a
        // time so a large subdiv never holds all subdiv² PNGs of a source
        // tile on the heap at once (the point of the mapPartitions shape)
        Iterator.range(0, subdiv).flatMap { sy =>
          Iterator.range(0, subdiv).map { sx =>
            renderSubTile(t, d, sx, sy, outSize, denom)
          }
        }
      }
    }
  }

  private def renderSubTile(t: TileRow, d: graft.core.DecodedTile, sx: Int, sy: Int,
                            outSize: Int, denom: Double): SubTile = {
    val elevs = new Array[Double](outSize * outSize)
    var r = 0
    while (r < outSize) {
      val lat = d.swLat + (sy * outSize + r + 0.5) / denom
      var c = 0
      while (c < outSize) {
        val lng = d.swLng + (sx * outSize + c + 0.5) / denom
        elevs(r * outSize + c) = Bilinear.sampleGrid(
          d.samples, d.size, d.swLng.toDouble, d.swLat.toDouble, lng, lat)
        c += 1
      }
      r += 1
    }
    SubTile(t.image_id, sx, sy, outSize,
      ImageCodec.encodeTerrariumPng(elevs, outSize))
  }

}
