package graft.ops

import graft.core.{TileCodec, TileRow}
import graft.raster.Fidelity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** The image kernels of the core registry tier, over the input table's
  * `bytes` payloads. Decode is REAL (javax.imageio PNG/JPEG + raw HGT via
  * graft.raster) — no stub needed for this engine's payloads; the Spark-side
  * plumbing is a typed mapPartitions so each tile decodes exactly once per
  * partition and only the needed columns reach the stage (column pruning
  * keeps `bytes` out of queries that don't decode).
  */
object ImageOps {

  /** Per-image pixel statistics from the decoded grid. */
  final case class ImgStats(image_id: String, n_px: Long, px_min: Int,
                            px_max: Int, px_sum: Long, px_mean: Double)

  def decodeStats(tiles: Dataset[TileRow]): DataFrame = {
    implicit val enc = Encoders.product[ImgStats]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        var mn = Int.MaxValue; var mx = Int.MinValue; var sum = 0L
        var i = 0
        while (i < d.samples.length) {
          val v: Int = d.samples(i)
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          i += 1
        }
        val n = d.samples.length.toLong
        // plain IEEE division of two exact integers — oracle-identical
        ImgStats(t.image_id, n, mn, mx, sum, sum.toDouble / n.toDouble)
      }
    }.toDF()
  }

  final case class HogRow(image_id: String, br: Int, bc: Int, sector: Int,
                          n: Long, energy: Long)

  /** Block HOG census — a gradient-orientation census localized to a 4×4
    * block grid (the histogram-of-oriented-gradients descriptor layout,
    * Dalal & Triggs 2005, public, minus the float normalization): per 150²
    * block, the 8-octant orientation counts + flat bin and exact gradient
    * energy. The block-local structure signature used for patch matching
    * and texture segmentation. Central differences go to 8 half-open
    * octants by pure sign / |gx|-vs-|gy| comparisons (no trig), so the
    * oracle replays every pixel's comparisons exactly.
    */
  def hogBlocks(tiles: Dataset[TileRow]): DataFrame = {
    implicit val enc = Encoders.product[HogRow]
    tiles.mapPartitions { it =>
      it.flatMap { tl =>
        val d = TileCodec.decode(tl)
        val size = d.size
        val cnt = new Array[Long](16 * 9); val en = new Array[Long](16 * 9)
        var r = 1
        while (r < size - 1) {
          var c = 1
          while (c < size - 1) {
            val gx = d.samples(r * size + c + 1) - d.samples(r * size + c - 1)
            val gy = d.samples((r + 1) * size + c) - d.samples((r - 1) * size + c)
            val s =
              if (gx == 0 && gy == 0) 8
              else if (gx > 0 && gy >= 0) { if (gy < gx) 0 else 1 }
              else if (gx <= 0 && gy > 0) { if (-gx < gy) 2 else 3 }
              else if (gx < 0 && gy <= 0) { if (-gy < -gx) 4 else 5 }
              else { if (gx < -gy) 6 else 7 }
            val b = ((r / 150) * 4 + (c / 150)) * 9 + s
            cnt(b) += 1L
            en(b) += gx.toLong * gx + gy.toLong * gy
            c += 1
          }
          r += 1
        }
        (0 until 16 * 9).iterator.filter(cnt(_) > 0L).map { b =>
          HogRow(tl.image_id, b / 9 / 4, (b / 9) % 4, b % 9, cnt(b), en(b))
        }
      }
    }.toDF()
  }

  /** One luminance-histogram bin of one image. */
  final case class ImgHistRow(image_id: String, bin: Int, n_px: Long)

  /** Per-image fixed-width value histogram from the decoded grid — the
    * exposure/contrast profile used to filter degenerate images (all-flat,
    * clipped, bimodal) from a training corpus. Decode-once mapPartitions,
    * ≤ (value-range/width) rows out per image, ZERO shuffle: each image's
    * bins are complete within its row, no re-aggregation needed. Bins are
    * floor-division (`floorDiv(v, width)`), so negative no-data samples
    * land in negative bins instead of corrupting bin 0; empty bins are
    * omitted. Fixed-width mergeable bins are deliberately the same contract
    * as [[Quantiles]]' histogram — at 100 TB a per-corpus histogram is one
    * map-side-combined groupBy(bin) away.
    */
  def histogram(tiles: Dataset[TileRow], width: Int): DataFrame = {
    require(width > 0, s"width must be > 0, got $width")
    implicit val enc = Encoders.product[ImgHistRow]
    tiles.mapPartitions { it =>
      it.flatMap { t =>
        val d = TileCodec.decode(t)
        val counts = scala.collection.mutable.LongMap.empty[Long]
        var i = 0
        while (i < d.samples.length) {
          val b = math.floorDiv(d.samples(i).toInt, width)
          counts(b.toLong) = counts.getOrElse(b.toLong, 0L) + 1L
          i += 1
        }
        counts.toSeq.sortBy(_._1).map { case (b, n) =>
          ImgHistRow(t.image_id, b.toInt, n)
        }
      }
    }.toDF()
  }

  final case class OtsuRow(image_id: String, thr_bin: Int, n_px: Long,
                           w0: Long, a0: Long, n_fg: Long, obj_q: Long)

  /** Per-image Otsu threshold over the width-`width` value histogram — the
    * global binarization / foreground-background split used to drop
    * flat or degenerate images and to seed mask-based augmentation. The
    * classic criterion (maximize between-class variance over the histogram)
    * is made bit-reproducible by selecting the argmax of the EXACT floored
    * normalized objective
    *
    * {{{ obj_q(t) = ⌊ (S·w0(t) − n·a0(t))² / (w0(t)·(n−w0(t))·n) ⌋ }}}
    *
    * (w0/a0 = count/levels-sum of bins ≤ t, S = total levels-sum, levels =
    * bin indexes) — the numerator square is taken in arbitrary-precision
    * integers here and in int128 by the oracle, the division is a floor,
    * and ties break to the smallest bin, so both engines land on the
    * identical threshold with NO float in the decision path. Candidate
    * thresholds range over the occupied bins with a non-trivial split
    * (w0 < n); between occupied bins the objective is constant, so
    * restricting to them loses nothing. The /n normalization keeps obj_q
    * in int64 (≤ 63²·n at 64-wide bins on this value range).
    *
    * Same scale contract as [[histogram]]: decode-once mapPartitions, one
    * output row per image, ZERO shuffle.
    *
    * @return (image_id, thr_bin, n_px, w0, a0, n_fg, obj_q) — foreground =
    *         samples in bins > thr_bin
    */
  def otsu(tiles: Dataset[TileRow], width: Int): DataFrame = {
    require(width > 0, s"width must be > 0, got $width")
    implicit val enc = Encoders.product[OtsuRow]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        val counts = scala.collection.mutable.LongMap.empty[Long]
        var i = 0
        while (i < d.samples.length) {
          val b = math.floorDiv(d.samples(i).toInt, width)
          counts(b.toLong) = counts.getOrElse(b.toLong, 0L) + 1L
          i += 1
        }
        val bins = counts.toSeq.sortBy(_._1)
        val n = d.samples.length.toLong
        var s = 0L
        bins.foreach { case (b, c) => s += b * c }
        var w0 = 0L; var a0 = 0L
        var bestBin = Int.MinValue; var bestObj = -1L
        var bestW0 = 0L; var bestA0 = 0L
        bins.foreach { case (b, c) =>
          w0 += c; a0 += b * c
          if (w0 < n) {
            val num = BigInt(s) * w0 - BigInt(n) * a0
            val obj = (num * num / (BigInt(w0) * (n - w0) * n)).toLong
            if (obj > bestObj) { // strict: ties keep the smallest bin
              bestObj = obj; bestBin = b.toInt; bestW0 = w0; bestA0 = a0
            }
          }
        }
        OtsuRow(t.image_id, bestBin, n, bestW0, bestA0, n - bestW0, bestObj)
      }
    }.toDF()
  }

  /** k:1 decimation resample — the reference's dual-resolution domain
    * (SRTM 1″ 3601² ↔ 3″ 1201², src/elevation/getResolutionAndSize.ts:3-14)
    * as a batch tile-table transform: every kth sample of the logical grid,
    * re-encoded as an HGT payload with updated caption georeferencing
    * (size, resolution × k) and a fresh phash. Decimation is the exact,
    * oracle-replicable convention (`out(r,c) = in(k·r, k·c)` — grid nodes
    * stay grid nodes, so downstream bilinear at shared nodes is unchanged);
    * area-average reduction is [[thumbnails]]' job.
    */
  def resample(tiles: Dataset[TileRow], k: Int): Dataset[TileRow] = {
    implicit val enc = Encoders.product[TileRow]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        require((d.size - 1) % k == 0, s"size ${d.size} not decimatable by $k")
        val out = (d.size - 1) / k + 1
        val g = new Array[Short](out * out)
        var r = 0
        while (r < out) {
          var c = 0
          while (c < out) {
            g(r * out + c) = d.sample(r * k, c * k).toShort
            c += 1
          }
          r += 1
        }
        val cap = TileCodec.parseCaption(t.caption)
        TileRow(t.image_id, graft.raster.Hgt.encode(g, out), out, out, "hgt",
          TileCodec.captionJson(cap.copy(resolution = cap.resolution * k, size = out)),
          Fidelity.phash(g, out))
      }
    }
  }

  /** Area-average resize to n×n (the "thumbnail / feature-extract" op). */
  final case class Thumb(image_id: String, n: Int, pixels: Array[Double])

  def thumbnails(tiles: Dataset[TileRow], n: Int): Dataset[Thumb] = {
    implicit val enc = Encoders.product[Thumb]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        val out = new Array[Double](n * n)
        val block = d.size.toDouble / n
        var br = 0
        while (br < n) {
          var bc = 0
          while (bc < n) {
            val r0 = (br * block).toInt; val r1 = math.max(r0 + 1, ((br + 1) * block).toInt)
            val c0 = (bc * block).toInt; val c1 = math.max(c0 + 1, ((bc + 1) * block).toInt)
            var s = 0L; var cnt = 0L
            var r = r0
            while (r < r1) {
              var c = c0
              while (c < c1) { s += d.samples(r * d.size + c); cnt += 1; c += 1 }
              r += 1
            }
            out(br * n + bc) = s.toDouble / cnt
            bc += 1
          }
          br += 1
        }
        Thumb(t.image_id, n, out)
      }
    }
  }

  /** Deterministic geometric augmentation — the training-data image
    * augmentation primitive (flip / rotate), as a tile-table transform: the
    * grid is index-permuted, re-encoded as an HGT payload with a fresh
    * phash; the `image_id` and caption ride along unchanged (the strict
    * 7-char tile key is also the decode georeference — callers that mix
    * augmented and original rows distinguish them by their own mode column).
    * Pure per-row map — no shuffle, decode+encode once per row.
    *
    * Modes (grid of side n, m = n-1):
    *  - `flip_h`: out(r,c) = in(r, m-c) (mirror across the vertical axis)
    *  - `flip_v`: out(r,c) = in(m-r, c)
    *  - `rot90`:  out(r,c) = in(m-c, r) (90° clockwise on the logical grid)
    */
  def augment(tiles: Dataset[TileRow], mode: String): Dataset[TileRow] = {
    require(Set("flip_h", "flip_v", "rot90").contains(mode),
      s"unsupported augment mode: $mode")
    implicit val enc = Encoders.product[TileRow]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        val n = d.size; val m = n - 1
        val g = new Array[Short](n * n)
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) {
            val v = mode match {
              case "flip_h" => d.sample(r, m - c)
              case "flip_v" => d.sample(m - r, c)
              case "rot90"  => d.sample(m - c, r)
            }
            g(r * n + c) = v.toShort
            c += 1
          }
          r += 1
        }
        TileRow(t.image_id, graft.raster.Hgt.encode(g, n), n, n,
          "hgt", t.caption, Fidelity.phash(g, n))
      }
    }
  }

  /** Position-weighted checksums of the decoded grid: `r_moment = Σ v·r`,
    * `c_moment = Σ v·c` (row-major indices). Unlike [[decodeStats]]' sums
    * these are NOT permutation-invariant, so they pin an [[augment]]
    * transform exactly: the oracle recomputes them from the closed-form
    * grid with the transformed indices. Exact 64-bit integer arithmetic
    * end-to-end (max |v|·idx·n² ≈ 2^40 at 601²).
    */
  final case class ImgMoments(image_id: String, n_px: Long, px_sum: Long,
                              r_moment: Long, c_moment: Long)

  def positionMoments(tiles: Dataset[TileRow]): Dataset[ImgMoments] = {
    implicit val enc = Encoders.product[ImgMoments]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        var sum = 0L; var rm = 0L; var cm = 0L
        var r = 0
        while (r < d.size) {
          var c = 0
          while (c < d.size) {
            val v: Long = d.sample(r, c).toLong
            sum += v; rm += v * r; cm += v * c
            c += 1
          }
          r += 1
        }
        ImgMoments(t.image_id, d.size.toLong * d.size, sum, rm, cm)
      }
    }
  }

  /** Marching-squares contour census at one iso-elevation threshold — the
    * classification half of raster→vector contour extraction (the segment
    * geometry is a local lookup on the same case index; the census pins the
    * whole classification exactly, which is where contour bugs live).
    *
    * Each 2×2 sample cell gets the standard 4-bit case from its corners'
    * `v ≥ t` bits (b0=NW(r,c), b1=NE(r,c+1), b2=SE(r+1,c+1), b3=SW(r+1,c);
    * index = b0 + 2·b1 + 4·b2 + 8·b3). Cases 0/15 carry no contour, the
    * two saddles 5/10 carry two segments, every other case one. Pure
    * per-row integer arithmetic on the decoded grid — no shuffle; output
    * is one census row per tile.
    */
  final case class ContourCensus(image_id: String, threshold: Int,
                                 n_above: Long, n_cut: Long, n_saddles: Long,
                                 n_segments: Long)

  def contourCensus(tiles: Dataset[TileRow], threshold: Int): DataFrame = {
    implicit val enc = Encoders.product[ContourCensus]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        val n = d.size
        var above = 0L; var cut = 0L; var saddles = 0L; var segs = 0L
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) {
            if (d.sample(r, c) >= threshold) above += 1
            if (r < n - 1 && c < n - 1) {
              val idx = (if (d.sample(r, c) >= threshold) 1 else 0) +
                (if (d.sample(r, c + 1) >= threshold) 2 else 0) +
                (if (d.sample(r + 1, c + 1) >= threshold) 4 else 0) +
                (if (d.sample(r + 1, c) >= threshold) 8 else 0)
              if (idx != 0 && idx != 15) {
                cut += 1
                val s = if (idx == 5 || idx == 10) 2L else 1L
                saddles += (if (s == 2L) 1L else 0L)
                segs += s
              }
            }
            c += 1
          }
          r += 1
        }
        ContourCensus(t.image_id, threshold, above, cut, saddles, segs)
      }
    }.toDF()
  }

  /** Per-row integrity check (input_hint invariants), every column a
    * computed QUANTITY so the oracle recomputes all of them from the
    * closed-form grid — no verdict booleans: `phash` is recomputed from the
    * decoded pixels, `phash_stored` is the table's phash column (must equal
    * the recomputation), and the `cap_*` columns are the caption JSON's
    * parsed georeferencing (must equal the corner/size the oracle derives
    * from the tile key — the caption-equality invariant per row).
    */
  def integrity(tiles: Dataset[TileRow]): DataFrame = {
    implicit val enc = Encoders.product[(String, Long, Long, String, Int, Int, Int)]
    tiles.mapPartitions { it =>
      it.map { t =>
        val d = TileCodec.decode(t)
        val ph = Fidelity.phash(d.samples, d.size)
        val c = TileCodec.parseCaption(t.caption)
        (t.image_id, ph, t.phash, c.tile_key, c.sw_lng, c.sw_lat, c.size)
      }
    }.toDF("image_id", "phash", "phash_stored", "cap_tile_key", "cap_sw_lng",
      "cap_sw_lat", "cap_size")
  }

  /** Perceptual-hash near-duplicate pairs: a 64-bit average hash per
    * image, then a multi-index Hamming band join (4 × 16-bit bands, so
    * every pair within radius ≤ 3 shares a band by pigeonhole) instead of
    * an all-pairs comparison.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b and hamming ≤ radius
    */
  def phashNearDup(tiles: Dataset[TileRow], radius: Int): DataFrame = {
    require(radius <= 3, s"4 bands guarantee recall only for radius <= 3, got $radius")
    implicit val enc = Encoders.product[(String, Long)]
    // payload-only decode: near-dup needs pixels, not georeferencing, so
    // image_id stays an opaque key (variant corpora suffix it freely)
    val hashes = tiles.mapPartitions { it =>
      it.map { t =>
        val samples = t.fmt match {
          case "hgt" => graft.raster.Hgt.decode(t.bytes, t.w)
          case _     => graft.raster.ImageCodec.decodeToGrid(t.bytes)._1
        }
        (t.image_id, Fidelity.phash(samples, t.w))
      }
    }.toDF("image_id", "phash")
    val banded = hashes.select(col("image_id"), col("phash"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("phash"), 16 * i).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("image_id", "phash", "band_i", "band_key")
    val a = banded.toDF("id_a", "pa", "band_i", "band_key")
    val b = banded.toDF("id_b", "pb", "band_i2", "band_key2")
    a.join(b, a("band_i") === b("band_i2") && a("band_key") === b("band_key2") &&
        a("id_a") < b("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(pa ^ pb) AS INT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

}
