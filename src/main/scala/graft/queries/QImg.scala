package graft
package queries

import graft.synth.TileGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Fixtures._
import OracleCtes._

/** Image-kernel gates over the synthetic raster corpus (10 entries), each
  * with its DuckDB oracle SQL.
  */
object QImg {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "img_fidelity" -> ((s, dir) => {
      import s.implicits._
      implicit val enc = Encoders.product[(graft.core.TileRow, String)]
      val noisyF: (Int, Int, Int, Int) => Short = (lng0, lat0, r, c) => {
        val v = TileGen.sampleAt(lng0, lat0, r, c)
        if ((r * 601 + c) % 97 == 0) (v + 3).toShort else v
      }
      val rows =
        presentCorners.flatMap { case (lng, lat) => Seq(
          (TileGen.tileRow(lng, lat, 601, "png"), "exact"),
          (TileGen.tileRow(lng, lat, 601, "hgt"), "exact"),
          (TileGen.tileRow(lng, lat, 601, "hgt", noisyF), "noisy"))
        }
      s.createDataset(rows).map { case (t, variant) =>
        val d = graft.core.TileCodec.decode(t)
        val truth = graft.synth.TileGen.grid(d.swLng, d.swLat, d.size)
        var pxSum = 0L
        var sse = 0L
        var i = 0
        while (i < d.samples.length) {
          pxSum += d.samples(i)
          val diff = (d.samples(i) - truth(i)).toLong
          sse += diff * diff
          i += 1
        }
        val psnr = graft.raster.Fidelity.gridPsnr(truth, d.samples)
        val psnrQ =
          if (psnr.isInfinite) 99999L else math.floor(psnr * 100).toLong
        (t.image_id, t.fmt, variant, pxSum, sse, psnrQ)
      }.toDF("image_id", "fmt", "variant", "px_sum", "sse", "psnr_q")
        .orderBy("image_id", "fmt", "variant")
    }),
    // Thumbnails (area-average resize to 8x8) exploded to one row per output
    // pixel — the block boundaries and the IEEE sum/count division are
    // replicated exactly by the DuckDB oracle over the closed-form grid.
    "img_thumbs" -> ((s, dir) => {
      ops.ImageOps.thumbnails(gateTiles(s, "hgt"), 8).toDF()
        .select(col("image_id"), posexplode(col("pixels")).as(Seq("idx", "px")))
        .orderBy("image_id", "idx")
    }),
    // Per-image decode statistics (min / max / sum / IEEE mean) from the
    // real PNG decode, recomputed by the oracle from the closed-form grid.
    "img_stats" -> ((s, dir) => {
      ops.ImageOps.decodeStats(gateTiles(s, "png")).orderBy("image_id")
    }),
    // Per-image luminance histogram (width-256 bins): the exposure profile
    // for degenerate-image filtering; decode-once, zero shuffle.
    "img_histogram" -> ((s, dir) => {
      ops.ImageOps.histogram(gateTiles(s, "png"), width = 256)
        .orderBy("image_id", "bin")
    }),
    // Per-image Otsu threshold (ops.ImageOps.otsu): argmax of the floored
    // exact between-class-variance objective over width-64 bins — the
    // binarization / degenerate-image split with NO float in the decision
    // path (BigInt here, int128 in the oracle). Decode-once, zero shuffle.
    "img_otsu" -> ((s, dir) => {
      ops.ImageOps.otsu(gateTiles(s, "png"), width = 64).orderBy("image_id")
    }),
    // Block HOG census (ops.ImageOps.hogBlocks): the orientation octant
    // histogram + exact gradient energy per 4×4 spatial block — the
    // block-local structure descriptor; a trig-free octant ladder the
    // oracle replays pixel by pixel. Decode-once, zero shuffle.
    "img_hog" -> ((s, dir) => {
      ops.ImageOps.hogBlocks(gateTiles(s, "png"))
        .orderBy("image_id", "br", "bc", "sector")
    }),
    // Dual-resolution conversion (reference getResolutionAndSize.ts: 1″↔3″):
    // 3:1 decimation resample re-encoded as HGT rows, then re-decoded for
    // stats — encode∘decode round-trips through the new payload, and the
    // oracle recomputes the decimated grid from the closed form.
    "img_resample" -> ((s, dir) => {
      ops.ImageOps.decodeStats(ops.ImageOps.resample(gateTiles(s), 3))
        .orderBy("image_id")
    }),
    // Geometric augmentation (flip / rotate) pinned by position-weighted
    // moments, which are not permutation-invariant; the oracle applies the
    // same index identities to the closed-form grid.
    "img_augment" -> ((s, dir) => {
      val tiles = gateTiles(s)
      (("none", tiles) +: Seq("flip_h", "flip_v", "rot90")
        .map(m => (m, ops.ImageOps.augment(tiles, m))))
        .map { case (m, ds) =>
          ops.ImageOps.positionMoments(ds).withColumn("mode", lit(m))
        }
        .reduce(_ unionByName _)
        .orderBy("image_id", "mode")
    }),
    "img_integrity" -> ((s, dir) => {
      ops.ImageOps.integrity(gateTiles(s, "png")).orderBy("image_id")
    }),
    // Perceptual-hash near-dup pairs (ops.ImageOps.phashNearDup): decode →
    // 64-bit average-hash → multi-index Hamming band join (4×16-bit bands,
    // perfect recall at radius ≤ 3 by pigeonhole) — image dedup without an
    // all-pairs comparison. The oracle replays the identical hash from the
    // closed-form grids and the identical band join.
    "img_phash_neardup" -> ((s, dir) => {
      ops.ImageOps.phashNearDup(phashCorpusTiles(s), 3)
        .orderBy("id_a", "id_b")
    }),
  )

  val sql: Map[String, String] = Map(
    // fidelity: px_sum recomputed from the closed-form grid — the engine's
    // value comes from the DECODED payload (png decode included), so the
    // decode arithmetic is anchored. For the exact lanes sse=0 / psnr_q
    // sentinel ARE the decode contract (the engine computes them from the
    // real decode; the oracle states the contract values). The noisy lane
    // makes the PSNR formula itself load-bearing: the oracle rebuilds the
    // +3-every-97th-sample grid, recomputes its nonzero sse and runs the
    // identical 10*log10(peak^2/(sse/n)) quantization the engine applies
    // to its decoded pixels
    "img_fidelity" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v,
           CASE WHEN (r.range*601 + c.range) % 97 = 0 THEN 3 ELSE 0 END AS noise
           FROM corners, range(0,601) r, range(0,601) c),
         s AS (SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(sum(v + noise) AS BIGINT) AS px_sum_noisy,
           CAST(sum(noise * noise) AS BIGINT) AS sse_noisy,
           CAST(max(v) - min(v) AS DOUBLE) AS peak,
           count(*) AS n
           FROM g GROUP BY swlng, swlat)
         SELECT image_id, fmt, variant, px_sum, sse, psnr_q FROM (
           SELECT image_id, fmt, 'exact' AS variant, px_sum,
             CAST(0 AS BIGINT) AS sse, CAST(99999 AS BIGINT) AS psnr_q
           FROM s, (VALUES ('png'),('hgt')) f(fmt)
           UNION ALL
           SELECT image_id, 'hgt' AS fmt, 'noisy' AS variant, px_sum_noisy,
             sse_noisy,
             CAST(floor(100 * 10 * log10(peak * peak / (CAST(sse_noisy AS DOUBLE) / n))) AS BIGINT)
           FROM s)
         ORDER BY image_id, fmt, variant""",
    // thumbnails: 8x8 area-average blocks of the closed-form grid; block of
    // row r is (8r+7)//601 (boundaries floor(b*601/8) — identical to the
    // engine's (br*(601/8.0)).toInt since 601/8 is exactly representable),
    // and CAST(sum)/count is the same IEEE division of exact integers
    "img_thumbs" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat, r.range AS r, c.range AS c,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c)
         SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           CAST(((8*r + 7)//601)*8 + (8*c + 7)//601 AS INT) AS idx,
           CAST(sum(v) AS DOUBLE)/count(*) AS px
         FROM g GROUP BY 1, 2 ORDER BY image_id, idx""",
    "img_stats" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c)
         SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           count(*) AS n_px, CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(sum(v) AS BIGINT) / CAST(count(*) AS BIGINT) AS px_mean
         FROM g GROUP BY swlng, swlat ORDER BY image_id""",
    "img_histogram" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c)
         SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           CAST(v // 256 AS INT) AS bin, count(*) AS n_px
         FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    // Otsu replay: same histogram recipe at width 64, cumulative w0/a0 by
    // window, the squared numerator in int128, the SAME floored /n-
    // normalized objective, ties to the smallest bin via row_number
    "img_otsu" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c),
         h AS (SELECT image_id, v // 64 AS b, CAST(count(*) AS BIGINT) AS c
           FROM g GROUP BY 1, 2),
         tot AS (SELECT image_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(b*c) AS BIGINT) AS s FROM h GROUP BY 1),
         cum AS (SELECT image_id, b,
             CAST(sum(c) OVER (PARTITION BY image_id ORDER BY b) AS BIGINT) AS w0,
             CAST(sum(b*c) OVER (PARTITION BY image_id ORDER BY b) AS BIGINT) AS a0
           FROM h),
         cand AS (SELECT cum.image_id, b, w0, a0, n, s
           FROM cum JOIN tot USING (image_id) WHERE w0 < n),
         obj AS (SELECT image_id, b, w0, a0, n,
             CAST(((CAST(s AS HUGEINT)*w0 - CAST(n AS HUGEINT)*a0)
                 * (CAST(s AS HUGEINT)*w0 - CAST(n AS HUGEINT)*a0))
               // (CAST(w0 AS HUGEINT)*(n-w0)*n) AS BIGINT) AS obj_q
           FROM cand)
         SELECT image_id, CAST(b AS INT) AS thr_bin, n AS n_px, w0, a0,
           n - w0 AS n_fg, obj_q
         FROM obj
         QUALIFY row_number() OVER (PARTITION BY image_id ORDER BY obj_q DESC, b) = 1
         ORDER BY image_id""",
    "img_hog" -> hogOracleSql,
    "img_resample" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*(3*c.range) + 3*(3*r.range) + (((3*c.range)//8)*((3*r.range)//8)) % 32 AS v
           FROM corners, range(0,201) r, range(0,201) c)
         SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           count(*) AS n_px, CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(sum(v) AS BIGINT) / CAST(count(*) AS BIGINT) AS px_mean
         FROM g GROUP BY swlng, swlat ORDER BY image_id""",
    "img_augment" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat, r.range AS r, c.range AS c,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c),
         s AS (SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
             count(*) AS n_px, CAST(sum(v) AS BIGINT) AS ssum,
             CAST(sum(v*r) AS BIGINT) AS rm, CAST(sum(v*c) AS BIGINT) AS cm
           FROM g GROUP BY swlng, swlat)
         SELECT image_id, mode, n_px, ssum AS px_sum,
           CASE mode WHEN 'flip_v' THEN 600*ssum - rm WHEN 'rot90' THEN cm ELSE rm END AS r_moment,
           CASE mode WHEN 'flip_h' THEN 600*ssum - cm WHEN 'rot90' THEN 600*ssum - rm ELSE cm END AS c_moment
         FROM s, (VALUES ('none'),('flip_h'),('flip_v'),('rot90')) m(mode)
         ORDER BY image_id, mode""",
    "img_integrity" ->
      """WITH corners(swlng, swlat) AS (VALUES (-120,36),(-120,37),(-119,36),(-119,37),(-118,36),(-117,37)),
         g AS (SELECT swlng, swlat, r.range AS r, c.range AS c,
           ((swlng+180)*7 + (swlat+90)*11) % 1000 + 2*c.range + 3*r.range + ((c.range//8)*(r.range//8)) % 32 AS v
           FROM corners, range(0,601) r, range(0,601) c),
         blk AS (SELECT swlng, swlat, ((8*r + 7)//601)*8 + (8*c + 7)//601 AS idx,
           CAST(sum(v) AS DOUBLE)/count(*) AS bm
           FROM g GROUP BY 1, 2, 3),
         m AS (SELECT swlng, swlat,
           list_reduce(list(bm ORDER BY idx), (a, b) -> a + b)/64.0 AS mean
           FROM blk GROUP BY 1, 2),
         bits AS (SELECT blk.swlng, blk.swlat,
           CAST(sum(CASE WHEN idx < 63 AND bm > mean THEN CAST(1 AS BIGINT) << idx ELSE 0 END) AS BIGINT)
           + CASE WHEN max(CASE WHEN idx = 63 AND bm > mean THEN 1 ELSE 0 END) = 1
                  THEN -9223372036854775808 ELSE 0 END AS phash
           FROM blk JOIN m ON blk.swlng = m.swlng AND blk.swlat = m.swlat GROUP BY 1, 2)
         SELECT (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
                 CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS image_id,
           phash, phash AS phash_stored,
           (CASE WHEN swlat < 0 THEN 'S' ELSE 'N' END || lpad(CAST(abs(swlat) AS VARCHAR),2,'0') ||
            CASE WHEN swlng < 0 THEN 'W' ELSE 'E' END || lpad(CAST(abs(swlng) AS VARCHAR),3,'0')) AS cap_tile_key,
           CAST(swlng AS INT) AS cap_sw_lng, CAST(swlat AS INT) AS cap_sw_lat,
           CAST(601 AS INT) AS cap_size
         FROM bits ORDER BY image_id""",
    // replays phashNearDup end-to-end: same closed-form grids (+4000 on the
    // variant's "high" blocks), same block-sum/one-division/fold-mean hash
    // as the img_integrity oracle (integer block sums so the +4000 rides
    // inside the single IEEE division), same 4×16-bit band join, same
    // bit_count(xor) Hamming filter (arithmetic >> then & 65535 extracts
    // identical band keys in both engines — verified on the sign bit)
    "img_phash_neardup" ->
      s"""WITH $phashPairCtes
         SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(pa, pb)) <= 3 ORDER BY id_a, id_b""",
  )
}
