package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (audio/video) columns as OPAQUE BINARY + typed metadata —
  * the driver-mandated pattern next to the real-codec image path
  * (ImageOps uses javax.imageio; no audio/video codec ships in this
  * container, so the codec itself is a deterministic STUB while every
  * Spark-side piece is real and tested):
  *
  *  - schema: `(media_id long, bytes binary, fmt string, duration_ms long,
  *    fps_milli long)` — the image+caption table shape (BASELINE.json
  *    input_hint) generalized to time-based media;
  *  - partitioning/batch shape: decode runs in `mapPartitions` with ONE
  *    decoder instance per partition (the seam where libav/ffmpeg would be
  *    constructed once and reused row-to-row — constructing per row is the
  *    classic 100 TB anti-pattern);
  *  - frame-sampling arithmetic (every-k-ms timestamps → integer frame
  *    numbers at the row's own frame rate) is exact integer math;
  *  - the stub "decode" reads REAL bytes from the binary column (a 16-byte
  *    window per frame / fixed windows for audio) and folds them with
  *    exact mod-p integer arithmetic, so a DuckDB oracle can replay the
  *    whole pipeline closed-form against the generator formula.
  */
object MediaOps {

  /** The media table row (bytes is the opaque payload). */
  case class MediaRow(media_id: Long, bytes: Array[Byte], fmt: String,
                      duration_ms: Long, fps_milli: Long)

  /** One sampled frame: deterministic digest + 16-byte luma mean. */
  case class FrameRow(media_id: Long, frame_no: Long, ts_ms: Long,
                      frame_digest: Long, luma16: Long)

  /** One audio analysis window: exact integer sum of squares. */
  case class WindowRow(media_id: Long, win_no: Long, n_samp: Long,
                       sq_sum: Long)

  val DigestP = 1000000007L

  /** Deterministic synthetic media table (closed-form bytes, so the oracle
    * can replay any byte without reading the column): byte k of media m is
    * `(m·31 + k·7) mod 256`.
    */
  def synth(meta: DataFrame): Dataset[MediaRow] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.select(col("media_id").cast("long"), col("duration_ms").cast("long"),
        col("fps_milli").cast("long"), col("n_bytes").cast("int"))
      .as[(Long, Long, Long, Int)]
      .map { case (id, dur, fps, n) =>
        MediaRow(id,
          Array.tabulate(n)(k => ((id * 31 + k * 7) % 256).toByte),
          if (id % 2 == 0) "v8" else "pcm", dur, fps)
      }
  }

  /** Sample one frame every `everyMs` (timestamps 0, everyMs, … <
    * duration_ms): `frame_no = ts·fps_milli / 10⁶` (integer), then the
    * stub decode digests the 16-byte window at offset
    * `(frame_no·997) mod (len−16)`: `d ← (d·131 + byte) mod p` left fold
    * plus the integer mean of the same window. A real deployment swaps
    * the window fold for a codec frame decode; nothing else changes.
    */
  def frameSample(media: Dataset[MediaRow], everyMs: Long): DataFrame = {
    require(everyMs > 0, s"everyMs must be > 0, got $everyMs")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // one decoder instance per partition (stub: just the fold state)
      it.flatMap { m =>
        val span = math.max(1L, m.bytes.length.toLong - 16L)
        Iterator.range(0L, math.max(m.duration_ms, 0L), everyMs).map { t =>
          val frameNo = t * m.fps_milli / 1000000L
          val off = ((frameNo * 997L) % span).toInt
          var dig = 0L; var lum = 0L; var i = 0
          while (i < 16) {
            val b = m.bytes(off + i) & 0xff
            dig = (dig * 131L + b) % DigestP
            lum += b
            i += 1
          }
          FrameRow(m.media_id, frameNo, t, dig, lum / 16L)
        }
      }
    }.toDF()
  }

  /** Scene-cut detection over the sampled frame stream: a cut is a frame
    * whose 16-sample luminance mean jumps more than `threshold` levels from
    * the previous sampled frame — the standard shot-boundary heuristic on
    * the decode-side feature [[frameSample]] already extracts (a real
    * deployment swaps the stub digest for a codec decode + histogram
    * distance; the windowing algebra is unchanged). First frame of each
    * asset: delta 0, never a cut. Exact integers end-to-end; ONE media_id
    * window Exchange on the frame table (frames-per-asset rows, tiny next
    * to the binary payloads, which never shuffle).
    *
    * @return (media_id, ts_ms, luma16, d_lum, cut)
    */
  def sceneCuts(media: Dataset[MediaRow], everyMs: Long,
                threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("media_id").orderBy("ts_ms")
    frameSample(media, everyMs)
      .withColumn("d_lum",
        coalesce(abs(col("luma16") - lag("luma16", 1).over(w)), lit(0L)))
      .withColumn("cut",
        lag("luma16", 1).over(w).isNotNull && col("d_lum") > lit(threshold))
      .select("media_id", "ts_ms", "luma16", "d_lum", "cut")
  }

  /** Audio path: bytes as centered 8-bit samples (`b − 128`), fixed
    * windows of `winLen` samples (tail window dropped — exact contract),
    * exact integer sum of squares per window (the RMS numerator; the
    * division/sqrt stays with the caller so the gate compares integers).
    */
  def windowSquares(media: Dataset[MediaRow], winLen: Int): DataFrame = {
    require(winLen > 0, s"winLen must be > 0, got $winLen")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        val nWin = m.bytes.length / winLen
        Iterator.range(0L, nWin.toLong).map { w =>
          var s = 0L; var i = 0
          val base = (w * winLen).toInt
          while (i < winLen) {
            val v = (m.bytes(base + i) & 0xff) - 128
            s += v.toLong * v
            i += 1
          }
          WindowRow(m.media_id, w, winLen.toLong, s)
        }
      }
    }.toDF()
  }

  /** Clipping / saturation audit — the capture-quality gate every audio
    * curation pass runs first (clipped recordings poison loudness and
    * embedding features): per media the count of samples at or beyond the
    * clip threshold, the number of MAXIMAL clipped runs, and the longest
    * run (sustained saturation vs isolated peaks — the number that
    * separates a hot mix from a broken gain stage).
    *
    * Samples are the stub codec's centered bytes (`(byte & 0xff) − 128`,
    * the same convention as [[windowSquares]]); a sample clips when
    * `|v| ≥ thr`. One sequential scan per media inside `mapPartitions` —
    * run-length state is 3 integers, no window materialization; at 100 TB
    * this is a map-only pass emitting 5 integers per media row.
    *
    * @return (media_id, n_samp, n_clipped, n_runs, max_run)
    */
  final case class ClipRow(media_id: Long, n_samp: Long, n_clipped: Long,
                           n_runs: Long, max_run: Long)

  def clippingAudit(media: Dataset[MediaRow], thr: Int): DataFrame = {
    require(thr > 0 && thr <= 128, s"thr must be in 1..128: $thr")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        var nc = 0L; var runs = 0L; var maxRun = 0L; var cur = 0L
        var i = 0
        while (i < m.bytes.length) {
          val v = (m.bytes(i) & 0xff) - 128
          if (v >= thr || v <= -thr) {
            nc += 1; cur += 1
            if (cur == 1L) runs += 1
            if (cur > maxRun) maxRun = cur
          } else cur = 0L
          i += 1
        }
        ClipRow(m.media_id, m.bytes.length.toLong, nc, runs, maxRun)
      }
    }.toDF()
  }

  /** Voice-activity-style segment merging: active windows whose indices
    * are within `gap` inactive windows of each other coalesce into ONE
    * segment — the VAD / silence-splitting primitive that turns a
    * per-window activity decision into utterance spans (and the
    * index-domain cousin of the time-gap sessionization in the events
    * family: here the key is the window ORDINAL, so the hangover rule is
    * exact integer arithmetic, no timestamps involved).
    *
    * Plan shape: inactive windows are FILTERED before any shuffle (the
    * dominant reduction — silence is most of real audio), then one
    * media-keyed window (lag + running sum of break flags) and one
    * (media, segment) groupBy. State per key is bounded by that medium's
    * window count; nothing global, no binary payloads move.
    *
    * @param windows (media_id, win_no, active) — active ∈ {0, 1}
    * @param gap     max inactive windows bridged inside one segment
    * @return (media_id, seg_no, start_win, end_win, n_active) — seg_no is
    *         1-based in start order per medium
    */
  def activeSegments(windows: DataFrame, gap: Int): DataFrame = {
    require(gap >= 0, s"gap must be >= 0: $gap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("win_no")
    windows.filter(col("active") === 1)
      .withColumn("brk",
        when(lag(col("win_no"), 1).over(w).isNull, 1L)
          .when(col("win_no") - lag(col("win_no"), 1).over(w) > gap + 1, 1L)
          .otherwise(lit(0L)))
      .withColumn("seg_no", sum(col("brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("media_id", "seg_no")
      .agg(min("win_no").as("start_win"), max("win_no").as("end_win"),
        count(lit(1)).as("n_active"))
  }

  final case class LevelUsageRow(media_id: Long, n_samp: Long,
                                 n_levels: Long, simpson_num: Long,
                                 util_ppm: Long)

  /** Quantization-level usage: distinct sample values, 256-level
    * utilization in ppm and the Simpson concentration numerator Σc² of
    * the level histogram — re-quantized, clipped or bit-crushed audio
    * shows a collapsed level set long before it is audible. One
    * 256-entry counting pass per media.
    */
  def levelUsage(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[LevelUsageRow]
    media.mapPartitions { it =>
      it.map { m =>
        val counts = new Array[Long](256)
        var i = 0
        while (i < m.bytes.length) {
          counts(m.bytes(i) & 0xff) += 1
          i += 1
        }
        var levels = 0L; var simpson = 0L
        var j = 0
        while (j < 256) {
          if (counts(j) > 0) { levels += 1; simpson += counts(j) * counts(j) }
          j += 1
        }
        LevelUsageRow(m.media_id, m.bytes.length.toLong, levels, simpson,
          1000000L * levels / 256L)
      }
    }.toDF()
  }

}
