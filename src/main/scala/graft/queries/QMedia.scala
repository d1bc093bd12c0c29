package graft
package queries

import graft.core.{FeatureRow, GeoJson, TileRow}
import graft.functions.cells
import graft.functions.raster._
import graft.functions.spatial._
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Fixtures._
import OracleCtes._
import OracleCtes2._

/** Media/audio gates over synthesized signals
  * (21 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QMedia {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_dc_offset" -> ((s, dir) => {
      ops.MediaOps.dcStats(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
    // Per-code distortion audit of the TRAINED PQ codebooks
    // (ops.Embeddings.pqDistortion): micro-floored squared error per
    // assignment — localizes the under-trained/overloaded cells behind
    // ann_ivfpq_recall_trained's number.,
    "media_tempo" -> ((s, dir) => {
      val w = ops.MediaOps.windowSquares(
        ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 128)
      val j = w.as("a").join(w.as("b"),
          col("a.media_id") === col("b.media_id") &&
            col("b.win_no") > col("a.win_no") &&
            col("b.win_no") <= col("a.win_no") + 16)
        .select(col("a.media_id").as("media_id"),
          (col("b.win_no") - col("a.win_no")).as("lag"),
          (col("a.sq_sum") * col("b.sq_sum")).as("prod"))
        .filter(col("lag") >= 2)
      val sc = j.groupBy("media_id", "lag")
        .agg(sum("prod").as("psum"), count(lit(1)).as("n_terms"))
        .withColumn("score_q", expr("psum DIV n_terms"))
      val nw = w.groupBy("media_id").agg(count(lit(1)).as("n_win"))
      sc.withColumn("rn", row_number().over(Window.partitionBy("media_id")
          .orderBy(col("score_q").desc, col("lag"))))
        .filter(col("rn") === 1).drop("rn")
        .join(nw, Seq("media_id"))
        .select("media_id", "n_win", "lag", "n_terms", "psum", "score_q")
        .orderBy("media_id")
    }),
    // Nearest-neighbour as-of join (ops.AsofJoin.asofNearest): each
    // purchase paired with its |Δt|-closest view — two directional
    // window-scan as-of passes + one comparison, never a theta-join; the
    // oracle brute-forces the per-user candidate set with the identical
    // tie ladder (equal gap → backward; within side → the directional seq
    // rule).,
    "media_frame_sample" -> ((s, dir) => {
      ops.MediaOps.frameSample(ops.MediaOps.synth(mediaMeta(s, dir)), everyMs = 500L)
        .orderBy("media_id", "ts_ms")
    }),
    // Audio path over the same table: fixed 512-sample windows, exact
    // integer sum of squares (the RMS numerator) per window.,
    "media_window_rms" -> ((s, dir) => {
      ops.MediaOps.windowSquares(ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 512)
        .orderBy("media_id", "win_no")
    }),
    // RELATIVE-GATED loudness (EBU R128's gating idea in exact integers):
    // per media, keep only windows whose energy reaches the UNGATED mean
    // (sq·n_win ≥ Σsq — cross-multiplied, no division) and report the
    // gated mean — the "how loud is the loud part" number that silence
    // padding can't dilute. One media-keyed agg + one broadcast-shaped
    // rejoin; n_gated ≥ 1 always (the max window is ≥ the mean).
    // Clipping / saturation audit (ops.MediaOps.clippingAudit): samples at
    // |v| ≥ 120, maximal clipped-run count and longest run per media —
    // the capture-quality gate (sustained saturation vs isolated peaks).
    // One sequential map-only scan; the oracle replays the runs with one
    // lag window over the closed-form byte stream.,
    "media_clipping" -> ((s, dir) => {
      ops.MediaOps.clippingAudit(ops.MediaOps.synth(mediaMeta(s, dir)),
          thr = 120)
        .orderBy("media_id")
    }),
    // Crest factor / dynamic-range audit (ops.MediaOps.crestFactor):
    // ppm-scaled crest² = 10⁶·n·peak²/Σv², one end division — the
    // over-compression screen next to media_clipping's saturation one.,
    "media_crest" -> ((s, dir) => {
      ops.MediaOps.crestFactor(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
    // Loudness range (the EBU R128 LRA analog on exact integers): per
    // asset the p95 − p10 spread of per-128-sample-window energies by
    // exact nearest-rank ((n−1)·q DIV 100 + 1) — wide LRA = dynamic
    // content, narrow = compressed/limited. One media_id window shuffle.,
    "media_lra" -> ((s, dir) => {
      val w = ops.MediaOps.windowSquares(
        ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 128)
      val byVal = Window.partitionBy("media_id").orderBy("sq_sum", "win_no")
      val all = Window.partitionBy("media_id")
      w.withColumn("rn", row_number().over(byVal).cast("long"))
        .withColumn("n", count(lit(1)).over(all))
        .groupBy("media_id")
        .agg(max("n").as("n_win"),
          max(when(col("rn") === expr("(n - 1) * 10 DIV 100 + 1"),
            col("sq_sum"))).as("p10_sq"),
          max(when(col("rn") === expr("(n - 1) * 95 DIV 100 + 1"),
            col("sq_sum"))).as("p95_sq"))
        .withColumn("lra_q", col("p95_sq") - col("p10_sq"))
        .orderBy("media_id")
    }),
    // Leading/trailing silence trim points (the audio-preprocessing cut a
    // training pipeline makes before feature extraction): per asset the
    // first/last 128-sample window whose energy clears the gate (700 000 ≈
    // the uniform-noise mean, so both states occur), active-window count,
    // and the tail gap — conditional aggregation keeps all-silent assets
    // as NULL trims. One media_id-keyed agg, zero windows.,
    "media_silence_trim" -> ((s, dir) => {
      val w = ops.MediaOps.windowSquares(
        ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 128)
      w.groupBy("media_id").agg(
          count(lit(1)).as("n_win"),
          sum(when(col("sq_sum") > 700000L, 1L).otherwise(0L))
            .as("n_active"),
          min(when(col("sq_sum") > 700000L, col("win_no")))
            .as("first_active"),
          max(when(col("sq_sum") > 700000L, col("win_no")))
            .as("last_active"))
        .withColumn("tail_gap", expr("n_win - 1 - last_active"))
        .orderBy("media_id")
    }),
    // Stuck/duplicate-frame audit (ops.MediaOps.stuckFrames): runs of
    // equal consecutive frame digests at 20 ms sampling (faster than
    // either frame rate, so repeats are structural) — the frozen-encoder
    // QA + oversampling detector; one media_id window, one row per asset.,
    "media_frame_dedup" -> ((s, dir) => {
      ops.MediaOps.stuckFrames(ops.MediaOps.synth(mediaMeta(s, dir)),
          everyMs = 20L)
        .orderBy("media_id")
    }),
    // Zero-crossing rate census (ops.MediaOps.zeroCrossingRate): strict
    // sign flips per 512-sample window, per-asset total + max/min window
    // — the spectral-content proxy beside media_window_rms's energy
    // (voiced content crosses rarely, noise constantly; the VAD feature
    // pair). Decode-once, zero shuffle, one row per asset.,
    "media_zcr" -> ((s, dir) => {
      ops.MediaOps.zeroCrossingRate(ops.MediaOps.synth(mediaMeta(s, dir)),
          winLen = 512)
        .orderBy("media_id")
    }),
    "media_gated_loudness" -> ((s, dir) => {
      val w = ops.MediaOps.windowSquares(
        ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 512)
      val tot = w.groupBy("media_id")
        .agg(count(lit(1)).as("n_win"), sum("sq_sum").as("tot_sq"))
      w.join(tot, "media_id")
        .filter(col("sq_sum") * col("n_win") >= col("tot_sq"))
        .groupBy("media_id", "n_win", "tot_sq")
        .agg(count(lit(1)).as("n_gated"), sum("sq_sum").as("gated_sum"))
        .withColumn("gated_mean_q", expr("gated_sum div n_gated"))
        .select("media_id", "n_win", "n_gated", "tot_sq", "gated_sum",
          "gated_mean_q")
        .orderBy("media_id")
    }),
    // A/V alignment by integer cross-correlation: the second track is the
    // first's window-energy sequence shifted by the per-media true lag
    // (media_id % 5 − 2); xc(L) = Σ a(w)·b(w+L) over lags −4..4 in exact
    // integers, argmax per media recovers −lag. The sync-offset estimator
    // of multimodal ingest, as one lag-literal fanout + ONE media-keyed
    // equi-join (never a window-by-window driver loop).,
    "media_av_offset" -> ((s, dir) => {
      import s.implicits._
      val a = ops.MediaOps.windowSquares(
          ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 512)
        .select(col("media_id"), col("win_no"), col("sq_sum").as("sq"))
        .localCheckpoint(false)
      val b = a.selectExpr("media_id",
        "win_no - (media_id % 5 - 2) AS wb", "sq AS sqb")
      val lags = (-4L to 4L).toSeq.toDF("lag")
      val probe = a.crossJoin(broadcast(lags))
        .select(col("media_id"), col("lag"), col("sq"),
          (col("win_no") + col("lag")).as("wb"))
      probe.join(b, Seq("media_id", "wb"))
        .groupBy("media_id", "lag")
        .agg(sum(col("sq") * col("sqb")).as("xc"),
          count(lit(1)).as("n_overlap"))
        .withColumn("rn", row_number().over(Window.partitionBy("media_id")
          .orderBy(col("xc").desc, col("lag"))))
        .filter(col("rn") === 1)
        .select(col("media_id"), col("lag").as("best_lag"), col("xc"),
          col("n_overlap"))
        .orderBy("media_id")
    }),
    // VAD segment merging (ops.MediaOps.activeSegments): per-window
    // activity decisions (closed-form gate: (m·131 + w·37) % 97 < 40)
    // coalesced into utterance spans with a 1-window hangover — silence
    // filtered BEFORE the shuffle, one media-keyed window + groupBy. The
    // window ordinals come from the same synthetic byte stream as
    // media_window_rms (n_bytes/64 windows per medium).,
    "media_active_segments" -> ((s, dir) => {
      val wins = mediaMeta(s, dir)
        .select(col("media_id"), explode(sequence(lit(0L),
          expr("CAST(n_bytes DIV 64 AS BIGINT) - 1"))).as("win_no"))
        .withColumn("active",
          expr("CASE WHEN (media_id*131 + win_no*37) % 97 < 40 THEN 1 ELSE 0 END"))
      ops.MediaOps.activeSegments(wins, gap = 1)
        .orderBy("media_id", "seg_no")
    }),
    // Shot-boundary detection (ops.MediaOps.sceneCuts): luminance-jump
    // cuts over the sampled frame stream — decode-side features into one
    // media_id window; binary payloads never shuffle.,
    "media_scene_cut" -> ((s, dir) => {
      ops.MediaOps.sceneCuts(ops.MediaOps.synth(mediaMeta(s, dir)),
          everyMs = 500L, threshold = 40L)
        .orderBy("media_id", "ts_ms")
    }),
    "media_fades" -> ((s, dir) => {
      val wseq = ops.MediaOps.windowSquares(
        ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 128)
      val w = Window.partitionBy("media_id").orderBy("win_no")
      wseq.withColumn("prev", lag("sq_sum", 1).over(w))
        .withColumn("nxt", lead("sq_sum", 1).over(w))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_win"),
          min(when(col("prev").isNotNull &&
            col("sq_sum") <= col("prev"), col("win_no"))).as("fi"),
          max(when(col("nxt").isNotNull &&
            col("sq_sum") <= col("nxt"), col("win_no"))).as("fo"))
        .withColumn("fadein_wins", expr("coalesce(fi, n_win)"))
        .withColumn("fadeout_wins",
          expr("CASE WHEN fo IS NULL THEN n_win ELSE n_win - 1 - fo END"))
        .select("media_id", "n_win", "fadein_wins", "fadeout_wins")
        .orderBy("media_id")
    }),
    "media_codec_mix" -> ((s, dir) => {
      ops.MediaOps.synth(mediaMeta(s, dir))
        .groupBy("fmt")
        .agg(count(lit(1)).as("n_assets"),
          sum(expr("CAST(length(bytes) AS BIGINT)")).as("total_bytes"),
          sum("duration_ms").as("total_duration_ms"),
          min("fps_milli").as("min_fps_milli"),
          max("fps_milli").as("max_fps_milli"))
        .orderBy("fmt")
    }),
    // Cluster purity against the PLANTED duplicate truth (variant ids are
    // base + 100000/200000, so base = doc_id % 100000 is ground truth):
    // per MinHash CC cluster the majority-base share — the
    // dedup-clustering precision eval above dedup_minhash_recall's pair
    // recall.,
    "media_true_peak" -> ((s, dir) => {
      ops.MediaOps.truePeak(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
    // Yule's K vocabulary-richness pieces per source: N, V, and the
    // frequency-spectrum second moment S2 = sum c^2 — K in milli by
    // cross-multiplied floor division (repetitiveness gauge next to
    // text_mattr's type-token curve).,
    "media_decimate_audit" -> ((s, dir) => {
      ops.MediaOps.decimateAudit(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
    "media_minmax_pyramid" -> ((s, dir) => {
      ops.MediaOps.minmaxPyramid(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id", "level", "bucket")
    }),
    // TextRank keyphrases (Mihalcea-Tarau 2004, public): co-occurrence
    // graph (distance <= 2) over alphabetical dense token ids, 3 integer
    // ppm PageRank rounds (ops.Graph.pagerank), top-10 by score.,
    "media_echo_lag" -> ((s, dir) => {
      ops.MediaOps.echoLag(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
    // Dictionary-encoding gain estimator: per varchar column the exact
    // plain vs dictionary byte model (distinct payload + ceil(log2 n)
    // bits per row) — the columnar-layout decision number a writer
    // computes before choosing an encoding.,
    "media_level_usage" -> ((s, dir) => {
      ops.MediaOps.levelUsage(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
    // Run-length encoding gain in arrival order vs sorted: RLE run
    // counts of o_orderstatus over the o_orderkey sequence vs its
    // sorted layout — the sort-before-write decision number.
  )

  val sql: Map[String, String] = Map(
    "media_dc_offset" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, n_bytes,
             CAST(list_sum(list_transform(range(0, n_bytes),
               k -> ((media_id*31 + k*7) % 256) - 128)) AS BIGINT) AS sum_v,
             CAST(list_min(list_transform(range(0, n_bytes),
               k -> ((media_id*31 + k*7) % 256) - 128)) AS BIGINT) AS min_v,
             CAST(list_max(list_transform(range(0, n_bytes),
               k -> ((media_id*31 + k*7) % 256) - 128)) AS BIGINT) AS max_v
           FROM m)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(n_bytes AS BIGINT) AS n_samp, sum_v, min_v, max_v
         FROM s ORDER BY media_id""",
    // trained-codebook assignment with d2 carried, micro-floored per vector,
    "media_tempo" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 128)) AS win_no FROM m),
         sq AS (SELECT media_id, win_no,
             CAST(list_sum(list_transform(range(0,128),
               i -> (((media_id*31 + (win_no*128+i)*7) % 256) - 128)
                  * (((media_id*31 + (win_no*128+i)*7) % 256) - 128))) AS BIGINT) AS sq_sum
           FROM w),
         j AS (SELECT a.media_id, b.win_no - a.win_no AS lag,
             a.sq_sum * b.sq_sum AS prod
           FROM sq a JOIN sq b ON b.media_id = a.media_id
             AND b.win_no - a.win_no BETWEEN 2 AND 16),
         sc AS (SELECT media_id, lag, CAST(sum(prod) AS BIGINT) AS psum,
             CAST(count(*) AS BIGINT) AS n_terms FROM j GROUP BY 1, 2),
         nw AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_win
           FROM sq GROUP BY 1),
         r AS (SELECT media_id, lag, psum, n_terms,
             psum // n_terms AS score_q,
             row_number() OVER (PARTITION BY media_id
               ORDER BY psum // n_terms DESC, lag) AS rn FROM sc)
         SELECT CAST(r.media_id AS BIGINT) AS media_id, n_win,
           CAST(lag AS BIGINT) AS lag, n_terms, psum, score_q
         FROM r JOIN nw ON nw.media_id = r.media_id WHERE rn = 1
         ORDER BY r.media_id""",
    // brute-force per-user candidates with the same tie ladder: gap asc,
    // backward first, then the directional seq rule,
    "media_frame_sample" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           1000 + (s_suppkey % 20) * 500 AS duration_ms,
           CASE WHEN s_suppkey % 2 = 0 THEN 24000 ELSE 30000 END AS fps_milli,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         f AS (SELECT media_id, fps_milli, n_bytes,
           unnest(range(0, duration_ms, 500)) AS ts_ms FROM m),
         h AS (SELECT media_id, ts_ms, ts_ms * fps_milli // 1000000 AS frame_no,
           n_bytes FROM f),
         o AS (SELECT media_id, frame_no, ts_ms,
           (frame_no * 997) % (n_bytes - 16) AS off FROM h)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(frame_no AS BIGINT) AS frame_no,
           CAST(ts_ms AS BIGINT) AS ts_ms,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0,16),
               i -> CAST((media_id*31 + (off+i)*7) % 256 AS BIGINT))),
             (d,b) -> (d*131 + b) % 1000000007) AS BIGINT) AS frame_digest,
           CAST(list_sum(list_transform(range(0,16),
             i -> (media_id*31 + (off+i)*7) % 256)) // 16 AS BIGINT) AS luma16
         FROM o ORDER BY media_id, ts_ms""",
    "media_window_rms" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 512)) AS win_no FROM m)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(win_no AS BIGINT) AS win_no,
           CAST(512 AS BIGINT) AS n_samp,
           CAST(list_sum(list_transform(range(0,512),
             i -> (((media_id*31 + (win_no*512+i)*7) % 256) - 128)
                * (((media_id*31 + (win_no*512+i)*7) % 256) - 128))) AS BIGINT) AS sq_sum
         FROM w ORDER BY media_id, win_no""",
    // closed-form byte stream; runs via one lag window (run starts) + a
    // running sum of starts as the run id
    // crest: closed-form byte stream, one end floor-division,
    "media_clipping" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, n_bytes, unnest(range(0, n_bytes)) AS k FROM m),
         c AS (SELECT media_id, k,
             abs(((media_id*31 + k*7) % 256) - 128) >= 120 AS clip FROM s),
         r AS (SELECT media_id, k, clip,
             CASE WHEN clip AND NOT coalesce(
                 lag(clip) OVER (PARTITION BY media_id ORDER BY k), FALSE)
               THEN 1 ELSE 0 END AS st
           FROM c),
         runs AS (SELECT media_id, clip,
             sum(st) OVER (PARTITION BY media_id ORDER BY k) AS run_id FROM r),
         rl AS (SELECT media_id, run_id, CAST(count(*) AS BIGINT) AS len
           FROM runs WHERE clip GROUP BY 1, 2),
         agg AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_runs,
             CAST(sum(len) AS BIGINT) AS n_clipped,
             CAST(max(len) AS BIGINT) AS max_run FROM rl GROUP BY 1)
         SELECT CAST(m.media_id AS BIGINT) AS media_id,
           CAST(m.n_bytes AS BIGINT) AS n_samp,
           coalesce(a.n_clipped, CAST(0 AS BIGINT)) AS n_clipped,
           coalesce(a.n_runs, CAST(0 AS BIGINT)) AS n_runs,
           coalesce(a.max_run, CAST(0 AS BIGINT)) AS max_run
         FROM m LEFT JOIN agg a ON a.media_id = m.media_id
         ORDER BY media_id""",
    // window energies re-gated at the ungated mean by cross-multiplication,
    "media_crest" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, n_bytes, unnest(range(0, n_bytes)) AS k FROM m),
         v AS (SELECT media_id, n_bytes, ((media_id*31 + k*7) % 256) - 128 AS v FROM s),
         a AS (SELECT media_id, CAST(max(n_bytes) AS BIGINT) AS n_samp,
             CAST(max(abs(v)) AS BIGINT) AS peak_abs,
             CAST(sum(v*v) AS BIGINT) AS sum_sq
           FROM v GROUP BY 1)
         SELECT CAST(media_id AS BIGINT) AS media_id, n_samp, peak_abs, sum_sq,
           CASE WHEN sum_sq > 0
             THEN (1000000 * n_samp * peak_abs * peak_abs) // sum_sq
             ELSE CAST(0 AS BIGINT) END AS crest_ppm
         FROM a ORDER BY media_id""",
    // 128-sample window energies from the closed form, exact nearest-rank
    // p10/p95 per asset,
    "media_lra" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 128)) AS win_no FROM m),
         sq AS (SELECT media_id, win_no,
             CAST(list_sum(list_transform(range(0,128),
               i -> (((media_id*31 + (win_no*128+i)*7) % 256) - 128)
                  * (((media_id*31 + (win_no*128+i)*7) % 256) - 128))) AS BIGINT) AS sq_sum
           FROM w),
         r AS (SELECT media_id, sq_sum,
             row_number() OVER (PARTITION BY media_id ORDER BY sq_sum, win_no) AS rn,
             count(*) OVER (PARTITION BY media_id) AS n FROM sq)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(max(n) AS BIGINT) AS n_win,
           max(CASE WHEN rn = (n - 1) * 10 // 100 + 1 THEN sq_sum END) AS p10_sq,
           max(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN sq_sum END) AS p95_sq,
           max(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN sq_sum END)
             - max(CASE WHEN rn = (n - 1) * 10 // 100 + 1 THEN sq_sum END) AS lra_q
         FROM r GROUP BY 1 ORDER BY media_id""",
    // same 128-sample window energies, conditional min/max over the
    // active gate,
    "media_silence_trim" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 128)) AS win_no FROM m),
         sq AS (SELECT media_id, win_no,
             CAST(list_sum(list_transform(range(0,128),
               i -> (((media_id*31 + (win_no*128+i)*7) % 256) - 128)
                  * (((media_id*31 + (win_no*128+i)*7) % 256) - 128))) AS BIGINT) AS sq_sum
           FROM w)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(count(*) AS BIGINT) AS n_win,
           CAST(sum(CASE WHEN sq_sum > 700000 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           CAST(min(CASE WHEN sq_sum > 700000 THEN win_no END) AS BIGINT) AS first_active,
           CAST(max(CASE WHEN sq_sum > 700000 THEN win_no END) AS BIGINT) AS last_active,
           CAST(count(*) - 1
             - max(CASE WHEN sq_sum > 700000 THEN win_no END) AS BIGINT) AS tail_gap
         FROM sq GROUP BY 1 ORDER BY media_id""",
    // the frame_sample digest replay + run-length grouping on equal
    // consecutive digests (IS DISTINCT FROM starts runs, first row too),
    "media_frame_dedup" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           1000 + (s_suppkey % 20) * 500 AS duration_ms,
           CASE WHEN s_suppkey % 2 = 0 THEN 24000 ELSE 30000 END AS fps_milli,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         f AS (SELECT media_id, fps_milli, n_bytes,
           unnest(range(0, duration_ms, 20)) AS ts_ms FROM m),
         h AS (SELECT media_id, ts_ms, ts_ms * fps_milli // 1000000 AS frame_no,
           n_bytes FROM f),
         o AS (SELECT media_id, ts_ms,
           (frame_no * 997) % (n_bytes - 16) AS off FROM h),
         dg AS (SELECT media_id, ts_ms,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0,16),
                 i -> CAST((media_id*31 + (off+i)*7) % 256 AS BIGINT))),
               (d,b) -> (d*131 + b) % 1000000007) AS dig FROM o),
         st AS (SELECT media_id, ts_ms,
             CASE WHEN lag(dig) OVER w IS DISTINCT FROM dig THEN 1 ELSE 0 END AS strt
           FROM dg WINDOW w AS (PARTITION BY media_id ORDER BY ts_ms)),
         ru AS (SELECT media_id,
             sum(strt) OVER (PARTITION BY media_id ORDER BY ts_ms) AS run_id
           FROM st),
         rl AS (SELECT media_id, run_id, CAST(count(*) AS BIGINT) AS len
           FROM ru GROUP BY 1, 2)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(sum(len) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN len >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stuck_runs,
           CAST(max(len) AS BIGINT) AS max_run,
           CAST(sum(len - 1) AS BIGINT) AS n_dup_frames
         FROM rl GROUP BY 1 ORDER BY media_id""",
    // per-window strict sign-flip counts from the closed-form byte
    // formula; lead() pairs, pos < 511 keeps pairs inside one window,
    "media_zcr" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, n_bytes, unnest(range(0, n_bytes)) AS k FROM m),
         v AS (SELECT media_id, n_bytes, k, k // 512 AS win,
             ((media_id * 31 + k * 7) % 256) - 128 AS x FROM s),
         p AS (SELECT media_id, win, x,
             lead(x) OVER (PARTITION BY media_id ORDER BY k) AS nx,
             k % 512 AS pos
           FROM v WHERE k < (n_bytes // 512) * 512),
         c AS (SELECT media_id, win,
             CAST(sum(CASE WHEN pos < 511 AND x * nx < 0 THEN 1 ELSE 0 END) AS BIGINT) AS cr
           FROM p GROUP BY 1, 2)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(count(*) AS BIGINT) AS n_win,
           CAST(sum(cr) AS BIGINT) AS total_cross,
           max(cr) AS max_cross, min(cr) AS min_cross
         FROM c GROUP BY 1 ORDER BY media_id""",
    "media_gated_loudness" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 512)) AS win_no FROM m),
         wsq AS (SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(list_sum(list_transform(range(0,512),
             i -> (((media_id*31 + (win_no*512+i)*7) % 256) - 128)
                * (((media_id*31 + (win_no*512+i)*7) % 256) - 128))) AS BIGINT) AS sq
           FROM w),
         tot AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_win,
             CAST(sum(sq) AS BIGINT) AS tot_sq
           FROM wsq GROUP BY 1)
         SELECT w.media_id, t.n_win, CAST(count(*) AS BIGINT) AS n_gated,
           t.tot_sq, CAST(sum(w.sq) AS BIGINT) AS gated_sum,
           CAST(sum(w.sq) AS BIGINT) // CAST(count(*) AS BIGINT) AS gated_mean_q
         FROM wsq w JOIN tot t ON w.media_id = t.media_id
         WHERE w.sq * t.n_win >= t.tot_sq
         GROUP BY w.media_id, t.n_win, t.tot_sq
         ORDER BY w.media_id""",
    // cross-correlation of the window-energy sequence with its lag-shifted
    // copy at 9 lag literals; argmax per media (ties by lag asc),
    "media_av_offset" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 512)) AS win_no FROM m),
         wsq AS MATERIALIZED (SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(win_no AS BIGINT) AS win_no,
           CAST(list_sum(list_transform(range(0,512),
             i -> (((media_id*31 + (win_no*512+i)*7) % 256) - 128)
                * (((media_id*31 + (win_no*512+i)*7) % 256) - 128))) AS BIGINT) AS sq
           FROM w),
         b AS (SELECT media_id, win_no - (media_id % 5 - 2) AS wb, sq AS sqb FROM wsq),
         l AS (SELECT unnest(range(-4, 5)) AS lag),
         pr AS (SELECT a.media_id, l.lag, a.sq, a.win_no + l.lag AS wb FROM wsq a, l),
         ag AS (SELECT pr.media_id, pr.lag,
             CAST(sum(pr.sq * b.sqb) AS BIGINT) AS xc,
             CAST(count(*) AS BIGINT) AS n_overlap
           FROM pr JOIN b ON b.media_id = pr.media_id AND b.wb = pr.wb
           GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY media_id
             ORDER BY xc DESC, lag) AS rn FROM ag)
         SELECT media_id, CAST(lag AS BIGINT) AS best_lag, xc, n_overlap
         FROM r WHERE rn = 1 ORDER BY media_id""",
    // VAD segments: same closed-form activity gate, lag-break + running
    // sum islands, per-(media, segment) span rollup,
    "media_active_segments" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 64)) AS win_no FROM m),
         act AS (SELECT media_id, win_no FROM w
           WHERE (media_id*131 + win_no*37) % 97 < 40),
         brk AS (SELECT media_id, win_no,
             CASE WHEN lag(win_no) OVER mw IS NULL THEN 1
                  WHEN win_no - lag(win_no) OVER mw > 2 THEN 1
                  ELSE 0 END AS b
           FROM act WINDOW mw AS (PARTITION BY media_id ORDER BY win_no)),
         seg AS (SELECT media_id, win_no,
             sum(b) OVER (PARTITION BY media_id ORDER BY win_no
               ROWS UNBOUNDED PRECEDING) AS seg_no
           FROM brk)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(seg_no AS BIGINT) AS seg_no,
           CAST(min(win_no) AS BIGINT) AS start_win,
           CAST(max(win_no) AS BIGINT) AS end_win,
           count(*) AS n_active
         FROM seg GROUP BY 1, 2 ORDER BY media_id, seg_no""",
    "media_scene_cut" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           1000 + (s_suppkey % 20) * 500 AS duration_ms,
           CASE WHEN s_suppkey % 2 = 0 THEN 24000 ELSE 30000 END AS fps_milli,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         f AS (SELECT media_id, fps_milli, n_bytes,
           unnest(range(0, duration_ms, 500)) AS ts_ms FROM m),
         h AS (SELECT media_id, ts_ms, ts_ms * fps_milli // 1000000 AS frame_no,
           n_bytes FROM f),
         o AS (SELECT media_id, frame_no, ts_ms,
           (frame_no * 997) % (n_bytes - 16) AS off FROM h),
         fr AS (SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(ts_ms AS BIGINT) AS ts_ms,
           CAST(list_sum(list_transform(range(0,16),
             i -> (media_id*31 + (off+i)*7) % 256)) // 16 AS BIGINT) AS luma16
           FROM o),
         d AS (SELECT media_id, ts_ms, luma16, lag(luma16) OVER w AS pl
           FROM fr WINDOW w AS (PARTITION BY media_id ORDER BY ts_ms))
         SELECT media_id, ts_ms, luma16,
           CAST(coalesce(abs(luma16 - pl), 0) AS BIGINT) AS d_lum,
           (pl IS NOT NULL AND abs(luma16 - pl) > 40) AS cut
         FROM d ORDER BY media_id, ts_ms""",
    "media_fades" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 128)) AS win_no FROM m),
         sq AS (SELECT media_id, win_no,
             CAST(list_sum(list_transform(range(0,128),
               i -> (((media_id*31 + (win_no*128+i)*7) % 256) - 128)
                  * (((media_id*31 + (win_no*128+i)*7) % 256) - 128))) AS BIGINT) AS sq_sum
           FROM w),
         l AS (SELECT media_id, win_no, sq_sum,
             lag(sq_sum) OVER pw AS prev, lead(sq_sum) OVER pw AS nxt
           FROM sq WINDOW pw AS (PARTITION BY media_id ORDER BY win_no)),
         a AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_win,
             CAST(min(CASE WHEN prev IS NOT NULL AND sq_sum <= prev
               THEN win_no END) AS BIGINT) AS fi,
             CAST(max(CASE WHEN nxt IS NOT NULL AND sq_sum <= nxt
               THEN win_no END) AS BIGINT) AS fo
           FROM l GROUP BY 1)
         SELECT CAST(media_id AS BIGINT) AS media_id, n_win,
           COALESCE(fi, n_win) AS fadein_wins,
           CASE WHEN fo IS NULL THEN n_win ELSE n_win - 1 - fo END
             AS fadeout_wins
         FROM a ORDER BY media_id""",
    // closed-form moment sums with Scala-precomputed axis constants,
    "media_codec_mix" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'v8' ELSE 'pcm' END AS fmt,
           4096 + (s_suppkey % 7) * 512 AS n_bytes,
           1000 + (s_suppkey % 20) * 500 AS duration_ms,
           CASE WHEN s_suppkey % 2 = 0 THEN 24000 ELSE 30000 END AS fps_milli
           FROM supplier)
         SELECT fmt, CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
           CAST(min(fps_milli) AS BIGINT) AS min_fps_milli,
           CAST(max(fps_milli) AS BIGINT) AS max_fps_milli
         FROM m GROUP BY 1 ORDER BY fmt""",
    // the reach-CC cluster map + planted-base purity rollup,
    "media_true_peak" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, CAST(k AS BIGINT) AS k,
             CAST(((media_id*31 + k*7) % 256) - 128 AS BIGINT) AS v
           FROM m, unnest(range(0, n_bytes)) AS t(k)),
         pk AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_samp,
             CAST(max(abs(v)) AS BIGINT) AS peak FROM s GROUP BY 1),
         w AS (SELECT media_id, v,
             lag(v) OVER (PARTITION BY media_id ORDER BY k) AS vm1,
             lead(v) OVER (PARTITION BY media_id ORDER BY k) AS vp1,
             lead(v, 2) OVER (PARTITION BY media_id ORDER BY k) AS vp2
           FROM s),
         h AS (SELECT media_id,
             CAST(max(abs(-vm1 + 9*v + 9*vp1 - vp2)) AS BIGINT) AS hmax,
             CAST(sum(CASE WHEN abs(-vm1 + 9*v + 9*vp1 - vp2) >
               16 * greatest(abs(v), abs(vp1)) THEN 1 ELSE 0 END) AS BIGINT) AS n_isp
           FROM w WHERE vm1 IS NOT NULL AND vp1 IS NOT NULL
             AND vp2 IS NOT NULL
           GROUP BY 1)
         SELECT CAST(pk.media_id AS BIGINT) AS media_id, n_samp, peak,
           greatest(16 * peak, COALESCE(hmax, CAST(0 AS BIGINT))) AS true_peak_x16,
           COALESCE(n_isp, CAST(0 AS BIGINT)) AS n_isp
         FROM pk LEFT JOIN h ON h.media_id = pk.media_id
         ORDER BY media_id""",
    // same whitespace tokens, frequency-spectrum second moment, milli K,
    "media_decimate_audit" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, CAST(k AS BIGINT) AS k,
             CAST(((media_id*31 + k*7) % 256) - 128 AS BIGINT) AS v
           FROM m, unnest(range(0, n_bytes)) AS t(k)),
         tot AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_samp,
             CAST(sum(v * v) AS BIGINT) AS sq_sum FROM s GROUP BY 1),
         pr AS (SELECT s0.media_id,
             (s0.v + s1.v + 256) // 2 - 128 AS mean,
             s0.v - s1.v AS d
           FROM s s0 JOIN s s1 ON s1.media_id = s0.media_id
             AND s1.k = s0.k + 1
           WHERE s0.k % 2 = 0),
         de AS (SELECT media_id, CAST(sum(mean * mean) AS BIGINT) AS dec_sq_sum,
             CAST(sum(d * d) AS BIGINT) AS hf_sum FROM pr GROUP BY 1)
         SELECT CAST(tot.media_id AS BIGINT) AS media_id, n_samp, sq_sum,
           dec_sq_sum, hf_sum
         FROM tot JOIN de ON de.media_id = tot.media_id
         ORDER BY media_id""",
    // 32 unrolled Jacobi rounds on the offset-80 window, border pinned,
    "media_minmax_pyramid" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, CAST(k AS BIGINT) AS k,
             CAST(((media_id*31 + k*7) % 256) - 128 AS BIGINT) AS v
           FROM m, unnest(range(0, n_bytes)) AS t(k)),
         levels(level, w) AS (VALUES (0, 256), (1, 1024), (2, 4096))
         SELECT CAST(s.media_id AS BIGINT) AS media_id,
           CAST(level AS INT) AS level, k // w AS bucket,
           CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max
         FROM s, levels GROUP BY 1, 2, 3
         ORDER BY media_id, level, bucket""",
    // same co-occurrence graph on alphabetical ids, 3 unrolled pr rounds,
    "media_echo_lag" -> {
      val lagValues = (20 to 95 by 5).map(l => s"($l)").mkString(",")
      s"""WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, CAST(k AS BIGINT) AS k,
             CAST(((media_id*31 + k*7) % 256) - 128 AS BIGINT) AS v
           FROM m, unnest(range(0, n_bytes)) AS t(k)),
         a0 AS (SELECT media_id, CAST(sum(v * v) AS BIGINT) AS ac0
           FROM s GROUP BY 1),
         lags(lag) AS (VALUES $lagValues),
         ac AS (SELECT a.media_id, lag,
             CAST(sum(a.v * b.v) AS BIGINT) AS acv
           FROM s a JOIN lags ON true
           JOIN s b ON b.media_id = a.media_id AND b.k = a.k + lag
           GROUP BY 1, 2),
         best AS (SELECT media_id, CAST(lag AS BIGINT) AS best_lag,
             acv AS ac_best
           FROM ac QUALIFY row_number() OVER (PARTITION BY media_id
             ORDER BY acv DESC, lag) = 1)
         SELECT CAST(a0.media_id AS BIGINT) AS media_id, ac0, best_lag,
           ac_best
         FROM a0 JOIN best ON best.media_id = a0.media_id
         ORDER BY media_id"""
    },
    // exact plain vs dict byte models per varchar column,
    "media_level_usage" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, (media_id*31 + k*7) % 256 AS lvl
           FROM m, unnest(range(0, n_bytes)) AS t(k)),
         lc AS (SELECT media_id, lvl, CAST(count(*) AS BIGINT) AS c
           FROM s GROUP BY 1, 2)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(sum(c) AS BIGINT) AS n_samp,
           CAST(count(*) AS BIGINT) AS n_levels,
           CAST(sum(c * c) AS BIGINT) AS simpson_num,
           CAST(1000000 * count(*) // 256 AS BIGINT) AS util_ppm
         FROM lc GROUP BY 1 ORDER BY media_id""",
    // lag-based run starts in arrival order vs the sorted layout
  )
}
