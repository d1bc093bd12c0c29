package graft.queries

/** Registry tiers (round-5, VERDICT.md "Next round" #2).
  *
  * A registry that runs every entry outgrows the Verify and Bench time
  * windows, so the registry (368 entries) is split into machine-readable
  * tiers:
  *
  *  - core (133 entries): the driver-run contract surface -- every
  *    SURVEY.md sec-2 operator gate (the round-3 driver-green 102) plus one to
  *    four representatives of each round-4 family (geodesic joins, holes PIP,
  *    trained IVF-PQ, SemDeDup, containment dedup, Cavnar-Trenkle langid,
  *    PII redaction, streaming, graph, trajectory, media, data-quality,
  *    image kernels, CDC, storage layout). `SparkEntry.queries`/`oracleSql`
  *    expose exactly this tier; it is what `graft.Verify` runs by default and
  *    what `graft.Bench` times.
  *  - diagnostic (6 entries): labeled exact-O(n^2) baselines and
  *    by-design destructive-resilience sweeps -- correct, oracle-checked, but
  *    definitionally not scale-shaped; never in a timed default path.
  *  - extended (everything else, 229 entries): the long analytics tail,
  *    every entry of which runs engine code (`graft.ops`, `graft.functions`,
  *    the geo/raster/table layers). Runnable via `SPARK_GRAFT_TIER=full` in
  *    Verify or the query-name args; not part of the driver default. The
  *    image family (`img_*`) has no extended entries: `ops.ImageOps` holds
  *    only the kernels the core tier runs.
  */
object Tiers {
  /** Driver-run contract tier; `SparkEntry.queries` is keyed to this set. */
  val core: Seq[String] = Seq(
    "ann_cosine_topk", "ann_ivf_assign", "ann_ivf_recall", "ann_ivf_topk",
    "ann_ivfpq_recall", "ann_ivfpq_topk", "ann_kmeans_step",
    "ann_lsh_neardup", "ann_pq_code", "bloom_semijoin", "checkpoint_resume",
    "curation_budget", "curation_decontam", "curation_decontam_fuzzy",
    "curation_pack", "curation_pipeline", "curation_quota", "curation_split",
    "curation_stratified", "curation_topk_agg", "dedup_cluster_keep",
    "dedup_cluster_star", "dedup_exact", "dedup_jaccard", "dedup_keep",
    "dedup_minhash", "dedup_minhash_recall", "dedup_simhash",
    "doc_fingerprint", "events_asof", "events_cm_topk", "events_funnel",
    "events_histq", "events_hll_distinct", "events_hourly",
    "events_key_skew", "events_quantiles", "events_retention",
    "events_rolling_z", "events_rollup", "events_sessions",
    "events_transition", "events_wau", "events_welford",
    "feature_reassembly", "geo_area", "geo_aspect", "geo_bearing",
    "geo_cell_density", "geo_contours", "geo_curvature", "geo_elev_bilinear",
    "geo_elev_cogroup", "geo_elev_nearest", "geo_elev_profile",
    "geo_flowdir", "geo_hex_cell", "geo_hillshade", "geo_knn", "geo_pip",
    "geo_pip_adaptive", "geo_pip_salted", "geo_poly_join", "geo_range_join",
    "geo_s2_cell", "geo_simplify", "geo_slope", "geo_terrarium",
    "geo_tile_cover", "geo_tile_key", "geo_tri", "geo_viewshed",
    "geo_zorder", "geo_zxy", "img_augment", "img_fidelity", "img_histogram",
    "img_integrity", "img_phash_neardup", "img_resample", "img_stats",
    "img_thumbs", "polyline_roundtrip", "q1_agg", "q3_topk", "q5_multijoin",
    "q_antijoin", "q_semijoin", "q_window", "quality_repetition",
    "quality_score", "sql_surface", "text_collocations", "text_langid",
    "text_langid_confusion", "text_stats", "text_tfidf", "tile_pyramid",
    "token_count", "zonal_hist", "zonal_stats", "zxy_rollup",
    "geo_pip_holes", "geo_knn_geodesic", "geo_range_geodesic",
    "dedup_containment", "dedup_cross_modal", "ann_semdedup",
    "ann_ivfpq_recall_trained", "ann_kmeans_train", "ann_nn_descent",
    "text_pii_redact", "text_lang_profile", "stream_window_counts",
    "stream_elevation", "stream_dedup", "checkpoint_timetravel",
    "graph_pagerank", "graph_triangles", "graph_labelprop", "traj_dtw",
    "traj_frechet", "traj_edr", "traj_speed", "media_gated_loudness",
    "media_level_usage", "dq_expectations", "dq_profile", "img_otsu",
    "img_hog", "cdc_upsert", "store_date_prune", "q_grouping_sets")

  /** O(n^2) exact baselines + destructive resilience sweeps -- opt-in only. */
  val diagnostic: Set[String] = Set(
    "ann_hubness", "ann_twonn_ratio_hist", "ann_knn_loocv",
    "ann_knn_mutuality", "graph_attack_resilience", "graph_random_failure")

  val coreSet: Set[String] = core.toSet
}
