package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the registry: the driver verifies and benches every
  * `SparkEntry.queries` entry, so the registry must (a) be exactly the 133
  * names below, so a lost or added entry fails here, (b) keep every
  * SURVEY.md §2 gate, and (c) pair every query with its oracle SQL.
  */
class RegistrySpec extends AnyFunSuite {

  private val registryNames = Set(
    "ann_cosine_topk", "ann_ivf_assign", "ann_ivf_recall", "ann_ivf_topk",
    "ann_ivfpq_recall", "ann_ivfpq_recall_trained", "ann_ivfpq_topk",
    "ann_kmeans_step", "ann_kmeans_train", "ann_lsh_neardup",
    "ann_nn_descent", "ann_pq_code", "ann_semdedup", "bloom_semijoin",
    "cdc_upsert", "checkpoint_resume", "checkpoint_timetravel",
    "curation_budget", "curation_decontam", "curation_decontam_fuzzy",
    "curation_pack", "curation_pipeline", "curation_quota", "curation_split",
    "curation_stratified", "curation_topk_agg", "dedup_cluster_keep",
    "dedup_cluster_star", "dedup_containment", "dedup_cross_modal",
    "dedup_exact", "dedup_jaccard", "dedup_keep", "dedup_minhash",
    "dedup_minhash_recall", "dedup_simhash", "doc_fingerprint",
    "dq_expectations", "dq_profile", "events_asof", "events_cm_topk",
    "events_funnel", "events_histq", "events_hll_distinct", "events_hourly",
    "events_key_skew", "events_quantiles", "events_retention",
    "events_rolling_z", "events_rollup", "events_sessions",
    "events_transition", "events_wau", "events_welford", "feature_reassembly",
    "geo_area", "geo_aspect", "geo_bearing", "geo_cell_density",
    "geo_contours", "geo_curvature", "geo_elev_bilinear", "geo_elev_cogroup",
    "geo_elev_nearest", "geo_elev_profile", "geo_flowdir", "geo_hex_cell",
    "geo_hillshade", "geo_knn", "geo_knn_geodesic", "geo_pip",
    "geo_pip_adaptive", "geo_pip_holes", "geo_pip_salted", "geo_poly_join",
    "geo_range_geodesic", "geo_range_join", "geo_s2_cell", "geo_simplify",
    "geo_slope", "geo_terrarium", "geo_tile_cover", "geo_tile_key", "geo_tri",
    "geo_viewshed", "geo_zorder", "geo_zxy", "graph_labelprop",
    "graph_pagerank", "graph_triangles", "img_augment", "img_fidelity",
    "img_histogram", "img_hog", "img_integrity", "img_otsu",
    "img_phash_neardup", "img_resample", "img_stats", "img_thumbs",
    "media_gated_loudness", "media_level_usage", "polyline_roundtrip",
    "q1_agg", "q3_topk", "q5_multijoin", "q_antijoin", "q_grouping_sets",
    "q_semijoin", "q_window", "quality_repetition", "quality_score",
    "sql_surface", "store_date_prune", "stream_dedup", "stream_elevation",
    "stream_window_counts", "text_collocations", "text_lang_profile",
    "text_langid", "text_langid_confusion", "text_pii_redact", "text_stats",
    "text_tfidf", "tile_pyramid", "token_count", "traj_dtw", "traj_edr",
    "traj_frechet", "traj_speed", "zonal_hist", "zonal_stats", "zxy_rollup")

  /** §2 inventory gates (VERDICT r4 coverage table, one query per row). */
  private val sec2Gates = Seq(
    "geo_elev_bilinear", "geo_elev_cogroup", "geo_elev_nearest",
    "feature_reassembly", "polyline_roundtrip", "checkpoint_resume",
    "events_welford", "img_integrity",
    "geo_pip", "geo_pip_salted", "geo_pip_adaptive", "geo_pip_holes",
    "geo_knn", "geo_knn_geodesic", "geo_range_join", "geo_range_geodesic",
    "geo_poly_join", "geo_tile_key", "geo_terrarium", "img_stats",
    "geo_zxy", "geo_zorder", "geo_s2_cell", "geo_hex_cell",
    "stream_window_counts", "q1_agg", "q3_topk", "q5_multijoin")

  test("the registry is exactly the 133 pinned names") {
    val names = SparkEntry.queries.keySet
    assert(registryNames.size === 133)
    assert((registryNames -- names).isEmpty,
      s"pinned names with no query: ${(registryNames -- names).toSeq.sorted}")
    assert((names -- registryNames).isEmpty,
      s"queries outside the pinned set: ${(names -- registryNames).toSeq.sorted}")
  }

  test("every §2 gate is in the registry") {
    val missing = sec2Gates.filterNot(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"§2 gates missing from the registry: $missing")
  }

  test("every registry entry has both a query and its oracle SQL") {
    val all = SparkEntry.queries.keySet
    val sql = SparkEntry.oracleSql.keySet
    assert((all -- sql).isEmpty, s"queries with no oracle SQL: ${all -- sql}")
    assert((sql -- all).isEmpty, s"oracle SQL with no query: ${sql -- all}")
  }
}
