package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the registry tiers: the driver verifies and benches
  * `SparkEntry.queries` = the core tier, so core must (a) keep every
  * SURVEY.md §2 gate, (b) resolve fully against the registry, and (c) never
  * contain a labeled O(n²) diagnostic.
  */
class TiersSpec extends AnyFunSuite {

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

  test("every §2 gate is in the core tier") {
    val missing = sec2Gates.filterNot(graft.queries.Tiers.coreSet)
    assert(missing.isEmpty, s"§2 gates missing from core: $missing")
  }

  test("core resolves fully against the registry, with oracle SQL") {
    val all = SparkEntry.allQueries.keySet
    val sql = SparkEntry.allOracleSql.keySet
    val dangling = graft.queries.Tiers.core.filterNot(all)
    val noOracle = graft.queries.Tiers.core.filterNot(sql)
    assert(dangling.isEmpty, s"core names with no query: $dangling")
    assert(noOracle.isEmpty, s"core names with no oracle: $noOracle")
    assert(graft.queries.Tiers.core.distinct.size ===
      graft.queries.Tiers.core.size, "duplicate core entries")
  }

  test("every registry entry has both a query and its oracle SQL") {
    val all = SparkEntry.allQueries.keySet
    val sql = SparkEntry.allOracleSql.keySet
    assert((all -- sql).isEmpty, s"queries with no oracle SQL: ${all -- sql}")
    assert((sql -- all).isEmpty, s"oracle SQL with no query: ${sql -- all}")
  }

  test("every diagnostic entry resolves against the registry") {
    val dangling = graft.queries.Tiers.diagnostic
      .filterNot(SparkEntry.allQueries.keySet)
    assert(dangling.isEmpty, s"diagnostic names with no query: $dangling")
  }

  test("no O(n²) diagnostic sits in the driver-run tier") {
    val leaked = graft.queries.Tiers.diagnostic
      .filter(graft.queries.Tiers.coreSet)
    assert(leaked.isEmpty, s"diagnostics leaked into core: $leaked")
  }

  test("every img_* registry entry is in the core tier") {
    // the image family keeps only the kernels the core tier runs; an
    // extended img_* entry would bring back the kernels deleted with it
    val extended = SparkEntry.allQueries.keySet.filter(_.startsWith("img_"))
      .filterNot(graft.queries.Tiers.coreSet)
    assert(extended.isEmpty, s"img_* entries outside core: ${extended.toSeq.sorted}")
  }
}
