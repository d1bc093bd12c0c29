package graft

import graft.core.TileRow
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the plans we designed for are the plans Catalyst
  * actually produces (".explain and iterate until it's the plan you'd want").
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("broadcast elevation lookup is shuffle-free and single-stage codegen") {
    import spark.implicits._
    // parquet-backed input: a purely local Seq would be constant-folded by
    // ConvertToLocalRelation and leave no codegen stage to assert on
    val ptsDir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_pts"
    graft.table.Checkpoint.clear(ptsDir)
    (1 to 1000).map(i => (i.toLong, -119.5 + i * 1e-4, 36.5 + i * 1e-4))
      .toDF("point_id", "lng", "lat").write.mode("overwrite").parquet(ptsDir)
    val pts = spark.read.parquet(ptsDir)
    val tiles = spark.createDataset(TileGen.tiles(Seq((-120, 36)), 61, "hgt"))(
      Encoders.product[TileRow])
    val out = Elevation.lookupBroadcast(pts, tiles)
    val plan = out.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"expected no shuffle, plan:\n$plan")
    val codegen = plan.collect { case w: WholeStageCodegenExec => w }
    assert(codegen.nonEmpty, "expected whole-stage codegen")
  }

  test("filters and projection push down to the parquet scan") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pushdown_test"
    graft.table.Checkpoint.clear(dir)
    spark.range(0, 10000)
      .selectExpr("id", "id * 2 AS a", "id * 3 AS b", "cast(id as string) AS s")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).where(col("a") > 19000).select("id", "a")
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan"))
    // data filter reaches the scan...
    assert(scan.dataFilters.nonEmpty, s"no pushed filters:\n$scan")
    // ...and the read schema is pruned to the 2 needed columns
    assert(scan.requiredSchema.fieldNames.toSet == Set("id", "a"),
      s"read schema not pruned: ${scan.requiredSchema}")
  }

  test("PIP probe-side projection stays in whole-stage codegen (no UDF)") {
    import spark.implicits._
    val ptsDir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_salt"
    graft.table.Checkpoint.clear(ptsDir)
    // skewed: most points in one level-11 cell
    (1 to 4000).map(i =>
      (i.toLong, -119.5 + (i % 10) * 1e-5, 36.5 + (i % 7) * 1e-5))
      .toDF("point_id", "lng", "lat").write.mode("overwrite").parquet(ptsDir)
    val pts = spark.read.parquet(ptsDir)
    val polys = Seq((1L, Array(-119.6, -119.4, -119.5), Array(36.4, 36.4, 36.6)))
      .toDF("poly_id", "xs", "ys")
    val out = graft.ops.SpatialJoin.pointInPolygon(pts, polys, 11)
    // collect() drives THIS DataFrame's queryExecution (count() would build
    // a separate one and leave this plan unexecuted / AQE-unfinalized)
    assert(out.collect().length == 4000) // every point inside the triangle once
    // inspect AFTER the action: this plan contains shuffles, so AQE wraps it
    // and the final plan (with codegen stage markers) exists only
    // post-execution
    val plan = out.queryExecution.executedPlan.toString
    // the cell key and the ray-cast refine are codegen'd expressions, not
    // Scala UDFs — a UDF would surface as ScalaUDF and break codegen on the
    // probe projection
    assert(!plan.contains("ScalaUDF"),
      s"probe side fell out of codegen (ScalaUDF in plan):\n$plan")
    // "*(n)" prefixes mark WholeStageCodegen stages in the final-plan string
    assert(plan.contains("*("),
      s"expected whole-stage codegen stages:\n$plan")
    assert(plan.contains("*(2) BroadcastHashJoin") ||
      plan.contains("*(2) Project"),
      s"probe join stage not codegen'd:\n$plan")
  }

  test("within-distance join is one cell equi-join, never a cartesian product") {
    import spark.implicits._
    val probesDir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_range"
    graft.table.Checkpoint.clear(probesDir)
    (1 to 3000).map(i => (i.toLong, -119.9 + (i % 60) * 0.03, 36.1 + (i % 30) * 0.03))
      .toDF("target_id", "lng", "lat").write.mode("overwrite").parquet(probesDir)
    val targets = spark.read.parquet(probesDir)
    val probes = (for (a <- 0 until 8; b <- 0 until 4)
      yield ((a * 4 + b).toLong, -119.5 + a * 0.1, 36.4 + b * 0.1))
      .toDF("probe_id", "lng", "lat")
    val out = graft.ops.SpatialJoin.withinDistance(probes, targets, 0.05)
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join fell back to an all-pairs plan:\n$plan")
    // the only join keys on the hex cell id (equi-join Catalyst can shuffle
    // or broadcast; either is fine — all-pairs is not)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a cell equi-join:\n$plan")
  }

  test("two-phase per-group top-k bounds the per-group window input") {
    import spark.implicits._
    // 4 groups × 50k rows: the naive single-window plan would pull 50k rows
    // into each of 4 window partitions; phase 1 must cut the global window's
    // input to ≤ k × slices × groups rows
    val df = spark.range(0, 200000)
      .selectExpr("id", "cast(id % 4 as string) AS grp", "cast(id * 37 % 99991 as double) AS score")
      .repartition(8)
    val out = graft.ops.Curation.topKPerGroup(df, col("grp"),
      Seq(col("score").desc, col("id")), 10)
    val rows = out.collect()
    assert(rows.length == 40)
    // exactness vs the naive single-window result
    val naive = df.withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rk") <= 10).select("id", "grp", "score", "rk")
      .collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet == naive)
    // output contract: 'rk' belongs to topKPerGroup — a caller column of
    // that name must fail fast, not be silently replaced
    val clash = df.withColumnRenamed("score", "rk")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Curation.topKPerGroup(clash, col("grp"), Seq(col("id")), 10)
    }
    assert(e.getMessage.contains("rk"))
  }

  test("histogram quantiles: two shuffles total, both key-bounded") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_histq"
    graft.table.Checkpoint.clear(dir)
    spark.range(0, 50000)
      .selectExpr("cast(id % 5 as string) AS grp", "id * 37 % 99991 AS cents")
      .write.mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.ops.Quantiles.histogramQuantiles(
        spark.read.parquet(dir), "grp", col("cents"), 500L, Seq(0.5, 0.9))
      val shuffles = out.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      // 1: partial-agg'd (grp, bin) counts — traffic bounded by keys, not
      //    rows; 2: re-key to grp for the windows; the final per-group agg
      //    reuses the window's partitioning (no third exchange)
      assert(shuffles.length == 2,
        s"expected 2 key-bounded shuffles, got ${shuffles.length}:\n${out.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("filtered ANN: the metadata predicate reaches the parquet scan") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_fvecs"
    graft.table.Checkpoint.clear(dir)
    (0 until 500).map(i => (i.toLong,
        Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val out = graft.ops.Embeddings.ivfSearchFiltered(
      vecs, vecs.filter(col("vec_id") < 3), kCentroids = 4, nProbe = 2,
      topK = 5, pred = col("label") === 2)
    // sparkPlan (pre-AQE): the adaptive wrapper hides scan nodes from collect
    val pushed = out.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.metadata("PushedFilters")
    }
    assert(pushed.exists(_.contains("EqualTo(label,2)")),
      s"label predicate not pushed to the corpus scan: $pushed")
    // and the filter actually restricts results
    val labels = (0 until 500).map(i => i.toLong -> i % 5).toMap
    out.select("neighbor_id").as[Long].collect()
      .foreach(n => assert(labels(n) == 2, s"unfiltered neighbor $n"))
  }

  test("continuation ops plan audit: key-bounded shuffles, no cartesian") {
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def audit(df: org.apache.spark.sql.DataFrame, maxShuffles: Int,
                tag: String): Unit = {
        val plan = df.queryExecution.executedPlan
        assert(plan.collect {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.isEmpty, s"$tag planned a cartesian:\n$plan")
        val n = plan.collect { case s: ShuffleExchangeExec => s }.length
        assert(n <= maxShuffles, s"$tag: $n shuffles > $maxShuffles:\n$plan")
      }
      // CDC merge: ONE key window exchange (union is narrow)
      val base = (0 until 100).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      val ch = (0 until 50).map(i => (i.toLong, i * 2.0, 1L, "U"))
        .toDF("k", "v", "seq", "op")
      audit(graft.ops.Cdc.applyChanges(base, ch, Seq("k")), 1, "cdc")
      // speed flags: ONE traj window exchange
      val pts = (0 until 200).map(i =>
        (i.toLong % 5, 1000000L + i * 1000L, i.toLong,
          -119.0 + i * 1e-4, 36.0 + i * 1e-4))
        .toDF("traj_id", "ts_us", "tie", "lng", "lat")
      audit(graft.ops.Trajectory.speedFlags(pts, 100L), 1, "speedFlags")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("pq coding is shuffle-free; kmeans step shuffles only k·dims partials") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_vecs"
    graft.table.Checkpoint.clear(dir)
    (0 until 500).map(i => (i.toLong, Array.fill(64)((i % 97) / 9.7f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val vecs = spark.read.parquet(dir)
      val pqShuffles = graft.ops.Embeddings.pqCode(vecs, 8, 8)
        .queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      assert(pqShuffles.isEmpty, "PQ coding is per-row on the scan")
      val kmPlan = graft.ops.Embeddings.kmeansStep(vecs, 8)
        .queryExecution.executedPlan
      val kmShuffles = kmPlan.collect { case s: ShuffleExchangeExec => s }
      assert(kmShuffles.length == 1,
        s"Lloyd step: one partial-aggregated shuffle, got ${kmShuffles.length}:\n$kmPlan")
      // the exchange input must be the PARTIAL aggregate (k·dims rows per
      // partition), never raw exploded components
      val partialBelowExchange = kmShuffles.head.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }
      assert(partialBelowExchange.isDefined,
        s"expected map-side partial aggregation under the exchange:\n$kmPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("tfidf never plans a cartesian; term traffic is partial-aggregated") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_docs"
    graft.table.Checkpoint.clear(dir)
    (0 until 300).map(i => (i.toLong, s"w${i % 7} w${i % 11} w${i % 13} common"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.ops.Curation.tfidfTopTerms(spark.read.parquet(dir), 3)
      val plan = out.queryExecution.executedPlan
      val cartesian = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cartesian.isEmpty, s"no cartesian allowed:\n$plan")
      // tf materializes ONCE (lazy localCheckpoint — without it the
      // tokenize+explode+agg subtree plans twice, a double corpus scan);
      // downstream the corpus-sized data crosses at most the term join and
      // the per-doc window, plus the vocabulary-bounded df partials
      // the only allowed corpus re-read is n_docs' zero-column count scan
      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.length <= 1 && scans.forall(_.schema.isEmpty),
        s"corpus text must come from the materialized tf:\n$plan")
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.length <= 3, s"unexpected extra shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cell predicates derive pushable lng/lat scan ranges (optimizer rule)") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_cellrange"
    graft.table.Checkpoint.clear(dir)
    (1 to 20000).map { i =>
      (i.toLong, -121.0 + (i % 40) * 0.1, 35.0 + (i % 30) * 0.1)
    }.toDF("point_id", "lng", "lat").write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val tkPred = graft.functions.spatial.tile_key(col("lng"), col("lat")) === "N36W119"
    // res 4 (edge ~0.2°) so the hexagon holds points of the 0.1° lattice;
    // keyed off an actual data point so the result is non-empty
    val hexCell = graft.geo.Hex.latLngToCell(-118.4, 36.6, 4)
    val hexPred = graft.functions.cells.hex_cell(col("lng"), col("lat"), lit(4)) === lit(hexCell)
    // baselines without the rule (cell exprs are opaque to the scan)
    val tkRows = pts.where(tkPred).collect().map(_.toSeq).toSet
    val hexRows = pts.where(hexPred).collect().map(_.toSeq).toSet
    assert(tkRows.nonEmpty && hexRows.nonEmpty, "workload sanity")
    def pushed(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f.metadata("PushedFilters")
      }.getOrElse(fail("no file scan"))
    assert(!pushed(pts.where(tkPred)).contains("GreaterThanOrEqual(lng"),
      "baseline sanity: nothing pushable without the rule")
    spark.experimental.extraOptimizations = Seq(graft.plans.CellRangeDerivation)
    try {
      // derived ranges reach the parquet scan's pushed filters...
      for (pred <- Seq(tkPred, hexPred)) {
        val p = pushed(pts.where(pred))
        assert(p.contains("GreaterThanOrEqual(lng") && p.contains("GreaterThanOrEqual(lat"),
          s"derived ranges not pushed: $p")
      }
      // ...and results are unchanged (the ranges are implied supersets)
      assert(pts.where(tkPred).collect().map(_.toSeq).toSet == tkRows)
      assert(pts.where(hexPred).collect().map(_.toSeq).toSet == hexRows)
      // IN-sets derive the hull box — both the In form and the InSet form
      // OptimizeIn produces past its 10-element threshold
      val inPred = graft.functions.spatial.tile_key(col("lng"), col("lat"))
        .isin("N36W119", "N35W120")
      assert(pushed(pts.where(inPred)).contains("GreaterThanOrEqual(lng"))
      val manyKeys = (0 until 12).map(i => graft.geo.TileKey.ofDegrees(-121 + i, 36))
      val inSetPred = graft.functions.spatial.tile_key(col("lng"), col("lat"))
        .isin(manyKeys: _*)
      assert(pushed(pts.where(inSetPred)).contains("GreaterThanOrEqual(lng"))
      // geohash equality: box decodes from the literal itself (any prefix
      // length) and pushes padded ranges; results unchanged
      val gh = graft.geo.Geohash.encode(-118.4, 36.6, 4)
      val ghPred = graft.functions.cells.geohash(col("lng"), col("lat"), lit(4)) === gh
      val ghRows0 = {
        spark.experimental.extraOptimizations = Seq.empty
        val r = pts.where(ghPred).collect().map(_.toSeq).toSet
        spark.experimental.extraOptimizations = Seq(graft.plans.CellRangeDerivation)
        r
      }
      assert(ghRows0.nonEmpty, "geohash workload sanity")
      val ghPushed = pushed(pts.where(ghPred))
      assert(ghPushed.contains("GreaterThanOrEqual(lng") &&
        ghPushed.contains("GreaterThanOrEqual(lat"),
        s"geohash ranges not pushed: $ghPushed")
      assert(pts.where(ghPred).collect().map(_.toSeq).toSet == ghRows0)
      // box sanity: the decoded cell contains its own encode inputs
      val Some((x0, x1, y0, y1)) = graft.geo.Geohash.box(gh)
      assert(x0 <= -118.4 && -118.4 < x1 && y0 <= 36.6 && 36.6 < y1)
    } finally spark.experimental.extraOptimizations = Seq.empty
  }

  test("cell-key expressions are NULL on non-finite coords; rule stays sound under NaN") {
    import spark.implicits._
    // tile_key(NaN, ...) used to floor NaN to 0 and mint a garbage key;
    // hex_cell axial-rounded NaN onto the (q=0, r=0) cell. Both now yield
    // NULL, so a NaN row fails the cell predicate exactly as it fails the
    // derived range conjuncts (ADVICE r3: silent wrong results otherwise).
    val rows = Seq(
      (1L, -118.5, 36.5),
      (2L, Double.NaN, 36.5),
      (3L, -118.5, Double.NaN),
      (4L, Double.PositiveInfinity, 36.5)
    ).toDF("point_id", "lng", "lat")
    val keyed = rows.select(
      graft.functions.spatial.tile_key(col("lng"), col("lat")).as("tk"),
      graft.functions.cells.hex_cell(col("lng"), col("lat"), lit(7)).as("hx"),
      graft.functions.cells.s2_cell(col("lng"), col("lat"), lit(12)).as("s2"))
      .collect()
    assert(!keyed(0).isNullAt(0) && !keyed(0).isNullAt(1) && !keyed(0).isNullAt(2))
    for (i <- 1 to 3; j <- 0 to 2)
      assert(keyed(i).isNullAt(j), s"row $i col $j should be NULL on non-finite input")
    // end-to-end: with the rule installed, a NaN-coordinate dataset returns
    // the same rows for a cell predicate as without it
    val nanCell = graft.geo.Hex.latLngToCell(0.0, 0.0, 7) // the cell NaN used to land on
    val pred = graft.functions.cells.hex_cell(col("lng"), col("lat"), lit(7)) === lit(nanCell)
    val baseline = rows.where(pred).collect().map(_.getLong(0)).toSet
    spark.experimental.extraOptimizations = Seq(graft.plans.CellRangeDerivation)
    try assert(rows.where(pred).collect().map(_.getLong(0)).toSet == baseline)
    finally spark.experimental.extraOptimizations = Seq.empty
  }

  test("PIP candidate join broadcasts the (small) polygon-cover side") {
    import spark.implicits._
    val pts = (1 to 2000).map(i => (i.toLong, -119.5 + i * 1e-4, 36.5 + i * 1e-4))
      .toDF("point_id", "lng", "lat")
    val polys = Seq((1L, Array(-119.5, -119.4, -119.45), Array(36.5, 36.5, 36.6)))
      .toDF("poly_id", "xs", "ys")
    val out = graft.ops.SpatialJoin.pointInPolygon(pts, polys, 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"expected broadcast join:\n$plan")
  }

  test("bloom probe is shuffle-free whole-stage codegen against the broadcast bitmap") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_bloom"
    graft.table.Checkpoint.clear(dir)
    spark.range(0, 20000).selectExpr("id AS k", "id % 7 AS g")
      .write.mode("overwrite").parquet(dir)
    val probe = spark.read.parquet(dir)
    val bc = graft.ops.Sketches.bloomBuild(
      spark.range(0, 500).selectExpr("id * 3 AS k"), "k", 1 << 12)
    val out = probe.filter(
      graft.ops.Sketches.bloomMightContain(bc, 1 << 12, col("k")))
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"bloom probe must not shuffle:\n$plan")
    assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty,
      "bloom probe fell out of whole-stage codegen")
  }

  test("hll and cm sketches shuffle only bounded register/counter state") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_sk"
    graft.table.Checkpoint.clear(dir)
    spark.range(0, 30000).selectExpr("id % 97 AS uid", "concat('g', id % 3) AS g")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val hll = graft.ops.Sketches.hllDistinct(df, "g", "uid")
    val hllPlan = hll.queryExecution.executedPlan
    // (group, bucket) agg + group agg: exactly two key-bounded exchanges,
    // both preceded by partial aggregation (map-side combine)
    assert(hllPlan.collect { case s: ShuffleExchangeExec => s }.size == 2,
      s"hll expected 2 shuffles:\n$hllPlan")
    assert(hllPlan.toString.contains("partial_"),
      s"hll shuffle not partial-aggregated:\n$hllPlan")
    val cm = graft.ops.Sketches.cmSketch(df, "uid", 1024)
    val cmPlan = cm.queryExecution.executedPlan
    assert(cmPlan.collect { case s: ShuffleExchangeExec => s }.size == 1,
      s"cm expected 1 shuffle:\n$cmPlan")
    assert(cmPlan.toString.contains("partial_"),
      s"cm shuffle not partial-aggregated:\n$cmPlan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("phash band join never plans an all-pairs comparison") {
    val corners = Seq((10, 5), (11, 5), (12, 6))
    val grids = for { v <- 0 to 2; (lng, lat) <- corners } yield {
      val g = graft.synth.TileGen.grid(lng, lat, 121)
      graft.core.TileRow(s"t${lng}_${lat}_v$v",
        graft.raster.Hgt.encode(g, 121), 121, 121, "hgt", "{}", 0L)
    }
    val tiles = spark.createDataset(grids)(Encoders.product[graft.core.TileRow])
    val out = graft.ops.ImageOps.phashNearDup(tiles, 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"phash near-dup fell back to all-pairs:\n$plan")
  }

  test("viewshed adds no shuffle beyond the profile's single line_id exchange") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_vs"
    graft.table.Checkpoint.clear(dir)
    (0 until 2000).map(i => (i.toLong % 7, i.toLong, 0.05 + (i % 900) / 1000.0,
        0.05 + ((i * 31) % 900) / 1000.0))
      .toDF("line_id", "seq", "lng", "lat")
      .write.mode("overwrite").parquet(dir)
    val verts = spark.read.parquet(dir)
    val tiles = spark.createDataset(TileGen.tiles(Seq((0, 0)), 61, "hgt"))(
      Encoders.product[TileRow])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.ops.Elevation.viewshed(verts, tiles)
      val plan = out.queryExecution.executedPlan
      assert(plan.collect { case s: ShuffleExchangeExec => s }.size == 1,
        s"viewshed expected exactly 1 shuffle (line_id):\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ivfPqSearch: no cartesian; corpus vectors dropped before the probe join") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_ivfpq"
    graft.table.Checkpoint.clear(dir)
    (0 until 5000).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val queries = corpus.filter(col("vec_id") < 3)
    // AQE's wrapper node hides the join from collect(); the static plan is
    // what this audit is about. executedPlan is LAZY — force it before
    // re-enabling AQE.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val executed =
      try {
        val out = graft.ops.Embeddings.ivfPqSearch(corpus, queries,
          kCentroids = 8, nProbe = 2, nSub = 8, kCodes = 8, topK = 4)
        out.queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val plan = executed.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"ivfpq fell back to all-pairs:\n$plan")
    // the 64-double corpus vector must NOT appear on the join's stream side:
    // only (vec_id, centroid, codes) survive the pre-join projection
    val joinNode = executed.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joinNode.isDefined, s"expected broadcast probe join:\n$plan")
    val streamSide = joinNode.get.children.find(c => c.collectFirst {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.isEmpty).get
    val streamCols = streamSide.output.map(_.name).toSet
    assert(!streamCols.contains("v") && !streamCols.contains("embedding"),
      s"corpus vector crossed the join: $streamCols")
  }

  test("zorder-clustered write: disjoint per-file key ranges, bbox touches ~1/4 of files") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_zorder"
    graft.table.Checkpoint.clear(dir)
    val rnd = new scala.util.Random(3)
    val pts = (0 until 20000).map(i =>
      (i.toLong, -180.0 + rnd.nextDouble() * 360.0, -90.0 + rnd.nextDouble() * 180.0))
      .toDF("point_id", "lng", "lat")
      .withColumn("zkey", graft.functions.cells.zorder_key(col("lng"), col("lat")))
    // the write-clustering recipe: global range partition + in-file sort by zkey
    pts.repartitionByRange(8, col("zkey")).sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted.toSeq
    assert(files.size >= 4, s"expected several files, got ${files.size}")
    val stats = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("zkey"), max("zkey"),
          sum(when(col("lng") < 0 && col("lat") < 0, 1).otherwise(0)))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // repartitionByRange ⇒ file key ranges are pairwise disjoint: this is
    // exactly what parquet row-group/file min-max pruning needs
    stats.map(s => (s._1, s._2)).sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, "file key ranges overlap")
      case _ =>
    }
    // the SW quadrant (lng<0, lat<0) is the z-curve's aligned first quadrant:
    // keys [0, 2^30) — contiguous, so its rows cluster into ~25% of the files
    val hitFiles = stats.count(_._3 > 0)
    assert(hitFiles <= 3,
      s"SW-quadrant rows spread over $hitFiles of ${files.size} zorder-sorted files")
    // control: an unclustered write scatters the same quadrant over ALL files
    val dir2 = dir + "_rowmajor"
    graft.table.Checkpoint.clear(dir2)
    pts.repartition(8).write.mode("overwrite").parquet(dir2)
    val files2 = new java.io.File(dir2).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq
    val hit2 = files2.count { f =>
      spark.read.parquet(f).filter(col("lng") < 0 && col("lat") < 0).head(1).nonEmpty
    }
    assert(hit2 == files2.size, "control: hash-partitioned write should scatter")
  }

  test("decontaminate: corpus side never shuffles before the broadcast gram join") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_decontam"
    graft.table.Checkpoint.clear(dir)
    val rnd = new scala.util.Random(5)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    (0 until 3000).map(i =>
        (i.toLong, Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val eval = Seq((9000L, "a b c d e f a b")).toDF("doc_id", "text")
    val out = graft.ops.Curation.decontaminate(corpus, eval, n = 3)
    val plan = out.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"eval grams must broadcast:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"))
    // shuffles carry only hit rows keyed by doc_id (the count-distinct
    // re-keys once more); corpus bytes themselves never shuffle
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2, s"expected <=2 post-join shuffles:\n$plan")
  }

  test("semDedup: candidate pairs only from the centroid equi-join, no all-pairs") {
    import spark.implicits._
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => (((i * 31 + d * 7) % 17) - 8).toFloat)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_semd"
    graft.table.Checkpoint.clear(dir)
    (0 until 5000).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val cents = Array.tabulate(8)(c => Array.tabulate(64)(d => (c * d % 9 - 4).toDouble))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.ops.Embeddings.semDedup(corpus, cents, minCos = 0.999)
        .queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"semDedup fell back to all-pairs:\n$plan")
  }

  test("containmentPairs: posting-list equi-join on the shingle, never all-pairs") {
    import spark.implicits._
    val docs = (0 until 300).map { i =>
      val body = (0 until 30).map(w => s"w${(i * 31 + w * 7) % 211}").mkString(" ")
      (i.toLong, if (i % 10 == 0) body + " tail xx yy" else body)
    }.toDF("doc_id", "text")
    val out = graft.ops.TextDedup.containmentPairs(docs, 5, 20, 1L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"containment fell back to all-pairs:\n$plan")
  }

  test("segment overlay + snap join on grid cells, never all-pairs") {
    import spark.implicits._
    val segsA = (0 until 2000).map { i =>
      val x = (i % 50) * 0.01; val y = (i / 50) * 0.01
      (i.toLong, x, y, x + 0.015, y + 0.008)
    }.toDF("seg_id", "x1", "y1", "x2", "y2")
    val segsB = (0 until 2000).map { i =>
      val x = (i % 50) * 0.01 + 0.003; val y = (i / 50) * 0.01 + 0.006
      (i.toLong + 10000, x, y, x + 0.004, y - 0.009)
    }.toDF("seg_id", "x1", "y1", "x2", "y2")
    val overlay = graft.ops.SpatialJoin.segmentIntersectJoin(segsA, segsB, 0.02)
    assert(overlay.collect().nonEmpty)
    val p1 = overlay.queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoop"),
      s"overlay fell back to all-pairs:\n$p1")
    val probes = (0 until 500).map(i =>
      (i.toLong, (i % 25) * 0.02, (i / 25) * 0.02)).toDF("probe_id", "px", "py")
    val snap = graft.ops.SpatialJoin.snapToSegments(probes, segsA, 0.02)
    assert(snap.collect().nonEmpty)
    val p2 = snap.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoop"),
      s"snap fell back to all-pairs:\n$p2")
  }

  test("pagerank: no cartesian; edge contributions partial-aggregate per dst") {
    import spark.implicits._
    val edges = (0 until 3000).map(i =>
      (i % 200L, (i * 13) % 200L)).toDF("src", "dst")
    val out = graft.ops.Graph.pagerank(edges, rounds = 2)
    assert(out.collect().length == 200)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pagerank planned an all-pairs join:\n$plan")
  }

  test("pcaProject: direction side broadcasts; one vec_id-keyed aggregation") {
    import spark.implicits._
    val emb = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 17) / 17.0))
    }.toDF("vec_id", "embedding")
    val dir = (0 until 8).map(d => (d.toLong, (d % 3 + 1) * 100L)).toDF("d", "v")
    val out = graft.ops.Embeddings.pcaProject(emb, dir)
    assert(out.collect().length == 300)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"direction join must broadcast the 64-row side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in pcaProject:\n$plan")
  }

  test("editVerify: candidate-keyed hash joins, banded levenshtein, no cartesian") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog zz qq"),
      (3L, "completely different text about something else entirely")
    ).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = graft.ops.TextDedup.editVerify(cands, docs, maxDist = 10)
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("doc_a") == 1L
      && rows.head.getAs[Long]("doc_b") == 2L
      && rows.head.getAs[Long]("edit_dist") == 6L) // " zz qq" appended
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"editVerify planned an unkeyed join:\n$plan")
    assert(plan.contains("levenshtein"), s"banded levenshtein missing:\n$plan")
  }

  test("otsu: decode-once map plan, zero shuffle") {
    val tiles = spark.createDataset(TileGen.tiles(
      Seq((-120, 36), (-119, 36)), 121, "png"))(Encoders.product[TileRow])
    val out = graft.ops.ImageOps.otsu(tiles, width = 64)
    assert(out.count() == 2)
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"otsu must not shuffle:\n$plan")
  }

  test("triangles: K4 plus a pendant edge is 4 triangles; no cartesian or nested-loop join") {
    import spark.implicits._
    // K4 on {0,1,2,3} (4 triangles) + pendant 3-9 (in none)
    val edges = (for { a <- 0 to 3; b <- 0 to 3 if a < b } yield
      (a.toLong, b.toLong)).toSeq :+ (3L, 9L)
    val out = graft.ops.Graph.triangles(edges.toDF("src", "dst"))
    val rows = out.as[(Long, Long, Long)].collect()
    assert(rows.length == 4)
    assert(rows.toSet == Set((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L), (1L, 2L, 3L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangles planned an unkeyed join:\n$plan")
  }

  test("trussSupport: K4 edges support 2, pendant 0; sum = 3·triangles; no cartesian") {
    import spark.implicits._
    // K4 on {0,1,2,3} (4 triangles, every edge in exactly 2) + pendant 3-9
    val edges = (for { a <- 0 to 3; b <- 0 to 3 if a < b } yield
      (a.toLong, b.toLong)).toSeq :+ (3L, 9L)
    val out = graft.ops.Graph.trussSupport(edges.toDF("src", "dst"))
    val rows = out.collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val exp = if (r.getAs[Long]("hi") == 9L) 0L else 2L
      assert(r.getAs[Long]("support") == exp, s"edge $r")
    }
    val tri = graft.ops.Graph.triangles(edges.toDF("src", "dst")).count()
    assert(rows.map(_.getAs[Long]("support")).sum == 3 * tri)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"trussSupport planned an unkeyed join:\n$plan")
  }

  test("readability: hand-checked Flesch pieces, floored negative division") {
    import spark.implicits._
    val docs = Seq((1L, "Hello world. It is good!")).toDF("doc_id", "text")
    val r = graft.ops.Curation.readability(docs, col("text")).collect().head
    assert(r.getAs[Long]("n_sents") == 2L)
    assert(r.getAs[Long]("n_words") == 5L)  // split on ' ': 5 tokens
    assert(r.getAs[Long]("n_syll") == 6L)   // e-o | o | i | i | oo
    // (206835·10 − 1015000·25 − 84600000·12) / (1000·10) = −103850.665 →
    // trunc −103850 (both Spark DIV and DuckDB // truncate toward zero)
    assert(r.getAs[Long]("flesch_milli") == -103850L)
  }

  test("simpson: exact ppm on a hand-counted doc, join-free two-agg plan") {
    import spark.implicits._
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val r = graft.ops.Curation.simpson(docs, col("text")).collect().head
    assert(r.getAs[Long]("n_tokens") == 3L && r.getAs[Long]("n_distinct") == 2L)
    assert(r.getAs[Long]("coll") == 2L)        // a contributes 2·1, b 0
    assert(r.getAs[Long]("simpson_ppm") == 333333L) // 2e6 DIV 6
    val plan = graft.ops.Curation.simpson(docs, col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"simpson must be join-free:\n$plan")
  }
}
