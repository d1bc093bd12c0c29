package graft

import graft.geo.RayCast
import graft.ops.SpatialJoin
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** PIP (J2) and kNN (J3) joins against in-memory brute-force oracles. */
class SpatialJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // deterministic synthetic workload
  private val rnd = new scala.util.Random(42)
  private val points: Seq[(Long, Double, Double)] =
    (0L until 4000L).map(i => (i, -120.0 + rnd.nextDouble() * 4.0, 36.0 + rnd.nextDouble() * 2.0))
  private val polys: Seq[(Long, Array[Double], Array[Double])] =
    (0L until 60L).map { i =>
      val cx = -120.0 + rnd.nextDouble() * 4.0
      val cy = 36.0 + rnd.nextDouble() * 2.0
      val w = 0.05 + rnd.nextDouble() * 0.25
      val h = 0.05 + rnd.nextDouble() * 0.2
      // irregular quad (tests generic ray cast, not just triangles)
      (i, Array(cx - w, cx + w * 0.7, cx + w, cx - w * 0.4),
          Array(cy - h, cy - h * 0.8, cy + h * 0.6, cy + h))
    }

  private def bruteForcePip: Set[(Long, Long)] =
    (for {
      (pid, px, py) <- points
      (qid, xs, ys) <- polys
      if RayCast.contains(px, py, xs, ys)
    } yield (pid, qid)).toSet

  /** Runs `body` under the given session confs, restoring them after. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Forces the cover and ring sides onto the shuffle path. */
  private val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  test("pointInPolygon matches brute force (broadcast + shuffle paths, multiple levels)") {
    import spark.implicits._
    val ptsDf = points.toDF("point_id", "lng", "lat")
    val polysDf = polys.toDF("poly_id", "xs", "ys")
    val expected = bruteForcePip
    assert(expected.nonEmpty, "workload sanity: some containment pairs")
    for (level <- Seq(9, 12); shuffle <- Seq(false, true)) {
      def run() = SpatialJoin.pointInPolygon(ptsDf, polysDf, level)
        .select("point_id", "poly_id").as[(Long, Long)].collect().toSet
      val got = if (shuffle) withConfs(noBroadcast)(run()) else run()
      assert(got == expected, s"level=$level shuffle=$shuffle")
    }
  }

  test("pointInPolygon over rings: holes excluded, MultiPolygon shells included, brute-force equality") {
    import spark.implicits._
    // rectangles with a centered hole + a disjoint second shell
    val multiPolys: Seq[(Long, Array[Array[Double]], Array[Array[Double]])] =
      (0L until 40L).map { i =>
        val r2 = new scala.util.Random(1000 + i)
        val cx = -120.0 + r2.nextDouble() * 3.0
        val cy = 36.0 + r2.nextDouble() * 1.5
        val w = 0.05 + r2.nextDouble() * 0.15
        val h = 0.05 + r2.nextDouble() * 0.12
        def rect(x0: Double, y0: Double, hw: Double, hh: Double) =
          (Array(x0 - hw, x0 + hw, x0 + hw, x0 - hw),
           Array(y0 - hh, y0 - hh, y0 + hh, y0 + hh))
        val (ox, oy) = rect(cx, cy, w, h)
        val (hx, hy) = rect(cx, cy, w * 0.5, h * 0.5)
        val (sx, sy) = rect(cx + 0.6, cy, w * 0.4, h * 0.4)
        (i, Array(ox, hx, sx), Array(oy, hy, sy))
      }
    val expected = (for {
      (pid, px, py) <- points
      (qid, xss, yss) <- multiPolys
      if RayCast.containsMulti(px, py, xss, yss)
    } yield (pid, qid)).toSet
    assert(expected.nonEmpty, "workload sanity")
    // semantic anchors: hole center excluded, second-shell center included
    val (_, xss0, yss0) = multiPolys.head
    val holeCx = (xss0(1)(0) + xss0(1)(1)) / 2; val holeCy = (yss0(1)(0) + yss0(1)(2)) / 2
    val shellCx = (xss0(2)(0) + xss0(2)(1)) / 2; val shellCy = (yss0(2)(0) + yss0(2)(2)) / 2
    assert(!RayCast.containsMulti(holeCx, holeCy, xss0, yss0),
      "point inside the hole must be OUTSIDE")
    assert(RayCast.containsMulti(shellCx, shellCy, xss0, yss0),
      "point inside the disjoint second shell must be INSIDE")
    // single-ring parity: containsMulti on one ring == contains
    assert(RayCast.containsMulti(holeCx, holeCy, Array(xss0(0)), Array(yss0(0))) ==
      RayCast.contains(holeCx, holeCy, xss0(0), yss0(0)))
    val ptsDf = points.toDF("point_id", "lng", "lat")
    val polysDf = multiPolys.toDF("poly_id", "xss", "yss")
    for (shuffle <- Seq(false, true)) {
      def run() = SpatialJoin.pointInPolygon(ptsDf, polysDf, 10)
        .select("point_id", "poly_id").as[(Long, Long)].collect().toSet
      val got = if (shuffle) withConfs(noBroadcast)(run()) else run()
      assert(got == expected, s"shuffle=$shuffle")
    }
  }

  test("pointInPolygon on the shuffle path: AQE splits one hot cell, rows equal brute force") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import spark.implicits._
    // about half the points in one level-11 cell (~0.04° across), the rest
    // spread over the 4°×2° box; one extra square covers the hot points
    val hot = graft.geo.S2.latLngToCell(-119.0, 37.0, 11)
    val (hx, hy) = graft.geo.S2.centerLatLng(hot)
    val r = new scala.util.Random(11)
    val skewed = (0L until 20000L).map { i =>
      if (i % 2 == 0) (i, hx - 0.002 + r.nextDouble() * 0.004, hy - 0.002 + r.nextDouble() * 0.004)
      else (i, -120.0 + r.nextDouble() * 4.0, 36.0 + r.nextDouble() * 2.0)
    }
    assert(skewed.count { case (_, x, y) => graft.geo.S2.latLngToCell(x, y, 11) == hot } >=
      skewed.size / 2, "workload sanity: one hot level-11 cell")
    val allPolys = polys :+ ((1000L, Array(hx - 0.01, hx + 0.01, hx + 0.01, hx - 0.01),
      Array(hy - 0.01, hy - 0.01, hy + 0.01, hy + 0.01)))
    val expected = (for {
      (pid, px, py) <- skewed
      (qid, xs, ys) <- allPolys
      if RayCast.contains(px, py, xs, ys)
    } yield (pid, qid)).toSet
    val polysDf = allPolys.toDF("poly_id", "xs", "ys")
    // a partition is skewed only past 5× the median partition (Spark's
    // default skewedPartitionFactor): 8 partitions put the hot cell's well
    // past that, where the suite's 4 leave it at the edge
    withConfs(noBroadcast, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k") {
      val out = SpatialJoin.pointInPolygon(skewed.toDF("point_id", "lng", "lat"), polysDf, 11)
        .select("point_id", "poly_id")
      // collect() on `out` itself, so its adaptive plan is the final one
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected && got.count(_._2 == 1000L) >= skewed.size / 2)
      val joins = new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
        case j: SortMergeJoinExec => j
      }
      assert(joins.exists(_.isSkewJoin),
        s"expected a skew-split SortMergeJoin:\n${out.queryExecution.executedPlan}")
    }
  }

  test("Douglas-Peucker matches an independent recursive reference; op = kernel") {
    import graft.geo.Simplify
    import spark.implicits._
    // independent reference: classic perpendicular-distance recursion
    def ref(xs: Array[Double], ys: Array[Double], eps: Double): Array[Boolean] = {
      val keep = new Array[Boolean](xs.length)
      def rec(lo: Int, hi: Int): Unit = {
        keep(lo) = true; keep(hi) = true
        if (hi - lo < 2) return
        val ax = xs(lo); val ay = ys(lo); val bx = xs(hi); val by = ys(hi)
        val len = math.hypot(bx - ax, by - ay)
        var best = -1; var bestD = Double.NegativeInfinity
        for (i <- lo + 1 until hi) {
          val d =
            if (len == 0.0) math.hypot(xs(i) - ax, ys(i) - ay)
            else math.abs((bx - ax) * (ys(i) - ay) - (by - ay) * (xs(i) - ax)) / len
          if (d > bestD) { bestD = d; best = i }
        }
        if (bestD > eps) { rec(lo, best); rec(best, hi) }
      }
      if (xs.nonEmpty) rec(0, xs.length - 1)
      keep
    }
    val rnd3 = new scala.util.Random(13)
    for (trial <- 1 to 30) {
      val n = 2 + rnd3.nextInt(120)
      val xs = Array.fill(n)(rnd3.nextDouble() * 2.0)
      val ys = Array.fill(n)(rnd3.nextDouble())
      val eps = 0.01 + rnd3.nextDouble() * 0.4
      assert(Simplify.douglasPeucker(xs, ys, eps).toSeq == ref(xs, ys, eps).toSeq,
        s"trial $trial n=$n eps=$eps")
    }
    // smooth line + big eps ⇒ real reduction; the Spark op equals the kernel
    val smooth = (0 until 400).map { i =>
      val x = i / 100.0
      (7L, i.toLong, x, math.sin(x) * 0.5 + (i % 3) * 1e-4)
    }
    val keepMask = Simplify.douglasPeucker(
      smooth.map(_._3).toArray, smooth.map(_._4).toArray, 0.01)
    assert(keepMask.count(identity) < 60, s"expected strong reduction, kept ${keepMask.count(identity)}")
    val got = graft.ops.Trajectory.simplify(
        smooth.toDF("line_id", "seq", "lng", "lat"), 0.01)
      .as[(Long, Long, Double, Double)].collect().map(_._2).sorted.toSeq
    val exp = smooth.indices.filter(keepMask).map(_.toLong)
    assert(got == exp)
  }

  test("polygon metrics and ray cast agree with JTS (independent oracle)") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    import graft.functions.spatial
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val gf = new GeometryFactory()
    val r2 = new scala.util.Random(7)
    // star-shaped polygons (sorted angles, random radii) are always simple
    val stars = (0 until 25).map { i =>
      val cx = -119.0 + r2.nextDouble() * 2.0
      val cy = 36.0 + r2.nextDouble()
      val n = 5 + r2.nextInt(8)
      val angles = Seq.fill(n)(r2.nextDouble() * 2.0 * math.Pi).distinct.sorted
      val pts = angles.map { a =>
        val rad = 0.05 + r2.nextDouble() * 0.3
        (cx + rad * math.cos(a), cy + rad * math.sin(a))
      }
      (i.toLong, pts.map(_._1).toArray, pts.map(_._2).toArray)
    }
    val metrics = stars.toDF("poly_id", "xs", "ys")
      .select(col("poly_id"),
        spatial.polygon_area(col("xs"), col("ys")).as("a"),
        spatial.polygon_perimeter(col("xs"), col("ys")).as("p"),
        spatial.polygon_centroid_x(col("xs"), col("ys")).as("cx"),
        spatial.polygon_centroid_y(col("xs"), col("ys")).as("cy"))
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    stars.foreach { case (id, xs, ys) =>
      val coords = (xs.indices :+ 0).map(j => new Coordinate(xs(j), ys(j))).toArray
      val poly = gf.createPolygon(coords)
      val (_, a, p, cx, cy) = metrics(id)
      assert(math.abs(math.abs(a) - poly.getArea) < 1e-9, s"area poly $id")
      assert(math.abs(p - poly.getExteriorRing.getLength) < 1e-9, s"perimeter poly $id")
      assert(math.abs(cx - poly.getCentroid.getX) < 1e-9, s"centroid x poly $id")
      assert(math.abs(cy - poly.getCentroid.getY) < 1e-9, s"centroid y poly $id")
      // ray-cast kernel vs JTS containment on random probes (boundary hits
      // have probability zero under continuous sampling)
      for (_ <- 1 to 40) {
        val px = -119.5 + r2.nextDouble() * 3.0
        val py = 35.8 + r2.nextDouble() * 1.4
        val jts = poly.contains(gf.createPoint(new Coordinate(px, py)))
        assert(RayCast.contains(px, py, xs, ys) == jts, s"PIP poly $id at ($px, $py)")
      }
    }
  }

  test("polygon area/perimeter/centroid: golden shapes and orientation sign") {
    import graft.functions.spatial
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val shapes = Seq(
      // (id, xs, ys): CCW unit right triangle; CCW unit square; CW square
      (1L, Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0)),
      (2L, Array(0.0, 1.0, 1.0, 0.0), Array(0.0, 0.0, 1.0, 1.0)),
      (3L, Array(0.0, 0.0, 1.0, 1.0), Array(0.0, 1.0, 1.0, 0.0)))
    val got = shapes.toDF("poly_id", "xs", "ys")
      .select(col("poly_id"),
        spatial.polygon_area(col("xs"), col("ys")).as("a"),
        spatial.polygon_perimeter(col("xs"), col("ys")).as("p"),
        spatial.polygon_centroid_x(col("xs"), col("ys")).as("cx"),
        spatial.polygon_centroid_y(col("xs"), col("ys")).as("cy"))
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    val (_, a1, p1, cx1, cy1) = got(0)
    assert(a1 == 0.5 && math.abs(p1 - (2.0 + math.sqrt(2.0))) < 1e-15)
    assert(math.abs(cx1 - 1.0 / 3.0) < 1e-15 && math.abs(cy1 - 1.0 / 3.0) < 1e-15)
    val (_, a2, p2, cx2, cy2) = got(1)
    assert(a2 == 1.0 && p2 == 4.0 && cx2 == 0.5 && cy2 == 0.5)
    val (_, a3, _, cx3, cy3) = got(2)
    assert(a3 == -1.0, "CW ring has negative signed area")
    assert(cx3 == 0.5 && cy3 == 0.5, "centroid is orientation-invariant")
  }

  test("polygon metrics on an EMPTY ring fold to 0.0 instead of crashing") {
    // sequence(0, size-1) on an empty array is the DESCENDING [0, -1],
    // whose second step hits element_at(xs, 0) — the guard must short-circuit
    import graft.functions.spatial
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val got = Seq((1L, Array.empty[Double], Array.empty[Double]))
      .toDF("poly_id", "xs", "ys")
      .select(spatial.polygon_area(col("xs"), col("ys")).as("a"),
        spatial.polygon_perimeter(col("xs"), col("ys")).as("p"),
        spatial.polygon_centroid_x(col("xs"), col("ys")).as("cx"))
      .as[(Double, Double, Option[Double])].head()
    assert(got._1 == 0.0 && got._2 == 0.0)
    assert(got._3.isEmpty,
      "zero-area centroid is null (ANSI would throw on the 0/0 divide)")
  }

  test("withinDistance matches brute force at several radii and resolutions") {
    import spark.implicits._
    val probes = (0L until 50L)
      .map(i => (i, -120.0 + (i % 10) * 0.4 + 0.17, 36.0 + (i % 5) * 0.4 + 0.09))
    val probesDf = probes.toDF("probe_id", "lng", "lat")
    val targetsDf = points.toDF("target_id", "lng", "lat")
    for (radius <- Seq(0.03, 0.1, 0.35); res <- Seq(None, Some(3), Some(6))) {
      val expected = (for {
        (pid, px, py) <- probes
        (tid, tx, ty) <- points
        d2 = (tx - px) * (tx - px) + (ty - py) * (ty - py)
        if d2 <= radius * radius
      } yield (pid, tid)).toSet
      val got = SpatialJoin.withinDistance(probesDf, targetsDf, radius, res)
        .select("probe_id", "target_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"radius=$radius res=$res")
      assert(expected.nonEmpty, s"workload sanity at radius=$radius")
    }
  }

  test("knnGeodesic: brute-force equality at high latitude; meters track true haversine") {
    import spark.implicits._
    import graft.geo.Geodesic
    val r2 = new scala.util.Random(7)
    // 66-68°N: 1° of longitude is ~43 km vs ~111 km of latitude — planar
    // degree ranking and geodesic ranking genuinely disagree here
    val hiProbes = (0L until 30L).map(i => (i, -20.0 + r2.nextDouble() * 4.0, 66.0 + r2.nextDouble() * 2.0))
    val hiTargets = (100L until 1100L).map(i => (i, -20.0 + r2.nextDouble() * 4.0, 66.0 + r2.nextDouble() * 2.0))
    val k = 5
    val got = SpatialJoin.knnGeodesic(
        hiProbes.toDF("probe_id", "lng", "lat"),
        hiTargets.toDF("target_id", "lng", "lat"), k = k, res = 5)
      .as[(Long, Long, Int, Double)].collect()
      .map(r => (r._1, r._3) -> (r._2, r._4)).toMap
    def brute(metric: (Double, Double, Double, Double) => Double) =
      hiProbes.map { case (pid, plng, plat) =>
        pid -> hiTargets.map { case (tid, tlng, tlat) =>
          (metric(plng, plat, tlng, tlat), tid)
        }.sorted.take(k)
      }.toMap
    val expected = brute(Geodesic.havT)
    assert(got.size == hiProbes.size * k)
    for ((pid, ranked) <- expected; (r, ((t, tid))) <- (1 to k).zip(ranked)) {
      val (gtid, gm) = got((pid, r))
      assert(gtid == tid, s"probe $pid rank $r")
      assert(gm == Geodesic.metersFromT(t), s"probe $pid rank $r meters")
      // polynomial meters track true haversine to ~1e-9 relative
      def hav(plng: Double, plat: Double, tlng: Double, tlat: Double): Double = {
        val dphi = math.toRadians(tlat - plat) / 2; val dl = math.toRadians(tlng - plng) / 2
        val a = math.sin(dphi) * math.sin(dphi) +
          math.cos(math.toRadians(plat)) * math.cos(math.toRadians(tlat)) * math.sin(dl) * math.sin(dl)
        2 * Geodesic.EarthRadiusM * math.asin(math.sqrt(a))
      }
      val (plng, plat) = hiProbes.find(_._1 == pid).map(p => (p._2, p._3)).get
      val (tlng, tlat) = hiTargets.find(_._1 == gtid).map(p => (p._2, p._3)).get
      val truth = hav(plng, plat, tlng, tlat)
      assert(math.abs(gm - truth) <= 1e-6 * math.max(truth, 1.0),
        s"polynomial meters off: $gm vs $truth")
    }
    // the metric has to matter: at 67°N planar and geodesic top-1 disagree somewhere
    val planarTop = brute((a, b, c, d) => (c - a) * (c - a) + (d - b) * (d - b))
    assert(expected.exists { case (pid, ranked) =>
      ranked.head._2 != planarTop(pid).head._2
    }, "expected planar/geodesic rank-1 disagreement at high latitude")
  }

  test("withinDistanceGeodesic matches brute force at several meter radii") {
    import spark.implicits._
    import graft.geo.Geodesic
    val r3 = new scala.util.Random(11)
    val ps = (0L until 40L).map(i => (i, -20.0 + r3.nextDouble() * 2.0, 66.0 + r3.nextDouble() * 1.0))
    val ts = (100L until 1600L).map(i => (i, -20.0 + r3.nextDouble() * 2.0, 66.0 + r3.nextDouble() * 1.0))
    for (radiusM <- Seq(3000.0, 12000.0)) {
      val sinHalf = Geodesic.sinP(radiusM / (2.0 * Geodesic.EarthRadiusM))
      val tThr = sinHalf * sinHalf
      val expected = (for {
        (pid, plng, plat) <- ps
        (tid, tlng, tlat) <- ts
        if Geodesic.havT(plng, plat, tlng, tlat) <= tThr
      } yield (pid, tid)).toSet
      assert(expected.nonEmpty, s"workload sanity at $radiusM m")
      val got = SpatialJoin.withinDistanceGeodesic(
          ps.toDF("probe_id", "lng", "lat"), ts.toDF("target_id", "lng", "lat"), radiusM)
        .select("probe_id", "target_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"radius $radiusM m")
    }
  }

  test("knn matches brute force (exact ranks and distances)") {
    import spark.implicits._
    val probes = (0L until 40L)
      .map(i => (i, -120.0 + (i % 8) * 0.5 + 0.21, 36.0 + (i % 4) * 0.5 + 0.13))
    val targets = points.map { case (i, lng, lat) => (i, lng, lat) }
    val k = 7
    val expected: Set[(Long, Long, Int)] = probes.flatMap { case (pid, plng, plat) =>
      targets.map { case (tid, tlng, tlat) =>
        val d2 = (tlng - plng) * (tlng - plng) + (tlat - plat) * (tlat - plat)
        (tid, d2)
      }.sortBy { case (tid, d2) => (d2, tid) }.take(k).zipWithIndex.map {
        case ((tid, _), r) => (pid, tid, r + 1)
      }
    }.toSet
    for (res <- Seq(4, 5, 6)) {
      val got = SpatialJoin.knn(
          probes.toDF("probe_id", "lng", "lat"),
          targets.toDF("target_id", "lng", "lat"), k = k, res = res)
        .select("probe_id", "target_id", "rank").as[(Long, Long, Int)]
        .collect().toSet
      assert(got == expected, s"res=$res")
    }
  }

  test("knn emits exact results for probes whose rings never reach targets") {
    import spark.implicits._
    // targets ~10 degrees away: ring expansion at res 6 cannot reach them
    // within maxRings, so the brute-force fallback must deliver exact kNN
    val probes = Seq((1L, -119.5, 36.5), (2L, -119.2, 36.8))
    val targets = Seq((10L, -110.0, 30.0), (11L, -110.5, 30.5), (12L, -109.5, 29.5))
    val got = SpatialJoin.knn(probes.toDF("probe_id", "lng", "lat"),
        targets.toDF("target_id", "lng", "lat"), k = 2, res = 6, maxRings = 3)
      .select("probe_id", "target_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val expected = probes.flatMap { case (pid, plng, plat) =>
      targets.map { case (tid, tlng, tlat) =>
        (tid, (tlng - plng) * (tlng - plng) + (tlat - plat) * (tlat - plat))
      }.sortBy { case (tid, d2) => (d2, tid) }.take(2).zipWithIndex.map {
        case ((tid, _), r) => (pid, tid, r + 1)
      }
    }.toSet
    assert(got == expected)
  }

  test("knn with zero targets returns empty without ring churn") {
    import spark.implicits._
    val got = SpatialJoin.knn(
      Seq((1L, -119.5, 36.5)).toDF("probe_id", "lng", "lat"),
      Seq.empty[(Long, Double, Double)].toDF("target_id", "lng", "lat"),
      k = 3, res = 6)
    assert(got.count() == 0)
  }

  test("knn handles fewer targets than k (emits all, ranked)") {
    import spark.implicits._
    val probes = Seq((1L, -119.5, 36.5))
    val targets = Seq((10L, -119.4, 36.4), (11L, -119.6, 36.7))
    val got = SpatialJoin.knn(probes.toDF("probe_id", "lng", "lat"),
        targets.toDF("target_id", "lng", "lat"), k = 5, res = 6)
      .select("probe_id", "target_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(got == Set((1L, 10L, 1), (1L, 11L, 2)))
  }

  test("polygonJoin matches brute-force convex intersection; never a cartesian") {
    import spark.implicits._
    val r2 = new scala.util.Random(77)
    def tri(seed: Int, n: Int): Seq[(Long, Array[Double], Array[Double])] =
      (0 until n).map { i =>
        val cx = -120.0 + r2.nextDouble() * 3.0
        val cy = 36.0 + r2.nextDouble() * 1.5
        val w = 0.02 + r2.nextDouble() * 0.15
        val h = 0.02 + r2.nextDouble() * 0.15
        (i.toLong + seed, Array(cx, cx - w, cx + w), Array(cy + h, cy - h, cy - h))
      }
    val as = tri(0, 80); val bs = tri(1000, 80)
    val aDf = as.toDF("poly_id", "xs", "ys"); val bDf = bs.toDF("poly_id", "xs", "ys")
    val out = SpatialJoin.polygonJoin(aDf, bDf, level = 9)
    assert(!out.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val got = out.as[(Long, Long)].collect().toSet
    // brute force: same predicate semantics, independent implementation
    def orient(ax: Double, ay: Double, bx: Double, by: Double,
               cx: Double, cy: Double): Double =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    def in(pxs: Array[Double], pys: Array[Double], qx: Double, qy: Double): Boolean =
      pxs.indices.forall { i =>
        val j = (i + 1) % pxs.length
        orient(pxs(i), pys(i), pxs(j), pys(j), qx, qy) >= 0
      }
    def crosses(a: (Array[Double], Array[Double]), b: (Array[Double], Array[Double])): Boolean =
      a._1.indices.exists { i =>
        val i2 = (i + 1) % a._1.length
        b._1.indices.exists { j =>
          val j2 = (j + 1) % b._1.length
          val o1 = orient(a._1(i), a._2(i), a._1(i2), a._2(i2), b._1(j), b._2(j))
          val o2 = orient(a._1(i), a._2(i), a._1(i2), a._2(i2), b._1(j2), b._2(j2))
          val o3 = orient(b._1(j), b._2(j), b._1(j2), b._2(j2), a._1(i), a._2(i))
          val o4 = orient(b._1(j), b._2(j), b._1(j2), b._2(j2), a._1(i2), a._2(i2))
          o1 * o2 < 0 && o3 * o4 < 0
        }
      }
    val want = (for {
      (ia, axs, ays) <- as; (ib, bxs, bys) <- bs
      hit = bxs.indices.exists(j => in(axs, ays, bxs(j), bys(j))) ||
        axs.indices.exists(k => in(bxs, bys, axs(k), ays(k))) ||
        crosses((axs, ays), (bxs, bys))
      if hit
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want.nonEmpty, "degenerate: no intersecting pairs generated")
  }
}
