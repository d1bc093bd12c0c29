package graft.ops

import graft.geo.Simplify
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Trajectory operators over per-line vertex streams (line_id, seq, lng,
  * lat) — the reference's polyline domain as batch analytics.
  */
object Trajectory {

  /** Douglas–Peucker simplification of every line (see [[Simplify]] for the
    * oracle-replicable split rule).
    *
    * Scale shape: one shuffle on `line_id` (lines are mutually independent);
    * each group holds ONE line's vertices in memory — the same per-feature
    * bound as GeoJSON reassembly (A4), fine for trails/routes, not for
    * continent-length lines.
    */
  def simplify(lines: DataFrame, eps: Double): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .select(col("line_id").cast(LongType), col("seq").cast(LongType),
        col("lng").cast(DoubleType), col("lat").cast(DoubleType))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (lid, it) =>
        val pts = it.toArray.sortBy(_._2)
        val keep = Simplify.douglasPeucker(pts.map(_._3), pts.map(_._4), eps)
        pts.indices.iterator.filter(keep).map(i => (lid, pts(i)._2, pts(i)._3, pts(i)._4))
      }
      .toDF("line_id", "seq", "lng", "lat")
  }

  /** Implausible-speed flagging — the standard GPS-cleaning pass BEFORE any
    * trajectory analytics (a teleporting fix poisons every similarity
    * score downstream): per consecutive fix pair, the exact integer speed
    * `dist_μdeg · 10⁶ div Δt_μs` (micro-degrees/second), and a flag when
    * it exceeds `maxSpeedQ` — or when Δt = 0 with nonzero displacement
    * (two "simultaneous" fixes apart in space, the hard teleport). First
    * fix of a trajectory is never flagged. Coordinates quantize to
    * micro-degree Longs with `floor`, the distance is `floor(sqrt)` of an
    * exact integer and the speed a truncating `DIV`; one traj_id window
    * pass.
    *
    * @param points    (traj_id, ts_us, tie, lng, lat)
    * @param maxSpeedQ plausibility ceiling in micro-degrees/second
    * @return (traj_id, tie, dist_q, dt_us, speed_q, flagged) — speed_q is
    *         −1 for the Δt = 0 + displacement case (∞ sentinel), 0 for a
    *         trajectory's first fix
    */
  def speedFlags(points: DataFrame, maxSpeedQ: Long): DataFrame = {
    require(maxSpeedQ > 0, s"maxSpeedQ must be positive: $maxSpeedQ")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("traj_id").orderBy("ts_us", "tie")
    points
      .select(col("traj_id"), col("ts_us").cast(LongType), col("tie"),
        floor(col("lng") * lit(1000000.0)).cast(LongType).as("xq"),
        floor(col("lat") * lit(1000000.0)).cast(LongType).as("yq"))
      .withColumn("pts", lag("ts_us", 1).over(w))
      .withColumn("px", lag("xq", 1).over(w))
      .withColumn("py", lag("yq", 1).over(w))
      .withColumn("dist_q", coalesce(
        floor(sqrt(((col("xq") - col("px")) * (col("xq") - col("px")) +
          (col("yq") - col("py")) * (col("yq") - col("py"))).cast("double")))
          .cast(LongType), lit(0L)))
      .withColumn("dt_us", coalesce(col("ts_us") - col("pts"), lit(0L)))
      .withColumn("speed_q", expr(
        """CASE WHEN pts IS NULL THEN 0L
           WHEN dt_us = 0L AND dist_q = 0L THEN 0L
           WHEN dt_us = 0L THEN -1L
           ELSE (dist_q * 1000000L) DIV dt_us END"""))
      .withColumn("flagged", col("pts").isNotNull &&
        (col("speed_q") === -1L || col("speed_q") > lit(maxSpeedQ)))
      .select("traj_id", "tie", "dist_q", "dt_us", "speed_q", "flagged")
  }

  /** Discrete Fréchet distance (squared, exact integers) — the ORDER-AWARE
    * trajectory similarity Hausdorff distance isn't: the classic "dog leash"
    * coupling DP ca(i,j) = max(d²(i,j), min(ca(i−1,j), ca(i−1,j−1),
    * ca(i,j−1))) over the full traversal lattice (Eiter & Mannila 1994,
    * public). Two reversed traversals of the same path are Hausdorff-0 but
    * Fréchet-far — the property map-matching and route-dedup need.
    *
    * Scale shape: the d² lattice is built by two pair-keyed equi-joins
    * (|pairs|·m·n rows, never all trajectory pairs), then ONE groupByKey
    * whose per-pair state is the m×n matrix — bounded by trajectory
    * length, the same justification as feature_reassembly's per-feature
    * state. The oracle unrolls the DP as one CTE per anti-diagonal.
    *
    * @param points (traj_id, seq, px, py) integer coordinates
    * @param pairs  (t1, t2)
    * @return (t1, t2, n_a, n_b, frechet_d2)
    */
  def frechet(points: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = points.sparkSession
    import spark.implicits._
    val a = pairs.join(points.select(col("traj_id").as("t1"),
      col("seq").cast("int").as("i"), col("px").cast("long").as("ax"),
      col("py").cast("long").as("ay")), "t1")
    val cells = a.join(points.select(col("traj_id").as("t2"),
        col("seq").cast("int").as("j"), col("px").cast("long").as("bx"),
        col("py").cast("long").as("by")), "t2")
      .select(col("t1").cast("long"), col("t2").cast("long"), col("i"),
        col("j"),
        ((col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by"))).as("d2"))
    cells.as[(Long, Long, Int, Int, Long)]
      .groupByKey { case (t1, t2, _, _, _) => (t1, t2) }
      .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Int, Int, Long)]) =>
        val (t1, t2) = key
        val m = it.toArray
        var nA = 0; var nB = 0
        m.foreach { case (_, _, i, j, _) =>
          if (i >= nA) nA = i + 1
          if (j >= nB) nB = j + 1
        }
        val d2 = Array.fill(nA * nB)(Long.MaxValue)
        m.foreach { case (_, _, i, j, v) => d2(i * nB + j) = v }
        val ca = new Array[Long](nA * nB)
        var i = 0
        while (i < nA) {
          var j = 0
          while (j < nB) {
            val best =
              if (i == 0 && j == 0) d2(0)
              else {
                var mn = Long.MaxValue
                if (i > 0 && ca((i - 1) * nB + j) < mn) mn = ca((i - 1) * nB + j)
                if (j > 0 && ca(i * nB + j - 1) < mn) mn = ca(i * nB + j - 1)
                if (i > 0 && j > 0 && ca((i - 1) * nB + j - 1) < mn)
                  mn = ca((i - 1) * nB + j - 1)
                if (d2(i * nB + j) > mn) d2(i * nB + j) else mn
              }
            ca(i * nB + j) = best
            j += 1
          }
          i += 1
        }
        (t1, t2, nA, nB, ca(nA * nB - 1))
      }
      .toDF("t1", "t2", "n_a", "n_b", "frechet_d2")
  }

  /** Dynamic Time Warping (squared-distance costs, exact integers) — the
    * elastic-alignment member of the similarity family: [[frechet]] takes
    * the MAX edge of the best coupling, DTW SUMS the cost along the
    * optimal monotone alignment
    * `dtw(i,j) = d²(i,j) + min(dtw(i−1,j), dtw(i−1,j−1), dtw(i,j−1))`.
    * Same pair-keyed lattice and per-pair bounded DP; the oracle unrolls
    * the identical recurrence per anti-diagonal.
    *
    * @param points (traj_id, seq, px, py) integer coordinates
    * @param pairs  (t1, t2)
    * @return (t1, t2, n_a, n_b, dtw_d2)
    */
  def dtw(points: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = points.sparkSession
    import spark.implicits._
    val a = pairs.join(points.select(col("traj_id").as("t1"),
      col("seq").cast("int").as("i"), col("px").cast("long").as("ax"),
      col("py").cast("long").as("ay")), "t1")
    val cells = a.join(points.select(col("traj_id").as("t2"),
        col("seq").cast("int").as("j"), col("px").cast("long").as("bx"),
        col("py").cast("long").as("by")), "t2")
      .select(col("t1").cast("long"), col("t2").cast("long"), col("i"),
        col("j"),
        ((col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by"))).as("d2"))
    cells.as[(Long, Long, Int, Int, Long)]
      .groupByKey { case (t1, t2, _, _, _) => (t1, t2) }
      .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Int, Int, Long)]) =>
        val (t1, t2) = key
        val m = it.toArray
        var nA = 0; var nB = 0
        m.foreach { case (_, _, i, j, _) =>
          if (i >= nA) nA = i + 1
          if (j >= nB) nB = j + 1
        }
        val d2 = Array.fill(nA * nB)(Long.MaxValue)
        m.foreach { case (_, _, i, j, v) => d2(i * nB + j) = v }
        val ca = new Array[Long](nA * nB)
        var i = 0
        while (i < nA) {
          var j = 0
          while (j < nB) {
            val prev =
              if (i == 0 && j == 0) 0L
              else {
                var mn = Long.MaxValue
                if (i > 0 && ca((i - 1) * nB + j) < mn) mn = ca((i - 1) * nB + j)
                if (j > 0 && ca(i * nB + j - 1) < mn) mn = ca(i * nB + j - 1)
                if (i > 0 && j > 0 && ca((i - 1) * nB + j - 1) < mn)
                  mn = ca((i - 1) * nB + j - 1)
                mn
              }
            ca(i * nB + j) = d2(i * nB + j) + prev
            j += 1
          }
          i += 1
        }
        (t1, t2, nA, nB, ca(nA * nB - 1))
      }
      .toDF("t1", "t2", "n_a", "n_b", "dtw_d2")
  }

  /** EDR trajectory distance (Chen–Özsu–Oria 2005, public): edit distance
    * on real sequences — insertions/deletions cost 1, a substitution
    * costs 0 when the fixes match within `eps2` (squared tolerance) and
    * 1 otherwise. Completes the [[dtw]]/[[frechet]] family: EDR
    * penalizes gaps yet tolerates noise (DTW couples every point). Same pair-keyed lattice fold in mapGroups;
    * at 100 TB the lattice per pair is bounded by the resampled fix
    * budget, and pairs shard by the pairs relation.
    *
    * @return (t1, t2, n_a, n_b, edr)
    */
  def edr(points: DataFrame, pairs: DataFrame, eps2: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = points.sparkSession
    import spark.implicits._
    val a = pairs.join(points.select(col("traj_id").as("t1"),
      col("seq").cast("int").as("i"), col("px").cast("long").as("ax"),
      col("py").cast("long").as("ay")), "t1")
    val cells = a.join(points.select(col("traj_id").as("t2"),
        col("seq").cast("int").as("j"), col("px").cast("long").as("bx"),
        col("py").cast("long").as("by")), "t2")
      .select(col("t1").cast("long"), col("t2").cast("long"), col("i"),
        col("j"),
        ((col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by"))).as("d2"))
    cells.as[(Long, Long, Int, Int, Long)]
      .groupByKey { case (t1, t2, _, _, _) => (t1, t2) }
      .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Int, Int, Long)]) =>
        val (t1, t2) = key
        val m = it.toArray
        var nA = 0; var nB = 0
        m.foreach { case (_, _, i, j, _) =>
          if (i >= nA) nA = i + 1
          if (j >= nB) nB = j + 1
        }
        val sub = Array.fill(nA * nB)(1L)
        m.foreach { case (_, _, i, j, v) =>
          sub(i * nB + j) = if (v <= eps2) 0L else 1L
        }
        val dp = new Array[Long](nA * nB)
        var i = 0
        while (i < nA) {
          var j = 0
          while (j < nB) {
            val del = (if (i > 0) dp((i - 1) * nB + j) else (j + 1).toLong) + 1L
            val ins = (if (j > 0) dp(i * nB + j - 1) else (i + 1).toLong) + 1L
            val diag = (if (i > 0 && j > 0) dp((i - 1) * nB + j - 1)
              else if (i == 0 && j == 0) 0L
              else if (i == 0) j.toLong
              else i.toLong) + sub(i * nB + j)
            dp(i * nB + j) = math.min(del, math.min(ins, diag))
            j += 1
          }
          i += 1
        }
        (t1, t2, nA, nB, dp(nA * nB - 1))
      }
      .toDF("t1", "t2", "n_a", "n_b", "edr")
  }
}
