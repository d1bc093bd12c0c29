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
    * continent-length lines (those need the split-apply-merge variant:
    * simplify fixed-size chunks, then simplify the chunk endpoints).
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

  /** Split-apply Douglas–Peucker — the scale path [[simplify]]'s scaladoc
    * promises for continent-length lines: vertices chunk into runs of
    * `chunk` consecutive points in seq order, each boundary vertex SHARED
    * by both neighbouring chunks (so every chunk's DP anchors on its true
    * endpoints), exact DP runs per chunk with memory bounded by `chunk+1`
    * points regardless of line length, and the kept vertices union
    * (boundaries — always kept as chunk endpoints — dedup by distinct).
    *
    * Approximation contract (documented, deterministic): the result equals
    * exact DP applied to every chunk. Chords never span a chunk boundary,
    * so the ε tolerance holds globally, but up to one extra vertex per
    * boundary survives that whole-line DP might have dropped — the
    * standard split-apply trade.
    *
    * Scale shape: one window shuffle on `line_id` for the per-line rank,
    * one groupByKey shuffle on (line_id, chunk) — both key-bounded; no
    * group ever holds more than `chunk+1` vertices.
    */
  def simplifyChunked(lines: DataFrame, eps: Double, chunk: Int): DataFrame = {
    require(chunk >= 2, s"chunk must be >= 2, got $chunk")
    val spark = lines.sparkSession
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val w = Window.partitionBy("line_id").orderBy("seq")
    lines
      .select(col("line_id").cast(LongType), col("seq").cast(LongType),
        col("lng").cast(DoubleType), col("lat").cast(DoubleType))
      .withColumn("r", row_number().over(w) - 1)
      .withColumn("ck", explode(
        when(col("r") % chunk === 0 && col("r") > 0,
          array(expr(s"CAST(r DIV $chunk AS LONG) - 1"),
            expr(s"CAST(r DIV $chunk AS LONG)")))
          .otherwise(array(expr(s"CAST(r DIV $chunk AS LONG)")))))
      .select(col("line_id"), col("seq"), col("lng"), col("lat"), col("ck"))
      .as[(Long, Long, Double, Double, Long)]
      .groupByKey(t => (t._1, t._5))
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Double, Double, Long)]) =>
        val lid = key._1
        val pts = it.toArray.sortBy(_._2)
        val keep = Simplify.douglasPeucker(pts.map(_._3), pts.map(_._4), eps)
        pts.indices.iterator.filter(keep)
          .map(i => (lid, pts(i)._2, pts(i)._3, pts(i)._4))
      }
      .toDF("line_id", "seq", "lng", "lat")
      .distinct()
  }

  /** Dwell (stay-point) detection: maximal runs of ≥ `minRun` CONSECUTIVE
    * samples of one trajectory inside one spatial cell — the stop-detection
    * primitive of trajectory mining (where did the device linger), with the
    * cell pre-assigned by the caller so the run semantics are pure
    * gaps-and-islands: `row_number() − row_number() within (traj, cell)` is
    * constant exactly along a consecutive same-cell run.
    *
    * Scale shape: two window passes keyed by the trajectory (state bounded
    * by one trajectory's history — the same per-key discipline as
    * sessionization) and one aggregation keyed by (traj, cell, run); no
    * joins, nothing quadratic.
    *
    * @param points (traj_id, ts, tie, cell) — `tie` breaks equal
    *               timestamps to a total order (pass a unique event id)
    * @return (traj_id, cell, n_events, ts_start, ts_end), runs ≥ minRun
    */
  def dwellRuns(points: DataFrame, minRun: Int): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wAll = Window.partitionBy("traj_id").orderBy(col("ts"), col("tie"))
    val wCell = Window.partitionBy("traj_id", "cell")
      .orderBy(col("ts"), col("tie"))
    points
      .withColumn("rn", row_number().over(wAll))
      .withColumn("rc", row_number().over(wCell))
      .withColumn("grp", col("rn") - col("rc"))
      .groupBy("traj_id", "cell", "grp")
      .agg(count(lit(1)).cast("long").as("n_events"),
        min("ts").as("ts_start"), max("ts").as("ts_end"))
      .filter(col("n_events") >= minRun)
      .drop("grp")
  }

  /** Co-location (contact) join: pairs of trajectories observed in the SAME
    * spatial cell during the SAME time bucket, weighted by how many
    * distinct (cell, bucket) encounters they share — the contact-graph
    * primitive (proximity tracing, co-travel detection). Its output edge
    * list feeds [[Graph.pagerank]] / [[TextDedup.connectedComponentsStar]].
    *
    * Scale shape: the ONLY join is a self-equi-join keyed by
    * (cell, bucket) — the same bucketed discipline as the LSH band join;
    * never all-pairs. Within one bucket the k² pair fan-out IS the answer's
    * size; skewed mega-buckets (a stadium cell) should be capped upstream
    * by a per-bucket distinct-trajectory limit, exactly like LSH's maxDf.
    * The per-pair dedup (a pair counted once per encounter even with many
    * samples inside the bucket) happens BEFORE the pair join via distinct.
    *
    * @param points (traj_id, cell, tb) — cell + time bucket pre-assigned
    * @return (t1, t2, n_encounters) with t1 < t2
    */
  def colocation(points: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val obs = points.select(col("traj_id").cast("long"), col("cell"),
      col("tb")).distinct()
    obs.select(col("traj_id").as("t1"), col("cell"), col("tb"))
      .join(obs.select(col("traj_id").as("t2"), col("cell"), col("tb")),
        Seq("cell", "tb"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).cast("long").as("n_encounters"))
  }

  /** Convoy (co-movement) detection — [[colocation]]'s temporal upgrade:
    * a pair of trajectories forms a convoy run when they share a spatial
    * cell in ≥ `minLen` CONSECUTIVE time buckets (the classic co-travel /
    * flock pattern; one-off contacts don't qualify). Pair contacts come
    * from the same (cell, tb)-bucketed self-join as [[colocation]] (never
    * all-pairs); runs are the gaps-and-islands grouping `tb − row_number`
    * over each pair's distinct contact buckets — ONE pair-keyed window.
    *
    * @param points (traj_id, cell, tb)
    * @return (t1, t2, start_tb, len) — one row per maximal run with
    *         len ≥ minLen, t1 < t2
    */
  def convoy(points: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val obs = points.select(col("traj_id").cast("long"), col("cell"),
      col("tb")).distinct()
    val contacts = obs.select(col("traj_id").as("t1"), col("cell"), col("tb"))
      .join(obs.select(col("traj_id").as("t2"), col("cell"), col("tb")),
        Seq("cell", "tb"))
      .filter(col("t1") < col("t2"))
      .select("t1", "t2", "tb").distinct() // many shared cells, one contact
    val w = Window.partitionBy("t1", "t2").orderBy("tb")
    contacts
      .withColumn("grp", col("tb") - row_number().over(w))
      .groupBy("t1", "t2", "grp")
      .agg(min("tb").as("start_tb"), count(lit(1)).as("len"))
      .filter(col("len") >= minLen)
      .select("t1", "t2", "start_tb", "len")
  }

  /** Origin–destination matrix: each trajectory contributes one flow from
    * the cell of its FIRST sample to the cell of its LAST (ordered by
    * (ts, tie) — total order, so the endpoints are unique), then flows
    * aggregate per (origin, destination) cell pair — the mobility-analytics
    * rollup (commute flows, tile-to-tile demand).
    *
    * Scale shape: ONE window shuffle keyed by the trajectory extracts both
    * endpoints in a single pass (first/last over the full frame — no
    * struct-typed min/max aggregate, which Spark's hash aggregate rejects
    * and would silently degrade to a SortAggregate), a per-trajectory
    * dedupe, and the (o, d) count. State per key is one row; nothing
    * quadratic, no joins.
    *
    * @param points (traj_id, ts, tie, cell)
    * @return (o_cell, d_cell, n_traj)
    */
  def odMatrix(points: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("traj_id").orderBy(col("ts"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    points
      .select(col("traj_id"),
        first("cell").over(w).as("o_cell"),
        last("cell").over(w).as("d_cell"))
      .distinct()
      .groupBy("o_cell", "d_cell")
      .agg(count(lit(1)).cast("long").as("n_traj"))
  }

  /** Fixed-interval TIME resampling of trajectories: the position at every
    * epoch-aligned tick (`tick % stepUs == 0`) inside each trajectory's
    * observed time span, linearly interpolated between the surrounding
    * fixes — the normalization step before any cross-trajectory analytics
    * (co-location, OD matrices, speed profiles) that must compare positions
    * AT THE SAME INSTANT rather than at unaligned GPS fix times.
    *
    * Same exact-integer model as [[pointAlong]], with TIME as the
    * interpolation axis: coords quantize to micro-degree Longs first; a
    * segment (prev, cur] contributes ticks `k·step` for
    * `k ∈ [prev div step + 1, cur div step]` (half-open on the left, so a
    * tick landing exactly on a fix is produced once, by the segment ending
    * there — and the first fix emits itself iff it is tick-aligned); the
    * lerp is the sign-split non-negative `DIV` of [[pointAlong]].
    * Duplicate-timestamp fixes order by the tie column and produce empty
    * segments — no division by zero, no double emission. Integer headroom:
    * |Δcoord_μdeg| · segment_μs < 2⁶³ — holds for any fix cadence up to
    * hours even at antipodal jumps; day-long gaps across the globe want a
    * pre-split (documented, not silently truncated).
    *
    * Plan shape: ONE traj_id window Exchange (lag + row_number share the
    * sort), ticks explode per segment with no join — trajectories resample
    * independently at any scale.
    *
    * @param points (traj_id, ts_us, tie, lng, lat) — micros + tie-break id
    * @param stepUs tick interval in microseconds
    * @return (traj_id, tick_us, ax, ay) — micro-degree positions
    */
  def resample(points: DataFrame, stepUs: Long): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive: $stepUs")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("traj_id").orderBy("ts_us", "tie")
    val d = points
      .select(col("traj_id"), col("ts_us").cast(LongType), col("tie"),
        floor(col("lng") * lit(1000000.0)).cast(LongType).as("xq"),
        floor(col("lat") * lit(1000000.0)).cast(LongType).as("yq"))
      .withColumn("pts", lag("ts_us", 1).over(w))
      .withColumn("px", lag("xq", 1).over(w))
      .withColumn("py", lag("yq", 1).over(w))
      .withColumn("rn", row_number().over(w))
    val first = d.filter(col("rn") === 1 && col("ts_us") % lit(stepUs) === 0)
      .select(col("traj_id"), col("ts_us").as("tick_us"),
        col("xq").as("ax"), col("yq").as("ay"))
    val seg = d.filter(col("rn") > 1 && col("ts_us") > col("pts"))
      .withColumn("k0", expr(s"pts DIV ${stepUs}L + 1"))
      .withColumn("k1", expr(s"ts_us DIV ${stepUs}L"))
      .filter(col("k0") <= col("k1"))
      .withColumn("k", explode(sequence(col("k0"), col("k1"))))
      .withColumn("tick_us", col("k") * lit(stepUs))
      .withColumn("offq", col("tick_us") - col("pts"))
      .withColumn("den", col("ts_us") - col("pts"))
      .selectExpr("traj_id", "tick_us",
        """px + CASE WHEN xq >= px THEN ((xq - px) * offq) DIV den
               ELSE -(((px - xq) * offq) DIV den) END AS ax""",
        """py + CASE WHEN yq >= py THEN ((yq - py) * offq) DIV den
               ELSE -(((py - yq) * offq) DIV den) END AS ay""")
    first.unionByName(seg)
  }

  /** Implausible-speed flagging — the standard GPS-cleaning pass BEFORE any
    * trajectory analytics (a teleporting fix poisons dwell runs, OD
    * matrices and co-location alike): per consecutive fix pair, the exact
    * integer speed `dist_μdeg · 10⁶ div Δt_μs` (micro-degrees/second), and
    * a flag when it exceeds `maxSpeedQ` — or when Δt = 0 with nonzero
    * displacement (two "simultaneous" fixes apart in space, the hard
    * teleport). First fix of a trajectory is never flagged. Same quantize/
    * sqrt/DIV algebra as [[pointAlong]]/[[resample]]; one traj_id window
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

  /** Point-at-fraction along every line (the turf `along` primitive as a
    * batch op): for each requested fraction f of a line's total length,
    * the interpolated position — waypoint/milestone extraction, label
    * placement, progress markers along routes.
    *
    * Exact integer arithmetic end to end so any engine replays it
    * bit-for-bit: vertices quantize to micro-degree Longs FIRST, each
    * segment length is `floor(sqrt(dx² + dy²))` in micro-units (one IEEE
    * sqrt of an exactly-representable integer — dx² + dy² < 2⁵³ holds
    * world-wide), cumulative/total lengths are exact Long sums in vertex
    * order, the target arclength is `(total · f_ppm) div 10⁶`, and the
    * within-segment lerp is a sign-split non-negative integer division
    * (`DIV` truncation == floor on non-negatives — the cross-engine
    * contract; the numerator |Δcoord|·offset < 2⁶³ world-wide). The
    * containing segment is unique: strictly-positive-length segments
    * partition (0, total] into half-open runs, and target 0 falls to the
    * explicit first-vertex case.
    *
    * Plan shape: ONE `line_id` window Exchange computes lag/cum/total/rn
    * in a single pass (all four functions share the sort), the fraction
    * list explodes AFTER the windows (|fracs| rows per vertex, filtered
    * immediately to one row per (line, fraction)) — no joins, no second
    * shuffle; lines process independently at any scale.
    *
    * @param verts    (line_id, seq, lng, lat) vertex rows
    * @param fracsPpm fractions of total length, in ppm (500000 = midpoint)
    * @return (line_id, f_ppm, ax, ay) — interpolated micro-degree coords
    */
  def pointAlong(verts: DataFrame, fracsPpm: Seq[Long]): DataFrame = {
    require(fracsPpm.nonEmpty && fracsPpm.forall(f => f >= 0 && f <= 1000000),
      s"fractions must be in [0, 1000000] ppm: $fracsPpm")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("line_id").orderBy("seq")
    val d = verts
      .select(col("line_id"), col("seq"),
        floor(col("lng") * lit(1000000.0)).cast("long").as("xq"),
        floor(col("lat") * lit(1000000.0)).cast("long").as("yq"))
      .withColumn("px", lag("xq", 1).over(w))
      .withColumn("py", lag("yq", 1).over(w))
      .withColumn("seg_q", coalesce(
        floor(sqrt(((col("xq") - col("px")) * (col("xq") - col("px")) +
          (col("yq") - col("py")) * (col("yq") - col("py"))).cast("double")))
          .cast("long"), lit(0L)))
      .withColumn("cum_q", sum("seg_q")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_q", sum("seg_q").over(Window.partitionBy("line_id")))
      .withColumn("rn", row_number().over(w))
    d.withColumn("f_ppm", explode(array(fracsPpm.map(lit): _*)))
      .withColumn("tq", expr("(total_q * f_ppm) DIV 1000000"))
      .filter((col("tq") === 0 && col("rn") === 1) ||
        (col("tq") > col("cum_q") - col("seg_q") && col("tq") <= col("cum_q")))
      .withColumn("offq", col("tq") - (col("cum_q") - col("seg_q")))
      .selectExpr("line_id", "f_ppm",
        """CASE WHEN seg_q = 0 THEN xq
           ELSE px + CASE WHEN xq >= px THEN ((xq - px) * offq) DIV seg_q
                     ELSE -(((px - xq) * offq) DIV seg_q) END END AS ax""",
        """CASE WHEN seg_q = 0 THEN yq
           ELSE py + CASE WHEN yq >= py THEN ((yq - py) * offq) DIV seg_q
                     ELSE -(((py - yq) * offq) DIV seg_q) END END AS ay""")
  }

  /** Discrete Fréchet distance (squared, exact integers) — the ORDER-AWARE
    * trajectory similarity [[hausdorff]] isn't: the classic "dog leash"
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

  def hausdorff(points: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = pairs.join(points.select(col("traj_id").as("t1"),
      col("px").as("ax"), col("py").as("ay")), "t1")
    val joined = a.join(points.select(col("traj_id").as("t2"),
        col("px").as("bx"), col("py").as("by")), "t2")
      .withColumn("d2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
    val hAB = joined.groupBy("t1", "t2", "ax", "ay")
      .agg(min("d2").as("mn"))
      .groupBy("t1", "t2")
      .agg(max("mn").as("h_ab"), count(lit(1)).as("n_a"))
    val hBA = joined.groupBy("t1", "t2", "bx", "by")
      .agg(min("d2").as("mn"))
      .groupBy("t1", "t2")
      .agg(max("mn").as("h_ba"), count(lit(1)).as("n_b"))
    hAB.join(hBA, Seq("t1", "t2"))
      .select(col("t1"), col("t2"), col("n_a"), col("n_b"),
        greatest(col("h_ab"), col("h_ba")).as("hausdorff_d2"))
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
