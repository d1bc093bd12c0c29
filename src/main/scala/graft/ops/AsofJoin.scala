package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series AS-OF join: for every left row, the single most recent right
  * row with `right.ts <= left.ts` in the same key group (inclusive on ties).
  *
  * The reference engine has no time-series surface; this is part of the
  * training-data-pipeline widening (sensor/event enrichment — "attach the
  * last known reading to each observation"), the batch companion of the
  * streaming session operators in [[graft.streaming]].
  *
  * Spark-first shape — an as-of join WITHOUT a join: tag both sides, union,
  * and fill with `last(_, ignoreNulls)` over one ordered window
  * `(ts, side, seq)` per key group. One shuffle on the key columns, a
  * single linear window scan per group, no per-key driver work, no
  * range-condition explosion (a naive `left.ts >= right.ts` theta-join is
  * quadratic per key and unusable at 100 TB). Right rows order BEFORE left
  * rows at an equal timestamp (`side` 0 < 1), which makes the match
  * inclusive; ties among right rows resolve to the largest `seqCol`.
  *
  * Row count contract: exactly one output row per left row (left-outer —
  * unmatched left rows carry null `asof_*` columns). Null-timestamp LEFT
  * rows sort first in their group and therefore never match; null-timestamp
  * RIGHT rows are dropped before the union (they have no position on the
  * time axis — leaving them in would let `last(_, ignoreNulls)` leak their
  * payload into later rows while `asof_<tsCol>` stayed null, a half-matched
  * state).
  *
  * @param keys      equality key columns (both sides)
  * @param tsCol     event-time column (both sides; exact integer micros
  *                  recommended — double timestamps are not oracle-exact)
  * @param seqCol    unique-per-side tiebreaker column (both sides), makes
  *                  the window order total and the result deterministic
  * @param payload   right columns to carry onto matches, emitted as
  *                  `asof_<name>` next to `asof_<tsCol>`
  * @param tolerance optional max `left.ts - right.ts` (same unit as tsCol);
  *                  staler matches null out, the row is kept
  */
object AsofJoin {

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, seqCol: String, payload: Seq[String],
               tolerance: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one key column")
    val sideCol = "_asof_side"
    val asofTs = s"asof_$tsCol"
    val outPayload = payload.map(p => s"asof_$p")
    val reserved = (outPayload :+ asofTs :+ sideCol).toSet
    require(left.columns.forall(!reserved.contains(_)),
      s"left side collides with emitted columns: ${reserved.mkString(", ")}")

    // right side: keys + order columns + payload under its output alias;
    // left-only columns ride as typed nulls so unionByName lines up
    val orderCols = keys ++ Seq(tsCol, seqCol)
    val leftExtra = left.columns.filterNot(orderCols.contains)
    val rightU = right.filter(col(tsCol).isNotNull).select(
      orderCols.map(col) ++
        payload.map(p => col(p).as(s"asof_$p")) ++
        Seq(col(tsCol).as(asofTs), lit(0).as(sideCol)) ++
        leftExtra.map(n => lit(null).cast(left.schema(n).dataType).as(n)): _*)
    val leftU = left.select(
      (left.columns.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"asof_$p")) ++
        Seq(lit(null).cast(right.schema(tsCol).dataType).as(asofTs),
          lit(1).as(sideCol))).toIndexedSeq: _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(sideCol), col(seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fillCols = outPayload :+ asofTs
    val filled = fillCols.foldLeft(rightU.unionByName(leftU)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }

    val matched = filled.filter(col(sideCol) === 1).drop(sideCol)
    val bounded = tolerance match {
      case None => matched
      case Some(tol) =>
        val ok = col(asofTs).isNotNull && (col(tsCol) - col(asofTs) <= lit(tol))
        fillCols.foldLeft(matched)((df, c) => df.withColumn(c, when(ok, col(c))))
    }
    bounded.select((left.columns ++ fillCols).map(col).toIndexedSeq: _*)
  }
}
