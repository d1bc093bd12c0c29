package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** One-pass histogram quantiles — the 100 TB quantile path.
  *
  * The exact per-group selection quantile (SparkEntry `events_quantiles`)
  * sorts every group: a full per-group window sort, fine when groups are
  * many, unusable when one group holds a large fraction of a 100 TB table.
  * The histogram path needs ONE aggregation whose state is bounded by the
  * bin count, is mergeable (map-side combine does most of the work), and
  * never materializes a per-row rank: counts per (group, bin), a cumulative
  * sum over the tiny per-group bin list, and the quantile is the first bin
  * whose cumulative count reaches the selection rank. Resolution is the bin
  * width — the deterministic analogue of a sketch (t-digest/KLL trade the
  * fixed bins for adaptive ones; fixed bins keep the result bit-exact and
  * engine-independent, which a randomized sketch cannot be).
  */
object Quantiles {

  /** Per-group histogram quantiles of an exact integer column.
    *
    * Ranks use the same selection convention as the exact operator
    * (`r_p = floor((n-1)·p) + 1` under ascending order), so at bin width 1
    * this degenerates to the exact selection quantile. Bin is
    * `floor(valueInt / binWidth)` — floor of one IEEE division of exact
    * integers, identical across engines for any sign.
    *
    * @param df       input
    * @param groupCol group key column name
    * @param valueInt exact-integer value column (e.g. cents), any expression
    * @param binWidth histogram bin width in the same integer unit
    * @param ps       quantiles to emit, each labeled `p<100p>_lo` — the bin
    *                 LOWER BOUND (in the integer unit) holding the quantile
    * @return one row per group: (groupCol, n, p..._lo ...)
    */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueInt: Column,
                         binWidth: Long, ps: Seq[Double]): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"bad ps: $ps")
    val counts = df
      .withColumn("bin",
        floor(valueInt.cast("long") / lit(binWidth.toDouble)).cast("long"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("c"))
    // both windows are over the per-group BIN list (bounded, tiny), not rows
    val cumW = Window.partitionBy(groupCol).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(groupCol)
    val cum = counts
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(totW))
    def rankOf(p: Double): Column = floor((col("n") - 1) * lit(p)) + 1
    val qCols = ps.map { p =>
      val label = s"p${math.round(p * 100)}_lo"
      min(when(col("cum") >= rankOf(p), col("bin") * binWidth)).as(label)
    }
    cum.groupBy(groupCol)
      .agg(max(col("n")).as("n"), qCols: _*)
  }

}
