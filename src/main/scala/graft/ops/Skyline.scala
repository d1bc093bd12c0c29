package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto-front / dominance) operator — the classic
  * multi-criteria OLAP operator Spark has no built-in for: keep the rows no
  * other row dominates (≤ in both dimensions, < in at least one; minimize
  * both). Börzsönyi et al. 2001 ("The Skyline Operator", public).
  *
  * Shape: for 2-D, the sorted-scan identity makes the skyline a running
  * min, not a quadratic self-join — under the total order (x asc, y asc) a
  * row is in the skyline iff every strictly-preceding row has larger y,
  * i.e. `min(y) over preceding > y`. That running min is computed in the
  * [[GlobalRank]] two-phase shape ([[GlobalRank.withPrecedingMin]]): a
  * range partition on (x, y), a running min inside each partition, and the
  * min of the earlier partitions carried in through the tiny
  * per-partition frame. No task ever holds more than its range partition,
  * so a perfectly anti-correlated table — one that IS its own skyline —
  * costs the same as any other.
  *
  * @param df unique (x, y) pairs (caller pre-aggregates duplicates)
  * @return the dominating subset of df, all columns preserved
  */
object Skyline {
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rmin = Iterator.iterate("_rmin")("_" + _)
      .dropWhile(df.columns.contains).next()
    GlobalRank.withPrecedingMin(df, yCol, rmin, Seq(col(xCol), col(yCol)))
      .filter(col(rmin).isNull || col(yCol) < col(rmin))
      .drop(rmin)
  }
}
