package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectation suite (Deequ-style): evaluate a set
  * of table constraints in as few passes as possible and emit one verdict
  * row per constraint — the ingestion gate a 100 TB training-data pipeline
  * runs before a corpus snapshot is allowed to feed downstream jobs
  * (reference analogue: the strict `UNSUPPORTED_SIZE` buffer gate at
  * `src/elevation/getResolutionAndSize.ts:17-26` generalized from one
  * hard-coded predicate to a user-declared suite).
  *
  * Plan shape, by constraint class:
  *  - row-level predicates ([[NotNull]], [[Bounds]], [[InValues]],
  *    [[MinRows]]) all fold into ONE combined aggregation over ONE scan —
  *    a `sum(CASE WHEN violated)` per rule, map-side partial, one row out.
  *    Adding a rule adds a column to the agg, never a pass.
  *  - [[Unique]] needs the key histogram: one map-side-combined
  *    `groupBy(key).count` (shuffle bounded by distinct keys), violations =
  *    sum of surplus multiplicities.
  *  - [[InTable]] (referential containment) is a semi-join probe: distinct
  *    probe keys vs the reference key column — broadcast when the reference
  *    side is a dimension, shuffle-hash otherwise; Spark's planner picks by
  *    size, and at 100 TB the distinct-first keeps both sides key-bounded.
  *
  * Output schema (one row per rule, suite order preserved):
  * `(rule, column, violations: Long, total: Long, passed: Boolean)`.
  * `total` is the row count the rule inspected (table rows for row-level
  * rules, distinct keys for Unique, distinct probe keys for InTable).
  * Deterministic: every verdict is an exact count, no sampling.
  */
object DataQuality {

  /** One declared expectation over a table. */
  sealed trait Rule { def name: String; def column: String }
  /** `column IS NOT NULL` for every row. */
  final case class NotNull(column: String) extends Rule { val name = "not_null" }
  /** `lo <= column <= hi` for every non-null row (nulls are NotNull's job). */
  final case class Bounds(column: String, lo: Double, hi: Double) extends Rule {
    val name = "bounds"
  }
  /** `column IN (values)` for every non-null row. */
  final case class InValues(column: String, values: Seq[String]) extends Rule {
    val name = "in_values"
  }
  /** Table carries at least `n` rows (column reported as `*`). */
  final case class MinRows(n: Long) extends Rule {
    val name = "min_rows"; val column = "*"
  }
  /** `column` values are unique across the table. */
  final case class Unique(column: String) extends Rule { val name = "unique" }
  /** Every non-null `column` value appears in `ref`'s `refColumn`. */
  final case class InTable(column: String, ref: DataFrame, refColumn: String)
      extends Rule { val name = "in_table" }

  private def violatedWhen(c: Column): Column =
    coalesce(sum(when(c, lit(1L)).otherwise(lit(0L))), lit(0L))

  /** Evaluate `rules` against `df`; see object doc for the plan shape. */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._

    // Pass 1: every row-level rule as one column of a single aggregation.
    val rowRules = rules.zipWithIndex.collect {
      case (r: NotNull, i)  => (i, r: Rule, col(r.column).isNull)
      case (r: Bounds, i)   =>
        (i, r: Rule, col(r.column).isNotNull &&
          !(col(r.column) >= lit(r.lo) && col(r.column) <= lit(r.hi)))
      case (r: InValues, i) =>
        (i, r: Rule, col(r.column).isNotNull &&
          !col(r.column).cast("string").isin(r.values: _*))
    }
    val needsRowPass = rowRules.nonEmpty || rules.exists(_.isInstanceOf[MinRows])
    val rowVerdicts: Map[Int, (Long, Long)] = if (!needsRowPass) Map.empty else {
      val aggs = count(lit(1L)).as("__total") +:
        rowRules.map { case (i, _, c) => violatedWhen(c).as(s"__v$i") }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val total = row.getAs[Long]("__total")
      val fromRows = rowRules.map { case (i, _, _) =>
        i -> (row.getAs[Long](s"__v$i"), total)
      }.toMap
      fromRows ++ rules.zipWithIndex.collect { case (MinRows(n), i) =>
        i -> (if (total >= n) 0L else n - total, total)
      }
    }

    // Per-rule passes: uniqueness histograms and referential probes.
    val verdicts: Seq[(Int, Rule, Long, Long)] = rules.zipWithIndex.map {
      case (r: Unique, i) =>
        val hist = df.groupBy(col(r.column)).agg(count(lit(1L)).as("__n"))
          .agg(coalesce(sum(col("__n") - lit(1L)), lit(0L)).as("__v"),
            count(lit(1L)).as("__k")).collect()(0)
        (i, r: Rule, hist.getAs[Long]("__v"), hist.getAs[Long]("__k"))
      case (r: InTable, i) =>
        val probe = df.select(col(r.column)).filter(col(r.column).isNotNull).distinct()
        val missing = probe.join(
          r.ref.select(col(r.refColumn).as(r.column)).distinct(),
          Seq(r.column), "left_anti").count()
        (i, r: Rule, missing, probe.count())
      case (r, i) =>
        val (v, tot) = rowVerdicts(i)
        (i, r, v, tot)
    }

    verdicts.map { case (i, r, v, tot) =>
      (i, r.name, r.column, v, tot, v == 0L)
    }.toDF("ord", "rule", "column", "violations", "total", "passed")
      .orderBy("ord").drop("ord")
  }

  /** Column profiling — the discovery half of the quality gate ([[check]]
    * declares expectations; `profile` tells you what to declare): for each
    * requested column, row count, null count, exact distinct count, and
    * numeric min/max (null for non-numeric columns). The per-snapshot
    * statistics table a 100 TB pipeline publishes beside every corpus
    * version (and the source of Iceberg-style scan-pruning bounds).
    *
    * Plan shape: ONE aggregation over ONE scan for ALL columns — nulls and
    * min/max are plain combined aggregates; the exact distinct counts make
    * Spark expand the input (one replica per distinct aggregate, the
    * standard multi-distinct rewrite), which is the honest price of EXACT
    * cardinalities: still a single shuffle, map-side partially aggregated.
    * At 100 TB swap `count_distinct` for `approx_count_distinct` (HLL — cf.
    * [[graft.ops.Sketches]]) via `approx = true` without changing the
    * output shape: the expansion disappears and the pass is one
    * straight-through scan.
    *
    * @return one row per requested column, request order:
    *         `(column, n_rows, n_null, n_distinct, min_num, max_num)`
    */
  def profile(df: DataFrame, columns: Seq[String],
              approx: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "columns must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.NumericType
    val aggs = count(lit(1L)).as("__n") +: columns.zipWithIndex.flatMap {
      case (c, i) =>
        val numeric = df.schema(c).dataType.isInstanceOf[NumericType]
        Seq(
          violatedWhen(col(c).isNull).as(s"__null$i"),
          (if (approx) approx_count_distinct(col(c))
           else count_distinct(col(c))).as(s"__d$i"),
          (if (numeric) min(col(c)).cast("double") else lit(null).cast("double"))
            .as(s"__min$i"),
          (if (numeric) max(col(c)).cast("double") else lit(null).cast("double"))
            .as(s"__max$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    columns.zipWithIndex.map { case (c, i) =>
      (i, c, row.getAs[Long]("__n"), row.getAs[Long](s"__null$i"),
        row.getAs[Long](s"__d$i"),
        Option(row.getAs[java.lang.Double](s"__min$i")).map(_.doubleValue),
        Option(row.getAs[java.lang.Double](s"__max$i")).map(_.doubleValue))
    }.toDF("ord", "column", "n_rows", "n_null", "n_distinct", "min_num",
        "max_num")
      .orderBy("ord").drop("ord")
  }

  /** Snapshot DRIFT report — [[profile]] of two corpus versions compared
    * column by column: the monitoring gate that catches silent upstream
    * schema/content rot (a feed starts emitting nulls, an enum loses a
    * value, a range shifts) BEFORE a 100 TB retrain consumes it. All
    * verdicts are exact integer/boolean arithmetic on the two profiles:
    *
    *  - `null_drift`: |null-rate ppm difference| ≥ `tolPpm`
    *  - `card_drift`: |distinct-count change| ≥ `tolPpm` relative to the
    *    BEFORE cardinality (exact cross-multiplication, no division)
    *  - `bounds_moved`: numeric min or max changed at all (IS DISTINCT
    *    FROM semantics — a moved bound is a moved bound)
    *
    * Cost: the two single-pass profiles; the comparison is |columns| rows
    * on the driver — nothing new touches the data.
    *
    * @return one row per column, request order: `(column, n_a, n_b,
    *         null_ppm_a, null_ppm_b, d_a, d_b, null_drift, card_drift,
    *         bounds_moved)`
    */
  def drift(before: DataFrame, after: DataFrame, columns: Seq[String],
            tolPpm: Long): DataFrame = {
    require(tolPpm >= 0, s"tolPpm must be >= 0: $tolPpm")
    val spark = before.sparkSession
    import spark.implicits._
    def rows(df: DataFrame) = profile(df, columns).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getAs[java.lang.Double]("min_num")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("max_num")).map(_.doubleValue)))
    }.toMap
    val a = rows(before); val b = rows(after)
    columns.zipWithIndex.map { case (c, i) =>
      val (na, nullA, da, mnA, mxA) = a(c)
      val (nb, nullB, db, mnB, mxB) = b(c)
      val nullPpmA = if (na == 0) 0L else nullA * 1000000L / na
      val nullPpmB = if (nb == 0) 0L else nullB * 1000000L / nb
      (i, c, na, nb, nullPpmA, nullPpmB, da, db,
        math.abs(nullPpmA - nullPpmB) >= tolPpm,
        math.abs(da - db) * 1000000L >= tolPpm * math.max(da, 1L),
        mnA != mnB || mxA != mxB)
    }.toDF("ord", "column", "n_a", "n_b", "null_ppm_a", "null_ppm_b",
        "d_a", "d_b", "null_drift", "card_drift", "bounds_moved")
      .orderBy("ord").drop("ord")
  }
}
