package graft
package queries

import graft.core.{FeatureRow, GeoJson, TileRow}
import graft.functions.cells
import graft.functions.raster._
import graft.functions.spatial._
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Fixtures._
import OracleCtes._
import OracleCtes2._

/** Data-quality gates: expectations and profiling (2 entries),
  * each with its DuckDB oracle SQL.
  */
object QDq {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Data-quality expectation suite (ops.DataQuality.check): Deequ-style
    // declared constraints — all row-level rules fold into ONE scan's
    // combined aggregation; uniqueness is one key histogram; referential
    // containment is a distinct-first anti-join probe. The gate declares a
    // deliberate mix of passing and failing rules so both verdict paths and
    // every violation count are pinned.
    "dq_expectations" -> ((s, dir) => {
      import ops.DataQuality._
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      check(orders, Seq(
        NotNull("o_custkey"),
        Bounds("o_totalprice", 1000.0, 200000.0),
        InValues("o_orderstatus", Seq("F", "O")),
        MinRows(1000L),
        Unique("o_orderkey"),
        Unique("o_custkey"),
        InTable("o_custkey", customer, "c_custkey"),
        InTable("o_custkey",
          customer.filter(col("c_custkey") % 2 === 0), "c_custkey")))
        .orderBy("rule", "column", "violations")
    }),
    // Column profiling (ops.DataQuality.profile): the discovery half of
    // the quality gate — nulls, EXACT distinct cardinalities, numeric
    // bounds for every column in ONE aggregation pass (multi-distinct
    // expansion, still a single shuffle). The snapshot-statistics table a
    // 100 TB pipeline publishes beside every corpus version.
    "dq_profile" -> ((s, dir) => {
      ops.DataQuality.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")).orderBy("column")
    }),
  )

  val sql: Map[String, String] = Map(
    "dq_expectations" ->
      """WITH r1 AS (SELECT 'not_null' AS rule, 'o_custkey' AS "column",
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
             CAST(count(*) AS BIGINT) AS total FROM orders),
         r2 AS (SELECT 'bounds', 'o_totalprice',
             CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND
                 NOT (o_totalprice >= 1000.0 AND o_totalprice <= 200000.0)
               THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM orders),
         r3 AS (SELECT 'in_values', 'o_orderstatus',
             CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND
                 o_orderstatus NOT IN ('F', 'O')
               THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM orders),
         r4 AS (SELECT 'min_rows', '*',
             CAST(greatest(1000 - count(*), 0) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM orders),
         r5 AS (SELECT 'unique', 'o_orderkey',
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
             CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders),
         r6 AS (SELECT 'unique', 'o_custkey',
             CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT),
             CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders),
         probe AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_custkey IS NOT NULL),
         r7 AS (SELECT 'in_table', 'o_custkey',
             CAST((SELECT count(*) FROM probe p WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = p.o_custkey))
               AS BIGINT),
             CAST((SELECT count(*) FROM probe) AS BIGINT)),
         r8 AS (SELECT 'in_table', 'o_custkey',
             CAST((SELECT count(*) FROM probe p WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey % 2 = 0
                  AND c.c_custkey = p.o_custkey)) AS BIGINT),
             CAST((SELECT count(*) FROM probe) AS BIGINT)),
         u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
           UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
           UNION ALL SELECT * FROM r5 UNION ALL SELECT * FROM r6
           UNION ALL SELECT * FROM r7 UNION ALL SELECT * FROM r8)
         SELECT rule, "column", violations, total, violations = 0 AS passed
         FROM u ORDER BY rule, "column", violations""",
    "dq_profile" -> {
      val cols = Seq(
        ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
        ("o_totalprice", true), ("o_orderdate", false),
        ("o_orderpriority", false))
      val aggs = cols.zipWithIndex.map { case ((c, num), i) =>
        val mm = if (num)
          s"CAST(min($c) AS DOUBLE) AS mn$i, CAST(max($c) AS DOUBLE) AS mx$i"
        else s"CAST(NULL AS DOUBLE) AS mn$i, CAST(NULL AS DOUBLE) AS mx$i"
        s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn$i,
           CAST(count(DISTINCT $c) AS BIGINT) AS d$i, $mm"""
      }.mkString(",\n           ")
      val rows = cols.zipWithIndex.map { case ((c, _), i) =>
        s"""SELECT '$c' AS "column", n AS n_rows, nn$i AS n_null,
           d$i AS n_distinct, mn$i AS min_num, mx$i AS max_num FROM a"""
      }.mkString("\n         UNION ALL ")
      s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           $aggs
         FROM orders)
         $rows
         ORDER BY "column""""
    },
  )
}
