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

/** Graph gates: triangles, PageRank, label propagation (3 entries),
  * each with its DuckDB oracle SQL.
  */
object QGraph {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").selectExpr(
        "l_orderkey % 20000 AS src",
        "(l_orderkey*7 + l_linenumber*13) % 20000 AS dst")
      ops.Graph.triangles(edges).orderBy("a", "b", "c")
    }),
    "graph_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
        .distinct()
      ops.Graph.pagerank(edges, rounds = 3)
        .withColumnRenamed("rank", "pr") // dodge the RANK keyword in DuckDB
        .orderBy("node")
    }),
    // Label-propagation communities (ops.Graph.labelPropagate): 3 fully
    // deterministic mode-vote sweeps (ties → smallest label) over the
    // canonical undirected 500-node graph — DENSE-block structure inside
    // one component, where min-label CC only sees connectivity. Per round
    // one label join + one (node,label) count + one node-keyed argmax
    // window; the oracle unrolls the identical rounds with QUALIFY.
    "graph_labelprop" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .selectExpr("l_suppkey % 500 AS src", "l_partkey % 500 AS dst")
      ops.Graph.labelPropagate(edges, rounds = 3).orderBy("node")
    }),
  )

  val sql: Map[String, String] = Map(
    "graph_triangles" ->
      """WITH e0 AS (SELECT DISTINCT
           greatest(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS hi,
           least(l_orderkey % 20000, (l_orderkey*7 + l_linenumber*13) % 20000) AS lo
           FROM lineitem
           WHERE l_orderkey % 20000 <> (l_orderkey*7 + l_linenumber*13) % 20000)
         SELECT CAST(e1.lo AS BIGINT) AS a, CAST(e1.hi AS BIGINT) AS b,
           CAST(e2.hi AS BIGINT) AS c
         FROM e0 e1 JOIN e0 e2 ON e2.lo = e1.hi
         JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
         ORDER BY a, b, c""",
    "graph_pagerank" -> pagerankOracleSql,
    "graph_labelprop" -> labelpropOracleSql,
  )
}
