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

/** Relational-core gates: aggregates, joins, windows, grouping sets,
  * SQL surface (8 entries),
  * each with its DuckDB oracle SQL.
  */
object QRel {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (A1-analogs, joins, windows) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q3_topk" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_orderdate", "revenue")
    }),
    "q5_multijoin" -> ((s, dir) => {
      t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),
    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("run_total",
          round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn", "run_total")
        .orderBy("o_custkey", "rn")
    }),
    // GROUPING SETS surface — the BI reshape next to events_rollup: four
    // explicit sets over (month, status) in ONE
    // expand-and-aggregate pass (Spark's Expand node, never four scans);
    // the null pattern distinguishes the sets, exact integer cents.
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT mon, status, count(1) AS n, sum(cents) AS sum_cents
          |FROM (SELECT month(o_orderdate) AS mon, o_orderstatus AS status,
          |        CAST(FLOOR(o_totalprice * 100.0D + 0.5D) AS BIGINT) AS cents
          |      FROM orders_gs)
          |GROUP BY GROUPING SETS ((mon, status), (mon), (status), ())
          |ORDER BY mon, status""".stripMargin)
    }),
    // Anti-join: customers with no order since 1997, counted per market
    // segment.
    "q_antijoin" -> ((s, dir) => {
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),
    // Semi-join: suppliers with shipped lineitems, per nation.
    "q_semijoin" -> ((s, dir) => {
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers"))
        .orderBy("s_nationkey")
    }),
    // SQL surface: the registered graft functions (tile_key, s2_cell,
    // hex_cell) called from plain SQL over a temp view of the quadrant
    // points.
    "sql_surface" -> ((s, dir) => {
      functions.spatial.register(s)
      functions.cells.register(s)
      quadrantPoints(s, dir).createOrReplaceTempView("pts")
      s.sql("""SELECT point_id, tile_key(lng, lat) AS tile_key,
                      s2_cell(lng, lat, 10) AS cell10,
                      hex_cell(lng, lat, 7) AS hex7
               FROM pts ORDER BY point_id""")
    }),
  )

  val sql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc,
         avg(l_quantity) AS avg_qty, count(*) AS n
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3_topk" ->
      """SELECT o_orderkey, o_orderdate,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_multijoin" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM region JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""",
    "q_window" ->
      """SELECT o_custkey, o_orderkey, rn, run_total FROM (
           SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_grouping_sets" ->
      """SELECT mon, status, CAST(count(1) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM (SELECT CAST(month(o_orderdate) AS INT) AS mon,
                 o_orderstatus AS status,
                 CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
               FROM orders)
         GROUP BY GROUPING SETS ((mon, status), (mon), (status), ())
         ORDER BY mon, status""",
    "q_antijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1997-01-01')
         GROUP BY 1 ORDER BY 1""",
    "q_semijoin" ->
      """SELECT s_nationkey, count(*) AS n_suppliers FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
         GROUP BY 1 ORDER BY 1""",
    "sql_surface" -> {
      // compose: tile key formatting + S2 level 10 + hex res 7 over the same
      // quadrant points, each from its existing oracle building block
      val s2part = s2OracleSql(quadrantPtsCte, 10)
      val hexpart = hexOracleSql(quadrantPtsCte, 7)
      s"""WITH s2q AS ($s2part), hexq AS ($hexpart),
         pts AS ($quadrantPtsCte)
         SELECT p.point_id,
           (CASE WHEN floor(p.lat) < 0 THEN 'S' ELSE 'N' END ||
            lpad(CAST(CAST(abs(floor(p.lat)) AS BIGINT) AS VARCHAR), 2, '0') ||
            CASE WHEN floor(p.lng) < 0 THEN 'W' ELSE 'E' END ||
            lpad(CAST(CAST(abs(floor(p.lng)) AS BIGINT) AS VARCHAR), 3, '0')) AS tile_key,
           s2q.cell AS cell10, hexq.cell AS hex7
         FROM pts p JOIN s2q ON p.point_id = s2q.point_id
         JOIN hexq ON p.point_id = hexq.point_id
         ORDER BY p.point_id"""
    },
  )
}
