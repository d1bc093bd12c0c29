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

/** Streaming, commit-log, CDC, bloom-filter and storage-layout gates
  * (8 entries), each with its DuckDB oracle SQL.
  */
object QStore {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_counts" -> ((s, dir) => {
      streaming.StreamOps.windowedCounts(s, s"$dir/events.parquet")
        .orderBy("day", "event_type")
    }),
    // Streaming elevation enrichment (streaming.StreamOps.elevationEnrich):
    // the reference's live endpoint as a stateless streaming job probing
    // the broadcast tile index — the J1 family's third physical path,
    // same oracle as geo_elev_bilinear.
    "stream_elevation" -> ((s, dir) => {
      streaming.StreamOps.elevationEnrich(s, s"$dir/lineitem.parquet",
          gateTiles(s), Seq(
            "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id",
            "-120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5D)/600.0D AS lng",
            "36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5D)/600.0D AS lat"))
        .orderBy("point_id")
    }),
    // Streaming exact dedup (streaming.StreamOps.dedupKeys) of (user_id,
    // event_type, day) keys; the oracle is the batch DISTINCT.
    "stream_dedup" -> ((s, dir) => {
      streaming.StreamOps.dedupKeys(s, s"$dir/events.parquet")
        .orderBy("user_id", "event_type", "day")
    }),
    // Resumable checkpointed write (table.Checkpoint.writeResumable): run r1
    // is killed before bucket 3, run r2 resumes it, and the committed table
    // must aggregate exactly like the source.
    "checkpoint_resume" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_q_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val df = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      try table.Checkpoint.writeResumable(df, Seq("o_orderkey"), 12, out, "r1",
        failBeforeBucket = 3)
      catch { case _: table.Checkpoint.InjectedFailure => () }
      table.Checkpoint.writeResumable(df, Seq("o_orderkey"), 12, out, "r2")
      table.Checkpoint.read(s, out)
        .groupBy((col("o_custkey") % 16).as("grp"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy("grp")
    }),

    // Changelog MERGE (ops.Cdc.applyChanges): latest-wins upsert + deletes
    // + inserts folded into the base snapshot by one key window — the
    // row-level complement of checkpoint_timetravel's table snapshots.
    // Fixture: +1000 price updates on keys %7, deletes on %13 (outranking
    // the updates where both apply), fresh inserts cloned from keys %31.
    "cdc_upsert" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val upd = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
      val del = base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
      val ins = base.filter(col("o_orderkey") % 31 === 0)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      ops.Cdc.applyChanges(base, upd.unionByName(del).unionByName(ins),
          Seq("o_orderkey"))
        .groupBy((col("o_custkey") % 16).as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy("grp")
    }),
    // Time travel over a versioned table (table.Checkpoint.writeVersioned /
    // readAt): snapshot r1, then r2 patches a third of the buckets; both
    // snapshots are read back and aggregated side by side.
    "checkpoint_timetravel" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_tt_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val patched = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(patched, col("o_orderkey") % 12, 12,
        out, "r2")
      def snap(runs: Seq[String], tag: String) =
        table.Checkpoint.readAt(s, out, runs)
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(tag))
      snap(Seq("r1"), "r1").unionAll(snap(Seq("r1", "r2"), "r2"))
        .orderBy("snap", "grp")
    }),
    "bloom_semijoin" -> ((s, dir) => {
      val m = 1 << 17
      val build = t(s, dir, "orders").where(col("o_totalprice") > 480000.0)
        .select("o_orderkey")
      val bc = ops.Sketches.bloomBuild(build, "o_orderkey", m)
      val truth = build.distinct().withColumnRenamed("o_orderkey", "bk")
      t(s, dir, "lineitem")
        .withColumn("bloom_pass",
          ops.Sketches.bloomMightContain(bc, m, col("l_orderkey")))
        .join(broadcast(truth), col("l_orderkey") === col("bk"), "left")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_bloom_pass"),
          sum(when(col("bk").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("bloom_pass") && col("bk").isNull, 1L).otherwise(0L))
            .as("n_fp"))
        .orderBy("l_returnflag")
    }),
    // Storage-layout pruning audit: orders grouped into (day, o_custkey DIV
    // 300) files with min/max stats; counts the files and rows a 30-day date
    // window and a custkey range would let a scan skip, prune share in exact
    // ppm.
    "store_date_prune" -> ((s, dir) => {
      val o = t(s, dir, "orders").selectExpr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS day",
        "o_custkey")
      val d0 = o.agg(min("day")).head().getLong(0)
      val files = o
        .groupBy(col("day"), expr("o_custkey DIV 300").as("ckb"))
        .agg(count(lit(1)).as("n_rows"), min("o_custkey").as("min_ck"),
          max("o_custkey").as("max_ck"))
      val flagged = files
        .withColumn("date_hit",
          col("day") >= d0 + 30L && col("day") < d0 + 60L)
        .withColumn("key_hit",
          col("min_ck") <= 800L && col("max_ck") >= 150L)
      flagged.agg(count(lit(1)).as("n_files"),
          sum("n_rows").as("rows_total"),
          sum(when(col("date_hit"), 1L).otherwise(0L)).as("n_after_date"),
          sum(when(col("date_hit") && col("key_hit"), 1L).otherwise(0L))
            .as("n_after_both"),
          sum(when(col("date_hit") && col("key_hit"), col("n_rows"))
            .otherwise(0L)).as("rows_scanned"))
        .withColumn("prune_ppm", expr(
          "1000000 * (rows_total - rows_scanned) DIV rows_total"))
    }),
  )

  val sql: Map[String, String] = Map(
    // CAST(... AS TIMESTAMP): DuckDB date_trunc('day') returns DATE where
    // the engine emits a timestamp_ntz bucket — same instant, driver-hash-
    // sensitive type (the round-3 HUGEINT lesson applied to dates)
    "stream_window_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS v_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_elevation" -> cogroupElevOracleSql,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
         FROM events ORDER BY user_id, event_type, day""",
    "checkpoint_resume" ->
      """SELECT o_custkey % 16 AS grp, count(*) AS n,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1 ORDER BY grp""",
    "cdc_upsert" ->
      """WITH fin AS (
           SELECT o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS p
           FROM orders WHERE o_orderkey % 13 <> 0
           UNION ALL
           SELECT o_custkey, o_totalprice AS p
           FROM orders WHERE o_orderkey % 31 = 0)
         SELECT o_custkey % 16 AS grp, CAST(count(*) AS BIGINT) AS n,
           round(sum(p), 2) AS sum_price
         FROM fin GROUP BY 1 ORDER BY grp""",
    "checkpoint_timetravel" ->
      """WITH s1 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price, 'r1' AS snap
           FROM orders GROUP BY 1),
         merged AS (SELECT o_custkey,
           CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS p FROM orders),
         s2 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(p), 2) AS sum_price, 'r2' AS snap
           FROM merged GROUP BY 1)
         SELECT grp, n, sum_price, snap FROM s1
         UNION ALL SELECT grp, n, sum_price, snap FROM s2
         ORDER BY snap, grp""",
    "bloom_semijoin" ->
      """WITH bk AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 480000.0),
         pos AS (
           SELECT ((o_orderkey * 1103515245 + 12345) % 2147483648) % 131072 AS p FROM bk
           UNION SELECT ((o_orderkey * 214013 + 2531011) % 2147483648) % 131072 FROM bk
           UNION SELECT ((o_orderkey * 69069 + 1234567) % 2147483648) % 131072 FROM bk),
         l AS (SELECT l_returnflag,
             ((l_orderkey * 1103515245 + 12345) % 2147483648) % 131072 AS p1,
             ((l_orderkey * 214013 + 2531011) % 2147483648) % 131072 AS p2,
             ((l_orderkey * 69069 + 1234567) % 2147483648) % 131072 AS p3,
             CASE WHEN l_orderkey IN (SELECT o_orderkey FROM bk) THEN 1 ELSE 0 END AS t
           FROM lineitem),
         f AS (SELECT l_returnflag, t,
             CASE WHEN p1 IN (SELECT p FROM pos) AND p2 IN (SELECT p FROM pos)
                   AND p3 IN (SELECT p FROM pos) THEN 1 ELSE 0 END AS bp
           FROM l)
         SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(bp) AS BIGINT) AS n_bloom_pass,
           CAST(sum(t) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN bp = 1 AND t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
         FROM f GROUP BY 1 ORDER BY 1""",
    "store_date_prune" ->
      """WITH o AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
           o_custkey FROM orders),
         d0 AS (SELECT min(day) AS d0 FROM o),
         files AS (SELECT day, o_custkey // 300 AS ckb,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(o_custkey) AS BIGINT) AS min_ck,
             CAST(max(o_custkey) AS BIGINT) AS max_ck
           FROM o GROUP BY 1, 2),
         fl AS (SELECT n_rows,
             day >= d0 + 30 AND day < d0 + 60 AS date_hit,
             min_ck <= 800 AND max_ck >= 150 AS key_hit
           FROM files, d0)
         SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN date_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_after_date,
           CAST(sum(CASE WHEN date_hit AND key_hit THEN 1 ELSE 0 END)
             AS BIGINT) AS n_after_both,
           CAST(sum(CASE WHEN date_hit AND key_hit THEN n_rows ELSE 0 END)
             AS BIGINT) AS rows_scanned,
           CAST(1000000 * (sum(n_rows)
             - sum(CASE WHEN date_hit AND key_hit THEN n_rows ELSE 0 END))
             // sum(n_rows) AS BIGINT) AS prune_ppm
         FROM fl""",
  )
}
