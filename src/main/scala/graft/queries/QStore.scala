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

/** Storage-layout, commit-log, CDC and streaming gates
  * (31 entries) with the DuckDB oracle SQL beside each query.
  * Moved verbatim from SparkEntry (round-5 split, VERDICT r4 #5).
  */
object QStore {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_counts" -> ((s, dir) => {
      streaming.StreamOps.windowedCounts(s, s"$dir/events.parquet")
        .orderBy("day", "event_type")
    }),
    // Session windows through the streaming engine: merging-window state
    // per user, drained to the same gaps-and-islands result the batch
    // sessionization computes (gap >= 12h starts a session).,
    "stream_session_counts" -> ((s, dir) => {
      streaming.StreamOps.sessionCounts(s, s"$dir/events.parquet")
        .orderBy("user_id", "start_us")
    }),
    // Streaming elevation enrichment (streaming.StreamOps.elevationEnrich):
    // the reference's live endpoint as a stateless streaming job probing
    // the broadcast tile index — the J1 family's third physical path,
    // same oracle as geo_elev_bilinear.,
    "stream_elevation" -> ((s, dir) => {
      streaming.StreamOps.elevationEnrich(s, s"$dir/lineitem.parquet",
          gateTiles(s), Seq(
            "((l_orderkey*8 + l_linenumber)*2000 + l_partkey)*100 + l_suppkey AS point_id",
            "-120 + (l_orderkey % 4) + ((l_partkey % 600) + 0.5D)/600.0D AS lng",
            "36 + (l_suppkey % 2) + (((l_suppkey*7 + l_linenumber*131) % 600) + 0.5D)/600.0D AS lat"))
        .orderBy("point_id")
    }),
    // Stream-stream interval join through the gate (the third streaming
    // row): purchases within 1h after a view, watermark-bounded state,
    // append-mode drain equals the batch interval join bit-for-bit.,
    "stream_interval_join" -> ((s, dir) => {
      streaming.StreamOps.viewPurchaseJoin(s, s"$dir/events.parquet")
        .orderBy("view_id", "purchase_id")
    }),
    // Triangle enumeration: canonical-orientation wedge join (two
    // key-bounded shuffles, each triangle a<b<c exactly once) — the
    // clustering-coefficient / community primitive next to pagerank/CC.,
    "stream_dedup" -> ((s, dir) => {
      streaming.StreamOps.dedupKeys(s, s"$dir/events.parquet")
        .orderBy("user_id", "event_type", "day")
    }),
    // Streaming HLL distinct (streaming.StreamOps.hllDistinct — the 5th
    // stateful streaming row): the sketch registers ARE the stream state
    // (32 max-rank Longs per group, merged by MAX each micro-batch,
    // order-insensitive), so the drain equals the batch sketch bit-for-bit
    // and the gate reuses events_hll_distinct's oracle verbatim.,
    "stream_hll" -> ((s, dir) => {
      val sk = streaming.StreamOps.hllDistinct(
        s, s"$dir/events.parquet", "event_type", "user_id")
      val exact = t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      sk.join(exact, "event_type").orderBy("event_type")
    }),
    // Streaming CDC snapshot (streaming.StreamOps.cdcSnapshot): latest-wins
    // upsert state as ONE declarative stateful aggregation — per key
    // max_by(payload, seq), order-insensitive under unique (key, seq), so
    // the drained snapshot equals the batch changelog fold however the
    // source micro-batches. The oracle replays latest-wins from the final
    // changelog state (same invariant as cdc_upsert).,
    "stream_cdc_snapshot" -> ((s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("ck"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val log = base
        .withColumn("seq", lit(0L)).withColumn("op", lit("I"))
        .unionByName(base.filter(col("k") % 7 === 0)
          .withColumn("cents", col("cents") + lit(100000L))
          .withColumn("seq", lit(1L)).withColumn("op", lit("U")))
        .unionByName(base.filter(col("k") % 13 === 0)
          .withColumn("seq", lit(2L)).withColumn("op", lit("D")))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cdc_log_").toString
      log.write.mode("overwrite").parquet(tmp)
      streaming.StreamOps.cdcSnapshot(s, tmp, "k", "seq")
        .filter(col("op") =!= "D")
        .groupBy((col("ck") % 16).as("grp"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("grp")
    }),
    // Geofence enter/exit extraction (ops.Trajectory.geofence): every fix
    // tested against 2 broadcast fence triangles with the SAME codegen'd
    // ray-cast as the PIP join, one (traj, fence) lag keeps only the
    // membership flips — the fleet-alerting event stream (output is
    // transitions, never per-fix membership).,
    "store_bloom_skip" -> ((s, dir) => {
      import s.implicits._
      val A = ops.Sketches.BloomA; val B = ops.Sketches.BloomB
      def posCols(key: String) = array((0 until 3).map(j =>
        struct(lit(j).as("j"),
          expr(s"((($key % 2147483648L) * ${A(j)}L + ${B(j)}L) % 2147483648L) % 4096")
            .as("pos"))): _*)
      val rows = t(s, dir, "orders")
        .selectExpr("o_custkey AS key", "o_orderkey % 16 AS b")
      val bits = rows.select(col("b"), explode(posCols("key")).as("jp"))
        .select(col("b"), col("jp.j").as("j"), col("jp.pos").as("pos"))
        .distinct().localCheckpoint(false)
      val probes = t(s, dir, "customer").filter(col("c_custkey") % 100 === 3)
        .select(col("c_custkey").as("pkey"))
        .unionAll(s.range(5).select((col("id") + 1000000007L).as("pkey")))
        .localCheckpoint(false)
      val ppos = probes.select(col("pkey"), explode(posCols("pkey")).as("jp"))
        .select(col("pkey"), col("jp.j").as("j"), col("jp.pos").as("pos"))
      val candB = ppos.join(bits, Seq("j", "pos"))
        .groupBy("pkey", "b").agg(countDistinct("j").as("nj"))
        .filter(col("nj") === 3).select("pkey", "b")
        .localCheckpoint(false)
      val trueB = probes.join(rows, col("pkey") === col("key"))
        .select("pkey", "b").distinct().localCheckpoint(false)
      val cand = candB.groupBy("pkey").agg(count(lit(1)).as("n_candidates"))
      val tru = trueB.groupBy("pkey").agg(count(lit(1)).as("n_true"))
      val missed = trueB.join(candB, Seq("pkey", "b"), "left_anti")
        .groupBy("pkey").agg(count(lit(1)).as("n_missed"))
      probes.join(cand, Seq("pkey"), "left")
        .join(tru, Seq("pkey"), "left")
        .join(missed, Seq("pkey"), "left")
        .na.fill(0L, Seq("n_candidates", "n_true", "n_missed"))
        .orderBy("pkey")
    }),
    "store_zorder_skip" -> ((s, dir) => {
      import s.implicits._
      val pts = quadrantPoints(s, dir).selectExpr("point_id", "lng", "lat",
          "LEAST(65535L, GREATEST(0L, CAST(FLOOR(((lng + 180.0D)/360.0D)*65536.0D) AS BIGINT))) AS qx",
          "LEAST(65535L, GREATEST(0L, CAST(FLOOR(((lat + 90.0D)/180.0D)*65536.0D) AS BIGINT))) AS qy")
        .withColumn("zb", shiftright(cells.zorder_key(col("lng"), col("lat")), 26))
        .withColumn("rb", shiftright(col("qy"), 10))
        .localCheckpoint(false)
      def stats(bcol: String, tag: String) = pts.groupBy(col(bcol).as("bucket"))
        .agg(count(lit(1)).as("n"), min("qx").as("minx"), max("qx").as("maxx"),
          min("qy").as("miny"), max("qy").as("maxy"))
        .withColumn("layout", lit(tag))
      val st = stats("zb", "zorder").unionAll(stats("rb", "rowmajor"))
      val preds = Seq((1L, 20000L, 30000L, 20000L, 30000L),
          (2L, 10000L, 14000L, 0L, 65535L), (3L, 0L, 65535L, 50000L, 54000L))
        .toDF("pred_id", "xlo", "xhi", "ylo", "yhi")
      val scan = st.crossJoin(broadcast(preds))
        .withColumn("scanned", (col("xlo") <= col("maxx") &&
          col("xhi") >= col("minx") && col("ylo") <= col("maxy") &&
          col("yhi") >= col("miny")).cast("long"))
        .groupBy("pred_id", "layout")
        .agg(count(lit(1)).as("n_buckets"), sum("scanned").as("n_scanned"),
          sum(when(col("scanned") === 1, col("n")).otherwise(lit(0L)))
            .as("rows_scanned"))
      val matches = pts.crossJoin(broadcast(preds))
        .filter(col("qx").between(col("xlo"), col("xhi")) &&
          col("qy").between(col("ylo"), col("yhi")))
        .groupBy("pred_id").agg(count(lit(1)).as("rows_match"))
      scan.join(matches, Seq("pred_id"), "left")
        .na.fill(0L, Seq("rows_match"))
        .select("pred_id", "layout", "n_buckets", "n_scanned",
          "rows_scanned", "rows_match")
        .orderBy("pred_id", "layout")
    }),
    // ---- spatial joins over cell indexes (J2/J3, north rule) ----
    // Triangles derived from supplier; PIP via S2 cell-cover candidate join
    // + exact ray-cast refinement. The oracle replicates the ray-cast edge
    // tests with identical IEEE arithmetic (edges (v1,v3),(v2,v1),(v3,v2) —
    // same (i,j) orientation as graft.geo.RayCast's loop).,
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
    // the updates where both apply), fresh inserts cloned from keys %31.,
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
    // SCD type-2 history build (ops.Cdc.scd2): the same changelog folded
    // into versioned dimension rows — [valid_from, valid_to) in sequence
    // space, deletes closing, last open version flagged current. ONE key
    // window (lead); the gate pins every interval endpoint via per-bucket
    // sums and the price sum per currency state.,
    "cdc_scd2" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val ins = o.withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      val upd = o.filter(col("k") % 3 === 0)
        .withColumn("price", col("price") + lit(100.0))
        .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
      val del = o.filter(col("k") % 11 === 0)
        .withColumn("seq", lit(3L)).withColumn("op", lit("D"))
      ops.Cdc.scd2(ins.unionByName(upd).unionByName(del), Seq("k"))
        .groupBy(col("is_current"), (col("k") % 16).as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price")), 2).as("sum_price"),
          sum(col("valid_from")).as("sum_from"),
          sum(coalesce(col("valid_to"), lit(0L))).as("sum_to"))
        .orderBy("is_current", "grp")
    }),
    // Incremental aggregate maintenance (ops.Cdc.incrementalAgg): the
    // maintained groupBy(count, sum) absorbs a changelog of inserts /
    // group-moving updates / deletes as exact-integer deltas — work
    // proportional to the CHANGES, never the facts. The oracle recomputes
    // the aggregate from the FINAL state, pinning the maintenance algebra.,
    "cdc_incr_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), (col("o_custkey") % 16).as("grp"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      val base = o.filter(col("k") % 5 =!= 0)
      val baseAgg = base.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
      val ins = o.filter(col("k") % 5 === 0)
        .select(lit(null).cast("long").as("grp_old"),
          lit(null).cast("long").as("v_old"),
          col("grp").as("grp_new"), col("v").as("v_new"))
      val upd = base.filter(col("k") % 3 === 0)
        .select(col("grp").as("grp_old"), col("v").as("v_old"),
          when(col("k") % 9 === 0, (col("grp") + 1) % 16).otherwise(col("grp"))
            .as("grp_new"),
          (col("v") + 10000L).as("v_new"))
      val del = base.filter(col("k") % 3 =!= 0 && col("k") % 11 === 0)
        .select(col("grp").as("grp_old"), col("v").as("v_old"),
          lit(null).cast("long").as("grp_new"),
          lit(null).cast("long").as("v_new"))
      ops.Cdc.incrementalAgg(baseAgg,
        ins.unionByName(upd).unionByName(del)).orderBy("grp")
    }),
    // Data-quality expectation suite (ops.DataQuality.check): Deequ-style
    // declared constraints — all row-level rules fold into ONE scan's
    // combined aggregation; uniqueness is one key histogram; referential
    // containment is a distinct-first anti-join probe. The gate declares a
    // deliberate mix of passing and failing rules so both verdict paths
    // and every violation count are pinned.,
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
    // RESTORE (table.Checkpoint.restoreVersioned — Delta RESTORE TO
    // VERSION as a NEW COMMIT): r2 patches buckets <4, r3 rolls the table
    // back to r1 by re-asserting r1's content for exactly those buckets
    // (integrity-validated against r1's manifests before commit). The gate
    // reads the post-restore snapshot (must equal the r1 target) AND the
    // pre-restore r2 snapshot (history intact).,
    "checkpoint_restore" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_rs_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val patched = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(patched, col("o_orderkey") % 12, 12,
        out, "r2")
      table.Checkpoint.restoreVersioned(s, out, Seq("r1", "r2"), Seq("r1"),
        "r3")
      def snap(runs: Seq[String], tag: String) =
        table.Checkpoint.readAt(s, out, runs)
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(tag))
      snap(Seq("r1", "r2"), "r2")
        .unionAll(snap(Seq("r1", "r2", "r3"), "restored"))
        .orderBy("snap", "grp")
    }),
    // Copy-on-write COMPACTION (table.Checkpoint.compactVersioned —
    // lakehouse OPTIMIZE): winners of the r1+r2 lineage rewritten as ONE
    // run, validated per bucket against the commit log before the manifest
    // commit. The gate reads the COMPACTED snapshot (tag c1) AND the
    // pre-compaction r1 snapshot afterwards — content preserved, time
    // travel intact.,
    "checkpoint_compact" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_cp_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val patched = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(patched, col("o_orderkey") % 12, 12,
        out, "r2")
      table.Checkpoint.compactVersioned(s, out, Seq("r1", "r2"), "c1")
      def snap(runs: Seq[String], tag: String) =
        table.Checkpoint.readAt(s, out, runs)
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(tag))
      snap(Seq("r1"), "r1")
        .unionAll(snap(Seq("r1", "r2", "c1"), "c1"))
        .orderBy("snap", "grp")
    }),
    // BRANCHED lineages on the versioned store: r1 snapshots the table,
    // branch a1 patches buckets 0-3 (+1000), branch b1 independently
    // patches buckets 8-11 (+500). Reading AS OF (r1,a1) vs (r1,b1) shows
    // isolated divergent branches over one shared base; (r1,a1,b1) is the
    // fast-forward MERGE — bucket-granularity latest-wins, exactly the
    // lakehouse branch/merge workflow, resolved purely from the manifest
    // log with partition-literal pruning (no data rewrite).,
    "checkpoint_branch" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_br_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val a = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(a, col("o_orderkey") % 12, 12,
        out, "a1")
      val b = orders.filter(col("o_orderkey") % 12 >= 8)
        .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
      table.Checkpoint.writeVersioned(b, col("o_orderkey") % 12, 12,
        out, "b1")
      def snap(runs: Seq[String], tag: String) =
        table.Checkpoint.readAt(s, out, runs)
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(tag))
      snap(Seq("r1", "a1"), "a").unionAll(snap(Seq("r1", "b1"), "b"))
        .unionAll(snap(Seq("r1", "a1", "b1"), "m"))
        .orderBy("snap", "grp")
    }),
    // Incremental snapshot-diff read (table.Checkpoint.readDelta — Iceberg
    // incremental scan): exactly the rows of buckets whose winner CHANGED
    // between two lineages, read from the new winners — an incremental
    // consumer's work is proportional to the change, never the table.
    // d1 = r1→r1+a1 (buckets 0-3, +1000), d2 = r1+a1→r1+a1+b1 (buckets
    // 8-11, +500); each delta aggregated per customer group; the oracle
    // states both deltas from the bucket recipe.,
    "checkpoint_delta" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_dl_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val a = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(a, col("o_orderkey") % 12, 12,
        out, "a1")
      val b = orders.filter(col("o_orderkey") % 12 >= 8)
        .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
      table.Checkpoint.writeVersioned(b, col("o_orderkey") % 12, 12,
        out, "b1")
      def delta(oldO: Seq[String], newO: Seq[String], tag: String) =
        table.Checkpoint.readDelta(s, out, oldO, newO)
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("delta", lit(tag))
      delta(Seq("r1"), Seq("r1", "a1"), "d1")
        .unionAll(delta(Seq("r1", "a1"), Seq("r1", "a1", "b1"), "d2"))
        .orderBy("delta", "grp")
    }),
    // MERGE INTO / upsert (table.Checkpoint.upsertVersioned — Iceberg
    // copy-on-write merge at bucket granularity): r1 snapshots orders,
    // then ONE patch both updates rows of buckets 2 and 5 (price +100)
    // and inserts fresh keys (+1200000, bucket-preserving) for bucket 7 —
    // only those 3 buckets are rewritten as run u1 (work ∝ patch, never
    // table), untouched buckets keep r1's winners; the gate reads the
    // merged snapshot.,
    "checkpoint_upsert" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_up_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val updates = orders.filter(col("o_orderkey") % 12 isin (2, 5))
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      val inserts = orders.filter(col("o_orderkey") % 12 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1200000L))
      table.Checkpoint.upsertVersioned(s, out, Seq("r1"),
        updates.unionAll(inserts), Seq("o_orderkey"),
        col("o_orderkey") % 12, 12, "u1")
      table.Checkpoint.readAt(s, out, Seq("r1", "u1"))
        .groupBy((col("o_custkey") % 16).as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy("grp")
    }),
    // MERGE-ON-READ DELETE (table.Checkpoint.deleteWhere/readMor — Iceberg
    // v2 equality deletes / Delta deletion vectors): r1 snapshots orders,
    // d1 tombstones the keys with o_orderkey % 7 = 3, d2 additionally
    // tombstones o_custkey % 10 = 0 — each delete writes ONLY the matching
    // key set as a bucketed run under deletes/ (work ∝ deleted keys, never
    // the table, no bucket rewrite); readMor applies committed tombstones
    // as one key anti-join. Snapshots after d1 and after d1+d2 pin both
    // the MOR semantics and delete-run composability.,
    "checkpoint_mor_delete" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_mor_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      table.Checkpoint.deleteWhere(s, out, Seq("r1"),
        col("o_orderkey") % 7 === 3, Seq("o_orderkey"),
        col("o_orderkey") % 12, 12, "d1")
      table.Checkpoint.deleteWhere(s, out, Seq("r1"),
        col("o_custkey") % 10 === 0, Seq("o_orderkey"),
        col("o_orderkey") % 12, 12, "d2")
      def snap(dels: Seq[String], tag: String) =
        table.Checkpoint.readMor(s, out, Seq("r1"), dels, Seq("o_orderkey"))
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(tag))
      snap(Seq("d1"), "d1").unionAll(snap(Seq("d1", "d2"), "d12"))
        .orderBy("snap", "grp")
    }),
    // ORPHAN-FILE audit (table.Checkpoint.orphanAudit — the detection half
    // of remove_orphan_files/VACUUM): r1 commits normally; a "crashed
    // writer" leaves a run tree zz with NO manifest row. The audit lists
    // both trees, counts rows, and flags commit status — zz is invisible
    // to readers yet present on disk, exactly what a maintenance job
    // deletes.,
    "checkpoint_orphans" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_orph_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      orders.filter(col("o_orderkey") % 9 === 0)
        .write.mode("overwrite").parquet(s"$out/data/__run=zz/__bucket=0")
      table.Checkpoint.orphanAudit(s, out).orderBy("run_id")
    }),
    // AS OF TIMESTAMP read (table.Checkpoint.readAsOf — Iceberg's
    // FOR TIMESTAMP AS OF): the lineage is derived from the commit log's
    // own committed_at frontier instead of an explicit run order — 't1'
    // reads at r1's commit frontier (pure r1), 'now' at +∞ (r1+r2
    // merged); both resolved driver-side and partition-pruned.,
    "checkpoint_as_of_ts" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_ts_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      Thread.sleep(10) // ms-resolution commit stamps: keep frontiers apart
      val patched = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(patched, col("o_orderkey") % 12, 12,
        out, "r2")
      val cutoff = table.Checkpoint.manifests(s, out)
        .filter(col("run_id") === "r1")
        .agg(max("committed_at")).head().getLong(0)
      def snap(ts: Long, tag: String) =
        table.Checkpoint.readAsOf(s, out, ts)
          .groupBy((col("o_custkey") % 16).as("grp"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(tag))
      snap(cutoff, "t1").unionAll(snap(Long.MaxValue, "now"))
        .orderBy("snap", "grp")
    }),
    // SCHEMA EVOLUTION on the versioned store (Iceberg add-column): run r2
    // rewrites buckets 0-3 WITH a new o_flag column; readAt(mergeSchema)
    // resolves the union schema by name, so rows from r1's buckets surface
    // o_flag as NULL while r2's carry values — the gate counts both
    // populations per group to pin exactly that.,
    "checkpoint_evolve" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_ev_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val evolved = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_flag", col("o_orderkey") % 2 === 0)
      table.Checkpoint.writeVersioned(evolved, col("o_orderkey") % 12, 12,
        out, "r2")
      table.Checkpoint.readAt(s, out, Seq("r1", "r2"), mergeSchema = true)
        .groupBy((col("o_custkey") % 16).as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          count(when(col("o_flag") === true, 1)).as("n_flagged"),
          count(when(col("o_flag").isNull, 1)).as("n_nullflag"))
        .orderBy("grp")
    }),
    // Retention GC (table.Checkpoint.vacuumVersioned — expire_snapshots +
    // remove_orphan_files): r1 + patch r2 compacted into c1, then vacuum
    // retaining ONLY the compacted lineage — r1's 12 and r2's 4 partition
    // dirs are reclaimed (the require pins the count from the FS walk),
    // the commit log is compacted to c1's rows, and the gate reads the
    // post-GC snapshot to prove the retained content survived bit-exactly.,
    "checkpoint_vacuum" -> ((s, dir) => {
      val out =
        s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_vac_${dir.hashCode}"
      table.Checkpoint.clear(out)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      table.Checkpoint.writeVersioned(orders, col("o_orderkey") % 12, 12,
        out, "r1")
      val patched = orders.filter(col("o_orderkey") % 12 < 4)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      table.Checkpoint.writeVersioned(patched, col("o_orderkey") % 12, 12,
        out, "r2")
      table.Checkpoint.compactVersioned(s, out, Seq("r1", "r2"), "c1")
      val st = table.Checkpoint.vacuumVersioned(s, out, Seq(Seq("c1")))
      require(st.deletedPartitions == 16 && st.livePartitions == 12,
        s"unexpected vacuum stats: $st")
      table.Checkpoint.readAt(s, out, Seq("c1"))
        .groupBy((col("o_custkey") % 16).as("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .withColumn("snap", lit("v"))
        .orderBy("grp")
    }),

    // Similarity-threshold yield curve: the exact pairwise Jaccard ppm
    // histogram (100k-ppm buckets) over the gate corpus — how many pairs
    // each dedup threshold would merge, the tuning read BEFORE committing
    // a minhash band config. Same shingle-once discipline as
    // dedup_jaccard.,
    "store_compaction_plan" -> ((s, dir) => {
      val files = t(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .selectExpr("o_orderkey % 8 AS part", "o_orderkey AS file_id",
          "1 + (o_orderkey * 7919) % 200 AS sz")
      ops.Curation.binPackNfd(files, capacity = 512L)
        .orderBy("part", "file_id")
    }),
    // Farthest-first k-center pivot seeding (ops.Embeddings
    // .farthestFirst): 5 deterministic coverage-maximizing pivots in exact
    // milli-quantized integer distance — the IVF/routing seeding pass next
    // to ann_kmeans_train; ≤4 driver rounds, one codegen'd scan each.,
    "stream_state_rollup" -> ((s, dir) => {
      streaming.StreamOps.stateRollup(s, s"$dir/events.parquet")
        .orderBy("user_id")
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
    // Key-skew profile (count-of-counts): per-key cardinality histogram —
    // the diagnostic that sizes salting / AQE-skew decisions before a big
    // join or agg. Two mergeable aggregations; the second's input is
    // bounded by the number of DISTINCT per-key counts, so the profile of
    // a 100 TB table is a few hundred rows.
    // Inter-arrival profile: per-user event-gap sufficient statistics in
    // exact integer seconds (count, min/max, Σg, and the variance
    // numerator n·Σg²−(Σg)² — the burstiness/regularity discriminator;
    // σ and B=(σ−μ)/(σ+μ) are one local sqrt away for the caller). One
    // user-keyed lag window + one agg, both on the same partitioning.,
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
    // OD-flow communities: 3 synchronous label-propagation rounds
    // (ops.Graph.labelPropagate) over the trajectory flow graph —
    // the catchment/zone discovery step after traj_od_matrix.,
    "store_write_amp_sim" -> ((s, dir) => {
      val w = Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("n"))).orderBy("n")
      s.range(1, 129).toDF("n")
        .withColumn("lev", expr(
          """1 + (CASE WHEN n % 4 = 0 THEN 4 + 4 * ((n DIV 4 - 1) % 4) ELSE 0 END)
             + (CASE WHEN n % 16 = 0 THEN 16 + 16 * ((n DIV 16 - 1) % 4) ELSE 0 END)
             + (CASE WHEN n % 64 = 0 THEN 64 + 64 * ((n DIV 64 - 1) % 4) ELSE 0 END)"""))
        .withColumn("tier", expr(
          """1 + (CASE WHEN n % 4 = 0 THEN 4 ELSE 0 END)
             + (CASE WHEN n % 16 = 0 THEN 16 ELSE 0 END)
             + (CASE WHEN n % 64 = 0 THEN 64 ELSE 0 END)"""))
        .withColumn("lev_written", sum("lev").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tier_written", sum("tier").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("n") % 16 === 0)
        .selectExpr("n AS n_flush", "lev_written", "tier_written",
          "1000 * lev_written DIV n AS wa_lev_milli",
          "1000 * tier_written DIV n AS wa_tier_milli")
        .orderBy("n_flush")
    }),
    // Cyclic hour-profile shift detector: ppm-normalized hour-of-day
    // histograms of the first vs second 45 days, L1 at shift 0 and the
    // argmin cyclic shift — the timezone-misconfiguration audit an
    // ingest pipeline runs after any collector change.,
    "store_voptimal_hist" -> ((s, dir) => {
      import s.implicits._
      val hourly = t(s, dir, "events")
        .selectExpr("CAST(hour(ts) AS INT) AS h")
        .groupBy("h").agg(count(lit(1)).as("x"))
      val xs = s.range(0, 24).selectExpr("CAST(id AS INT) AS h")
        .join(hourly, Seq("h"), "left")
        .withColumn("x", coalesce(col("x"), lit(0L)))
      val wv = Window.partitionBy(ops.GlobalRank.boundedPartitionKey(col("h"))).orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pref = xs
        .withColumn("ps", sum("x").over(wv))
        .withColumn("pss", sum(expr("x * x")).over(wv))
        .select("h", "ps", "pss")
        .unionByName(Seq((-1, 0L, 0L)).toDF("h", "ps", "pss"))
        .localCheckpoint(false)
      val cost = pref.selectExpr("h AS jm", "ps AS psj", "pss AS pssj")
        .crossJoin(pref.selectExpr("h AS im", "ps AS psi", "pss AS pssi"))
        .filter(col("im") < col("jm") && col("jm") >= 0)
        .selectExpr("im + 1 AS i", "jm AS j",
          "(pssj - pssi) * (jm - im) - (psj - psi) * (psj - psi) AS cst")
        .localCheckpoint(false)
      var dp = cost.filter(col("i") === 0).select(col("j"), col("cst").as("dp"))
      val dps = scala.collection.mutable.ArrayBuffer(dp)
      for (_ <- 2 to 3) {
        dp = dp.selectExpr("j AS i1", "dp")
          .join(cost, col("i") === col("i1") + 1)
          .groupBy("j").agg(min(expr("dp + cst")).as("dp"))
        dps += dp
      }
      def argmin(d: DataFrame, jEnd: Int): Int =
        d.selectExpr("j AS i1", "dp")
          .join(cost.filter(col("j") === jEnd), col("i") === col("i1") + 1)
          .selectExpr("i1", "dp + cst AS total")
          .orderBy(col("total").asc, col("i1").asc).limit(1)
          .as[(Int, Long)].collect()(0)._1
      val j3 = argmin(dps(2), 23)
      val j2 = argmin(dps(1), j3)
      val j1 = argmin(dps(0), j2)
      val bounds = Seq((1, 0, j1), (2, j1 + 1, j2), (3, j2 + 1, j3),
        (4, j3 + 1, 23)).toDF("bucket", "lo", "hi")
      bounds.join(cost, col("i") === col("lo") && col("j") === col("hi"))
        .join(pref.selectExpr("h AS hi", "ps AS ps_hi"), Seq("hi"))
        .join(pref.selectExpr("h + 1 AS lo", "ps AS ps_lo"), Seq("lo"))
        .selectExpr("bucket", "lo", "hi",
          "CAST(hi - lo + 1 AS BIGINT) AS n_hours",
          "ps_hi - ps_lo AS seg_sum", "cst AS seg_cost_q")
        .orderBy("bucket")
    }),
    // LSB watermark embed cost: pixels whose least-significant bit
    // disagrees with the pseudorandom payload bit (r*7+c*13 parity) —
    // the steganographic capacity/visibility number, exact.,
    "store_rle_gain" -> ((s, dir) => {
      // run-length census over the FULL orders table in key order: the
      // adjacent-row compare uses the range-partitioned two-phase lag
      // (ops.GlobalRank), never a global single-partition window
      val o = ops.GlobalRank.withLag(t(s, dir, "orders"),
        "o_orderstatus", "prev", Seq(col("o_orderkey")))
      val natural = o.agg(count(lit(1)).as("n_rows"),
        sum(when(col("prev").isNull ||
          col("prev") =!= col("o_orderstatus"), 1L).otherwise(0L))
          .as("runs_natural"))
      val sorted = t(s, dir, "orders").groupBy("o_orderstatus").count()
        .agg(count(lit(1)).as("runs_sorted"))
      natural.crossJoin(sorted)
        .withColumn("gain_ppm", expr(
          "1000000 * (runs_natural - runs_sorted) DIV runs_natural"))
    }),
    // Id-sequence gap census: holes in the o_orderkey key space (lag
    // deltas > 1) — the dropped-batch / failed-partition detector every
    // ingest reconciliation runs on monotone ids.
  )

  val sql: Map[String, String] = Map(
    "stream_window_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS v_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_session_counts" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
         m AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                 OR tus - lag(tus) OVER w >= 43200000000
               THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
           FROM m)
         SELECT user_id, CAST(min(tus) AS BIGINT) AS start_us,
           CAST(max(tus) + 43200000000 AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM s GROUP BY user_id, seq ORDER BY user_id, start_us""",
    "stream_elevation" -> cogroupElevOracleSql,
    "stream_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
           epoch_us(ts) AS tus FROM events)
         SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           CAST(v.tus AS BIGINT) AS v_us, CAST(p.tus AS BIGINT) AS p_us
         FROM e v JOIN e p ON v.user_id = p.user_id
           AND v.event_type = 'view' AND p.event_type = 'purchase'
           AND p.tus >= v.tus AND p.tus <= v.tus + 3600000000
         ORDER BY view_id, purchase_id""",
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
         FROM events ORDER BY user_id, event_type, day""",
    // anchors: same walk, hour regimes, modal 0.005° cell with
    // (n DESC, cell_x, cell_y) tie-break,
    "stream_hll" -> hllDistinctOracleSql,
    "stream_cdc_snapshot" ->
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         fin AS (SELECT k, ck,
             CASE WHEN k % 7 = 0 THEN cents + 100000 ELSE cents END AS cents
           FROM base WHERE NOT (k % 13 = 0))
         SELECT ck % 16 AS grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM fin GROUP BY 1 ORDER BY grp""",
    // symmetric Hausdorff over the same 12-track walk: both directed
    // max-min passes replayed in exact integers,
    "store_bloom_skip" -> {
      val a = ops.Sketches.BloomA; val b = ops.Sketches.BloomB
      def pos(key: String, j: Int) =
        s"((($key % 2147483648) * ${a(j)} + ${b(j)}) % 2147483648) % 4096"
      val hashes = (0 until 3).map(j =>
        s"SELECT b, $j AS j, ${pos("key", j)} AS pos FROM rws").mkString(" UNION ALL ")
      val phashes = (0 until 3).map(j =>
        s"SELECT pkey, $j AS j, ${pos("pkey", j)} AS pos FROM probes").mkString(" UNION ALL ")
      s"""WITH rws AS (SELECT o_custkey AS key, o_orderkey % 16 AS b FROM orders),
         bits AS (SELECT DISTINCT b, j, pos FROM ($hashes)),
         probes AS (SELECT c_custkey AS pkey FROM customer WHERE c_custkey % 100 = 3
           UNION ALL SELECT 1000000007 + r.range FROM range(0, 5) r),
         ppos AS (SELECT pkey, j, pos FROM ($phashes)),
         candb AS (SELECT pkey, b FROM (
             SELECT p.pkey, t.b, count(DISTINCT p.j) AS nj
             FROM ppos p JOIN bits t ON p.j = t.j AND p.pos = t.pos
             GROUP BY 1, 2) WHERE nj = 3),
         trueb AS (SELECT DISTINCT p.pkey, r.b
           FROM probes p JOIN rws r ON p.pkey = r.key),
         cand AS (SELECT pkey, CAST(count(*) AS BIGINT) AS n_candidates
           FROM candb GROUP BY 1),
         tru AS (SELECT pkey, CAST(count(*) AS BIGINT) AS n_true
           FROM trueb GROUP BY 1),
         miss AS (SELECT t.pkey, CAST(count(*) AS BIGINT) AS n_missed
           FROM trueb t LEFT JOIN candb c ON t.pkey = c.pkey AND t.b = c.b
           WHERE c.pkey IS NULL GROUP BY 1)
         SELECT p.pkey, coalesce(cand.n_candidates, 0) AS n_candidates,
           coalesce(tru.n_true, 0) AS n_true,
           coalesce(miss.n_missed, 0) AS n_missed
         FROM probes p
         LEFT JOIN cand ON p.pkey = cand.pkey
         LEFT JOIN tru ON p.pkey = tru.pkey
         LEFT JOIN miss ON p.pkey = miss.pkey
         ORDER BY p.pkey"""
    },
    // overlap depth: pairwise [min,max] intersect count over per-bucket
    // stats, hash vs 16-slab range layout of the same rows,
    "store_zorder_skip" ->
      """WITH pts AS (SELECT c_custkey AS point_id,
           -180 + (c_custkey % 360) + 0.5 AS lng,
           -90 + ((c_custkey * 7) % 180) + 0.25 AS lat FROM customer),
         q AS (SELECT point_id,
           LEAST(65535, GREATEST(0, CAST(floor(((lng + 180.0) / 360.0) * 65536.0) AS BIGINT))) AS qx,
           LEAST(65535, GREATEST(0, CAST(floor(((lat + 90.0) / 180.0) * 65536.0) AS BIGINT))) AS qy FROM pts),
         s1 AS (SELECT point_id, qx, qy, ((qx | (qx << 8)) & 16711935) AS x, ((qy | (qy << 8)) & 16711935) AS y FROM q),
         s2 AS (SELECT point_id, qx, qy, ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y FROM s1),
         s3 AS (SELECT point_id, qx, qy, ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y FROM s2),
         s4 AS (SELECT point_id, qx, qy, ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y FROM s3),
         pq AS (SELECT point_id, qx, qy, (((y << 1) | x) >> 26) AS zb, (qy >> 10) AS rb FROM s4),
         st AS (SELECT 'zorder' AS layout, zb AS bucket, count(*) AS n,
             min(qx) AS minx, max(qx) AS maxx, min(qy) AS miny, max(qy) AS maxy
           FROM pq GROUP BY 2
           UNION ALL
           SELECT 'rowmajor' AS layout, rb AS bucket, count(*) AS n,
             min(qx), max(qx), min(qy), max(qy) FROM pq GROUP BY 2),
         preds(pred_id, xlo, xhi, ylo, yhi) AS (VALUES
           (1, 20000, 30000, 20000, 30000),
           (2, 10000, 14000, 0, 65535),
           (3, 0, 65535, 50000, 54000)),
         scan AS (SELECT pred_id, layout,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CASE WHEN xlo <= maxx AND xhi >= minx AND ylo <= maxy AND yhi >= miny THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
             CAST(sum(CASE WHEN xlo <= maxx AND xhi >= minx AND ylo <= maxy AND yhi >= miny THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
           FROM st, preds GROUP BY 1, 2),
         m AS (SELECT pred_id, count(*) AS rows_match FROM pq, preds
           WHERE qx BETWEEN xlo AND xhi AND qy BETWEEN ylo AND yhi GROUP BY 1)
         SELECT CAST(pred_id AS BIGINT) AS pred_id, layout, n_buckets,
           n_scanned, rows_scanned,
           CAST(COALESCE(rows_match, 0) AS BIGINT) AS rows_match
         FROM scan LEFT JOIN m USING (pred_id) ORDER BY pred_id, layout""",
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
    "cdc_scd2" ->
      """WITH ch AS (
           SELECT o_orderkey AS k, o_totalprice AS price, 1 AS seq, 'I' AS op
           FROM orders
           UNION ALL
           SELECT o_orderkey, o_totalprice + 100.0, 2, 'U'
           FROM orders WHERE o_orderkey % 3 = 0
           UNION ALL
           SELECT o_orderkey, 0.0, 3, 'D'
           FROM orders WHERE o_orderkey % 11 = 0),
         h AS (SELECT k, price, op, CAST(seq AS BIGINT) AS valid_from,
             CAST(lead(seq) OVER (PARTITION BY k ORDER BY seq) AS BIGINT)
               AS valid_to
           FROM ch),
         v AS (SELECT k, price, valid_from, valid_to,
             valid_to IS NULL AS is_current
           FROM h WHERE op <> 'D')
         SELECT is_current, k % 16 AS grp, CAST(count(*) AS BIGINT) AS n,
           round(sum(price), 2) AS sum_price,
           CAST(sum(valid_from) AS BIGINT) AS sum_from,
           CAST(sum(coalesce(valid_to, 0)) AS BIGINT) AS sum_to
         FROM v GROUP BY 1, 2 ORDER BY is_current, grp""",
    // the two profiles replayed; every verdict is integer ppm arithmetic
    // (floor division both engines share on nonnegative counts),
    "cdc_incr_agg" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey % 16 AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
         base AS (SELECT * FROM o WHERE k % 5 <> 0),
         ins AS (SELECT grp, v FROM o WHERE k % 5 = 0),
         upd AS (SELECT CASE WHEN k % 9 = 0 THEN (grp + 1) % 16 ELSE grp END
               AS grp, v + 10000 AS v
           FROM base WHERE k % 3 = 0),
         kept AS (SELECT grp, v FROM base
           WHERE k % 3 <> 0 AND NOT (k % 11 = 0)),
         fin AS (SELECT * FROM kept UNION ALL SELECT * FROM upd
           UNION ALL SELECT * FROM ins)
         SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS sum_v
         FROM fin GROUP BY grp ORDER BY grp""",
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
    // restore rolls the table back to the r1 content as a NEW commit while
    // the pre-restore r2 snapshot stays readable,
    "checkpoint_restore" ->
      """WITH merged AS (SELECT o_custkey,
           CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS p FROM orders),
         s2 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(p), 2) AS sum_price, 'r2' AS snap
           FROM merged GROUP BY 1),
         s3 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price, 'restored' AS snap
           FROM orders GROUP BY 1)
         SELECT grp, n, sum_price, snap FROM s2
         UNION ALL SELECT grp, n, sum_price, snap FROM s3
         ORDER BY snap, grp""",
    // compaction preserves content: AS OF after OPTIMIZE = the r2 state,
    // and the pre-compaction r1 snapshot is untouched,
    "checkpoint_compact" ->
      """WITH s1 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price, 'r1' AS snap
           FROM orders GROUP BY 1),
         merged AS (SELECT o_custkey,
           CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS p FROM orders),
         sc AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(p), 2) AS sum_price, 'c1' AS snap
           FROM merged GROUP BY 1)
         SELECT grp, n, sum_price, snap FROM s1
         UNION ALL SELECT grp, n, sum_price, snap FROM sc
         ORDER BY snap, grp""",
    // branch a = base + (+1000 on buckets 0-3), branch b = base + (+500 on
    // buckets 8-11), merge m = both (disjoint buckets, latest-wins),
    "checkpoint_branch" ->
      """WITH sa AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                          ELSE o_totalprice END), 2) AS sum_price, 'a' AS snap
           FROM orders GROUP BY 1),
         sb AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(CASE WHEN o_orderkey % 12 >= 8 THEN o_totalprice + 500.0
                          ELSE o_totalprice END), 2) AS sum_price, 'b' AS snap
           FROM orders GROUP BY 1),
         sm AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                          WHEN o_orderkey % 12 >= 8 THEN o_totalprice + 500.0
                          ELSE o_totalprice END), 2) AS sum_price, 'm' AS snap
           FROM orders GROUP BY 1)
         SELECT grp, n, sum_price, snap FROM sa
         UNION ALL SELECT grp, n, sum_price, snap FROM sb
         UNION ALL SELECT grp, n, sum_price, snap FROM sm
         ORDER BY snap, grp""",
    // each delta is exactly the changed buckets' rows from the new winner,
    "checkpoint_delta" ->
      """WITH d1 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice + 1000.0), 2) AS sum_price, 'd1' AS delta
           FROM orders WHERE o_orderkey % 12 < 4 GROUP BY 1),
         d2 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice + 500.0), 2) AS sum_price, 'd2' AS delta
           FROM orders WHERE o_orderkey % 12 >= 8 GROUP BY 1)
         SELECT grp, n, sum_price, delta FROM d1
         UNION ALL SELECT grp, n, sum_price, delta FROM d2
         ORDER BY delta, grp""",
    // merged view: updates win in buckets 2/5, bucket-7 rows also inserted,
    "checkpoint_upsert" ->
      """WITH m AS (
           SELECT o_custkey, CASE WHEN o_orderkey % 12 IN (2, 5)
               THEN o_totalprice + 100.0 ELSE o_totalprice END AS p
           FROM orders
           UNION ALL
           SELECT o_custkey, o_totalprice AS p FROM orders
           WHERE o_orderkey % 12 = 7)
         SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(p), 2) AS sum_price
         FROM m GROUP BY 1 ORDER BY grp""",
    // MOR delete: d1 removes o_orderkey%7=3; d1+d2 additionally removes
    // o_custkey%10=0 — the base never rewrites, so both snapshots are the
    // base table minus the tombstoned predicates,
    "checkpoint_mor_delete" ->
      """WITH s1 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price, 'd1' AS snap
           FROM orders WHERE NOT (o_orderkey % 7 = 3) GROUP BY 1),
         s2 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price, 'd12' AS snap
           FROM orders
           WHERE NOT (o_orderkey % 7 = 3 OR o_custkey % 10 = 0) GROUP BY 1)
         SELECT grp, n, sum_price, snap FROM s1
         UNION ALL SELECT grp, n, sum_price, snap FROM s2
         ORDER BY snap, grp""",
    // as-of r1's commit frontier = pure r1; as-of +inf = r1+r2 merged,
    "checkpoint_orphans" ->
      """SELECT 'r1' AS run_id, CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS committed FROM orders
         UNION ALL
         SELECT 'zz', CAST(count(*) AS BIGINT), FALSE FROM orders
         WHERE o_orderkey % 9 = 0
         ORDER BY run_id""",
    // first view -> first subsequent purchase per user; selection quartiles,
    "checkpoint_as_of_ts" ->
      """WITH s1 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price, 't1' AS snap
           FROM orders GROUP BY 1),
         s2 AS (SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                          ELSE o_totalprice END), 2) AS sum_price, 'now' AS snap
           FROM orders GROUP BY 1)
         SELECT grp, n, sum_price, snap FROM s1
         UNION ALL SELECT grp, n, sum_price, snap FROM s2
         ORDER BY snap, grp""",
    // merged-schema read: o_flag only exists for r2's buckets (0-3),
    "checkpoint_evolve" ->
      """SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price,
           CAST(count(CASE WHEN o_orderkey % 12 < 4 AND o_orderkey % 2 = 0
             THEN 1 END) AS BIGINT) AS n_flagged,
           CAST(count(CASE WHEN o_orderkey % 12 >= 4 THEN 1 END) AS BIGINT) AS n_nullflag
         FROM orders GROUP BY 1 ORDER BY grp""",
    // vacuum retains only the compacted lineage = the r2 state,
    "checkpoint_vacuum" ->
      """SELECT o_custkey % 16 AS grp, count(*) AS n,
           round(sum(CASE WHEN o_orderkey % 12 < 4 THEN o_totalprice + 1000.0
                          ELSE o_totalprice END), 2) AS sum_price, 'v' AS snap
         FROM orders GROUP BY 1 ORDER BY grp""",
    // exact pairwise Jaccard ppm bucketed at 100k,
    "store_compaction_plan" ->
      """WITH RECURSIVE f AS (SELECT o_orderkey % 8 AS part,
           o_orderkey AS file_id, 1 + (o_orderkey * 7919) % 200 AS sz
           FROM orders WHERE o_orderkey % 50 = 0),
         s AS (SELECT part, file_id, sz, CAST(row_number() OVER (
             PARTITION BY part ORDER BY sz DESC, file_id) AS BIGINT) AS idx
           FROM f),
         r(part, idx, file_id, sz, bin, fill) AS (
           SELECT part, idx, file_id, sz, CAST(0 AS BIGINT), sz
           FROM s WHERE idx = 1
           UNION ALL
           SELECT s.part, s.idx, s.file_id, s.sz,
             CASE WHEN r.fill + s.sz <= 512 THEN r.bin ELSE r.bin + 1 END,
             CASE WHEN r.fill + s.sz <= 512 THEN r.fill + s.sz ELSE s.sz END
           FROM r JOIN s ON s.part = r.part AND s.idx = r.idx + 1)
         SELECT part, file_id, sz, bin FROM r ORDER BY part, file_id""",
    "stream_state_rollup" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
         CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
         FROM events GROUP BY 1 ORDER BY user_id""",
    // per-row adjacent |Δ| sums from the closed form, 3 lowest by
    // (delta, row),
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
    // replicates ops.Sketches.hllDistinct step for step: same congruential
    // hash, same lsb-CASE rank, same exact-integer register sum over the
    // 2^40 denominator, same single IEEE division at the end,
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
    // same OD flows, 3 unrolled sync label-prop rounds, size census,
    "store_write_amp_sim" ->
      """WITH f AS (SELECT CAST(range AS BIGINT) AS n FROM range(1, 129)),
         c AS (SELECT n,
             1 + (CASE WHEN n % 4 = 0 THEN 4 + 4 * ((n // 4 - 1) % 4) ELSE 0 END)
               + (CASE WHEN n % 16 = 0 THEN 16 + 16 * ((n // 16 - 1) % 4) ELSE 0 END)
               + (CASE WHEN n % 64 = 0 THEN 64 + 64 * ((n // 64 - 1) % 4) ELSE 0 END) AS lev,
             1 + (CASE WHEN n % 4 = 0 THEN 4 ELSE 0 END)
               + (CASE WHEN n % 16 = 0 THEN 16 ELSE 0 END)
               + (CASE WHEN n % 64 = 0 THEN 64 ELSE 0 END) AS tier
           FROM f),
         cum AS (SELECT n,
             CAST(sum(lev) OVER (ORDER BY n) AS BIGINT) AS lev_written,
             CAST(sum(tier) OVER (ORDER BY n) AS BIGINT) AS tier_written
           FROM c)
         SELECT n AS n_flush, lev_written, tier_written,
           CAST(1000 * lev_written // n AS BIGINT) AS wa_lev_milli,
           CAST(1000 * tier_written // n AS BIGINT) AS wa_tier_milli
         FROM cum WHERE n % 16 = 0 ORDER BY n_flush""",
    // zero-filled half profiles in ppm, 24 cyclic shifts, argmin,
    "store_voptimal_hist" ->
      """WITH hrs AS (SELECT CAST(g AS INT) AS h
           FROM unnest(range(0, 24)) AS t(g)),
         hv AS (SELECT CAST(hour(ts) AS INT) AS h,
             CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
         xs AS (SELECT hrs.h, COALESCE(x, 0) AS x
           FROM hrs LEFT JOIN hv ON hv.h = hrs.h),
         pre AS (SELECT h, CAST(sum(x) OVER w AS BIGINT) AS ps,
             CAST(sum(x * x) OVER w AS BIGINT) AS pss
           FROM xs WINDOW w AS (ORDER BY h ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW)),
         pref AS (SELECT h, ps, pss FROM pre
           UNION ALL SELECT -1, 0, 0),
         cost AS (SELECT pi.h + 1 AS i, pj.h AS j,
             CAST((pj.pss - pi.pss) * (pj.h - pi.h)
               - (pj.ps - pi.ps) * (pj.ps - pi.ps) AS BIGINT) AS cst
           FROM pref pj JOIN pref pi ON pi.h < pj.h WHERE pj.h >= 0),
         dp1 AS (SELECT j, cst AS dp FROM cost WHERE i = 0),
         dp2 AS (SELECT c.j, min(d.dp + c.cst) AS dp
           FROM dp1 d JOIN cost c ON c.i = d.j + 1 GROUP BY 1),
         dp3 AS (SELECT c.j, min(d.dp + c.cst) AS dp
           FROM dp2 d JOIN cost c ON c.i = d.j + 1 GROUP BY 1),
         b3 AS (SELECT d.j AS j3 FROM dp3 d
           JOIN cost c ON c.i = d.j + 1 AND c.j = 23
           ORDER BY d.dp + c.cst, d.j LIMIT 1),
         b2 AS (SELECT d.j AS j2 FROM dp2 d
           JOIN cost c ON c.i = d.j + 1 AND c.j = (SELECT j3 FROM b3)
           ORDER BY d.dp + c.cst, d.j LIMIT 1),
         b1 AS (SELECT d.j AS j1 FROM dp1 d
           JOIN cost c ON c.i = d.j + 1 AND c.j = (SELECT j2 FROM b2)
           ORDER BY d.dp + c.cst, d.j LIMIT 1),
         bounds AS (SELECT 1 AS bucket, 0 AS lo,
             (SELECT j1 FROM b1) AS hi
           UNION ALL SELECT 2, (SELECT j1 FROM b1) + 1, (SELECT j2 FROM b2)
           UNION ALL SELECT 3, (SELECT j2 FROM b2) + 1, (SELECT j3 FROM b3)
           UNION ALL SELECT 4, (SELECT j3 FROM b3) + 1, 23)
         SELECT CAST(bucket AS INT) AS bucket, CAST(lo AS INT) AS lo,
           CAST(hi AS INT) AS hi, CAST(hi - lo + 1 AS BIGINT) AS n_hours,
           CAST((SELECT ps FROM pref WHERE h = bounds.hi)
             - (SELECT ps FROM pref WHERE h = bounds.lo - 1)
             AS BIGINT) AS seg_sum,
           c.cst AS seg_cost_q
         FROM bounds JOIN cost c ON c.i = bounds.lo AND c.j = bounds.hi
         ORDER BY bucket""",
    // LSB vs (7r+13c) parity payload over the grid closed form,
    "store_rle_gain" ->
      """WITH o AS (SELECT o_orderstatus,
           lag(o_orderstatus) OVER (ORDER BY o_orderkey) AS prev
           FROM orders),
         nat AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN prev IS NULL
               OR prev <> o_orderstatus THEN 1 ELSE 0 END) AS BIGINT)
               AS runs_natural
           FROM o),
         srt AS (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT)
             AS runs_sorted FROM orders)
         SELECT n_rows, runs_natural, runs_sorted,
           CAST(1000000 * (runs_natural - runs_sorted) // runs_natural
             AS BIGINT) AS gain_ppm
         FROM nat, srt""",
    // lag deltas over the distinct ordered key space
  )
}
