package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming coverage: the reference is request/response (no
  * streaming — SURVEY.md §2.7), but the engine supports incremental ingest:
  * file-source streams over the same events table, event-time windowed
  * aggregation with a watermark, and custom state via mapGroupsWithState.
  * Both are checked against their batch equivalents (exact counts).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.checkpointLocation",
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_ckpt_${System.nanoTime()}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // file-source streams need a DIRECTORY; stage the single-file table into one
  private lazy val eventsPath: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_events"
    graft.table.Checkpoint.clear(dir)
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("streaming elevation enrichment via the broadcast index matches batch") {
    import spark.implicits._
    // a directory of coordinate parquet acts as the incremental ingest source
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_coords"
    graft.table.Checkpoint.clear(dir)
    (1 to 2000).map(i => (i.toLong, -119.9 + (i % 500) * 0.0037, 36.05 + (i % 300) * 0.0031))
      .toDF("point_id", "lng", "lat").repartition(3).write.mode("overwrite").parquet(dir)
    val tiles = spark.createDataset(graft.synth.TileGen.tiles(Seq((-120, 36)), 121, "hgt"))(
      org.apache.spark.sql.Encoders.product[graft.core.TileRow])
    val bc = graft.ops.TileIndex.broadcastIndex(tiles)
    val schema = spark.read.parquet(dir).schema
    // the SAME codegen'd probe expression runs inside the micro-batch plan —
    // the broadcast tile-pyramid index is engine state shared across batches,
    // exactly how an incremental ingest would enrich arriving coordinates
    val q = spark.readStream.schema(schema).parquet(dir)
      .withColumn("elev", graft.ops.ElevAt.elev_at(col("lng"), col("lat"), bc))
      .writeStream.format("memory").queryName("stream_elev")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_elev")
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r._4).toMap
    val exp = spark.read.parquet(dir)
      .withColumn("elev", graft.ops.ElevAt.elev_at(col("lng"), col("lat"), bc))
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(got == exp && got.nonEmpty)
    assert(got.values.exists(_ != 0.0), "some in-tile elevations are non-zero")
  }

  test("windowed event-time aggregation with watermark matches batch") {
    import spark.implicits._
    val schema = spark.read.parquet(eventsPath).schema
    // events.ts is TIMESTAMP_NTZ in the source parquet; watermarks need TIMESTAMP
    val stream = spark.readStream.schema(schema).parquet(eventsPath)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_counts")
      .select(col("window.start").as("hr"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val exp = spark.read.parquet(eventsPath)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == exp && got.nonEmpty)
  }

  test("custom state via mapGroupsWithState matches batch counts") {
    import spark.implicits._
    val schema = spark.read.parquet(eventsPath).schema
    val counts = spark.readStream.schema(schema).parquet(eventsPath)
      .select(col("event_type")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[String], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          (k, n)
        })
    val q = counts.toDF("event_type", "n").writeStream.format("memory")
      .queryName("state_counts").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // update mode appends one row per key per batch — final value per key
    val got = spark.table("state_counts").groupBy("event_type")
      .agg(max("n").as("n"))
      .as[(String, Long)].collect().toMap
    val exp = spark.read.parquet(eventsPath).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(got == exp && got.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization: closed sessions match batch islands") {
    import spark.implicits._
    val gapUs = 12L * 3600 * 1000000
    val schema = spark.read.parquet(eventsPath).schema
    // per-user session fold: emit every session CLOSED by a later event past
    // the gap; the trailing open session stays in state (it would flush on an
    // event-time timeout in a live deployment — here the stream simply ends).
    // Rows inside a micro-batch arrive unordered: sort within the iterator,
    // carry (start, end, n) across batches in the GroupState.
    val sessions = spark.readStream.schema(schema).parquet(eventsPath)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) => {
          val evs = it.map(e => (e._2, e._3)).toSeq.sorted
          var cur = state.getOption
          val closed = Seq.newBuilder[(Long, Long, Long, Long)]
          evs.foreach { case (tus, _) =>
            cur match {
              case Some((s0, e0, n0)) if tus - e0 <= gapUs =>
                cur = Some((s0, math.max(e0, tus), n0 + 1))
              case Some((s0, e0, n0)) =>
                closed += ((user, s0, e0, n0)); cur = Some((tus, tus, 1L))
              case None => cur = Some((tus, tus, 1L))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
        })
    val q = sessions.toDF("user_id", "start_us", "end_us", "n_events")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_sessions")
      .as[(Long, Long, Long, Long)].collect().toSet
    // batch truth: gaps-and-islands per user; drop each user's LAST session
    // (still open in the stream's state when the input ends)
    val byUser = spark.read.parquet(eventsPath)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"))
      .as[(Long, Long)].collect().groupBy(_._1)
    val expected = byUser.flatMap { case (user, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc, t) if acc.nonEmpty && t - acc.last._2 <= gapUs =>
          acc.init :+ ((acc.last._1, t, acc.last._3 + 1))
        case (acc, t) => acc :+ ((t, t, 1L))
      }
      sessions.dropRight(1).map(s => (user, s._1, s._2, s._3))
    }.toSet
    assert(got == expected)
    assert(expected.nonEmpty, "degenerate: no closed sessions in the fixture")
  }

  test("streaming exact dedup with watermark matches batch distinct") {
    import spark.implicits._
    // stage the same table TWICE: every event_id arrives duplicated, the
    // copies possibly in different micro-batches — the streaming form of
    // dedup_exact (state keyed by event_id, expired by the watermark)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_dup"
    graft.table.Checkpoint.clear(dir)
    new java.io.File(dir).mkdirs()
    for (i <- 1 to 2)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        java.nio.file.Paths.get(s"$dir/copy$i.parquet"))
    val schema = spark.read.parquet(dir).schema
    val q = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .select("event_id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_stream").as[Long].collect().sorted
    val exp = spark.read.parquet(dir).select("event_id").distinct()
      .as[Long].collect().sorted
    assert(got.length * 2 == spark.read.parquet(dir).count(),
      "staged input is fully duplicated")
    assert(got.sameElements(exp) && got.nonEmpty)
  }

  test("watermarked stream-stream join: purchase after view within 1h, matches batch") {
    import spark.implicits._
    // both sides stream from the same events table; the interval join is the
    // remaining stream-stream API surface (state bounded by watermark + the
    // time-range condition)
    val schema = spark.read.parquet(eventsPath).schema
    def side(tpe: String) = spark.readStream.schema(schema).parquet(eventsPath)
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("event_id"),
        expr("cast(ts as timestamp)").as("ts"))
      .withWatermark("ts", "2 hours")
    val views = side("view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val purchases = side("purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
    val q = joined.select("view_id", "purchase_id")
      .writeStream.format("memory").queryName("stream_vp")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_vp").as[(Long, Long)].collect().toSet
    val ev = spark.read.parquet(eventsPath)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"))
      .as[(Long, Long, String, Long)].collect()
    val vs = ev.filter(_._3 == "view"); val ps = ev.filter(_._3 == "purchase")
    val expected = (for {
      v <- vs; p <- ps
      if v._1 == p._1 && p._4 >= v._4 && p._4 <= v._4 + 3600L * 1000000
    } yield (v._2, p._2)).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "degenerate: no view->purchase pairs in fixture")
  }

  test("streaming bloom pre-filter: the codegen'd probe runs per micro-batch") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_bloom"
    graft.table.Checkpoint.clear(dir)
    (0 until 5000).map(i => (i.toLong, (i * 13 % 9001).toLong))
      .toDF("row_id", "k").repartition(3).write.mode("overwrite").parquet(dir)
    val m = 1 << 12
    val bc = graft.ops.Sketches.bloomBuild(
      spark.range(0, 300).selectExpr("id * 31 AS k"), "k", m)
    val schema = spark.read.parquet(dir).schema
    // stateless expression => append mode, no state store: the broadcast
    // bitmap is shared across micro-batches like the tile-pyramid index
    val q = spark.readStream.schema(schema).parquet(dir)
      .filter(graft.ops.Sketches.bloomMightContain(bc, m, col("k")))
      .writeStream.format("memory").queryName("stream_bloom")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_bloom").as[(Long, Long)].collect().toSet
    val exp = spark.read.parquet(dir)
      .filter(graft.ops.Sketches.bloomMightContain(bc, m, col("k")))
      .as[(Long, Long)].collect().toSet
    assert(got == exp && got.nonEmpty)
    assert(got.size < 5000, "filter must drop something")
  }
}
