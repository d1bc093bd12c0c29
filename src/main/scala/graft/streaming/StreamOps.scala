package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface of the engine — the incremental-ingest
  * complement of the batch operators (SURVEY.md §2.7: the reference is
  * request/response; streams are the batch-engine generalization the north
  * rule's ingest side needs). The transforms here are the SAME declarative
  * plans as their batch twins, run through the micro-batch engine, so batch
  * results are the exact oracle.
  */
object StreamOps {

  private val runSeq = new AtomicLong(0L)

  /** Event-time windowed aggregation over a file-source stream, run to
    * completion (`Trigger.AvailableNow`) and returned as the final result
    * table — the streaming path driven through the engine's DuckDB
    * correctness gate rather than spec-only equivalence.
    *
    * The aggregate carries a watermark (the state-eviction contract a
    * forever-running ingest needs) but emits in COMPLETE mode, so the
    * drained result is exactly the batch GROUP BY — deterministic
    * regardless of how the source splits micro-batches. Value sums are
    * quantized to integer milli-units per event BEFORE summing, so the
    * aggregate is an order-independent Long sum (micro-batch arrival order
    * cannot perturb a bit).
    *
    * Scale shape: the stateful aggregation is keyed by (window, event_type)
    * — bounded state per key, watermark-evicted in append deployments; the
    * file source reads each input split once. This is the same plan
    * Catalyst produces for the batch twin, plus StateStore exchange.
    *
    * @param path parquet path (file or directory) of the events table
    * @return (day, event_type, n, v_sum) — v_sum in milli-units
    */
  def windowedCounts(spark: SparkSession, path: String): DataFrame = {
    val name = s"graft_stream_wc_${runSeq.incrementAndGet()}"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt_").toString
    // the file source lists a DIRECTORY; a single-file table stages into a
    // temp dir as a symlink (an ingest deployment would already be a dir)
    val src = java.nio.file.Paths.get(path)
    val streamDir =
      if (java.nio.file.Files.isDirectory(src)) path
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(src.getFileName), src)
        d.toString
      }
    val schema = spark.read.parquet(streamDir).schema
    // parquet timestamps arrive NTZ; watermarks need an instant type. The
    // engine's sessions pin spark.sql.session.timeZone=UTC, so both casts
    // are identity on the underlying micros and the emitted `day` matches
    // the batch date_trunc('day') bucket bit-for-bit.
    val q = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(floor(col("value") * lit(1000.0)).cast("long")).as("v_sum"))
      .select(col("w.start").cast("timestamp_ntz").as("day"),
        col("event_type"), col("n"), col("v_sum"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(spark, name)
  }

  /** STREAMING DEDUPLICATION — the fourth stateful-streaming surface next
    * to the window agg, session windows and the interval join:
    * `dropDuplicates` over (user_id, event_type, day) keeps exactly the
    * first arrival of each key and emits every key once. Only the KEY
    * columns are emitted: which physical row "wins" inside a micro-batch is
    * order-dependent, the key set is not — emitting keys makes the
    * append-mode drain equal the batch `SELECT DISTINCT` bit-for-bit (the
    * DuckDB gate), the same determinism discipline as the other drains.
    *
    * State note (honest contract): exact global dedup keeps one state row
    * per distinct key forever — Spark only expires dedup state when the
    * event-time column itself is among the keys. The production TTL'd
    * variant is `dropDuplicatesWithinWatermark`, which bounds state by the
    * watermark delay at the cost of re-admitting a key whose duplicates
    * straddle the delay — that trade is data-dependent, so the GATE pins
    * the exact variant and the scaladoc records the knob.
    */
  def dedupKeys(spark: SparkSession, path: String): DataFrame = {
    val name = s"graft_stream_dd_${runSeq.incrementAndGet()}"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt_").toString
    val src = java.nio.file.Paths.get(path)
    val streamDir =
      if (java.nio.file.Files.isDirectory(src)) path
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
        java.nio.file.Files.createSymbolicLink(d.resolve(src.getFileName), src)
        d.toString
      }
    val schema = spark.read.parquet(streamDir).schema
    val q = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"), col("ts"))
      .dropDuplicates("user_id", "event_type", "day")
      .select(col("user_id"), col("event_type"),
        col("day").cast("timestamp_ntz").as("day"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(spark, name)
  }

  /** STREAMING ELEVATION ENRICHMENT — the reference's live `/geojson`
    * endpoint (`src/server.ts:74-95`) in its truest Spark form: a
    * Structured Streaming job that enriches an unbounded coordinate stream
    * against the broadcast tile-pyramid index. The lookup is STATELESS
    * (tile_key + the codegen'd index-probe expression are per-row column
    * adds), so the stream needs no watermark, no state store, and the
    * append drain equals the batch [[graft.ops.Elevation.lookupBroadcast]]
    * bit-for-bit — the J1 join family's third physical path (broadcast
    * probe / cogroup shuffle / streaming enrichment), all three through
    * the same oracle.
    *
    * @param pointExprs selectExpr strings deriving (point_id, lng, lat)
    *                   from the streamed rows (the gate's fixture exprs)
    */
  def elevationEnrich(spark: SparkSession, path: String,
                      tiles: org.apache.spark.sql.Dataset[graft.core.TileRow],
                      pointExprs: Seq[String]): DataFrame = {
    val name = s"graft_stream_el_${runSeq.incrementAndGet()}"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt_").toString
    val src = java.nio.file.Paths.get(path)
    val streamDir =
      if (java.nio.file.Files.isDirectory(src)) path
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
        java.nio.file.Files.createSymbolicLink(d.resolve(src.getFileName), src)
        d.toString
      }
    val schema = spark.read.parquet(streamDir).schema
    val pts = spark.readStream.schema(schema).parquet(streamDir)
      .selectExpr(pointExprs: _*)
    val q = graft.ops.Elevation.lookupBroadcast(pts, tiles)
      .select(col("point_id"), col("tile_key"), col("elev"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drain(spark, name)
  }

  private def drain(spark: SparkSession, name: String): DataFrame = {
    val out = spark.table(name).cache()
    out.count()
    spark.catalog.dropTempView(name)
    out
  }
}
