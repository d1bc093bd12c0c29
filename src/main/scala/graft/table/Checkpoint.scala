package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Encoder, Encoders, Observation, Row, SparkSession}

/** One committed bucket of a resumable write: the lineage + row-count metrics
  * row (north rule: "all stages checkpoint per-partition with lineage +
  * row-count metrics to Iceberg metadata tables"). The reference's analog is
  * the request-log flush (src/logRequest.ts:15-30) and periodic cache/S3
  * metrics (src/fetchTileData.ts:35-48, src/s3Fetcher.ts:12-18) — here
  * generalized to a durable commit log that makes the whole job resumable at
  * bucket granularity.
  *
  * @param wall_ms AMORTIZED wall time: the single write job (which also
  *                counts the stats) covers all pending buckets at once
  *                (that is the scale design), so its wall clock is divided
  *                evenly across the buckets it committed — every bucket of
  *                one run carries the same value, and `sum(wall_ms)` over a
  *                run reconstructs the run's wall. It is NOT a per-bucket
  *                commit-unit timing; per-bucket cost attribution would need
  *                per-partition write metrics, which the single-job protocol
  *                deliberately trades away.
  */
final case class BucketManifest(run_id: String, bucket: Int, row_count: Long,
                                checksum: Long, wall_ms: Long, committed_at: Long)

/** Iceberg-style resumable table writes over plain Parquet (no Iceberg jar in
  * the zero-egress environment; the layout keeps Iceberg's two invariants —
  * an immutable data layout `data/bucket=N/` and a commit log `manifest/`
  * whose rows are written only after their data is durable).
  *
  * Protocol: (1) ONE dynamic-partition-overwrite job rewrites the data
  * directories of every pending bucket (idempotent — committed buckets are
  * filtered out and their directories untouched), (2) the same job counts
  * each bucket's rows and checksum in the tasks that write its files, (3)
  * manifest rows, each carrying the written data schema, are appended
  * bucket-group by bucket-group. A crash anywhere before a bucket's
  * manifest append leaves that bucket uncommitted; resume simply rewrites it
  * — exactly-once content, at-least-once effort. Resume = anti-join of all
  * buckets against committed manifest rows (SURVEY.md §2.5's
  * "completed-partitions anti-join").
  *
  * Scale notes (100 TB): buckets are hash buckets over the key column, so
  * bucket count — not input size — bounds the commit-log size. The input is
  * traversed ONCE regardless of bucket count (the write pass counts its own
  * stats): at 1,024 buckets over 100 TB this stays one scan, where a
  * per-bucket job loop would re-scan the input ~1,000 times. `bucketsPerJob`
  * only batches manifest appends (commit granularity vs commit-log write
  * count).
  *
  * All filesystem metadata access goes through Hadoop `FileSystem`, so the
  * layout works on any Spark-supported filesystem (HDFS/S3/local), not just
  * the local disk.
  */
object Checkpoint {

  /** One commit-log line: a bucket's manifest and the JSON of the data
    * schema its run wrote.
    */
  private final case class Commit(manifest: BucketManifest, schema: String)

  private def structOf(json: String): StructType = DataType.fromJson(json).asInstanceOf[StructType]

  private def hadoopConf(spark: Option[SparkSession]) =
    spark.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(dir: String, spark: Option[SparkSession]): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(hadoopConf(spark)), p)
  }

  private val mapper = new ObjectMapper()

  /** One commit-log line as a commit. A line is a commit only if it parses
    * to a JSON object that carries all seven fields with their types: a
    * torn, hand-edited or older-format line must read as "not committed"
    * (resume rewrites its bucket), never crash every later resume.
    */
  private def commitOf(line: String): Option[Commit] = {
    val n = try mapper.readTree(line) catch { case _: java.io.IOException => null }
    def field(f: String) = Option(n.get(f))
    def long(f: String) = field(f).filter(v => v.isIntegralNumber && v.canConvertToLong).map(_.asLong())
    def text(f: String) = field(f).filter(_.isTextual).map(_.asText())
    if (n == null || !n.isObject) None
    else for {
      runId <- text("run_id")
      bucket <- field("bucket").filter(_.isInt).map(_.asInt())
      rows <- long("row_count")
      checksum <- long("checksum")
      wallMs <- long("wall_ms")
      committedAt <- long("committed_at")
      schema <- text("schema")
    } yield Commit(BucketManifest(runId, bucket, rows, checksum, wallMs, committedAt), schema)
  }

  /** The commit log, read on the driver through Hadoop `FileSystem`, the way
    * [[appendManifest]] writes it: a manifest append must not cost a Spark
    * job, and neither must reading the log back — at 1,024 buckets the
    * per-commit job launches were pure overhead that dwarfed the single data
    * write. Only `.json` files hold commits; hidden names (`.`/`_`
    * prefixes, as Spark's listing skips them) never do, which covers the
    * `.tmp` of an append killed before its rename.
    */
  private def commits(spark: SparkSession, dir: String): Seq[Commit] = {
    val (fs, mdir) = fsOf(s"$dir/manifest", Some(spark))
    val files =
      if (!fs.exists(mdir)) Seq.empty[Path]
      else fs.listStatus(mdir).toSeq.filter(_.isFile).map(_.getPath)
        .filter(p => p.getName.endsWith(".json") &&
          !p.getName.startsWith(".") && !p.getName.startsWith("_"))
        .sortBy(_.getName)
    files.flatMap { p =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).flatMap(commitOf).toList
      finally in.close()
    }
  }

  /** The commit log as a local relation of the six manifest columns, so
    * collecting it runs no Spark job.
    */
  def manifests(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(commits(spark, dir).map(_.manifest))

  /** Crash-atomic append: write to a hidden .tmp path, sync (where the
    * filesystem supports it), then rename — a kill mid-write leaves only a
    * .tmp file that no reader ever lists, so a torn JSON line can never
    * poison the commit log. Kill-atomic everywhere; power-loss durability
    * additionally needs hsync support from the filesystem (HDFS yes; the
    * local FS treats it as a flush). Rename is atomic on HDFS/local; on S3
    * it is copy+delete — there, pair this layout with an S3-committer-style
    * conditional put, exactly as real table formats do.
    *
    * @param schema JSON of the written data schema, recorded on every line
    */
  private def appendManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                             rows: Seq[BucketManifest], schema: String): Unit = {
    val name = s"commit-${java.util.UUID.randomUUID()}.json"
    val tmp = new Path(s"$dir/manifest/.$name.tmp")
    val fin = new Path(s"$dir/manifest/$name")
    val out = fs.create(tmp, false)
    try {
      rows.foreach { r =>
        // Jackson escapes every character a caller-chosen run_id may hold
        val line = mapper.createObjectNode().put("run_id", r.run_id).put("bucket", r.bucket)
          .put("row_count", r.row_count).put("checksum", r.checksum)
          .put("wall_ms", r.wall_ms).put("committed_at", r.committed_at)
          .put("schema", schema)
        out.write(mapper.writeValueAsBytes(line))
        out.write('\n')
      }
      try out.hsync() catch { case _: UnsupportedOperationException => () }
    } finally out.close()
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"manifest commit rename failed: $fin")
  }

  /** Remove .tmp leftovers of appends killed before their rename (single
    * writer per table dir — the resume protocol's standing assumption).
    */
  private def cleanTmpManifests(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val mdir = new Path(s"$dir/manifest")
    if (fs.exists(mdir))
      fs.listStatus(mdir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") && n.endsWith(".tmp")) fs.delete(st.getPath, false): Unit
      }
  }

  /** Commit `buckets` as manifest rows of `runId`, `perFile` rows per
    * commit file; a bucket without stats commits as `(0, 0)`.
    *
    * @param failBefore if >= 0, throw before committing the given bucket
    *                   ordinal (the kill/resume test hook)
    */
  private def commit(spark: SparkSession, dir: String, runId: String, buckets: Seq[Int],
                     stats: Map[Int, (Long, Long)], wallMs: Long, perFile: Int,
                     schema: StructType, failBefore: Int = -1): Seq[BucketManifest] = {
    val (mfs, _) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val out = Seq.newBuilder[BucketManifest]
    var ordinal = 0
    buckets.grouped(math.max(1, perFile)).foreach { group =>
      if (failBefore >= 0 && ordinal >= failBefore)
        throw new InjectedFailure(ordinal)
      val rows = group.map { b =>
        val (n, c) = stats.getOrElse(b, (0L, 0L))
        BucketManifest(runId, b, n, c, wallMs, System.currentTimeMillis())
      }
      appendManifest(mfs, dir, rows, schema.json)
      out ++= rows
      ordinal += group.size
    }
    out.result()
  }

  def committedBuckets(spark: SparkSession, dir: String): Set[Int] =
    commits(spark, dir).map(_.manifest.bucket).toSet

  /** Rows of every commit of the table, summed from the commit log on the
    * driver.
    */
  def committedRowCount(spark: SparkSession, dir: String): Long =
    commits(spark, dir).map(_.manifest.row_count).sum

  /** Per-bucket row count and checksum over `[0, nBuckets)` buckets. The
    * buffer is `(count, checksum)` pairs indexed by bucket, so each row
    * costs O(1) whatever the bucket count.
    */
  private final class BucketStats(nBuckets: Int)
      extends Aggregator[(Int, Long), Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](2 * nBuckets)
    override def reduce(b: Array[Long], r: (Int, Long)): Array[Long] = {
      b(2 * r._1) += 1
      b(2 * r._1 + 1) += r._2
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Run `write` on a writer of `routed` — a frame already repartitioned so
    * that each write task holds rows of one bucket — partitioned by
    * `partitionCols`, and return the `(row_count, checksum)` of every bucket
    * it wrote rows to: the count of rows and the sum of
    * `xxhash64(struct(data columns by name)) & 0xFFFFFFFF`, an
    * order-insensitive checksum whose mask keeps the sum far from Long
    * overflow. The data columns are all but `partitionCols`.
    *
    * The stats are observed AFTER the routing exchange, so the tasks that
    * count them are the result tasks that write and commit the files, and
    * they count exactly the rows those files hold. Spark merges a result
    * task's accumulators once, from its first successful attempt; map-stage
    * tasks re-run on a fetch failure, so counting there could count twice.
    * The values equal a recomputation over the written files (pinned by
    * `CheckpointSpec`), without reading them back.
    */
  private def countedWrite(routed: DataFrame, nBuckets: Int, partitionCols: String*)(
      write: DataFrameWriter[Row] => Unit): Map[Int, (Long, Long)] = {
    val dataCols = routed.columns.filterNot(partitionCols.contains).sorted
    val stats = udaf(new BucketStats(nBuckets),
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
    val observation = Observation()
    write(routed.observe(observation, stats(col("__bucket"),
      xxhash64(struct(dataCols.map(col).toIndexedSeq: _*)).bitwiseAND(lit(0xFFFFFFFFL)))
      .as("stats")).write.partitionBy(partitionCols: _*))
    val counted = Option(observation.get("stats"))
      .map(_.asInstanceOf[scala.collection.Seq[Long]]).getOrElse(Seq.empty)
    counted.grouped(2).zipWithIndex.collect {
      case (Seq(n, c), b) if n > 0 => b -> ((n, c))
    }.toMap
  }

  /** Deliberate mid-run crash for resume tests (fires between the data write
    * and the given bucket ordinal's manifest commit — the real crash window
    * of the protocol).
    */
  final class InjectedFailure(bucket: Int)
      extends RuntimeException(s"injected failure before bucket $bucket commit")

  /** Write `df` into `dir` bucketed by `xxhash64(keyCols) pmod nBuckets`,
    * committing a manifest row per bucket and skipping buckets already
    * committed by a previous (possibly killed) run.
    *
    * Key-stability contract: `keyCols` must derive from row CONTENT, stable
    * across re-runs at any parallelism. Keys minted from physical layout —
    * `monotonically_increasing_id`, `GeoJsonSource.readLines` split ids —
    * re-bucket rows when a resume runs with a different split configuration
    * (cores, maxPartitionBytes), duplicating rows past committed buckets and
    * orphaning others. Use content-derived keys (natural ids, a hash of the
    * payload) or `readDocuments`, whose ids derive from document order alone.
    *
    * @param failBeforeBucket if >= 0, throw before committing the manifest of
    *                         the given ordinal (test hook for kill/resume) —
    *                         the data of ALL pending buckets is already
    *                         durable at that point, exactly like a real crash
    *                         between write and commit
    * @return manifest rows committed by THIS run
    */
  def writeResumable(df: DataFrame, keyCols: Seq[String], nBuckets: Int,
                     dir: String, runId: String, bucketsPerJob: Int = 1,
                     failBeforeBucket: Int = -1): Seq[BucketManifest] = {
    val spark = df.sparkSession
    val done = committedBuckets(spark, dir)
    val pendingBuckets = (0 until nBuckets).filterNot(done)
    if (pendingBuckets.isEmpty) return Seq.empty

    val t0 = System.nanoTime()
    // ONE job for every pending bucket: dynamic partition overwrite replaces
    // exactly the touched bucket directories. Input is scanned once however
    // many buckets are pending (the per-bucket-loop alternative re-scans the
    // full input once per bucket group — a scale-killer at high bucket
    // counts). Each write task gets the rows of exactly one bucket: its id is
    // the bucket's ordinal among the pending buckets, so no two buckets share
    // a task and no task is left empty by a hash collision. Without the
    // routing every map task writes one file per bucket it sees (tasks ×
    // buckets small files — 1M files at 1,000 executors × 1,024 buckets, and
    // wall time grows with bucket count, not data size). When buckets <
    // cores, a sub-hash lane (murmur3, independent of the xxhash64 bucket)
    // spreads each bucket over `spread` tasks so write parallelism stays
    // full: pending × spread files, ~max(buckets, shuffle partitions).
    val shufflePar = spark.sessionState.conf.numShufflePartitions
    val spread = math.max(1, shufflePar / pendingBuckets.size)
    val ordinal = Array.fill(nBuckets)(-1)
    pendingBuckets.zipWithIndex.foreach { case (b, i) => ordinal(b) = i }
    val lane = if (spread == 1) lit(0) else pmod(hash(keyCols.map(col): _*), lit(spread))
    val routed = df
      .withColumn("__bucket", pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets)).cast("int"))
      .filter(col("__bucket").isin(pendingBuckets: _*))
      .repartitionById(pendingBuckets.size * spread,
        element_at(typedLit(ordinal.toSeq), col("__bucket") + 1) * spread + lane)
    val stats = countedWrite(routed, nBuckets, "__bucket")(_.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$dir/data"))
    // write + stats effort amortized over the buckets it covered
    val wallMs = ((System.nanoTime() - t0) / 1000000) / pendingBuckets.size

    // durable commits: manifest rows appended only after the data write,
    // bucket-group by bucket-group (bucketsPerJob trades commit granularity
    // against commit-log file count). Appends are direct FileSystem writes,
    // never Spark jobs — see [[commits]].
    commit(spark, dir, runId, pendingBuckets, stats, wallMs, bucketsPerJob,
      df.schema, failBeforeBucket)
  }

  /** Read the committed table back. Snapshot-consistent: only buckets with a
    * manifest row are visible (data written by a crashed run without its
    * manifest commit is invisible until resume rewrites it) — partition
    * pruning on `__bucket` keeps the filter scan-level. The scan uses the
    * data schema recorded with the newest commit, so no Spark job runs
    * before an action and a table whose committed buckets are all empty
    * still reads with its columns.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val cs = commits(spark, dir)
    // a run killed before ANY commit leaves no data/ at all — the snapshot
    // contract says "empty", not AnalysisException
    val (fs, dataPath) = fsOf(s"$dir/data", Some(spark))
    if (cs.isEmpty || !fs.exists(dataPath))
      return spark.emptyDataFrame
    spark.read.schema(structOf(cs.maxBy(_.manifest.committed_at).schema).add("__bucket", IntegerType))
      .parquet(s"$dir/data")
      .where(col("__bucket").isin(cs.map(_.manifest.bucket).distinct: _*))
      .drop("__bucket")
  }

  def clear(dir: String): Unit = {
    val (fs, p) = fsOf(dir, SparkSession.getActiveSession)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** Versioned snapshot write — the time-travel side of the Iceberg-style
    * layout. Where [[writeResumable]] REWRITES bucket directories in place
    * (one live version), each `writeVersioned` run appends an immutable
    * `data/__run=<runId>/__bucket=N/` tree, bucket `b` written by task `b`,
    * and commits manifest rows after the data is durable, so every run
    * remains readable forever and [[readAt]] reconstructs the table AS OF
    * any run: per bucket, the newest committed write at-or-before the
    * requested snapshot wins — bucket-granularity overwrite semantics,
    * exactly Iceberg's copy-on-write partition overwrite with the manifest
    * log as the snapshot lineage.
    *
    * The bucket function is an explicit caller expression (not the hash of
    * [[writeResumable]]) so a patch run can target the buckets it changes
    * and readers/oracles can reason about bucket membership in plain SQL.
    *
    * @param df       rows of this snapshot's buckets — a bucket written
    *                 here REPLACES its previous content as of this run
    * @param bucketOf integer bucket expression (taken mod `nBuckets`)
    */
  def writeVersioned(df: DataFrame, bucketOf: org.apache.spark.sql.Column,
                     nBuckets: Int, dir: String, runId: String,
                     bucketsPerJob: Int = 64): Seq[BucketManifest] = {
    require(!runId.contains("=") && !runId.contains("/"), s"bad runId: $runId")
    val t0 = System.nanoTime()
    val frame = df
      .withColumn("__bucket", pmod(bucketOf.cast("long"), lit(nBuckets)).cast("int"))
      .withColumn("__run", lit(runId))
    val stats = countedWrite(frame.repartitionById(nBuckets, col("__bucket")), nBuckets,
      "__run", "__bucket")(_.mode("append").parquet(s"$dir/data"))
    val wallMs = ((System.nanoTime() - t0) / 1000000) / math.max(1, stats.size)
    commit(df.sparkSession, dir, runId, stats.keys.toSeq.sorted, stats, wallMs,
      bucketsPerJob, df.schema)
  }

  /** Time-travel read: the table AS OF the last run in `runOrder`. For each
    * bucket the newest run in `runOrder` (caller-supplied commit order —
    * the snapshot lineage) holding a committed manifest row for it wins;
    * buckets no run in the prefix wrote are absent. The winner set is
    * resolved from the commit log on the driver (≤ runs × buckets rows —
    * bounded by the manifest contract, never by data size) and pushed down
    * as `__run`/`__bucket` partition-literal disjunctions, so the scan
    * touches exactly the winning partition directories.
    *
    * The scan reads with the by-name union of the winners' recorded
    * schemas in lineage order (Iceberg-style schema evolution: a run that
    * ADDED columns still reads with older runs, whose rows hold nulls
    * there), so building the frame runs no Spark job.
    */
  def readAt(spark: SparkSession, dir: String, runOrder: Seq[String]): DataFrame = {
    val idx = runOrder.zipWithIndex.toMap
    val wins = commits(spark, dir).filter(c => idx.contains(c.manifest.run_id))
      .groupBy(_.manifest.bucket).values.map(_.maxBy(c => idx(c.manifest.run_id)))
      .toSeq.sortBy(c => (idx(c.manifest.run_id), c.manifest.bucket))
    if (wins.isEmpty) return spark.emptyDataFrame
    val schema = wins.map(_.schema).distinct.map(structOf)
      .reduce((a, b) => b.filterNot(f => a.fieldNames.contains(f.name)).foldLeft(a)(_ add _))
    val pred = wins.groupBy(_.manifest.run_id).toSeq.sortBy(_._1).map { case (run, cs) =>
      col("__run") === lit(run) && col("__bucket").isin(cs.map(_.manifest.bucket): _*)
    }.reduce(_ || _)
    spark.read.schema(schema.add("__run", StringType).add("__bucket", IntegerType))
      .parquet(s"$dir/data")
      .where(pred)
      .drop("__run", "__bucket")
  }
}
