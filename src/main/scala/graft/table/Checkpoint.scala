package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Encoder, Encoders, Observation, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** One committed bucket of a resumable write: the lineage + row-count metrics
  * row (north rule: "all stages checkpoint per-partition with lineage +
  * row-count metrics to Iceberg metadata tables"). The reference's analog is
  * the request-log flush (src/logRequest.ts:15-30) and periodic cache/S3
  * metrics (src/fetchTileData.ts:35-48, src/s3Fetcher.ts:12-18) — here
  * generalized to a durable commit log that makes the whole job resumable at
  * bucket granularity.
  */
/** @param wall_ms AMORTIZED wall time: the single write job (which also
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

  private val ManifestSchema = StructType.fromDDL("run_id string, bucket int, " +
    "row_count bigint, checksum bigint, wall_ms bigint, committed_at bigint")

  /** A commit row: the manifest columns plus the written data schema's JSON
    * (null on lines written before the schema was recorded).
    */
  private val CommitSchema = ManifestSchema.add("schema", StringType)

  private def hadoopConf(spark: Option[SparkSession]) =
    spark.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(dir: String, spark: Option[SparkSession]): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(hadoopConf(spark)), p)
  }

  private val mapper = new ObjectMapper()

  /** One commit-log line as a commit row. A line is a commit only if it
    * parses to an object with an integer `bucket`: a torn or hand-edited
    * line must read as "not committed", never crash every later resume.
    * Other fields that are absent or mistyped read as null, as in Spark's
    * JSON source.
    */
  private def commitRow(line: String): Option[Row] = {
    val n = try mapper.readTree(line) catch { case _: java.io.IOException => null }
    if (n == null || !n.path("bucket").isInt) None
    else {
      def long(f: String): java.lang.Long =
        if (n.path(f).isIntegralNumber && n.path(f).canConvertToLong) n.path(f).asLong() else null
      def text(f: String): String = if (n.path(f).isTextual) n.path(f).asText() else null
      Some(Row(text("run_id"), n.path("bucket").asInt(), long("row_count"), long("checksum"),
        long("wall_ms"), long("committed_at"), text("schema")))
    }
  }

  /** The commit log, read on the driver through Hadoop `FileSystem`, the way
    * [[appendManifest]] writes it: a manifest append must not cost a Spark
    * job, and neither must reading the log back — at 1,024 buckets the
    * per-commit job launches were pure overhead that dwarfed the single data
    * write. Hidden names (`.`/`_` prefixes, as Spark's listing skips them)
    * are never commits; that covers the `.tmp` of an append killed before
    * its rename. Tables whose manifests were committed by the earlier
    * parquet-append protocol stay readable: their `.parquet` commit files
    * are collected into the same rows (a Spark job, only for such tables).
    */
  private def commitRows(spark: SparkSession, dir: String): Seq[Row] = {
    val (fs, mdir) = fsOf(s"$dir/manifest", Some(spark))
    val files =
      if (!fs.exists(mdir)) Seq.empty[Path]
      else fs.listStatus(mdir).toSeq.filter(_.isFile).map(_.getPath)
        .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
        .sortBy(_.getName)
    val rows = files.filter(_.getName.endsWith(".json")).flatMap { p =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).flatMap(commitRow).toList
      finally in.close()
    }
    // pathGlobFilter: a migrated table holds BOTH formats in one directory,
    // and Spark's file listing filters only hidden files, not extensions
    if (!files.exists(_.getName.endsWith(".parquet"))) rows
    else rows ++ spark.read.schema(ManifestSchema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$dir/manifest")
      .collect().map(r => Row.fromSeq(r.toSeq :+ null))
  }

  /** The commit log as a local relation of the six manifest columns, so
    * collecting it runs no Spark job.
    */
  def manifests(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(commitRows(spark, dir).map(r => Row.fromSeq(r.toSeq.init)).asJava,
      ManifestSchema)

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
                             rows: Seq[BucketManifest], schema: Option[String]): Unit = {
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
        schema.foreach(line.put("schema", _))
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
                     schema: Option[StructType], failBefore: Int = -1): Seq[BucketManifest] = {
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
      appendManifest(mfs, dir, rows, schema.map(_.json))
      out ++= rows
      ordinal += group.size
    }
    out.result()
  }

  /** Per bucket, the commit of the run `rank` ranks highest (runs it maps
    * to None are skipped): the snapshot-resolution step of every versioned
    * reader, folded on the driver over the commit log, so resolving a
    * snapshot runs no Spark job. Duplicate lines (a vacuum killed between
    * its log rewrite and cleanup) resolve to the same winner.
    */
  private def winners[K](spark: SparkSession, dir: String)(rank: Row => Option[K])(
      implicit ord: Ordering[K]): Map[Int, Row] =
    commitRows(spark, dir).filterNot(_.isNullAt(1))
      .flatMap(r => rank(r).map(k => (r.getInt(1), k, r)))
      .groupBy(_._1).map { case (b, rs) => b -> rs.maxBy(_._2)._3 }

  /** Per bucket, the commit of the run of `lineage` (commit order) that
    * wrote it last.
    */
  private def lineageWinners(spark: SparkSession, dir: String,
                             lineage: Seq[String]): Map[Int, Row] = {
    val idx = lineage.zipWithIndex.toMap
    winners(spark, dir)(r => idx.get(r.getString(0)))
  }

  private def runIds(wins: Map[Int, Row]): Map[Int, String] =
    wins.map { case (b, r) => b -> r.getString(0) }

  /** The run ids with at least one commit line. */
  private def committedRuns(spark: SparkSession, dir: String): Set[String] =
    commitRows(spark, dir).map(_.getString(0)).toSet

  def committedBuckets(spark: SparkSession, dir: String): Set[Int] =
    // a legacy parquet manifest row without a bucket is not a commit
    commitRows(spark, dir).filterNot(_.isNullAt(1)).map(_.getInt(1)).toSet

  /** Rows of every commit of the table, summed from the commit log on the
    * driver (rows without a `row_count` add nothing).
    */
  def committedRowCount(spark: SparkSession, dir: String): Long =
    commitRows(spark, dir).filterNot(_.isNullAt(2)).map(_.getLong(2)).sum

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
    // never Spark jobs — see [[commitRows]].
    commit(spark, dir, runId, pendingBuckets, stats, wallMs, bucketsPerJob,
      Some(df.schema), failBeforeBucket)
  }

  /** Read the committed table back. Snapshot-consistent: only buckets with a
    * manifest row are visible (data written by a crashed run without its
    * manifest commit is invisible until resume rewrites it) — partition
    * pruning on `__bucket` keeps the filter scan-level. The scan uses the
    * data schema recorded with the newest commit, so no Spark job runs
    * before an action and a table whose committed buckets are all empty
    * still reads with its columns; only a table with commit lines written
    * before the schema was recorded infers it from the Parquet footers.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val commits = commitRows(spark, dir).filterNot(_.isNullAt(1))
    // a run killed before ANY commit leaves no data/ at all — the snapshot
    // contract says "empty", not AnalysisException
    val (fs, dataPath) = fsOf(s"$dir/data", Some(spark))
    if (commits.isEmpty || !fs.exists(dataPath))
      return spark.emptyDataFrame
    val reader =
      if (commits.exists(_.isNullAt(6))) spark.read
      else {
        val newest = commits.maxBy(r => if (r.isNullAt(5)) Long.MinValue else r.getLong(5))
        spark.read.schema(DataType.fromJson(newest.getString(6)).asInstanceOf[StructType]
          .add("__bucket", IntegerType))
      }
    reader.parquet(s"$dir/data")
      .where(col("__bucket").isin(commits.map(_.getInt(1)).distinct: _*))
      .drop("__bucket")
  }

  def clear(dir: String): Unit = {
    val (fs, p) = fsOf(dir, SparkSession.getActiveSession)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** Versioned snapshot write — the time-travel side of the Iceberg-style
    * layout. Where [[writeResumable]] REWRITES bucket directories in place
    * (one live version), each `writeVersioned` run appends an immutable
    * `data/__run=<runId>/__bucket=N/` tree and commits manifest rows after
    * the data is durable, so every run remains readable forever and
    * [[readAt]] reconstructs the table AS OF any run: per bucket, the
    * newest committed write at-or-before the requested snapshot wins —
    * bucket-granularity overwrite semantics, exactly Iceberg's
    * copy-on-write partition overwrite with the manifest log as the
    * snapshot lineage.
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
                     bucketsPerJob: Int = 64): Seq[BucketManifest] =
    writeRunTree(df, bucketOf, nBuckets, dir, "data", runId, bucketsPerJob)

  private def writeRunTree(df: DataFrame,
                           bucketOf: org.apache.spark.sql.Column,
                           nBuckets: Int, dir: String, sub: String,
                           runId: String,
                           bucketsPerJob: Int): Seq[BucketManifest] = {
    require(!runId.contains("=") && !runId.contains("/"), s"bad runId: $runId")
    val t0 = System.nanoTime()
    val stats = appendRun(df
      .withColumn("__bucket", pmod(bucketOf.cast("long"), lit(nBuckets)).cast("int"))
      .withColumn("__run", lit(runId)), nBuckets, s"$dir/$sub")
    val wallMs = ((System.nanoTime() - t0) / 1000000) /
      math.max(1, stats.size)
    commit(df.sparkSession, dir, runId, stats.keys.toSeq.sorted, stats, wallMs,
      bucketsPerJob, Some(df.schema))
  }

  /** Append `frame` — rows with `__run` and a `__bucket` in `[0, nBuckets)`
    * — as a run tree under `path`, bucket `b` written by task `b`, and
    * return the [[countedWrite]] stats of the buckets it holds rows for.
    */
  private def appendRun(frame: DataFrame, nBuckets: Int,
                        path: String): Map[Int, (Long, Long)] =
    countedWrite(frame.repartitionById(nBuckets, col("__bucket")), nBuckets, "__run", "__bucket")(
      _.mode("append").parquet(path))

  /** Time-travel read: the table AS OF the last run in `runOrder`. For each
    * bucket the newest run in `runOrder` (caller-supplied commit order —
    * the snapshot lineage) holding a committed manifest row for it wins;
    * buckets no run in the prefix wrote are absent. The winner set is
    * resolved from the commit log (≤ runs × buckets rows — driver-bounded
    * by the manifest contract, never by data size) and pushed down as
    * `__run`/`__bucket` partition-literal disjunctions, so the scan touches
    * exactly the winning partition directories.
    */
  /** @param mergeSchema resolve the union of the run trees' schemas by
    *                     name (Iceberg-style schema evolution: a run that
    *                     ADDED columns still reads with older runs; columns
    *                     absent in an old run surface as nulls). Off by
    *                     default — it costs a footer sweep; a real catalog
    *                     would pin the table schema instead.
    */
  def readAt(spark: SparkSession, dir: String, runOrder: Seq[String],
             mergeSchema: Boolean = false): DataFrame = {
    val wins = runIds(lineageWinners(spark, dir, runOrder))
    if (wins.isEmpty) return spark.emptyDataFrame
    readWinners(spark, dir, wins, mergeSchema)
  }

  /** The rows of each bucket's winning run (bucket → run), pushed down as
    * `__run`/`__bucket` partition-literal disjunctions, so the scan touches
    * exactly the winning partition directories.
    */
  private def readWinners(spark: SparkSession, dir: String, wins: Map[Int, String],
                          mergeSchema: Boolean = false): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(s"$dir/data")
      .where(partitionPred(wins))
      .drop("__run", "__bucket")

  /** `(__run = r AND __bucket IN (...)) OR ...` over a bucket → run map. */
  private def partitionPred(wins: Map[Int, String]): org.apache.spark.sql.Column =
    wins.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (run, bs) =>
      col("__run") === lit(run) && col("__bucket").isin(bs.map(_._1).sorted: _*)
    }.reduce(_ || _)

  /** Rewrite refused: the compacted run's stats differ from the winning
    * manifests — either the store was corrupted or a concurrent writer
    * moved a bucket's winner mid-compaction. Nothing was committed.
    */
  final class CompactionIntegrityViolation(msg: String)
      extends RuntimeException(msg)

  /** COMPACTION (lakehouse OPTIMIZE) on the versioned store — copy-on-write
    * consolidation: read the CURRENT winners of `runOrder` (the same
    * newest-committed-run-per-bucket resolution as [[readAt]]), rewrite
    * them as ONE new immutable run (`runId`) with one file per bucket, and
    * commit its manifest rows only after validating the rewrite against
    * the commit log. After compaction, `readAt(runOrder :+ runId)` resolves
    * every bucket to the single compacted run — one partition directory
    * per bucket instead of winners scattered across the whole run lineage —
    * while every PRE-compaction snapshot stays readable unchanged (the old
    * run trees are immutable; retention/GC of superseded runs is a separate
    * policy decision, exactly as in Iceberg's `expire_snapshots`).
    *
    * Integrity is part of the protocol, not a hope: the rewritten run's
    * per-bucket `(row_count, checksum)` — counted by the tasks that write
    * its files, over exactly the rows they wrote — must equal the winning
    * manifests' values; any difference throws
    * [[CompactionIntegrityViolation]] BEFORE the manifest commit, leaving
    * the store exactly as it was (the half-written run tree is invisible:
    * no manifest row ⇒ no reader lists it — the same crash-atomicity
    * argument as writeResumable's kill contract).
    *
    * Plan shape: winner resolution is driver-bounded by the commit log
    * (≤ runs × buckets rows); the data path is ONE scan of exactly the
    * winning partition directories (partition-literal pushdown) + one
    * bucket-aligned repartition + one append — no shuffle beyond the
    * write alignment, work proportional to the LIVE table, never the
    * lineage.
    */
  def compactVersioned(spark: SparkSession, dir: String,
                       runOrder: Seq[String],
                       runId: String): Seq[BucketManifest] = {
    require(!runId.contains("=") && !runId.contains("/"), s"bad runId: $runId")
    val t0 = System.nanoTime()
    // newest committed run per bucket: the content contract to preserve
    val winner = winnerStats(spark, dir, runOrder)
    if (winner.isEmpty) return Seq.empty
    rewriteChecked(spark, dir, runId, winner, "winning", t0)
  }

  /** Per bucket, the newest committed run of `order` with the row count and
    * checksum its manifest records: bucket → (run, row_count, checksum).
    */
  private def winnerStats(spark: SparkSession, dir: String,
                          order: Seq[String]): Map[Int, (String, Long, Long)] =
    lineageWinners(spark, dir, order).map { case (b, r) =>
      b -> ((r.getString(0), r.getLong(2), r.getLong(3)))
    }

  /** Rewrite the partitions `want` names (bucket → (run, row_count,
    * checksum)) as the new run `runId`, then commit them — but only if each
    * bucket's counted stats equal the ones in `want`; any difference throws
    * [[CompactionIntegrityViolation]] before anything commits.
    */
  private def rewriteChecked(spark: SparkSession, dir: String, runId: String,
                             want: Map[Int, (String, Long, Long)], source: String,
                             t0: Long): Seq[BucketManifest] = {
    val source = spark.read.parquet(s"$dir/data")
      .where(partitionPred(want.map { case (b, (run, _, _)) => b -> run }))
    val stats = appendRun(source.drop("__run").withColumn("__run", lit(runId)),
      want.keys.max + 1, s"$dir/data")
    want.foreach { case (b, (_, n, c)) =>
      val (wn, wc) = stats.getOrElse(b, (0L, 0L))
      if (wn != n || wc != c)
        throw new CompactionIntegrityViolation(
          s"bucket $b rewrote to (rows=$wn, checksum=$wc) " +
            s"but the $source manifest says (rows=$n, checksum=$c)")
    }
    val wallMs = ((System.nanoTime() - t0) / 1000000) / want.size
    commit(spark, dir, runId, want.keys.toSeq.sorted, stats, wallMs, 64,
      Some(source.drop("__run", "__bucket").schema))
  }

  /** Incremental read between two snapshot lineages — the CDC view of the
    * versioned store: exactly the rows of buckets whose WINNER differs
    * between `oldOrder` and `newOrder` (changed or newly written), read
    * from the new lineage's winners. An incremental consumer (index
    * refresh, downstream materialization) processes this delta instead of
    * re-reading the table — work proportional to the CHANGE, never the
    * table; Iceberg's incremental scan between snapshots.
    *
    * Bucket granularity is the store's write granularity, so the delta is
    * exact at the protocol level: a bucket whose winner is unchanged
    * cannot contain changed rows (runs are immutable). Resolution is
    * driver-bounded by the commit log; the data path is one partition-
    * pruned scan of only the changed partitions.
    */
  def readDelta(spark: SparkSession, dir: String, oldOrder: Seq[String],
                newOrder: Seq[String]): DataFrame = {
    val ow = runIds(lineageWinners(spark, dir, oldOrder))
    val changed = runIds(lineageWinners(spark, dir, newOrder)).filter { case (b, run) =>
      !ow.get(b).contains(run)
    }
    // empty delta keeps the data schema (a consumer unions deltas blindly)
    if (changed.isEmpty)
      return spark.read.parquet(s"$dir/data").where(lit(false)).drop("__run", "__bucket")
    readWinners(spark, dir, changed)
  }

  /** RESTORE — Delta's `RESTORE TABLE ... TO VERSION` / Iceberg's
    * rollback, expressed as a NEW COMMIT on the versioned store (the
    * lakehouse contract: a rollback never deletes history — every
    * post-restore snapshot stays time-travelable, and the restore itself
    * is one more auditable run in the lineage): for every bucket whose
    * winner under `currentOrder` differs from its winner under
    * `targetOrder`, re-assert the TARGET content as run `runId`; buckets
    * created after the target (present in current, absent in target) get a
    * zero-row manifest tombstone so they resolve to the restore run and
    * read empty. After this, `readAt(currentOrder :+ runId)` equals
    * `readAt(targetOrder)` bucket-for-bucket.
    *
    * Integrity mirrors [[compactVersioned]]: the rewritten buckets'
    * per-bucket (row_count, checksum), counted by the tasks that write them,
    * must equal the TARGET winners' manifest values before anything commits —
    * a mismatch throws and leaves the store untouched (the orphan run tree
    * is invisible without manifest rows).
    *
    * Plan shape: winner diff is driver-bounded by the commit log; the data
    * path scans exactly the to-restore buckets' target partitions
    * (partition-literal pushdown) + one bucket-aligned append — work
    * proportional to the CHANGE since the target, never the table.
    */
  def restoreVersioned(spark: SparkSession, dir: String,
                       currentOrder: Seq[String], targetOrder: Seq[String],
                       runId: String): Seq[BucketManifest] = {
    require(!runId.contains("=") && !runId.contains("/"), s"bad runId: $runId")
    val t0 = System.nanoTime()
    val cur = winnerStats(spark, dir, currentOrder)
    val tgt = winnerStats(spark, dir, targetOrder)
    // buckets whose content must change: different winner, or vanished
    val rewrite = tgt.filter { case (b, (run, _, _)) =>
      !cur.get(b).exists(_._1 == run)
    }
    val tombstone = (cur.keySet -- tgt.keySet).toSeq.sorted
    val restored =
      if (rewrite.isEmpty) Seq.empty
      else rewriteChecked(spark, dir, runId, rewrite, "target", t0)
    // no data files: a zero-row manifest makes the restore run the bucket's
    // winner, and the partition-pruned scan reads nothing
    restored ++ commit(spark, dir, runId, tombstone, Map.empty, 0L, 64, None)
  }

  /** AS OF TIMESTAMP read — Iceberg's `FOR TIMESTAMP AS OF` on the
    * versioned store: per bucket the newest manifest row with
    * `committed_at <= cutoffMs` wins (ties broken by run_id, so the read
    * is a pure function of the commit log), resolved driver-side and
    * pushed down as the same partition-literal pruning as [[readAt]].
    * Where [[readAt]] takes an explicit lineage, this derives it from the
    * commit timestamps the protocol already records — the "what did the
    * table look like at 3pm" audit read.
    */
  def readAsOf(spark: SparkSession, dir: String, cutoffMs: Long,
               mergeSchema: Boolean = false): DataFrame = {
    val wins = winners(spark, dir) { r =>
      if (r.isNullAt(5) || r.getLong(5) > cutoffMs) None
      else Some((r.getLong(5), r.getString(0)))
    }
    if (wins.isEmpty) return spark.emptyDataFrame
    readWinners(spark, dir, runIds(wins), mergeSchema)
  }

  /** EQUALITY-DELETE vector (merge-on-read DELETE, Iceberg v2 equality
    * deletes / Delta deletion vectors): instead of rewriting the buckets
    * that hold matching rows (the copy-on-write path [[upsertVersioned]]
    * takes), record ONLY the matching keys as a bucketed tombstone run
    * under `dir/deletes`, committed through the SAME crash-atomic
    * manifest protocol as data runs — no manifest row, no visible delete.
    * Write cost is proportional to the DELETED keys, never the table;
    * [[readMor]] applies the tombstones at read time.
    *
    * Delete runs share the commit log with data runs; callers keep the
    * run-id namespaces disjoint (e.g. `d1`, `d2`) and pass data lineage
    * and delete lineage separately to [[readMor]] — the same discipline
    * as Iceberg's separate data/delete manifests.
    *
    * @param pred    rows of the CURRENT snapshot (per `lineage`) matching
    *                this predicate have their keys tombstoned
    * @param keyCols equality-delete key (the tombstone payload)
    */
  def deleteWhere(spark: SparkSession, dir: String, lineage: Seq[String],
                  pred: org.apache.spark.sql.Column, keyCols: Seq[String],
                  bucketOf: org.apache.spark.sql.Column, nBuckets: Int,
                  runId: String): Seq[BucketManifest] = {
    val keys = readAt(spark, dir, lineage)
      .where(pred)
      .select(keyCols.map(col): _*)
      .distinct()
    writeRunTree(keys, bucketOf, nBuckets, dir, "deletes", runId, 64)
  }

  /** Merge-on-read snapshot: the [[readAt]] base minus every key
    * tombstoned by the COMMITTED delete runs in `deleteRuns` — one
    * key-equi LEFT ANTI join (the tombstone side is the distinct deleted
    * key set, orders of magnitude smaller than the table; Catalyst
    * broadcasts it under the threshold and shuffles on the key above it —
    * both are the correct 100 TB shape, and the tombstone trees are
    * bucketed by the same key hash as the data, so a bucket-aligned
    * reader can co-locate the anti-join entirely). Uncommitted delete
    * runs are invisible — the crash-atomicity contract extends to
    * deletes.
    */
  def readMor(spark: SparkSession, dir: String, lineage: Seq[String],
              deleteRuns: Seq[String], keyCols: Seq[String]): DataFrame = {
    val base = readAt(spark, dir, lineage)
    val live = deleteRuns.filter(committedRuns(spark, dir))
    if (live.isEmpty) return base
    val dels = live.map(r => spark.read.parquet(s"$dir/deletes/__run=$r"))
      .reduce(_ unionByName _)
      .select(keyCols.map(col): _*).distinct()
    base.join(dels, keyCols, "left_anti")
  }

  /** ORPHAN-FILE audit (the detection half of Iceberg's
    * remove_orphan_files / Delta VACUUM of untracked files): list every
    * `__run=` tree under the data directory, count its rows, and flag
    * whether ANY committed manifest references it. A crashed writer leaves
    * a complete or partial run tree with no manifest row — invisible to
    * every reader (the crash-atomicity contract) but still billing
    * storage; this audit is what a maintenance job deletes from.
    *
    * The run listing is driver-side FS metadata (exactly like manifest
    * resolution); per-run row counts are Spark jobs.
    *
    * @return (run_id, n_rows, committed)
    */
  def orphanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (fs, dataP) = fsOf(s"$dir/data", Some(spark))
    val runs =
      if (!fs.exists(dataP)) Seq.empty[String]
      else fs.listStatus(dataP).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("__run=")).map(_.stripPrefix("__run=")).sorted
    val committed = committedRuns(spark, dir)
    val rows = runs.map { r =>
      val n = spark.read.parquet(s"$dir/data/__run=$r").count()
      (r, n, committed.contains(r))
    }
    rows.toDF("run_id", "n_rows", "committed")
  }

  /** MERGE INTO (upsert) on the versioned store — Iceberg's copy-on-write
    * merge at the store's bucket granularity: rows of `patch` REPLACE
    * current rows with the same key and new keys are inserted, by
    * rewriting ONLY the buckets the patch touches as one new run.
    *
    * Work is proportional to the PATCH, never the table: the touched
    * bucket set is resolved from the patch (driver-bounded by nBuckets),
    * the current snapshot is read partition-pruned to those buckets
    * ([[readAt]] pushes the winner set as partition literals), and one
    * key-equi full-outer join merges them — patch wins per column.
    * Untouched buckets keep their old winners; `readAt(lineage :+ runId)`
    * sees the merged table.
    *
    * @param patch    full replacement rows (same schema as the table)
    * @param keyCols  merge key — unique per row in both sides
    */
  def upsertVersioned(spark: SparkSession, dir: String, lineage: Seq[String],
                      patch: DataFrame, keyCols: Seq[String],
                      bucketOf: org.apache.spark.sql.Column, nBuckets: Int,
                      runId: String): Seq[BucketManifest] = {
    val bucketExpr = pmod(bucketOf.cast("long"), lit(nBuckets)).cast("int")
    val touched = patch.select(bucketExpr.as("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ nBuckets rows, driver-bounded
    val current = readAt(spark, dir, lineage)
      .where(bucketExpr.isin(touched: _*))
    val dataCols = patch.columns.filterNot(keyCols.contains).toSeq
    val p = patch.select((keyCols.map(col) ++
      dataCols.map(c => col(c).as(s"__p_$c"))): _*)
    val merged = current.join(p, keyCols, "full_outer")
      .select((keyCols.map(col) ++ dataCols.map(c =>
        coalesce(col(s"__p_$c"), col(c)).as(c))): _*)
      .select(patch.columns.map(col).toSeq: _*) // keep the table's column order
    writeVersioned(merged, bucketOf, nBuckets, dir, runId)
  }

  final case class VacuumStats(livePartitions: Int, deletedPartitions: Int,
                               manifestRows: Int)

  /** Retention GC on the versioned store — Iceberg's `expire_snapshots` +
    * `remove_orphan_files` as one policy step: keep exactly the
    * `data/__run=R/__bucket=B` partition directories that at least one
    * RETAINED lineage resolves as a winner (the same
    * newest-committed-run-per-bucket resolution as [[readAt]]), delete
    * every other partition, and compact the commit log to the surviving
    * rows. Every retained snapshot reads back bit-identically (its winners
    * are untouched immutable trees); every non-retained lineage is gone —
    * that is the contract of expiry, storage reclaimed in exchange for
    * history.
    *
    * Crash safety: data partitions are deleted only AFTER the live set is
    * resolved from the durable commit log, and the log compaction appends
    * the rewritten manifest BEFORE removing the old files — a kill between
    * the two leaves duplicate manifest rows, which every reader already
    * resolves to the same winner ([[readAt]], [[committedBuckets]],
    * [[compactVersioned]]); a kill mid-data-delete leaves extra partitions
    * that the next vacuum removes. No window leaves a retained snapshot
    * unreadable.
    *
    * Driver-bounded like the rest of the manifest protocol: the live-set
    * resolution is ≤ runs × buckets commit-log rows, the FS walk is one
    * directory listing per run — never a data scan.
    *
    * @param retain snapshot lineages (each a [[readAt]] `runOrder`) that
    *               must remain readable
    */
  def vacuumVersioned(spark: SparkSession, dir: String,
                      retain: Seq[Seq[String]]): VacuumStats = {
    require(retain.nonEmpty, "vacuum must retain at least one lineage")
    // each row with the data schema recorded beside it, which survives
    val all = commitRows(spark, dir).distinct.map(r => (BucketManifest(r.getString(0),
      r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)), Option(r.getString(6))))
    val live = scala.collection.mutable.Set.empty[(String, Int)]
    retain.foreach { lineage =>
      val idx = lineage.zipWithIndex.toMap
      all.map(_._1).filter(r => idx.contains(r.run_id)).groupBy(_.bucket)
        .foreach { case (b, rs) =>
          live += ((rs.maxBy(r => idx(r.run_id)).run_id, b))
        }
    }
    val (fs, dataDir) = fsOf(s"$dir/data", Some(spark))
    var deleted = 0
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir)
        .filter(_.getPath.getName.startsWith("__run=")).foreach { runSt =>
          val run = runSt.getPath.getName.stripPrefix("__run=")
          fs.listStatus(runSt.getPath)
            .filter(_.getPath.getName.startsWith("__bucket=")).foreach { bSt =>
              val b = bSt.getPath.getName.stripPrefix("__bucket=").toInt
              if (!live.contains((run, b))) {
                fs.delete(bSt.getPath, true); deleted += 1
              }
            }
          if (fs.listStatus(runSt.getPath).isEmpty)
            fs.delete(runSt.getPath, true): Unit
        }
    }
    // log compaction: append the surviving rows first, then drop the old
    // commit files (the crash window only duplicates rows — see scaladoc)
    val liveRows = all.filter { case (r, _) => live.contains((r.run_id, r.bucket)) }
    val (mfs, mdir) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val old =
      if (mfs.exists(mdir))
        mfs.listStatus(mdir).map(_.getPath)
          .filterNot(_.getName.startsWith("."))
      else Array.empty[Path]
    liveRows.groupBy(_._2).foreach { case (schema, rs) =>
      rs.map(_._1).grouped(64).foreach(g => appendManifest(mfs, dir, g, schema))
    }
    old.foreach(p => mfs.delete(p, true): Unit)
    VacuumStats(live.size, deleted, liveRows.length)
  }
}
