package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** One committed bucket of a resumable write: the lineage + row-count metrics
  * row (north rule: "all stages checkpoint per-partition with lineage +
  * row-count metrics to Iceberg metadata tables"). The reference's analog is
  * the request-log flush (src/logRequest.ts:15-30) and periodic cache/S3
  * metrics (src/fetchTileData.ts:35-48, src/s3Fetcher.ts:12-18) — here
  * generalized to a durable commit log that makes the whole job resumable at
  * bucket granularity.
  */
/** @param wall_ms AMORTIZED wall time: the single write+stats job covers all
  *                pending buckets at once (that is the scale design), so its
  *                wall clock is divided evenly across the buckets it
  *                committed — every bucket of one run carries the same value,
  *                and `sum(wall_ms)` over a run reconstructs the run's wall.
  *                It is NOT a per-bucket commit-unit timing; per-bucket cost
  *                attribution would need per-partition write metrics, which
  *                the single-job protocol deliberately trades away.
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
  * filtered out and their directories untouched), (2) per-bucket stats are
  * derived from the durably written files in one scan, (3) manifest rows are
  * appended bucket-group by bucket-group. A crash anywhere before a bucket's
  * manifest append leaves that bucket uncommitted; resume simply rewrites it
  * — exactly-once content, at-least-once effort. Resume = anti-join of all
  * buckets against committed manifest rows (SURVEY.md §2.5's
  * "completed-partitions anti-join").
  *
  * Scale notes (100 TB): buckets are hash buckets over the key column, so
  * bucket count — not input size — bounds the commit-log size. The input is
  * traversed a CONSTANT number of times regardless of bucket count (one
  * write pass + one written-files stats pass): at 1,024 buckets over 100 TB
  * this stays two scans, where a per-bucket job loop would re-scan the input
  * ~1,000 times. `bucketsPerJob` only batches manifest appends (commit
  * granularity vs commit-log write count).
  *
  * All filesystem metadata access goes through Hadoop `FileSystem`, so the
  * layout works on any Spark-supported filesystem (HDFS/S3/local), not just
  * the local disk.
  */
object Checkpoint {

  private val ManifestSchema = StructType.fromDDL("run_id string, bucket int, " +
    "row_count bigint, checksum bigint, wall_ms bigint, committed_at bigint")

  private def hadoopConf(spark: Option[SparkSession]) =
    spark.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(dir: String, spark: Option[SparkSession]): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(hadoopConf(spark)), p)
  }

  private val mapper = new ObjectMapper()

  /** One commit-log line as a manifest row. A line is a commit only if it
    * parses to an object with an integer `bucket`: a torn or hand-edited
    * line must read as "not committed", never crash every later resume.
    * Other fields that are absent or mistyped read as null, as in Spark's
    * JSON source.
    */
  private def manifestRow(line: String): Option[Row] = {
    val n = try mapper.readTree(line) catch { case _: java.io.IOException => null }
    if (n == null || !n.path("bucket").isInt) None
    else {
      def long(f: String): java.lang.Long =
        if (n.path(f).isIntegralNumber && n.path(f).canConvertToLong) n.path(f).asLong() else null
      val runId = if (n.path("run_id").isTextual) n.path("run_id").asText() else null
      Some(Row(runId, n.path("bucket").asInt(), long("row_count"), long("checksum"),
        long("wall_ms"), long("committed_at")))
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
    * are read by Spark and unioned. Without one the frame is a local
    * relation, so the collects of [[committedBuckets]] run no Spark job.
    */
  def manifests(spark: SparkSession, dir: String): DataFrame = {
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
        .filter(_.trim.nonEmpty).flatMap(manifestRow).toList
      finally in.close()
    }
    val local = spark.createDataFrame(rows.asJava, ManifestSchema)
    // pathGlobFilter: a migrated table holds BOTH formats in one directory,
    // and Spark's file listing filters only hidden files, not extensions
    if (files.exists(_.getName.endsWith(".parquet")))
      local.unionAll(spark.read.schema(ManifestSchema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$dir/manifest"))
    else local
  }

  /** Crash-atomic append: write to a hidden .tmp path, sync (where the
    * filesystem supports it), then rename — a kill mid-write leaves only a
    * .tmp file that no reader ever lists, so a torn JSON line can never
    * poison the commit log. Kill-atomic everywhere; power-loss durability
    * additionally needs hsync support from the filesystem (HDFS yes; the
    * local FS treats it as a flush). Rename is atomic on HDFS/local; on S3
    * it is copy+delete — there, pair this layout with an S3-committer-style
    * conditional put, exactly as real table formats do.
    */
  private def appendManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                             rows: Seq[BucketManifest]): Unit = {
    val name = s"commit-${java.util.UUID.randomUUID()}.json"
    val tmp = new Path(s"$dir/manifest/.$name.tmp")
    val fin = new Path(s"$dir/manifest/$name")
    val out = fs.create(tmp, false)
    try {
      rows.foreach { r =>
        // run_id is caller-controlled: escape the JSON string minimally
        val rid = r.run_id.replace("\\", "\\\\").replace("\"", "\\\"")
        out.write((s"""{"run_id":"$rid","bucket":${r.bucket},""" +
          s""""row_count":${r.row_count},"checksum":${r.checksum},""" +
          s""""wall_ms":${r.wall_ms},"committed_at":${r.committed_at}}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
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

  def committedBuckets(spark: SparkSession, dir: String): Set[Int] = {
    import spark.implicits._
    // na.drop: a legacy parquet manifest row without a bucket is not a commit
    manifests(spark, dir).select("bucket").na.drop().as[Int].collect().toSet
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
    import spark.implicits._
    val done = committedBuckets(spark, dir)
    val pendingBuckets = (0 until nBuckets).filterNot(done)
    if (pendingBuckets.isEmpty) return Seq.empty

    val t0 = System.nanoTime()
    val bucketed = df.withColumn("__bucket",
      pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets)).cast("int"))
    // ONE job for every pending bucket: dynamic partition overwrite replaces
    // exactly the touched bucket directories. Input is scanned once however
    // many buckets are pending (the per-bucket-loop alternative re-scans the
    // full input once per bucket group — a scale-killer at high bucket
    // counts). The repartition aligns tasks with bucket directories: without
    // it every map task writes one file per bucket it sees (tasks × buckets
    // small files — 1M files at 1,000 executors × 1,024 buckets, and wall
    // time grows with bucket count, not data size). When buckets < cores, a
    // within-bucket sub-hash spreads each bucket over ~shufflePartitions /
    // buckets tasks so write parallelism stays full; file count stays
    // ~max(buckets, shuffle partitions) in every regime.
    val filtered = bucketed.filter(col("__bucket").isin(pendingBuckets: _*))
    val shufflePar = spark.sessionState.conf.numShufflePartitions
    val spread = math.max(1, shufflePar / math.max(1, pendingBuckets.size))
    val parted =
      if (spread == 1) filtered.repartition(pendingBuckets.size, col("__bucket"))
      else filtered.repartition(pendingBuckets.size * spread, col("__bucket"),
        pmod(xxhash64(keyCols.map(col): _*), lit(spread)))
    parted.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket")
      .parquet(s"$dir/data")

    // stats from the durably written files (validates what is on disk, not
    // what the upstream plan produced): row count + an order-insensitive
    // checksum (sum of masked xxhash64 — mask keeps the ANSI-mode sum far
    // from Long overflow). Explicit schema: with zero rows written (empty
    // pending buckets on tiny inputs) there are no files to infer from.
    val (fs, dataPath) = fsOf(s"$dir/data", Some(spark))
    val stats: Map[Int, (Long, Long)] =
      if (!fs.exists(dataPath)) Map.empty
      else {
        val written = spark.read
          .schema(org.apache.spark.sql.types.StructType(
            df.schema.fields :+
              org.apache.spark.sql.types.StructField("__bucket", IntegerType)))
          .parquet(s"$dir/data")
          .where(col("__bucket").isin(pendingBuckets: _*))
        val dataCols = written.columns.filterNot(_ == "__bucket").sorted
        written.groupBy("__bucket")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(xxhash64(struct(dataCols.map(col).toIndexedSeq: _*))
              .bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("c"))
          .as[(Int, Long, Long)].collect()
          .map { case (b, n, c) => b -> ((n, c)) }.toMap
      }
    // write + stats effort amortized over the buckets it covered
    val wallMs = ((System.nanoTime() - t0) / 1000000) / pendingBuckets.size

    // durable commits: manifest rows appended only after the data write,
    // bucket-group by bucket-group (bucketsPerJob trades commit granularity
    // against commit-log file count). Appends are direct FileSystem writes,
    // never Spark jobs — see [[manifests]].
    val (mfs, _) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val out = Seq.newBuilder[BucketManifest]
    var ordinal = 0
    pendingBuckets.grouped(math.max(1, bucketsPerJob)).foreach { group =>
      if (failBeforeBucket >= 0 && ordinal >= failBeforeBucket)
        throw new InjectedFailure(ordinal)
      val rows: Seq[BucketManifest] = group.map { b =>
        val (n, c) = stats.getOrElse(b, (0L, 0L))
        BucketManifest(runId, b, n, c, wallMs, System.currentTimeMillis())
      }
      appendManifest(mfs, dir, rows)
      out ++= rows
      ordinal += group.size
    }
    out.result()
  }

  /** Read the committed table back. Snapshot-consistent: only buckets with a
    * manifest row are visible (data written by a crashed run without its
    * manifest commit is invisible until resume rewrites it) — partition
    * pruning on `__bucket` keeps the filter scan-level.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val committed = committedBuckets(spark, dir).toSeq
    // a run killed before ANY commit leaves no data/ at all — the snapshot
    // contract says "empty", not AnalysisException
    val (fs, dataPath) = fsOf(s"$dir/data", Some(spark))
    if (committed.isEmpty || !fs.exists(dataPath))
      return spark.emptyDataFrame
    spark.read.parquet(s"$dir/data")
      .where(col("__bucket").isin(committed: _*))
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
    val spark = df.sparkSession
    import spark.implicits._
    require(!runId.contains("=") && !runId.contains("/"), s"bad runId: $runId")
    val t0 = System.nanoTime()
    val bucketed = df
      .withColumn("__bucket", pmod(bucketOf.cast("long"), lit(nBuckets)).cast("int"))
      .withColumn("__run", lit(runId))
    bucketed.repartition(nBuckets, col("__bucket"))
      .write.mode("append")
      .partitionBy("__run", "__bucket")
      .parquet(s"$dir/$sub")
    // stats from the durably written run tree (same contract as
    // writeResumable: validate disk, not the upstream plan)
    val written = spark.read
      .schema(org.apache.spark.sql.types.StructType(
        df.schema.fields :+
          org.apache.spark.sql.types.StructField("__bucket", IntegerType)))
      .parquet(s"$dir/$sub/__run=$runId")
    val dataCols = written.columns.filterNot(_ == "__bucket").sorted
    val stats = written.groupBy("__bucket")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(struct(dataCols.map(col).toIndexedSeq: _*))
          .bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("c"))
      .as[(Int, Long, Long)].collect()
      .map { case (b, n, c) => b -> ((n, c)) }.toMap
    val wallMs = ((System.nanoTime() - t0) / 1000000) /
      math.max(1, stats.size)
    val (mfs, _) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val out = Seq.newBuilder[BucketManifest]
    stats.keys.toSeq.sorted.grouped(math.max(1, bucketsPerJob)).foreach { g =>
      val rows = g.map { b =>
        val (n, c) = stats(b)
        BucketManifest(runId, b, n, c, wallMs, System.currentTimeMillis())
      }
      appendManifest(mfs, dir, rows)
      out ++= rows
    }
    out.result()
  }

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
    val idx = runOrder.zipWithIndex.toMap
    val wins = manifests(spark, dir)
      .select("run_id", "bucket").distinct()
      .collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .filter { case (r, _) => idx.contains(r) }
      .groupBy(_._2).toSeq // toSeq BEFORE map: mapping the Map would
      // collapse buckets sharing a winner index into one key
      .map { case (b, rs) => (rs.map(r => idx(r._1)).max, b) }
    if (wins.isEmpty) return spark.emptyDataFrame
    val byRun = wins.groupBy(_._1).toSeq.sortBy(_._1)
    val pred = byRun.map { case (ri, bs) =>
      col("__run") === lit(runOrder(ri)) &&
        col("__bucket").isin(bs.map(_._2): _*)
    }.reduce(_ || _)
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(s"$dir/data")
      .where(pred)
      .drop("__run", "__bucket")
  }

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
    * per-bucket `(row_count, checksum)` — computed from the durably written
    * files, the engine-wide validate-disk-not-plan contract — must equal
    * the winning manifests' values; any difference throws
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
    import spark.implicits._
    val t0 = System.nanoTime()
    val idx = runOrder.zipWithIndex.toMap
    val mrows = manifests(spark, dir)
      .select("run_id", "bucket", "row_count", "checksum").distinct()
      .as[(String, Int, Long, Long)].collect()
      .filter { case (r, _, _, _) => idx.contains(r) }
    if (mrows.isEmpty) return Seq.empty
    // newest committed run per bucket: the content contract to preserve
    val winner: Map[Int, (String, Long, Long)] =
      mrows.groupBy(_._2).map { case (b, rs) =>
        val w = rs.maxBy(r => idx(r._1))
        b -> ((w._1, w._3, w._4))
      }
    val pred = winner.toSeq.groupBy(_._2._1).map { case (r, bs) =>
      col("__run") === lit(r) && col("__bucket").isin(bs.map(_._1): _*)
    }.reduce(_ || _)
    val nBuckets = winner.keys.max + 1
    spark.read.parquet(s"$dir/data").where(pred).drop("__run")
      .withColumn("__run", lit(runId))
      .repartition(nBuckets, col("__bucket"))
      .write.mode("append")
      .partitionBy("__run", "__bucket")
      .parquet(s"$dir/data")
    val written = spark.read.parquet(s"$dir/data/__run=$runId")
    val dataCols = written.columns.filterNot(_ == "__bucket").sorted
    val stats = written.groupBy("__bucket")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(struct(dataCols.map(col).toIndexedSeq: _*))
          .bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("c"))
      .as[(Int, Long, Long)].collect()
      .map { case (b, n, c) => b -> ((n, c)) }.toMap
    winner.foreach { case (b, (_, n, c)) =>
      val (wn, wc) = stats.getOrElse(b, (0L, 0L))
      if (wn != n || wc != c)
        throw new CompactionIntegrityViolation(
          s"bucket $b rewrote to (rows=$wn, checksum=$wc) " +
            s"but the winning manifest says (rows=$n, checksum=$c)")
    }
    val wallMs = ((System.nanoTime() - t0) / 1000000) /
      math.max(1, winner.size)
    val (mfs, _) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val out = Seq.newBuilder[BucketManifest]
    winner.keys.toSeq.sorted.grouped(64).foreach { g =>
      val rows = g.map { b =>
        val (n, c) = stats(b)
        BucketManifest(runId, b, n, c, wallMs, System.currentTimeMillis())
      }
      appendManifest(mfs, dir, rows)
      out ++= rows
    }
    out.result()
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
    def winners(order: Seq[String]): Map[Int, String] = {
      val idx = order.zipWithIndex.toMap
      manifests(spark, dir).select("run_id", "bucket").distinct().collect()
        .map(r => (r.getString(0), r.getInt(1)))
        .filter { case (run, _) => idx.contains(run) }
        .groupBy(_._2).map { case (b, rs) =>
          b -> rs.maxBy(r => idx(r._1))._1
        }
    }
    val ow = winners(oldOrder)
    val changed = winners(newOrder).filter { case (b, run) =>
      !ow.get(b).contains(run)
    }
    val base = spark.read.parquet(s"$dir/data")
    // empty delta keeps the data schema (a consumer unions deltas blindly)
    if (changed.isEmpty) return base.where(lit(false)).drop("__run", "__bucket")
    val pred = changed.toSeq.groupBy(_._2).map { case (run, bs) =>
      col("__run") === lit(run) && col("__bucket").isin(bs.map(_._1): _*)
    }.reduce(_ || _)
    base.where(pred).drop("__run", "__bucket")
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
    * per-bucket (row_count, checksum) from the durably written files must
    * equal the TARGET winners' manifest values before anything commits —
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
    import spark.implicits._
    val t0 = System.nanoTime()
    val mrows = manifests(spark, dir)
      .select("run_id", "bucket", "row_count", "checksum").distinct()
      .as[(String, Int, Long, Long)].collect()
    def winners(order: Seq[String]): Map[Int, (String, Long, Long)] = {
      val idx = order.zipWithIndex.toMap
      mrows.filter { case (r, _, _, _) => idx.contains(r) }
        .groupBy(_._2).map { case (b, rs) =>
          val w = rs.maxBy(r => idx(r._1))
          b -> ((w._1, w._3, w._4))
        }
    }
    val cur = winners(currentOrder)
    val tgt = winners(targetOrder)
    // buckets whose content must change: different winner, or vanished
    val rewrite = tgt.filter { case (b, (run, _, _)) =>
      !cur.get(b).exists(_._1 == run)
    }
    val tombstone = (cur.keySet -- tgt.keySet).toSeq.sorted
    val (mfs, _) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val out = Seq.newBuilder[BucketManifest]
    if (rewrite.nonEmpty) {
      val pred = rewrite.toSeq.groupBy(_._2._1).map { case (r, bs) =>
        col("__run") === lit(r) && col("__bucket").isin(bs.map(_._1): _*)
      }.reduce(_ || _)
      val nBuckets = rewrite.keys.max + 1
      spark.read.parquet(s"$dir/data").where(pred).drop("__run")
        .withColumn("__run", lit(runId))
        .repartition(nBuckets, col("__bucket"))
        .write.mode("append")
        .partitionBy("__run", "__bucket")
        .parquet(s"$dir/data")
      val written = spark.read.parquet(s"$dir/data/__run=$runId")
      val dataCols = written.columns.filterNot(_ == "__bucket").sorted
      val stats = written.groupBy("__bucket")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(xxhash64(struct(dataCols.map(col).toIndexedSeq: _*))
            .bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("c"))
        .as[(Int, Long, Long)].collect()
        .map { case (b, n, c) => b -> ((n, c)) }.toMap
      rewrite.foreach { case (b, (_, n, c)) =>
        val (wn, wc) = stats.getOrElse(b, (0L, 0L))
        if (wn != n || wc != c)
          throw new CompactionIntegrityViolation(
            s"restore bucket $b rewrote to (rows=$wn, checksum=$wc) " +
              s"but the target manifest says (rows=$n, checksum=$c)")
      }
      val wallMs = ((System.nanoTime() - t0) / 1000000) /
        math.max(1, rewrite.size)
      rewrite.keys.toSeq.sorted.grouped(64).foreach { g =>
        val rows = g.map { b =>
          val (n, c) = stats(b)
          BucketManifest(runId, b, n, c, wallMs, System.currentTimeMillis())
        }
        appendManifest(mfs, dir, rows)
        out ++= rows
      }
    }
    if (tombstone.nonEmpty) {
      // no data files: a zero-row manifest makes the restore run the
      // bucket's winner, and the partition-pruned scan reads nothing
      tombstone.grouped(64).foreach { g =>
        val rows = g.map(b =>
          BucketManifest(runId, b, 0L, 0L, 0L, System.currentTimeMillis()))
        appendManifest(mfs, dir, rows)
        out ++= rows
      }
    }
    out.result()
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
    val wins = manifests(spark, dir)
      .select("run_id", "bucket", "committed_at")
      .where(col("committed_at") <= cutoffMs)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._2).toSeq
      .map { case (b, rs) => (rs.maxBy(r => (r._3, r._1))._1, b) }
    if (wins.isEmpty) return spark.emptyDataFrame
    val pred = wins.groupBy(_._1).toSeq.sortBy(_._1).map { case (run, bs) =>
      col("__run") === lit(run) && col("__bucket").isin(bs.map(_._2): _*)
    }.reduce(_ || _)
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(s"$dir/data")
      .where(pred)
      .drop("__run", "__bucket")
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
    val committed = manifests(spark, dir).select("run_id").distinct()
      .collect().map(_.getString(0)).toSet
    val live = deleteRuns.filter(committed)
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
    val committed = manifests(spark, dir).select("run_id").distinct()
      .collect().map(_.getString(0)).toSet
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
    * `distinct()`s away ([[readAt]], [[committedBuckets]],
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
    import spark.implicits._
    val all = manifests(spark, dir).distinct()
      .as[BucketManifest].collect()
    val live = scala.collection.mutable.Set.empty[(String, Int)]
    retain.foreach { lineage =>
      val idx = lineage.zipWithIndex.toMap
      all.filter(r => idx.contains(r.run_id)).groupBy(_.bucket)
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
    val liveRows = all.filter(r => live.contains((r.run_id, r.bucket)))
    val (mfs, mdir) = fsOf(s"$dir/manifest", Some(spark))
    cleanTmpManifests(mfs, dir)
    val old =
      if (mfs.exists(mdir))
        mfs.listStatus(mdir).map(_.getPath)
          .filterNot(_.getName.startsWith("."))
      else Array.empty[Path]
    liveRows.grouped(64).foreach(g => appendManifest(mfs, dir, g.toSeq))
    old.foreach(p => mfs.delete(p, true): Unit)
    VacuumStats(live.size, deleted, liveRows.length)
  }
}
