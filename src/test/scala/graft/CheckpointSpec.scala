package graft

import graft.table.Checkpoint
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Kill/resume semantics of the per-bucket checkpointed write (north rule:
  * partition-granular resume with lineage + row-count metrics).
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll with TimeLimits {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_test_$tag"
    Checkpoint.clear(d); d
  }

  private def sampleDf = {
    import spark.implicits._
    (0L until 5000L).map(i => (i, s"v$i", i % 97)).toDF("k", "s", "g")
  }

  test("kill mid-run, resume, final table identical to a direct write") {
    import spark.implicits._
    val dir = freshDir("resume")
    val df = sampleDf
    intercept[Checkpoint.InjectedFailure] {
      Checkpoint.writeResumable(df, Seq("k"), nBuckets = 8, dir, "run1",
        failBeforeBucket = 3)
    }
    // crash left exactly 3 committed buckets; read() sees only those
    val committedAfterCrash = Checkpoint.committedBuckets(spark, dir)
    assert(committedAfterCrash.size == 3)
    val partial = Checkpoint.read(spark, dir)
    assert(partial.count() < 5000)

    // resume under a new run id: completes the remaining 5 buckets only
    val resumed = Checkpoint.writeResumable(df, Seq("k"), 8, dir, "run2")
    assert(resumed.size == 5)
    assert(resumed.map(_.bucket).toSet == (0 until 8).toSet.diff(committedAfterCrash))

    val back = Checkpoint.read(spark, dir)
    assert(back.count() == 5000)
    assert(back.select("k", "s", "g").as[(Long, String, Long)].collect().toSet ==
      df.as[(Long, String, Long)].collect().toSet)

    // manifest: one row per bucket, counts sum to the table size, and the
    // first-run rows survive untouched (their run_id stays run1)
    val m = Checkpoint.manifests(spark, dir)
    assert(m.count() == 8)
    assert(m.agg(sum("row_count")).as[Long].head() == 5000L)
    assert(m.filter(col("run_id") === "run1").count() == 3)
    assert(m.filter(col("run_id") === "run2").count() == 5)
  }

  test("rerun on a complete table is a no-op") {
    val dir = freshDir("noop")
    val df = sampleDf
    assert(Checkpoint.writeResumable(df, Seq("k"), 4, dir, "a").size == 4)
    assert(Checkpoint.writeResumable(df, Seq("k"), 4, dir, "b").isEmpty)
    assert(Checkpoint.read(spark, dir).count() == 5000)
  }

  test("grouped commits (bucketsPerJob > 1) keep per-bucket manifests") {
    import spark.implicits._
    val dir = freshDir("grouped")
    val ms = Checkpoint.writeResumable(sampleDf, Seq("k"), 8, dir, "g",
      bucketsPerJob = 3)
    assert(ms.size == 8)
    assert(Checkpoint.manifests(spark, dir).select("bucket").as[Int]
      .collect().toSet == (0 until 8).toSet)
    assert(Checkpoint.read(spark, dir).count() == 5000)
  }

  /** Write `lines` verbatim as one file of `dir`'s commit log. */
  private def forgeCommit(dir: String, name: String, lines: String*): Unit = {
    val m = java.nio.file.Paths.get(s"$dir/manifest")
    java.nio.file.Files.createDirectories(m)
    java.nio.file.Files.writeString(m.resolve(name), lines.map(_ + "\n").mkString)
  }

  /** The `schema` field of a forged commit line: an empty struct's JSON. */
  private val schemaField = """"schema":"{\"type\":\"struct\",\"fields\":[]}""""

  test("commit log: malformed lines are not commits; valid lines beside them count") {
    import spark.implicits._
    val dir = freshDir("malformed")
    forgeCommit(dir, "commit-forged.json",
      s"""{"run_id":"r","bucket":0,"row_count":5,"checksum":1,"wall_ms":2,"committed_at":3,$schemaField}""",
      "this is not json",
      """{"run_id":"r","bucket":""",
      s"""{"run_id":"r","bucket":"x","row_count":7,"checksum":1,"wall_ms":2,"committed_at":3,$schemaField}""",
      // every field but the schema
      """{"run_id":"r","bucket":4,"row_count":7,"checksum":1,"wall_ms":2,"committed_at":3}""",
      s"""{"run_id":"r","bucket":2,"row_count":6,"checksum":1,"wall_ms":2,"committed_at":3,$schemaField}""")
    // a .parquet commit file, as the parquet-append commit protocol wrote them
    Seq(("legacy", 6, 1L, 2L, 3L, 4L))
      .toDF("run_id", "bucket", "row_count", "checksum", "wall_ms", "committed_at")
      .coalesce(1).write.mode("append").parquet(s"$dir/manifest")
    assert(Checkpoint.committedBuckets(spark, dir) == Set(0, 2))
  }

  test("commit log: a leftover hidden .tmp commit file is ignored") {
    val dir = freshDir("hiddentmp")
    forgeCommit(dir, "commit-a.json",
      s"""{"run_id":"r","bucket":1,"row_count":5,"checksum":1,"wall_ms":2,"committed_at":3,$schemaField}""")
    // an append killed before its rename
    forgeCommit(dir, ".commit-b.json.tmp",
      s"""{"run_id":"r","bucket":7,"row_count":5,"checksum":1,"wall_ms":2,"committed_at":3,$schemaField}""")
    assert(Checkpoint.committedBuckets(spark, dir) == Set(1))
  }

  test("commit log: a table without a manifest directory has no committed buckets") {
    val dir = freshDir("nomanifest")
    assert(Checkpoint.committedBuckets(spark, dir).isEmpty)
    new java.io.File(s"$dir/data").mkdirs()
    assert(Checkpoint.committedBuckets(spark, dir).isEmpty)
    assert(Checkpoint.manifests(spark, dir).count() == 0)
  }

  test("commit log: manifests equals Spark's JSON read of the log on a multi-run table") {
    import spark.implicits._
    val dir = freshDir("manifestrows")
    val base = (0 until 600).map(i => (i.toLong, i * 3L)).toDF("k", "v")
    Checkpoint.writeVersioned(base, col("k") % 6, 6, dir, "r1", bucketsPerJob = 4)
    Checkpoint.writeVersioned(base.filter(col("k") % 6 < 2), col("k") % 6, 6, dir, "r2")
    Checkpoint.writeVersioned(base.filter(col("k") % 6 === 5), col("k") % 6, 6, dir, "r3",
      bucketsPerJob = 1)
    // the commit-log read as Spark's JSON source does it
    val oracle = spark.read
      .schema("run_id string, bucket int, row_count bigint, checksum bigint, " +
        "wall_ms bigint, committed_at bigint")
      .option("pathGlobFilter", "*.json").json(s"$dir/manifest")
    val got = Checkpoint.manifests(spark, dir)
    assert(got.columns.toSeq == oracle.columns.toSeq)
    assert(got.schema.map(f => (f.name, f.dataType)) == oracle.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    assert(rows(got).size == 6 + 2 + 1)
    assert(rows(got) == rows(oracle))
  }

  test("checksum detects content drift between manifest and recomputation") {
    import spark.implicits._
    // the per-bucket stats over the files on disk, as the writers computed
    // them before they counted inside the write
    def recompute(path: String): Map[Int, (Long, Long)] = {
      val again = spark.read.parquet(path)
      val dataCols = again.columns.filterNot(_ == "__bucket").sorted
      again.groupBy("__bucket")
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(struct(dataCols.map(col): _*)).bitwiseAND(lit(0xFFFFFFFFL))).as("c"))
        .as[(Int, Long, Long)].collect().map { case (b, n, c) => (b, (n, c)) }.toMap
    }
    def committed(dir: String, run: String): Map[Int, (Long, Long)] =
      Checkpoint.manifests(spark, dir).filter(col("run_id") === run)
        .select("bucket", "row_count", "checksum").as[(Int, Long, Long)]
        .collect().map { case (b, n, c) => (b, (n, c)) }.toMap
    def assertMatches(dir: String, run: String, path: String): Unit = {
      val m = committed(dir, run)
      val re = recompute(path)
      assert(m.nonEmpty && re.keySet.subsetOf(m.keySet), s"run $run: $m vs $re")
      m.foreach { case (b, nc) => assert(re.getOrElse(b, (0L, 0L)) == nc, s"run $run bucket $b") }
    }

    val dir = freshDir("checksum")
    Checkpoint.writeResumable(sampleDf, Seq("k"), 4, dir, "c")
    // recompute from the stored table: must agree bucket by bucket
    assert(recompute(s"$dir/data") == committed(dir, "c"))

    val vdir = freshDir("checksum_versioned")
    val base = sampleDf.withColumn("d", col("k") * 0.5)
    Checkpoint.writeVersioned(base, col("k") % 8, 8, vdir, "r1")
    Checkpoint.writeVersioned(base.filter(col("k") % 8 < 3).withColumn("s", upper(col("s"))),
      col("k") % 8, 8, vdir, "r2")
    Checkpoint.writeVersioned(base.filter(col("k") % 8 === 7), col("k") % 8, 8, vdir, "r3")
    for (run <- Seq("r1", "r2", "r3"))
      assertMatches(vdir, run, s"$vdir/data/__run=$run")
  }

  test("in-write stats: empty, filtered-to-empty and sparse inputs commit promptly") {
    import spark.implicits._
    implicit val signaler: Signaler = ThreadSignaler
    def stats(dir: String) = Checkpoint.manifests(spark, dir)
      .select("bucket", "row_count", "checksum").as[(Int, Long, Long)].collect().sorted.toSeq
    failAfter(Span(120, Seconds)) {
      val empty = freshDir("empty_in")
      Checkpoint.writeResumable(
        spark.createDataFrame(new java.util.ArrayList[Row](), sampleDf.schema), Seq("k"), 4, empty, "e")
      assert(stats(empty) == (0 until 4).map(b => (b, 0L, 0L)))
      val filtered = freshDir("filtered_in")
      Checkpoint.writeResumable(sampleDf.filter(col("k") < 0), Seq("k"), 4, filtered, "f")
      assert(stats(filtered) == (0 until 4).map(b => (b, 0L, 0L)))
      // 3 rows over 8 buckets: at least 5 buckets commit (0, 0)
      val sparse = freshDir("sparse_in")
      val three = Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "s", "g")
      Checkpoint.writeResumable(three, Seq("k"), 8, sparse, "s")
      val got = stats(sparse)
      assert(got.map(_._1) == (0 until 8) && got.map(_._2).sum == 3L)
      assert(got.count(_._2 == 0L) >= 5 && got.filter(_._2 == 0L).forall(_._3 == 0L))
      val back = spark.read.parquet(s"$sparse/data")
      val dataCols = back.columns.filterNot(_ == "__bucket").sorted
      val re = back.groupBy("__bucket")
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(struct(dataCols.map(col): _*)).bitwiseAND(lit(0xFFFFFFFFL))).as("c"))
        .as[(Int, Long, Long)].collect().sorted.toSeq
      assert(got.filter(_._2 > 0) == re)
    }
  }

  test("writeVersioned of an empty input commits nothing") {
    val dir = freshDir("empty_versioned")
    assert(Checkpoint.writeVersioned(sampleDf.filter(col("k") < 0), col("k") % 4, 4, dir, "v")
      .isEmpty)
    assert(Checkpoint.manifests(spark, dir).isEmpty)
    assert(Checkpoint.readAt(spark, dir, Seq("v")).isEmpty)
  }

  test("bucketed write: each pending bucket goes to its own write tasks, none of them empty") {
    val shufflePar = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // (buckets, spread): spread = shuffle partitions / pending buckets
    for ((nBuckets, spread) <- Seq((8, 1), (2, shufflePar / 2))) {
      val dir = freshDir(s"route$nBuckets")
      val (_, ev) = Listened(spark.sparkContext) {
        Checkpoint.writeResumable(sampleDf, Seq("k"), nBuckets, dir, "r")
      }
      assertRouted(ev, nBuckets * spread, dir, (0 until nBuckets).map(_ -> spread))
    }
    // a resume routes by ordinal among the pending buckets only
    val dir = freshDir("route_resume")
    intercept[Checkpoint.InjectedFailure] {
      Checkpoint.writeResumable(sampleDf, Seq("k"), 8, dir, "r1", failBeforeBucket = 3)
    }
    val pending = (0 until 8).toSet -- Checkpoint.committedBuckets(spark, dir)
    val (_, ev) = Listened(spark.sparkContext) {
      Checkpoint.writeResumable(sampleDf, Seq("k"), 8, dir, "r2")
    }
    assertRouted(ev, pending.size, dir, (0 until 8).map(_ -> 1))
    assert(Checkpoint.read(spark, dir).count() == 5000)
  }

  /** The write stage (the one stage whose tasks write output records) ran
    * `tasks` tasks, none of which read zero records, and every
    * `__bucket=N` directory holds the given number of data files.
    */
  private def assertRouted(ev: Listened, tasks: Int, dir: String,
                           filesPerBucket: Seq[(Int, Int)]): Unit = {
    val writing = ev.tasks.groupBy(_.stageId)
      .filter(_._2.exists(_.taskMetrics.outputMetrics.recordsWritten > 0))
    assert(writing.size == 1, s"stages writing output: ${writing.keys}")
    val write = writing.values.head
    assert(write.size == tasks, s"${write.size} write tasks, expected $tasks")
    assert(write.forall(recordsRead(_) > 0),
      s"write tasks reading no records: ${write.count(recordsRead(_) == 0)} of ${write.size}")
    filesPerBucket.foreach { case (b, n) =>
      val files = new java.io.File(s"$dir/data/__bucket=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == n, s"bucket $b holds $files files, expected $n")
    }
  }

  private def recordsRead(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Long =
    e.taskMetrics.shuffleReadMetrics.recordsRead

  test("commit log: run ids that need JSON escaping commit and read back equal") {
    import spark.implicits._
    val df = sampleDf.limit(200)
    val ids = Seq("nightly\nrun", "tab\there", "ctl\u0001\u001fx", "quote\"d\\",
      "na\u00efve-\u65e5\u672c-\ud83d\uddfb")
    ids.zipWithIndex.foreach { case (id, i) =>
      val dir = freshDir(s"runid$i")
      assert(Checkpoint.writeResumable(df, Seq("k"), 4, dir, id).size == 4)
      assert(Checkpoint.committedBuckets(spark, dir) == (0 until 4).toSet, s"run id $id")
      assert(Checkpoint.manifests(spark, dir).select("run_id").as[String].collect().toSeq ==
        Seq.fill(4)(id))
      // committed: a rerun has nothing left to write
      assert(Checkpoint.writeResumable(df, Seq("k"), 4, dir, id).isEmpty)
      assert(Checkpoint.read(spark, dir).count() == 200)
    }
  }

  test("read: a table whose committed buckets hold no rows reads empty, with its columns") {
    val dir = freshDir("allempty")
    Checkpoint.writeResumable(sampleDf.filter(col("k") < 0), Seq("k"), 4, dir, "e")
    assert(Checkpoint.committedBuckets(spark, dir) == (0 until 4).toSet)
    val back = Checkpoint.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      sampleDf.schema.map(f => (f.name, f.dataType)))
    assert(back.count() == 0)
  }

  test("read: no Spark job before an action; same schema and rows as the inferred read") {
    import spark.implicits._
    val dir = freshDir("readjobs")
    intercept[Checkpoint.InjectedFailure] {
      Checkpoint.writeResumable(sampleDf, Seq("k"), 8, dir, "r1", failBeforeBucket = 5)
    }
    val (back, ev) = Listened(spark.sparkContext)(Checkpoint.read(spark, dir))
    assert(ev.jobs == 0, s"read launched ${ev.jobs} Spark jobs")
    // the read as it was before the schema was recorded: footer inference
    val committed = Checkpoint.committedBuckets(spark, dir).toSeq
    val oracle = spark.read.parquet(s"$dir/data")
      .where(col("__bucket").isin(committed: _*)).drop("__bucket")
    assert(back.schema == oracle.schema)
    val rows = back.as[(Long, String, Long)].collect().sorted.toSeq
    assert(rows.nonEmpty && rows.size < 5000)
    assert(rows == oracle.as[(Long, String, Long)].collect().sorted.toSeq)
  }

  test("time travel: per-bucket newest-write-wins across three snapshots; pruned scan") {
    import spark.implicits._
    val dir = freshDir("tt")
    val base = (0 until 1200).map(i => (i.toLong, i * 10L)).toDF("k", "v")
    Checkpoint.writeVersioned(base, col("k") % 8, 8, dir, "r1")
    // r2 rewrites buckets 0..2 with v+1; r3 rewrites bucket 1 only with v+2
    Checkpoint.writeVersioned(
      base.filter(col("k") % 8 < 3).withColumn("v", col("v") + 1),
      col("k") % 8, 8, dir, "r2")
    Checkpoint.writeVersioned(
      base.filter(col("k") % 8 === 1).withColumn("v", col("v") + 2),
      col("k") % 8, 8, dir, "r3")
    def expect(runs: Int): Map[Long, Long] = (0 until 1200).map { i =>
      val b = i % 8
      val bump = if (runs >= 3 && b == 1) 2L else if (runs >= 2 && b < 3) 1L else 0L
      i.toLong -> (i * 10L + bump)
    }.toMap
    for ((runs, n) <- Seq(Seq("r1") -> 1, Seq("r1", "r2") -> 2,
        Seq("r1", "r2", "r3") -> 3)) {
      val got = Checkpoint.readAt(spark, dir, runs)
        .as[(Long, Long)].collect().toMap
      assert(got == expect(n), s"snapshot $runs")
    }
    // unknown run ids are ignored; empty lineage reads empty
    assert(Checkpoint.readAt(spark, dir, Seq("nope")).isEmpty)
    // partition pruning (plan-level, TileStoreSpec convention): the winner
    // disjunction reaches the scan as PartitionFilters and only the 8
    // winning bucket dirs' files are read (r3: bucket 1; r2: 0,2; r1: rest)
    val asOf = Checkpoint.readAt(spark, dir, Seq("r1", "r2", "r3"))
    val fileScan = asOf.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(fileScan.partitionFilters.nonEmpty,
      s"winner set not pushed as partition filters:\n${asOf.queryExecution.executedPlan}")
    asOf.collect() // materialize so metrics populate
    val numFiles = fileScan.metrics("numFiles").value
    assert(numFiles == 8, s"expected the 8 winning files, got $numFiles")
  }

  test("versioned readers resolve snapshots on the driver: at most the footer-read job") {
    import spark.implicits._
    val dir = freshDir("vjobs")
    val base = (0 until 400).map(i => (i.toLong, i * 10L)).toDF("k", "v")
    Checkpoint.writeVersioned(base, col("k") % 4, 4, dir, "r1")
    Checkpoint.writeVersioned(
      base.filter(col("k") % 4 === 1).withColumn("v", col("v") + 1),
      col("k") % 4, 4, dir, "r2")
    // the winners and the scan schema both come from the commit log
    val (df, ev) = Listened(spark.sparkContext)(Checkpoint.readAt(spark, dir, Seq("r1", "r2")))
    assert(ev.jobs == 0, s"readAt launched ${ev.jobs} Spark jobs before an action")
    val want = (0 until 400).map(i => i.toLong -> (i * 10L + (if (i % 4 == 1) 1L else 0L))).toMap
    assert(df.as[(Long, Long)].collect().toMap == want)
  }

  test("schema evolution: a run that adds a column reads merged, old rows null") {
    import spark.implicits._
    val dir = freshDir("evolve")
    val base = (0 until 400).map(i => (i.toLong, i * 10L)).toDF("k", "v")
    Checkpoint.writeVersioned(base, col("k") % 4, 4, dir, "r1")
    Checkpoint.writeVersioned(
      base.filter(col("k") % 4 === 1).withColumn("w", col("k") * 2),
      col("k") % 4, 4, dir, "r2")
    val got = Checkpoint.readAt(spark, dir, Seq("r1", "r2"))
    assert(got.columns.toSet == Set("k", "v", "w"))
    val m = got.select("k", "v", "w").as[(Long, Long, Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    (0 until 400).foreach { i =>
      val want = (i * 10L, if (i % 4 == 1) Some(i * 2L) else None)
      assert(m(i.toLong) == want, s"k=$i")
    }
  }
}

/** The in-write stats under task retries: a `local[4,2]` session gives each
  * task a second attempt.
  */
class CheckpointRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    // getOrCreate would return a prior suite's session with its master
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("a task that fails once and is retried counts each row once") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_test_retry"
    Checkpoint.clear(dir)
    val n = 4000L
    val input = spark.sparkContext.parallelize(0L until n, 4).mapPartitionsWithIndex { (p, it) =>
      if (p == 0 && org.apache.spark.TaskContext.get().attemptNumber() == 0)
        throw new IllegalStateException("injected first-attempt failure")
      it.map(k => (k, s"v$k"))
    }.toDF("k", "s")
    val (_, ev) = Listened(spark.sparkContext) {
      Checkpoint.writeResumable(input, Seq("k"), 8, dir, "retry")
    }
    assert(ev.tasks.exists(_.reason != org.apache.spark.Success), "no task attempt failed")
    val m = Checkpoint.manifests(spark, dir).select("bucket", "row_count", "checksum")
      .as[(Int, Long, Long)].collect().map { case (b, rows, c) => (b, (rows, c)) }.toMap
    assert(m.values.map(_._1).sum == n)
    val again = spark.read.parquet(s"$dir/data")
    val re = again.groupBy("__bucket")
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(struct(col("k"), col("s"))).bitwiseAND(lit(0xFFFFFFFFL))).as("c"))
      .as[(Int, Long, Long)].collect().map { case (b, rows, c) => (b, (rows, c)) }.toMap
    assert(re == m)
  }
}
