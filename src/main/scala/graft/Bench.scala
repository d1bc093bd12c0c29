package graft

import graft.bench.Headline
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times every registry entry ([[SparkEntry.queries]],
  * 133 entries) at `SPARK_GRAFT_SF_DIR`
  * (full evaluation through the noop sink — count() would let column pruning
  * skip the actual operator work), then runs the headline
  * elevation-lookup + spatial-join workload at two parallelism levels
  * (local[8] vs local[cpus]) on the same input for the north-rule scaling
  * evidence. Prints ONE JSON line.
  *
  * Measurement contract (round 3): the committed artifact must carry the
  * defensible number itself, not a single contention-exposed pass. Every
  * query is timed over `SPARK_GRAFT_QUERY_PASSES` (default 3) full
  * INTERLEAVED sweeps of the whole query list — `queries` holds the min
  * across sweeps (host jitter on this box is ±15–40%, so a single pass can
  * read 2–6× the real cost), `queries_first_sweep` holds the first-sweep
  * value so first-touch cost stays visible. Scaling reports the MEDIAN paired
  * efficiency as the headline (robust under symmetric jitter; the
  * paired-best and global min-ratio ride alongside, never hidden) and
  * derives `efficiency_vs_ceiling` from the same paired statistic.
  */
object Bench {

  private def timeQuery(fn: => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    try fn.write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => return -1.0 }
    (System.nanoTime() - t0) / 1e9
  }

  /** One warm measurement pass at a given parallelism: warmup run + 2 timed
    * runs, keep the min.
    */
  private def headlinePass(cpus: Int, sfDir: String, k: Int,
      job: (org.apache.spark.sql.SparkSession, String, Int) => (Long, Double)
        = Headline.run): (Long, Double) = {
    System.gc() // clear garbage from earlier phases before timing
    val s = Headline.session(cpus)
    try {
      job(s, sfDir, 1) // warmup: codegen + broadcast/shuffle infra + listing
      val runs = (1 to 2).map(_ => job(s, sfDir, k))
      (runs.head._1, runs.map(_._2).min)
    } finally s.stop()
  }

  /** Pure-JVM spin at `threads` concurrency — measures the host's per-core
    * slowdown under full load (turbo droop / hypervisor steal), the hard
    * ceiling any software scaling number on this box lives under.
    */
  private def spinWall(threads: Int): Double = {
    val work = 800000000L
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val th = new Thread(() => {
        var x = 0L; var i = 0L
        while (i < work) { x += (i * i) % 7; i += 1 }
        sink.addAndGet(x): Unit
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Buffer for the memory-bandwidth ceiling probe: one DISJOINT 64 MB
    * slice per thread (≥ 32 slices = 2 GB; grown if a level uses more
    * threads) — thread t streams slice t, so the aggregate working set is
    * 512 MB at 8 threads and 2 GB at 32, both far past the 260 MB shared
    * L3, and no thread's DRAM fetch can service another from cache
    * (overlapping windows would measure shared-L3 bandwidth, not DRAM).
    * Allocated lazily inside [[memWall]] and RELEASED after each pair's
    * probes ([[releaseMemBuf]]) so the timed headline passes never run
    * against the extra heap.
    */
  private var memBuf: Array[Long] = null
  private val memSliceLen = 8 << 20 // 8M longs = 64 MB per thread, fixed work

  /** Per-thread fixed-work streaming sum over a private [[memBuf]] slice
    * (same semantics as [[spinWall]]: wall(lo)/wall(hi) = 1.0 under perfect
    * scaling) — measures the host's MEMORY-BANDWIDTH scaling from lo to hi
    * threads, the second hardware ceiling. The ALU spin alone overstates
    * what a memory-touching workload can scale to: DRAM bandwidth saturates
    * below 4x going 8→32 cores on this class of box, and the probe workload
    * streams raster bytes and row data, not just arithmetic.
    */
  private def memWall(threads: Int): Double = {
    // every thread gets its OWN slice, capped at 64 slices (4 GB buffer);
    // past the cap threads share slices round-robin — slices*memSliceLen
    // stays far below Int.MaxValue (at 256 uncapped threads the Int product
    // would overflow negative and NegativeArraySizeException the bench)
    val slices = math.min(math.max(32, threads), 64)
    if (memBuf == null || memBuf.length < slices * memSliceLen) {
      val a = new Array[Long](slices * memSliceLen)
      var i = 0
      while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
      memBuf = a
    }
    val buf = memBuf
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0L
        var i = (t % slices) * memSliceLen
        val end = i + memSliceLen
        while (i < end) { x += buf(i); i += 1 }
        sink.addAndGet(x): Unit
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def releaseMemBuf(): Unit = memBuf = null

  /** Stage the sf tables into a multi-file layout for the query timings.
    *
    * The driver's sf parquet files carry ONE row group each, and a row
    * group is the minimum parquet split granularity — so a file-source scan
    * cannot parallelize beyond one thread per table no matter what
    * maxPartitionBytes says, and every scan→broadcast-join pipeline with no
    * shuffle (geo_pip_*, bloom probe, zonal_*) runs serially end-to-end.
    * That is a small-scale fixture artifact: a production table at any real
    * size is thousands of files × row groups and saturates the cluster's
    * scan parallelism for free. Staging rewrites each table ONCE (same
    * rows, same schema; 32-way for tables past 1 MB) under /tmp and times
    * the queries against that layout, so the bench measures the engine
    * rather than the fixture's storage quirk. The headline scaling blocks
    * are unaffected (their probe rows are synthesized at run time), and
    * correctness (graft.Verify) keeps reading the pristine driver files.
    * SPARK_GRAFT_STAGE=0 opts out.
    */
  private def stagedCopy(spark: SparkSession, sfDir: String): String = {
    val base = new java.io.File(
      s"/tmp/graft_bench_staged_${Integer.toHexString(sfDir.hashCode)}")
    val marker = new java.io.File(base, "_STAGED")
    if (!marker.exists()) {
      val tables = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
      tables.foreach { f =>
        val n = if (f.length() > (1 << 20)) 32 else 1
        spark.read.parquet(f.getAbsolutePath).repartition(n)
          .write.mode("overwrite")
          .parquet(new java.io.File(base, f.getName).getAbsolutePath)
      }
      marker.createNewFile(): Unit
    }
    base.getAbsolutePath
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 2048 replicas (1.23G probe rows): long enough runs that host jitter
    // stops dominating the lo/hi ratio, and fixed per-run work amortizes at
    // both parallelism levels (measured +8% hi, +21% lo rows/s vs k=1024)
    val k = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_K", "2048").toInt
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"
    // 0 skips the per-query loop (scaling-methodology experiments)
    val doQueries = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "1") == "1"
    // full interleaved sweeps of the query list; min per query is committed
    val queryPasses =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_QUERY_PASSES", "3").toInt)
    // optional comma-separated query-name filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup: the first job of a fresh session pays ~5s of executor
    // spin-up + codegen infra + parquet footer caching — without this the
    // alphabetically-first query absorbs it all and reads as 8x its real
    // cost. A NEUTRAL lineitem scan (not one of the timed queries) warms the
    // session and table footers so no query's first-sweep entry is secretly
    // a warm reading of its own plan.
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    // multi-file staging (see stagedCopy scaladoc); queries + ckpt read it
    val benchDir =
      if (sys.env.getOrElse("SPARK_GRAFT_STAGE", "1") == "1")
        try stagedCopy(spark, sfDir) catch { case _: Throwable => sfDir }
      else sfDir
    try spark.read.parquet(s"$benchDir/lineitem.parquet")
      .selectExpr("sum(l_partkey)").collect()
    catch { case _: Throwable => () }
    // also warm the noop sink's DataSource resolution + write path, which
    // every timed query goes through — otherwise the alphabetically-first
    // query's first-sweep entry absorbs that one-time cost
    try spark.range(0, 100).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val queryNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // interleaved sweeps: pass p times every query once before any query
    // runs its pass p+1, so a host-contention window contaminates at most
    // one sweep of each query, and the per-query min is taken across
    // independent windows (the whole point of committing min-of-N)
    val sweeps: Seq[Map[String, Double]] =
      if (!doQueries) Seq.empty
      else (1 to queryPasses).map { _ =>
        queryNames.map { name =>
          name -> timeQuery(SparkEntry.queries(name)(spark, benchDir))
        }.toMap
      }
    val queryResults: Seq[(String, Double)] =
      if (sweeps.isEmpty) Seq.empty
      else queryNames.map { n =>
        val ts = sweeps.map(_(n)).filter(_ >= 0)
        n -> (if (ts.isEmpty) -1.0 else ts.min)
      }
    val coldResults: Seq[(String, Double)] =
      if (sweeps.isEmpty) Seq.empty
      else queryNames.map(n => n -> sweeps.head(n))
    // resumable-write wall-time vs bucket count: the single-job write makes
    // wall time a function of data size, not bucket count (the per-bucket
    // job loop it replaced scaled linearly in buckets). Interleaved passes,
    // min per bucket count.
    val ckptResults = if (!(doQueries && only.isEmpty) &&
        !sys.env.get("SPARK_GRAFT_CKPT").contains("1")) Seq.empty else {
      val df = spark.read.parquet(s"$benchDir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice")
      def onePass(nb: Int): Double = {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bench_ckpt_$nb"
        table.Checkpoint.clear(dir)
        val t0 = System.nanoTime()
        table.Checkpoint.writeResumable(df, Seq("l_orderkey", "l_linenumber"),
          nb, dir, s"bench$nb")
        val t = (System.nanoTime() - t0) / 1e9
        table.Checkpoint.clear(dir)
        t
      }
      val counts = Seq(12, 48)
      counts.foreach(onePass) // warmup (file listing, codegen)
      val passes = (1 to 2).map(_ => counts.map(onePass))
      counts.zipWithIndex.map { case (nb, i) =>
        s"ckpt_${nb}buckets" -> passes.map(_(i)).min
      }
    }
    val results = queryResults ++ ckptResults
    spark.stop()

    // One scaling block: nPairs interleaved (lo, hi) passes of `job`, each
    // pair with in-window hardware-ceiling probes. Returns (short, full)
    // JSON object bodies (shared by the broadcast-path and cogroup-path
    // headlines): `short` goes on the ONE stdout line — the driver records
    // only the LAST ~2000 chars of output, and round 3/4 proved a long line
    // gets its head truncated and parses to null — `full` (per-pair arrays)
    // goes to the sidecar detail file.
    //
    // interleave lo/hi passes: host CPU availability drifts over minutes,
    // so back-to-back blocks bias the ratio. Each (lo, hi) pair runs
    // back-to-back inside one drift window, so its ratio is a clean
    // single measurement of the ENGINE's scaling on this host — and the
    // pure-CPU spin ceiling is sampled INSIDE the same window, so each
    // pair can be normalized against the hardware scaling the host
    // offered at that moment (a single post-hoc ceiling mismatches
    // pairs measured minutes apart under drifting contention).
    def scalingBlock(nPairs: Int, kRep: Int,
        job: (org.apache.spark.sql.SparkSession, String, Int) => (Long, Double))
        : (String, String) = {
      val loCpus = math.max(2, cpus / 4)
      // ceiling probes are short (0.1–2 s) and exposed to instantaneous
      // steal — min-of-2 per level per pair keeps one bad sample from
      // inverting a ratio (a >1.0 "ceiling" means the lo sample was the
      // contended one)
      def wallMin(f: Int => Double, t: Int): Double =
        math.min(f(t), f(t))
      val passes = (1 to nPairs).map { _ =>
        val lo = headlinePass(loCpus, sfDir, kRep, job)
        val hi = headlinePass(cpus, sfDir, kRep, job)
        val ceil = wallMin(spinWall, loCpus) / wallMin(spinWall, cpus)
        val ceilMem = wallMin(memWall, loCpus) / wallMin(memWall, cpus)
        releaseMemBuf() // 2 GB freed before the next pair's timed passes
        (lo, hi, ceil, ceilMem)
      }
      val rows = passes.head._1._1
      val tLo = passes.map(_._1._2).min
      val tHi = passes.map(_._2._2).min
      val rpsLo = rows / tLo
      val rpsHi = rows / tHi
      val pairEffs = passes.map { case ((_, lo), (_, hi), _, _) =>
        (lo / hi) / (cpus.toDouble / loCpus)
      }
      val pairCeils = passes.map(_._3)
      val pairMemCeils = passes.map(_._4)
      // headline `efficiency` = MEDIAN of the paired ratios: robust and
      // unbiased under symmetric host jitter (the advisor's point: a
      // best-of-N max is biased upward). The paired BEST — the analog of
      // one clean run at each cluster size on dedicated hardware — and the
      // global min-ratio (mixes windows) are reported beside it, with the
      // full per-pair spread. Nothing hidden.
      val effMedian = median(pairEffs)
      val effBest = pairEffs.max
      val effMinRatio = (tLo / tHi) / (cpus.toDouble / loCpus)
      // ceiling-normalized efficiency: median over PER-PAIR normalized
      // ratios (same paired statistic as the headline — the advisor's
      // consistency point — and each pair normalizes against its own
      // window's hardware ceiling). ALU-spin-normalized is the primary
      // (conservative: the spin is the HIGHER ceiling); the
      // memory-bandwidth-normalized figure is reported beside it because
      // the probe workload streams memory, and DRAM bandwidth is the
      // binding ceiling in unthrottled windows.
      val effNorm = median(
        pairEffs.zip(pairCeils).map { case (e, c) => e / math.min(1.0, c) })
      val effNormMem = median(
        pairEffs.zip(pairMemCeils).map { case (e, c) => e / math.min(1.0, c) })
      val ceilingMedian = median(pairCeils)
      val memCeilingMedian = median(pairMemCeils)
      def arr(xs: Seq[Double]): String =
        xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      val short =
        f"""{"rows":$rows,"cpus_lo":$loCpus,"cpus_hi":$cpus,"sec_lo":$tLo%.3f,"sec_hi":$tHi%.3f,"rows_per_sec_lo":$rpsLo%.0f,"rows_per_sec_hi":$rpsHi%.0f,"efficiency":$effMedian%.3f,"efficiency_paired_best":$effBest%.3f,"efficiency_min_ratio":$effMinRatio%.3f,"cpu_turbo_ceiling":$ceilingMedian%.3f,"mem_bw_ceiling":$memCeilingMedian%.3f,"efficiency_vs_ceiling":$effNorm%.3f,"efficiency_vs_mem_ceiling":$effNormMem%.3f}"""
      val full = short.dropRight(1) +
        f""","efficiency_method":"paired_median_of_$nPairs","pair_efficiencies":${arr(pairEffs)},"pair_ceilings":${arr(pairCeils)},"pair_mem_ceilings":${arr(pairMemCeils)}}"""
      (short, full)
    }

    val (scalingShort, scalingFull) =
      if (!doScaling) ("", "")
      else {
        // 6 pairs ≈ 7 min with the ceiling probes — enough for a stable
        // median without risking the driver's bench window (r4 lesson)
        val nPairs =
          math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALING_PASSES", "6").toInt)
        spinWall(2); memWall(2); releaseMemBuf() // JIT warmup
        val (bcastS, bcastF) = scalingBlock(nPairs, k, Headline.run)
        // cogroup path: every probe row crosses the shuffle, so the same
        // wall budget covers fewer rows — default 1/32 the broadcast fan-out
        // (still ~38M rows/run at sf0.1, ≥8s of work per timed run at
        // local[32]) and half the pairs
        val kCg = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_COGROUP_K",
          math.max(1, k / 32).toString).toInt
        val nPairsCg = math.max(1, sys.env.getOrElse(
          "SPARK_GRAFT_SCALING_PASSES_COGROUP", (nPairs / 2).toString).toInt)
        val (cgS, cgF) = scalingBlock(nPairsCg, kCg, Headline.runCogroup(_, _, _))
        val rpsHi = "\"rows_per_sec_hi\":([0-9]+)".r
          .findFirstMatchIn(bcastS).map(_.group(1)).getOrElse("0")
        (s""","elev_rows_per_sec":$rpsHi,"scaling":$bcastS,"scaling_cogroup":$cgS""",
         s""","elev_rows_per_sec":$rpsHi,"scaling":$bcastF,"scaling_cogroup":$cgF""")
      }

    def asJson(rs: Seq[(String, Double)]): String =
      rs.map { case (q, v) => "\"" + q + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalStr = f"$total%.3f"
    // The ONE stdout JSON line must stay well under ~2000 chars: the driver
    // keeps only the output tail, and rounds 3 and 4 both produced
    // `parsed: null` because the full per-query map pushed the line's head
    // out of the capture window. stdout carries a fixed §2-representative
    // subset of the per-query timings; the COMPLETE per-query data (all
    // sweeps, first-sweep column, per-pair scaling arrays) goes to the
    // sidecar file `BENCH_DETAIL.json` (committed to the repo and quoted in
    // BASELINE.md).
    val headlineSubset = Seq("q1_agg", "q5_multijoin", "geo_elev_bilinear",
      "geo_elev_cogroup", "geo_pip", "geo_knn", "geo_range_join",
      "geo_poly_join", "zonal_stats", "dedup_minhash", "ann_ivfpq_topk",
      "text_langid", "img_phash_neardup", "checkpoint_resume",
      "events_sessions", "stream_window_counts")
    val resultMap = results.toMap
    val shortQueries = headlineSubset.flatMap(n => resultMap.get(n).map(n -> _))
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    // "first sweep", not "cold": the session warmup and any table/footer
    // reuse across queries mean sweep 1 is only process-cold for the first
    // toucher of each table
    val coldJson =
      if (coldResults.isEmpty || queryPasses == 1) ""
      else s""","queries_first_sweep":${asJson(coldResults)}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      s"""{"metric":"total","value":$totalStr,"unit":"sec","query_count":${results.size},"query_passes":$queryPasses,"queries":${asJson(results)},"sf":"$sfDir"$coldJson$scalingFull}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec","query_count":${results.size},"query_passes":$queryPasses,"queries":${asJson(shortQueries)},"detail":"$detailPath","sf":"$sfDir"$scalingShort}""")
  }
}
