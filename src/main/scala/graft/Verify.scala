package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened against a run that outlives the driver window:
  *
  *  1. `oracle_sql.json` is written FIRST — it is pure metadata, so even a
  *     run truncated mid-loop leaves the driver every completed query's
  *     parquet plus the full oracle map to score it with.
  *  2. The default run is the whole registry ([[SparkEntry.queries]], 133
  *     entries); query-name args after the two paths run only those.
  *  3. Queries run through a small thread pool (`SPARK_GRAFT_VERIFY_THREADS`,
  *     default 4 — Spark local mode schedules concurrent jobs fine and the
  *     sf0.01 fixtures are tiny), submitted §2-contract-first so a truncated
  *     run still scores the contract surface before the long tail. Each
  *     query is built in its own child session ([[build]]).
  *  4. Every completion is logged to stderr with wall seconds, so a killed
  *     run leaves a visible frontier.
  */
object Verify {

  /** §2 contract families first, pipeline ops second, analytics tail last —
    * the submission order under a closing driver window.
    */
  private def priority(name: String): Int = {
    val fam = name.takeWhile(_ != '_')
    fam match {
      case "geo" | "zonal" | "tile" | "zxy" | "polyline" | "hex" |
           "feature" | "checkpoint" | "stream" | "bloom" | "q1" | "q3" |
           "q5" | "sql" => 0
      case "dedup" | "ann" | "text" | "curation" | "img" | "token" |
           "doc" | "quality" | "media" => 1
      case _ => 2
    }
  }

  /** Builds registry entry `name` in its own child session of `spark`. The
    * child shares the SparkContext, and with it the SQL conf the context
    * was started with, but has its own temp views and registered
    * functions: entries that register views (`orders_gs`, `pts`) cannot
    * race each other under the thread pool.
    */
  def build(spark: SparkSession,
            registry: Map[String, (SparkSession, String) => DataFrame],
            name: String, sfDir: String): DataFrame =
    registry(name)(spark.newSession(), sfDir)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (local iteration aid;
    // the driver always passes exactly two args → whole-registry run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nThreads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val names = registry.keys.toSeq
      .filter(n => only.isEmpty || only.contains(n))
      .sortBy(n => (priority(n), n))

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // metadata FIRST (see scaladoc #1): only queries actually submitted
    // this run, so the driver never scores a name with no parquet coming
    val json = names.flatMap(n => oracle.get(n).map(sql => s"${q(n)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // machine-readable completion frontier, appended as each query lands
    // (JSON-lines, not one JSON doc: a killed run leaves every completed
    // line intact)
    val statusPath = Paths.get(s"$outDir/verify_status.jsonl")
    Files.deleteIfExists(statusPath)
    def status(line: String): Unit = synchronized {
      Files.writeString(statusPath, line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND): Unit
    }

    val pool = Executors.newFixedThreadPool(nThreads)
    val t0 = System.nanoTime()
    names.foreach { name =>
      pool.execute { () =>
        val q0 = System.nanoTime()
        try {
          build(spark, registry, name, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val secs = (System.nanoTime() - q0) / 1e9
          System.err.println(f"[verify] $name ok $secs%.1fs (t+${(System.nanoTime() - t0) / 1e9}%.0fs)")
          status(f"""{"query": ${q(name)}, "ok": true, "secs": $secs%.2f}""")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          status(s"""{"query": ${q(name)}, "ok": false, "error": ${q(String.valueOf(e.getMessage))}}""")
          if (sys.env.contains("SPARK_GRAFT_VERBOSE"))
            e.getStackTrace.take(12).foreach(f =>
              System.err.println(s"[verify]   at $f"))
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(24, TimeUnit.HOURS): Unit
    spark.stop()
  }
}
