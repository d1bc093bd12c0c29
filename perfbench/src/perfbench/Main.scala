package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

final case class Metric(name: String, value: Double, unit: String)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, cpus: Int)

/** Outcome of one timed pass: its input size, wall time and the oracle
  * verdict (checked after the clock stopped).
  */
final case class Pass(coords: Long, seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def coordsPerS: Double = coords / seconds
}

/** One benchmark workload. Set-up is `start` (the Spark session), then
  * `prepare` (inputs and tile store in a fresh directory; repeated, median
  * taken), then `warmUp` (untimed passes). `pass` is timed; its check runs
  * after the clock stops.
  */
trait Workload {
  def start(): Unit
  def prepare(rep: Int): Unit
  def warmUp(): Unit
  /** run one timed pass, then return (coords, seconds, check) */
  def pass(i: Int): (Long, Double, () => Option[String])
  /** per-layer metrics of a traced run (after set-up) */
  def traced(t: Tracer): (Seq[Metric], Option[String])
  def close(): Unit
}

object Main {
  val SetupReps = 3
  /** The JIT keeps speeding passes up for a while after the first, and a
    * median over a pass count that varies between runs drifts with it: at
    * the benchmark's run length every `job_trails` run makes exactly
    * `MinPasses` passes.
    */
  val MinPasses = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, m("cpus").toInt)
  }

  def session(cpus: Int): SparkSession = {
    // the same settings graft.ElevationJob builds its session with
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def json(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    val body = ms.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench $up%7.2f] $msg")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    Files.createDirectories(a.work)
    val w: Workload = a.workload match {
      case "job_trails" => new JobTrails(a)
      case "polyline_terrarium" => new PolylineTerrarium(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = try {
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      val startS = timed(w.start())
      val prepS = (0 until SetupReps).map(r => timed(w.prepare(r)))
      val warmS = timed(w.warmUp())
      val setupS = bootS + startS + median(prepS) + warmS
      log(f"set-up: boot $bootS%.2f s, session $startS%.2f s, " +
        f"inputs ${prepS.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmS%.2f s")
      if (a.trace) {
        val t = new Tracer
        val (ms, err) = w.traced(t)
        Files.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.json"), t.json.getBytes("UTF-8"))
        err.foreach(e => log(s"traced run failed: $e"))
        json(err.isEmpty, 1, if (err.isEmpty) 0 else 1, Layers.complete(ms))
      } else {
        val passes = ArrayBuffer[Pass]()
        val deadline = System.nanoTime() + a.seconds * 1000000000L
        while (passes.size < MinPasses || System.nanoTime() < deadline) {
          val i = passes.size
          val p = try {
            val (n, secs, check) = w.pass(i)
            Pass(n, secs, check())
          } catch { case e: Exception => Pass(0, 0, Some(s"threw: $e")) }
          p.error.foreach(e => log(s"pass $i failed: $e"))
          log(f"pass $i: ${p.coords} coords in ${p.seconds}%.3f s")
          passes += p
        }
        val ok = passes.filter(_.ok)
        val failed = passes.size - ok.size
        // peak RSS varies by more than a tenth between runs of the same
        // code, so it is a per-layer metric of the traced run instead
        json(failed == 0, passes.size, failed, Seq(
          Metric("coords_per_s", if (ok.isEmpty) 0.0 else median(ok.map(_.coordsPerS).toSeq), "1/s"),
          Metric("setup_s", setupS, "s")))
      }
    } finally w.close()
    log("done")
    println("PERFBENCH_RESULT " + result)
  }
}
