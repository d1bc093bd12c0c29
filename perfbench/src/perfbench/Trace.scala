package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Counters for one job group: what Spark's task metrics say the group did. */
final class GroupCounters {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var jobsEnded = 0
  /** task durations (ms) per stage, for the skew ratio */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** (shuffle bytes, shuffle records) written per stage */
  val stageShuffle = mutable.Map[Int, (Long, Long)]()
  /** shuffle records read per stage */
  val stageRead = mutable.Map[Int, Long]()

  def gcShare: Double = if (runMs == 0) 0.0 else gcMs.toDouble / runMs

  private def skew(stage: Int): Double = {
    val ts = stageTaskMs(stage).sorted
    val med = ts(ts.size / 2)
    if (med == 0) ts.last.toDouble else ts.last.toDouble / med
  }

  /** max / median task time of the stage that ran longest in total. */
  def maxOverMedian: Double =
    if (stageTaskMs.isEmpty) 0.0 else skew(stageTaskMs.maxBy(_._2.sum)._1)

  /** max / median task time of the stage that read the most shuffle records
    * (the reduce side of a cogroup).
    */
  def readMaxOverMedian: Double =
    if (stageRead.isEmpty) 0.0 else skew(stageRead.maxBy(_._2)._1)

  def add(o: GroupCounters): GroupCounters = {
    val r = new GroupCounters
    Seq(this, o).foreach { c =>
      r.tasks += c.tasks; r.runMs += c.runMs; r.gcMs += c.gcMs
      r.shuffleWriteBytes += c.shuffleWriteBytes; r.shuffleRecords += c.shuffleRecords
      r.spillBytes += c.spillBytes
      c.stageTaskMs.foreach { case (s, v) => r.stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer()) ++= v }
      r.stageShuffle ++= c.stageShuffle
      r.stageRead ++= c.stageRead
    }
    r
  }
}

/** Attributes task metrics to the job group (`setJobGroup`) of their job. */
final class GroupListener extends SparkListener {
  private val groupOfStage = mutable.Map[Int, String]()
  private val groupOfJob = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, GroupCounters]()

  private def counters(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    groupOfJob(e.jobId) = g
    e.stageIds.foreach(groupOfStage(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groupOfJob.get(e.jobId).foreach(g => counters(g).jobsEnded += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(groupOfStage.getOrElse(e.stageId, ""))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      val (b, n) = c.stageShuffle.getOrElse(e.stageId, (0L, 0L))
      c.stageShuffle(e.stageId) = (b + m.shuffleWriteMetrics.bytesWritten, n + m.shuffleWriteMetrics.recordsWritten)
      if (m.shuffleReadMetrics.recordsRead > 0)
        c.stageRead(e.stageId) = c.stageRead.getOrElse(e.stageId, 0L) + m.shuffleReadMetrics.recordsRead
    }
  }

  def apply(g: String): GroupCounters = synchronized(counters(g))
}

/** One timed span; `rep` numbers the repetitions of one plan prefix. */
final case class Span(id: Int, name: String, parent: Int, rep: Int,
                      startNs: Long, endNs: Long, rssMb: Double,
                      counters: Option[GroupCounters]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. A span that runs Spark work is bracketed with
  * `setJobGroup(name)`; after it ends, a one-task marker job is run and
  * awaited so that every task event of the span has reached the listener
  * before its counters are read (listener events are delivered in order).
  */
final class Tracer {
  val listener = new GroupListener
  private var sc: Option[SparkContext] = None
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(-1)
  private var markers = 0
  private var nextId = 0
  private var groups = List.empty[String]

  /** Attribute the following spans' Spark work through `c`'s listener bus. */
  def attach(c: SparkContext): Unit = { c.addSparkListener(listener); sc = Some(c) }

  /** Time `body` as a span. Counters cover only the span's own job group,
    * so read them from leaf spans.
    */
  def span[T](name: String, rep: Int = 0)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    val outer = groups
    val group = s"$name#$id"
    stack = id :: stack
    groups = group :: groups
    sc.foreach(_.setJobGroup(group, name, interruptOnCancel = false))
    val t0 = System.nanoTime()
    val r = try body finally { stack = stack.tail; groups = outer }
    val t1 = System.nanoTime()
    val counters = sc.map { c =>
      c.setJobGroup("marker", "marker", interruptOnCancel = false)
      c.parallelize(Seq(1), 1).count()
      markers += 1
      while (listener("marker").jobsEnded < markers) Thread.sleep(5)
      listener(group)
    }
    sc.foreach(c => outer.headOption.fold(c.clearJobGroup())(g => c.setJobGroup(g, g, interruptOnCancel = false)))
    val s = Span(id, name, parent, rep, t0, t1, Rss.peakMb(), counters)
    spans += s
    (r, s)
  }

  /** Run `body` as `reps` spans of one name; the median-length one stands
    * for the layer (a single action of a second or so is too noisy to
    * subtract from its neighbours).
    */
  def spanMedian[T](name: String, reps: Int = 3)(body: => T): (T, Span) = {
    val runs = (0 until reps).map(r => span(name, r)(body))
    runs.sortBy(_._2.seconds).apply(reps / 2)
  }

  def all: Seq[Span] = spans.toSeq

  def json: String = spans.map { s =>
    val c = s.counters.map { g =>
      s""","tasks":${g.tasks},"run_ms":${g.runMs},"gc_ms":${g.gcMs},""" +
        s""""shuffle_write_bytes":${g.shuffleWriteBytes},"shuffle_records":${g.shuffleRecords},""" +
        s""""spill_bytes":${g.spillBytes},"task_max_over_median":${g.maxOverMedian}"""
    }.getOrElse("")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"rep":${s.rep},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"peak_rss_mb":${s.rssMb}$c}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Rss {
  /** Process high-water resident set (VmHWM) in MiB. */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
