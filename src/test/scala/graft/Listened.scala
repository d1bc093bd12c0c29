package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** The Spark jobs and task ends of what `body` ran on `sc`. */
final class Listened(val jobs: Int, val tasks: Seq[SparkListenerTaskEnd])

object Listened {
  /** Run `body` with a listener on `sc`. A one-task marker job runs after it
    * and is awaited: the listener bus delivers events in order, so every
    * event of `body` has arrived once the marker's job end has.
    */
  def apply[T](sc: SparkContext)(body: => T): (T, Listened) = {
    val marker = "graft.test.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == marker)) {
          e.stageIds.foreach(markerStages.add)
          markerJob.set(e.jobId)
        } else jobs.incrementAndGet(): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get()) drained.countDown()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!markerStages.contains(e.stageId)) tasks.add(e): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker, interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      (out, new Listened(jobs.get(), tasks.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
