package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}

/** The listener events of the Spark jobs one block starts, read once the
  * listener bus has delivered them all.
  *
  * `body` runs under a fresh job tag, then a tagged sentinel job. The bus
  * delivers events in post order, so once the sentinel's start arrives,
  * every job start and end, stage completion and task end of the jobs
  * `body` started has been seen. The bus itself cannot be waited on from
  * outside Spark, and polling a buffer until it holds still can miss the
  * heaviest stage on a loaded host. Jobs of other threads and the
  * sentinel's own events are left out. */
object SparkEvents {

  private val SentinelKey = "graft.spark-events.sentinel"

  def during[T](sc: SparkContext)(body: => T): (T, Seq[SparkListenerEvent]) = {
    val tag = s"spark-events-${System.nanoTime()}"
    val events = mutable.ArrayBuffer.empty[SparkListenerEvent]
    // Touched only on the bus thread; `events` is also read by the caller.
    val jobs = mutable.Set.empty[Int]
    val stages = mutable.Set.empty[Int]
    def record(e: SparkListenerEvent): Unit = events.synchronized(events += e)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          if (props.exists(_.getProperty(SentinelKey) == tag)) drained.countDown()
          else {
            jobs += js.jobId
            stages ++= js.stageIds
            record(js)
          }
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (jobs(je.jobId)) record(je)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stages(s.stageInfo.stageId)) record(s)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages(te.stageId)) record(te)
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      sc.setLocalProperty(SentinelKey, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SentinelKey, null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, events.synchronized(events.toList))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
