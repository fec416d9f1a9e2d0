package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Scheduler-side counters for the traced run, keyed by Spark job tag.
  *
  * The harness tags every job an operation phase submits with
  * `perfbench-<op>-<phase>` (SparkContext.addJobTag; the tag rides the
  * job's local properties, which broadcast and subquery threads inherit).
  * Stages map to the tag of the job that submitted them, tasks to their
  * stage. Jobs that start with no harness tag are kept with their start
  * time, so the reconciliation check can see work that escaped tagging.
  *
  * [[drain]] makes reads deterministic without sleep-polling: it runs one
  * tiny sentinel job and waits until this listener has seen that job end.
  * A listener queue delivers events in order, so by then every event of
  * the operation before it has been delivered too. */
final class PhaseListener(sc: SparkContext) extends SparkListener {
  import PhaseListener._

  final class Acc {
    var jobs, stages, tasks, tasksFailed = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
    var inputBytes, inputRecords, outputBytes = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val untagged = mutable.ArrayBuffer.empty[Long]
  private val sentinelJobs = new ConcurrentHashMap[Int, CountDownLatch]()
  private val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
  private val sentinelIds = new AtomicLong()

  // Bytes of RDD blocks currently stored (memory + disk), and the peak
  // since the last resetPeak() — the operation's cache footprint.
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedNow = 0L
  private var storedPeak = 0L

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(JobTagsKey)))
      .flatMap(_.split(",").find(_.startsWith(Prefix)))

  private def acc(tag: String): Acc = accs.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val sentinel = Option(js.properties).flatMap(p => Option(p.getProperty(SentinelKey)))
    sentinel match {
      case Some(id) => Option(sentinels.remove(id)).foreach(sentinelJobs.put(js.jobId, _))
      case None => tagOf(js.properties) match {
        case Some(t) => val a = acc(t); a.synchronized(a.jobs += 1)
        case None => untagged.synchronized(untagged += js.time)
      }
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(sentinelJobs.remove(je.jobId)).foreach(_.countDown())

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    tagOf(ss.properties).foreach { t =>
      stageTag.put(ss.stageInfo.stageId, t)
      val a = acc(t); a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(te.stageId)).foreach { t =>
      val a = acc(t)
      val m = te.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (te.reason != Success) a.tasksFailed += 1
        a.taskSpans += ((te.taskInfo.launchTime, te.taskInfo.finishTime))
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD) blockBytes.synchronized {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storedNow += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      storedPeak = storedPeak max storedNow
    }
  }

  /** Start a new peak window at the bytes currently stored. Call after a
    * [[drain]], so every earlier block event has been counted. */
  def resetPeak(): Unit = blockBytes.synchronized { storedPeak = storedNow }
  def peakStoredBytes: Long = blockBytes.synchronized(storedPeak)

  /** Block until every event posted before this call has been delivered. */
  def drain(timeoutS: Long = 120): Unit = {
    val id = sentinelIds.incrementAndGet().toString
    val latch = new CountDownLatch(1)
    sentinels.put(id, latch)
    sc.setLocalProperty(SentinelKey, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    if (!latch.await(timeoutS, TimeUnit.SECONDS))
      throw new IllegalStateException(s"listener did not drain in $timeoutS s")
  }

  /** Remove and return the counters recorded under `tag`. */
  def take(tag: String): Acc = Option(accs.remove(tag)).getOrElse(new Acc)

  /** Start times (epoch ms) of untagged jobs inside [fromMs, toMs]. */
  def untaggedJobs(fromMs: Long, toMs: Long): Int =
    untagged.synchronized(untagged.count(t => t >= fromMs && t <= toMs))

  def forgetStages(tags: Set[String]): Unit =
    stageTag.entrySet().asScala.toList.foreach { e =>
      if (tags(e.getValue)) stageTag.remove(e.getKey)
    }
}

object PhaseListener {
  /** SparkContext's local-property key for job tags (comma-separated). */
  val JobTagsKey = "spark.job.tags"
  val SentinelKey = "perfbench.sentinel"
  val Prefix = "perfbench-"
}
