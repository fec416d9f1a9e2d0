package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only parameterized timing/plan probe (test sourceset, never
  * shipped). One main, four modes, each over any registered queries:
  *
  *   sbt 'Test/runMain graft.DevProbe wall q23_ngram_jaccard,q43_prefix_jaccard'
  *     per-query wall + GC + JIT attribution (is a slow run compute or
  *     JVM ramp?)
  *   sbt 'Test/runMain graft.DevProbe stages q24_minhash_pairs'
  *     top stages by duration with task counts and exec/cpu/gc time
  *     (which exchange or scan carries the cost?)
  *   sbt 'Test/runMain graft.DevProbe warm q28_ivf_topk'
  *     three timed same-JVM runs (cold-vs-warm delta = JIT/codegen ramp,
  *     not plan cost)
  *   sbt 'Test/runMain graft.DevProbe plan q43_prefix_jaccard'
  *     formatted executed plan after one run (AQE-final, not initial)
  *
  * Defaults to the historically flag-prone queries when none are given.
  * Replaces the five per-investigation DevProbe mains from rounds 5–8;
  * their findings live in BENCH_NOTES.md and the ledger. */
object DevProbe {

  private val defaultQueries = Seq("q11_distinct_months",
    "q23_ngram_jaccard", "q24_minhash_pairs", "q25_simhash_pairs",
    "q27_embedding_near_dup")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("wall")
    val names =
      if (args.length > 1) args(1).split(",").toSeq else defaultQueries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The EXACT bench/verify session (extensions + AQE-coalesce
    // settings): a probe session without GraftExtensions misses the
    // native-kernel SQL functions and the range-join rewrite rule, so
    // its plans (and timings) can diverge from what Bench measures.
    val spark = graft.engine.Sessions.local(cpus)

    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMillis: Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.engine.Caches.release()
      spark.catalog.clearCache()
      wall
    }

    mode match {
      case "wall" =>
        names.foreach { name =>
          val (g0, j0) = (gcMillis, jitMillis)
          val wall = timed(name)
          println(f"[probe] $name%-26s wall=$wall%7.2f s " +
            f"gc=${(gcMillis - g0) / 1000.0}%6.2f s " +
            f"jit=${(jitMillis - j0) / 1000.0}%6.2f s")
        }

      case "warm" =>
        names.foreach { name =>
          val runs = (1 to 3).map(_ => timed(name))
          println(f"[probe] $name%-26s " +
            runs.map(w => f"$w%7.2f").mkString(" s -> ") +
            f" s  (cold/warm=${runs.head / runs.last}%.2fx)")
        }

      case "stages" =>
        // Appended from the listener-bus thread, read from main:
        // synchronized, and read only after the buffer holds still (a
        // stability poll — waitUntilEmpty is private[spark]). A plain
        // fixed sleep can miss the heaviest stage on a loaded host,
        // exactly the case the probe exists to diagnose; the poll can
        // too if the bus stalls >500 ms between events, but bounded by
        // the 30 s cap it is the best public-API approximation.
        val stages =
          mutable.ArrayBuffer[(Int, String, Long, Int, Long, Long, Long)]()
        val stageListener = new SparkListener {
          override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val dur = (for {
              s <- si.submissionTime; c <- si.completionTime
            } yield c - s).getOrElse(-1L)
            stages.synchronized {
              stages += ((si.stageId, si.name.split("\n").head.take(60),
                dur, si.numTasks, si.taskMetrics.executorRunTime,
                si.taskMetrics.executorCpuTime / 1000000,
                si.taskMetrics.jvmGCTime))
            }
          }
        }
        spark.sparkContext.addSparkListener(stageListener)
        // The listener bus is private[spark]; drain by polling the
        // buffer until it holds still for 500 ms (30 s cap).
        def drained(): Unit = {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          var last = -1
          var stable = 0
          while (stable < 5 && System.nanoTime() < deadline) {
            Thread.sleep(100)
            val n = stages.synchronized(stages.size)
            if (n == last) stable += 1 else { stable = 0; last = n }
          }
        }
        try names.foreach { name =>
          val wall = timed(name)
          drained()
          println(f"[probe] ==== $name wall=$wall%7.2f s ====")
          stages.synchronized(stages.sortBy(-_._3).take(8)).foreach {
            case (id, n2, dur, nt, run, cpu, gc) =>
              println(f"[probe]   stage $id%4d dur=${dur / 1000.0}%8.2f s " +
                f"tasks=$nt%3d execRun=${run / 1000.0}%8.2f s " +
                f"cpu=${cpu / 1000.0}%8.2f s gc=${gc / 1000.0}%6.2f s  $n2")
          }
          stages.synchronized(stages.clear())
        } finally spark.sparkContext.removeSparkListener(stageListener)

      case "plan" =>
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.count()
          println(s"[probe] ==== $name executed plan ====")
          println(df.queryExecution.executedPlan.toString)
          graft.engine.Caches.release()
          spark.catalog.clearCache()
        }

      // Job/stage/task counts in the timed body — the evidence for
      // "this change removed sequential jobs" (the r18 verdict's ask on
      // the barrier-bound pipeline family, where wall is job-count-
      // bound: 8c/32c ≈ 1). Jobs counted from onJobStart on the
      // listener bus, drained with the same stability poll as `stages`.
      case "jobs" =>
        val jobs = mutable.ArrayBuffer[(Int, Int)]() // (jobId, nStages)
        val taskCount = new java.util.concurrent.atomic.AtomicLong(0)
        val jobListener = new SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.synchronized { jobs += ((js.jobId, js.stageInfos.size)) }
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            taskCount.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(jobListener)
        def jobsDrained(): Unit = {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          var last = -1L
          var stable = 0
          while (stable < 5 && System.nanoTime() < deadline) {
            Thread.sleep(100)
            val n = jobs.synchronized(jobs.size.toLong) + taskCount.get()
            if (n == last) stable += 1 else { stable = 0; last = n }
          }
        }
        try names.foreach { name =>
          jobsDrained()
          jobs.synchronized(jobs.clear()); taskCount.set(0)
          val wall = timed(name)
          jobsDrained()
          val (nJobs, nStages) = jobs.synchronized(
            (jobs.size, jobs.map(_._2).sum))
          println(f"[probe] $name%-26s wall=$wall%7.2f s " +
            f"jobs=$nJobs%4d stages=$nStages%4d tasks=${taskCount.get()}%5d")
        } finally spark.sparkContext.removeSparkListener(jobListener)

      // Per-job trace: one line per job with its callSite and timing —
      // answers WHICH driver actions a 100-job query body is made of.
      case "jobtrace" =>
        val trace = mutable.ArrayBuffer[(Int, Long, String)]()
        val ends = mutable.Map[Int, Long]()
        val traceListener = new SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val site = Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse(js.stageInfos.headOption.map(_.name.split("\n").head)
                .getOrElse("?"))
            trace.synchronized { trace += ((js.jobId, js.time, site.take(90))) }
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            ends.synchronized { ends(je.jobId) = je.time }
        }
        spark.sparkContext.addSparkListener(traceListener)
        def traceDrained(): Unit = {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          var last = -1
          var stable = 0
          while (stable < 5 && System.nanoTime() < deadline) {
            Thread.sleep(100)
            val n = trace.synchronized(trace.size)
            if (n == last) stable += 1 else { stable = 0; last = n }
          }
        }
        try names.foreach { name =>
          traceDrained()
          trace.synchronized(trace.clear()); ends.synchronized(ends.clear())
          val wall = timed(name)
          traceDrained()
          println(f"[probe] ==== $name wall=$wall%7.2f s ====")
          val t = trace.synchronized(trace.toList)
          t.sortBy(_._2).foreach { case (id, t0, site) =>
            val dur = ends.synchronized(ends.get(id))
              .map(t1 => f"${(t1 - t0) / 1000.0}%7.2f s").getOrElse("  (open)")
            println(f"[probe]   job $id%4d $dur  $site")
          }
        } finally spark.sparkContext.removeSparkListener(traceListener)

      // `.explain("formatted")` capture for the round's plan-evidence
      // files (plans/rNN/<query>_{before,after}.txt): the formatted
      // initial plan (operator list + PushedFilters/ReadSchema), then
      // the AQE-final executed plan after one run — both in one file so
      // Exchange-count / join-strategy claims are checkable offline.
      case "explain" =>
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          println(s"[probe] ==== $name explain(formatted) ====")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          df.count()
          println(s"[probe] ==== $name AQE-final executed plan ====")
          println(df.queryExecution.executedPlan.toString)
          graft.engine.Caches.release()
          spark.catalog.clearCache()
        }

      case other =>
        sys.error(s"unknown probe mode '$other' (wall|warm|stages|plan|explain)")
    }
    spark.stop()
  }
}
