package graft

import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** Dev-only parameterized timing/plan probe (test sourceset, never
  * shipped). One main, seven modes, each over any registered queries:
  *
  *   sbt 'Test/runMain graft.DevProbe wall q23_ngram_jaccard,q43_prefix_jaccard'
  *     per-query wall + process CPU + GC + JIT attribution (is a slow
  *     run compute or JVM ramp?)
  *   sbt 'Test/runMain graft.DevProbe warm q28_ivf_topk'
  *     three timed same-JVM runs (cold-vs-warm delta = JIT/codegen ramp,
  *     not plan cost)
  *   sbt 'Test/runMain graft.DevProbe stages q24_minhash_pairs'
  *     top stages by duration with task counts and exec/cpu/gc time
  *     (which exchange or scan carries the cost?)
  *   sbt 'Test/runMain graft.DevProbe plan q43_prefix_jaccard'
  *     formatted executed plan after one run (AQE-final, not initial)
  *   sbt 'Test/runMain graft.DevProbe jobs q209_full_pipeline'
  *     job, stage and task counts of the timed body
  *   sbt 'Test/runMain graft.DevProbe jobtrace q209_full_pipeline'
  *     one line per job with its call site and duration
  *   sbt 'Test/runMain graft.DevProbe explain q43_prefix_jaccard'
  *     formatted initial plan, then the AQE-final plan after one run
  *
  * Every mode runs a query through [[Bench.measure]], the path Bench
  * times, so every wall printed here includes the cache release after
  * the action, as Bench's does. A failed query prints its error.
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

    def run(name: String)(act: DataFrame => Unit = _.count()): Bench.RunStats = {
      val r = Bench.measure(spark)(SparkEntry.queries(name)(spark, sfDir))(act)
      r.err.foreach(e => println(s"[probe] $name ERR $e"))
      r
    }

    mode match {
      case "wall" =>
        names.foreach { name =>
          val r = run(name)()
          println(f"[probe] $name%-26s wall=${r.sec}%7.2f s cpu=${r.cpuS}%7.2f s " +
            f"gc=${r.gcS}%6.2f s jit=${r.jitS}%6.2f s")
        }

      case "warm" =>
        names.foreach { name =>
          val runs = (1 to 3).map(_ => run(name)().sec)
          println(f"[probe] $name%-26s " +
            runs.map(w => f"$w%7.2f").mkString(" s -> ") +
            f" s  (cold/warm=${runs.head / runs.last}%.2fx)")
        }

      case "stages" =>
        names.foreach { name =>
          val (wall, events) = SparkEvents.during(spark.sparkContext)(run(name)().sec)
          println(f"[probe] ==== $name wall=$wall%7.2f s ====")
          val stages = events.collect { case e: SparkListenerStageCompleted =>
            val si = e.stageInfo
            val dur = (for {
              s <- si.submissionTime; c <- si.completionTime
            } yield c - s).getOrElse(-1L)
            (si, dur)
          }
          stages.sortBy(-_._2).take(8).foreach { case (si, dur) =>
            val m = si.taskMetrics
            println(f"[probe]   stage ${si.stageId}%4d dur=${dur / 1000.0}%8.2f s " +
              f"tasks=${si.numTasks}%3d execRun=${m.executorRunTime / 1000.0}%8.2f s " +
              f"cpu=${m.executorCpuTime / 1e9}%8.2f s gc=${m.jvmGCTime / 1000.0}%6.2f s  " +
              si.name.split("\n").head.take(60))
          }
        }

      case "plan" =>
        names.foreach { name =>
          run(name) { df =>
            // collect(), not count(): count() runs its own QueryExecution
            // and leaves df's plan at isFinalPlan=false.
            df.collect()
            println(s"[probe] ==== $name executed plan ====")
            println(df.queryExecution.executedPlan.toString)
          }
        }

      // Job/stage/task counts in the timed body — the evidence for
      // "this change removed sequential jobs" (the r18 verdict's ask on
      // the barrier-bound pipeline family, where wall is job-count-
      // bound: 8c/32c ≈ 1).
      case "jobs" =>
        names.foreach { name =>
          val (wall, events) = SparkEvents.during(spark.sparkContext)(run(name)().sec)
          val jobs = events.collect { case js: SparkListenerJobStart => js }
          val tasks = events.count(_.isInstanceOf[SparkListenerTaskEnd])
          println(f"[probe] $name%-26s wall=$wall%7.2f s " +
            f"jobs=${jobs.size}%4d stages=${jobs.map(_.stageInfos.size).sum}%4d " +
            f"tasks=$tasks%5d")
        }

      // Per-job trace: one line per job with its callSite and timing —
      // answers WHICH driver actions a 100-job query body is made of.
      case "jobtrace" =>
        names.foreach { name =>
          val (wall, events) = SparkEvents.during(spark.sparkContext)(run(name)().sec)
          println(f"[probe] ==== $name wall=$wall%7.2f s ====")
          val ends = events.collect { case je: SparkListenerJobEnd => je.jobId -> je.time }.toMap
          events.collect { case js: SparkListenerJobStart => js }.sortBy(_.time).foreach { js =>
            val site = Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse(js.stageInfos.headOption.map(_.name.split("\n").head)
                .getOrElse("?"))
            val dur = ends.get(js.jobId)
              .map(t1 => f"${(t1 - js.time) / 1000.0}%7.2f s").getOrElse("  (open)")
            println(f"[probe]   job ${js.jobId}%4d $dur  ${site.take(90)}")
          }
        }

      // `.explain("formatted")` capture for the round's plan-evidence
      // files (plans/rNN/<query>_{before,after}.txt): the formatted
      // initial plan (operator list + PushedFilters/ReadSchema), then
      // the AQE-final executed plan after one run — both in one file so
      // Exchange-count / join-strategy claims are checkable offline.
      case "explain" =>
        names.foreach { name =>
          run(name) { df =>
            println(s"[probe] ==== $name explain(formatted) ====")
            println(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            df.collect()
            println(s"[probe] ==== $name AQE-final executed plan ====")
            println(df.queryExecution.executedPlan.toString)
          }
        }

      case other =>
        sys.error(s"unknown probe mode '$other' " +
          "(wall|warm|stages|plan|jobs|jobtrace|explain)")
    }
    spark.stop()
  }
}
