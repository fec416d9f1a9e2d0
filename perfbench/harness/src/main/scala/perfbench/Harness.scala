package perfbench

import java.io.{FileWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.engine.{Caches, Sessions}

/** Closed-loop driver for one benchmark run: one client on one session,
  * the next query starting only when the previous one has returned.
  *
  * Set-up (session start, fixture warm-up, one untimed warm pass) runs
  * first; then whole passes over the workload's queries, each pass in a
  * seeded order, until `--seconds` have elapsed and at least [[MinOps]]
  * operations have run. One operation builds the
  * query's DataFrame, forces its physical plan, collects the rows to the
  * driver and digests them, then releases the query's caches. Every
  * operation writes one JSON line to `--out`; the Python side checks the
  * digests and turns the lines into metrics.
  *
  * With `--trace 1` passes alternate between traced (a [[PhaseListener]]
  * attached, each phase under its own job tag) and untraced, so the same
  * run also yields the tracing overhead. */
object Harness {

  final case class Conf(
      workload: String, queries: Vector[String], seed: Long,
      seconds: Double, trace: Boolean, sf: String, cpus: Int, out: String,
      verifyDir: Option[String])

  def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("queries").split(",").toVector, need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("sf"), need("cpus").toInt,
      need("out"), kv.get("verify-dir"))
  }

  /** Process-wide JVM counters: CPU (all threads), JIT and GC time. */
  final case class JvmSnap(cpuNs: Long, jitMs: Long, gcMs: Long)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def jvmSnap(): JvmSnap = JvmSnap(
    os.getProcessCpuTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)

  /** Peak resident set of this process (VmHWM), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  val Phases = Seq("build", "plan", "exec", "release")

  /** A run times at least this many operations, so that the latency tail
    * (the sample with ten samples beyond it) lies above the median. */
  val MinOps = 22

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val out = new PrintWriter(new FileWriter(conf.out), true)
    def emit(fields: (String, Any)*): Unit = out.println(Json.obj(fields: _*))

    val fns = conf.queries.map(q => q -> SparkEntry.queries.getOrElse(q,
      sys.error(s"unknown query $q"))).toMap
    val t0 = System.nanoTime()
    val spark = Sessions.local(conf.cpus.toString)
    val tSession = System.nanoTime()
    SparkEntry.warmFixtures(spark, conf.sf, conf.queries.toSet & SparkEntry.fixtureQueries)
    val tFixtures = System.nanoTime()

    val rng = new Random(conf.seed)
    val scratch = Paths.get(graft.engine.Sinks.scratch)
    var opId = 0L
    val sc = spark.sparkContext
    lazy val listener = new PhaseListener(sc)

    def runOp(q: String, pass: Int, timed: Boolean, traced: Boolean): Unit = {
      opId += 1
      def tag(ph: String) = s"${PhaseListener.Prefix}$opId-$ph"
      val spans = mutable.LinkedHashMap.empty[String, Double]
      var result: Digest.Result = null
      var err: String = null
      var digestS = 0.0
      // A traced phase's timer includes switching its job tag on and off,
      // so the tracing cost is charged to the phase it belongs to.
      def phase[T](ph: String)(body: => T): T = {
        val s = System.nanoTime()
        if (traced) sc.addJobTag(tag(ph))
        try body finally {
          if (traced) sc.removeJobTag(tag(ph))
          spans(ph) = (System.nanoTime() - s) / 1e9
        }
      }
      if (traced) listener.resetPeak()
      val j0 = jvmSnap()
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      try {
        val df: DataFrame = phase("build")(fns(q)(spark, conf.sf))
        phase("plan")(df.queryExecution.executedPlan)
        result = phase("exec") {
          val rows = df.collect()
          val d0 = System.nanoTime()
          val r = Digest.of(df.schema, rows)
          digestS = (System.nanoTime() - d0) / 1e9
          r
        }
      } catch {
        case NonFatal(e) =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(400)
      } finally {
        phase("release") { Caches.release(); spark.catalog.clearCache() }
      }
      val wall = (System.nanoTime() - start) / 1e9
      val endMs = System.currentTimeMillis()
      val j1 = jvmSnap()
      val rec = mutable.LinkedHashMap[String, Any](
        "kind" -> "op", "op" -> opId, "q" -> q, "pass" -> pass, "timed" -> timed,
        "traced" -> traced, "wall_s" -> wall,
        "rows" -> Option(result).map(_.rows).orNull,
        "hash" -> Option(result).map(_.hash).orNull, "err" -> err,
        "digest_s" -> digestS,
        "cpu_s" -> (j1.cpuNs - j0.cpuNs) / 1e9, "jit_s" -> (j1.jitMs - j0.jitMs) / 1e3,
        "gc_s" -> (j1.gcMs - j0.gcMs) / 1e3)
      Phases.foreach(ph => rec(s"${ph}_s") = spans.getOrElse(ph, 0.0))
      if (traced) {
        listener.drain()
        val accs = Phases.map(ph => ph -> listener.take(tag(ph)))
        listener.forgetStages(Phases.map(tag).toSet)
        accs.foreach { case (ph, a) => rec(s"${ph}_jobs") = a.jobs }
        val all = accs.map(_._2)
        def sum(f: listener.Acc => Long) = all.map(f).sum
        rec ++= Seq(
          "untagged_jobs" -> listener.untaggedJobs(startMs, endMs),
          "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
          "tasks_failed" -> sum(_.tasksFailed),
          "task_run_s" -> sum(_.runMs) / 1e3, "task_cpu_s" -> sum(_.cpuNs) / 1e9,
          "shuffle_write_b" -> sum(_.shuffleWrite), "shuffle_read_b" -> sum(_.shuffleRead),
          "spill_b" -> sum(_.spill), "input_b" -> sum(_.inputBytes),
          "input_records" -> sum(_.inputRecords), "output_b" -> sum(_.outputBytes),
          "busy_s" -> busySeconds(all.flatMap(_.taskSpans), startMs, endMs),
          "window_ms" -> (endMs - startMs),
          "peak_stored_b" -> listener.peakStoredBytes,
          "files_written" -> filesWrittenSince(scratch, startMs))
      }
      emit(rec.toSeq: _*)
    }

    def pass(p: Int, timed: Boolean, traced: Boolean): Unit =
      rng.shuffle(conf.queries).foreach(q => runOp(q, p, timed, traced))

    pass(0, timed = false, traced = false)
    val tWarm = System.nanoTime()
    emit("kind" -> "setup",
      "setup_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "session_s" -> (tSession - t0) / 1e9, "fixtures_s" -> (tFixtures - tSession) / 1e9,
      "warm_s" -> (tWarm - tFixtures) / 1e9)

    val w0 = System.nanoTime()
    val j0 = jvmSnap()
    var p = 0
    // Whole passes only, so every run weighs each query equally; a traced
    // run alternates traced and untraced passes and makes at least one of each.
    def more = p * conf.queries.size < MinOps || (conf.trace && p < 2) ||
      (System.nanoTime() - w0) / 1e9 < conf.seconds
    while (more) {
      p += 1
      val traced = conf.trace && p % 2 == 1
      if (traced) sc.addSparkListener(listener)
      pass(p, timed = true, traced)
      if (traced) sc.removeSparkListener(listener)
    }
    val j1 = jvmSnap()
    emit("kind" -> "window", "window_s" -> (System.nanoTime() - w0) / 1e9,
      "passes" -> p, "cpu_s" -> (j1.cpuNs - j0.cpuNs) / 1e9,
      "jit_s" -> (j1.jitMs - j0.jitMs) / 1e3, "gc_s" -> (j1.gcMs - j0.gcMs) / 1e3)
    // Digests of a Verify run's parquet output, for cutting expected digests
    // from results the DuckDB oracle has passed.
    conf.verifyDir.foreach { dir =>
      conf.queries.foreach { q =>
        val df = spark.read.parquet(s"$dir/$q")
        val d = Digest.of(df.schema, df.collect())
        emit("kind" -> "verify", "q" -> q, "rows" -> d.rows, "hash" -> d.hash)
      }
    }
    emit("kind" -> "end", "vm_hwm_kb" -> vmHwmKb(),
      "cores" -> Runtime.getRuntime.availableProcessors(), "cpus" -> conf.cpus,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "seed" -> conf.seed, "workload" -> conf.workload)
    spark.stop()
    out.close()
  }

  /** Seconds of [fromMs, toMs] during which at least one task ran. */
  def busySeconds(spans: Seq[(Long, Long)], fromMs: Long, toMs: Long): Double = {
    var covered = 0L
    var end = fromMs
    spans.map { case (s, e) => (s max fromMs, e min toMs) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - (s max end); end = e }
      }
    covered / 1e3
  }

  /** Regular files under `root` last modified at or after `sinceMs`. */
  def filesWrittenSince(root: Path, sinceMs: Long): Long =
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count { p =>
        Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs
      }.toLong
      finally s.close()
    }
}

/** Just enough JSON for the harness's flat records. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
