package graft

/** Scale-probe main: measure the suite's most expensive queries at ×k
  * the benchmark corpus (default ×10 of sf0.1) against their same-JVM
  * 1× walls — the measured point behind the "plans hold at 100×"
  * claims, which until round 13 rested on plan-shape assertions alone.
  *
  * Protocol: synthesize the ×k corpus once ([[graft.engine.ScaleData]],
  * marker-gated), run each probe query once at 1× (doubling as the JVM
  * warm-up for its plan family), then once at ×k, and print ONE JSON
  * line `{"metric":"scale_probe","k":K,"queries":{"qNN":{"base":s,
  * "scaled":s,"ratio":r}},...}`. A ratio near k is linear scaling; a
  * ratio far above k on a non-IO query is a scale bug (quadratic
  * candidate growth, a flipped join) — see BENCH_NOTES.md "Scale
  * probe". Single runs on an oversubscribed host: read ratios as
  * coarse structure (linear vs quadratic), not ±10% performance.
  *
  * Query selection defaults to the top-10 by quiet-host median, i.e.
  * where the suite actually spends its time; override with
  * SPARK_GRAFT_SCALE_ONLY. */
object ScaleProbe {

  /** Top-10 by BENCH_BASELINE.json median as of round 16 (q209 leads,
    * the q214 incremental pipeline enters at #3; every member's ×10 —
    * and for the ANN/eval tier and the round-16 flagship/media probes
    * ×100 — points are in BENCH_NOTES.md's probe tables). */
  val DefaultQueries: Seq[String] = Seq(
    "q209_full_pipeline", "q182_stream_ann_ingest",
    "q214_incremental_pipeline", "q196_dedup_eval",
    "q121_ivfpq_topk", "q23_ngram_jaccard", "q117_pq_topk",
    "q210_adaptive_probe", "q173_stream_funnel_monitor",
    "q181_softdedup_weights")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"${graft.engine.Sinks.scratch}/scale_x$k")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    // A typo'd SCALE_ONLY name silently shrinking the probe would read
    // as "covered" — fail loudly instead (review finding).
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SCALE_ONLY names unregistered queries: ${unknown.mkString(",")}")
    val spark = graft.engine.Sessions.local(cpus)

    val t0 = System.nanoTime()
    graft.engine.ScaleData.synthesize(spark, baseDir, outDir, k)
    System.err.println(
      f"[scale] corpus ×$k at $outDir (${(System.nanoTime() - t0) / 1e9}%.1f s)")

    // Untimed fixture materialization for BOTH corpora, the Bench
    // discipline: a fixture-backed probe query (stored dedup/ANN/model
    // state) must measure the QUERY path at each scale, not a ×k index
    // training inside its scaled window — without this the ratio of a
    // stored-state query reads as its build cost (round-16 residual:
    // q214's first ×10 point carried four index builds).
    Seq(baseDir, outDir).foreach(Bench.warmFixtures(spark, _, names, "scale"))

    // The one parseable stdout line must survive hostile env paths.
    import Bench.{jstr, n2, stageJson}
    // One measured run per (query, scale). Its pipeline stage seconds
    // are kept at BOTH scales so a superlinear stage is measured, not
    // inferred from the total's concavity.
    def run(name: String, dir: String): Bench.RunStats = {
      val r = Bench.measure(spark)(SparkEntry.queries(name)(spark, dir))()
      System.err.println(f"[scale] $name%-26s $dir%-40s ${r.sec}%8.2f s" +
        r.err.map(e => s"  ERR $e").getOrElse(""))
      r
    }

    // Untimed warm-up: the first timed query otherwise absorbs the
    // whole first-in-JVM ramp into its 1× BASE wall (measured 12.85×
    // in Bench), deflating its ratio — a quadratic regression in the
    // suite's most expensive query could still print "linear"
    // (review finding). On a marker-warm corpus this is the JVM's
    // first Spark action, so the warm-up matters most exactly then.
    names.headOption.foreach { name =>
      val w = run(name, baseDir)
      System.err.println(f"[scale] warmup($name) ${w.sec}%.2f s (discarded)")
    }
    val rows = names.map(name => (name, run(name, baseDir), run(name, outDir)))
    val qJson = rows.map { case (name, b, s) =>
      val ratio = if (b.sec > 0 && s.sec >= 0) s.sec / b.sec else -1.0
      val stagePart =
        if (b.stages.isEmpty && s.stages.isEmpty) ""
        else s""","stages_base":${stageJson(b.stages)},""" +
          s""""stages_scaled":${stageJson(s.stages)}"""
      s"""${jstr(name)}:{"base":${n2(b.sec)},"scaled":${n2(s.sec)},""" +
        s""""ratio":${n2(ratio)}$stagePart}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","k":$k,"base_dir":${jstr(baseDir)},""" +
      s""""scaled_dir":${jstr(outDir)},"queries":$qJson}""")
    spark.stop()
  }
}
