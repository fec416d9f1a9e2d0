package graft

/** Lifecycle-verb scale probe: time the STORE OPERATIONS — clone,
  * rollback/restore, history — on the warm MinHash store at 1× and ×k
  * (default ×100), the measured point behind the lifecycle family's
  * scale claims: CLONE wall is index-bytes-bound (one distributed task
  * per file — the round-18 rewrite of the driver-serial copy), while
  * ROLLBACK and HISTORY are metadata-only and must read
  * corpus-size-INDEPENDENT.
  *
  * The probe never mutates the shared fixtures: the clone op itself
  * produces the scratch twin the rollback/history ops then run on
  * (clone first is also the realistic order — branch a store, then
  * operate on the branch). Emits ONE JSON line
  * `{"metric":"lifecycle_probe","k":K,"stores":{"base":{...},"xK":{...}}}`
  * with per-scale file/byte counts beside the walls, so "flat in file
  * count at fixed bytes-per-task" is readable from the artifact. */
object LifecycleProbe {

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "100").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"${graft.engine.Sinks.scratch}/scale_x$k")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.local(cpus)
    val conf = spark.sparkContext.hadoopConfiguration

    val t0 = System.nanoTime()
    graft.engine.ScaleData.synthesize(spark, baseDir, outDir, k)
    System.err.println(
      f"[lifecycle] corpus ×$k at $outDir (${(System.nanoTime() - t0) / 1e9}%.1f s)")

    import Bench.n2
    def timed[A](what: String)(f: => A): (A, Double) = {
      val s0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[lifecycle] $what%-40s $sec%8.2f s")
      (r, sec)
    }

    val rows = Seq("base" -> baseDir, s"x$k" -> outDir).map {
      case (label, dir) =>
        // Untimed: the stored fixture is the probe's input, not its
        // subject (the ScaleProbe discipline). Without it there is no
        // store to probe, so a failed build stops the probe.
        Bench.warmFixtures(spark, dir, Seq("q148_minhash_stored_dedup"),
          "lifecycle").foreach(throw _)
        val src = SparkEntry.storedDedupIndex(spark, dir, "minhash")
        val snap = graft.engine.Manifests.snapshot(spark, src).get
        val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
        val (files, bytes) = snap.tables.values.flatten.foldLeft((0L, 0L)) {
          case ((f0, b0), r) =>
            val cs = fs.getContentSummary(
              new org.apache.hadoop.fs.Path(s"$src/$r"))
            (f0 + cs.getFileCount, b0 + cs.getLength)
        }
        val tmp = s"${graft.engine.Sinks.scratch}/lifecycle_probe_$label"
        graft.streaming.IncrementalIngest.deleteDir(spark, tmp)
        val (_, cloneSec) = timed(s"clone($label)") {
          graft.engine.Manifests.cloneSnapshot(spark, src, tmp)
        }
        val (_, rollbackSec) = timed(s"rollback($label)") {
          graft.engine.Manifests.rollback(spark, tmp, 1L)
        }
        val (_, historySec) = timed(s"history($label)") {
          graft.engine.Manifests.history(spark, tmp).collect()
        }
        graft.streaming.IncrementalIngest.deleteDir(spark, tmp)
        label -> ((files, bytes, cloneSec, rollbackSec, historySec))
    }
    val json = rows.map { case (l, (f, b, c, r, h)) =>
      s""""$l":{"files":$f,"bytes":$b,"clone":${n2(c)},""" +
        s""""rollback":${n2(r)},"history":${n2(h)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"lifecycle_probe","k":$k,"stores":$json}""")
    spark.stop()
  }
}
