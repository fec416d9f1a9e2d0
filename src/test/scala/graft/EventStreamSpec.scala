package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.Tables
import graft.streaming.EventStream

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class Doc(ts: Timestamp, doc_id: Long, text: String)

class EventStreamSpec extends SparkSpec {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("batch mode: windowed KPIs over the events table") {
    val out = EventStream.windowedKpis(Tables.events(spark, sf)).cache()
    assert(out.count() > 0)
    // Tumbling windows: every start is aligned to the hour.
    assert(out.filter(minute(col("window_start")) =!= 0).count() == 0)
    // Counts reconcile to the raw table.
    val total = out.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
    out.unpersist()
  }

  test("streaming: tumbling windows finalize via watermark; late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Ev]
    val sink = EventStream.windowedKpis(source.toDF(),
        windowDur = "1 hour", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("ev_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window [10:00, 11:00): two events, one "delayed" (value > 100).
      source.addData(
        Ev(t("2024-01-01 10:05:00"), "click", 50.0),
        Ev(t("2024-01-01 10:20:00"), "click", 150.0))
      sink.processAllAvailable()
      // Nothing finalized yet — watermark still inside the window.
      assert(spark.table("ev_sink").count() == 0)
      // An event at 12:00 pushes the watermark to 11:50 > 11:00, so the
      // 10:00 window finalizes on the following micro-batch.
      source.addData(Ev(t("2024-01-01 12:00:00"), "click", 10.0))
      sink.processAllAvailable()
      val rows = spark.table("ev_sink")
        .filter(col("window_start") === t("2024-01-01 10:00:00")).collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n_events") == 2L)
      assert(rows(0).getAs[Long]("n_delayed") == 1L)
      // A late event behind the watermark is dropped — the finalized
      // window is NOT re-emitted and no new 10:00 row appears.
      source.addData(Ev(t("2024-01-01 10:40:00"), "click", 999.0))
      sink.processAllAvailable()
      assert(spark.table("ev_sink")
        .filter(col("window_start") === t("2024-01-01 10:00:00")).count() == 1)
    } finally sink.stop()
  }

  test("streaming parquet sink: end-to-end round-trip with state eviction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = s"${graft.engine.Sinks.scratch}/ev-parquet-sink"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val source = MemoryStream[Ev]
    val sink = EventStream.startParquetSink(
      EventStream.windowedKpis(source.toDF(),
        windowDur = "1 hour", watermarkDelay = "10 minutes"),
      path = s"$root/data", checkpointDir = s"$root/chk",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Two types in the 10:00 window → two state rows, nothing written.
      source.addData(
        Ev(t("2024-01-01 10:05:00"), "click", 50.0),
        Ev(t("2024-01-01 10:20:00"), "view", 150.0))
      sink.processAllAvailable()
      // 13:00 event → watermark 12:50 → the 10:00 window finalizes: its
      // rows land in parquet and its state rows are evicted.
      source.addData(Ev(t("2024-01-01 13:00:00"), "click", 10.0))
      sink.processAllAvailable()
      val written = spark.read.parquet(s"$root/data")
      assert(written.count() == 2)
      assert(written.filter(col("window_start") =!= t("2024-01-01 10:00:00"))
        .count() == 0)
      assert(written.filter(col("event_type") === "view")
        .head().getAs[Long]("n_delayed") == 1L)
      // State eviction: only the open 13:00 window's row remains.
      val state = sink.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(state.numRowsTotal == 1,
        s"expected finalized windows evicted, state holds ${state.numRowsTotal}")
    } finally sink.stop()
  }

  test("streaming sessionization (flatMapGroupsWithState) == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStream.SessEvent
    // user 7: two sessions (gap 30 min) — the second closes INLINE when
    // the third event arrives past the gap. user 8: one session, closed
    // by EVENT-TIME TIMEOUT when the watermark passes end+gap.
    // user 8's event must ship in the FIRST micro-batch: with a 0s
    // watermark delay it would be late (and dropped) once the 10:10
    // event has advanced the watermark.
    val evs = Seq(
      SessEvent(7L, 1L, t("2024-01-01 10:00:00"), 10.5),
      SessEvent(7L, 2L, t("2024-01-01 10:10:00"), 2.25),
      SessEvent(8L, 4L, t("2024-01-01 10:05:00"), 7.125),
      SessEvent(7L, 3L, t("2024-01-01 12:00:00"), 1.0))
    val source = MemoryStream[SessEvent]
    val sink = graft.streaming.EventStream.sessionizeStream(
      source.toDS().withWatermark("ts", "0 seconds").as[SessEvent],
      gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(evs.take(3)) // user 7 session 1 + user 8 open
      sink.processAllAvailable()
      source.addData(evs.drop(3)) // 12:00 closes user 7 s1 inline
      sink.processAllAvailable()
      // Watermark is now 12:00; a far-future event pushes it past every
      // open session's end+gap, firing the timeouts.
      source.addData(SessEvent(99L, 5L, t("2024-01-02 00:00:00"), 0.0))
      sink.processAllAvailable()
      val streamed = spark.table("sess_sink")
        .filter(col("user_id").isin(7L, 8L))
        .select("user_id", "session_idx", "session_start", "session_end",
          "n_events", "total_value")
      val batch = graft.streaming.EventStream.sessionsBatch(
        evs.toDF().select(col("user_id"), col("event_id"), col("ts"),
          col("value")), gapMinutes = 30)
        .select("user_id", "session_idx", "session_start", "session_end",
          "n_events", "total_value")
      assert(streamed.count() == 3) // 2 sessions for user 7, 1 for user 8
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally sink.stop()
  }

  test("streaming dedup drops within-watermark duplicates and evicts expired fingerprints") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Doc]
    val sink = EventStream.dedupStream(source.toDF(), "ts", "text",
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // Three arrivals of the same text inside the watermark horizon:
      // first-seen wins, the rest are swallowed; a distinct text passes.
      source.addData(
        Doc(t("2024-01-01 10:00:00"), 1L, "alpha beta"),
        Doc(t("2024-01-01 10:02:00"), 2L, "alpha beta"),
        Doc(t("2024-01-01 10:03:00"), 3L, "gamma"))
      sink.processAllAvailable()
      source.addData(Doc(t("2024-01-01 10:05:00"), 4L, "alpha beta"))
      sink.processAllAvailable()
      val first = spark.table("dedup_sink")
      assert(first.count() == 2)
      assert(first.filter(col("text") === "alpha beta")
        .head().getAs[Long]("doc_id") == 1L)
      // Push the watermark past 10:00 + 10 min: the "alpha beta"
      // fingerprint's state is evicted, so a far-later duplicate is a NEW
      // document and is emitted again.
      source.addData(Doc(t("2024-01-01 11:00:00"), 5L, "delta"))
      sink.processAllAvailable()
      source.addData(Doc(t("2024-01-01 10:59:00"), 6L, "alpha beta"))
      sink.processAllAvailable()
      assert(spark.table("dedup_sink")
        .filter(col("text") === "alpha beta").count() == 2)
      // Bounded state: expired fingerprints are gone from the state store.
      val state = sink.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(state.numRowsTotal <= 3,
        s"expected expired fingerprints evicted, state holds ${state.numRowsTotal}")
    } finally sink.stop()
  }

  test("streaming foreachBatch bridge reuses the batch parquet sink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = s"${graft.engine.Sinks.scratch}/ev-feb-sink"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val source = MemoryStream[Ev]
    val sink = EventStream.startForeachBatchSink(
      EventStream.windowedKpis(source.toDF(),
        windowDur = "1 hour", watermarkDelay = "10 minutes"),
      path = s"$root/data", checkpointDir = s"$root/chk")
    try {
      source.addData(
        Ev(t("2024-01-01 10:05:00"), "click", 50.0),
        Ev(t("2024-01-01 10:20:00"), "click", 150.0))
      sink.processAllAvailable()
      source.addData(Ev(t("2024-01-01 13:00:00"), "click", 10.0))
      sink.processAllAvailable()
      val written = spark.read.parquet(s"$root/data")
      val row = written.head()
      assert(written.count() == 1)
      assert(row.getAs[Long]("n_events") == 2L)
      assert(row.getAs[Long]("n_delayed") == 1L)
    } finally sink.stop()
  }

  test("session_window sessions: inclusive-gap merge, end = last + gap") {
    import spark.implicits._
    val events = Seq(
      // User 1: an event EXACTLY 30:00 after its predecessor still
      // merges (adjacent windows touch and Spark merges them — the
      // same inclusive boundary as the lag-based batch form); one a
      // microsecond past the gap would split.
      (1L, t("2024-01-01 10:00:00"), 1.0),
      (1L, t("2024-01-01 10:29:59"), 2.0),
      (1L, t("2024-01-01 10:59:59"), 4.0),
      (1L, t("2024-01-01 11:29:59.000001"), 16.0),
      (2L, t("2024-01-01 09:00:00"), 8.0))
      .toDF("user_id", "ts", "value")
    val got = EventStream.sessionsViaSessionWindow(events, gapMinutes = 30)
      .orderBy("user_id", "session_start").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Timestamp]("session_start") == t("2024-01-01 10:00:00"))
    // Window end = last event + gap; the exact-gap event merged in.
    assert(got(0).getAs[Timestamp]("session_end") == t("2024-01-01 11:29:59"))
    assert(got(0).getAs[Long]("n_events") == 3L)
    assert(got(0).getAs[Double]("total_value") == 7.0)
    assert(got(1).getAs[Timestamp]("session_start") ==
      t("2024-01-01 11:29:59.000001"))
    assert(got(1).getAs[Long]("n_events") == 1L)
  }

  test("streaming: stream-stream attribution join emits the batch twin's rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = Seq(
      Vw(1L, 10L, t("2024-01-01 10:00:00")),
      Vw(1L, 11L, t("2024-01-01 10:30:00")),
      Vw(2L, 12L, t("2024-01-01 10:00:00")))
    val purchases = Seq(
      Pu(1L, 100L, t("2024-01-01 10:45:00")),
      Pu(2L, 101L, t("2024-01-01 12:00:00")))
    val vSrc = MemoryStream[Vw]
    val pSrc = MemoryStream[Pu]
    val sink = EventStream.attributionJoin(vSrc.toDF(), pSrc.toDF(),
        lookbackMinutes = 60)
      .writeStream.format("memory").queryName("attr_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      vSrc.addData(views: _*)
      pSrc.addData(purchases: _*)
      sink.processAllAvailable()
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // Purchase 100 attributes to both in-window views of user 1;
      // purchase 101's only candidate view is 2 h old — outside the
      // 60-minute lookback.
      val got = pairs(spark.table("attr_sink"))
      assert(got == Set((100L, 10L), (100L, 11L)))
      assert(got == pairs(EventStream.attributionJoin(
        views.toDF(), purchases.toDF(), lookbackMinutes = 60)))
    } finally sink.stop()
  }

  test("streaming: stream-static enrichment is stateless, broadcast, == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, 600.0), (2L, 50.0)).toDF("user_id", "ltv")
    val evs = Seq(
      UserEv(1L, "click", 1.0), UserEv(2L, "view", 2.0),
      UserEv(3L, "click", 3.0)) // user 3 has no dim row → null ltv
    val src = MemoryStream[UserEv]
    val sink = EventStream.enrichWithDim(src.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(evs: _*)
      sink.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("user_id"), col("event_type"),
          coalesce(col("ltv"), lit(-1.0)).as("ltv"))
        .as[(Long, String, Double)].collect().toSet
      val got = rows(spark.table("enrich_sink"))
      assert(got == Set((1L, "click", 600.0), (2L, "view", 50.0),
        (3L, "click", -1.0)))
      assert(got == rows(EventStream.enrichWithDim(evs.toDF(), dim, "user_id")))
      // Stateless: no state store operator; lookup rides a broadcast,
      // not a shuffle.
      val p = sink.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution
        .executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"dim lookup must broadcast:\n$p")
      assert(!p.contains("StateStore"), s"stream-static join must hold no state:\n$p")
    } finally sink.stop()
  }

  test("streaming upsert sink: latest-per-key across batches, within-batch newest wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = s"${graft.engine.Sinks.scratch}/upsert-sink-spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, root)
    val src = MemoryStream[Chg]
    def drain(): Unit = {
      val q = EventStream.startUpsertSink(src.toDF(), s"$root/t",
        s"$root/cp", key = "k", orderCol = "ver")
      q.awaitTermination()
    }
    def manifests(): Seq[String] = {
      val fsl = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsl.listStatus(new org.apache.hadoop.fs.Path(s"$root/t")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("MANIFEST-")).sorted
    }
    // Batch 1: keys 1, 2 — key 1 twice in ONE batch, ver 2 must win.
    src.addData(Chg(1L, "a-v1", 1L), Chg(1L, "a-v2", 2L), Chg(2L, "b-v1", 1L))
    drain()
    def state(): Map[Long, (String, Long)] =
      EventStream.readUpsertTable(spark, s"$root/t").as[Chg].collect()
        .map(c => c.k -> (c.v, c.ver)).toMap
    assert(state() == Map(1L -> ("a-v2", 2L), 2L -> ("b-v1", 1L)))
    // Batch 2: key 2 updated, key 3 inserted, key 1 untouched (carried).
    src.addData(Chg(2L, "b-v2", 2L), Chg(3L, "c-v1", 1L))
    drain()
    assert(state() == Map(1L -> ("a-v2", 2L), 2L -> ("b-v2", 2L),
      3L -> ("c-v1", 1L)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.engine.Manifests
    // Crash window: a death AFTER the segment write but BEFORE the
    // marker leaves an unpublished orphan segment holding stale
    // content — AND this writer's own claim (the sink commits through
    // Manifests now). The replay must reclaim its own claim
    // (single-writer structurally, via the checkpoint), resolve the
    // PUBLISHED version, merge against it (keys 1 and 3 survive), and
    // overwrite the orphan — never read it.
    Seq(Chg(9L, "stale-orphan", 9L)).toDF()
      .write.mode("overwrite").parquet(s"$root/t/seg00000003/t")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/t/CLAIM-00000003"), true).close()
    // A malformed MANIFEST-prefixed stray must survive BOTH resolution
    // and the post-publish GC sweep — an unguarded parse in either
    // crashes the micro-batch, and since the stray persists, every
    // checkpoint replay re-crashes (a wedged query).
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/t/MANIFEST-not-a-number"), true).close()
    src.addData(Chg(2L, "b-v3", 3L))
    drain()
    assert(state() == Map(1L -> ("a-v2", 2L), 2L -> ("b-v3", 3L),
      3L -> ("c-v1", 1L)))
    assert(!state().contains(9L), "unpublished orphan content must be swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/t/MANIFEST-not-a-number")),
      "GC must tolerate (and not delete) a malformed marker stray")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/t/MANIFEST-not-a-number"), false)
    // GC horizon: keepVersions = 2 (the default), so after three
    // batches only the two newest published versions remain — markers,
    // manifest files, and segments all swept below it.
    assert(manifests() == Seq("MANIFEST-00000002", "MANIFEST-00000003"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(s"$root/t", 1L))))
    // Crash window: a death inside GC after deleting an old marker but
    // before its segment leaves an UNREACHABLE orphan dir. It must
    // never be read, and the next batch's list-based GC reclaims it
    // (everything below the keep horizon is swept, published or not).
    Seq(Chg(8L, "gc-orphan", 8L)).toDF().write.mode("overwrite")
      .parquet(s"${Manifests.segDir(s"$root/t", 1L)}/t")
    src.addData(Chg(4L, "d-v1", 1L))
    drain()
    assert(state() == Map(1L -> ("a-v2", 2L), 2L -> ("b-v3", 3L),
      3L -> ("c-v1", 1L), 4L -> ("d-v1", 1L)))
    assert(manifests() == Seq("MANIFEST-00000003", "MANIFEST-00000004"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(s"$root/t", 1L))),
      "a segment orphaned by a crash mid-GC must be reclaimed, not leak")
    // Replays are idempotent per (key, batch): re-running the same
    // logical change advances the version but not the answer.
    src.addData(Chg(4L, "d-v2", 2L))
    drain()
    assert(state() == Map(1L -> ("a-v2", 2L), 2L -> ("b-v3", 3L),
      3L -> ("c-v1", 1L), 4L -> ("d-v2", 2L)))
    // The unification dividend: batch boundaries are first-class
    // versions — history shows the kept upsert commits, and a pinned
    // read answers with the state as of that batch.
    val hist = Manifests.history(spark, s"$root/t")
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((4L, "upsert"), (5L, "upsert")),
      s"upsert history must list the kept batch commits: $hist")
    val pinned = EventStream.readUpsertTableAt(spark, s"$root/t",
        Some(4L)).as[Chg].collect().map(c => c.k -> c.v).toMap
    assert(pinned == Map(1L -> "a-v2", 2L -> "b-v3", 3L -> "c-v1",
      4L -> "d-v1"), s"VERSION AS OF must answer pre-batch-5: $pinned")
    assertThrows[java.io.FileNotFoundException](
      EventStream.readUpsertTableAt(spark, s"$root/t", Some(1L)))
    // Cold start beside garbage: no markers at all plus a partial
    // unpublished segment → the batch rebuilds from its own rows only.
    (1L to 5L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(
        f"$root/t/MANIFEST-$v%08d"), false)
      fs.delete(new org.apache.hadoop.fs.Path(f"$root/t/v$v%08d"), false)
      fs.delete(new org.apache.hadoop.fs.Path(
        Manifests.segDir(s"$root/t", v)), true)
    }
    Seq(Chg(9L, "stale-partial", 9L)).toDF().write.mode("overwrite")
      .parquet(s"${Manifests.segDir(s"$root/t", 1L)}/t")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${Manifests.segDir(s"$root/t", 1L)}/t/_SUCCESS"), false)
    src.addData(Chg(7L, "g-v1", 1L))
    drain()
    assert(state() == Map(7L -> ("g-v1", 1L)))
  }

  test("streaming OHLC == batch twin; open/close state is struct-argmin, watermark finalizes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[OhlcEv]
    val sink = EventStream.streamingOhlc(source.toDF())
      .writeStream.format("memory").queryName("ohlc_sink")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // Same-ts tie at the open (ids 2 then 1 — id order must win),
      // out-of-order arrival (the 10:59 close arrives before 10:30).
      val batch = Seq(
        OhlcEv(2L, t("2024-01-01 10:00:05"), "view", 7.0),
        OhlcEv(1L, t("2024-01-01 10:00:05"), "view", 3.0),
        OhlcEv(3L, t("2024-01-01 10:59:59"), "view", 1.0),
        OhlcEv(4L, t("2024-01-01 10:30:00"), "view", 9.0))
      source.addData(batch: _*)
      sink.processAllAvailable()
      assert(spark.table("ohlc_sink").count() == 0) // not finalized yet
      source.addData(OhlcEv(5L, t("2024-01-01 12:00:00"), "view", 4.0))
      sink.processAllAvailable()
      val got = spark.table("ohlc_sink")
        .filter(col("bucket") === t("2024-01-01 10:00:00")).collect()
      assert(got.length == 1)
      val r = got.head
      assert((r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Long]("n_events"), r.getAs[Double]("volume")) ==
        ((3.0, 9.0, 1.0, 1.0, 4L, 20.0)))
      // Exactly the batch operator's row for the same events.
      val b = graft.operators.EventAnalytics.ohlcBars(batch.toDF())
        .filter(col("bucket") === t("2024-01-01 10:00:00")).collect().head
      assert(b.getDouble(2) == 3.0 && b.getDouble(5) == 1.0 &&
        b.getLong(6) == 4L && b.getDouble(7) == 20.0)
    } finally sink.stop()
  }

  test("upsert sink exactly-once: a replayed (app, batch id) is a no-op; a new id or NEW CHECKPOINT applies") {
    import spark.implicits._
    val root = s"${graft.engine.Sinks.scratch}/upsert-txn-spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, root)
    val t = s"$root/t"
    def apply(batchId: Long, rs: Seq[Chg], app: String = "cp-A"): Unit =
      EventStream.applyUpsertBatch(rs.toDF(), batchId, t,
        key = "k", orderCol = "ver", keepVersions = 2, appId = app)
    def state(): Map[Long, String] =
      EventStream.readUpsertTable(spark, t).as[Chg].collect()
        .map(c => c.k -> c.v).toMap
    apply(0L, Seq(Chg(1L, "a-v1", 1L)))
    assert(graft.engine.Manifests.liveVersion(spark, t).contains(1L))
    assert(graft.engine.Manifests.commitMeta(spark, t, 1L)
      .get("batch_id").contains("0"), "the commit must record its batch id")
    assert(graft.engine.Manifests.commitMeta(spark, t, 1L)
      .get("txn_app").contains("cp-A"),
      "the commit must record its checkpoint identity")
    // The crash-between-table-commit-and-checkpoint-commit window:
    // foreachBatch re-delivers batch 0. The recorded (app, id) makes
    // the replay a NO-OP — version unchanged, not an answer-identical
    // extra commit (the at-least-once shape this upgrade removes).
    apply(0L, Seq(Chg(1L, "a-v1", 1L)))
    assert(graft.engine.Manifests.liveVersion(spark, t).contains(1L),
      "a replayed batch id must not publish")
    // A replay with DIFFERENT content for the same id is still
    // skipped — the first commit of an id is durable truth (the
    // streaming engine re-delivers the same data for one id; this
    // guard is about crash windows, not content merging).
    apply(0L, Seq(Chg(9L, "ghost", 9L)))
    assert(state() == Map(1L -> "a-v1"))
    // Monotone progress: the next id applies and records itself.
    apply(1L, Seq(Chg(2L, "b-v1", 1L)))
    assert(graft.engine.Manifests.liveVersion(spark, t).contains(2L))
    assert(state() == Map(1L -> "a-v1", 2L -> "b-v1"))
    assert(graft.engine.Manifests.commitMeta(spark, t, 2L)
      .get("batch_id").contains("1"))
    // A NEW checkpoint over the existing table restarts batch ids at
    // 0 — the skip is scoped to the checkpoint identity, so the new
    // stream's first batches APPLY instead of being silently dropped
    // (the data-loss shape an unscoped guard would have).
    apply(0L, Seq(Chg(3L, "c-v1", 1L)), app = "cp-B")
    assert(graft.engine.Manifests.liveVersion(spark, t).contains(3L),
      "a new checkpoint's batch 0 must apply over a higher recorded id")
    assert(state() == Map(1L -> "a-v1", 2L -> "b-v1", 3L -> "c-v1"))
  }

  test("twoRunUpsert: file-source two-run fold equals global newest-per-key") {
    import spark.implicits._
    val root = s"${graft.engine.Sinks.scratch}/two-run-upsert-spec"
    // ver strictly increases from batch 1 to batch 2 (q123's split
    // contract), so the fold must equal argmax(ver) per key: key 1
    // carried forward untouched, key 2 replaced, key 3 inserted.
    val b1 = Seq(Chg(1L, "a-v1", 1L), Chg(1L, "a-v2", 2L), Chg(2L, "b-v1", 3L))
    val b2 = Seq(Chg(2L, "b-v2", 4L), Chg(3L, "c-v1", 5L))
    val got = EventStream.twoRunUpsert(spark, b1.toDF(), b2.toDF(), root,
        key = "k", orderCol = "ver")
      .as[Chg].collect().map(c => c.k -> (c.v, c.ver)).toMap
    assert(got == Map(1L -> ("a-v2", 2L), 2L -> ("b-v2", 4L),
      3L -> ("c-v1", 5L)))
  }

  test("readUpsertTable: manifest resolution, orphan blindness, race-free concurrent reads") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = s"${graft.engine.Sinks.scratch}/upsert-reader-spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, root)
    val t = s"$root/t"
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.engine.Manifests
    def rows(): Set[Long] =
      EventStream.readUpsertTable(spark, t).as[Chg].collect().map(_.k).toSet
    // The sink's exact commit layout, hand-written: segment + manifest
    // file + marker (what Manifests.publish emits for a one-table
    // rebuild commit).
    def publish(v: Long, rs: Seq[Chg]): Unit = {
      rs.toDF().write.mode("overwrite")
        .parquet(s"${Manifests.segDir(t, v)}/t")
      val out = fs.create(new Path(t, f"v$v%08d"), true)
      try out.write(f"t\tseg$v%08d/t".getBytes("UTF-8"))
      finally out.close()
      fs.create(new Path(f"$t/MANIFEST-$v%08d"), false).close()
    }
    // Uninitialized sink: no published version anywhere → loud failure,
    // even when an UNPUBLISHED orphan segment sits there (never read).
    Seq(Chg(9L, "orphan", 1L)).toDF()
      .write.parquet(s"${Manifests.segDir(t, 1L)}/t")
    assertThrows[java.io.FileNotFoundException](rows())
    fs.delete(new Path(Manifests.segDir(t, 1L)), true)
    // Normal state: the greatest published marker wins; a NEWER orphan
    // segment without its marker is invisible (crash before publish).
    publish(1L, Seq(Chg(1L, "a", 1L)))
    assert(rows() == Set(1L))
    Seq(Chg(9L, "orphan", 1L)).toDF()
      .write.parquet(s"${Manifests.segDir(t, 2L)}/t")
    assert(rows() == Set(1L), "an unpublished version must be invisible")
    // Publishing v2 flips resolution atomically; stale v1 still being
    // present (GC not yet run) changes nothing. A malformed
    // MANIFEST-prefixed stray file is ignored, not a crash.
    fs.delete(new Path(Manifests.segDir(t, 2L)), true)
    publish(2L, Seq(Chg(1L, "a", 1L), Chg(2L, "b", 1L)))
    fs.create(new Path(s"$t/MANIFEST-not-a-number"), true).close()
    assert(rows() == Set(1L, 2L))
    fs.delete(new Path(s"$t/MANIFEST-not-a-number"), false)
    fs.delete(new Path(s"$t/MANIFEST-00000001"), false)
    fs.delete(new Path(s"$t/v00000001"), false)
    fs.delete(new Path(Manifests.segDir(t, 1L)), true)
    // Concurrent commits: a writer thread loops the sink's exact
    // publish sequence (write seg<next> → manifest → marker → GC
    // below the keep horizon) while the reader polls. Published
    // versions are immutable, and the keep horizon (4 here — sized to
    // the longest reader, per the keepVersions contract, so a read
    // that spans several commits on a loaded host still holds a live
    // snapshot) means the version a reader resolves survives every
    // commit that can land during its read — so EVERY read must
    // succeed with a valid version's key-set. No tolerated failure
    // causes: any exception fails the test. (This is the property the
    // old staged-swap protocol could not give; its spec tolerated
    // four enumerated race spellings.)
    @volatile var writerDone = false
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() => {
      try {
        for (i <- 3 to 14) {
          val rs = if (i % 2 == 0) Seq(Chg(1L, "a", 1L), Chg(2L, "b", 1L))
            else Seq(Chg(1L, "a", 1L))
          publish(i.toLong, rs)
          val keepFrom = i - 3
          fs.listStatus(new Path(t)).toSeq.map(_.getPath.getName).foreach {
            n =>
              if (n.startsWith("MANIFEST-") &&
                  n.stripPrefix("MANIFEST-").toLong < keepFrom)
                fs.delete(new Path(t, n), false)
          }
          fs.listStatus(new Path(t)).toSeq.map(_.getPath.getName).foreach {
            n =>
              if ((n.startsWith("v") || n.startsWith("seg")) &&
                  n.dropWhile(!_.isDigit).forall(_.isDigit) &&
                  n.dropWhile(!_.isDigit).toLong < keepFrom)
                fs.delete(new Path(t, n), true)
          }
          Thread.sleep(100)
        }
      } catch { case e: Throwable => writerErr = e }
      finally writerDone = true
    })
    writer.start()
    var ok = 0
    val valid = Set(Set(1L), Set(1L, 2L))
    while (!writerDone) {
      assert(valid(rows()), "reader observed a partial/invalid state")
      ok += 1
    }
    writer.join()
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(ok > 0, "no read completed during the commit storm")
    assert(rows() == Set(1L, 2L)) // final state: version 14, even = v2
  }
}

case class Chg(k: Long, v: String, ver: Long)

case class OhlcEv(event_id: Long, ts: Timestamp, event_type: String,
    value: Double)

case class Vw(user_id: Long, view_id: Long, view_ts: Timestamp)
case class Pu(user_id: Long, purchase_id: Long, purchase_ts: Timestamp)
case class UserEv(user_id: Long, event_type: String, value: Double)
