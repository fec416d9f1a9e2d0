package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.engine.{Aggregates, Sinks}

/** Structured Streaming extension (SURVEY.md §2.I/§7 — explicitly beyond
  * the reference, whose "real-time" is interactive re-filtering of batch
  * caches, `/root/reference/src/app.py:56-87`). This is the idiomatic
  * Spark restatement of the product's "live KPI" claim: tumbling
  * event-time windows with a watermark bounding state.
  *
  * The same plan runs in batch mode (`withWatermark` is a no-op on a
  * batch DataFrame), which is how the DuckDB oracle covers the window
  * operator; the streaming path is covered by a `MemoryStream` spec.
  *
  * Scale notes: the aggregation state is keyed by (window, event_type) —
  * bounded cardinality — and the watermark evicts windows older than the
  * delay, so state size is O(active windows × types) regardless of input
  * rate. Partial aggregation still applies per micro-batch, and the only
  * shuffle is the one the group-by needs anyway.
  */
object EventStream {

  /** Tumbling-window KPIs: event count, "delayed" count (value over the
    * threshold — the flight-delay analog on the events table), and an
    * exact-decimal value total per (window, event_type). */
  def windowedKpis(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes",
      delayThreshold: Double = 100.0): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("value") > delayThreshold, 1).otherwise(0)).as("n_delayed"),
        Aggregates.sumExact(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("n_delayed"),
        col("total_value"))

  /** Streaming OHLC downsample — [[graft.operators.EventAnalytics
    * .ohlcBars]]' order-sensitive open/close under watermarked tumbling
    * windows. The lexicographic-struct argmin/argmax is a plain
    * aggregate, so it runs STATEFUL-PARTIAL in streaming exactly like
    * count/sum: per-window state is one candidate struct per bound
    * (constant size), finalized and evicted by the watermark — an
    * order-sensitive statistic with NO per-window buffering of events,
    * which a row_number-window formulation could not stream at all
    * (non-monotonic rank over an unbounded group). */
  def streamingOhlc(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val key = struct(col("ts"), col("event_id"), col("value"))
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(min(key).getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(key).getField("value").as("close"),
        count(lit(1)).as("n_events"),
        Aggregates.sumExact(col("value")).as("volume"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("volume"))
  }

  /** Streaming parquet sink for the windowed KPIs: append-mode file sink —
    * only watermark-finalized windows are written, each exactly once
    * (checkpointed offsets + the sink's transaction log give end-to-end
    * exactly-once on files). State is evicted as the watermark passes each
    * window, so a continuously-running job holds O(active windows × types)
    * state regardless of how long it runs. Default trigger processes all
    * available data then stops (batch-style catch-up); pass e.g.
    * `Trigger.ProcessingTime("1 minute")` for a resident job. */
  def startParquetSink(kpis: DataFrame, path: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    kpis.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .start()

  /** Streaming → batch-sink bridge: each micro-batch of finalized windows
    * is handed to the batch parquet sink ([[Sinks.writeParquet]], append
    * mode), the idiomatic way to reuse a batch write path (JDBC, MERGE,
    * custom formats) under a streaming trigger. Exactly-once downgrades to
    * at-least-once across restarts (foreachBatch may replay a batch);
    * idempotent sinks should dedup on `batchId`. */
  def startForeachBatchSink(kpis: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    kpis.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) Sinks.writeParquet(batch, path, "append")
      }
      .start()

  /** Streaming exact dedup — the streaming twin of [[graft.operators.Dedup.exact]]
    * for continuous document ingestion: re-occurrences of the same content
    * fingerprint arriving within the watermark delay are dropped,
    * first-seen wins (emitted immediately in append mode).
    *
    * `dropDuplicatesWithinWatermark` keys state on the 16-byte MD5
    * fingerprint, NOT the document text, so the state store holds one
    * small record per distinct document seen inside the watermark horizon
    * and the watermark evicts expired fingerprints — bounded state on an
    * unbounded stream, the property plain `dropDuplicates` (which keeps
    * every key forever) does not have. After eviction a re-arriving
    * duplicate is a NEW document by construction; exact global dedup over
    * an unbounded horizon is the batch operator's job downstream. */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs.withColumn("_fp", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  // ------------------------------------------------------- sessionization

  /** Per-user sessions: consecutive events of a user belong to one
    * session while inter-event gaps stay ≤ `gapMinutes`. Batch form:
    * session boundaries via `lag` over (user, time), session ids via a
    * running sum of boundary flags, then one aggregation per session.
    * Gap comparison is exact integer microseconds (`unix_micros`), ties
    * broken by event_id, and the value total is the exact-decimal
    * [[Aggregates.sumExact]] — all so the DuckDB twin is bit-identical.
    *
    * Scale: both windows and the final aggregation partition by
    * `user_id` — state and sort runs are per-user (thousands of rows),
    * never global, and user cardinality grows with the data, so the plan
    * keeps its parallelism at 100 TB. */
  def sessionsBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    events
      .withColumn("new_s",
        when(prev.isNull ||
          unix_micros(col("ts")) - unix_micros(prev) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        Aggregates.sumExact(col("value")).as("total_value"))
  }

  /** SQL twin of [[sessionsBatch]] (DuckDB; `epoch_us` = `unix_micros`). */
  def sessionsBatchSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH o AS (
       |  SELECT user_id, event_id, ts, value,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN prev IS NULL
       |      OR epoch_us(ts) - epoch_us(prev) > $gapUs THEN 1 ELSE 0 END AS new_s
       |  FROM o),
       |s AS (
       |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_idx
       |  FROM f)
       |SELECT user_id, session_idx,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Aggregates.sumExactSql("value")} AS total_value
       |FROM s GROUP BY user_id, session_idx""".stripMargin
  }

  /** Built-in session windows: the declarative alternative to the
    * `flatMapGroupsWithState` sessionizer below — `session_window`
    * merges a user's events whose gaps are strictly under the duration
    * and Spark manages the (streaming-capable) merge state itself. Use
    * this form when per-session output needs no custom logic; drop to
    * the typed state operator only for bespoke semantics (running
    * session counters, mid-session triggers).
    *
    * Gap semantics match [[sessionsBatch]]: Spark merges session
    * windows that overlap OR touch, so an event landing EXACTLY `gap`
    * after its predecessor still joins the session (inclusive `<=`,
    * pinned by EventStreamSpec). The one shape difference is the
    * emitted `session_end`: `last_ts + gap` (the window end), not
    * `last_ts`. The SQL twin reproduces both. */
  def sessionsViaSessionWindow(events: DataFrame,
      gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.sumExact(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** SQL twin of [[sessionsViaSessionWindow]] (inclusive-gap merge,
    * window end = last event + gap). */
  def sessionsViaSessionWindowSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH o AS (
       |  SELECT user_id, event_id, ts, value,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN prev IS NULL
       |      OR epoch_us(ts) - epoch_us(prev) > $gapUs THEN 1 ELSE 0 END
       |    AS new_s
       |  FROM o),
       |s AS (
       |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM f)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL $gapMinutes MINUTE AS session_end,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Aggregates.sumExactSql("value")} AS total_value
       |FROM s GROUP BY user_id, sid""".stripMargin
  }

  /** One input event for the streaming sessionizer. */
  case class SessEvent(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double)

  /** One emitted session (same shape/semantics as a [[sessionsBatch]]
    * row). */
  case class Session(user_id: Long, session_idx: Long,
      session_start: Timestamp, session_end: Timestamp, n_events: Long,
      total_value: Double)

  /** Open-session state: bounds in epoch micros, the exact value total as
    * a 6-dp-scaled long (bit-compatible with `sumExact`'s DECIMAL(28,6)
    * accumulation), and the running per-user session counter. */
  case class SessState(idx: Long, startUs: Long, endUs: Long, n: Long,
      totalScaled: Long)

  private def micros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  private def scaled6(v: Double): Long =
    new java.math.BigDecimal(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()

  private def toTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  private def toSession(userId: Long, s: SessState): Session =
    Session(userId, s.idx, toTs(s.startUs), toTs(s.endUs), s.n,
      new java.math.BigDecimal(java.math.BigInteger.valueOf(s.totalScaled), 6)
        .doubleValue())

  /** Streaming sessionization: the custom-state operator Structured
    * Streaming is built for — `flatMapGroupsWithState` keyed on
    * `user_id` with an EVENT-TIME timeout. A session closes either
    * inline (a later event of the same user arrives past the gap) or by
    * watermark timeout (no event arrived and the watermark passed
    * `session_end + gap`), so state is exactly one small record per user
    * with an open session, regardless of input rate — the property that
    * makes this run forever on an unbounded stream.
    *
    * Within-gap out-of-order events merge into the open session (bounds
    * extend both directions); events older than an already-emitted
    * session are watermark-dropped upstream. Input must carry a
    * watermark on `ts` (append output mode requires it for timeouts). */
  def sessionizeStream(events: Dataset[SessEvent],
      gapMinutes: Int = 30): Dataset[Session] = {
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val sessionEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessState]
    implicit val longEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, evs: Iterator[SessEvent], state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            val closed = toSession(userId, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var st = state.getOption
            evs.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
              val us = micros(e.ts)
              st match {
                case None =>
                  st = Some(SessState(1L, us, us, 1L, scaled6(e.value)))
                case Some(s) if us - s.endUs > gapUs =>
                  out += toSession(userId, s)
                  st = Some(SessState(s.idx + 1, us, us, 1L, scaled6(e.value)))
                case Some(s) =>
                  st = Some(s.copy(
                    startUs = math.min(s.startUs, us),
                    endUs = math.max(s.endUs, us),
                    n = s.n + 1,
                    totalScaled = s.totalScaled + scaled6(e.value)))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000 + gapMinutes * 60L * 1000)
            }
            out.iterator
          }
        })
  }

  // --------------------------------------------------- stream-stream join

  /** Purchase→view attribution as a stream-stream INTERVAL join: every
    * (purchase, view) pair of the same user with the view inside the
    * `lookbackMinutes` window before the purchase (inclusive both ends).
    * Unlike the batch as-of join (q52, latest view only) this keeps ALL
    * attributing views — the multi-touch attribution shape.
    *
    * The same plan runs batch (watermarks are no-ops) — that is what the
    * DuckDB oracle covers; under streaming sources the time-interval
    * condition is what makes the join feasible forever: Spark derives a
    * state-eviction bound from it (a buffered view can stop waiting once
    * the purchase watermark passes `view_ts + lookback`; a purchase once
    * the view watermark passes `purchase_ts`), so both state stores stay
    * O(events inside watermark + lookback), not O(stream history).
    * Both watermarks are required for that bound — without them a
    * stream-stream inner join buffers everything.
    *
    * `views` must carry (user_id, view_id, view_ts), `purchases`
    * (user_id, purchase_id, purchase_ts). */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      lookbackMinutes: Int,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val v = views.withColumnRenamed("user_id", "v_user")
      .withWatermark("view_ts", watermarkDelay)
    val p = purchases.withWatermark("purchase_ts", watermarkDelay)
    p.join(v,
      col("v_user") === col("user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $lookbackMinutes MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("view_id"), col("view_ts"))
  }

  /** SQL twin of [[attributionJoin]]'s batch plan (`events` hard-wired,
    * same inclusive window). */
  def attributionJoinSql(lookbackMinutes: Int): String =
    s"""SELECT p.event_id AS purchase_id, p.user_id,
       |  p.ts AS purchase_ts, v.event_id AS view_id, v.ts AS view_ts
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |JOIN (SELECT * FROM events WHERE event_type = 'view') v
       |  ON p.user_id = v.user_id
       |  AND v.ts <= p.ts
       |  AND v.ts >= p.ts - INTERVAL $lookbackMinutes MINUTES""".stripMargin

  /** Streaming MERGE sink: each micro-batch UPSERTs into a parquet
    * target by key ([[graft.operators.Merge.upsert]] inside
    * `foreachBatch`) — the CDC-apply pattern every lakehouse table
    * format runs under its streaming writer: matched keys replaced by
    * the batch's newest row, new keys inserted, untouched keys carried
    * forward. Within a batch the newest row per key wins (`max_by` on
    * the order column — a micro-batch can hold several changes for one
    * key).
    *
    * COMMIT PROTOCOL — the upsert table IS a [[graft.engine.Manifests]]
    * store with one table `t`, each batch a REBUILD commit (a MERGE
    * sink rewrites the full table every batch by definition, so the
    * commit references only its own segment — the manifest layer costs
    * one small file per batch and buys the whole protocol family:
    * atomic publish, immutable reader snapshots, GC, [[graft.engine
    * .Manifests.history]], `VERSION AS OF` reads via
    * [[readUpsertTableAt]], and every race/staleness fix the shared
    * module carries now and later. The sink previously duplicated the
    * protocol as a whole-version-directory variant; two
    * implementations of one protocol meant the next race fix lands in
    * one of them — review finding.)
    *
    * Crash recovery stays branch-free AND exactly-once: a death
    * before the marker leaves an unpublished orphan segment (and this
    * writer's own claim) that the checkpoint's replay reclaims and
    * overwrites — `reclaimOwnClaim` is sound here because the
    * checkpoint makes the streaming query the store's ONLY writer, so
    * a leftover claim at the next version is provably its own crashed
    * predecessor; a death AFTER the marker but before the checkpoint
    * commit replays the batch, and the `batch_id` recorded in the
    * commit's metadata makes that replay a NO-OP (see
    * [[applyUpsertBatch]] — the Delta `txn` idempotence pattern, so
    * the sink is exactly-once end to end, not merely
    * answer-idempotent); a death inside GC leaves strays the next
    * batch's commit sweeps. The table is ALWAYS the newest published
    * version — never partial, never stale.
    *
    * `keepVersions` is the reader-horizon contract (Delta's vacuum
    * retention, in miniature): a reader that resolved version N keeps
    * a complete immutable snapshot under it for at least
    * `keepVersions - 1` subsequent batch commits; a store-level
    * [[graft.engine.Manifests.setRetention]] pin widens it for
    * time-travel consumers. Object stores without atomic create/list
    * visibility need the real table formats — that adjudication
    * stands (see the Manifests filesystem-assumption scaladoc). */
  def startUpsertSink(changes: DataFrame, path: String,
      checkpointDir: String, key: String, orderCol: String,
      keepVersions: Int = 2): StreamingQuery = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(batch, batchId, path, key, orderCol, keepVersions,
          appId = appIdOf(batch.sparkSession, checkpointDir))
      }
      .start()
  }

  /** The transaction APPLICATION identity the exactly-once guard is
    * scoped to: the checkpoint location FULLY QUALIFIED against its
    * filesystem, because the checkpoint IS what makes micro-batch ids
    * monotone (Delta's `txn` keys on (appId, version) for the same
    * reason) — and two spellings of one physical location
    * ("/ckpt" vs "file:/ckpt" across restarts) must yield ONE
    * identity, or a restart under the other spelling re-applies the
    * crash-window batch as a fresh commit (review finding). */
  private def appIdOf(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString
  }

  /** One micro-batch of the MERGE sink, EXACTLY-ONCE: the batch id
    * AND the checkpoint identity ride the commit as metadata
    * (`batch_id` / `txn_app` — the Delta `txn` (appId, version)
    * pattern), and a batch is SKIPPED only when the live commit
    * records the SAME application at an id at-or-above this one — a
    * foreachBatch replay after a crash between the table commit and
    * the checkpoint commit becomes a no-op instead of an extra
    * (answer-identical but version-advancing) commit. Scoping the
    * skip to the checkpoint identity matters (review finding): a NEW
    * checkpoint pointed at an existing table restarts batch ids at 0,
    * and an unscoped guard would silently discard its first batches
    * — data loss dressed as success. Monotone batch ids are the
    * streaming engine's contract per checkpoint, which is also the
    * single-writer scope that makes the skip sound; pre-metadata
    * commits (no recorded id/app) always apply. Exposed so the
    * exactly-once property is spec-testable without streaming
    * machinery. */
  private[graft] def applyUpsertBatch(batch: DataFrame, batchId: Long,
      path: String, key: String, orderCol: String,
      keepVersions: Int, appId: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val live = graft.engine.Manifests.snapshot(spark, path)
    val sameApp = live.exists(_.meta.get("txn_app").contains(appId))
    val lastApplied = live.flatMap(_.meta.get("batch_id"))
      .filter(s => s.nonEmpty && s.length <= 18 && s.forall(_.isDigit))
      .map(_.toLong)
    if (sameApp && lastApplied.exists(_ >= batchId)) return
    val cols = batch.columns.filterNot(_ == key)
    val newest = batch.groupBy(col(key))
      .agg(max_by(struct(cols.map(col): _*), col(orderCol)).as("_r"))
      .select(col(key) +: cols.map(c => col(s"_r.$c").as(c)): _*)
    graft.engine.Manifests.publish(spark, path, keepVersions,
      tag = "upsert", meta = Map("batch_id" -> batchId.toString,
        "txn_app" -> appId),
      reclaimOwnClaim = true) { (v, seg, liveSnap) =>
      val merged = liveSnap match {
        case None => newest
        case Some(snap) => graft.operators.Merge.upsert(
          snap.read(spark, "t"), newest, key)
      }
      merged.write.mode("overwrite").parquet(s"$seg/t")
      Map("t" -> Seq(graft.engine.Manifests.ref(v, "t")))
    }
    ()
  }

  /** Reader for a [[startUpsertSink]] table: the live manifest
    * snapshot's single table. A published version is complete by
    * construction and immutable until it ages past the writer's
    * `keepVersions` horizon, which is the one contract the caller
    * sizes (a reader must finish within `keepVersions - 1` subsequent
    * commits). Fails loudly only on an uninitialized sink. */
  def readUpsertTable(spark: SparkSession, path: String): DataFrame =
    readUpsertTableAt(spark, path, None)

  /** `VERSION AS OF` read of the upsert table — the unification
    * dividend: "what did the maintained state look like N batches
    * ago" needs no sink-specific machinery, it is
    * [[graft.engine.Manifests.snapshotAt]] on the store every batch
    * commit already writes. None pins nothing (live read). */
  def readUpsertTableAt(spark: SparkSession, path: String,
      atVersion: Option[Long]): DataFrame = {
    val snap = atVersion match {
      case Some(v) =>
        graft.engine.Manifests.snapshotAt(spark, path, v).getOrElse(
          throw new java.io.FileNotFoundException(
            s"$path has no published upsert-table version $v — never " +
              "committed, or aged past the keep horizon"))
      case None =>
        graft.engine.Manifests.snapshot(spark, path).getOrElse(
          throw new java.io.FileNotFoundException(
            s"$path holds no published upsert-table version (no " +
              "MANIFEST-* marker) — not an initialized sink, or an " +
              "aborted first batch"))
    }
    snap.read(spark, "t")
  }

  /** Run `batches` through [[startUpsertSink]] one AvailableNow drain
    * each (same checkpoint, so run K folds ONLY batch K into the
    * maintained state) and return the TABLE PATH — callers read the
    * live fold via [[readUpsertTable]] or any historical batch
    * boundary via [[readUpsertTableAt]] (version K = the state after
    * batch K; the q224 registration pins the earliest kept one). */
  def runUpsertBatches(spark: SparkSession, batches: Seq[DataFrame],
      scratchRoot: String, key: String, orderCol: String): String = {
    require(batches.nonEmpty, "runUpsertBatches needs at least one batch")
    val src = s"$scratchRoot/src"
    val table = s"$scratchRoot/table"
    val cp = s"$scratchRoot/checkpoint"
    Seq(src, table, cp).foreach(IncrementalIngest.deleteDir(spark, _))
    batches.foreach { b =>
      b.write.mode("append").parquet(src)
      val changes = spark.readStream.schema(batches.head.schema).parquet(src)
      startUpsertSink(changes, table, cp, key, orderCol).awaitTermination()
    }
    table
  }

  /** End-to-end batch-cadence driver for [[startUpsertSink]], returning
    * the maintained table (the newest published version): batch 1 lands in the
    * source dir and a first `AvailableNow` run folds it into the target;
    * batch 2 lands and a second run (same checkpoint, so ONLY the new
    * files) folds into the existing state. The read-back proves both
    * halves of the MERGE contract at once — keys seen only in batch 1
    * are carried forward across runs, keys re-seen in batch 2 show
    * batch 2's newest row (within-batch newest by `orderCol`). When the
    * caller splits so batch 2's `orderCol` values sit strictly above
    * batch 1's, the fold equals the global newest-per-key — a plain SQL
    * oracle (q123). */
  def twoRunUpsert(spark: SparkSession, batch1: DataFrame, batch2: DataFrame,
      scratchRoot: String, key: String, orderCol: String): DataFrame =
    readUpsertTable(spark, runUpsertBatches(spark,
      Seq(batch1, batch2), scratchRoot, key, orderCol))

  /** Stream-static enrichment join: each streaming event looks up its key
    * in a STATIC (batch) dimension. The stateless member of the streaming
    * join family — unlike the stream-stream join above there is NO state
    * store and NO watermark requirement: Spark re-evaluates the static
    * side per micro-batch (so a dim refresh lands by swapping the
    * underlying table between batches) and the explicit broadcast keeps
    * the lookup off the shuffle path — the standard shape for enriching
    * an event stream against slowly-changing reference data at any
    * stream rate. Left join: events with no dim row pass through with
    * nulls (an enrichment must never drop events). */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** SQL twin of the batch-mode plan (DuckDB `time_bucket` = tumbling
    * window start). */
  def windowedKpisSql(delayThreshold: Double = 100.0): String =
    s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       |  event_type, COUNT(*) AS n_events,
       |  SUM(CASE WHEN value > $delayThreshold THEN 1 ELSE 0 END) AS n_delayed,
       |  ${Aggregates.sumExactSql("value")} AS total_value
       |FROM events GROUP BY 1, 2""".stripMargin
}
