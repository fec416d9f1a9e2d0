package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RUN-LEVEL manifest for multi-store pipelines — the audit unit above
  * [[Manifests]]: a daily curation run reads (and writes) a VERSION of
  * several stores at once, and "reproduce run N exactly" means
  * re-resolving every one of those versions together, not hand-pinning
  * each store (the q220 shape this replaces: four hand-resolved
  * `earliestVersion` calls with nothing tying them to an actual run).
  *
  * The ledger IS a Manifests store (dir `ledgerDir`) with one table
  * `pins`: each recorded run appends one small segment of
  * `(run_id, store, dir, version)` rows, commit-tagged with the run id.
  * Append-style manifests keep every kept commit's rows in the live
  * snapshot, so resolution is one scan of one small table — and the
  * ledger inherits the whole protocol for free (atomic publish, claim
  * enforcement, GC horizon, [[Manifests.history]] of the runs).
  *
  * CRASH CONTRACT — the property that makes the ledger trustworthy: a
  * run commits its pins strictly AFTER all of its work (appends to
  * every store, report materialized). A crash anywhere before that
  * leaves NO ledger commit, so an incomplete run is never resolvable —
  * [[resolve]] answering Some(...) certifies the run finished. (The
  * inverse — store commits without a ledger row — is exactly what a
  * crashed run looks like in an audit, and [[Manifests.history]] on
  * the stores still shows those orphan commits.) */
object RunLedger {

  /** One store's pinned version inside a recorded run. */
  final case class Pin(store: String, dir: String, version: Long)

  /** Record a COMPLETED run: one atomic ledger commit holding every
    * (store → version) this run read, tagged with `runId`. Call this
    * only after the run's work is durable — the commit is the run's
    * completion certificate (see the crash contract above). Refuses a
    * run id the ledger already holds: run ids name runs uniquely, and
    * silently re-recording one would let a replay overwrite the audit
    * trail of the original. */
  def commit(spark: SparkSession, ledgerDir: String, runId: String,
      pins: Seq[Pin], keepVersions: Int = 64): Long = {
    require(runId.nonEmpty && !runId.exists(c => c == '\n' || c == '\t'),
      s"run id must be non-empty and tab/newline-free, got '$runId'")
    require(pins.nonEmpty, "a recorded run must pin at least one store")
    require(pins.map(_.store).distinct.size == pins.size,
      s"duplicate store keys in one run: ${pins.map(_.store)}")
    require(resolve(spark, ledgerDir, runId).isEmpty,
      s"run '$runId' is already recorded at $ledgerDir — run ids are " +
        "unique; a re-run needs a new id")
    import spark.implicits._
    Manifests.append(spark, ledgerDir, tag = runId,
      keepVersions = keepVersions) { seg =>
      pins.map(p => (runId, p.store, p.dir, p.version))
        .toDF("run_id", "store", "dir", "version")
        .coalesce(1).write.parquet(seg.path("pins"))
    }
  }

  /** The (store → version) map run `runId` recorded, or None when the
    * ledger holds no such run — never built, crashed before its
    * commit, or aged past the ledger's keep horizon. One scan of the
    * small pins table. */
  def resolve(spark: SparkSession, ledgerDir: String,
      runId: String): Option[Map[String, Long]] =
    Manifests.snapshot(spark, ledgerDir).flatMap { snap =>
      val rows = snap.read(spark, "pins")
        .filter(col("run_id") === runId)
        .select("store", "version").collect()
      if (rows.isEmpty) None
      else Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
    }

  /** COMPACT the ledger: one rebuild commit folding every kept run's
    * pins into a single segment. Append-style commits grow the live
    * manifest by one ref per run (O(runs) lines — harmless for years
    * of daily runs, but unbounded); compaction re-bases it to one
    * line, after which appends grow from there. [[resolve]] and
    * [[runHistory]] read identically before and after (the pins
    * TABLE is unchanged — RunLedgerSpec pins it); per-run commit
    * tags age out with their manifests like any compacted store's. */
  def compact(spark: SparkSession, ledgerDir: String,
      keepVersions: Int = 64): Long = {
    val snap = Manifests.snapshot(spark, ledgerDir).getOrElse(
      throw new IllegalStateException(
        s"no run ledger at $ledgerDir — nothing to compact"))
    val all = snap.read(spark, "pins")
    Manifests.build(spark, ledgerDir, tag = "compact",
      keepVersions = keepVersions)(
      seg => all.coalesce(1).write.parquet(seg.path("pins")))
  }

  /** Every kept run's pins as one relation —
    * `(run_id, store, dir, version)`, the audit table "which version
    * of which store did each run read". Empty on an unbuilt ledger. */
  def runHistory(spark: SparkSession, ledgerDir: String): DataFrame =
    Manifests.snapshot(spark, ledgerDir) match {
      case Some(snap) => snap.read(spark, "pins")
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, String, Long)]
          .toDF("run_id", "store", "dir", "version")
    }
}
