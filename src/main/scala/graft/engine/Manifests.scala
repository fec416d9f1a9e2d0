package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-manifest commits for multi-table persisted artifacts — the
  * [[graft.streaming.EventStream]] upsert-table protocol lifted into a
  * shared module, extended with the piece a low-write-amplification
  * index needs: IMMUTABLE DATA SEGMENTS referenced by versioned
  * manifests (the Iceberg/Delta metadata idea reduced to the two
  * filesystem primitives that ARE atomic on HDFS and local FS —
  * exclusive file create; file delete).
  *
  * Layout under an artifact `dir`:
  *
  *   - `seg<N>/ <table>/ *.parquet` — immutable data segments; a
  *     segment is written ONCE (by the commit that claims version N)
  *     and never rewritten while any kept manifest references it;
  *   - `v<N>` — the version-N MANIFEST FILE: one `table<TAB>ref` line
  *     per segment a table comprises (`ref` = `seg<M>/<table>`,
  *     relative to `dir`) — so an APPEND commit lists the old
  *     segments plus its own, paying O(|batch|) writes, while a
  *     rebuild/compaction lists only its own;
  *   - `MANIFEST-<N>` — the zero-byte PUBLISH marker: one atomic
  *     exclusive create, after which every resolution sees N.
  *
  * Reader contract: [[snapshot]] resolves the greatest published
  * marker ONCE and hands back the version's table→paths map; every
  * table the reader then opens comes from the SAME immutable snapshot
  * — no read-during-mutation window, unlike the dropped-marker gate
  * ([[Markers]]), where a reader arriving mid-append sees "no
  * completed artifact" and a concurrent reader/writer pair is only
  * contract-excluded. A resolved snapshot stays complete for at least
  * `keepVersions - 1` subsequent commits (the vacuum-retention
  * contract, sized to the longest reader).
  *
  * Writer contract — ENFORCED, not just documented: [[publish]] takes
  * an exclusive `CLAIM-<N>` create before staging anything, so two
  * writers racing the single-writer contract produce one winner and
  * one loud [[IllegalStateException]] instead of a torn commit (the
  * pre-claim hazard: both resolve `next = live+1`, the winner's orphan
  * sweep deletes the loser's half-staged segment, and the marker can
  * pair with mixed segment contents). Crash recovery: a death AFTER
  * the marker create is already durable — GC sweeps the stale claim at
  * the next commit; a death BEFORE it leaves a claim the next publish
  * refuses with the recovery step in its message (delete the CLAIM
  * file once no writer is alive — automated rebuild paths like
  * [[Fixtures.ensure]] wipe the whole unfinished dir instead); a death
  * inside GC leaves stale markers/manifests/segments the next commit's
  * sweep reclaims (markers deleted strictly before what they
  * reference). A stage failure (exception, writer alive) releases its
  * claim on the way out, so retries are never wedged. Readers need no
  * coordination at all. */
object Manifests {

  /** Serializes claim acquisition across the THREADS of one JVM (see
    * the gate comment inside [[publish]]): local filesystems make the
    * "exclusive" create check-then-create, so same-process writers
    * need a real mutex; cross-process writers get the token verify +
    * the documented filesystem assumption. One gate PER STORE DIR
    * (interned on the normalized URI) — the race is between writers
    * of one artifact, and a global monitor would serialize unrelated
    * stores' claim I/O behind each other (review finding: the
    * streaming sink's batch commits queuing behind a fixture build's
    * claim round-trips). */
  private val claimGates =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def claimGateFor(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Object =
    claimGates.computeIfAbsent(
      // FULLY QUALIFIED against the resolved filesystem: two spellings
      // of one physical dir ("/data/s" vs "file:/data/s") must land on
      // ONE gate object, or differently-spelled same-JVM writers
      // bypass the mutex entirely (review finding).
      fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toUri.toString,
      _ => new Object)

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerPath(dir: String, v: Long) =
    new org.apache.hadoop.fs.Path(dir, f"MANIFEST-$v%08d")
  private def manifestPath(dir: String, v: Long) =
    new org.apache.hadoop.fs.Path(dir, f"v$v%08d")
  private def claimPath(dir: String, v: Long) =
    new org.apache.hadoop.fs.Path(dir, f"CLAIM-$v%08d")
  private def retentionPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "RETENTION")

  /** Pin the store's GC retention: every subsequent [[publish]] keeps
    * at least `keepVersions` versions REGARDLESS of the caller's
    * per-call default. Retention is a property of the STORE, not of
    * whoever happens to commit next — a time-travel consumer that
    * needs version 1 alive must not depend on every future append
    * call site remembering to pass the right knob (that coupling is
    * invisible across files; this file is not). */
  def setRetention(spark: SparkSession, dir: String,
      keepVersions: Int): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val fs = fsOf(spark, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val out = fs.create(retentionPath(dir), true)
    try out.write(keepVersions.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The store-level retention pin, if one is set (digit-bounded parse:
    * a corrupt RETENTION file is ignored, not a wedge). */
  def retention(spark: SparkSession, dir: String): Option[Int] =
    retentionOf(fsOf(spark, dir), dir)

  private def retentionOf(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Int] =
    if (!fs.exists(retentionPath(dir))) None
    else {
      val in = fs.open(retentionPath(dir))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim
      finally in.close()
      Some(text).filter(s => s.nonEmpty && s.length <= 9 &&
        s.forall(_.isDigit)).map(_.toInt).filter(_ >= 1)
    }

  /** Absolute path of version `v`'s data segment directory. */
  def segDir(dir: String, v: Long): String = f"$dir/seg$v%08d"
  private def segName(v: Long): String = f"seg$v%08d"

  /** All-digit suffix that fits a Long without overflow risk: 18
    * digits caps at 10^18-1 < Long.MaxValue, so `.toLong` can never
    * throw. A 19+-digit stray (junk beyond any version this writer
    * could have produced) is malformed like any other stray — ignored,
    * not a NumberFormatException that wedges resolution AND the sweep. */
  private def digitsFitLong(s: String): Boolean =
    s.nonEmpty && s.length <= 18 && s.forall(_.isDigit)

  /** Version named by a `MANIFEST-<N>` marker file name; None for any
    * malformed stray (tolerated by BOTH resolution and GC — the
    * EventStream lesson: a parser the sweep doesn't share wedges the
    * writer on junk a reader shrugs off). */
  private def parseMarkerVersion(name: String): Option[Long] =
    Some(name.stripPrefix("MANIFEST-"))
      .filter(s => name.startsWith("MANIFEST-") && digitsFitLong(s))
      .map(_.toLong)

  private def publishedVersions(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap(parseMarkerVersion).sorted
  }

  /** The live (greatest published) version, if any. */
  def liveVersion(spark: SparkSession, dir: String): Option[Long] =
    publishedVersions(fsOf(spark, dir), dir).lastOption

  /** The EARLIEST still-published version, if any — what a time-travel
    * pin that means "the oldest state this store still remembers"
    * resolves instead of hard-coding a version number that one extra
    * commit plus GC would age out from under it. */
  def earliestVersion(spark: SparkSession, dir: String): Option[Long] =
    publishedVersions(fsOf(spark, dir), dir).headOption

  /** True iff `dir` holds at least one published version. */
  def exists(spark: SparkSession, dir: String): Boolean =
    liveVersion(spark, dir).nonEmpty

  /** A resolved immutable snapshot: table → `dir`-relative segment
    * refs, in manifest order — plus the commit's METADATA (`tag` and
    * any caller `meta` keys), parsed from the same single manifest
    * read, so layout/transaction records that ride commits
    * ([[graft.operators.Retrieval]]'s `postings_buckets`, the upsert
    * sink's `batch_id`) cost a reader NO extra filesystem round-trip
    * (review finding: the hot query path was re-listing the store and
    * re-reading the manifest it had just resolved). */
  final case class Snapshot(dir: String, version: Long,
      tables: Map[String, Seq[String]],
      meta: Map[String, String] = Map.empty) {
    /** Absolute parquet paths of `table` in THIS snapshot. */
    def paths(table: String): Seq[String] =
      tables.getOrElse(table, Seq.empty).map(r => s"$dir/$r")
    /** Read `table` across this snapshot's segments. Flat segment
      * layouts (every store's default) read as ONE multi-path parquet
      * scan — a single FileIndex, the plan shape downstream specs pin.
      * A `partitionBy`'d nested layout cannot: Spark's partition
      * discovery refuses sibling segment roots as "conflicting
      * directory structures", so nested tables read per-segment and
      * union — same distributed scan work, one FileIndex per segment.
      * Nested-ness is probed with one metadata listing of the first
      * ref (segments of one table share a layout by construction). */
    def read(spark: SparkSession, table: String): DataFrame = {
      val ps = paths(table)
      require(ps.nonEmpty, s"snapshot v$version of $dir has no table '$table'")
      def nested: Boolean = {
        val p = new org.apache.hadoop.fs.Path(ps.head)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(p).exists(st => st.isDirectory &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      }
      if (ps.size == 1 || !nested) spark.read.parquet(ps: _*)
      else ps.map(spark.read.parquet(_)).reduce(_ unionByName _)
    }
  }

  /** Resolve the LIVE snapshot (one marker listing + one small manifest
    * read); None on an unpublished dir. Readers need no coordination:
    * between the listing and the manifest read, a concurrent commit's
    * GC can sweep what WAS the live version (only possible under
    * `keepVersions = 1`, where each commit retires its predecessor) —
    * on that FileNotFound the resolution simply re-lists, and the
    * retry lands on the newer version whose commit did the sweeping. */
  def snapshot(spark: SparkSession, dir: String): Option[Snapshot] = {
    val fs = fsOf(spark, dir)
    @annotation.tailrec
    def resolve(retries: Int): Option[Snapshot] =
      publishedVersions(fs, dir).lastOption match {
        case None => None
        case Some(v) =>
          val snap =
            try Some(loadSnapshot(fs, dir, v))
            catch { case e: java.io.FileNotFoundException =>
              // Bounded: a PERSISTENT marker-without-manifest is a
              // corrupted store (publish writes the manifest strictly
              // before the marker; GC deletes markers strictly before
              // manifests) and must surface, not spin.
              if (retries <= 0) throw new IllegalStateException(
                s"$dir lists marker v$v but its manifest is missing " +
                  "after retries — corrupted store", e)
              else None
            }
          // `snap` is None ONLY on a caught FNF with retries left (the
          // exhausted case throws above), so this always either returns
          // the snapshot or re-lists.
          if (snap.isDefined) snap else resolve(retries - 1)
      }
    resolve(retries = 3)
  }

  /** TIME TRAVEL: resolve a SPECIFIC published version — the
    * Delta/Iceberg `VERSION AS OF` read, free under this protocol
    * because every kept version is a complete immutable snapshot.
    * None when version `v` is not currently published (never built,
    * or aged past the writer's `keepVersions` horizon — the one
    * contract a historical reader sizes against). A version swept by
    * a concurrent commit's GC BETWEEN the listing and the manifest
    * read resolves None like any other aged-out version, not a crash
    * (the no-reader-coordination contract at the horizon edge). */
  def snapshotAt(spark: SparkSession, dir: String,
      v: Long): Option[Snapshot] = {
    val fs = fsOf(spark, dir)
    if (!publishedVersions(fs, dir).contains(v)) None
    else
      try Some(loadSnapshot(fs, dir, v))
      catch { case _: java.io.FileNotFoundException => None }
  }

  private def manifestLines(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Seq[String] = {
    val in = fs.open(manifestPath(dir, v))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** `#`-prefixed manifest lines are COMMIT METADATA (`#key<TAB>value`),
    * skipped by table resolution — pre-metadata manifests simply have
    * none, so both directions stay readable. */
  private def parseTables(lines: Seq[String]): Map[String, Seq[String]] =
    lines.filterNot(_.startsWith("#"))
      .map { line =>
        val Array(t, ref) = line.split("\t", 2)
        (t, ref)
      }
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2) }

  private def parseMeta(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith("#"))
      .map(_.drop(1).split("\t", 2))
      .collect { case Array(k, value) => (k, value) }.toMap

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Map[String, Seq[String]] =
    parseTables(manifestLines(fs, dir, v))

  /** One manifest read serving BOTH the table map and the metadata. */
  private def loadSnapshot(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Snapshot = {
    val lines = manifestLines(fs, dir, v)
    Snapshot(dir, v, parseTables(lines), parseMeta(lines))
  }

  /** True iff `t`'s cause chain is a missing-path read — the shapes a
    * concurrently GC-swept version surfaces as: a raw
    * FileNotFoundException from the manifest open, Spark's
    * AnalysisException from a parquet read over the swept segment
    * (review finding: the parquet path does NOT throw
    * FileNotFoundException), or the local filesystem's
    * NoSuchFileException when the sweep lands mid-read (wrapped in
    * SparkException [FAILED_READ_FILE.NO_HINT]; it is no
    * FileNotFoundException). The AnalysisException match keys on the
    * stable error CLASS first, with the current message substring AND
    * the pre-error-class phrasing ("Path does not exist") as
    * fallbacks — a Spark release rewording the message must not turn
    * "skip the swept version" into "crash mid-listing". */
  private[graft] def isMissingPath(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 10) {
      c match {
        case _: java.io.FileNotFoundException |
            _: java.nio.file.NoSuchFileException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getCondition == "PATH_NOT_FOUND" ||
              (a.getMessage != null &&
                (a.getMessage.contains("PATH_NOT_FOUND") ||
                  a.getMessage.contains("Path does not exist"))) =>
          return true
        case _ =>
      }
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Commit metadata of version `v`: every well-formed `#key<TAB>value`
    * manifest line. A malformed `#` line WITHOUT a tab (hand-edited or
    * corrupt manifest) is skipped like any other malformed stray — the
    * data lines still resolve, so the metadata reader must not be the
    * one path that crashes on it (review finding: the old
    * `Array(k, v)` destructure threw MatchError, which
    * [[isMissingPath]] does not catch, wedging [[history]]). */
  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Map[String, String] =
    parseMeta(manifestLines(fs, dir, v))

  /** Public read of version `v`'s commit metadata (`tag` plus any
    * caller-supplied [[publish]] `meta` keys); empty when the version
    * is not published. The [[RunLedger]] tag→version resolution and
    * the [[lineage]] relation read through this. */
  def commitMeta(spark: SparkSession, dir: String,
      v: Long): Map[String, String] = {
    val fs = fsOf(spark, dir)
    if (!publishedVersions(fs, dir).contains(v)) Map.empty
    else
      try readMeta(fs, dir, v)
      catch { case _: java.io.FileNotFoundException => Map.empty }
  }

  /** ONE atomic commit: claim version N+1, let `stage` write new data
    * under `seg<N+1>/` (handed the claimed version, the segment's
    * absolute path, and the live snapshot — None on first build) and
    * return the FULL new table→refs map (a store's build or append
    * commits through [[build]] / [[append]], which spell that map;
    * raw `publish` is for custom maps like [[rollback]]'s), then
    * write the `v<N+1>` manifest, PUBLISH via exclusive marker create,
    * and GC manifests past `keepVersions` plus any segment no kept
    * manifest references. Returns the published version.
    *
    * `meta` rides the manifest as extra `#key<TAB>value` commit
    * metadata beside the tag (readable via [[commitMeta]]); keys and
    * values must be tab/newline-free, and the keys `tag` is reserved.
    *
    * `reclaimOwnClaim` is for callers that guarantee single-writer
    * STRUCTURALLY (one streaming query owning the store through its
    * checkpoint): a pre-existing claim at the target version is then
    * provably this writer's own crashed predecessor — a checkpoint
    * replay of the same logical batch — and is reclaimed instead of
    * refused, which keeps replay branch-free. Callers without that
    * structural guarantee must leave it false: reclaiming a LIVE
    * rival's claim re-opens the torn-commit race the claim exists to
    * close.
    *
    * FILESYSTEM ASSUMPTION: the claim and marker writes rely on
    * `fs.create(path, overwrite = false)` being an atomic exclusive
    * create, which HDFS, ABFS, and conditional-write S3A provide.
    * On filesystems where the exclusive create is check-then-act
    * (RawLocalFileSystem; object stores without conditional PUT) two
    * racing creates can both appear to succeed — so after claiming,
    * the writer re-reads the claim file and proceeds only when it
    * still holds ITS OWN token (last-writer-wins on such filesystems
    * demotes the race to one winner in all but a sub-millisecond
    * window); on those filesystems the single-writer enforcement is
    * best-effort and external serialization remains the contract. */
  def publish(spark: SparkSession, dir: String, keepVersions: Int = 2,
      tag: String = "", meta: => Map[String, String] = Map.empty,
      reclaimOwnClaim: Boolean = false)
      (stage: (Long, String, Option[Snapshot]) => Map[String, Seq[String]]): Long = {
    require(!tag.contains("\n") && !tag.contains("\t"),
      s"commit tag must not contain tab/newline, got '$tag'")
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val fs = fsOf(spark, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val live = snapshot(spark, dir)
    val next = live.map(_.version).getOrElse(0L) + 1
    if (reclaimOwnClaim) fs.delete(claimPath(dir, next), false)
    // CLAIM version `next` with one atomic exclusive create BEFORE
    // touching anything: two writers racing the single-writer contract
    // both resolve the same `next`, and without the claim the loser's
    // staged segment is swept by the winner's orphan sweep while the
    // marker can pair with MIXED segment contents — a torn commit. The
    // claim turns the contract violation into one loud loser. A claim
    // left by a CRASHED commit (death between claim and marker) also
    // fails here — with the recovery step in the message — rather than
    // silently overwriting state whose writer might still be alive.
    // The claim file carries a writer-unique token, re-verified below
    // (the non-atomic-create fallback in the scaladoc). The whole
    // claim acquisition — create, token write, read-back — runs under
    // one PROCESS-WIDE monitor: local filesystems implement the
    // "exclusive" create as check-then-create, and without the gate
    // two threads of one JVM can both win the claim inside that
    // window (ManifestsConcurrencySpec reproduced it: torn staging,
    // double markers). The gate closes the same-process race
    // completely — it is held for one create plus one tiny read,
    // never during staging — and the cross-PROCESS window remains the
    // documented filesystem assumption above.
    val claimToken = java.util.UUID.randomUUID().toString
    claimGateFor(fs, dir).synchronized {
      val created =
        try fs.create(claimPath(dir, next), false)
        catch {
          // A present claim OR a now-present marker at `next` — or the
          // filesystem's own already-exists signal, or a re-listed
          // published version at/past `next` (a rival completed its
          // WHOLE commit and a later commit's GC already swept both its
          // claim and the marker, possible under keepVersions = 1) —
          // all mean conflict; any OTHER I/O failure (full disk,
          // permissions) must surface as ITSELF — a "delete the CLAIM
          // file" instruction for a claim that doesn't exist is actively
          // misleading (review findings, two rounds of them).
          case e: java.io.IOException
              if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
                fs.exists(claimPath(dir, next)) ||
                fs.exists(markerPath(dir, next)) ||
                publishedVersions(fs, dir).exists(_ >= next) =>
            throw new IllegalStateException(
              s"cannot claim version $next of $dir: a CLAIM or MANIFEST " +
                "marker for it exists — either a concurrent writer " +
                "(mutations of one artifact dir must be externally " +
                "serialized) or a crashed commit's leftover; if no writer " +
                "is alive, delete the CLAIM file to recover", e)
        }
      // Token write + read-back OUTSIDE the conflict guard (a failure
      // here — disk full mid-write — is an I/O error on a claim THIS
      // writer holds: release it and surface the error as itself) but
      // INSIDE the gate, so a same-JVM rival cannot interleave between
      // our create and our verify.
      try {
        try created.write(claimToken.getBytes("UTF-8"))
        finally created.close()
        val in = fs.open(claimPath(dir, next))
        val back = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        if (back != claimToken) throw new IllegalStateException(
          s"claim for version $next of $dir no longer holds this " +
            "writer's token — a concurrent writer's create raced ours " +
            "on a filesystem without atomic exclusive create " +
            "(mutations of one artifact dir must be externally serialized)")
      } catch {
        case e: IllegalStateException => throw e
        case scala.util.control.NonFatal(e) =>
          fs.delete(claimPath(dir, next), false)
          throw e
      }
    }
    try {
      // Close the stale-claim race the exclusive create alone leaves
      // open (review finding): a rival that resolved the same `next`,
      // then stalled past the winner's whole commit INCLUDING its
      // claim release, claims successfully here — and its orphan
      // sweep below would delete the winner's PUBLISHED manifest and
      // segment out from under the marker. Probing the ONE marker at
      // `next` is not enough (second review finding): the store may
      // have advanced PAST `next` while this writer was stalled, with
      // `next`'s own marker already GC'd — and `next`'s segment can
      // still be referenced by the LIVE manifest (appends re-reference
      // old segments), so the orphan sweep would destroy live data.
      // Re-list after claiming: ANY published version >= `next` means
      // this writer's view of `live` was stale — refuse before
      // touching anything.
      if (publishedVersions(fs, dir).exists(_ >= next))
        throw new IllegalStateException(
          s"version $next of $dir (or a later one) was published while " +
            "this writer was claiming it — a concurrent writer " +
            "(mutations of one artifact dir must be externally " +
            "serialized)")
      // Sweep any orphan a crashed predecessor left at this version.
      fs.delete(new org.apache.hadoop.fs.Path(segDir(dir, next)), true)
      fs.delete(manifestPath(dir, next), false)
      val tables = stage(next, segDir(dir, next), live)
      require(tables.nonEmpty, "a manifest commit must list at least one table")
      // `meta` is BY-NAME, evaluated here — after the stage — so a
      // caller can derive commit metadata from state its stage
      // callback resolved under the claim (rollback carries the
      // restored version's own metadata forward this way).
      val metaVal = meta
      metaVal.foreach { case (k, v) =>
        require(k.nonEmpty && k != "tag" && !s"$k$v".exists(c => c == '\n' || c == '\t'),
          s"commit meta keys/values must be non-reserved and tab/newline-free, got '$k'")
      }
      val metaLines =
        (if (tag.isEmpty) Seq.empty else Seq(s"#tag\t$tag")) ++
          metaVal.toSeq.sortBy(_._1).map { case (k, v) => s"#$k\t$v" }
      val out = fs.create(manifestPath(dir, next), true)
      try out.write((metaLines ++ tables.toSeq.sortBy(_._1)
        .flatMap { case (t, rs) => rs.map(r => s"$t\t$r") })
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      // PUBLISH: one atomic exclusive create.
      fs.create(markerPath(dir, next), false).close()
    } catch {
      // A FAILED commit (stage threw; writer still alive) releases its
      // claim so a retry in the same or a later process isn't wedged —
      // only a process DEATH leaves a claim behind.
      case scala.util.control.NonFatal(e) =>
        fs.delete(claimPath(dir, next), false)
        throw e
    }
    fs.delete(claimPath(dir, next), false)
    // The store-level RETENTION pin (see [[setRetention]]) overrides
    // the per-call default: GC honors the strictest contract on file.
    gc(fs, dir, math.max(keepVersions, retentionOf(fs, dir).getOrElse(1)))
    next
  }

  /** Sweep everything below the keep horizon: markers strictly first
    * (no reachable marker ever names a deleted manifest), then
    * manifest files, then any `seg*` directory no KEPT manifest
    * references (which also reclaims segments orphaned by crashed
    * commits). Swept by LISTING, so state orphaned mid-GC is reclaimed
    * by the next commit instead of leaking.
    *
    * The segment sweep is skipped while a rival commit is in flight:
    * a claim above live, seen in the first listing or in a re-list
    * taken after the markers are gone, or a kept manifest that a newer
    * commit's GC deleted mid-read. That rival may be staging its own
    * segment, or restoring the refs of a version this GC is retiring
    * (a rollback resolves its source after claiming), and its own GC
    * reclaims what this one leaves. */
  private def gc(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      keepVersions: Int): Unit = {
    // List BEFORE resolving the published set: a segment in this
    // listing is then either published by the time `kept` is read, or
    // its writer's claim is in the listing too (a claim is created
    // before staging and deleted only after the marker).
    def listNames(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .toSeq.map(_.getPath.getName)
    def claims(ns: Seq[String]): Seq[Long] =
      ns.filter(n => n.startsWith("CLAIM-") && digitsFitLong(n.drop(6)))
        .map(_.drop(6).toLong)
    val names = listNames()
    val published = publishedVersions(fs, dir)
    if (published.isEmpty) return
    val kept = published.takeRight(keepVersions)
    val keepFrom = kept.head
    names.flatMap(parseMarkerVersion).filter(_ < keepFrom)
      .foreach(v => fs.delete(markerPath(dir, v), false))
    // Claims at or below the live version are PROVABLY stale — their
    // marker exists, so their commit finished and only the claim-delete
    // was lost to a crash. Claims ABOVE live are never swept: that
    // writer may still be staging.
    val liveV = published.last
    val (staleClaims, openClaims) = claims(names).partition(_ <= liveV)
    staleClaims.foreach(v => fs.delete(claimPath(dir, v), false))
    names.filter(n => n.startsWith("v") && digitsFitLong(n.drop(1)))
      .map(_.drop(1).toLong).filter(_ < keepFrom)
      .foreach(v => fs.delete(manifestPath(dir, v), false))
    val referenced =
      try Some(kept.flatMap(v => readManifest(fs, dir, v).values.flatten)
        .map(_.takeWhile(_ != '/')).toSet)
      catch { case _: java.io.FileNotFoundException => None }
    // A claim taken after this re-list resolves its source after the
    // retired markers are gone, so it can only re-reference kept
    // segments.
    val rivalInFlight = openClaims.nonEmpty || referenced.isEmpty ||
      claims(listNames()).exists(_ > liveV)
    if (!rivalInFlight)
      names.filter(n => n.startsWith("seg") && digitsFitLong(n.drop(3)))
        .filterNot(referenced.get.contains)
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(dir, n), true))
  }

  /** `dir`-relative ref of `table` inside version `v`'s segment — what
    * a `stage` callback puts in its returned map. */
  private[graft] def ref(v: Long, table: String): String =
    s"${segName(v)}/$table"

  /** The new segment a [[build]] or [[append]] stage writes into. The
    * commit lists every table named through [[write]] or [[path]]. */
  final class Segment private[Manifests] (root: String) {
    private val named = scala.collection.mutable.LinkedHashSet.empty[String]
    /** Absolute path of `table` in this segment, for a caller with its
      * own writer (`partitionBy`, `coalesce`) or a read-back. */
    def path(table: String): String = { named += table; s"$root/$table" }
    /** Write `df` as `table` of this segment (parquet, overwrite). */
    def write(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(path(table))
    private[Manifests] def tables: Seq[String] = named.toSeq
  }

  /** Commit one new segment as the WHOLE artifact — a build or a
    * rewrite: the manifest lists exactly the tables `stage` wrote, and
    * older segments age out with the GC horizon. Returns the version. */
  def build(spark: SparkSession, dir: String, tag: String = "build",
      meta: => Map[String, String] = Map.empty, keepVersions: Int = 2)
      (stage: Segment => Unit): Long =
    commitSegment(spark, dir, tag, meta, keepVersions, carry = false)(stage)

  /** Commit one new segment ON TOP of the live snapshot [[publish]]
    * resolves under its claim: the manifest carries every table that
    * snapshot holds, and each table `stage` wrote gets its one new ref
    * appended — O(|batch|) writes, history never rewritten. On an
    * unbuilt dir it lists only the written tables. Returns the
    * version. */
  def append(spark: SparkSession, dir: String, tag: String = "append",
      meta: => Map[String, String] = Map.empty, keepVersions: Int = 2)
      (stage: Segment => Unit): Long =
    commitSegment(spark, dir, tag, meta, keepVersions, carry = true)(stage)

  private def commitSegment(spark: SparkSession, dir: String, tag: String,
      meta: => Map[String, String], keepVersions: Int, carry: Boolean)
      (stage: Segment => Unit): Long =
    publish(spark, dir, keepVersions, tag, meta) { (v, root, live) =>
      val seg = new Segment(root)
      stage(seg)
      val base = live.filter(_ => carry)
        .fold(Map.empty[String, Seq[String]])(_.tables)
      base ++ seg.tables.map(t =>
        t -> (base.getOrElse(t, Seq.empty) :+ ref(v, t)))
    }

  /** COMPACTION: appends accumulate small segments, so a long-lived
    * store piles up thousands of tiny files — task-per-file scheduling
    * and NameNode pressure on every read. Publish ONE version, tagged
    * `compact`, whose segment rewrites every table of the live snapshot
    * into files of about `targetBytes` (DISTINCT first — a no-op on a
    * healthy store, the repair of one half-doubled by a pre-guard
    * crash, and where tolerated cross-append duplicates are paid down)
    * and whose manifest lists only that segment. In-flight readers keep
    * their resolved snapshot; reads over the compacted store equal the
    * distinct rows before. `artifact` names the store kind in the
    * refusal of an unbuilt store. */
  def compact(spark: SparkSession, dir: String, artifact: String,
      targetBytes: Long = 64L << 20): Long = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val snap = resolveOrFail(spark, dir, artifact,
      "compaction needs a finished build")
    build(spark, dir, tag = "compact") { seg =>
      snap.tables.keys.foreach(t => seg.write(t, snap.read(spark, t)
        .distinct().repartition(targetFiles(spark, snap, t, targetBytes))))
    }
  }

  /** How many files of about `targetBytes` hold `table` of `snap` (at
    * least one) — the size target of every compaction. */
  private[graft] def targetFiles(spark: SparkSession, snap: Snapshot,
      table: String, targetBytes: Long): Int = {
    val paths = snap.paths(table)
    val fs = fsOf(spark, paths.head)
    val bytes = paths.map(p => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(p)).getLength).sum
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** RESTORE: publish a NEW version whose table map is exactly
    * version `v`'s — Delta's `RESTORE TABLE ... VERSION AS OF`,
    * ZERO-COPY under this layout: the new manifest simply lists `v`'s
    * segment refs (a manifest is already allowed to reference older
    * segments — every append's does), so no data moves and GC keeps
    * the restored segments alive through the new manifest's reference
    * even after `v` itself ages out. The bad commit being rolled back
    * stays in [[history]] (tagged) until the horizon sweeps it —
    * restore is a new commit, not an erasure. Fails with the
    * keep-horizon message when `v` is no longer published: you can
    * only restore what the store still remembers. */
  def rollback(spark: SparkSession, dir: String, v: Long,
      keepVersions: Int = 2): Long = {
    // Existence pre-check for a clean not-restorable error; the
    // AUTHORITATIVE resolution happens INSIDE the stage callback — a
    // restore that resolved its source before claiming could commit
    // refs a racing keepVersions=1 commit's GC swept in between
    // (dangling live refs, the one corruption mode the concurrency
    // stress's completeness invariant names; review finding). After
    // the claim + staleness re-list, no rival commit can run until
    // this commit releases, and a predecessor's GC still running skips
    // its segment sweep while this claim is open (see [[gc]]), so refs
    // resolved there are stable by construction.
    def resolveOrRefuse(): Snapshot = snapshotAt(spark, dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"cannot restore $dir to version $v — never built, or aged " +
          "past the keep horizon"))
    resolveOrRefuse()
    // STATE-describing metadata (a partitioned store's layout record)
    // must survive the restore with the data it describes — a rollback
    // that dropped `postings_buckets` would make the next append write
    // a mixed-layout segment beside nested ones, wedging every read
    // (review finding). EVENT-describing metadata must NOT: clone
    // provenance re-emitted by a rollback would make the restore
    // commit read as a clone in [[lineage]] (a copy that never
    // happened), and a re-emitted upsert transaction id would make a
    // streaming sink skip its next genuinely-new batch (second review
    // finding). The by-name `meta` evaluates after the stage, so it
    // carries the stage's own authoritative resolution.
    var restored: Map[String, String] = Map.empty
    publish(spark, dir, keepVersions, tag = s"rollback_v$v",
      meta = restored) { (_, _, _) =>
      val snap = resolveOrRefuse()
      restored = snap.meta -- CommitEventMetaKeys
      snap.tables
    }
  }

  /** Metadata keys that describe the COMMIT EVENT rather than the
    * state it produced — never carried forward by [[rollback]]: the
    * tag, clone provenance ([[cloneSnapshot]]), and the streaming
    * sink's transaction identity. Everything else is presumed
    * state-descriptive and travels with restores. */
  private val CommitEventMetaKeys: Set[String] =
    Set("tag", "clone_src", "clone_src_version", "batch_id", "txn_app")

  /** CLONE: materialize one version of `srcDir` (the live one, or a
    * pinned `atVersion`) as a FRESH independent artifact at `dstDir` —
    * version 1 of its own lifecycle (own retention, own GC, own
    * appends), the "ship this index to another environment / branch it
    * for an experiment" operation. Unlike [[rollback]] (zero-copy
    * within one store), a clone COPIES the referenced data files:
    * refs are dir-relative, and an independent store must not share
    * segments a rival GC could sweep. The commit goes through
    * [[publish]], so a half-copied clone is invisible (no marker) and
    * a retry overwrites the orphan. `dstDir` must not already hold a
    * published artifact — clone is an export, not a merge.
    *
    * The data copy is DISTRIBUTED: the driver lists the referenced
    * files (metadata only, one recursive walk per segment ref — so
    * `partitionBy`'d nested table layouts clone faithfully, relative
    * subpaths preserved), then ships the (src, dst) pairs as one Spark
    * job with one task per file. Clone wall is then bounded by
    * bytes-per-executor, not total artifact bytes on the driver — a
    * billion-vector IVF-PQ store clones at cluster speed instead of a
    * single-node serial copy (the one wall-∝-bytes-on-one-node path
    * this module ever had). `_`/`.`-prefixed names are skipped at
    * every level (per-segment `_SUCCESS` metadata would collide when
    * segments merge into the clone's one table dir; parquet readers
    * ignore them); data-file names carry write-UUIDs so cross-segment
    * collisions cannot happen — and the driver verifies destination
    * uniqueness before copying rather than trusting it.
    *
    * Provenance rides the clone's first commit as metadata
    * (`clone_src`, `clone_src_version` — see [[lineage]]) beside the
    * `clone_v<N>` tag. */
  def cloneSnapshot(spark: SparkSession, srcDir: String, dstDir: String,
      atVersion: Option[Long] = None, keepVersions: Int = 2): Long = {
    val snap = atVersion match {
      case Some(v) => snapshotAt(spark, srcDir, v).getOrElse(
        throw new IllegalArgumentException(
          s"cannot clone $srcDir at version $v — never built, or aged " +
            "past the keep horizon"))
      case None => snapshot(spark, srcDir).getOrElse(
        throw new IllegalArgumentException(
          s"cannot clone $srcDir — no published version"))
    }
    require(!exists(spark, dstDir),
      s"$dstDir already holds a published artifact — clone exports to " +
        "a fresh (or wiped) dir")
    val conf = spark.sparkContext.hadoopConfiguration
    // The source commit's STATE-describing metadata travels WITH the
    // data it describes (a partitioned store's layout record must hold
    // in the clone, or the clone's first append writes a mixed layout
    // — review finding); EVENT metadata (the source's own provenance,
    // a sink's transaction id) does not — the clone records its own
    // provenance, so a clone of a clone names its NEAREST source.
    publish(spark, dstDir, keepVersions, tag = s"clone_v${snap.version}",
      meta = (snap.meta -- CommitEventMetaKeys) ++
        Map("clone_src" -> snap.dir,
          "clone_src_version" -> snap.version.toString)) { (nv, seg, _) =>
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      snap.tables.foreach { case (t, refs) =>
        val dstTable = new org.apache.hadoop.fs.Path(s"$seg/$t")
        dstTable.getFileSystem(conf).mkdirs(dstTable)
        refs.foreach { r =>
          val srcP = new org.apache.hadoop.fs.Path(s"${snap.dir}/$r")
          val sfs = srcP.getFileSystem(conf)
          def walk(p: org.apache.hadoop.fs.Path, rel: String): Unit =
            sfs.listStatus(p).foreach { st =>
              val name = st.getPath.getName
              if (!name.startsWith("_") && !name.startsWith(".")) {
                if (st.isDirectory) walk(st.getPath, s"$rel/$name")
                else pairs += ((st.getPath.toUri.toString,
                  s"$seg/$t$rel/$name"))
              }
            }
          walk(srcP, "")
        }
      }
      val dups = pairs.groupBy(_._2).filter(_._2.size > 1).keys
      require(dups.isEmpty,
        s"clone of ${snap.dir} v${snap.version} would merge distinct " +
          s"source files onto one destination: ${dups.take(3).mkString(", ")}")
      if (pairs.nonEmpty) {
        val sc = spark.sparkContext
        val confSer = new org.apache.spark.SerializableWritable(conf)
        val slices = math.max(1, math.min(pairs.size, sc.defaultParallelism))
        sc.parallelize(pairs.toSeq, slices).foreach { case (srcU, dstU) =>
          val c = confSer.value
          val sp = new org.apache.hadoop.fs.Path(srcU)
          val dp = new org.apache.hadoop.fs.Path(dstU)
          // FileUtil.copy creates missing parent dirs, so nested
          // partition paths need no driver-side mkdirs.
          org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(c), sp,
            dp.getFileSystem(c), dp, false, c)
          ()
        }
      }
      snap.tables.map { case (t, _) => t -> Seq(ref(nv, t)) }
    }
  }

  /** CLONE LINEAGE, the audit relation for "where did this exported
    * artifact come from": one row per still-published version with the
    * commit tag and — for clone commits — the source store and the
    * source version the copy was taken at (null for ordinary
    * commits; pre-provenance clones show the tag only). Joins against
    * [[history]] on `version` for the per-table view. Like history,
    * it answers over what the store still remembers (kept versions). */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    val rows = publishedVersions(fs, dir).flatMap { v =>
      try {
        val m = readMeta(fs, dir, v)
        Seq((v, m.getOrElse("tag", ""), m.get("clone_src").orNull,
          m.get("clone_src_version").filter(digitsFitLong)
            .map(_.toLong).map(java.lang.Long.valueOf).orNull))
      } catch {
        case t if isMissingPath(t) =>
          Seq.empty[(Long, String, String, java.lang.Long)]
      }
    }
    spark.createDataFrame(rows)
      .toDF("version", "tag", "src_store", "src_version")
  }

  /** COMMIT HISTORY of the artifact — the `DESCRIBE HISTORY` companion
    * to [[snapshotAt]]'s `VERSION AS OF`: one row per (still-published
    * version, table) with the commit's tag, the table's total segment
    * count at that version, and the commit's OWN contribution (segments
    * staged under `seg<version>/` and their row count). Row counts are
    * derived ON DEMAND from the immutable segments (a parquet
    * metadata-only count over ≤ keepVersions × tables paths), so
    * commits pay nothing at publish time and counts can never drift
    * from the data. Versions GC'd past the keep horizon leave the
    * history with their segments — history answers "what does this
    * store still remember", the retention contract made visible. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    val rows = publishedVersions(fs, dir).flatMap { v =>
      // A version swept by a concurrent commit's GC between the
      // listing and this read LEAVES the history mid-query — exactly
      // what it would have done had the listing run a moment later
      // (the no-reader-coordination contract; history answers "what
      // does this store still remember").
      try {
        val tag = readMeta(fs, dir, v).getOrElse("tag", "")
        readManifest(fs, dir, v).toSeq.sortBy(_._1).map { case (t, refs) =>
          val own = refs.filter(_.startsWith(segName(v) + "/"))
          val newRows =
            if (own.isEmpty) 0L
            else spark.read.parquet(own.map(r => s"$dir/$r"): _*).count()
          (v, tag, t, refs.size.toLong, own.size.toLong, newRows)
        }
      } catch {
        // GC deletes a version's marker strictly before its segment, so
        // any read failure once `v` is unpublished is the sweep — also
        // the shapes that are not a missing path, like the
        // UNABLE_TO_INFER_SCHEMA of a segment deleted during Spark's
        // file listing.
        case t if isMissingPath(t) || (scala.util.control.NonFatal(t) &&
            !publishedVersions(fs, dir).contains(v)) =>
          Seq.empty[(Long, String, String, Long, Long, Long)]
      }
    }
    spark.createDataFrame(rows)
      .toDF("version", "tag", "table", "segments", "new_segments",
        "new_rows")
  }

  /** Resolve the live snapshot — or the PINNED one when `atVersion` is
    * set (time travel) — failing with an actionable message otherwise:
    * the shared head of every stored-artifact reader and mutator.
    * `artifact` names the store kind ("MinHash index"); `buildHint`
    * says what to run first ("run buildMinhashIndex first"). */
  def resolveOrFail(spark: SparkSession, dir: String, artifact: String,
      buildHint: String, atVersion: Option[Long] = None): Snapshot = {
    val snapOpt = atVersion.map(snapshotAt(spark, dir, _))
      .getOrElse(snapshot(spark, dir))
    atVersion match {
      case Some(v) => require(snapOpt.nonEmpty,
        s"$artifact at $dir has no published version $v — never built, " +
          "or aged past the keep horizon")
      case None => require(snapOpt.nonEmpty,
        s"no completed $artifact at $dir — $buildHint")
    }
    snapOpt.get
  }
}
