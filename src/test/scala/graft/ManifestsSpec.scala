package graft

import org.apache.spark.sql.DataFrame

import graft.engine.Manifests
import graft.operators.Dedup
import graft.streaming.IncrementalIngest

/** The versioned-manifest protocol on the MinHash index family:
  * snapshot isolation for readers across append and compaction, the
  * GC keep horizon, malformed-stray tolerance, and orphan reclaim —
  * the EventStream upsert-table guarantees lifted to a stored
  * artifact. */
class ManifestsSpec extends SparkSpec {

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("minhash index: reader snapshots survive append and compaction; GC sweeps the horizon") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_minhash"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    Dedup.buildMinhashIndex(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      dir, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    assert(Manifests.liveVersion(spark, dir).contains(1L))
    // A reader resolves ONCE; everything below must not disturb it.
    val snap1 = Manifests.snapshot(spark, dir).get
    assert(snap1.version == 1L)
    val idsV1 = snap1.read(spark, "sh").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(idsV1 == Set(1L))

    // A malformed MANIFEST-prefixed stray must be tolerated by BOTH
    // resolution and the GC sweep inside the next commits.
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/MANIFEST-not-a-number"), true).close()
    // And an unreferenced stray segment (a crashed commit's orphan)
    // must be reclaimed by the next commit's list-based GC.
    df(99L -> "orphan content").write.mode("overwrite")
      .parquet(s"${Manifests.segDir(dir, 42L)}/sh")

    Dedup.appendToMinhashIndex(
      df(2L -> "one two three four five six seven eight"),
      dir, "doc_id", "text")
    assert(Manifests.liveVersion(spark, dir).contains(2L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/MANIFEST-not-a-number")),
      "GC must tolerate (and not delete) a malformed marker stray")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(dir, 42L))),
      "an unreferenced orphan segment must be reclaimed")
    // keepVersions = 2: the v1 snapshot resolved before the append is
    // still fully readable — the commit touched nothing it references.
    assert(snap1.read(spark, "sh").select("id")
      .collect().map(_.getLong(0)).toSet == idsV1,
      "a resolved snapshot must be immutable under an append")
    val snap2 = Manifests.snapshot(spark, dir).get
    assert(snap2.read(spark, "sh").count() == 2L)
    assert(snap2.tables("sh").size == 2, "append adds a segment, not a rewrite")

    graft.engine.Caches.release()
    Manifests.compact(spark, dir, "MinHash index")
    assert(Manifests.liveVersion(spark, dir).contains(3L))
    // snap2 (v2) is inside the keep horizon {v2, v3}: still readable.
    assert(snap2.read(spark, "sh").count() == 2L,
      "a snapshot inside the keep horizon must survive compaction")
    val snap3 = Manifests.snapshot(spark, dir).get
    assert(snap3.tables("sh").size == 1, "compaction re-bases to one segment")
    assert(snap3.read(spark, "sh").count() == 2L)

    // One more commit ages v2 out: its exclusive segments (seg1, seg2)
    // are no longer referenced by any kept manifest and must be swept,
    // while the compacted segment stays.
    Dedup.appendToMinhashIndex(
      df(3L -> "red orange yellow green blue indigo violet pink"),
      dir, "doc_id", "text")
    assert(Manifests.liveVersion(spark, dir).contains(4L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(dir, 1L))), "aged-out segment must be GC'd")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(dir, 2L))), "aged-out segment must be GC'd")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(dir, 3L))), "referenced segment must survive GC")
    assert(Manifests.snapshot(spark, dir).get.read(spark, "sh")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // Replay safety: re-appending an already-indexed batch publishes
    // nothing (the anti-join short-circuit) — version unchanged.
    Dedup.appendToMinhashIndex(
      df(3L -> "red orange yellow green blue indigo violet pink"),
      dir, "doc_id", "text")
    assert(Manifests.liveVersion(spark, dir).contains(4L),
      "a fully-replayed append must not publish a new version")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/MANIFEST-not-a-number"), false)
    graft.engine.Caches.release()
  }

  test("time travel: a pinned published version answers as of then; aged versions refuse") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_timetravel"
    IncrementalIngest.deleteDir(spark, dir)
    Dedup.buildMinhashIndex(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      dir, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    Dedup.appendToMinhashIndex(
      df(2L -> "one two three four five six seven eight"),
      dir, "doc_id", "text")
    val probe = df(
      101L -> "alpha beta gamma delta epsilon zeta eta zzz",
      102L -> "one two three four five six seven zzz")
    def ids(atVersion: Option[Long]) =
      Dedup.minhashNearDupFromIndex(probe, dir, "doc_id", "text", 0.5,
          atVersion = atVersion)
        .orderBy("new_id").collect().map(_.getLong(1)).toSeq
    // Live sees both reference docs; VERSION AS OF 1 sees only doc 1.
    assert(ids(None) == Seq(1L, 2L))
    assert(ids(Some(1L)) == Seq(1L),
      "version 1 must answer with the pre-append state")
    assert(Manifests.snapshotAt(spark, dir, 3L).isEmpty,
      "an unpublished version must not resolve")
    // Age version 1 past the keep horizon (keepVersions = 2): after
    // one more commit it must refuse rather than serve a swept mix.
    Dedup.appendToMinhashIndex(
      df(3L -> "red orange yellow green blue indigo violet pink"),
      dir, "doc_id", "text")
    assert(Manifests.snapshotAt(spark, dir, 1L).isEmpty,
      "a version aged past the keep horizon must not resolve")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashNearDupFromIndex(probe, dir, "doc_id", "text", 0.5,
        atVersion = Some(1L)).collect()
    }
    assert(e.getMessage.contains("keep horizon"))
    graft.engine.Caches.release()
  }

  test("time travel generalizes: a pinned model version scores as of then") {
    import spark.implicits._
    val dir = s"${graft.engine.Sinks.scratch}/manifests_model_tt"
    IncrementalIngest.deleteDir(spark, dir)
    val trainA = Seq((1L, "good fine nice", true), (2L, "bad awful", false))
      .toDF("doc_id", "text", "y")
    val trainB = Seq((3L, "splendid good", true), (4L, "horrid bad", false))
      .toDF("doc_id", "text", "y")
    val eval = Seq((10L, "good splendid"), (11L, "bad horrid"))
      .toDF("doc_id", "text")
    graft.operators.QualityClassifier.saveModel(trainA, "text", "y", dir)
    def scores(atVersion: Option[Long]) =
      graft.operators.QualityClassifier.scoreFromModel(
          eval, dir, "doc_id", "text", atVersion)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val before = scores(None)
    graft.operators.QualityClassifier.appendToModel(trainB, "text", "y", dir)
    assert(scores(Some(1L)) == before,
      "version 1 must score with the pre-append weights")
    assert(scores(None) != before,
      "the live model must reflect the appended labels")
    graft.engine.Caches.release()
  }

  test("minhash index: queries read one snapshot — results stable across a mid-flight commit") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_minhash_iso"
    IncrementalIngest.deleteDir(spark, dir)
    Dedup.buildMinhashIndex(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      dir, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    val probe = df(101L -> "alpha beta gamma delta epsilon zeta eta zzz")
    // Resolve the query's plan (and with it the snapshot) BEFORE the
    // append commits, execute AFTER: the result must reflect the
    // resolved version, not a torn mix.
    val q = Dedup.minhashNearDupFromIndex(probe, dir, "doc_id", "text", 0.5)
    Dedup.appendToMinhashIndex(
      df(2L -> "alpha beta gamma delta epsilon zeta eta yyy"),
      dir, "doc_id", "text")
    val got = q.orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((101L, 1L)),
      s"pre-commit snapshot must not see the appended doc: $got")
    // A fresh resolution sees both reference docs.
    val after = Dedup.minhashNearDupFromIndex(probe, dir,
      "doc_id", "text", 0.5).orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((101L, 1L), (101L, 2L)))
    graft.engine.Caches.release()
  }

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeRows(dir: String, ids: Long*): Unit =
    df(ids.map(i => i -> s"row $i"): _*).write
      .mode("overwrite").parquet(dir)

  test("build / append / compact spell the segment layout: own refs, carried refs, one distinct segment") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_primitives"
    val fresh = s"${graft.engine.Sinks.scratch}/manifests_primitives_fresh"
    Seq(dir, fresh).foreach(IncrementalIngest.deleteDir(spark, _))
    def live() = Manifests.snapshot(spark, dir).get
    def rows(snap: Manifests.Snapshot, t: String, distinct: Boolean = false) = {
      val d = snap.read(spark, t)
      (if (distinct) d.distinct() else d).collect().map(_.toString).sorted.toSeq
    }
    Manifests.build(spark, dir) { seg =>
      writeRows(seg.path("t"), 1L, 2L)
      seg.write("u", df(9L -> "u"))
    }
    assert(live().tables == Map("t" -> Seq(Manifests.ref(1L, "t")),
      "u" -> Seq(Manifests.ref(1L, "u"))), "build lists exactly its writes")
    Manifests.append(spark, dir)(seg => writeRows(seg.path("t"), 2L, 3L))
    assert(live().tables == Map(
      "t" -> Seq(Manifests.ref(1L, "t"), Manifests.ref(2L, "t")),
      "u" -> Seq(Manifests.ref(1L, "u"))),
      "append carries the unwritten table and adds one ref per write")
    assert(live().meta.get("tag").contains("append"))
    // The run ledger's first commit: an append with nothing to carry.
    Manifests.append(spark, fresh)(_.write("p", df(1L -> "p")))
    assert(Manifests.snapshot(spark, fresh).get.tables ==
      Map("p" -> Seq(Manifests.ref(1L, "p"))))
    val before = live()
    val want = Seq("t", "u").map(t => t -> rows(before, t, distinct = true))
    assert(Manifests.compact(spark, dir, "test store") == 3L)
    val after = live()
    assert(after.meta.get("tag").contains("compact"))
    assert(after.tables == Map("t" -> Seq(Manifests.ref(3L, "t")),
      "u" -> Seq(Manifests.ref(3L, "u"))), "compaction lists one segment")
    assert(Seq("t", "u").map(t => t -> rows(after, t)) == want,
      "each table reads as the distinct of its rows before")
    assert(rows(after, "t").size == 3, "the appended duplicate is gone")
  }

  test("publish enforces the single-writer contract: one winner, one loud loser, no torn commit") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_claim_race"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    Manifests.publish(spark, dir, tag = "build") { (v, seg, _) =>
      writeRows(s"$seg/t", 1L)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    // Writer A claims version 2 and HOLDS it mid-stage while writer B
    // races the same version — pre-claim, B's orphan sweep would have
    // deleted A's half-staged segment and one of the markers could
    // publish a MIX of the two stagings. Now B must fail loudly
    // before touching anything.
    val aInStage = new java.util.concurrent.CountDownLatch(1)
    val bFailed = new java.util.concurrent.CountDownLatch(1)
    @volatile var aError: Throwable = null
    val a = new Thread(() => {
      try Manifests.publish(spark, dir, tag = "append") { (v, seg, _) =>
        writeRows(s"$seg/t", 2L)
        aInStage.countDown()
        // Keep the claim held until B has lost.
        assert(bFailed.await(60, java.util.concurrent.TimeUnit.SECONDS))
        Map("t" -> (Seq(Manifests.ref(1L, "t"), Manifests.ref(v, "t"))))
      } catch { case t: Throwable => aError = t; aInStage.countDown() }
    })
    a.start()
    assert(aInStage.await(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(aError == null, s"writer A must be staging, got $aError")
    val e = intercept[IllegalStateException] {
      Manifests.publish(spark, dir) { (v, seg, _) =>
        writeRows(s"$seg/t", 99L)
        Map("t" -> Seq(Manifests.ref(v, "t")))
      }
    }
    assert(e.getMessage.contains("CLAIM"),
      s"the loser's error must name the claim: ${e.getMessage}")
    bFailed.countDown()
    a.join(60000)
    assert(aError == null, s"the claim holder must commit cleanly: $aError")
    // The published snapshot is exactly A's commit — internally
    // consistent, nothing of B's attempt mixed in or left behind.
    val snap = Manifests.snapshot(spark, dir).get
    assert(snap.version == 2L)
    assert(snap.read(spark, "t").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000002")),
      "a completed commit must release its claim")
  }

  test("claims: a crashed commit's claim refuses loudly with the recovery step; a post-marker claim is GC'd") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_claim_crash"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    Manifests.publish(spark, dir, tag = "build") { (v, seg, _) =>
      writeRows(s"$seg/t", 1L)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    // Death BETWEEN claim and marker: the leftover claim must make the
    // next publish fail with the recovery instruction, not overwrite
    // state whose writer might still be alive.
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000002"),
      false).close()
    val e = intercept[IllegalStateException] {
      Manifests.publish(spark, dir) { (v, seg, _) =>
        Map("t" -> Seq(Manifests.ref(v, "t")))
      }
    }
    assert(e.getMessage.contains("delete the CLAIM"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000002"), false)
    // Death BETWEEN marker and claim-delete: the claim's version is at
    // or below live, so the NEXT commit targets live+1 unblocked and
    // its GC sweeps the provably-stale claim.
    Manifests.publish(spark, dir, tag = "append") { (v, seg, _) =>
      writeRows(s"$seg/t", 2L)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000002"),
      false).close()
    Manifests.publish(spark, dir, tag = "append") { (v, seg, _) =>
      writeRows(s"$seg/t", 3L)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    assert(Manifests.liveVersion(spark, dir).contains(3L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000002")),
      "a claim at or below the live version is provably stale and swept")
  }

  test("claims: a failed stage releases its claim — retries are never wedged") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_claim_retry"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    intercept[RuntimeException] {
      Manifests.publish(spark, dir) { (_, _, _) =>
        throw new RuntimeException("staging job failed")
      }
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000001")),
      "a failed commit (writer alive) must release its claim")
    Manifests.publish(spark, dir, tag = "build") { (v, seg, _) =>
      writeRows(s"$seg/t", 1L)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    assert(Manifests.liveVersion(spark, dir).contains(1L))
  }

  test("GC spares the segment an open claim above live is still staging") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_gc_open_claim"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    def commit(): Long = Manifests.publish(spark, dir, keepVersions = 1) { (v, seg, _) =>
      writeRows(s"$seg/t", v)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    commit()
    // What a committer's GC lists when a rival has claimed the next
    // version and begun staging it: the claim and its unreferenced segment.
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000003"), false).close()
    writeRows(s"${Manifests.segDir(dir, 3L)}/t", 3L)
    assert(commit() == 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(Manifests.segDir(dir, 3L))),
      "GC swept a segment its claimer is still staging")
  }

  test("GC defers the segment sweep while a rival claim is open, then reclaims") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_gc_deferred"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    def commit(): Long = Manifests.publish(spark, dir, keepVersions = 1) { (v, seg, _) =>
      writeRows(s"$seg/t", v)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    def seg(v: Long) = new org.apache.hadoop.fs.Path(Manifests.segDir(dir, v))
    commit()
    // A rival that claimed version 3 may be a rollback restoring
    // version 1's refs: version 1 retires at commit 2, but its segment
    // must outlive the open claim.
    val claim = new org.apache.hadoop.fs.Path(s"$dir/CLAIM-00000003")
    fs.create(claim, false).close()
    assert(commit() == 2L)
    assert(fs.exists(seg(1L)), "GC swept a retired segment under an open rival claim")
    assert(Manifests.earliestVersion(spark, dir).contains(2L))
    // The rival gives up; the next commit's GC reclaims the leftover.
    fs.delete(claim, false)
    assert(commit() == 3L)
    assert(!fs.exists(seg(1L)) && !fs.exists(seg(2L)) && fs.exists(seg(3L)))
  }

  test("retention pin + earliest-version resolution: the q218 contract survives a 3-commit store") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_retention"
    IncrementalIngest.deleteDir(spark, dir)
    // The registered q218 pattern: a store whose RETENTION pin keeps
    // the build commit alive no matter what later call sites pass,
    // and a pin resolved as the EARLIEST still-published version.
    graft.engine.Manifests.setRetention(spark, dir, keepVersions = 8)
    Dedup.buildMinhashIndex(
      df(2L -> "alpha beta gamma delta epsilon zeta eta theta"),
      dir, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    Dedup.appendToMinhashIndex(
      df(3L -> "one two three four five six seven eight"),
      dir, "doc_id", "text")
    // The third commit is the exact hazard ADVICE named: a future
    // append nobody cross-checked against q218. Publish's default
    // keepVersions = 2 would GC v1; the store-level pin must win.
    Dedup.appendToMinhashIndex(
      df(5L -> "red orange yellow green blue indigo violet pink"),
      dir, "doc_id", "text")
    assert(Manifests.earliestVersion(spark, dir).contains(1L),
      "the retention pin must keep the build commit published")
    val probe = df(
      101L -> "alpha beta gamma delta epsilon zeta eta zzz",
      102L -> "one two three four five six seven zzz")
    val pinned = Dedup.minhashNearDupFromIndex(probe, dir,
        "doc_id", "text", 0.5,
        atVersion = Manifests.earliestVersion(spark, dir))
      .orderBy("new_id").collect().map(_.getLong(1)).toSeq
    assert(pinned == Seq(2L),
      "earliest-version resolution must land on the build-only state")
    graft.engine.Caches.release()
  }

  test("rollback: restore is a zero-copy new commit; restored segments outlive their origin version") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_rollback"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    Dedup.buildMinhashIndex(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      dir, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    Dedup.appendToMinhashIndex(
      df(2L -> "one two three four five six seven eight"),
      dir, "doc_id", "text")
    val probe = df(
      101L -> "alpha beta gamma delta epsilon zeta eta zzz",
      102L -> "one two three four five six seven zzz")
    def liveIds() = Dedup.minhashNearDupFromIndex(probe, dir,
        "doc_id", "text", 0.5)
      .orderBy("new_id").collect().map(_.getLong(1)).toSeq
    assert(liveIds() == Seq(1L, 2L), "sanity: live sees both batches")
    val restored = Manifests.rollback(spark, dir, 1L)
    assert(restored == 3L, "restore is a NEW commit, not an erasure")
    assert(liveIds() == Seq(1L),
      "after restore the LIVE read must answer with the v1 state")
    // Zero-copy: the restore staged no segment of its own.
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(dir, 3L))), "restore must not copy data")
    // The restored segments must survive v1 itself aging out: one more
    // commit puts the keep horizon at {v3, v4}; v3's manifest still
    // references seg1, so GC must keep it.
    Dedup.appendToMinhashIndex(
      df(4L -> "red orange yellow green blue indigo violet pink"),
      dir, "doc_id", "text")
    assert(Manifests.snapshotAt(spark, dir, 1L).isEmpty,
      "v1 itself ages out of the horizon")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(dir, 1L))),
      "segments referenced by the restore manifest must survive GC")
    val wideProbe = df(
      101L -> "alpha beta gamma delta epsilon zeta eta zzz",
      102L -> "one two three four five six seven zzz",
      103L -> "red orange yellow green blue indigo violet zzz")
    val afterAppend = Dedup.minhashNearDupFromIndex(wideProbe, dir,
        "doc_id", "text", 0.5)
      .orderBy("new_id").collect().map(_.getLong(1)).toSeq
    assert(afterAppend == Seq(1L, 4L),
      "post-restore appends build on the restored state " +
        s"(rolled-back doc 2 stays gone): $afterAppend")
    // History shows the restore as a tagged commit with no
    // contribution of its own.
    val h = Manifests.history(spark, dir)
      .filter(org.apache.spark.sql.functions.col("version") === 3L)
      .collect()
    assert(h.nonEmpty && h.forall(r =>
      r.getString(1) == "rollback_v1" && r.getLong(4) == 0L),
      s"restore commit must be tagged with zero new segments: ${h.toSeq}")
    // You can only restore what the store still remembers.
    val e = intercept[IllegalArgumentException] {
      Manifests.rollback(spark, dir, 2L)
    }
    assert(e.getMessage.contains("keep horizon"))
    graft.engine.Caches.release()
  }

  test("clone: an exported snapshot answers like its source and lives an independent lifecycle") {
    val src = s"${graft.engine.Sinks.scratch}/manifests_clone_src"
    val dst = s"${graft.engine.Sinks.scratch}/manifests_clone_dst"
    Seq(src, dst).foreach(IncrementalIngest.deleteDir(spark, _))
    Dedup.buildMinhashIndex(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      src, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    Dedup.appendToMinhashIndex(
      df(2L -> "one two three four five six seven eight"),
      src, "doc_id", "text")
    val probe = df(
      101L -> "alpha beta gamma delta epsilon zeta eta zzz",
      102L -> "one two three four five six seven zzz",
      103L -> "red orange yellow green blue indigo violet zzz")
    def ids(dir: String) = Dedup.minhashNearDupFromIndex(probe, dir,
        "doc_id", "text", 0.5)
      .orderBy("new_id").collect().map(_.getLong(1)).toSeq
    val v = Manifests.cloneSnapshot(spark, src, dst)
    assert(v == 1L, "a clone starts its own lifecycle at version 1")
    assert(ids(dst) == ids(src),
      "the clone must answer exactly like its source")
    // Independence, both directions: an append to either store is
    // invisible to the other (copied files, no shared segments).
    Dedup.appendToMinhashIndex(
      df(3L -> "red orange yellow green blue indigo violet pink"),
      src, "doc_id", "text")
    assert(ids(src) == Seq(1L, 2L, 3L) && ids(dst) == Seq(1L, 2L),
      "a source append must not leak into the clone")
    Dedup.appendToMinhashIndex(
      df(4L -> "cat dog fox wolf bear lion tiger puma"),
      dst, "doc_id", "text")
    assert(ids(dst) == Seq(1L, 2L) && ids(src) == Seq(1L, 2L, 3L),
      "a clone append must not leak into the source")
    // History names the provenance; exports refuse non-fresh dirs and
    // aged versions.
    val tag = Manifests.history(spark, dst)
      .filter(org.apache.spark.sql.functions.col("version") === 1L)
      .select("tag").head().getString(0)
    assert(tag == "clone_v2", s"clone commit must carry provenance: $tag")
    intercept[IllegalArgumentException] {
      Manifests.cloneSnapshot(spark, src, dst)
    }
    intercept[IllegalArgumentException] {
      Manifests.cloneSnapshot(spark, src,
        s"${graft.engine.Sinks.scratch}/manifests_clone_dst2",
        atVersion = Some(1L)) // v1 aged out of src's keep horizon
    }
    graft.engine.Caches.release()
  }

  test("clone: a partitioned nested-layout table clones faithfully (distributed per-file copy) with provenance lineage") {
    import spark.implicits._
    val src = s"${graft.engine.Sinks.scratch}/manifests_part_clone_src"
    val dst = s"${graft.engine.Sinks.scratch}/manifests_part_clone_dst"
    Seq(src, dst).foreach(IncrementalIngest.deleteDir(spark, _))
    val fs = fsOf(src)
    // Two commits, each staging a partitionBy'd table — the nested
    // layout the old copy refused loudly — in several files per
    // partition, so the distributed copy moves MANY files across
    // MERGING segments without destination collisions.
    def stagePartitioned(rows: Seq[(Long, Long, String)]): Unit = {
      Manifests.publish(spark, src, keepVersions = 4, tag = "batch") {
        (v, seg, live) =>
          rows.toDF("id", "bucket", "payload").repartition(3)
            .write.partitionBy("bucket").parquet(s"$seg/t")
          val own = Seq(Manifests.ref(v, "t"))
          Map("t" -> (live.map(_.tables("t")).getOrElse(Seq.empty) ++ own))
      }
    }
    stagePartitioned((1L to 20L).map(i => (i, i % 4, s"p$i")))
    stagePartitioned((21L to 40L).map(i => (i, i % 4, s"p$i")))
    val cloneV = Manifests.cloneSnapshot(spark, src, dst)
    assert(cloneV == 1L)
    def slurp(dir: String) = Manifests.snapshot(spark, dir).get
      .read(spark, "t").select("id", "bucket", "payload")
      .as[(Long, Long, String)].collect().toSet
    assert(slurp(dst) == slurp(src),
      "a partitioned table must clone faithfully, partition values included")
    // The clone preserved the nested partition layout (not a flatten).
    val dstSeg = new org.apache.hadoop.fs.Path(
      s"${Manifests.segDir(dst, 1L)}/t")
    val buckets = fsOf(dst).listStatus(dstSeg).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(buckets == Set("bucket=0", "bucket=1", "bucket=2", "bucket=3"),
      s"partition dirs must survive the clone: $buckets")
    // GC treats a partitioned segment as one unit: age the source's
    // seg1 out (two rebuild commits under keepVersions = 1 horizons).
    Manifests.publish(spark, src, keepVersions = 1, tag = "rebuild") {
      (v, seg, _) =>
        Seq((99L, 0L, "z")).toDF("id", "bucket", "payload")
          .write.partitionBy("bucket").parquet(s"$seg/t")
        Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Manifests.segDir(src, 1L))),
      "an unreferenced partitioned segment must be swept whole")
    assert(slurp(dst).size == 40, "the clone is independent of source GC")
    // Lineage: the clone commit names its source store and version;
    // an ordinary commit carries nulls.
    val lin = Manifests.lineage(spark, dst).collect()
    assert(lin.length == 1)
    val r = lin.head
    assert(r.getLong(0) == 1L && r.getString(1) == "clone_v2" &&
      r.getString(2) == src && r.getLong(3) == 2L,
      s"clone lineage must carry (src_store, src_version): $r")
    val plainLin = Manifests.lineage(spark, src)
      .orderBy("version").collect()
    assert(plainLin.forall(x => x.isNullAt(2) && x.isNullAt(3)),
      "ordinary commits carry no clone provenance")
    // History's own-contribution row counts survive the nested layout
    // (partition discovery under one segment root): the clone's single
    // commit staged all 40 rows.
    val dh = Manifests.history(spark, dst).collect()
    assert(dh.length == 1 && dh.head.getLong(5) == 40L,
      s"history must count a partitioned segment's rows: ${dh.toSeq}")
    // A rollback on the clone must NOT re-emit the clone's provenance
    // (event metadata) — lineage would otherwise report a copy that
    // never happened on the restore commit.
    Manifests.rollback(spark, dst, 1L)
    val rb = Manifests.lineage(spark, dst)
      .filter(org.apache.spark.sql.functions.col("version") === 2L)
      .collect()
    assert(rb.length == 1 && rb.head.getString(1) == "rollback_v1" &&
      rb.head.isNullAt(2) && rb.head.isNullAt(3),
      s"a restore is not a clone event: ${rb.toSeq}")
  }

  test("commit metadata: caller meta rides the manifest; malformed tab-less lines are skipped, not a crash") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_meta"
    IncrementalIngest.deleteDir(spark, dir)
    val fs = fsOf(dir)
    Manifests.publish(spark, dir, tag = "build",
      meta = Map("run_id" -> "day1", "source" -> "crawl-7")) { (v, seg, _) =>
      writeRows(s"$seg/t", 1L)
      Map("t" -> Seq(Manifests.ref(v, "t")))
    }
    assert(Manifests.commitMeta(spark, dir, 1L) ==
      Map("tag" -> "build", "run_id" -> "day1", "source" -> "crawl-7"))
    assert(Manifests.commitMeta(spark, dir, 2L).isEmpty,
      "an unpublished version has no metadata")
    // Hand-corrupt the manifest with a tab-less '#' line: the data
    // lines still resolve, so history/commitMeta must skip it rather
    // than crash (the old destructure threw MatchError).
    val mf = new org.apache.hadoop.fs.Path(dir, "v00000001")
    val in = fs.open(mf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val out = fs.create(mf, true)
    try out.write(s"#corrupt-no-tab\n$text".getBytes("UTF-8"))
    finally out.close()
    assert(Manifests.commitMeta(spark, dir, 1L)("tag") == "build")
    val h = Manifests.history(spark, dir).collect()
    assert(h.length == 1 && h.head.getString(1) == "build",
      "history must tolerate a malformed metadata line")
    // Reserved/ill-formed meta refuses loudly at publish time.
    intercept[IllegalArgumentException] {
      Manifests.publish(spark, dir, meta = Map("tag" -> "x")) { (v, _, _) =>
        Map("t" -> Seq(Manifests.ref(v, "t")))
      }
    }
    intercept[IllegalArgumentException] {
      Manifests.publish(spark, dir, meta = Map("k" -> "a\tb")) { (v, _, _) =>
        Map("t" -> Seq(Manifests.ref(v, "t")))
      }
    }
  }

  test("history: one row per kept (version, table) with tag and the commit's own contribution; GC'd versions leave") {
    val dir = s"${graft.engine.Sinks.scratch}/manifests_history"
    IncrementalIngest.deleteDir(spark, dir)
    Manifests.publish(spark, dir, tag = "build") { (v, seg, _) =>
      writeRows(s"$seg/t", 1L, 2L)
      writeRows(s"$seg/meta", 0L)
      Map("t" -> Seq(Manifests.ref(v, "t")),
        "meta" -> Seq(Manifests.ref(v, "meta")))
    }
    Manifests.publish(spark, dir, tag = "append") { (v, seg, live) =>
      writeRows(s"$seg/t", 3L)
      // meta carried forward untouched — its v2 row must show the
      // carry (1 segment, 0 new).
      live.get.tables + ("t" -> (live.get.tables("t") :+
        Manifests.ref(v, "t")))
    }
    val got = Manifests.history(spark, dir)
      .orderBy("version", "table").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, "build", "meta", 1L, 1L, 1L),
      (1L, "build", "t", 1L, 1L, 2L),
      (2L, "append", "meta", 1L, 0L, 0L),
      (2L, "append", "t", 2L, 1L, 1L)), s"history mismatch: $got")
    // A third commit under keepVersions = 2 ages v1 out: history must
    // show only what the store still remembers.
    Manifests.publish(spark, dir, tag = "append") { (v, seg, live) =>
      writeRows(s"$seg/t", 4L)
      live.get.tables + ("t" -> (live.get.tables("t") :+
        Manifests.ref(v, "t")))
    }
    val versions = Manifests.history(spark, dir)
      .select("version").distinct().collect().map(_.getLong(0)).toSet
    assert(versions == Set(2L, 3L),
      s"GC'd versions must leave the history: $versions")
  }

  test("history: a segment swept mid-read (NoSuchFileException under FAILED_READ_FILE) counts as missing") {
    // The shape a concurrent GC raises when it deletes a segment's .crc
    // sidecar during parquet's read: the local filesystem's
    // NoSuchFileException, wrapped by the scan.
    val swept = new org.apache.spark.SparkException(
      "[FAILED_READ_FILE.NO_HINT] Encountered error while reading file " +
        "file:/scratch/idx/seg-0001.parquet. SQLSTATE: KD001",
      new java.nio.file.NoSuchFileException("/scratch/idx/.seg-0001.parquet.crc"))
    assert(Manifests.isMissingPath(swept))
    assert(!Manifests.isMissingPath(new org.apache.spark.SparkException("boom")))
  }
}
