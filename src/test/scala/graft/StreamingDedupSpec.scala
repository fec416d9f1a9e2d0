package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{IncrementalIngest, StreamingDedup}

/** The streamed production ingest-dedup loop over a persisted MinHash
  * index: batch-internal collapse, cross-check against stored state,
  * index GROWTH (batch 2 must reject near-dups of what batch 1
  * accepted), quarantine provenance, and streaming == batch-twin
  * equivalence on identical arrivals. */
class StreamingDedupSpec extends SparkSpec {

  // 8 words → six 3-gram shingles; changing the LAST word changes one
  // shingle → J = 5/7 ≈ 0.71 ≥ 0.5 (a near-dup at the gate threshold).
  // Distinct docs share no words → J = 0.
  private val ref1 = "alpha beta gamma delta epsilon zeta eta theta"
  private val ref2 = "one two three four five six seven eight"
  private val novelA = "red orange yellow green blue indigo violet pink"
  private val novelB = "cat dog fox wolf bear lion tiger puma"
  private val novelC = "ruby python scala java rust go swift kotlin"
  private def variant(t: String) = t.split(" ").dropRight(1).mkString(" ") + " zzz"

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val batch1 = Seq(
    101L -> variant(ref1), // ref_dup of stored doc 1
    102L -> novelA,
    103L -> novelB,
    104L -> variant(novelB)) // batch_dup, collapses into 103
  private val batch2 = Seq(
    201L -> variant(novelA), // ref_dup of 102 — only if the index GREW
    202L -> novelC)

  private def buildRefIndex(dir: String): Unit = {
    IncrementalIngest.deleteDir(spark, dir)
    Dedup.buildMinhashIndex(df(1L -> ref1, 2L -> ref2), dir,
      "doc_id", "text", n = 3, numHashes = 64, bands = 32)
  }

  private def acceptedIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  private def rejected(dir: String): Map[Long, (Long, String)] =
    spark.read.parquet(dir)
      .select("doc_id", "matched_id", "reason").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("streamed dedup loop: batch collapse, stored-state rejects, index growth, provenance") {
    val root = s"${graft.engine.Sinks.scratch}/streaming_dedup_spec"
    val (src, acc, rej, cp, idx) = (s"$root/src", s"$root/accepted",
      s"$root/rejected", s"$root/cp", s"$root/index")
    Seq(src, acc, rej, cp).foreach(IncrementalIngest.deleteDir(spark, _))
    buildRefIndex(idx)
    // No index → the stream refuses to start (a silently un-deduped
    // corpus is the failure this guards).
    assertThrows[IllegalArgumentException] {
      StreamingDedup.runAvailable(spark, src, df(1L -> ref1).schema,
        s"$root/no_such_index", acc, rej, cp)
    }
    // Arrival 1 drains batch1; arrival 2 (same checkpoint) ONLY batch2.
    df(batch1: _*).write.mode("append").parquet(src)
    StreamingDedup.runAvailable(spark, src, df(1L -> ref1).schema,
      idx, acc, rej, cp)
    df(batch2: _*).write.mode("append").parquet(src)
    StreamingDedup.runAvailable(spark, src, df(1L -> ref1).schema,
      idx, acc, rej, cp)

    assert(acceptedIds(acc) == Set(102L, 103L, 202L))
    val r = rejected(rej)
    assert(r(101L) == ((1L, "ref_dup")), "variant of stored ref1")
    assert(r(104L) == ((103L, "batch_dup")), "collapsed into same-batch 103")
    // The growth proof: 201 matches 102, which was never in the BUILT
    // index — it got there only because batch 1's accept appended it.
    assert(r(201L) == ((102L, "ref_dup")))
    assert(r.keySet == Set(101L, 104L, 201L))
    // The index now holds reference + everything accepted.
    val indexed = graft.engine.Manifests.snapshot(spark, idx).get
      .read(spark, "sh").select("id").collect()
      .map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 102L, 103L, 202L))
    assert(graft.engine.Manifests.exists(spark, idx), "version published")
  }

  test("streaming path equals the batch twin on identical arrivals") {
    val root = s"${graft.engine.Sinks.scratch}/streaming_dedup_twin"
    val (acc, rej, idx) = (s"$root/accepted", s"$root/rejected", s"$root/index")
    Seq(acc, rej).foreach(IncrementalIngest.deleteDir(spark, _))
    buildRefIndex(idx)
    StreamingDedup.dedupBatch(df(batch1: _*), 1L, idx, acc, rej, threshold = 0.5)
    StreamingDedup.dedupBatch(df(batch2: _*), 2L, idx, acc, rej, threshold = 0.5)
    assert(acceptedIds(acc) == Set(102L, 103L, 202L))
    assert(rejected(rej) == Map(
      101L -> ((1L, "ref_dup")),
      104L -> ((103L, "batch_dup")),
      201L -> ((102L, "ref_dup"))))
  }

  test("full-batch replay is idempotent: corpus, quarantine, and index unchanged") {
    // foreachBatch is at-least-once: a crash after all three writes but
    // before the checkpoint commit re-executes the WHOLE batch at the
    // same batch id. The replay must not duplicate accepted/rejected
    // rows, must not re-file accepted docs as ref_dups of themselves
    // (their ids are now IN the index), and must not double index rows.
    val root = s"${graft.engine.Sinks.scratch}/streaming_dedup_replay"
    val (acc, rej, idx) = (s"$root/accepted", s"$root/rejected", s"$root/index")
    Seq(acc, rej).foreach(IncrementalIngest.deleteDir(spark, _))
    buildRefIndex(idx)
    def snapshot(): (Seq[(Long, String)], Map[Long, (Long, String)], Long, Long) = (
      spark.read.parquet(acc).select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted,
      rejected(rej),
      graft.engine.Manifests.snapshot(spark, idx).get
        .read(spark, "sh").count(),
      graft.engine.Manifests.snapshot(spark, idx).get
        .read(spark, "bands").count())
    StreamingDedup.dedupBatch(df(batch1: _*), 1L, idx, acc, rej, threshold = 0.5)
    val first = snapshot()
    StreamingDedup.dedupBatch(df(batch1: _*), 1L, idx, acc, rej, threshold = 0.5)
    assert(snapshot() == first, "replayed batch must be a no-op")
    assert(first._1.map(_._1) == Seq(102L, 103L))
    assert(first._2 == Map(
      101L -> ((1L, "ref_dup")), 104L -> ((103L, "batch_dup"))))
    // And the replay must not have poisoned FUTURE batches: batch 2
    // still dedups correctly against the grown index.
    StreamingDedup.dedupBatch(df(batch2: _*), 2L, idx, acc, rej, threshold = 0.5)
    assert(acceptedIds(acc) == Set(102L, 103L, 202L))
    assert(rejected(rej)(201L) == ((102L, "ref_dup")))
  }

  test("crashed (unpublished) index append completes on retry instead of doubling") {
    // Under the manifest protocol the old half-landed window (sh ahead
    // of bands) cannot exist: a crash before the marker create leaves
    // an UNPUBLISHED orphan segment that is invisible to readers. The
    // retry claims the same version, OVERWRITES the orphan, and
    // publishes once — ending bit-identical to a clean single append.
    val root = s"${graft.engine.Sinks.scratch}/minhash_append_retry"
    val idx = s"$root/index"
    buildRefIndex(idx)
    val newRef = df(102L -> novelA, 103L -> novelB)
    // Simulate the crash: the next version's segment holds partial (and
    // even wrong) data, with no manifest and no marker published.
    val orphanSeg = graft.engine.Manifests.segDir(idx, 2L)
    df(999L -> "stale orphan rows").select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
      .write.mode("overwrite").parquet(s"$orphanSeg/sh")
    Dedup.appendToMinhashIndex(newRef, idx, "doc_id", "text")
    val snap = graft.engine.Manifests.snapshot(spark, idx).get
    assert(snap.version == 2L, "retry claims the orphan's version")
    val sh = snap.read(spark, "sh")
    val bands = snap.read(spark, "bands")
    assert(sh.filter(col("id") === 999L).isEmpty,
      "orphan content must be overwritten, never published")
    assert(sh.count() == sh.select("id").distinct().count(),
      "no duplicate sh rows after retry")
    assert(bands.select("id").distinct().count() == 4,
      "bands completed for the new ids")
    // Match emission is single, not doubled.
    val m = Dedup.minhashNearDupFromIndex(df(201L -> variant(novelA)),
      idx, "doc_id", "text", 0.5).collect()
    assert(m.length == 1 && m.head.getLong(1) == 102L)
    graft.engine.Caches.release()
  }
}
