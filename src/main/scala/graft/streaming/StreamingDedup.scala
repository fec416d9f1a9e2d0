package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** The complete PRODUCTION ingest-dedup loop, streamed: documents
  * arrive as files, every micro-batch is near-dup-checked against the
  * PERSISTED MinHash index (q148's stored state), batch-internal
  * near-dups collapse to one survivor, novel documents append to both
  * the clean corpus and the index — so the NEXT batch (and the next
  * day's run) dedups against everything accepted so far — and
  * rejected documents land in a quarantine table naming what they
  * matched. This composes the round's stored-state machinery into the
  * loop it exists for: [[Dedup.buildMinhashIndex]] once, then this
  * per arrival cadence, amortizing the reference corpus's
  * shingles/bands over every batch forever.
  *
  * Exactly-once and crash shape: the SOURCE side is exactly-once via
  * the checkpoint (a re-run resumes at the file log, like
  * [[IncrementalIngest]]), but foreachBatch itself is AT-LEAST-once —
  * a crash anywhere between the batch's first write and the checkpoint
  * commit re-executes the whole batch. Every write inside a batch is
  * therefore idempotent per batch: accepted and rejected are
  * partitioned by the checkpoint's own `batch_id` and written with
  * dynamic partition overwrite (a replay REPLACES its own partition,
  * exactly [[DriftMonitor]]'s shape — never silent duplicate corpus
  * rows), the index append anti-joins against the snapshot's stored
  * ids ([[Dedup.appendToMinhashIndex]]'s replay guard — a replay
  * no-ops without publishing a version),
  * and the cross-check drops self-matches so a replay that finds its
  * OWN batch already indexed does not re-file every accepted row as
  * `ref_dup`. The index mutation itself is an atomic manifest commit
  * ([[graft.engine.Manifests]]): a crash inside the append leaves an
  * unpublished segment the replay overwrites — there is no
  * half-appended window at all, the multi-table-transaction shape the
  * old marker gate could only approximate.
  *
  * Scale shape per batch: within-batch dedup is the q24 banded
  * self-join on the BATCH only (batches are bounded by the trigger,
  * not the corpus); the cross check is the q148 band equi-join of the
  * batch against the stored band table (|batch|·collisions, zero
  * reference recompute); the index append is O(|novel|). Driver state:
  * none beyond the connected-components convergence counters.
  */
object StreamingDedup {

  /** Drain everything currently in `srcDir` (exactly-once via
    * `checkpointDir`), deduplicating each micro-batch against
    * `indexDir` and batch-internally; novel docs append to
    * `acceptedDir` AND the index, victims to `rejectedDir` as
    * `(doc_id, matched_id, jaccard, reason)` with reason `ref_dup`
    * (matched the stored reference) or `batch_dup` (collapsed into a
    * same-batch survivor; jaccard is the pair that clustered it).
    * Contract: arriving ids are globally unique (never re-used across
    * batches) and disjoint from the indexed ids — the
    * [[Dedup.appendToMinhashIndex]] contract, checked nowhere by
    * design. */
  def runAvailable(spark: SparkSession, srcDir: String, schema: StructType,
      indexDir: String, acceptedDir: String, rejectedDir: String,
      checkpointDir: String, threshold: Double = 0.5): Unit = {
    require(graft.engine.Manifests.exists(spark, indexDir),
      s"no completed MinHash index at $indexDir — run buildMinhashIndex " +
        "over the reference corpus first")
    val q = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        dedupBatch(batch, id + 1, indexDir, acceptedDir, rejectedDir,
          threshold)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch's dedup: within-batch collapse, cross check
    * against the stored index, three writes (accepted, rejected,
    * index append — append LAST), each idempotent under a full-batch
    * replay at the same `batchId` (see the crash-shape note above).
    * Batch twin of the streaming path, public so the spec can prove
    * streaming == batch on identical arrivals AND that a replayed
    * batch leaves the corpus, quarantine, and index bit-unchanged. */
  def dedupBatch(batch: DataFrame, batchId: Long, indexDir: String,
      acceptedDir: String, rejectedDir: String, threshold: Double): Unit = {
    val spark = batch.sparkSession
    val (n, numHashes, bands) = storedLshShape(spark, indexDir)
    val docs = graft.engine.Caches.materialized(
      batch.select(col("doc_id"), col("text")))
    // Within-batch collapse: q24 pairs at the INDEX's LSH shape (one
    // dedup policy end to end), q37 components, min-id survivor.
    val pairs = graft.engine.Caches.materialized(
      Dedup.minhashNearDup(docs, "doc_id", "text",
        n = n, numHashes = numHashes, bands = bands, threshold = threshold))
    val clusters = Dedup.dedupClusters(pairs.select("id_a", "id_b"))
    val batchSurvivors = graft.engine.Caches.materialized(
      Dedup.survivors(docs, "doc_id", clusters))
    // Batch victims carry the pair that clustered them (their best
    // same-batch match at the gate threshold).
    val batchVictims = pairs
      .select(col("id_b").as("doc_id"), col("id_a").as("matched_id"),
        col("jaccard"))
      .union(pairs.select(col("id_a").as("doc_id"),
        col("id_b").as("matched_id"), col("jaccard")))
      .join(batchSurvivors.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .groupBy("doc_id")
      .agg(max(struct(col("jaccard"), col("matched_id"))).as("m"))
      .select(col("doc_id"), col("m.matched_id").as("matched_id"),
        col("m.jaccard").as("jaccard"), lit("batch_dup").as("reason"))
    // Cross check: survivors vs the STORED reference state. The
    // self-match filter is replay safety, not semantics: ids are
    // globally unique by contract, so new_id == ref_id can only mean a
    // replayed batch finding its own previous append in the index —
    // without the filter, every accepted row would re-file as a
    // ref_dup of itself on replay.
    val refMatches = graft.engine.Caches.materialized(
      Dedup.minhashNearDupFromIndex(batchSurvivors, indexDir,
        "doc_id", "text", threshold)
        .filter(col("new_id") =!= col("ref_id")))
    val refVictims = refMatches
      .groupBy(col("new_id").as("doc_id"))
      .agg(max(struct(col("jaccard"), col("ref_id"))).as("m"))
      .select(col("doc_id"), col("m.ref_id").as("matched_id"),
        col("m.jaccard").as("jaccard"), lit("ref_dup").as("reason"))
    val novel = graft.engine.Caches.materialized(
      batchSurvivors.join(
        refVictims.select("doc_id"), Seq("doc_id"), "left_anti"))
    // Idempotent sinks: a replayed batch overwrites ITS OWN batch_id
    // partition instead of appending duplicates (DriftMonitor's shape).
    batchVictims.union(refVictims)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(rejectedDir)
    novel.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(acceptedDir)
    // Index append LAST: the marker window covers the state mutation;
    // the append's per-table anti-join makes a replay a no-op.
    Dedup.appendToMinhashIndex(novel, indexDir, "doc_id", "text")
    graft.engine.Caches.release()
  }

  /** The stored index's LSH shape — batches must band the same way
    * the index did or the pigeonhole guarantee breaks. Resolved from
    * the live manifest snapshot (the index family's commit protocol). */
  private def storedLshShape(spark: SparkSession,
      dir: String): (Int, Int, Int) = {
    val r = graft.engine.Manifests.resolveOrFail(spark, dir,
      "MinHash index", "run buildMinhashIndex first")
      .read(spark, "params").head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }
}
