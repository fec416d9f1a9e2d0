package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Similarity
import graft.streaming.{AnnIngest, IncrementalIngest}

/** The streaming ANN-index ingest loop: streamed appends must be
  * bit-invisible versus one bulk append (frozen-artifact encoding is
  * per-row, so batch boundaries cannot matter), and replayed batches
  * must be no-ops (at-least-once foreachBatch). */
class AnnIngestSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)
  private def queries = emb.filter(col("vec_id") < 10)

  private def topk(dir: String) =
    Similarity.ivfPqTopKFromIndex(queries, emb, dir, k = 5, nProbe = 3)
      .orderBy("query_id", "rank")
      .collect().map(_.toString).toSeq

  test("streamed two-batch ingest == bulk append, bit-for-bit") {
    val root = s"${graft.engine.Sinks.scratch}/ann_ingest_spec"
    val bulk = s"$root/bulk"
    Seq(root, bulk).foreach(IncrementalIngest.deleteDir(spark, _))
    val streamed = AnnIngest.twoRunIngest(spark,
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 4 === 1),
      emb.filter(col("vec_id") % 4 === 3),
      s"$root/stream", queries, emb, k = 5, nProbe = 3)
      .orderBy("query_id", "rank")
      .collect().map(_.toString).toSeq
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0), bulk,
      cellStride = 53, cellIters = 1, m = 16, subDim = 4,
      pqStride = 3, pqIters = 1)
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 =!= 0), bulk)
    assert(streamed == topk(bulk),
      "batch boundaries must be invisible to the frozen-artifact encoders")
    graft.engine.Caches.release()
  }

  test("replayed batch is a no-op; half-landed append completes") {
    val root = s"${graft.engine.Sinks.scratch}/ann_ingest_replay"
    IncrementalIngest.deleteDir(spark, root)
    val idx = s"$root/index"
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0), idx,
      cellStride = 53, cellIters = 1, m = 16, subDim = 4,
      pqStride = 3, pqIters = 1)
    val batch = emb.filter(col("vec_id") % 4 === 1)
    AnnIngest.ingestBatch(batch, idx)
    val want = topk(idx)
    def tableCount(t: String): Long =
      graft.engine.Manifests.snapshot(spark, idx).get.read(spark, t).count()
    val codesBefore = tableCount("codes")
    val cellsBefore = tableCount("cells")
    // Full replay (the at-least-once hazard): nothing may change.
    AnnIngest.ingestBatch(batch, idx)
    assert(tableCount("codes") == codesBefore)
    assert(tableCount("cells") == cellsBefore)
    assert(topk(idx) == want)
    // Under the manifest protocol the old half-landed window (cells
    // ahead of codes) cannot exist — both tables land in ONE atomic
    // segment commit. A crashed (unpublished) commit: plant an orphan
    // segment at the next version; the retry must overwrite it and
    // publish once, never surfacing the orphan content.
    val batch2 = emb.filter(col("vec_id") % 4 === 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val nextV = graft.engine.Manifests.liveVersion(spark, idx).get + 1
    emb.filter(col("vec_id") === 0).select(col("vec_id").as("nid"))
      .withColumn("cent_id", col("nid"))
      .write.mode("overwrite")
      .parquet(s"${graft.engine.Manifests.segDir(idx, nextV)}/cells")
    AnnIngest.ingestBatch(batch2, idx)
    val fullCodes = tableCount("codes")
    val fullCells = tableCount("cells")
    val grown = topk(idx)
    // Re-ingest once more: still a no-op even after two batches.
    AnnIngest.ingestBatch(batch2, idx)
    assert(tableCount("codes") == fullCodes)
    assert(tableCount("cells") == fullCells)
    assert(topk(idx) == grown)
    assert(graft.engine.Manifests.exists(spark, idx), "marker re-committed")
    fs.close()
    graft.engine.Caches.release()
  }
}
