package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.Similarity

/** Streaming ANN-index INGEST — the deployment shape of the q137/q138
  * index-maintenance queries, the [[StreamingDedup]] pattern applied to
  * the vector family: embeddings arrive in micro-batches (a daily
  * embedding job landing files), and each batch is encoded against the
  * FROZEN stored coarse centroids + PQ codebook and appended to the
  * persisted IVF-PQ index — new vectors become searchable per batch
  * with zero retraining, and per-batch cost is O(|batch|·m·k),
  * independent of how large the index has grown (the codes table is
  * append-only, never read by the encoder).
  *
  * Exactly-once bookkeeping is the file-source checkpoint; foreachBatch
  * is at-least-once, so the append itself must tolerate replay — this
  * loop uses [[Similarity.appendToIvfPqIndexReplaySafe]], whose
  * per-table id anti-join makes a replayed batch a no-op and lets a
  * half-landed batch (crash between the `cells` and `codes` appends)
  * complete instead of double-coding vectors. Query results from the
  * streamed index are BIT-EQUAL to one bulk append of the same vectors
  * (spec-asserted): cell assignment and PQ encoding are per-row
  * functions of the frozen artifacts, so batch boundaries and arrival
  * order are invisible.
  *
  * Driver state: none beyond the streaming offsets — the index lives
  * entirely in parquet, exactly like the batch lifecycle.
  */
object AnnIngest {

  /** Drain everything currently in `srcDir` (exactly-once via
    * `checkpointDir`), appending each micro-batch of `(vec_id,
    * embedding)` rows to the completed IVF-PQ index at `indexDir`. */
  def runAvailable(spark: SparkSession, srcDir: String, schema: StructType,
      indexDir: String, checkpointDir: String): Unit = {
    require(graft.engine.Manifests.exists(spark, indexDir),
      s"no completed IVF-PQ index at $indexDir — run buildIvfPqIndex first")
    val q = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (mb: DataFrame, _: Long) => ingestBatch(mb, indexDir) }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch's append. Public batch twin so the spec can prove
    * streamed == bulk per batch. */
  def ingestBatch(batch: DataFrame, indexDir: String): Unit = {
    Similarity.appendToIvfPqIndexReplaySafe(batch, indexDir)
    graft.engine.Caches.release()
  }

  /** End-to-end two-run demo (the q116/q164/q173 contract): build the
    * base index from `base`, land batch 1, drain, land batch 2, drain
    * again — then answer `queries` from the grown index. The result is
    * bit-equal to q138's build-then-bulk-append index over the same
    * vectors, which is what puts this loop under the DuckDB oracle. */
  def twoRunIngest(spark: SparkSession, base: DataFrame, batch1: DataFrame,
      batch2: DataFrame, scratchRoot: String, queries: DataFrame,
      corpus: DataFrame, k: Int, nProbe: Int, cellStride: Long = 53,
      cellIters: Int = 1, m: Int = 16, subDim: Int = 4, pqStride: Long = 3,
      pqIters: Int = 1): DataFrame = {
    val idx = s"$scratchRoot/index"
    IncrementalIngest.deleteDir(spark, idx)
    Similarity.buildIvfPqIndex(base, idx, cellStride, cellIters,
      m, subDim, pqStride, pqIters)
    streamInto(spark, idx, batch1, batch2, scratchRoot, queries, corpus,
      k, nProbe)
  }

  /** [[twoRunIngest]] from an ALREADY-BUILT immutable base index:
    * copies it into `scratchRoot` (appends mutate — the shared base
    * must stay read-only) and streams the batches onto the copy. The
    * production shape: one training amortized over every ingest day,
    * and the per-run cost is the streamed lifecycle itself. */
  def twoRunIngestFromBase(spark: SparkSession, baseIndexDir: String,
      batch1: DataFrame, batch2: DataFrame, scratchRoot: String,
      queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    require(graft.engine.Manifests.exists(spark, baseIndexDir),
      s"no completed IVF-PQ index at $baseIndexDir")
    val idx = s"$scratchRoot/index"
    IncrementalIngest.deleteDir(spark, idx)
    copyDir(spark, baseIndexDir, idx)
    streamInto(spark, idx, batch1, batch2, scratchRoot, queries, corpus,
      k, nProbe)
  }

  private def streamInto(spark: SparkSession, idx: String,
      batch1: DataFrame, batch2: DataFrame, scratchRoot: String,
      queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val (src, cp) = (s"$scratchRoot/src", s"$scratchRoot/checkpoint")
    Seq(src, cp).foreach(IncrementalIngest.deleteDir(spark, _))
    batch1.write.mode("append").parquet(src)
    runAvailable(spark, src, batch1.schema, idx, cp)
    batch2.write.mode("append").parquet(src)
    runAvailable(spark, src, batch2.schema, idx, cp)
    Similarity.ivfPqTopKFromIndex(queries, corpus, idx, k, nProbe)
  }

  /** Recursive artifact copy (index dirs are a handful of MB-scale
    * parquet files — metadata-bound, not data-bound). */
  private def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (sp, dp) = (new org.apache.hadoop.fs.Path(src),
      new org.apache.hadoop.fs.Path(dst))
    val fs = sp.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, sp, dp.getFileSystem(conf), dp,
      false, conf)
  }
}
