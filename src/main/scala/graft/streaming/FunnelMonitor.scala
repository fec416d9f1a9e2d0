package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions
import graft.operators.{Curation, QualityClassifier}

/** Streaming FILTER-FUNNEL monitor — the deployment shape of the q165
  * ablation table ([[Curation.filterFunnel]]), composed with the
  * STORED quality classifier: each arriving micro-batch of documents
  * is scored against the persisted model
  * ([[QualityClassifier.scoreFromModel]] — zero training recompute,
  * the stored-reference leg of the q164 pattern), run through the gate
  * funnel in order, and publishes its per-gate drop rows tagged with
  * the batch id — the "what did today's ingest lose to each gate"
  * report a daily curation pipeline alarms on (a gate suddenly eating
  * 40% of a feed is a feed regression, visible per batch, invisible in
  * a lifetime aggregate).
  *
  * Exactly-once bookkeeping is the file-source checkpoint; foreachBatch
  * is at-least-once, so the funnel rows are partitioned by `batch_id`
  * and written with dynamic partition overwrite — a replayed batch
  * REPLACES its own rows ([[DriftMonitor]]'s shape). Per-batch cost:
  * one batch scan for the funnel projection + the vocabulary-sized
  * model join; driver state none (the funnel arithmetic runs on the
  * gates-sized frame).
  */
object FunnelMonitor {

  /** The monitor's gate set over a model-scored batch: the q165
    * heuristic gates first (cheap, kill the obvious junk), the stored
    * model's verdict last — the FineWeb ordering. Evaluated over
    * columns `text` and `quality_score`. */
  def modelGates: Seq[(String, Column)] = Seq(
    "min_tokens" -> (TextFunctions.tokenCount(col("text")) >= 10),
    "quality_heuristic" -> (TextFunctions.qualityScore(col("text")) >= 0.3),
    "model_good" -> (col("quality_score") > 0))

  /** Drain everything currently in `srcDir` (exactly-once via
    * `checkpointDir`), scoring each micro-batch against the stored
    * model at `modelDir` and publishing its funnel rows to `outDir`. */
  def runAvailable(spark: SparkSession, srcDir: String, schema: StructType,
      modelDir: String, outDir: String, checkpointDir: String): Unit = {
    require(graft.engine.Manifests.exists(spark, modelDir),
      s"no completed quality model at $modelDir — run saveModel first")
    val q = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (mb: DataFrame, id: Long) =>
        funnelBatch(mb, id + 1, modelDir, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch's funnel: score with the stored model, gate in
    * order, publish idempotently under this `batchId`. Public batch
    * twin so the spec can prove streaming == batch per batch. */
  def funnelBatch(batch: DataFrame, batchId: Long, modelDir: String,
      outDir: String): Unit = {
    val scored = batch.join(
      QualityClassifier.scoreFromModel(batch, modelDir, "doc_id", "text")
        .select(col("doc_id"), col("quality_score")),
      Seq("doc_id"))
    Curation.filterFunnel(scored, modelGates)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
    graft.engine.Caches.release()
  }

  /** End-to-end two-run demo (the q116/q164 contract): land batch 1,
    * drain (one funnel row set), land batch 2, drain again — the
    * second run funnels ONLY batch 2, and the checkpoint numbers it
    * batch 2 across runs. */
  def twoRunFunnel(spark: SparkSession, modelDir: String,
      batch1: DataFrame, batch2: DataFrame, scratchRoot: String): DataFrame = {
    val (src, out, cp) = (s"$scratchRoot/src", s"$scratchRoot/out",
      s"$scratchRoot/checkpoint")
    Seq(src, out, cp).foreach(IncrementalIngest.deleteDir(spark, _))
    batch1.write.mode("append").parquet(src)
    runAvailable(spark, src, batch1.schema, modelDir, out, cp)
    batch2.write.mode("append").parquet(src)
    runAvailable(spark, src, batch2.schema, modelDir, out, cp)
    // batch_id comes back as a PARTITION column (inferred int, listed
    // last) — restore the written long type and column order.
    spark.read.parquet(out)
      .select(col("batch_id").cast("long").as("batch_id"), col("stage"),
        col("gate"), col("n_in"), col("n_dropped"), col("n_out"))
  }
}
