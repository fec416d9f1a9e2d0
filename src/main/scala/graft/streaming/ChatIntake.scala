package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.ChatData

/** Streaming CHAT-TRANSCRIPT intake — the deployment shape of the q194
  * validation gate: each arriving micro-batch of SFT transcripts is
  * structurally validated, valid rows land in the accepted sink,
  * invalid rows in quarantine WITH a first-fail reason (parse failure →
  * too short → role order → empty content), both partitioned by the
  * batch id. A generation harness regression (role-order bug, truncated
  * generations) shows up as a per-batch quarantine spike with its
  * reason attributed, instead of silently polluting the training set.
  *
  * At-least-once `foreachBatch` is made effectively exactly-once the
  * same way as [[DriftMonitor]]/[[FunnelMonitor]]: both sinks are
  * written with dynamic partition overwrite under the batch id, so a
  * replayed batch REPLACES its own rows — never duplicate accepted
  * documents, never a double-counted quarantine. Per-batch cost: one
  * validation projection (map-only) + two partition writes; no driver
  * state.
  */
object ChatIntake {

  /** First-fail reason precedence over the q194 validation columns.
    * `valid` rows get the reason "valid" (the accepted sink's tag). */
  private def reasonCol = when(col("n_turns") === 0, "parse_fail")
    .when(col("n_turns") < 2, "too_short")
    .when(col("alternation_ok") === 0, "role_order")
    .when(col("n_empty") > 0, "empty_content")
    .otherwise("valid")

  /** One micro-batch: validate, attribute, route. Public batch twin so
    * the spec can prove streaming == batch per batch. */
  def intakeBatch(batch: DataFrame, batchId: Long, acceptedDir: String,
      quarantineDir: String): Unit = {
    // One validation pass feeds both sinks — materialized so the
    // accepted and quarantine filters don't each re-validate.
    val routed = graft.engine.Caches.materialized(
      batch.join(
        ChatData.validateTranscripts(batch, "doc_id", "transcript"),
        Seq("doc_id"))
        .withColumn("reason", reasonCol)
        .withColumn("batch_id", lit(batchId)))
    def sink(df: DataFrame, dir: String): Unit =
      df.select("doc_id", "transcript", "reason", "total_tokens",
          "batch_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(dir)
    sink(routed.filter(col("valid") === 1), acceptedDir)
    sink(routed.filter(col("valid") === 0), quarantineDir)
    graft.engine.Caches.release()
  }

  /** Drain everything currently in `srcDir` (exactly-once via the
    * checkpoint), routing each micro-batch through [[intakeBatch]]. */
  def runAvailable(spark: SparkSession, srcDir: String, schema: StructType,
      acceptedDir: String, quarantineDir: String,
      checkpointDir: String): Unit = {
    val q = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (mb: DataFrame, id: Long) =>
        intakeBatch(mb, id + 1, acceptedDir, quarantineDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Read a routed sink's (batch_id, reason) pairs, tolerating a sink
    * that never received a row: a partitioned write of zero rows
    * leaves only a `_SUCCESS` marker behind, which
    * `spark.read.parquet` cannot infer a schema from — an all-valid
    * corpus (correctly empty quarantine) or an all-broken one (empty
    * accepted sink) must produce a report, not a crash. The guard is a
    * filesystem check for data files, not exception control flow, so a
    * genuinely corrupt sink still fails loudly. */
  private def readRouted(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) &&
      graft.engine.Tables.leafFiles(fs, p).exists(_.getPath.getName.endsWith(".parquet"))
    if (hasData)
      // batch_id returns as an inferred partition column — restore type.
      spark.read.parquet(dir)
        .select(col("batch_id").cast("long").as("batch_id"), col("reason"))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("reason",
            org.apache.spark.sql.types.StringType))))
  }

  /** Two-run demo (the q116/q164 contract): land batch 1, drain, land
    * batch 2, drain — the second run routes ONLY batch 2 and the
    * checkpoint numbers it batch 2 across runs. Returns the per-batch
    * intake report: (batch_id, reason, n_docs) over BOTH sinks. */
  def twoRunIntake(spark: SparkSession, batch1: DataFrame,
      batch2: DataFrame, scratchRoot: String): DataFrame = {
    val (src, acc, quar, cp) = (s"$scratchRoot/src", s"$scratchRoot/accepted",
      s"$scratchRoot/quarantine", s"$scratchRoot/checkpoint")
    Seq(src, acc, quar, cp).foreach(IncrementalIngest.deleteDir(spark, _))
    batch1.write.mode("append").parquet(src)
    runAvailable(spark, src, batch1.schema, acc, quar, cp)
    batch2.write.mode("append").parquet(src)
    runAvailable(spark, src, batch2.schema, acc, quar, cp)
    readRouted(spark, acc).unionByName(readRouted(spark, quar))
      .groupBy("batch_id", "reason")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Oracle twin of the q204 registration (DuckDB): batch 1 = odd
    * doc_ids, batch 2 = even, the q194 synthesis + validation replay,
    * the same first-fail reason precedence, counts per (batch,
    * reason). */
  def intakeReportSql(): String =
    s"""WITH vr AS (
       |${ChatData.validateTranscriptsSql()}
       |)
       |SELECT CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS BIGINT)
       |    AS batch_id,
       |  CASE WHEN n_turns = 0 THEN 'parse_fail'
       |    WHEN n_turns < 2 THEN 'too_short'
       |    WHEN alternation_ok = 0 THEN 'role_order'
       |    WHEN n_empty > 0 THEN 'empty_content'
       |    ELSE 'valid' END AS reason,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM vr GROUP BY 1, 2""".stripMargin
}
