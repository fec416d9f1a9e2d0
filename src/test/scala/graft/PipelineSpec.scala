package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{Curation, Pipeline}

/** q209 — the end-to-end curation DAG: the composed report's per-stage
  * numbers must equal the standalone operators run on the same inputs
  * (drop counts = the standalone funnel's), and the whole report must
  * be conservation-consistent stage to stage. */
class PipelineSpec extends SparkSpec {

  test("pipeline funnel drops equal the standalone filterFunnel; report conserves") {
    val docs = Tables.documents(spark, sf)
    val report = Pipeline.fullCuration(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    graft.engine.Caches.release()

    // The standalone funnel over exactly the pipeline's gated corpus
    // must reproduce the composed report's per-gate drop counts.
    val funnel = Curation.filterFunnel(
      Pipeline.gatedCorpus(docs, minEntropy = 2.0),
      Pipeline.gateColumns(col("text"), minTokens = 10, minQuality = 0.3))
      .collect()
    graft.engine.Caches.release()
    funnel.foreach { r =>
      val key = f"1${r.getInt(0)}%02d_drop_${r.getString(1)}"
      assert(report(key) == r.getLong(3).toDouble,
        s"composed vs standalone drop count diverged at ${r.getString(1)}")
    }

    // Conservation across the report: every stage's out = next stage's
    // in, so a stage silently losing or duplicating documents cannot
    // produce a consistent table.
    val gateDrops = funnel.map(_.getLong(3)).sum.toDouble
    assert(report("000_input_docs") - gateDrops ==
      report("190_gate_survivors"))
    assert(report("190_gate_survivors") - report("200_dedup_victims") ==
      report("210_dedup_survivors"))
    assert(report("300_classifier_rejected") +
      report("310_classifier_kept") == report("210_dedup_survivors"))
    assert(report("400_budget_docs") <= report("310_classifier_kept"))
    assert(report("410_budget_tokens") <= 20000.0,
      "budget stage must respect the token budget")
    // Packing and card both describe the SAME released corpus.
    assert(report("600_card_n_docs") == report("400_budget_docs"))
    assert(report("510_packed_tokens") == report("600_card_total_tokens"))
    assert(report("500_packed_sequences") >= 1.0 ||
      report("400_budget_docs") == 0.0)
    // The harness plants guarantee real drops on this corpus.
    assert(report("100_drop_encoding_clean") > 0)
    assert(report("101_drop_safety") > 0)
  }

  test("incremental pipeline: stored-reference stage rows are additive across batches") {
    val docs = Tables.documents(spark, sf)
    // The four stored artifacts the daily loop reads — built once via
    // the same fixtures the q214 registration uses.
    val lineIdx = SparkEntry.storedDedupIndex(spark, sf, "linedf")
    val mhIdx = SparkEntry.storedDedupIndex(spark, sf, "minhash")
    val qm = SparkEntry.storedQualityModel(spark, sf)
    val bpe = SparkEntry.storedBpeModel(spark, sf)
    graft.engine.Caches.release()
    def run(pred: org.apache.spark.sql.Column): Map[String, Double] = {
      val batch = docs.filter(pred)
        .select(col("doc_id"), col("lang"),
          graft.operators.Dedup.plantBoilerplate(col("doc_id"),
            col("text"), lineLen = 8, mod = 2).as("text"))
      val r = Pipeline.incrementalCuration(batch, lineIdx, mhIdx, qm, bpe)
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      graft.engine.Caches.release()
      r
    }
    val inBatch = col("doc_id") % 3 =!= 0
    val a = run(inBatch && col("doc_id") % 2 === 0)
    val b = run(inBatch && col("doc_id") % 2 === 1)
    val u = run(inBatch)
    // Stages 1-5 are per-document against FROZEN stored state, so their
    // rows are additive: report(A) + report(B) == report(A ∪ B) —
    // the q148/q207 stored-reference contract lifted to the chain. The
    // select/pack/card tail (metric keys >= "400") is globally ordered
    // and deliberately excluded.
    val additive = u.keySet.filter(_ < "400")
    assert(additive.exists(_.startsWith("1")), "funnel rows present")
    additive.foreach { k =>
      assert(a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0) == u(k),
        s"$k not additive: ${a.getOrElse(k, 0.0)} + " +
          s"${b.getOrElse(k, 0.0)} != ${u(k)}")
    }
    // The stored-reference stages do real work on this corpus.
    assert(u("050_line_lines_dropped") > 0, "line cleanse must fire")
    assert(u("200_history_dup_docs") > 0, "history dedup must fire")
    assert(u("350_stored_bpe_words") > 0, "stored tokenizer must price")
    // Conservation within one run.
    assert(u("190_gate_survivors") - u("200_history_dup_docs") ==
      u("210_novel_docs"))
    assert(u("300_classifier_rejected") + u("310_classifier_kept") ==
      u("210_novel_docs"))
    // Stage-timing telemetry: the last run left one wall clock per
    // stage, in stage order (the diagnostic channel bench reads — NOT
    // rows of the oracled report, which stays hash-comparable).
    val stages = Pipeline.takeStageSeconds()
    assert(stages.map(_._1) == Seq("1_line_cleanse", "2_extract_gate",
      "3_survivors", "4_history_dedup", "5_novel", "6_classify",
      "7_classifier_keep", "8_bpe_price", "9_budget", "10_final_select",
      "11_pack"), s"unexpected stage set: $stages")
    assert(stages.forall(_._2 >= 0.0))
    // Take-and-clear: a later query that runs no pipeline reads nothing.
    assert(Pipeline.takeStageSeconds().isEmpty)
  }

  test("pipeline time travel: a version-pinned re-run after appends to all four stores is bit-equal") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val root = s"${graft.engine.Sinks.scratch}/pipeline_asof"
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    // Fresh single-commit twins of the four stored artifacts (the
    // shared fixtures must stay immutable — other registrations pin
    // their exact content).
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val refFolded = ref.select(col("doc_id"),
      graft.operators.Dedup.plantBoilerplate(col("doc_id"), col("text"),
        lineLen = 8, mod = 2).as("text"))
    val (lineIdx, mhIdx, qm, bpe) =
      (s"$root/linedf", s"$root/minhash", s"$root/nb", s"$root/bpe")
    graft.operators.Dedup.buildLineIndex(refFolded, lineIdx, "doc_id", "text")
    graft.operators.Dedup.buildMinhashIndex(ref, mhIdx, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32)
    graft.operators.QualityClassifier.saveModel(
      ref.withColumn("label_good", col("lang") === "en"),
      "text", "label_good", qm)
    graft.operators.CorpusStats.saveBpeModel(ref, "text", rounds = 10, bpe)
    graft.engine.Caches.release()

    val batch = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("lang"),
        graft.operators.Dedup.plantBoilerplate(col("doc_id"),
          col("text"), lineLen = 8, mod = 2).as("text"))
    def run(asOf: Pipeline.AsOfVersions): Seq[(String, Double)] = {
      val r = Pipeline.incrementalCuration(batch, lineIdx, mhIdx, qm, bpe,
          asOf = asOf)
        .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
        .sortBy(_._1)
      graft.engine.Caches.release()
      r
    }
    // Day 1 runs RECORDED: the run resolves the live version of every
    // store, executes pinned at exactly those versions, and commits
    // its pins to the run ledger as one unit (only after the report
    // materializes — the ledger's completion-certificate contract).
    val ledger = s"$root/ledger"
    val original = {
      val r = Pipeline.incrementalCurationRecorded(batch, lineIdx, mhIdx,
          qm, bpe, ledger, runId = "day1")
        .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
        .sortBy(_._1)
      graft.engine.Caches.release()
      r
    }
    assert(Pipeline.asOfFromRun(spark, ledger, "day1") ==
      Pipeline.AsOfVersions(Some(1L), Some(1L), Some(1L), Some(1L)),
      "the recorded run must pin the version-1 state of all four stores")

    // Append to EVERY store — "yesterday's run" must survive all of it.
    // The line-index append plants a REAL batch line as boilerplate
    // (df = minDf across 5 new reference docs), so the LIVE report is
    // guaranteed to change while the pinned one must not. The line is
    // picked df-0-at-v1 so the change is strictly new behavior.
    val snapV1 = graft.engine.Manifests.snapshot(spark, lineIdx).get
    val dfV1 = snapV1.read(spark, "line_df")
      .groupBy("h").agg(sum("partial_df").as("d"))
    val cand = batch.orderBy("doc_id").limit(20)
      .select(explode(split(col("text"), "\n")).as("line"))
      .withColumn("h", md5(col("line")))
      .join(dfV1, Seq("h"), "left")
      .filter(coalesce(col("d"), lit(0L)) === 0L)
      .orderBy("line").limit(1).collect()
    assert(cand.nonEmpty, "need a batch line the v1 index has never seen")
    val line = cand.head.getString(1)
    graft.operators.Dedup.appendToLineIndex(
      (0 until 5).map(i => (20000000L + i, line)).toDF("doc_id", "text"),
      lineIdx, "doc_id", "text", batchTag = "extra")
    graft.operators.Dedup.appendToMinhashIndex(
      Seq((30000000L, "one two three four five six seven eight"))
        .toDF("doc_id", "text"), mhIdx, "doc_id", "text")
    graft.operators.QualityClassifier.appendToModel(
      Seq((30000001L, "good fine splendid lovely", true),
        (30000002L, "awful horrid bad", false))
        .toDF("doc_id", "text", "label_good"), "text", "label_good", qm)
    // The BPE "append" is a RETRAIN (frozen tokenizers version, they
    // don't append): v2 with one merge round prices differently.
    graft.operators.CorpusStats.saveBpeModel(ref, "text", rounds = 1, bpe)
    graft.engine.Caches.release()

    // "Reproduce run day1" = ONE ledger lookup, not four hand-pins.
    val pinned = run(Pipeline.asOfFromRun(spark, ledger, "day1"))
    assert(pinned == original,
      "a ledger-resolved re-run must reproduce yesterday's report bit-for-bit")
    // An unrecorded (crashed or unknown) run is never resolvable.
    val e = intercept[IllegalArgumentException] {
      Pipeline.asOfFromRun(spark, ledger, "day2")
    }
    assert(e.getMessage.contains("not recorded"))
    val live = run(Pipeline.AsOfVersions()).toMap
    val base = original.toMap
    assert(live("050_line_lines_dropped") > base("050_line_lines_dropped"),
      "the live run must see the newly indexed boilerplate line")
  }
}
