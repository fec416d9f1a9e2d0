package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Caches
import graft.functions.{TextFunctions, TextKernels}

/** The END-TO-END curation DAG as one operator: raw crawled pages in,
  * packed training sequences + a dataset card out — every stage is the
  * library's own registered operator, composed in the order a
  * production pretraining-data run executes them (FineWeb/Dolma/CCNet
  * pipeline shape):
  *
  *   1. EXTRACT    — HTML → text ([[WebText.extractText]], q197)
  *   2. NORMALIZE  — UAX #15 NFC ([[graft.functions.TextKernels]], q179)
  *   3. GATE       — sequential filter funnel ([[Curation.filterFunnel]],
  *                   q165): encoding hygiene (q193), keyword safety
  *                   (q206), char entropy (q203), min tokens, heuristic
  *                   quality
  *   4. DEDUP      — exact prefix-filtered Jaccard pairs → connected
  *                   clusters → survivors ([[Dedup.prefixJaccardPairs]] +
  *                   [[Dedup.dedupClusters]], q43/q37/q38 — the EXACT
  *                   member of the dedup family, so the composed oracle
  *                   is equality, not a probabilistic agreement)
  *   5. CLASSIFY   — NB quality classifier trained on a slice of the
  *                   survivors, applied to all of them
  *                   ([[QualityClassifier.trainScore]], q168)
  *   6. SELECT     — quality-ordered token-budget prefix sample
  *                   ([[Curation.tokenBudgetSample]], q40)
  *   7. PACK       — sequence packing into fixed token bins
  *                   ([[Curation.packSequences]], q71)
  *   8. CARD       — dataset card over the released corpus
  *                   ([[Curation.datasetCard]], q208)
  *
  * Output is ONE long `(metric, value)` report: the input volume, the
  * per-gate funnel drops (marginal, in gate order — the ablation table
  * curation papers publish), the dedup/classifier/budget stage counts,
  * the packing stats, and the final card — so a single query adjudicates
  * the whole run. The oracle replays the entire DAG as one DuckDB CTE
  * chain built from each stage's own SQL twin (the `from`-parameterized
  * builders), nothing re-derived.
  *
  * Notes on the composed semantics:
  *   - The harness plants the q193/q203/q206 artifact schedules on the
  *     raw text BEFORE HTML synthesis (entropy replace first, then
  *     encoding artifacts, then safety terms), so the funnel's drops are
  *     real and attributable; the operators never see the schedules.
  *   - Extraction squashes whitespace, so the post-extract corpus is
  *     single-line; the line-level gates (q192/q198) live in the
  *     pre-extraction deployment position and are exercised standalone.
  *   - Stage costs at scale: extract/normalize/gates are map-only; the
  *     dedup stage is the prefix-filter index join (sublinear measured,
  *     q43); classifier is two broadcast joins; select/pack are the
  *     partition-local prefix-sum shape (q40/q71). No stage introduces
  *     a shuffle the standalone operator doesn't already pay.
  */
object Pipeline {

  /** The composed harness plant: q203's degenerate-text replace, then
    * q193's encoding artifacts, then q206's safety terms — each on its
    * own standalone schedule (23 | 7/11/13 | 19/29). */
  def plantAll(id: Column, text: Column): Column =
    Curation.plantSafetyTerms(id,
      Curation.plantEncodingArtifacts(id,
        CorpusStats.plantDegenerateText(id, text)))

  /** The funnel gates, shared between [[fullCuration]], its oracle, and
    * the PipelineSpec equivalence check. `low_entropy` is a precomputed
    * column (entropy is an aggregation, not an expression — the q167
    * precomputed-gate pattern). */
  def gateColumns(t: Column, minTokens: Int,
      minQuality: Double): Seq[(String, Column)] = Seq(
    "encoding_clean" -> (Curation.encodingDirtyCount(t) === 0),
    "safety" -> (TextFunctions.markerHits(t,
      Curation.SafetyCategories.flatMap(_._2)) === 0),
    "entropy" -> (col("low_entropy") === 0),
    "min_tokens" -> (TextFunctions.tokenCount(t) >= minTokens),
    "quality" -> (TextFunctions.qualityScore(t) >= minQuality))

  /** The gated corpus: extract → normalize → join the entropy verdict —
    * the frame both the funnel REPORT and the survivor SET read, exposed
    * so PipelineSpec can run the standalone funnel on exactly it. */
  def gatedCorpus(docs: DataFrame, minEntropy: Double): DataFrame = {
    // Parallelism floor at the DAG's head: HTML synthesis/extraction and
    // NFC normalization are per-row kernels fused into the input scan
    // (one file ⇒ one task), and every staged barrier downstream caches
    // its input's partitioning — so an under-partitioned head serializes
    // the ENTIRE pipeline. Identity at 100 TB (wide scans); downstream
    // stages are layout-invariant (gates are per-row, budget/pack
    // range-repartition internally, funnel/card aggregate).
    val planted = graft.engine.Partitioning.parallelized(docs)
      .select(col("doc_id"), col("lang"),
        plantAll(col("doc_id"), col("text")).as("text"))
    val pages = planted.select(col("doc_id"), col("lang"),
      WebText.syntheticHtml(col("doc_id"), col("text")).as("html"))
    val ext = pages.select(col("doc_id"), col("lang"),
      WebText.htmlToText(col("html")).as("text"))
    val nrm = ext.select(col("doc_id"), col("lang"),
      TextKernels.nfcNormalizeCol(col("text")).as("text"))
    // low_entropy is a per-row verdict since the r19 entropy kernel —
    // no per-doc aggregation, so the former charEntropy join (and its
    // two exchanges over one-row-per-character frames) is gone. Same
    // ln/division/round tail, same DECIMAL(28,6) term sum; the q203
    // standalone and both pipeline oracles replay it unchanged.
    CorpusStats.withLowEntropy(nrm, "text", minEntropy)
  }

  /** Per-stage wall seconds of the LAST [[fullCuration]] /
    * [[incrementalCuration]] run in this JVM, in stage order — the
    * answer to "which stage do I buy hardware for" at 100 TB.
    * BARRIERED stages end at an eager materialization barrier
    * ([[Caches.truncated]]'s count()), so the wall between barriers IS
    * the stage's executed cost — the same number a
    * QueryExecutionListener would attribute to the barrier action,
    * without the async-callback attribution race (listener events post
    * on the listener bus; a label-switching listener can credit a late
    * callback to the wrong stage). LAZY stages (survivors, budget,
    * price, pack — cut to ≈0 s here by the r19 serial-job reduction)
    * report only their plan-build time; their executed cost lands in
    * the consuming barrier or the final report action. The final
    * `(metric, value)` report assembly is the caller's action and is
    * the residual between the bench wall and this table's sum.
    *
    * DIAGNOSTIC channel: taken after every query by
    * [[graft.Bench.measure]] into `RunStats.stages`, which the bench
    * and scale-probe telemetry print (stderr + BENCH_PARTIAL.jsonl). Deliberately NOT part of the
    * oracled pipeline reports — wall time is not oracle-able, and a
    * row of it would break the hash gate; CORRECTNESS stays on the
    * value columns. Meaningless under concurrent callers.
    *
    * Take-and-clear: a second take returns empty, so a read after a
    * query that ran no pipeline never reports an earlier run's stages. */
  private val lastTimings =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, Double)]](Nil)
  def takeStageSeconds(): Seq[(String, Double)] = lastTimings.getAndSet(Nil)

  /** Stage wall clock around a lazy staged frame or a
    * [[Caches.truncated]] stage, whose barrier count the report reuses
    * as a literal row (one fewer aggregation subtree in the final
    * action per reused count). */
  private final class StageTimer {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def apply[T](name: String, f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      acc += name -> (System.nanoTime() - t0) / 1e9
      r
    }
  }

  private def timeStages[A](body: StageTimer => A): A = {
    val timer = new StageTimer
    val out = body(timer)
    lastTimings.set(timer.acc.toList)
    out
  }

  /** Multi-metric aggregation over ONE frame, emitted as `(metric,
    * value)` rows — the [[Curation.datasetCard]] struct-explode idiom:
    * n metrics over the same source cost one aggregation subtree, not
    * n. Values identical to n separate `df.agg(...)` calls. */
  private def aggRows(df: DataFrame, ms: (String, Column)*): DataFrame =
    df.agg(ms.head._2.cast("double").as("m0"),
        ms.tail.zipWithIndex.map { case ((_, c), i) =>
          c.cast("double").as(s"m${i + 1}") }: _*)
      .select(explode(array(ms.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(n).as("metric"), col(s"m$i").as("value")) }: _*)))
      .select(col("col.metric").as("metric"), col("col.value").as("value"))

  /** Run the whole DAG; returns the `(metric, value)` report. */
  def fullCuration(docs: DataFrame,
      minTokens: Int = 10, minQuality: Double = 0.3,
      minEntropy: Double = 2.0,
      jaccardN: Int = 3, jaccardThreshold: Double = 0.5,
      budget: Long = 20000L, binTokens: Long = 512L): DataFrame = timeStages { staged =>
    val spark = docs.sparkSession
    import spark.implicits._
    val t = col("text")
    val gates = gateColumns(t, minTokens, minQuality)

    // SEQUENTIAL-JOB BUDGET (r18 verdict: wall on this family is bound
    // by the count of serial driver actions, 8c/32c ≈ 1, not by data):
    // a stage gets an eager barrier ONLY when its output feeds multiple
    // downstream consumers through expensive recomputation. Stages
    // consumed once (pack), or that are a cheap filter/window over an
    // already-cached frame (survivors, budget), stay LAZY — their cost
    // lands inside the consuming barrier or the one final report
    // action, whose independent union legs schedule concurrently.
    //
    // The gate barrier carries the all-gates verdict as a column and
    // its count doubles as the input count: [[gatedCorpus]] is 1:1 with
    // `docs` (plant/extract/normalize are per-row projections; the
    // entropy join is inner on the per-doc aggregate of the same rows),
    // so count(gated) = count(docs) — the former separate docs.count()
    // job. The oracle's own spelling counts the same composed relation.
    val (gatedF, nInput) = staged("1_extract_gate",
      Caches.truncated(gatedCorpus(docs, minEntropy)
        .withColumn("passes", gates.map(_._2).reduce(_ && _))))
    val funnel = Curation.filterFunnel(gatedF, gates, materialize = false)
    // Survivors: a lazy filter over the cached gate stage — each
    // consumer re-filters cached rows instead of paying a barrier job.
    val surv = staged("2_survivors",
      gatedF.filter(col("passes")).select("doc_id", "lang", "text"))

    val (victims, nVictims) = staged("3_dedup_pairs",
      Caches.truncated(Dedup.dedupClusters(
        Dedup.prefixJaccardPairs(surv, "doc_id", "text",
          jaccardN, jaccardThreshold))
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))))
    val (kept, nKept) = staged("4_dedup_survivors",
      Caches.truncated(
        surv.join(victims, Seq("doc_id"), "left_anti")))

    val (scored, _) = staged("5_classify", Caches.truncated(
      QualityClassifier.trainScore(
        kept.filter(col("doc_id") % 3 === 0)
          .withColumn("label_good", col("lang") === "en"),
        "text", "label_good", kept, "doc_id", "text")))
    val (sel, nSel) = staged("6_classifier_keep",
      Caches.truncated(kept.join(
        scored.filter(col("is_good") === 1).select("doc_id"), Seq("doc_id"))))

    // Budget stays lazy: tokenBudgetSample materializes its prefix-sum
    // partials internally; the tail (window over that cache + broadcast
    // offset join) is cheap enough to recompute for its two consumers
    // (the final-select join below, inside that barrier, and the
    // 410_budget_tokens leg of the report action).
    val budgeted = staged("7_budget",
      Curation.tokenBudgetSample(sel, "doc_id", "text", budget))
    val (fin, nFin) = staged("8_final_select",
      Caches.truncated(
        sel.join(budgeted.select("doc_id"), Seq("doc_id"))))
    // Pack is consumed exactly once (the 500/510 report leg) — no
    // barrier; packSequences' internal prefix-sum cache is its only job.
    val bins = staged("9_pack",
      Curation.packSequences(fin, "doc_id", "text", binTokens))

    // Count rows the stage barriers already computed ride as a local
    // relation (zero jobs in the final action). Remaining aggregates
    // share one subtree per source frame ([[aggRows]]) and all run in
    // the ONE final action, whose independent legs the scheduler
    // overlaps. Values — and, after the registered .orderBy("metric"),
    // the whole report — are identical to the former
    // one-barrier-per-stage assembly.
    val literals = Seq(
      "000_input_docs" -> nInput.toDouble,
      "200_dedup_victims" -> nVictims.toDouble,
      "210_dedup_survivors" -> nKept.toDouble,
      "310_classifier_kept" -> nSel.toDouble,
      "400_budget_docs" -> nFin.toDouble).toDF("metric", "value")
    val report = literals
        .unionAll(aggRows(surv,
          "190_gate_survivors" -> count(lit(1))))
        .unionAll(funnel.select(
          format_string("1%02d_drop_%s", col("stage"), col("gate"))
            .as("metric"),
          col("n_dropped").cast("double").as("value")))
        .unionAll(aggRows(scored.filter(col("is_good") === 0),
          "300_classifier_rejected" -> count(lit(1))))
        .unionAll(aggRows(budgeted,
          "410_budget_tokens" -> coalesce(sum("n_tokens"), lit(0L))))
        .unionAll(aggRows(bins,
          "500_packed_sequences" -> coalesce(countDistinct(col("bin")), lit(0L)),
          "510_packed_tokens" -> coalesce(sum("n_tokens"), lit(0L))))
        .unionAll(Curation.datasetCard(fin, "text", "lang")
          .select(concat(lit("600_card_"), col("metric")).as("metric"),
            col("value")))
    report.select(col("metric"), round(col("value"), 6).as("value"))
  }

  /** INCREMENTAL curation — the daily-loop twin of [[fullCuration]]:
    * ONE NEW BATCH processed end-to-end against the STORED artifacts a
    * production pipeline maintains, touching zero history:
    *
    *   1. LINE CLEANSE — boilerplate lines dropped against the
    *      PERSISTED line-df index ([[Dedup.dropBoilerplateFromIndex]],
    *      q207): the batch pays |batch| lines + a broadcast-or-shuffle
    *      join against the stored df table, never a history rescan.
    *   2. EXTRACT/NORMALIZE/GATE — the same map-only q209 stages
    *      ([[gatedCorpus]] + [[Curation.filterFunnel]]).
    *   3. HISTORY DEDUP — survivors near-dup-matched against the
    *      PERSISTED MinHash index ([[Dedup.minhashNearDupFromIndex]],
    *      q148): only the batch is shingled/banded; matches to any
    *      indexed reference doc are dropped as already-held content.
    *   4. CLASSIFY — scored by the PERSISTED NB quality model
    *      ([[QualityClassifier.scoreFromModel]], q169): zero training
    *      recompute.
    *   5. PRICE — the classifier-kept batch priced under the FROZEN
    *      stored BPE tokenizer ([[CorpusStats.bpeTokenizeFromModel]],
    *      q150) — the token-cost row a curation run reports before
    *      committing budget.
    *   6. SELECT/PACK/CARD — the batch-local q40/q71/q208 stages.
    *
    * Stages 1-5 are PER-DOCUMENT against frozen stored state, so their
    * report rows are ADDITIVE across batches: report(A) + report(B) =
    * report(A ∪ B) row-for-row (PipelineSpec asserts it) — the
    * q148/q207 stored-reference contract lifted to the whole chain.
    * The select/pack/card tail is globally ordered by construction
    * (a token budget is a corpus-level decision) and additive only in
    * its inputs.
    *
    * The batch arrives in the q207 harness shape (folded lines,
    * boilerplate planted by the registration); `docs` must carry
    * (doc_id, lang, text). */
  /** Version pins for [[incrementalCuration]]'s four stored
    * artifacts — pipeline-level TIME TRAVEL: "reproduce yesterday's
    * daily run exactly" is resolving yesterday's snapshot of EVERY
    * frozen reference this run consulted, not just one index. Each
    * pin rides the corresponding reader's `atVersion`; None = live
    * (PipelineSpec proves a pinned re-run after appends to all four
    * stores is bit-equal to the original report). */
  final case class AsOfVersions(
      lineIdx: Option[Long] = None, minhashIdx: Option[Long] = None,
      qualityModel: Option[Long] = None, bpeModel: Option[Long] = None)

  /** The store keys a daily-loop run records in its
    * [[graft.engine.RunLedger]] — ONE spelling shared by the recorder
    * ([[incrementalCurationRecorded]]) and the resolver
    * ([[asOfFromRun]]), so a ledger written by one can always be read
    * by the other. */
  object RunStores {
    val LineDf = "line_df"
    val Minhash = "minhash"
    val QualityModel = "quality_model"
    val BpeModel = "bpe_model"
  }

  /** Resolve a past run's [[AsOfVersions]] from the run ledger — the
    * production spelling of "reproduce run `runId` exactly": the four
    * pins come from ONE recorded unit instead of four hand-resolved
    * version calls (the q220 shape). Fails loudly when the ledger
    * holds no such run — a crashed run commits nothing, so an
    * incomplete run is never resolvable (the ledger's crash
    * contract), and a reproduction attempt against it must say so
    * rather than silently running live. */
  def asOfFromRun(spark: org.apache.spark.sql.SparkSession,
      ledgerDir: String, runId: String): AsOfVersions =
    graft.engine.RunLedger.resolve(spark, ledgerDir, runId) match {
      case None => throw new IllegalArgumentException(
        s"run '$runId' is not recorded at $ledgerDir — never run, " +
          "crashed before its ledger commit, or aged past the ledger's " +
          "keep horizon; only completed runs are reproducible")
      case Some(pins) => AsOfVersions(
        lineIdx = pins.get(RunStores.LineDf),
        minhashIdx = pins.get(RunStores.Minhash),
        qualityModel = pins.get(RunStores.QualityModel),
        bpeModel = pins.get(RunStores.BpeModel))
    }

  /** [[incrementalCuration]] with its reads RECORDED: resolve the live
    * version of every stored artifact FIRST, run the whole batch
    * pinned at exactly those versions (so the recorded pins are the
    * versions actually read, even if a concurrent append lands
    * mid-run), MATERIALIZE the report, and only then commit the run
    * to the ledger — a crash anywhere earlier leaves no ledger row,
    * so [[asOfFromRun]] can never resolve a half-finished run. The
    * returned report is the materialized frame (safe to read after
    * the ledger commit without re-execution). */
  def incrementalCurationRecorded(batch: DataFrame,
      lineIdxDir: String, minhashIdxDir: String,
      qualityModelDir: String, bpeModelDir: String,
      ledgerDir: String, runId: String,
      minTokens: Int = 10, minQuality: Double = 0.3,
      minEntropy: Double = 2.0,
      lineMinDf: Int = 5, dedupThreshold: Double = 0.5,
      budget: Long = 20000L, binTokens: Long = 512L): DataFrame = {
    val spark = batch.sparkSession
    def liveOf(store: String, dir: String): graft.engine.RunLedger.Pin = {
      val v = graft.engine.Manifests.liveVersion(spark, dir).getOrElse(
        throw new IllegalStateException(
          s"cannot record a run over unbuilt store '$store' at $dir"))
      graft.engine.RunLedger.Pin(store, dir, v)
    }
    val lineP = liveOf(RunStores.LineDf, lineIdxDir)
    val mhP = liveOf(RunStores.Minhash, minhashIdxDir)
    val qmP = liveOf(RunStores.QualityModel, qualityModelDir)
    val bpeP = liveOf(RunStores.BpeModel, bpeModelDir)
    val (report, _) = Caches.truncated(incrementalCuration(batch,
      lineIdxDir, minhashIdxDir, qualityModelDir, bpeModelDir,
      minTokens, minQuality, minEntropy, lineMinDf, dedupThreshold,
      budget, binTokens,
      asOf = AsOfVersions(
        lineIdx = Some(lineP.version), minhashIdx = Some(mhP.version),
        qualityModel = Some(qmP.version), bpeModel = Some(bpeP.version))))
    graft.engine.RunLedger.commit(spark, ledgerDir, runId,
      Seq(lineP, mhP, qmP, bpeP))
    report
  }

  def incrementalCuration(batch: DataFrame,
      lineIdxDir: String, minhashIdxDir: String,
      qualityModelDir: String, bpeModelDir: String,
      minTokens: Int = 10, minQuality: Double = 0.3,
      minEntropy: Double = 2.0,
      lineMinDf: Int = 5, dedupThreshold: Double = 0.5,
      budget: Long = 20000L, binTokens: Long = 512L,
      asOf: AsOfVersions = AsOfVersions()): DataFrame = timeStages { staged =>
    val spark = batch.sparkSession
    import spark.implicits._
    val t = col("text")
    val gates = gateColumns(t, minTokens, minQuality)

    // Same sequential-job budget as [[fullCuration]]: barriers only
    // where multiple consumers would recompute expensive work; the
    // line-cleanse barrier count doubles as the batch count (the
    // reassembly emits one row per input doc — an all-boilerplate doc
    // survives with empty text — and the oracle's own 000 spelling
    // counts the cleansed-joined relation).
    val (cleansed, nBatch) = staged("1_line_cleanse",
      Caches.truncated(
        Dedup.dropBoilerplateFromIndex(batch, lineIdxDir,
          "doc_id", "text", lineMinDf, asOf.lineIdx)))
    val relabeled = cleansed.select(col("doc_id"), col("text"))
      .join(batch.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val (gated, _) = staged("2_extract_gate",
      Caches.truncated(gatedCorpus(relabeled, minEntropy)
        .withColumn("passes", gates.map(_._2).reduce(_ && _))))
    val funnel = Curation.filterFunnel(gated, gates, materialize = false)
    val surv = staged("3_survivors",
      gated.filter(col("passes")).select("doc_id", "lang", "text"))

    val (victims, nVictims) = staged("4_history_dedup",
      Caches.truncated(
        Dedup.minhashNearDupFromIndex(surv, minhashIdxDir,
            "doc_id", "text", dedupThreshold, asOf.minhashIdx)
          .select(col("new_id").as("doc_id")).distinct()))
    val (kept, nKept) = staged("5_novel", Caches.truncated(
      surv.join(victims, Seq("doc_id"), "left_anti")))

    val (scored, _) = staged("6_classify", Caches.truncated(
      QualityClassifier.scoreFromModel(
        kept, qualityModelDir, "doc_id", "text", asOf.qualityModel)))
    val (sel, nSel) = staged("7_classifier_keep",
      Caches.truncated(kept.join(
        scored.filter(col("is_good") === 1).select("doc_id"), Seq("doc_id"))))

    // Priced/budget/pack are lazy (see [[fullCuration]]): priced and
    // pack are consumed exactly once by their report legs; budget's
    // tail recomputes cheaply over its internal prefix-sum cache.
    val priced = staged("8_bpe_price",
      CorpusStats.bpeTokenizeFromModel(sel, "doc_id", "text", bpeModelDir,
        asOf.bpeModel))

    val budgeted = staged("9_budget",
      Curation.tokenBudgetSample(sel, "doc_id", "text", budget))
    val (fin, nFin) = staged("10_final_select",
      Caches.truncated(
        sel.join(budgeted.select("doc_id"), Seq("doc_id"))))
    val bins = staged("11_pack",
      Curation.packSequences(fin, "doc_id", "text", binTokens))

    // Same assembly shape as [[fullCuration]]: barrier counts as a
    // local relation, one aggregation subtree per remaining source.
    val literals = Seq(
      "000_batch_docs" -> nBatch.toDouble,
      "200_history_dup_docs" -> nVictims.toDouble,
      "210_novel_docs" -> nKept.toDouble,
      "310_classifier_kept" -> nSel.toDouble,
      "400_budget_docs" -> nFin.toDouble).toDF("metric", "value")
    val report = literals
        .unionAll(aggRows(surv,
          "190_gate_survivors" -> count(lit(1))))
        .unionAll(aggRows(cleansed,
          "050_line_lines_dropped" -> coalesce(sum("n_dropped"), lit(0L)),
          "060_line_lines_kept" -> coalesce(sum("n_kept"), lit(0L))))
        .unionAll(funnel.select(
          format_string("1%02d_drop_%s", col("stage"), col("gate"))
            .as("metric"),
          col("n_dropped").cast("double").as("value")))
        .unionAll(aggRows(scored.filter(col("is_good") === 0),
          "300_classifier_rejected" -> count(lit(1))))
        .unionAll(aggRows(priced,
          "350_stored_bpe_words" -> coalesce(sum("n_words"), lit(0L)),
          "360_stored_bpe_subwords" -> coalesce(sum("n_subwords"), lit(0L))))
        .unionAll(aggRows(budgeted,
          "410_budget_tokens" -> coalesce(sum("n_tokens"), lit(0L))))
        .unionAll(aggRows(bins,
          "500_packed_sequences" -> coalesce(countDistinct(col("bin")), lit(0L)),
          "510_packed_tokens" -> coalesce(sum("n_tokens"), lit(0L))))
        .unionAll(Curation.datasetCard(fin, "text", "lang")
          .select(concat(lit("600_card_"), col("metric")).as("metric"),
            col("value")))
    report.select(col("metric"), round(col("value"), 6).as("value"))
  }

  // ------------------------------------------------------------ oracle

  /** The [[plantAll]] chain as CTEs, COMPOSED from the same schedule
    * definitions the Spark plant columns carry
    * ([[CorpusStats.PlantDegenerateTextSql]],
    * [[Curation.PlantEncodingArtifactsSqlSteps]],
    * [[Curation.PlantSafetyTermsSqlSteps]]) — a schedule change in
    * Curation/CorpusStats reaches this oracle automatically, never
    * silently diverging it from [[plantAll]]. */
  private def plantChainSql(from: String): String = {
    val steps = CorpusStats.PlantDegenerateTextSql +:
      (Curation.PlantEncodingArtifactsSqlSteps ++
        Curation.PlantSafetyTermsSqlSteps)
    steps.zipWithIndex.map { case (caseSql, i) =>
      val name = if (i == steps.length - 1) "pl_raw" else s"pl_p$i"
      val src = if (i == 0) from else s"pl_p${i - 1}"
      s"$name AS MATERIALIZED (SELECT doc_id, lang, $caseSql AS text FROM $src)"
    }.mkString(",\n")
  }

  /** DuckDB replay of the WHOLE DAG — every stage is the corresponding
    * operator's own `from`-parameterized SQL twin, composed as nested
    * CTEs (DuckDB resolves outer CTE names inside nested WITH bodies,
    * the q167 embedding pattern). One parser caveat: under the
    * `WITH RECURSIVE` the cluster step needs, a CTE body that combines
    * a nested WITH with a top-level UNION is parsed as a base∪step
    * recursion candidate and loses the inner names in the second
    * branch — the dataset-card embed (whose twin ends in a UNION ALL)
    * is therefore wrapped in a subquery. Every top-level stage CTE is
    * `AS MATERIALIZED`: under this composition DuckDB otherwise
    * INLINES multiply-referenced CTEs, re-evaluating the whole
    * upstream chain per reference (measured as minutes instead of
    * seconds at sf0.001). `pl_reach` alone stays plain — a recursive
    * member cannot be materialized. */
  /** The [[gateColumns]] funnel as SQL predicates — ONE spelling shared
    * by the q209 and q214 oracles. */
  private def gatesSql(minTokens: Int,
      minQuality: Double): Seq[(String, String)] = {
    import TextFunctions.{Sql => T}
    val allWords = Curation.SafetyCategories.flatMap(_._2)
    Seq(
      "encoding_clean" -> s"(${Curation.encodingDirtyCountSql("text")}) = 0",
      "safety" -> s"${T.markerHits("text", allWords)} = 0",
      "entropy" -> "low_entropy = 0",
      "min_tokens" -> s"${T.tokenCount("text")} >= $minTokens",
      "quality" -> s"${T.qualityScore("text")} >= $minQuality")
  }

  def fullCurationSql(
      minTokens: Int = 10, minQuality: Double = 0.3,
      minEntropy: Double = 2.0,
      jaccardN: Int = 3, jaccardThreshold: Double = 0.5,
      budget: Long = 20000L, binTokens: Long = 512L): String = {
    val gates = gatesSql(minTokens, minQuality)
    val gatePred = gates.map { case (_, g) => s"($g)" }.mkString(" AND ")
    s"""WITH RECURSIVE
       |${plantChainSql("documents")},
       |pl_ext0 AS MATERIALIZED (${WebText.extractTextSql(from = "pl_raw")}),
       |pl_ext AS MATERIALIZED (SELECT e.doc_id, r.lang, e.text
       |  FROM pl_ext0 e JOIN pl_raw r USING (doc_id)),
       |pl_nrm AS MATERIALIZED (SELECT doc_id, lang, nfc_normalize(text) AS text
       |  FROM pl_ext),
       |pl_ent AS MATERIALIZED (${CorpusStats.charEntropySql(minEntropy,
            from = "pl_nrm", planted = false)}),
       |pl_gated AS MATERIALIZED (SELECT n.doc_id, n.lang, n.text, e.low_entropy
       |  FROM pl_nrm n JOIN pl_ent e USING (doc_id)),
       |pl_funnel AS MATERIALIZED (${Curation.filterFunnelSql(gates, from = "pl_gated")}),
       |pl_surv AS MATERIALIZED (SELECT doc_id, lang, text FROM pl_gated
       |  WHERE $gatePred),
       |pl_pairs AS MATERIALIZED (
       |${Dedup.trueJaccardPairsSql(jaccardN, jaccardThreshold, "pl_surv")}
       |), pl_edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pl_pairs
       |  UNION ALL SELECT id_b, id_a FROM pl_pairs
       |), pl_reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM pl_edges
       |  UNION
       |  SELECT e.src AS id, pl_reach.r FROM pl_reach
       |  JOIN pl_edges e ON e.dst = pl_reach.id
       |), pl_clusters AS MATERIALIZED (
       |  SELECT id, MIN(r) AS cluster_id FROM pl_reach GROUP BY id
       |), pl_victims AS MATERIALIZED (
       |  SELECT id AS doc_id FROM pl_clusters WHERE id <> cluster_id
       |), pl_kept AS MATERIALIZED (SELECT * FROM pl_surv
       |  WHERE doc_id NOT IN (SELECT doc_id FROM pl_victims)),
       |pl_scored AS MATERIALIZED (${QualityClassifier.scoreSql(
            trainPred = "doc_id % 3 = 0", labelExpr = "lang = 'en'",
            applyPred = "TRUE", from = "pl_kept")}),
       |pl_sel AS MATERIALIZED (SELECT k.* FROM pl_kept k
       |  JOIN pl_scored s USING (doc_id) WHERE s.is_good = 1),
       |pl_budget AS MATERIALIZED (${Curation.tokenBudgetSampleSql(budget,
            from = "pl_sel")}),
       |pl_final AS MATERIALIZED (SELECT s.* FROM pl_sel s
       |  JOIN pl_budget b USING (doc_id)),
       |pl_bins AS MATERIALIZED (${Curation.packSequencesSql(binTokens,
            from = "pl_final")}),
       |pl_card AS MATERIALIZED (SELECT * FROM (
       |  ${Curation.datasetCardSql(from = "pl_final")}) _)
       |SELECT metric, round(value, 6) AS value FROM (
       |  SELECT '000_input_docs' AS metric,
       |    CAST(count(*) AS DOUBLE) AS value FROM documents
       |  UNION ALL SELECT printf('1%02d_drop_%s', stage, gate),
       |    CAST(n_dropped AS DOUBLE) FROM pl_funnel
       |  UNION ALL SELECT '190_gate_survivors',
       |    CAST(count(*) AS DOUBLE) FROM pl_surv
       |  UNION ALL SELECT '200_dedup_victims',
       |    CAST(count(*) AS DOUBLE) FROM pl_victims
       |  UNION ALL SELECT '210_dedup_survivors',
       |    CAST(count(*) AS DOUBLE) FROM pl_kept
       |  UNION ALL SELECT '300_classifier_rejected',
       |    CAST(count(*) AS DOUBLE) FROM pl_scored WHERE is_good = 0
       |  UNION ALL SELECT '310_classifier_kept',
       |    CAST(count(*) AS DOUBLE) FROM pl_sel
       |  UNION ALL SELECT '400_budget_docs',
       |    CAST(count(*) AS DOUBLE) FROM pl_final
       |  UNION ALL SELECT '410_budget_tokens',
       |    CAST(COALESCE(SUM(n_tokens), 0) AS DOUBLE) FROM pl_budget
       |  UNION ALL SELECT '500_packed_sequences',
       |    CAST(COUNT(DISTINCT bin) AS DOUBLE) FROM pl_bins
       |  UNION ALL SELECT '510_packed_tokens',
       |    CAST(COALESCE(SUM(n_tokens), 0) AS DOUBLE) FROM pl_bins
       |  UNION ALL SELECT '600_card_' || metric, value FROM pl_card
       |) _""".stripMargin
  }

  /** DuckDB replay of [[incrementalCuration]] — every stage the
    * corresponding operator's own composable SQL twin; the STORED
    * artifacts are replayed by re-deriving them from the `documents`
    * reference slice (`doc_id % 3 = 0`), the q148/q169/q207 oracle
    * convention (stored state is content-keyed to the corpus, so the
    * oracle recomputes it): the line-df index is the ref slice's own
    * line frequencies ([[Dedup.lineCleanseChainSql]]), the MinHash
    * index's LSH+verify output is the exhaustive true-Jaccard cross
    * pair set (the q148 band-scheme contract), the NB model is the
    * [[QualityClassifier.scoreChainSql]] train chain over the ref
    * slice, and the BPE model is the unrolled training chain
    * ([[CorpusStats.bpeApplyChainSql]]). No recursion needed — the
    * history dedup drops matches rather than clustering. Stage CTEs
    * are MATERIALIZED (multiply-referenced CTEs re-inline otherwise,
    * the measured q209 blowup). */
  def incrementalCurationSql(
      minTokens: Int = 10, minQuality: Double = 0.3,
      minEntropy: Double = 2.0,
      lineLen: Int = 8, linePlantMod: Int = 2, lineMinDf: Int = 5,
      dedupN: Int = 3, dedupThreshold: Double = 0.5,
      bpeRounds: Int = 10,
      budget: Long = 20000L, binTokens: Long = 512L,
      storedRefPred: String = "doc_id % 3 = 0"): String = {
    val gates = gatesSql(minTokens, minQuality)
    val gatePred = gates.map { case (_, g) => s"($g)" }.mkString(" AND ")
    val sh = Dedup.shinglesSql(dedupN)
    s"""WITH
       |${Dedup.lineCleanseChainSql(lineLen, linePlantMod, lineMinDf,
            refPred = storedRefPred, applyPred = "doc_id % 3 <> 0")},
       |ic_batch AS MATERIALIZED (SELECT c.doc_id, d.lang, c.text
       |  FROM lc_clean c JOIN documents d USING (doc_id)),
       |${plantChainSql("ic_batch")},
       |ic_ext0 AS MATERIALIZED (${WebText.extractTextSql(from = "pl_raw")}),
       |ic_ext AS MATERIALIZED (SELECT e.doc_id, r.lang, e.text
       |  FROM ic_ext0 e JOIN pl_raw r USING (doc_id)),
       |ic_nrm AS MATERIALIZED (SELECT doc_id, lang, nfc_normalize(text) AS text
       |  FROM ic_ext),
       |ic_ent AS MATERIALIZED (${CorpusStats.charEntropySql(minEntropy,
            from = "ic_nrm", planted = false)}),
       |ic_gated AS MATERIALIZED (SELECT n.doc_id, n.lang, n.text, e.low_entropy
       |  FROM ic_nrm n JOIN ic_ent e USING (doc_id)),
       |ic_funnel AS MATERIALIZED (${Curation.filterFunnelSql(gates,
            from = "ic_gated")}),
       |ic_surv AS MATERIALIZED (SELECT doc_id, lang, text FROM ic_gated
       |  WHERE $gatePred),
       |ic_ref AS MATERIALIZED (SELECT doc_id AS ref_id, $sh AS sh
       |  FROM documents WHERE $storedRefPred),
       |ic_new AS MATERIALIZED (SELECT doc_id, $sh AS sh FROM ic_surv),
       |ic_victims AS MATERIALIZED (SELECT DISTINCT n.doc_id
       |  FROM ic_new n JOIN ic_ref r
       |  ON CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE)
       |    / len(list_distinct(list_concat(n.sh, r.sh))) >= $dedupThreshold),
       |ic_kept AS MATERIALIZED (SELECT * FROM ic_surv
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ic_victims)),
       |ic_scored AS MATERIALIZED (${QualityClassifier.scoreSql(
            trainPred = "doc_id % 3 = 0", labelExpr = "lang = 'en'",
            applyPred = "TRUE", from = "documents",
            applyFrom = Some("ic_kept"))}),
       |ic_sel AS MATERIALIZED (SELECT k.* FROM ic_kept k
       |  JOIN ic_scored s USING (doc_id) WHERE s.is_good = 1),
       |ic_priced AS MATERIALIZED (SELECT * FROM (
       |${CorpusStats.bpeApplyFromModelSql(bpeRounds,
            trainPred = "doc_id % 3 = 0", applyPred = "TRUE",
            applyFrom = "ic_sel")}
       |) _),
       |ic_budget AS MATERIALIZED (${Curation.tokenBudgetSampleSql(budget,
            from = "ic_sel")}),
       |ic_final AS MATERIALIZED (SELECT s.* FROM ic_sel s
       |  JOIN ic_budget b USING (doc_id)),
       |ic_bins AS MATERIALIZED (${Curation.packSequencesSql(binTokens,
            from = "ic_final")}),
       |ic_card AS MATERIALIZED (SELECT * FROM (
       |  ${Curation.datasetCardSql(from = "ic_final")}) _)
       |SELECT metric, round(value, 6) AS value FROM (
       |  SELECT '000_batch_docs' AS metric,
       |    CAST(count(*) AS DOUBLE) AS value FROM ic_batch
       |  UNION ALL SELECT '050_line_lines_dropped',
       |    CAST(COALESCE(SUM(n_dropped), 0) AS DOUBLE) FROM lc_clean
       |  UNION ALL SELECT '060_line_lines_kept',
       |    CAST(COALESCE(SUM(n_kept), 0) AS DOUBLE) FROM lc_clean
       |  UNION ALL SELECT printf('1%02d_drop_%s', stage, gate),
       |    CAST(n_dropped AS DOUBLE) FROM ic_funnel
       |  UNION ALL SELECT '190_gate_survivors',
       |    CAST(count(*) AS DOUBLE) FROM ic_surv
       |  UNION ALL SELECT '200_history_dup_docs',
       |    CAST(count(*) AS DOUBLE) FROM ic_victims
       |  UNION ALL SELECT '210_novel_docs',
       |    CAST(count(*) AS DOUBLE) FROM ic_kept
       |  UNION ALL SELECT '300_classifier_rejected',
       |    CAST(count(*) AS DOUBLE) FROM ic_scored WHERE is_good = 0
       |  UNION ALL SELECT '310_classifier_kept',
       |    CAST(count(*) AS DOUBLE) FROM ic_sel
       |  UNION ALL SELECT '350_stored_bpe_words',
       |    CAST(COALESCE(SUM(n_words), 0) AS DOUBLE) FROM ic_priced
       |  UNION ALL SELECT '360_stored_bpe_subwords',
       |    CAST(COALESCE(SUM(n_subwords), 0) AS DOUBLE) FROM ic_priced
       |  UNION ALL SELECT '400_budget_docs',
       |    CAST(count(*) AS DOUBLE) FROM ic_final
       |  UNION ALL SELECT '410_budget_tokens',
       |    CAST(COALESCE(SUM(n_tokens), 0) AS DOUBLE) FROM ic_budget
       |  UNION ALL SELECT '500_packed_sequences',
       |    CAST(COUNT(DISTINCT bin) AS DOUBLE) FROM ic_bins
       |  UNION ALL SELECT '510_packed_tokens',
       |    CAST(COALESCE(SUM(n_tokens), 0) AS DOUBLE) FROM ic_bins
       |  UNION ALL SELECT '600_card_' || metric, value FROM ic_card
       |) _""".stripMargin
  }
}
