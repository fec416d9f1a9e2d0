package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Aggregates, Caches}
import graft.functions.TextFunctions

/** Model-based document quality scoring with a PERSISTED classifier —
  * the CCNet/FineWeb curation stage (Wenzek et al., LREC 2020 train a
  * model on trusted text and bucket crawl docs by its score; FineWeb /
  * DCLM train a small classifier on labeled good-vs-crawl pages and
  * keep the top scores): train ONCE on a labeled corpus, persist the
  * weights, score every arriving document forever. The reference
  * dashboard has no model tier at all (its filters are hand constants,
  * `/root/reference/src/app.py:60-110`); this is the extension tier's
  * production replacement for q165's fixed heuristic gates.
  *
  * Model: multinomial Naive Bayes over whitespace tokens in LINEAR
  * form — per-token weight `w(t) = ln p(t|good) - ln p(t|bad)` with
  * Laplace smoothing, document score
  * `b + Σ_tokens w(t)` where `b = ln(docs_good/docs_bad)` is the
  * log-prior. That IS a linear classifier (the fastText/DCLM shape
  * with NB-estimated weights), and its training is PURE COUNTING —
  * exact integers, so the DuckDB oracle replays the whole
  * train-then-score chain bit-for-bit, unlike gradient descent whose
  * float trajectory no cross-engine contract could pin. Smoothing
  * follows the [[CorpusStats.bigramLogProb]] open-vocabulary
  * convention: `V = |training vocab| + 1`, an unseen token scores the
  * `count = 0` slot of the SAME formula, so apply-time text needs no
  * unk rewrite.
  *
  * Numeric contract (the q96 one, hash-green since round 9): integer
  * counts feed ONE double division and `ln` per term, per-document
  * sums go through [[Aggregates.sumExact]] (order-insensitive exact
  * decimal), rounded where emitted. Stored weights are IEEE doubles —
  * parquet round-trips them exactly, so [[scoreFromModel]] is
  * bit-equal to the inline [[trainScore]] (spec-asserted), and ONE
  * oracle serves both.
  *
  * Scale shape: training is one tokens-exploded `groupBy(tok)` (map-
  * side combined, vocabulary-sized output — orders of magnitude below
  * the corpus); the model is a vocabulary-sized table that joins
  * broadcast-or-shuffle on `tok` at Catalyst's discretion; scoring is
  * one pass over the target corpus with a per-doc partial aggregate.
  * Nothing is ever collected to the driver except [[saveModel]]'s
  * 1-row class-balance validation probe. At 100 TB the weights table
  * is a few MB per million-token vocabulary — a broadcast join against
  * any corpus size.
  */
object QualityClassifier {

  /** Vocabulary counts + 1-row corpus params of the labeled training
    * frame. `labelCol` must be boolean (true = good). Returned frames
    * are lazy; params = (v, n_pos, n_neg, docs_pos, docs_neg). */
  private def fit(labeled: DataFrame, textCol: String,
      labelCol: String): (DataFrame, DataFrame) = {
    val toks = labeled.select(col(labelCol).as("y"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("tok").agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("y"), 0L).otherwise(1L)).as("c_neg"))
    val docCounts = labeled.agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("docs_pos"),
      sum(when(col(labelCol), 0L).otherwise(1L)).as("docs_neg"))
    val params = counts.agg(
      (count(lit(1)) + 1).as("v"),
      coalesce(sum("c_pos"), lit(0L)).as("n_pos"),
      coalesce(sum("c_neg"), lit(0L)).as("n_neg"))
      .crossJoin(broadcast(docCounts))
    (counts, params)
  }

  /** Per-token linear weight from class counts: one double division
    * and one `ln` per class, subtracted — the exact expression the
    * oracle replays. The `cnt = 0` instantiation IS the
    * out-of-vocabulary weight (open-vocab slot, bigram-LM precedent). */
  private def weightExpr(cPos: Column, cNeg: Column, nPos: Column,
      nNeg: Column, v: Column): Column =
    log((cPos + 1L).cast("double") / (nPos + v).cast("double")) -
      log((cNeg + 1L).cast("double") / (nNeg + v).cast("double"))

  /** Shared scoring path (inline and stored models are the SAME code
    * over different weight/params frames — bit-equality by
    * construction). Emits one row per `docs` row:
    * (idCol, n_tokens, quality_score, is_good). */
  private def scoreWith(docs: DataFrame, weights: DataFrame,
      params: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docToks = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    // Explicit hint: the weights table is vocabulary-sized (a few MB
    // per million tokens) against a corpus-sized probe side — at plan
    // time the agg/scan behind it has unknown stats, and waiting for
    // AQE to discover broadcastability wastes the first shuffle at
    // 100 TB.
    val perDoc = docToks
      .join(broadcast(weights), Seq("tok"), "left")
      .crossJoin(broadcast(params))
      .withColumn("w", coalesce(col("w"),
        weightExpr(lit(0L), lit(0L), col("n_pos"), col("n_neg"), col("v"))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        Aggregates.sumExact(col("w")).as("tok_sum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(params))
      .withColumn("quality_score", round(
        log(col("docs_pos").cast("double") / col("docs_neg").cast("double"))
          + coalesce(col("tok_sum"), lit(0.0)), 6))
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("quality_score"),
        when(col("quality_score") > 0, 1).otherwise(0).as("is_good"))
  }

  /** Inline twin: train on `labeled` (boolean `labelCol`, true=good),
    * score `docs`. Bit-equal to [[saveModel]] + [[scoreFromModel]]
    * with the same training frame (spec-asserted). */
  def trainScore(labeled: DataFrame, textCol: String, labelCol: String,
      docs: DataFrame, idCol: String, docTextCol: String): DataFrame = {
    val (counts, params) = fit(labeled, textCol, labelCol)
    // Cache the vocabulary counts ONCE: params and weights both derive
    // from `counts`, and the former shape (materialize params, leave
    // counts lazy) re-ran the training-corpus tokenize + groupBy for
    // the weights projection — two full passes over the labeled slice
    // at 100 TB. The 1-row params then collects to a LOCAL relation:
    // its three consumers (class-balance probe, weights crossJoin,
    // scoreWith's crossJoin) embed local rows instead of each paying a
    // cache read + broadcast-build job. Values unchanged: same counts,
    // same expressions.
    val c = Caches.materialized(counts)
    val spark = labeled.sparkSession
    // params' plan embeds counts' exact subtree, so this collect reads
    // the cache just materialized (CacheManager plan matching).
    val pRow = params.collect()
    require(pRow.length == 1, s"params must be 1 row, got ${pRow.length}")
    // Same 1-row class-balance probe as [[saveModel]]: a single-class
    // training set has no log-prior — without the guard the inline
    // path silently emits ±Inf scores (every doc is_good or none),
    // while the persisted path refuses. Refuse identically.
    val r = pRow.head
    require(r.getLong(3) > 0 && r.getLong(4) > 0,
      "single-class training set — the NB log-prior is undefined; " +
        "label both classes before training")
    val p = spark.createDataFrame(
      java.util.Arrays.asList(pRow: _*), params.schema)
    val weights = c.crossJoin(broadcast(p)).select(col("tok"),
      weightExpr(col("c_pos"), col("c_neg"), col("n_pos"), col("n_neg"),
        col("v")).as("w"))
    scoreWith(docs, Caches.materialized(weights), p, idCol, docTextCol)
  }

  /** Train and PERSIST: `params` (1 row) + `counts` (tok, c_pos,
    * c_neg — the SUFFICIENT STATISTIC that makes the model
    * incrementally updatable, see [[appendToModel]]) + `weights`
    * (tok, w), ONE atomic manifest commit like every stored artifact
    * (an unpublished crash is invisible and overwritten on retry).
    * The only driver round-trip is the 1-row class-balance probe — a
    * single-class training set has no log-prior and must refuse
    * loudly, not emit ±Inf scores downstream. */
  def saveModel(labeled: DataFrame, textCol: String, labelCol: String,
      dir: String): Unit = {
    val spark = labeled.sparkSession
    val (counts, params) = fit(labeled, textCol, labelCol)
    val p = Caches.materialized(params)
    val r = p.head()
    require(r.getLong(3) > 0 && r.getLong(4) > 0,
      s"training needs BOTH classes; got docs_pos=${r.getLong(3)} " +
        s"docs_neg=${r.getLong(4)}")
    graft.engine.Manifests.build(spark, dir)(
      writeModel(_, p, Caches.materialized(counts)))
  }

  /** The three model tables of one commit: `params`, `counts` and the
    * `weights` derived from them. */
  private def writeModel(seg: graft.engine.Manifests.Segment,
      p: DataFrame, c: DataFrame): Unit = {
    seg.write("params", p)
    seg.write("counts", c)
    seg.write("weights", c.crossJoin(broadcast(p)).select(col("tok"),
      weightExpr(col("c_pos"), col("c_neg"), col("n_pos"), col("n_neg"),
        col("v")).as("w")))
  }

  /** Model MAINTENANCE — the property Naive Bayes buys that no
    * gradient-trained model has: the stored token counts are a
    * SUFFICIENT STATISTIC, so adding newly-labeled documents is exact
    * integer addition. `appendToModel(B)` after `saveModel(A)` yields
    * BIT-FOR-BIT the model `saveModel(A union B)` would (spec-asserted;
    * q175's oracle replays the union), at the cost of the NEW batch's
    * counting plus a vocabulary-sized merge — never a full retrain
    * over the history. The commit is one new manifest version whose
    * segment holds the rewritten tables: the merge reads the OLD
    * immutable snapshot while the new segment lands, so the
    * staged-rename machinery the marker protocol needed ("stage ALL
    * outputs before deleting ANY source") is gone by construction —
    * nothing is ever deleted under a reader or a cache. The append
    * batch may be single-class — only the UNION needs both. */
  def appendToModel(newLabeled: DataFrame, textCol: String,
      labelCol: String, dir: String): Unit = {
    val spark = newLabeled.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "quality model", "append needs a finished build")
    val storedCounts = snap.read(spark, "counts")
    val newToks = newLabeled.select(col(labelCol).as("y"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val newCounts = newToks.groupBy("tok").agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("y"), 0L).otherwise(1L)).as("c_neg"))
    val merged = Caches.materialized(
      storedCounts.as("a").join(newCounts.as("b"), Seq("tok"),
          "full_outer")
        .select(col("tok"),
          (coalesce(col("a.c_pos"), lit(0L)) +
            coalesce(col("b.c_pos"), lit(0L))).as("c_pos"),
          (coalesce(col("a.c_neg"), lit(0L)) +
            coalesce(col("b.c_neg"), lit(0L))).as("c_neg")))
    val oldP = snap.read(spark, "params").head()
    val newDocs = newLabeled.agg(
      coalesce(sum(when(col(labelCol), 1L).otherwise(0L)), lit(0L)).as("dp"),
      coalesce(sum(when(col(labelCol), 0L).otherwise(1L)), lit(0L)).as("dn"))
      .head()
    val p = Caches.materialized(merged.agg(
        (count(lit(1)) + 1).as("v"),
        coalesce(sum("c_pos"), lit(0L)).as("n_pos"),
        coalesce(sum("c_neg"), lit(0L)).as("n_neg"))
      .withColumn("docs_pos", lit(oldP.getLong(3) + newDocs.getLong(0)))
      .withColumn("docs_neg", lit(oldP.getLong(4) + newDocs.getLong(1))))
    graft.engine.Manifests.build(spark, dir, tag = "append")(
      writeModel(_, p, merged))
  }

  /** Score `docs` with the STORED model — the per-arrival leg: cost is
    * one pass over `docs` plus a vocabulary-sized join, zero training
    * recompute. */
  def scoreFromModel(docs: DataFrame, dir: String, idCol: String,
      textCol: String, atVersion: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    // ONE snapshot resolution: weights and params come from the same
    // immutable published version — a concurrent append cannot skew a
    // scoring run's view of the model, and `atVersion` pins a
    // historical model ("score with last week's weights") for audits.
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "quality model", "run saveModel first", atVersion)
    scoreWith(docs, snap.read(spark, "weights"),
      snap.read(spark, "params"), idCol, textCol)
  }

  /** Held-out EVALUATION of the stored classifier — the acceptance
    * gate a quality model must pass before it is allowed to filter a
    * corpus (the q155/q163 ANN-evaluation idea applied to the quality
    * stage): score `labeled` (whose true boolean `labelCol` is known)
    * from the persisted model and emit ONE report row — class counts,
    * the confusion matrix at the model's own `is_good` threshold,
    * accuracy/precision/recall, and the exact tie-aware ROC AUC.
    *
    * AUC is computed in closed form (Mann–Whitney), not by sampling:
    * group the scored frame by distinct score, cumulate negative
    * counts below each score, and sum `c_pos · (neg_below + ½·c_neg)`
    * — exactly the count of (positive, negative) pairs ranked
    * correctly, ties at half weight, divided by `n_pos · n_neg`.
    * Every term is an exact multiple of 0.5 far below 2^52, so the
    * arithmetic is exact in either engine and the oracle matches
    * bit-for-bit.
    *
    * Scale shape: one scoring pass (the [[scoreFromModel]] plan), one
    * score-keyed hash aggregation, then windows/aggregates over the
    * DISTINCT-SCORE frame only — the global cumulative window runs on
    * that aggregated frame, never the corpus (and an evaluation set is
    * a bounded labeled sample by construction — nobody holds out 100 TB
    * of labels). */
  def evaluateFromModel(labeled: DataFrame, dir: String, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val scored = Caches.materialized(
      scoreFromModel(labeled, dir, idCol, textCol)
        .select(col(idCol), col("quality_score"), col("is_good"))
        .join(labeled.select(col(idCol),
          col(labelCol).cast("boolean").as("y")), Seq(idCol)))
    val byScore = scored.groupBy("quality_score").agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("y"), 0L).otherwise(1L)).as("c_neg"))
    // Distinct-score frame: bounded by the evaluation set, already
    // aggregated — the partition-less window is over that, not data.
    val wBelow = Window.orderBy("quality_score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val rank = byScore
      .withColumn("neg_below",
        coalesce(sum(col("c_neg")).over(wBelow), lit(0L)))
      .agg(
        Aggregates.sumExact(col("c_pos").cast("double") *
          (col("neg_below").cast("double") +
            lit(0.5) * col("c_neg").cast("double"))).as("hits"),
        sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"))
    val conf = scored.agg(
      sum(when(col("y") && col("is_good") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(!col("y") && col("is_good") === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(!col("y") && col("is_good") === 0, 1L).otherwise(0L)).as("tn"),
      sum(when(col("y") && col("is_good") === 0, 1L).otherwise(0L)).as("fn"))
    rank.crossJoin(broadcast(conf)).select(
      col("n_pos"), col("n_neg"), col("tp"), col("fp"), col("tn"), col("fn"),
      round((col("tp") + col("tn")).cast("double") /
        (col("n_pos") + col("n_neg")).cast("double"), 6).as("accuracy"),
      round(when(col("tp") + col("fp") === 0, 0.0)
        .otherwise(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")), 6).as("precision_good"),
      round(when(col("tp") + col("fn") === 0, 0.0)
        .otherwise(col("tp").cast("double") /
          (col("tp") + col("fn")).cast("double")), 6).as("recall_good"),
      round(when(col("n_pos") === 0 || col("n_neg") === 0, 0.0)
        .otherwise(col("hits") /
          (col("n_pos").cast("double") * col("n_neg").cast("double"))), 6)
        .as("auc"))
  }

  /** CALIBRATION table of the stored classifier (the reliability
    * diagram behind [[evaluateFromModel]]'s single AUC number): rank
    * the held-out docs by score, cut into `bins` equal-count deciles
    * (NTILE — deterministic with the id tie-break), and report each
    * decile's size, positive count, empirical positive rate, and exact
    * mean score. A well-ranked but mis-calibrated model (Naive Bayes
    * is typically over-confident) shows a monotone pos_rate column
    * with extreme mean scores — exactly what a curator needs to see
    * before turning a score into a keep threshold (FineWeb-style
    * top-quantile keeps depend on ranking only; hard thresholds
    * depend on this table).
    *
    * The binning is NOT a global NTILE window (a single sorted task
    * over the whole evaluation frame): it is the [[Curation.
    * tokenBudgetSample]] two-pass distributed prefix sum — range
    * repartition on the order key, per-partition local ranks via a
    * window keyed on the physical partition id, broadcast per-partition
    * offsets → global rank, then NTILE's closed form
    * `bin(r) = ⌈…⌉` from (rank, n, bins). Bit-identical to
    * `ntile(bins) OVER (ORDER BY score, id)` by construction — the
    * first `n mod bins` bins carry `⌈n/bins⌉` rows, the rest
    * `⌊n/bins⌋` — which is what the DuckDB NTILE oracle replays;
    * everything after is a `bins`-row aggregation. */
  def calibrationFromModel(labeled: DataFrame, dir: String, idCol: String,
      textCol: String, labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val scored = scoreFromModel(labeled, dir, idCol, textCol)
      .select(col(idCol), col("quality_score"))
      .join(labeled.select(col(idCol),
        col(labelCol).cast("boolean").as("y")), Seq(idCol))
    val p = labeled.sparkSession.sparkContext.defaultParallelism
    val local = Caches.materialized(scored
      .repartitionByRange(p, col("quality_score").asc, col(idCol).asc)
      .withColumn("pid", spark_partition_id())
      .withColumn("local_rank", sum(lit(1L)).over(
        Window.partitionBy("pid")
          .orderBy(col("quality_score").asc, col(idCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val totals = local.groupBy("pid").agg(max("local_rank").as("pcount"))
    // P rows — offsets and the total are partition METADATA, not data.
    val offsets = totals.withColumn("offset",
      coalesce(sum("pcount").over(
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "offset")
    val nRows = totals.agg(sum("pcount").as("n_rows"))
    local.join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(nRows))
      .withColumn("r", col("local_rank") + col("offset"))
      .withColumn("_q", expr(s"n_rows div $bins"))
      .withColumn("_rem", expr(s"n_rows % $bins"))
      .withColumn("bin",
        when(col("r") <= (col("_q") + 1) * col("_rem"),
          expr("(r - 1) div (_q + 1) + 1"))
          .otherwise(expr("_rem + (r - (_q + 1) * _rem - 1) div _q + 1"))
          .cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        Aggregates.avgExact(col("quality_score")).as("mean_score"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
          .as("pos_rate"),
        round(col("mean_score"), 6).as("mean_score"))
  }

  /** Oracle twin of [[calibrationFromModel]] over `documents`. */
  def calibrationSql(trainPred: String, labelExpr: String,
      applyPred: String, evalLabelExpr: String, bins: Int = 10): String =
    "WITH " + scoreChainSql(trainPred, labelExpr, applyPred) + s""",
       |qb_lab AS (SELECT s.doc_id, s.quality_score, ($evalLabelExpr) AS y
       |  FROM qc_scored s JOIN documents d USING (doc_id)),
       |qb_binned AS (SELECT *, NTILE($bins) OVER (
       |    ORDER BY quality_score, doc_id) AS bin FROM qb_lab)
       |SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  round(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE), 6) AS pos_rate,
       |  round(${Aggregates.avgExactSql("quality_score")}, 6) AS mean_score
       |FROM qb_binned GROUP BY bin ORDER BY bin""".stripMargin

  /** Oracle twin of [[evaluateFromModel]] over `documents`: replays the
    * train-then-score chain ([[scoreChainSql]]) and the same closed-form
    * confusion/AUC arithmetic; `evalLabelExpr` is the held-out truth
    * over alias `d` (e.g. `d.lang = 'en'`). */
  def evaluateSql(trainPred: String, labelExpr: String, applyPred: String,
      evalLabelExpr: String): String =
    "WITH " + scoreChainSql(trainPred, labelExpr, applyPred) + s""",
       |qe_lab AS (SELECT s.quality_score,
       |    CASE WHEN s.quality_score > 0 THEN 1 ELSE 0 END AS is_good,
       |    ($evalLabelExpr) AS y
       |  FROM qc_scored s JOIN documents d USING (doc_id)),
       |qe_byscore AS (SELECT quality_score,
       |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
       |  FROM qe_lab GROUP BY quality_score),
       |qe_cum AS (SELECT *, CAST(COALESCE(SUM(c_neg) OVER (
       |    ORDER BY quality_score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS neg_below FROM qe_byscore),
       |qe_rank AS (SELECT ${Aggregates.sumExactSql(
             "CAST(c_pos AS DOUBLE) * (CAST(neg_below AS DOUBLE) + " +
               "0.5 * CAST(c_neg AS DOUBLE))")} AS hits,
       |    CAST(SUM(c_pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(c_neg) AS BIGINT) AS n_neg FROM qe_cum),
       |qe_conf AS (SELECT
       |    CAST(SUM(CASE WHEN y AND is_good = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN NOT y AND is_good = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN NOT y AND is_good = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tn,
       |    CAST(SUM(CASE WHEN y AND is_good = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fn
       |  FROM qe_lab)
       |SELECT n_pos, n_neg, tp, fp, tn, fn,
       |  round(CAST(tp + tn AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE), 6)
       |    AS accuracy,
       |  round(CASE WHEN tp + fp = 0 THEN 0.0
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 6)
       |    AS precision_good,
       |  round(CASE WHEN tp + fn = 0 THEN 0.0
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END, 6)
       |    AS recall_good,
       |  round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0
       |    ELSE hits / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END, 6)
       |    AS auc
       |FROM qe_rank CROSS JOIN qe_conf""".stripMargin

  /** Oracle twin over `documents`: trains on rows matching
    * `trainPred` labeled by boolean `labelExpr`, scores rows matching
    * `applyPred` — the full train-then-score chain replayed in SQL
    * (counting is exact, so the recomputed weights ARE the stored
    * ones). */
  def scoreSql(trainPred: String, labelExpr: String,
      applyPred: String, from: String = "documents",
      applyFrom: Option[String] = None): String =
    "WITH " + scoreChainSql(trainPred, labelExpr, applyPred, from,
      applyFrom) +
      s"""
       |SELECT doc_id, n_tokens, quality_score,
       |  CASE WHEN quality_score > 0 THEN 1 ELSE 0 END AS is_good
       |FROM qc_scored ORDER BY doc_id""".stripMargin

  /** The train-then-score CTE chain (ends at `qc_scored` =
    * (doc_id, n_tokens, quality_score) over `applyPred`) WITHOUT the
    * leading WITH or a final select — composable into larger oracles
    * (the streaming funnel monitor wraps it per batch). Every CTE is
    * `qc_`-prefixed so composition can never collide with a host
    * query's names. `applyFrom` scores a DIFFERENT relation than the
    * training one (the stored-model shape: train on the reference
    * slice of `from`, score an arbitrary batch CTE) — default is the
    * single-relation form. */
  def scoreChainSql(trainPred: String, labelExpr: String,
      applyPred: String, from: String = "documents",
      applyFrom: Option[String] = None): String = {
    import TextFunctions.{Sql => T}
    val af = applyFrom.getOrElse(from)
    s"""qc_train AS (SELECT text, ($labelExpr) AS y
       |  FROM $from WHERE $trainPred),
       |qc_toks AS (SELECT y, unnest(${T.tokens("text")}) AS tok
       |  FROM qc_train),
       |qc_counts AS (SELECT tok,
       |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
       |  FROM qc_toks GROUP BY tok),
       |qc_params AS (SELECT
       |    (SELECT CAST(COUNT(*) + 1 AS BIGINT) FROM qc_counts) AS v,
       |    (SELECT CAST(COALESCE(SUM(c_pos), 0) AS BIGINT) FROM qc_counts)
       |      AS n_pos,
       |    (SELECT CAST(COALESCE(SUM(c_neg), 0) AS BIGINT) FROM qc_counts)
       |      AS n_neg,
       |    (SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
       |      FROM qc_train) AS docs_pos,
       |    (SELECT CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
       |      FROM qc_train) AS docs_neg),
       |qc_weights AS (SELECT tok,
       |    ln(CAST(c_pos + 1 AS DOUBLE) / CAST(n_pos + v AS DOUBLE)) -
       |    ln(CAST(c_neg + 1 AS DOUBLE) / CAST(n_neg + v AS DOUBLE)) AS w
       |  FROM qc_counts CROSS JOIN qc_params),
       |qc_atoks AS (SELECT doc_id, unnest(${T.tokens("text")}) AS tok
       |  FROM $af WHERE $applyPred),
       |qc_per_doc AS (SELECT t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    ${Aggregates.sumExactSql(
             "COALESCE(w.w, ln(CAST(0 + 1 AS DOUBLE) / " +
               "CAST(p.n_pos + p.v AS DOUBLE)) - " +
               "ln(CAST(0 + 1 AS DOUBLE) / CAST(p.n_neg + p.v AS DOUBLE)))")}
       |      AS tok_sum
       |  FROM qc_atoks t LEFT JOIN qc_weights w USING (tok)
       |  CROSS JOIN qc_params p
       |  GROUP BY t.doc_id),
       |qc_scored AS (SELECT d.doc_id,
       |    CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       |    round(ln(CAST(p.docs_pos AS DOUBLE) / CAST(p.docs_neg AS DOUBLE))
       |      + COALESCE(s.tok_sum, 0.0), 6) AS quality_score
       |  FROM $af d LEFT JOIN qc_per_doc s USING (doc_id)
       |  CROSS JOIN qc_params p WHERE $applyPred)""".stripMargin
  }
}
