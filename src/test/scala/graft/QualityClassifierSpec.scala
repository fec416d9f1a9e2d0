package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.QualityClassifier
import graft.streaming.IncrementalIngest

/** The stored-model quality classifier (CCNet/FineWeb stage): planted-
  * quality ranking, train/apply determinism, stored == inline
  * bit-equality, OOV/empty-doc handling, and refusal paths. */
class QualityClassifierSpec extends SparkSpec {

  // Planted quality: "good" docs speak clean-corpus words, "bad" docs
  // speak spam words; the holdout mixes them in graded proportions so
  // the score must RANK holdouts by their good-word fraction.
  private val goodWords = Seq("theorem", "proof", "lemma", "corollary",
    "integral", "matrix", "vector", "basis")
  private val badWords = Seq("click", "winner", "free", "casino",
    "jackpot", "pills", "xxx", "prize")
  private def sentence(ws: Seq[String], n: Int): String =
    Iterator.continually(ws).flatten.take(n).mkString(" ")

  private def labeled: DataFrame = {
    import spark.implicits._
    ((1L to 8L).map(i =>
      (i, sentence(goodWords.drop((i % 3).toInt), 12), true)) ++
      (9L to 16L).map(i =>
        (i, sentence(badWords.drop((i % 3).toInt), 12), false)))
      .toDF("doc_id", "text", "label_good")
  }

  // Holdout graded from all-good to all-bad (and one empty doc).
  private def holdout: DataFrame = {
    import spark.implicits._
    Seq(
      (101L, sentence(goodWords, 12)),
      (102L, sentence(goodWords, 9) + " " + sentence(badWords, 3)),
      (103L, sentence(goodWords, 6) + " " + sentence(badWords, 6)),
      (104L, sentence(goodWords, 3) + " " + sentence(badWords, 9)),
      (105L, sentence(badWords, 12)),
      (106L, "completely unseen vocabulary everywhere here today"),
      (107L, ""))
      .toDF("doc_id", "text")
  }

  private def scores(df: DataFrame): Map[Long, (Long, Double, Int)] =
    df.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap

  test("planted-quality ranking: scores order holdouts by good-word fraction") {
    val out = scores(QualityClassifier.trainScore(
      labeled, "text", "label_good", holdout, "doc_id", "text"))
    val byGrade = Seq(101L, 102L, 103L, 104L, 105L).map(out(_)._2)
    assert(byGrade == byGrade.sorted.reverse,
      s"scores must decrease with planted quality: $byGrade")
    assert(out(101L)._3 == 1 && out(105L)._3 == 0)
    // All-OOV doc: every token gets the open-vocab weight; balanced
    // classes (8 vs 8 docs) make the prior 0, and equal token mass per
    // class makes the OOV weight 0 — a fully-unseen doc is NEUTRAL.
    assert(out(106L)._2 == 0.0 && out(106L)._1 == 6L)
    // Empty text still emits a row (split("", " ") yields one ""
    // token — the q96 convention, shared with the DuckDB twin).
    assert(out.contains(107L))
  }

  test("train/apply is deterministic and stored model is bit-equal to inline") {
    val dir = s"${graft.engine.Sinks.scratch}/quality_model_spec"
    IncrementalIngest.deleteDir(spark, dir)
    val inline1 = scores(QualityClassifier.trainScore(
      labeled, "text", "label_good", holdout, "doc_id", "text"))
    val inline2 = scores(QualityClassifier.trainScore(
      labeled, "text", "label_good", holdout, "doc_id", "text"))
    assert(inline1 == inline2, "same inputs must train the same model")
    QualityClassifier.saveModel(labeled, "text", "label_good", dir)
    assert(graft.engine.Manifests.exists(spark, dir))
    val stored = scores(QualityClassifier.scoreFromModel(
      holdout, dir, "doc_id", "text"))
    assert(stored == inline1,
      "stored weights must reproduce the inline scores bit-for-bit")
    graft.engine.Caches.release()
  }

  test("refusals: missing model, single-class training") {
    val dir = s"${graft.engine.Sinks.scratch}/quality_model_refusal"
    IncrementalIngest.deleteDir(spark, dir)
    assertThrows[IllegalArgumentException] {
      QualityClassifier.scoreFromModel(holdout, dir, "doc_id", "text")
    }
    assertThrows[IllegalArgumentException] {
      QualityClassifier.saveModel(
        labeled.filter(col("label_good")), "text", "label_good", dir)
    }
    // The failed single-class build must NOT leave a valid marker.
    assert(!graft.engine.Manifests.exists(spark, dir))
    // The INLINE path refuses identically — without the guard it would
    // silently score everything ±Inf (log-prior undefined).
    assertThrows[IllegalArgumentException] {
      QualityClassifier.trainScore(
        labeled.filter(col("label_good")), "text", "label_good",
        holdout, "doc_id", "text")
    }
    graft.engine.Caches.release()
  }

  test("incremental append == union retrain, bit-for-bit; single-class append OK") {
    val root = s"${graft.engine.Sinks.scratch}/quality_model_append"
    val (inc, full) = (s"$root/incremental", s"$root/full")
    Seq(inc, full).foreach(IncrementalIngest.deleteDir(spark, _))
    val (half1, half2) = (labeled.filter(col("doc_id") % 2 === 0),
      labeled.filter(col("doc_id") % 2 === 1))
    QualityClassifier.saveModel(half1, "text", "label_good", inc)
    QualityClassifier.appendToModel(half2, "text", "label_good", inc)
    QualityClassifier.saveModel(labeled, "text", "label_good", full)
    assert(scores(QualityClassifier.scoreFromModel(holdout, inc,
        "doc_id", "text")) ==
      scores(QualityClassifier.scoreFromModel(holdout, full,
        "doc_id", "text")),
      "counts are a sufficient statistic: append must equal retrain")
    // A single-class batch appends fine — only the UNION needs both.
    val goodOnly = labeled.filter(col("label_good"))
      .withColumn("doc_id", col("doc_id") + 100L)
    QualityClassifier.appendToModel(goodOnly, "text", "label_good", inc)
    val after = scores(QualityClassifier.scoreFromModel(holdout, inc,
      "doc_id", "text"))
    assert(after(101L)._2 > after(105L)._2, "ranking survives the append")
    assert(graft.engine.Manifests.exists(spark, inc), "marker re-committed")
    // Append without a model refuses.
    assertThrows[IllegalArgumentException] {
      QualityClassifier.appendToModel(half2, "text", "label_good",
        s"$root/nowhere")
    }
    graft.engine.Caches.release()
  }

  test("prior is isolated: same token mass in fewer docs shifts every score by ln(ratio)") {
    import spark.implicits._
    // Concatenate bad-doc pairs: 8 docs x 12 tokens -> 4 docs x 24
    // tokens with the IDENTICAL token distribution — n_pos/n_neg/V and
    // every weight are unchanged; ONLY docs_neg halves, so each score
    // moves by exactly the prior delta ln(8/8) -> ln(8/4) = ln 2.
    val badTexts = (9L to 16L).map(i =>
      sentence(badWords.drop((i % 3).toInt), 12))
    val concentrated = ((1L to 8L).map(i =>
      (i, sentence(goodWords.drop((i % 3).toInt), 12), true)) ++
      badTexts.grouped(2).zipWithIndex.map { case (pair, j) =>
        (100L + j, pair.mkString(" "), false)
      }).toDF("doc_id", "text", "label_good")
    val bal = scores(QualityClassifier.trainScore(
      labeled, "text", "label_good", holdout, "doc_id", "text"))
    val conc = scores(QualityClassifier.trainScore(
      concentrated, "text", "label_good", holdout, "doc_id", "text"))
    holdout.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(math.abs(conc(id)._2 - bal(id)._2 - math.log(2.0)) < 2e-6,
        s"doc $id: prior delta must be ln 2")
    }
  }

  test("held-out evaluation: confusion reconciles, AUC == brute-force pairs") {
    import spark.implicits._
    val dir = s"${graft.engine.Sinks.scratch}/quality_model_eval"
    IncrementalIngest.deleteDir(spark, dir)
    QualityClassifier.saveModel(labeled, "text", "label_good", dir)
    // Held-out labeled set: two tied positives (identical text), one
    // hard positive (bad-leaning mix), one neutral all-OOV negative —
    // exercises ties on both sides of the threshold.
    val eval = Seq(
      (201L, sentence(goodWords, 10), true),
      (202L, sentence(goodWords, 6) + " " + sentence(badWords, 4), true),
      (203L, sentence(badWords, 6) + " " + sentence(goodWords, 4), false),
      (204L, sentence(badWords, 10), false),
      (205L, sentence(goodWords, 10), true),
      (206L, "completely unseen vocabulary here", false))
      .toDF("doc_id", "text", "label_good")
    val rep = QualityClassifier.evaluateFromModel(
      eval, dir, "doc_id", "text", "label_good").head()
    // Brute-force reference: all (pos, neg) score pairs, ties at half.
    val scored = QualityClassifier.scoreFromModel(eval, dir, "doc_id", "text")
      .join(eval.select(col("doc_id"), col("label_good")), Seq("doc_id"))
      .collect().map(r => (r.getAs[Double]("quality_score"),
        r.getAs[Boolean]("label_good")))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    val hits = (for { p <- pos; n <- neg } yield {
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0
    }).sum
    val wantAuc = BigDecimal(hits / (pos.length.toDouble * neg.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rep.getAs[Double]("auc") == wantAuc)
    assert(rep.getAs[Long]("n_pos") == pos.length)
    assert(rep.getAs[Long]("n_neg") == neg.length)
    // Confusion reconciles with class counts and the threshold rule.
    assert(rep.getAs[Long]("tp") + rep.getAs[Long]("fn") == pos.length)
    assert(rep.getAs[Long]("fp") + rep.getAs[Long]("tn") == neg.length)
    val wantTp = scored.count { case (s, y) => y && s > 0 }
    assert(rep.getAs[Long]("tp") == wantTp)
    // The planted model must actually separate: good docs outrank bad.
    assert(rep.getAs[Double]("auc") > 0.7, s"weak separation: $rep")
    graft.engine.Caches.release()
  }

  test("calibration table: partition of the eval set, monotone on planted data") {
    import spark.implicits._
    val dir = s"${graft.engine.Sinks.scratch}/quality_model_calib"
    IncrementalIngest.deleteDir(spark, dir)
    QualityClassifier.saveModel(labeled, "text", "label_good", dir)
    // Graded eval set: positives speak progressively more good words.
    val eval = (1L to 20L).map { i =>
      val good = (i % 11).toInt
      (200L + i,
        sentence(goodWords, good) + " " + sentence(badWords, 10 - good),
        i % 11 > 5)
    }.toDF("doc_id", "text", "label_good")
    val bins = QualityClassifier.calibrationFromModel(
      eval, dir, "doc_id", "text", "label_good", bins = 4)
      .orderBy("bin").collect()
    // Partition: bins cover every doc once; NTILE spreads 20 as 5/5/5/5.
    assert(bins.map(_.getLong(1)).sum == 20L)
    assert(bins.map(_.getLong(1)).toSeq == Seq(5L, 5L, 5L, 5L))
    // Positives concentrate in the high-score bins on planted data.
    assert(bins.last.getDouble(3) > bins.head.getDouble(3),
      s"calibration must slope upward: ${bins.mkString(", ")}")
    // Deterministic under repartitioning (NTILE has the id tie-break).
    val again = QualityClassifier.calibrationFromModel(
      eval.repartition(7), dir, "doc_id", "text", "label_good", bins = 4)
      .orderBy("bin").collect()
    assert(bins.map(_.toString).toSeq == again.map(_.toString).toSeq)
    graft.engine.Caches.release()
  }

  test("calibration two-pass binning == global NTILE; no single-sort over the eval frame") {
    import spark.implicits._
    val dir = s"${graft.engine.Sinks.scratch}/quality_model_calib2"
    IncrementalIngest.deleteDir(spark, dir)
    QualityClassifier.saveModel(labeled, "text", "label_good", dir)
    // 23 docs: indivisible by every bin count below, so the closed-form
    // uneven split (first n%b bins one row larger) is exercised; b = 40
    // exercises the degenerate n < bins case (one row per bin).
    val eval = (1L to 23L).map { i =>
      val good = (i % 11).toInt
      (300L + i,
        sentence(goodWords, good) + " " + sentence(badWords, 10 - good),
        i % 11 > 5)
    }.toDF("doc_id", "text", "label_good")
    for (b <- Seq(4, 10, 40)) {
      val got = QualityClassifier.calibrationFromModel(
        eval, dir, "doc_id", "text", "label_good", bins = b)
      // The retired global-window formulation, verbatim.
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality_score"), col("doc_id"))
      val want = QualityClassifier.scoreFromModel(eval, dir, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
        .join(eval.select(col("doc_id"),
          col("label_good").cast("boolean").as("y")), Seq("doc_id"))
        .withColumn("bin", ntile(b).over(w))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
          graft.engine.Aggregates.avgExact(col("quality_score"))
            .as("mean_score"))
        .select(col("bin"), col("n_docs"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
            .as("pos_rate"),
          round(col("mean_score"), 6).as("mean_score"))
      assert(got.except(want).count() == 0 && want.except(got).count() == 0,
        s"bins=$b: closed-form binning must equal global NTILE")
      graft.engine.Caches.release()
    }
    // Plan contract: the eval frame is ranked via the range-partitioned
    // two-pass shape — no NTILE window (whose sort is one task over the
    // whole frame) anywhere in the plan.
    val got = QualityClassifier.calibrationFromModel(
      eval, dir, "doc_id", "text", "label_good", bins = 4)
    val qe = got.queryExecution
    got.collect()
    val p = qe.executedPlan.toString
    assert(!p.toLowerCase.contains("ntile"),
      s"calibration must not plan an NTILE window:\n$p")
    graft.engine.Caches.release()
  }
}
