package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusStats

/** Hand-computed fixtures for the corpus-statistics operators. */
class CorpusStatsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("repetitionMetrics matches hand-computed fractions") {
    // "a a a b": 2-grams [a a, a a, a b] → dup 1/3; 3-grams
    // [a a a, a a b] → dup 0; top word a = 3/4.
    val d = docs(1L -> "a a a b", 2L -> "x y")
    val m = CorpusStats.repetitionMetrics(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(m(0).getAs[Long]("n_tokens") == 4L)
    assert(m(0).getAs[Double]("dup_2gram_frac") == 0.333333)
    assert(m(0).getAs[Double]("dup_3gram_frac") == 0.0)
    assert(m(0).getAs[Double]("top_word_frac") == 0.75)
    // 2 tokens → one 2-gram, zero dups; 3-gram falls back to whole text.
    assert(m(1).getAs[Long]("n_tokens") == 2L)
    assert(m(1).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(m(1).getAs[Double]("dup_3gram_frac") == 0.0)
    assert(m(1).getAs[Double]("top_word_frac") == 0.5)
  }

  test("tfidfTop1 picks the highest tf·idf term, term-ascending on ties") {
    // "rare" appears twice in doc 1 only (tf=2, df=1); "common" is in
    // every doc (idf = ln(1) = 0). Doc 3 is all-common → every term
    // scores 0 and the tie falls to the alphabetically first.
    val d = docs(
      1L -> "common rare rare",
      2L -> "common blue",
      3L -> "common zed alpha")
    val top = CorpusStats.tfidfTop1(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(top(0).getAs[String]("term") == "rare")
    assert(top(0).getAs[Double]("score") == math.rint(2 * math.log(3.0) * 1e6) / 1e6)
    assert(top(1).getAs[String]("term") == "blue")
    assert(top(2).getAs[String]("term") == "alpha")
  }

  test("topPairs counts adjacent-pair occurrences, count-desc pair-asc") {
    val d = docs(1L -> "a b a b c", 2L -> "a b")
    // Pairs: doc1 → [a b, b a, a b, b c]; doc2 → [a b]. "a b"×3 wins.
    val got = CorpusStats.topPairs(d, "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a b", 3L), ("b a", 1L)))
  }

  test("phraseScores promotes true collocations over frequent-word pairs") {
    // "x y" always co-occurs (4 of each, always adjacent); "a b" pairs
    // frequent words that mostly appear apart. δ=1 keeps both; the
    // collocation must win. Single-token doc exercises the bigram-only
    // filter (its fallback "pair" has no space and must not score).
    val d = docs(
      1L -> "x y a c b", 2L -> "x y b a c", 3L -> "a x y c b",
      4L -> "c a x y b", 5L -> "a b", 6L -> "z")
    val got = CorpusStats.phraseScores(d, "text",
        minCount = 1L, delta = 1.0, k = 50)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // x: 4, y: 4, "x y": 4 → (4−1)/(4·4) = 0.1875.
    assert(got("x y") == ((4L, 4L, 4L, 3.0 / 16)))
    // a: 5, b: 5, "a b" adjacent once → (1−1)/(5·5) = 0.
    assert(got("a b") == ((1L, 5L, 5L, 0.0)))
    assert(!got.contains("z"), "single-token fallback must not be scored")
    val ranked = CorpusStats.phraseScores(d, "text", 1L, 1.0, 1).collect()
    assert(ranked.head.getString(0) == "x y")
  }

  test("chunks reassemble to the original text; all but the last are full") {
    import graft.engine.Tables
    val d = Tables.documents(spark, sf)
    val chunks = CorpusStats.chunk(d, "doc_id", "text", chunkTokens = 16)
      .cache()
    // Lossless: concatenating a doc's chunks in order gives the text
    // back. collect_list does NOT preserve pre-aggregation sort order,
    // so order explicitly via the collected struct key.
    val reassembled = chunks
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        x => x.getField("chunk_text")), " ").as("re"))
    val diff = reassembled.join(d, "doc_id")
      .where(col("re") =!= col("text")).count()
    assert(diff == 0, "chunking must be lossless")
    // Every non-final chunk carries exactly chunkTokens tokens.
    val maxIdx = chunks.groupBy("doc_id").agg(max("chunk_idx").as("mi"))
    val shortMid = chunks.join(maxIdx, "doc_id")
      .where(col("chunk_idx") < col("mi") && col("n_tokens") =!= 16).count()
    assert(shortMid == 0, "only the final chunk may be ragged")
  }

  test("vocabPrune preserves token order and drops empty survivors") {
    // "the" is in 3/3 docs → pruned at maxDfFrac=0.9; doc 3 is all-"the"
    // so it vanishes. Doc 1 has >10 surviving tokens so numeric order
    // vs string order of positions diverges unless the pad is applied.
    val many = (0 until 12).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> s"the $many the",
      2L -> "the quick fox",
      3L -> "the the the")
    val pruned = CorpusStats.vocabPrune(d, "doc_id", "text", 0.9)
      .orderBy("doc_id").collect()
    assert(pruned.length == 2, "the all-pruned doc must drop out")
    assert(pruned(0).getAs[String]("text_pruned") == many)
    assert(pruned(1).getAs[String]("text_pruned") == "quick fox")
  }

  test("unigram LM scores match the hand-computed distribution") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // Tokens: a x5, b x1, z x1 -> total 7; vocabSize=1 keeps only 'a'.
    val docs = Seq((1L, "a a a a"), (2L, "a b"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = CorpusStats.unigramLogProb(docs, "doc_id", "text", vocabSize = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pA = math.log(5.0 / 7)   // in-vocab
    val pOov = math.log(1.0 / 7) // floor for b and z
    assert(out(1L)._1 == 4 && math.abs(out(1L)._2 - pA) < 2e-6)
    assert(out(2L)._1 == 2 && math.abs(out(2L)._2 - (pA + pOov) / 2) < 2e-6)
    assert(out(3L)._1 == 1 && math.abs(out(3L)._2 - pOov) < 2e-6)
    // The quality-ranking property the pipeline relies on: pure
    // common-token text scores above mixed, mixed above pure OOV.
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2)
  }

  test("bigram LM scores match the hand-computed Laplace model") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // Reference pairs: r1 "a b a" -> (<s>,a),(a,b),(b,a);
    // r2 "a b" -> (<s>,a),(a,b). c2: (<s>,a)=2,(a,b)=2,(b,a)=1;
    // c1: <s>=2,a=2,b=1; vocab {a,b} -> V=3.
    val ref = Seq((100L, "a b a"), (101L, "a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "c"), (3L, "b a b"))
      .toDF("doc_id", "text")
    val out = CorpusStats.bigramLogProb(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    graft.engine.Caches.release()
    // d1: (<s>,a)=ln(3/5), (a,b)=ln(3/5).
    assert(out(1L)._1 == 2 && math.abs(out(1L)._2 - math.log(0.6)) < 2e-6)
    // d2: unseen token after <s>: (0+1)/(2+3) — the open-vocab floor.
    assert(out(2L)._1 == 1 && math.abs(out(2L)._2 - math.log(0.2)) < 2e-6)
    // d3: (<s>,b)=ln(1/5) unseen pair, (b,a)=ln(2/4), (a,b)=ln(3/5).
    val d3 = (math.log(0.2) + math.log(0.5) + math.log(0.6)) / 3
    assert(out(3L)._1 == 3 && math.abs(out(3L)._2 - d3) < 2e-6)
    // The CCNet ranking property: reference-like text scores above
    // partially-novel text above fully-novel text.
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2)
  }

  test("fertility by language matches the hand-replayed stored model") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val dir = s"${graft.engine.Sinks.scratch}/corpusstats_fert_model"
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    // Training "aaaa aaaa": R1 merges (a,a) -> [aa,aa,</w>]; R2 ties
    // (aa,aa)=2 vs (aa,</w>)=2, '<' sorts below 'a' in UTF-8 so
    // (aa,</w>) wins -> [aa, aa</w>].
    CorpusStats.saveBpeModel(
      Seq(100L -> "aaaa aaaa").toDF("doc_id", "text"), "text",
      rounds = 2, dir)
    // en: "aaaa" -> [aa, aa</w>] (2), "aa" -> [aa</w>] (1);
    // de: "bb" -> [b, b, </w>] (3, no merge applies).
    val docs = Seq((1L, "en", "aaaa aa"), (2L, "de", "bb"))
      .toDF("doc_id", "lang", "text")
    val out = CorpusStats.bpeFertilityByLang(docs, "lang", "text", dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(out("en") == ((2L, 3L, 6L, 1.5, 2.0)))
    assert(out("de") == ((1L, 3L, 2L, 3.0, 2.0 / 3)))
    // The audit's point: the under-represented language fragments more.
    assert(out("de")._4 > out("en")._4)
  }

  private def bpeMerges(d: org.apache.spark.sql.DataFrame, rounds: Int) =
    CorpusStats.bpeTrain(d, "text", rounds).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  test("bpeTrain: hand-computed merge sequence with frequency weighting") {
    // Words: abab x3, ab x2 (with </w>).
    // R1 pairs: (a,b)=3*2+2=8, (b,a)=3, (b,</w>)=5 → merge (a,b).
    // R2: abab→[ab,ab,</w>], ab→[ab,</w>]: (ab,ab)=3, (ab,</w>)=5
    //   → merge (ab,</w>).
    // R3: [ab,ab</w>] x3: (ab,ab</w>)=3.
    val d = docs(1L -> "abab abab ab", 2L -> "abab ab")
    assert(bpeMerges(d, 3) == Seq(
      (1, "a", "b", 8L), (2, "ab", "</w>", 5L), (3, "ab", "ab</w>", 3L)))
  }

  test("bpeTrain: greedy left-to-right non-overlapping rewrite (merge order matters)") {
    // "aaaaa" → [a,a,a,a,a,</w>]: R1 (a,a)=4. The GREEDY rewrite gives
    // [aa,aa,a,</w>]; R2 pairs {(aa,aa),(aa,a),(a,</w>)} all =1, and
    // the tie-break (lhs asc: '<' sorts before 'a') picks (a,</w>).
    // A wrong rewrite, e.g. [aa,a,aa,</w>], has no (a,</w>) pair at
    // all and would merge (a,aa) instead — the fixture detects it.
    val d = docs(1L -> "aaaaa")
    assert(bpeMerges(d, 2) == Seq((1, "a", "a", 4L), (2, "a", "</w>", 1L)))
  }

  test("bpeTrain: deterministic tie-break, count desc then pair asc") {
    // "aaa" x2 → R1 (a,a)=4 beats (a,</w>)=2. Rewrite → [aa,a,</w>];
    // R2 (aa,a)=2 TIES (a,</w>)=2 → lhs asc picks (a,</w>).
    val d = docs(1L -> "aaa aaa")
    assert(bpeMerges(d, 3) == Seq(
      (1, "a", "a", 4L), (2, "a", "</w>", 2L), (3, "aa", "a</w>", 2L)))
  }

  test("bpeTrain: pre-tokenization keeps \\p{L}+ words only") {
    // "x9" and "!!" are not letter-only words; only "ab" (freq 2) counts.
    // (a,b) ties (b,</w>) at 2 → lhs asc picks (a,b).
    val d = docs(1L -> "ab x9 ab !!")
    assert(bpeMerges(d, 1) == Seq((1, "a", "b", 2L)))
  }

  test("bpeTrain/bpeVocab: non-ASCII words train and enter the vocabulary") {
    // Round-12 verdict #2: the [A-Za-z]+ filter trained an English-only
    // tokenizer on multilingual corpora. Cyrillic, accented Latin, and
    // CJK words must all pre-tokenize (per codepoint) and merge; "мама"
    // at freq 3 dominates: (м,а)=6·? — per word [м,а,м,а,</w>] has
    // (м,а)=2, so n = 6 beats every Latin pair.
    val d = docs(1L -> "мама мама мама café", 2L -> "日本 café")
    assert(bpeMerges(d, 1) == Seq((1, "м", "а", 6L)))
    val vocab = CorpusStats.bpeVocab(d, "text", 1).orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(vocab == Seq(
      ("café", 2L, "c a f é </w>"),
      ("мама", 3L, "ма ма </w>"),
      ("日本", 1L, "日 本 </w>")))
    // And q146's token pricing counts them instead of dropping them.
    val counts = CorpusStats.bpeTokenize(d, "doc_id", "text", 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(counts == Seq((1L, 4L, 14L), (2L, 2L, 8L)))
  }

  test("bpeTrainLocal equals bpeTrain on every trainer fixture") {
    // The driver-local high-round variant must be output-identical:
    // same pre-tokenization, same greedy rewrite, same tie-break (in
    // UTF-8 byte order — exercised by the multilingual fixture).
    val fixtures = Seq(
      docs(1L -> "abab abab ab", 2L -> "abab ab") -> 3,
      docs(1L -> "aaaaa") -> 2,
      docs(1L -> "aaa aaa") -> 3,
      docs(1L -> "ab x9 ab !!") -> 1,
      docs(1L -> "мама мама мама café", 2L -> "日本 café") -> 4,
      docs(1L -> "a b") -> 5) // early exhaustion: local loop stops too
    fixtures.foreach { case (d, rounds) =>
      val dist = bpeMerges(d, rounds)
      val local = CorpusStats.bpeTrainLocal(d, "text", rounds)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(local == dist, s"local/distributed divergence on rounds=$rounds")
    }
  }

  test("bpeTrainLocal minFreq: prune equals unpruned when rare words are pair-disjoint") {
    // Web-text shape in miniature: a high-frequency core vocabulary
    // plus a freq-1 typo tail. The tail here shares NO adjacent symbol
    // pair with the core (disjoint letters), so pruning it (minFreq=2)
    // must reproduce the unpruned trainer EXACTLY — rounds, pairs, AND
    // counts — while collecting a strictly smaller word table. This is
    // the equality contract the scaladoc states: merges match whenever
    // no selected pair's count depends on sub-threshold words.
    // Every CORE pre-token stays above the cut at BOTH levels — the
    // byte family splits "abab" (doc start) from "Ġabab" (mid-doc), so
    // each position variant needs freq >= 2 for exact equality there.
    val d = docs(
      1L -> "abab abab ab zyx",
      2L -> "abab abab ab qpo",
      3L -> "abab tsr")
    def m(df: org.apache.spark.sql.DataFrame) = df.orderBy("round")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val unpruned = m(CorpusStats.bpeTrainLocal(d, "text", rounds = 3))
    val pruned = m(CorpusStats.bpeTrainLocal(d, "text", rounds = 3,
      minFreq = 2L))
    assert(pruned == unpruned,
      "pair-disjoint freq-1 tail must not change the trained merges")
    // The tail really is sub-threshold: its letters never appear in
    // any merge, so the prune dropped it rather than merging past it.
    // (Letters chosen disjoint from the </w> marker's characters.)
    assert(!unpruned.exists { case (_, l, r, _) =>
      (l + r).exists("zyxqpotsr".contains(_)) })
    // Byte-level twin carries the same knob and the same contract.
    val bu = m(CorpusStats.byteBpeTrainLocal(d, "text", rounds = 3))
    val bp = m(CorpusStats.byteBpeTrainLocal(d, "text", rounds = 3,
      minFreq = 2L))
    assert(bp == bu)
    // And an aggressive cut that DOES cross the contract boundary
    // (minFreq above every word's freq) exhausts cleanly instead of
    // throwing: zero merges, not an error.
    assert(CorpusStats.bpeTrainLocal(d, "text", rounds = 3,
      minFreq = 100L).count() == 0)
  }

  test("bpeVocab: final segmentation equals the merge sequence applied in order") {
    // Same corpus as the hand-computed trainer fixture. Applying the
    // merges in order: (a,b) → abab=[ab,ab,</w>], ab=[ab,</w>];
    // (ab,</w>) → abab=[ab,ab</w>], ab=[ab</w>]; (ab,ab</w>) →
    // abab=[abab</w>]. Two rounds leave abab mid-merge — both states
    // pinned so a rewrite that skips or reorders merges fails one.
    val d = docs(1L -> "abab abab ab", 2L -> "abab ab")
    def vocab(rounds: Int) = CorpusStats.bpeVocab(d, "text", rounds)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(vocab(2) == Seq(("ab", 2L, "ab</w>"), ("abab", 3L, "ab ab</w>")))
    assert(vocab(3) == Seq(("ab", 2L, "ab</w>"), ("abab", 3L, "abab</w>")))
  }

  test("bpeTokenize: per-doc subword counts follow the trained segmentation") {
    // rounds=1 → abab=[ab,ab,</w>] (3 syms), ab=[ab,</w>] (2);
    // rounds=3 → abab=[abab</w>] (1), ab=[ab</w>] (1). "x9" never
    // tokenizes (not alphabetic, not in the vocabulary).
    val d = docs(1L -> "abab abab ab x9", 2L -> "abab ab")
    def counts(rounds: Int) =
      CorpusStats.bpeTokenize(d, "doc_id", "text", rounds)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(counts(1) == Seq((1L, 3L, 8L), (2L, 2L, 5L)))
    assert(counts(3) == Seq((1L, 3L, 3L), (2L, 2L, 2L)))
  }

  test("bpeTokenizeFromModel: stored merges segment seen AND unseen words") {
    val dir = s"${graft.engine.Sinks.scratch}/bpe_model_spec"
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val applyCorpus = docs(5L -> "abab abba zz ab x9")
    assertThrows[IllegalArgumentException] {
      CorpusStats.bpeTokenizeFromModel(applyCorpus, "doc_id", "text", dir)
    }
    // Trained merges (the hand-computed fixture): (a,b), (ab,</w>),
    // (ab,ab</w>).
    CorpusStats.saveBpeModel(
      docs(1L -> "abab abab ab", 2L -> "abab ab"), "text", rounds = 3, dir)
    assert(graft.engine.Manifests.exists(spark, dir))
    // Replay over the UNSEEN corpus: abab→[abab</w>] (1); abba→
    // [ab,b,a,</w>] (4 — only the first merge fires); zz→[z,z,</w>]
    // (3 — no merge applies, characters survive); ab→[ab</w>] (1);
    // x9 is not a letter word and never tokenizes. A vocabulary JOIN
    // (bpeTokenize's contract) would drop abba and zz entirely.
    val out = CorpusStats.bpeTokenizeFromModel(applyCorpus,
      "doc_id", "text", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((5L, 4L, 9L)))
  }

  test("bpeTrain: stops early when the corpus is fully merged") {
    // After (a,</w>) and (b,</w>) every word is a single symbol: round
    // 3 finds no pairs and the loop breaks — 2 rows despite rounds=5.
    val d = docs(1L -> "a b")
    assert(bpeMerges(d, 5) == Seq(
      (1, "a", "</w>", 1L), (2, "b", "</w>", 1L)))
  }

  test("vocabGrowth: debuts land in their first-appearance bucket, cumulates") {
    import spark.implicits._
    // ids 0-3 → 2 buckets of 2 docs. Types: a,b debut in bucket 0;
    // c debuts in bucket 1; a,b recurring later add NO new types.
    val d = Seq(
      (0L, "a b"), (1L, "a a"), (2L, "b c"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = CorpusStats.vocabGrowth(d, "doc_id", "text", buckets = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 2L, 4L, 2L, 4L, 2L),
      (1L, 2L, 4L, 1L, 8L, 3L)))
    // Totality + conservation on the real table: cum_types at the last
    // bucket equals the corpus's distinct type count, cum_tokens its
    // token total.
    val docsReal = graft.engine.Tables.documents(spark, sf)
    val g = CorpusStats.vocabGrowth(docsReal, "doc_id", "text")
      .orderBy(org.apache.spark.sql.functions.col("bucket").desc).head()
    val wantTypes = docsReal.select(
      org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text")))).distinct().count()
    assert(g.getLong(5) == wantTypes)
  }

  test("zipfSlope: matches a closed-form reference; near -1 on planted Zipf text") {
    import spark.implicits._
    // Planted EXACT Zipf head: word r appears floor(60/r) times.
    val freqs = (1 to 10).map(r => s"w$r" -> (60 / r))
    val text = freqs.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val got = CorpusStats.zipfSlope(d, "doc_id", "text", topK = 10).head()
    // Independent least-squares reference over the same head.
    val pts = freqs.sortBy { case (w, n) => (-n, w) }.zipWithIndex
      .map { case ((_, n), i) => (math.log(i + 1.0), math.log(n.toDouble)) }
    val k = pts.size
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert(got.getLong(0) == 10L)
    assert(math.abs(got.getDouble(1) - slope) < 1e-5,
      s"${got.getDouble(1)} != $slope")
    assert(math.abs(slope - (-1.0)) < 0.05, s"planted Zipf should fit ~-1: $slope")
    // Real-table sanity: head mass decays, slope strictly negative.
    val real = CorpusStats.zipfSlope(
      graft.engine.Tables.documents(spark, sf), "doc_id", "text").head()
    assert(real.getDouble(1) < 0.0)
  }

  test("gopherLineStats: hand-computed dup-line/dup-char fractions + gate") {
    import spark.implicits._
    // Doc 1: lines [aa, aa, bcde] → 3 lines, 1 duplicate occurrence
    // (dup_line 1/3); duplicate chars = 1·len("aa") = 2 of total
    // 2+2+4 = 8 (dup_char 0.25 > 0.20 → gate fails).
    val d = Seq(1L -> "aa\naa\nbcde", 2L -> "x\ny").toDF("doc_id", "text")
    val m = CorpusStats.gopherLineStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(m(0).getAs[Long]("n_lines") == 3L)
    assert(m(0).getAs[Double]("dup_line_frac") == 0.333333)
    assert(m(0).getAs[Double]("dup_char_frac") == 0.25)
    assert(m(0).getAs[Int]("pass") == 0)
    assert(m(1).getAs[Long]("n_lines") == 2L)
    assert(m(1).getAs[Double]("dup_line_frac") == 0.0)
    assert(m(1).getAs[Int]("pass") == 1)
  }

  test("charEntropy: closed-form values, degenerate plant flagged") {
    import org.apache.spark.sql.functions.col
    // "aaab": p(a)=3/4, p(b)=1/4 → H = ln4 - (3 ln3)/4.
    val d = docs(1L -> "aaab", 2L -> "aaaa", 3L -> "abcd")
    val m = CorpusStats.charEntropy(d, "doc_id", "text", minEntropy = 1.0)
      .orderBy("doc_id").collect()
    def round6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(m(0).getAs[Long]("n_chars") == 4L)
    assert(math.abs(m(0).getAs[Double]("char_entropy") -
      round6(math.log(4) - 3 * math.log(3) / 4)) < 2e-6)
    assert(m(1).getAs[Double]("char_entropy") == 0.0 &&
      m(1).getAs[Int]("low_entropy") == 1, "single-char run: H = 0")
    assert(m(2).getAs[Double]("char_entropy") == round6(math.log(4)) &&
      m(2).getAs[Int]("low_entropy") == 0, "uniform 4 chars: H = ln 4")
    // The planted key-mash shape lands under any sane threshold.
    val planted = d.select(col("doc_id"),
      CorpusStats.plantDegenerateText(col("doc_id") * 23, col("text"))
        .as("text"))
    val p = CorpusStats.charEntropy(planted, "doc_id", "text", 2.0)
      .orderBy("doc_id").collect()
    assert(p.forall(_.getAs[Int]("low_entropy") == 1),
      "all ids ≡ 0 mod 23 → every doc is the planted run")
  }

  test("charEntropy: duplicate ids give one row per input row, never a merged histogram") {
    // Pins the documented precondition: the per-row kernel does not
    // group by id, so two rows sharing id 1 keep their own entropies
    // ("aaaa" → 0, "abcd" → ln 4) instead of one pooled "aaaaabcd" row.
    val d = docs(1L -> "aaaa", 1L -> "abcd", 2L -> "ab", 3L -> null)
    val m = CorpusStats.charEntropy(d, "doc_id", "text", minEntropy = 1.0)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_chars"),
        r.getAs[Double]("char_entropy"))).sortBy(r => (r._1, r._3))
    def round6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(m.toSeq == Seq((1L, 4L, 0.0), (1L, 4L, round6(math.log(4))),
      (2L, 2L, round6(math.log(2)))))
  }

  test("charEntropy kernel is bit-identical to the explode-aggregate formulation") {
    import org.apache.spark.sql.functions._
    import graft.engine.Aggregates
    // Adversarial inputs for the r19 per-row kernel: empty string,
    // single char, multi-byte UTF-8 (é, 中, emoji incl. surrogate
    // pairs), long degenerate runs, whitespace/newlines, and a
    // high-cardinality mix — the kernel must reproduce the former
    // explode → groupBy(doc, ch) → sumExact(cnt·ln cnt) plan to the
    // LAST BIT (same doubles, same DECIMAL(28,6) rounding), because
    // the DuckDB oracle still replays the aggregation form.
    val texts = Seq(
      "", "a", "aaab", "abcd", "aa \n\naa\t", "héllo wörld 中文 字",
      "🎉🎉x🎉", "the quick brown fox jumps over the lazy dog",
      ("ab" * 500) + "c", (1 to 200).map(i => ('a' + i % 26).toChar).mkString,
      "aa " * 40)
    val d = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val viaKernel = CorpusStats.charEntropy(d, "doc_id", "text", 2.0)
      .orderBy("doc_id").collect()
    val viaAgg = {
      val counts = d
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("doc_id"))
        .agg(sum("cnt").cast("long").as("n_chars"),
          round(log(sum("cnt")) -
            Aggregates.sumExact(col("cnt") * log(col("cnt"))) / sum("cnt"),
            6).as("char_entropy"))
        .withColumn("low_entropy", (col("char_entropy") < 2.0).cast("int"))
        .orderBy("doc_id").collect()
    }
    assert(viaKernel.length == viaAgg.length)
    viaKernel.zip(viaAgg).foreach { case (k, a) =>
      assert(k.getLong(0) == a.getLong(0))
      assert(k.getAs[Long]("n_chars") == a.getAs[Long]("n_chars"),
        s"n_chars diverged for doc ${k.getLong(0)}")
      assert(k.getAs[Double]("char_entropy") == a.getAs[Double]("char_entropy"),
        s"entropy diverged for doc ${k.getLong(0)}: " +
          s"${k.getAs[Double]("char_entropy")} vs ${a.getAs[Double]("char_entropy")}")
      assert(k.getAs[Int]("low_entropy") == a.getAs[Int]("low_entropy"))
    }
  }

  test("gopherLines folds tokens into lines and plants the repeated header") {
    import spark.implicits._
    val d = Seq(5L -> "a b c d e f g h i j", 6L -> "a b c d e")
      .toDF("doc_id", "text")
    val folded = d.select(col("doc_id"),
      CorpusStats.gopherLines(col("doc_id"), col("text"),
        lineLen = 4, plantMod = 5).as("text"))
      .orderBy("doc_id").as[(Long, String)].collect()
    // id 5 ≡ 0 (mod 5): 10 tokens → [4,4,2] + first line twice more.
    assert(folded(0)._2 ==
      "a b c d\ne f g h\ni j\na b c d\na b c d")
    // id 6: 5 tokens → [4,1], no plant.
    assert(folded(1)._2 == "a b c d\ne")
    // Planted docs must fail the gate; clean short docs pass.
    val stats = CorpusStats.gopherLineStats(
      d.select(col("doc_id"), CorpusStats.gopherLines(col("doc_id"),
        col("text"), 4, 5).as("text")), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(stats(0).getAs[Int]("pass") == 0)
    assert(stats(1).getAs[Int]("pass") == 1)
  }
}
