package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Sinks, Tables}
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, Dedup, Multimodal, Privacy, QualityClassifier, Retrieval, Sampling, Similarity}

import SparkEntry.{pipelineFixtures, storedAnnIndex, storedDedupIndex, storedBpeModel, storedByteBpeModel, storedQualityModel, MixtureTargets}

/** Registration segment q148-q212: the stored-state lifecycles
  * (dedup/ANN/tokenizer/classifier indexes), the later LLM-pipeline
  * waves, and the round-15 additions. Split from [[SparkEntry]] purely
  * for file size; [[SparkEntry.specs]] appends this segment to the core
  * one, which is IDENTICAL to the pre-split registration order — bench
  * timings read queries in registry order, so the order is part of the
  * per-query ledger context and is pinned by BenchSpec. */
private[graft] object SparkQueriesExt {

  val specs: Seq[QuerySpec] = Seq(
    // Incremental text dedup from PERSISTED reference state: the q98
    // pipeline with the reference corpus's shingles and LSH bands
    // stored once (build on the even-id half, appended odd half — the
    // maintenance path is under the oracle gate) and only the NEW
    // batch shingled per run. Same LSH family as q98, so the same
    // exhaustive cross-pair oracle proves the stored state is
    // bit-equal to the inline recompute.
    QuerySpec("q148_minhash_stored_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashNearDupFromIndex(
        docs.filter(col("doc_id") % 3 =!= 0),
        storedDedupIndex(s, dir, "minhash"),
        "doc_id", "text", threshold = 0.5)
        .orderBy("new_id", "ref_id")
    }, fixtures = Seq("dedup" -> "minhash")),

    // Incremental media dedup from PERSISTED reference state: the q144
    // pipeline with the reference corpus's perceptual hashes stored
    // once (build evens + append odds) — today's batch decodes and
    // hashes ONLY its own images (texturedTwins) and band-joins
    // against the stored table. Same oracle as q144: stored state must
    // be bit-equal to the inline recompute.
    QuerySpec("q149_phash_stored_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val newHs = graft.operators.ImageDedup.phashImages(s,
          graft.operators.ImageDedup.texturedTwins(s, docs)).toDF()
        .filter(col("phash").isNotNull)
        .select(col("img_id"), col("phash"))
      graft.operators.ImageDedup.phashNearDupAcrossFromIndex(
        newHs, storedDedupIndex(s, dir, "phash"), maxHamming = 3)
        .orderBy("new_id", "ref_id")
    }, fixtures = Seq("dedup" -> "phash")),

    // Tokenize an UNSEEN corpus with a STORED BPE model: the tokenizer
    // lifecycle's last leg (train q140 → vocab q142 → price own corpus
    // q146 → persist + apply to new text here). Trained once on the
    // reference slice (driver-local trainer, spec-equal to the
    // distributed loop), stored as the merges table; the apply slice's
    // own vocabulary is segmented by replaying the frozen merges —
    // unseen words segment too (characters where no merge applies)
    // instead of silently dropping like a vocabulary join would.
    QuerySpec("q150_bpe_apply_stored", (s, dir) =>
      CorpusStats.bpeTokenizeFromModel(
        Tables.documents(s, dir).filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", storedBpeModel(s, dir))
        .orderBy("doc_id"), fixtures = Seq("bpemodel" -> "m10")),

    // Exact-substring near-dup via winnowing (MOSS): documents sharing
    // a verbatim character run of >= w + k - 1 = 33 chars — the
    // copy-paste/boilerplate detector no bag-of-shingles tier can
    // express (q23/q24 match reordered word sets; this matches RUNS).
    // Fingerprint density ~2/(w+1) per gram; candidates equi-join on
    // the selected gram strings, exact by construction.
    QuerySpec("q151_winnowing_spans", (s, dir) =>
      Dedup.winnowedSpanPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 24, w = 10)
        .orderBy("id_a", "id_b")),

    // Boilerplate EXCISION (Lee et al. 2022 repeated-substring
    // removal): every char position covered by a 24-gram present in
    // >= 3 distinct docs is cut from every document — the "cure"
    // companion to q151's detection. Untouched docs pass through, so
    // the oracle also gates the not-boilerplate complement.
    QuerySpec("q152_boilerplate_excision", (s, dir) =>
      Dedup.exciseBoilerplate(Tables.documents(s, dir), "doc_id", "text",
        k = 24, minDf = 3)
        .orderBy("doc_id")),

    // Decontamination EXCISION: span-level benchmark-leak removal —
    // every 24-gram of a training doc (the q148/q150 non-reference
    // slice) that occurs anywhere in the held-out slice (doc_id % 3
    // = 0, standing in for an eval/benchmark corpus) is cut, the rest
    // of the document survives. The span-level upgrade of q95's
    // doc-level decontamination drop.
    QuerySpec("q153_decontam_excision", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exciseContaminated(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", k = 24)
        .orderBy("doc_id")
    }),

    // CCNet-style quality scoring: per-doc mean log-probability under
    // a Laplace-smoothed BIGRAM LM trained on the held-out reference
    // slice (doc_id % 3 = 0, standing in for a trusted corpus) — the
    // order-1 cross-corpus upgrade of q96's self-corpus unigram score.
    // Downstream, docs are kept/bucketed by this score.
    QuerySpec("q154_bigram_logprob", (s, dir) => {
      val docs = Tables.documents(s, dir)
      CorpusStats.bigramLogProb(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ANN recall evaluation: per-query recall@5 of the q28 IVF ranking
    // against the q26 exact ranking — the acceptance metric every ANN
    // deployment tracks, here under the oracle gate (both rankings AND
    // the intersection arithmetic replay in SQL).
    QuerySpec("q155_ann_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val cents = graft.operators.Clustering.kmeansCentroids(
        emb, "vec_id", "embedding", initStride = 53, iters = 2)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(qs, emb, k = 5),
        Similarity.ivfTopKWith(qs, emb, k = 5, cents, nProbe = 3),
        k = 5)
        .orderBy("query_id")
    }),

    // Cluster-aware leakage-safe splits: every near-dup cluster member
    // takes its representative's content-hash split, so near-twins
    // never straddle train/test (q46 pins only IDENTICAL text to one
    // side). Same planted corpus as q37, so the LSH clusters equal the
    // oracle's exhaustive-Jaccard clusters.
    QuerySpec("q156_cluster_safe_splits", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.dedupClusters(
        Dedup.minhashNearDup(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5))
      Sampling.clusterSafeSplits(docs, "doc_id", "text", clusters)
        .orderBy("doc_id")
    }),

    // Content-defined chunk dedup (the rsync/LBFS rolling-hash cut):
    // chunk boundaries are a pure local function of the text, so
    // insertions re-key only their own chunk and verbatim overlap
    // between shifted documents still dedups chunk-for-chunk. Per-doc
    // shared-chunk redundancy stats, chunks crossing the exchange as
    // md5 keys only.
    QuerySpec("q157_cdc_chunk_dedup", (s, dir) =>
      Dedup.cdcSharedChunkStats(Tables.documents(s, dir), "doc_id", "text",
        k = 16)
        .orderBy("doc_id")),

    // Tokenizer fertility audit: per-language subwords-per-word and
    // codepoints-per-subword under the q150 stored model — the
    // standard "how fairly does the tokenizer price each language"
    // report of multilingual-tokenizer papers.
    QuerySpec("q158_bpe_fertility", (s, dir) =>
      CorpusStats.bpeFertilityByLang(
        Tables.documents(s, dir).filter(col("doc_id") % 3 =!= 0),
        "lang", "text", storedBpeModel(s, dir))
        .orderBy("lang"), fixtures = Seq("bpemodel" -> "m10")),

    // Embedding-space drift: PSI over SRP sign-bucket histograms
    // between vector snapshot halves — "did the embedding distribution
    // move", which scalar/token PSI can't answer for a vector column.
    // Constant-size state (2^8 bins) regardless of corpus scale.
    QuerySpec("q159_embedding_drift", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Drift.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), nBits = 6)
    }),

    // Cross-source copy matrix: q24's near-dup pairs rolled up by
    // unordered source pair — the provenance audit showing which feeds
    // copy from which before sources are weighted.
    QuerySpec("q160_source_copy_matrix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.copyMatrix(docs, "doc_id", "source",
        Dedup.minhashNearDup(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5))
        .orderBy("source_a", "source_b")
    }),

    // Audio near-dup — the audio member of the multimodal dedup family
    // (pHash is the image member): re-rendered tones with shifted
    // amplitude are near in SIGNAL space, not byte space; double-
    // shifted amplitude quantization gives total recall without an
    // all-pairs join, exact |delta| verify on candidates only.
    QuerySpec("q161_audio_neardup", (s, dir) =>
      Multimodal.audioNearDup(s, Tables.documents(s, dir))
        .orderBy("id_a", "id_b")),

    // Decontamination excision from PERSISTED eval state: the q153
    // pipeline with the benchmark corpus's gram set stored once (built
    // on the even half, appended odd half — maintenance under the
    // oracle gate) and only today's training batch grammed per run.
    // Same oracle as q153: stored state must be bit-equal to the
    // inline recompute.
    QuerySpec("q162_decontam_stored_excision", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exciseFromGramIndex(docs.filter(col("doc_id") % 3 =!= 0),
        storedDedupIndex(s, dir, "evalgrams"), "doc_id", "text")
        .orderBy("doc_id")
    }, fixtures = Seq("dedup" -> "evalgrams")),

    // MRR companion to q155: recall says how much of the truth the IVF
    // ranking retrieves, MRR says how EARLY — what matters when a
    // re-ranker or an LLM reads only the head of the list.
    QuerySpec("q163_ann_mrr", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val cents = graft.operators.Clustering.kmeansCentroids(
        emb, "vec_id", "embedding", initStride = 53, iters = 2)
      Similarity.mrrAtK(
        Similarity.bruteForceTopK(qs, emb, k = 5),
        Similarity.ivfTopKWith(qs, emb, k = 5, cents, nProbe = 3))
        .orderBy("query_id")
    }),

    // Streaming drift monitor: the q159 statistic as a deployment —
    // stored reference histogram built once, each AvailableNow run
    // scores ONLY its new batch against it (checkpointed exactly-once,
    // batch ids monotone across runs). Per-batch cost independent of
    // reference size.
    QuerySpec("q164_stream_drift_monitor", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.streaming.DriftMonitor.twoRunMonitor(s,
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 === 1),
        emb.filter(col("vec_id") % 3 === 2),
        s"${Sinks.scratch}/q164")
        .orderBy("batch_id")
    }),

    // Filter funnel: the FineWeb/Dolma-style ablation table — gates
    // apply IN ORDER, each doc attributed to the FIRST gate it fails,
    // so per-gate drops are marginal, not overlap-confounded. One
    // corpus scan; all funnel arithmetic on the gates-sized frame.
    QuerySpec("q165_filter_funnel", (s, dir) => {
      val t = col("text")
      Curation.filterFunnel(Tables.documents(s, dir), Seq(
        "min_tokens" -> (TextFunctions.tokenCount(t) >= 10),
        "quality" -> (TextFunctions.qualityScore(t) >= 0.3),
        "punct" -> (TextFunctions.punctRatio(t) <= 0.2),
        "stopwords" -> (TextFunctions.stopwordRatio(t) >= 0.05)))
        .orderBy("stage")
    }),

    // N-gram novelty: the memorization/contamination MEASUREMENT (q95
    // is the binary decision) — fraction of each training doc's
    // distinct 8-grams absent from the reference slice.
    QuerySpec("q166_ngram_novelty", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.ngramNovelty(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // The corpus curation REPORT: near-dup survival (q24/q37/q38) as
    // the first funnel gate, quality gates after — the end-to-end
    // ablation table a curation run publishes, with every drop
    // attributed to exactly one stage.
    QuerySpec("q167_curation_report", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val victims = Dedup.dedupClusters(
          Dedup.minhashNearDup(docs, "doc_id", "text",
            n = 3, numHashes = 64, bands = 16, threshold = 0.5))
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"), lit(1).as("is_victim"))
      val t = col("text")
      Curation.filterFunnel(docs.join(victims, Seq("doc_id"), "left"), Seq(
        "near_dup_survivor" -> col("is_victim").isNull,
        "min_tokens" -> (TextFunctions.tokenCount(t) >= 10),
        "quality" -> (TextFunctions.qualityScore(t) >= 0.3)))
        .orderBy("stage")
    }),

    // Model-based quality scoring (the CCNet/FineWeb filter stage): a
    // Naive-Bayes LINEAR classifier trained on a labeled good-vs-crawl
    // slice (reference third; label = target-language docs, the CCNet
    // framing), applied to the unseen rest. Training is pure counting,
    // so the oracle replays the whole train-then-score chain exactly.
    QuerySpec("q168_quality_classifier", (s, dir) => {
      val docs = Tables.documents(s, dir)
      QualityClassifier.trainScore(
        docs.filter(col("doc_id") % 3 === 0)
          .withColumn("label_good", col("lang") === "en"),
        "text", "label_good",
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The same scores from the PERSISTED model (params + weights built
    // once, marker-gated — the q150 lifecycle): the per-arrival leg of
    // the quality stage, zero training recompute, bit-equal to q168's
    // inline twin — so ONE oracle adjudicates both paths.
    QuerySpec("q169_quality_stored_score", (s, dir) => {
      val docs = Tables.documents(s, dir)
      QualityClassifier.scoreFromModel(
        docs.filter(col("doc_id") % 3 =!= 0),
        storedQualityModel(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, fixtures = Seq("qualitymodel" -> "nb")),

    // BYTE-level BPE trainer (GPT-2 bytes-to-unicode): q140's twin
    // over the byte alphabet — never drops a character of any script,
    // prices digits/punctuation/whitespace. The oracle carries the
    // 256-row byte mapping as a literal table.
    QuerySpec("q170_byte_bpe_train", (s, dir) =>
      CorpusStats.byteBpeTrain(Tables.documents(s, dir),
        "text", rounds = 10).orderBy("round")),

    // Byte-level token pricing (q146's twin): per-document pre-token /
    // byte / token counts under the trained byte merges — n_bytes is
    // the losslessness invariant (tokens only ever merge bytes).
    QuerySpec("q171_byte_bpe_tokenize", (s, dir) =>
      CorpusStats.byteBpeTokenize(Tables.documents(s, dir),
        "doc_id", "text", rounds = 10).orderBy("doc_id")),

    // Domain-level curation (the first gate of every web pipeline):
    // blocklist LEFT ANTI -> per-domain content-hash cap -> per-host
    // rollup with near-dup involvement and mean quality — the table a
    // pipeline reads to set per-source weights.
    QuerySpec("q172_domain_curation", (s, dir) => {
      val kept = graft.operators.DomainCuration.capPerDomain(
        graft.operators.DomainCuration.applyBlocklist(
          Tables.documents(s, dir), "source", Seq("src0", "src13")),
        "source", "text", cap = 20)
      graft.operators.DomainCuration.domainProfile(kept,
        Dedup.minhashNearDup(kept, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5),
        "doc_id", "source", "text")
        .orderBy("source")
    }),

    // Streaming filter-funnel monitor: each arriving batch is scored
    // against the STORED quality model, gated in order, and publishes
    // its per-gate ablation rows idempotently under its batch id — the
    // q164 monitor pattern applied to the q165 funnel. Two-run demo:
    // the second drain funnels ONLY batch 2 and numbers it across runs.
    QuerySpec("q173_stream_funnel_monitor", (s, dir) => {
      val applySlice = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 =!= 0)
      graft.streaming.FunnelMonitor.twoRunFunnel(s,
        storedQualityModel(s, dir),
        applySlice.filter(col("doc_id") % 2 === 1),
        applySlice.filter(col("doc_id") % 2 === 0),
        s"${Sinks.scratch}/q173")
        .orderBy("batch_id", "stage")
    }, fixtures = Seq("qualitymodel" -> "nb")),

    // Byte-level tokenizer lifecycle's last leg (q150's byte twin):
    // price an UNSEEN corpus with the STORED byte model — unseen
    // pre-tokens segment (bytes where no merge applies) instead of
    // dropping; every non-empty doc emits a row by construction.
    QuerySpec("q174_byte_bpe_apply_stored", (s, dir) =>
      CorpusStats.byteBpeTokenizeFromModel(
        Tables.documents(s, dir).filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", storedByteBpeModel(s, dir))
        .orderBy("doc_id"), fixtures = Seq("bpemodel" -> "b10")),

    // INCREMENTAL model update: train on half the labeled corpus,
    // appendToModel the other half, score — the oracle replays the
    // UNION train, so the driver gate itself proves update == retrain
    // bit-for-bit (counts are a sufficient statistic; the timed body
    // deliberately includes the build+append, which IS this query's
    // operator).
    QuerySpec("q175_quality_model_update", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("label_good", col("lang") === "en")
      val modelDir = s"${Sinks.scratch}/q175_model"
      graft.streaming.IncrementalIngest.deleteDir(s, modelDir)
      QualityClassifier.saveModel(
        train.filter(col("doc_id") % 2 === 0), "text", "label_good", modelDir)
      QualityClassifier.appendToModel(
        train.filter(col("doc_id") % 2 === 1), "text", "label_good", modelDir)
      QualityClassifier.scoreFromModel(
        docs.filter(col("doc_id") % 3 =!= 0), modelDir, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Top-quantile keep per language (FineWeb's "keep the best X%"):
    // stored-model scores cut at the best 25% of each language —
    // per-stratum rank windows, never a global sort.
    QuerySpec("q176_quality_topq_keep", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 =!= 0)
      val scored = docs.join(
        QualityClassifier.scoreFromModel(docs, storedQualityModel(s, dir),
          "doc_id", "text").select("doc_id", "quality_score"),
        Seq("doc_id"))
      Sampling.topQuantileByScore(scored, "lang", "quality_score",
        "doc_id", q = 0.25)
        .select("doc_id", "lang", "quality_score")
        .orderBy("doc_id")
    }, fixtures = Seq("qualitymodel" -> "nb")),

    // Byte-tokenizer fairness/compression audit (q158's byte twin):
    // per-language fertility AND bytes-per-token under the stored byte
    // model — the GPT-style "which scripts pay full byte cost" table.
    QuerySpec("q177_byte_bpe_fertility", (s, dir) =>
      CorpusStats.byteBpeFertilityByLang(
        Tables.documents(s, dir).filter(col("doc_id") % 3 =!= 0),
        "lang", "text", storedByteBpeModel(s, dir))
        .orderBy("lang"), fixtures = Seq("bpemodel" -> "b10")),

    // Semantic decontamination: drop training vectors near-parallel to
    // ANY eval vector — the embedding-space leak no lexical gram gate
    // sees (a paraphrased benchmark answer keeps its direction). Cell-
    // bucketed new x ref, best match per contaminated id.
    QuerySpec("q178_semantic_decontam", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ref = emb.filter(col("vec_id") % 3 === 0)
      val cents = ref.filter(col("vec_id") % 53 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      Similarity.semanticDecontam(
        emb.filter(col("vec_id") % 3 =!= 0), ref, cents, threshold = 0.4)
        .orderBy("vec_id")
    }),

    // Unicode-normalization dedup: every document arrives twice, once
    // with "key" re-spelled in DECOMPOSED form (e + U+0301) and once
    // PRECOMPOSED (U+00E9) — byte-distinct, canonically equivalent.
    // NFC-keyed grouping collapses them (n_raw_forms = 2 exactly where
    // the marker occurs); byte-exact dedup cannot. The normalization
    // stage every pipeline runs before fingerprinting anything.
    QuerySpec("q179_nfc_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val variants = docs.select(col("doc_id"),
          regexp_replace(col("text"), Curation.NfdMarker,
            Curation.NfdReplacement).as("text"))
        .unionAll(docs.select(col("doc_id"),
          regexp_replace(col("text"), Curation.NfdMarker,
            Curation.NfcReplacement).as("text")))
      Curation.nfcDedupGroups(variants, "doc_id", "text")
        .orderBy("rep_id", "norm_text")
    }),

    // Held-out evaluation of the STORED quality classifier: confusion
    // matrix at its own threshold + exact tie-aware ROC AUC
    // (Mann-Whitney closed form) — the acceptance gate a model passes
    // before it may filter a corpus; q155/q163's evaluation discipline
    // applied to the quality stage.
    QuerySpec("q180_quality_eval", (s, dir) => {
      val docs = Tables.documents(s, dir)
      QualityClassifier.evaluateFromModel(
        docs.filter(col("doc_id") % 3 =!= 0)
          .withColumn("label_good", col("lang") === "en"),
        storedQualityModel(s, dir), "doc_id", "text", "label_good")
    }, fixtures = Seq("qualitymodel" -> "nb")),

    // Soft dedup (SoftDedup, ACL 2024): keep every near-duplicate but
    // weight it by 1/cluster-size, so each piece of content carries
    // constant gradient mass — the reweighting alternative to q38's
    // hard removal, over the same MinHash cluster machinery.
    QuerySpec("q181_softdedup_weights", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.softDedupWeights(docs,
        Dedup.minhashNearDup(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5),
        "doc_id").orderBy("doc_id")
    }),

    // Streaming ANN-index ingest: copy the STORED even-half base index
    // (one training, amortized — the fixture), stream the odd half in
    // as two micro-batches (encoded against the FROZEN centroids/
    // codebook, replay-safe appends), query the grown index —
    // bit-equal to q138's bulk append, so the same oracle adjudicates
    // the whole streamed lifecycle.
    QuerySpec("q182_stream_ann_ingest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.streaming.AnnIngest.twoRunIngestFromBase(s,
        storedAnnIndex(s, dir, "ivfpq_base"),
        emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3),
        s"${Sinks.scratch}/q182",
        emb.filter(col("vec_id") < 10), emb, k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("ann" -> "ivfpq_base")),

    // Language-ID evaluation: the documents table carries a TRUE lang
    // label, so the n-gram/function-word heuristic gets the same
    // acceptance discipline as the classifier (q180) and the ANN tier
    // (q155/q163) — a confusion matrix with per-true-language shares.
    // One scan, one (lang, pred)-keyed aggregation (≤ |langs|² rows),
    // the share window runs over that aggregated frame.
    QuerySpec("q183_langid_eval", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("lang"),
          TextFunctions.langId(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("lang")), 6))
        .orderBy("lang", "pred_lang")
    }),

    // Decontamination with a BLOOM-PRUNED gram join — bit-equal to the
    // exact q95 plan (no false negatives; false positives die in the
    // exact join), but corpus grams that miss the benchmark are dropped
    // MAP-SIDE before the exchange: the 100 TB decontamination shape.
    QuerySpec("q184_bloom_decontam", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminateBloomPruned(docs,
        docs.filter(col("doc_id") % 89 === 0),
        "doc_id", "text", n = 8).select("doc_id", "text").orderBy("doc_id")
    }),

    // BM25 top-k (Okapi): the production lexical ranker — tf saturation
    // (k1) + document-length prior (b), the two corrections the TF-IDF
    // leg of q126 lacks. Same scale shape as that leg: corpus tf table
    // built once, query vocabulary broadcast, only (query, candidate)
    // partials cross the exchange.
    QuerySpec("q185_bm25_topk", (s, dir) =>
      Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        nQueries = 10, k = 5).orderBy("query_id", "rank")),

    // Vocabulary-growth audit (Heaps' law): per id-range bucket, how
    // many word types debut there — the "is this source still yielding
    // new language" curve; one scan + one word-keyed min, cumulative
    // windows over the 10-row bucket frame only.
    QuerySpec("q186_vocab_growth", (s, dir) =>
      CorpusStats.vocabGrowth(Tables.documents(s, dir), "doc_id", "text",
        buckets = 10).orderBy("bucket")),

    // Calibration table of the stored classifier: score deciles vs
    // empirical positive rate — the reliability diagram a curator reads
    // before turning scores into a hard keep threshold (q180 says HOW
    // WELL it ranks; this says WHAT the scores mean).
    QuerySpec("q187_quality_calibration", (s, dir) => {
      val docs = Tables.documents(s, dir)
      QualityClassifier.calibrationFromModel(
        docs.filter(col("doc_id") % 3 =!= 0)
          .withColumn("label_good", col("lang") === "en"),
        storedQualityModel(s, dir), "doc_id", "text", "label_good",
        bins = 10).orderBy("bin")
    }, fixtures = Seq("qualitymodel" -> "nb")),

    // Effective dataset size under soft-dedup weights: per language,
    // raw vs weight-discounted doc/token volume — the redundancy gap
    // the q181 reweighting exists to control, and the per-language
    // budget input for a temperature mix over DEDUPLICATED mass.
    QuerySpec("q188_effective_size", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.effectiveCorpusSize(docs,
        Dedup.minhashNearDup(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5),
        "doc_id", "text", "lang").orderBy("lang")
    }),

    // Checksum-validated card scrub: each doc carries a Luhn-VALID
    // planted card and its check-digit-flipped twin — the scrubber must
    // redact exactly the valid one (regex-only scrubbing would take
    // both; 90% of random 16-digit strings are NOT cards). The oracle
    // replays the Luhn arithmetic, not the planted layout.
    QuerySpec("q189_card_scrub", (s, dir) => {
      val (valid, invalid) = Privacy.plantedCards(col("doc_id"))
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" card "), valid, lit(" ref "), invalid)
          .as("text"))
      Privacy.scrubCards(aug, "text").orderBy("doc_id")
    }),

    // Overlapping-window chunking — the RAG/embedding ingestion stage:
    // 32-token windows sliding by 24 (8-token overlap), offsets and
    // chunk ids pure arithmetic on the token count. Map-only; the row
    // multiplication IS the downstream embedder's input.
    QuerySpec("q190_chunking", (s, dir) =>
      Curation.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        windowTokens = 32, strideTokens = 24)
        .orderBy("doc_id", "chunk_id")),

    // Zipf rank-frequency fit over the top-100 word types: natural
    // language sits near slope -1; drift toward 0 is boilerplate
    // domination. Head selection is a deterministic take-ordered; the
    // regression runs on the <=100-row head frame.
    QuerySpec("q191_zipf_slope", (s, dir) =>
      CorpusStats.zipfSlope(Tables.documents(s, dir), "doc_id", "text",
        topK = 100)),

    // Gopher line-level structural gate: fold the corpus into 8-token
    // lines (boilerplate planted into every 5th doc — a repeated
    // header), then score duplicate-line and duplicate-char fractions
    // against the published thresholds. One explode + two-level agg.
    QuerySpec("q192_gopher_lines", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val folded = docs.select(col("doc_id"),
        CorpusStats.gopherLines(col("doc_id"), col("text"),
          lineLen = 8, plantMod = 5).as("text"))
      CorpusStats.gopherLineStats(folded, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Encoding-hygiene gate: detect double-encoding mojibake digraphs,
    // U+FFFD replacement chars, and bare C0 controls (planted on a 7/11/
    // 13 schedule so overlap docs carry several). Map-only codegen pass.
    QuerySpec("q193_mojibake_gate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.encodingAudit(
        docs.select(col("doc_id"),
          Curation.plantEncodingArtifacts(col("doc_id"), col("text"))
            .as("text")),
        "doc_id", "text").orderBy("doc_id")
    }),

    // SFT-transcript intake gate: each doc becomes a 4-message JSON
    // chat (role-order bug planted every 13th, truncated-empty turn
    // every 17th); from_json + array HOFs validate structure. Map-only.
    QuerySpec("q194_chat_validate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.ChatData.validateTranscripts(
        docs.select(col("doc_id"),
          graft.operators.ChatData.syntheticTranscript(
            col("doc_id"), col("text")).as("transcript")),
        "doc_id", "transcript").orderBy("doc_id")
    }),

    // URL canonicalization + canonical-key dup report: scheme/www/case/
    // slash/tracking-param/fragment noise collapsed by a pure regex
    // projection, then one hash agg on the canonical key (q22's plan).
    QuerySpec("q195_url_canonical", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.DomainCuration.canonicalUrlReport(
        docs.select(col("doc_id"),
          graft.operators.DomainCuration.syntheticUrl(
            col("doc_id"), col("source")).as("url")),
        "doc_id", "url").orderBy("canonical_url")
    }),

    // Dedup-method evaluation: per-method precision/recall/F1 against
    // exact n-gram Jaccard truth — the method-selection table; the
    // minhash row doubles as a band-scheme regression test (must equal
    // the truth set exactly).
    QuerySpec("q196_dedup_eval", (s, dir) =>
      Dedup.dedupMethodEval(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5).orderBy("method")),

    // HTML→text extraction: strip script/style/tags, decode entities in
    // contract order, squash whitespace — the raw-crawl intake stage.
    // Pure regex/replace projection chain, map-only.
    QuerySpec("q197_html_extract", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.WebText.extractText(
        docs.select(col("doc_id"),
          graft.operators.WebText.syntheticHtml(col("doc_id"), col("text"))
            .as("html")),
        "doc_id", "html").orderBy("doc_id")
    }),

    // CCNet cross-doc line dedup: line-df excision of boilerplate that
    // appears once per document across many documents (planted every
    // 3rd doc). Lines shuffle as md5 keys; order-preserving reassembly.
    QuerySpec("q198_line_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropBoilerplateLines(
        docs.select(col("doc_id"),
          Dedup.plantBoilerplate(col("doc_id"), col("text"),
            lineLen = 8, mod = 3).as("text")),
        "doc_id", "text", minDf = 10).orderBy("doc_id")
    }),

    // Context-window fit: per candidate sequence length, docs that fit,
    // docs chunking must split, and the token mass truncate-at-L would
    // discard. One scan × broadcast windows list; windows-sized output.
    QuerySpec("q199_context_fit", (s, dir) =>
      Curation.contextFitReport(Tables.documents(s, dir), "text",
        windows = Seq(16, 32, 64)).orderBy("window")),

    // License-aware curation: broadcast provenance dim → per-license
    // compliance rollup (sources, docs, token mass, usable flag).
    QuerySpec("q200_license_audit", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.DomainCuration.licenseAudit(docs,
        graft.operators.DomainCuration.syntheticLicenses(docs, "source"),
        "source", "text").orderBy("license")
    }),

    // Data-mixture plan: per-language sampling rates/epochs against a
    // token budget and target proportions; 'ja' has a target but no
    // data — the plan must fail loudly on it, not renormalize silently.
    QuerySpec("q201_mixture_plan", (s, dir) =>
      graft.operators.Selection.mixturePlan(Tables.documents(s, dir),
        "lang", "text", targets = MixtureTargets, budget = 40000L,
        maxEpochs = 4).orderBy("lang")),

    // Embedding intake QA: wrong-dim / NaN / zero-norm counts + the
    // healthy norm distribution (corruption planted on 31/41/53).
    QuerySpec("q202_embedding_qa", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.embeddingQa(
        emb.select(col("vec_id"),
          Similarity.plantBadVectors(col("vec_id"), col("embedding"),
            Similarity.Dim).as("embedding")),
        "embedding", expectedDim = Similarity.Dim)
    }),

    // Character-entropy gate: Shannon entropy of the per-doc char
    // distribution flags key-mash/padding/base64 degeneracy (planted
    // every 23rd doc). Exact-decimal Σ; ln the only float op.
    QuerySpec("q203_char_entropy", (s, dir) => {
      val docs = Tables.documents(s, dir)
      CorpusStats.charEntropy(
        docs.select(col("doc_id"),
          CorpusStats.plantDegenerateText(col("doc_id"), col("text"))
            .as("text")),
        "doc_id", "text", minEntropy = 2.0).orderBy("doc_id")
    }),

    // Streaming chat intake: the q194 gate in deployment shape — each
    // micro-batch validated, routed to accepted/quarantine sinks with
    // first-fail reasons, idempotent per batch id. Two-run demo; the
    // report rolls up both sinks per (batch, reason).
    QuerySpec("q204_stream_chat_intake", (s, dir) => {
      val t = Tables.documents(s, dir).select(col("doc_id"),
        graft.operators.ChatData.syntheticTranscript(
          col("doc_id"), col("text")).as("transcript"))
      graft.streaming.ChatIntake.twoRunIntake(s,
        t.filter(col("doc_id") % 2 === 1),
        t.filter(col("doc_id") % 2 === 0),
        s"${graft.engine.Sinks.scratch}/q204_chat_intake")
        .orderBy("batch_id", "reason")
    }),

    // Keyword safety gate with category attribution (C4 badwords
    // stage): native marker kernels, map-only; planted on 19/29.
    QuerySpec("q206_safety_gate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.safetyGate(
        docs.select(col("doc_id"),
          Curation.plantSafetyTerms(col("doc_id"), col("text")).as("text")),
        "doc_id", "text").orderBy("doc_id")
    }),

    // Dataset card: the one-artifact corpus summary a release ships
    // with (volumes, lang mix, dup/PII/safety rates, quality) — one
    // scan, two bounded consumers, (metric, value) rows.
    QuerySpec("q208_dataset_card", (s, dir) =>
      Curation.datasetCard(Tables.documents(s, dir), "text", "lang")
        .orderBy("metric")),

    // Line-dedup from PERSISTED reference state: new batches cleansed
    // against the stored boilerplate line frequencies (build + tagged
    // append untimed via the linedf fixture), q148/q162 lifecycle.
    QuerySpec("q207_line_df_stored", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), Dedup.plantBoilerplate(col("doc_id"),
          col("text"), lineLen = 8, mod = 2).as("text"))
      Dedup.dropBoilerplateFromIndex(batch,
        storedDedupIndex(s, dir, "linedf"),
        "doc_id", "text", minDf = 5).orderBy("doc_id")
    }, fixtures = Seq("dedup" -> "linedf")),

    // nDCG of the IVF ranking vs the exact one (graded gains = exact
    // cosines) — completes the ANN eval triple beside q155/q163.
    QuerySpec("q205_ann_ndcg", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val cents = graft.operators.Clustering.kmeansCentroids(
        emb, "vec_id", "embedding", initStride = 53, iters = 2)
      Similarity.ndcgAtK(
        Similarity.bruteForceTopK(qs, emb, k = 5),
        Similarity.ivfTopKWith(qs, emb, k = 5, cents, nProbe = 3))
        .orderBy("query_id")
    }),

    // The end-to-end curation DAG as ONE registered query: raw HTML
    // pages → extract (q197) → NFC (q179) → gate funnel (q193/q206/
    // q203/q165) → exact near-dup clusters (q43/q37/q38) → quality
    // classifier (q168) → token budget (q40) → packing (q71) → dataset
    // card (q208), reported as a single (metric, value) table. The
    // oracle replays the SAME DAG composed from each stage's own
    // from-parameterized SQL twin — see graft.operators.Pipeline.
    QuerySpec("q209_full_pipeline", (s, dir) =>
      graft.operators.Pipeline.fullCuration(Tables.documents(s, dir))
        .orderBy("metric")),

    // Fixed-vs-adaptive IVF probing (the Faiss-style spill-until-k
    // rule): one row per method with total probes + mean/min recall@50
    // on the q155 fixture, where k exceeds the sparse cells' population
    // — fixed-1 is structurally under-filled there (recall floor
    // capped at |cell|/k), adaptive spills exactly where needed and
    // stays under fixed-2's probe budget. Oracle replays the cell
    // ranking, the spill rule, and the recall aggregation.
    QuerySpec("q210_adaptive_probe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val cents = graft.operators.Clustering.kmeansCentroids(
        emb, "vec_id", "embedding", initStride = 53, iters = 2)
      Similarity.probeRecallReport(qs, emb, k = 50, cents,
        fixed = Seq(1, 2), maxProbe = 4).orderBy("method")
    }),

    // The adaptive rule on the STORED IVF-PQ index (q136's fixture):
    // probe depth comes from the stored cell populations, capped at
    // maxProbe — the production knob for the persisted path. Oracle =
    // the same train-inline replay as q136 with the spill rule
    // substituted for the fixed probe.
    QuerySpec("q211_ivfpq_adaptive", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKFromIndexAdaptive(emb.filter(col("vec_id") < 10),
        emb, storedAnnIndex(s, dir, "ivfpq"), k = 5, maxProbe = 3)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("ann" -> "ivfpq")),

    // The stop-shingle cost model as data: per df class, its posting
    // pair work and the running total against the budget — the table
    // autoMaxDf reads its cutoff from (replacing q23/q43/q151's magic
    // maxDf = 100 with a derived knee). DedupSpec pins that the tuned
    // cutoff reproduces the fixed-value pair population here.
    QuerySpec("q212_maxdf_autotune", (s, dir) =>
      Dedup.maxDfTuningTable(Tables.documents(s, dir), "doc_id", "text",
        n = 3, pairBudget = 10000000L).orderBy("df")),

    // The q121-convexity fix, registered: IVF whose init stride is
    // CAPACITY-DERIVED (cells ≈ 64 at any corpus size), so k-means
    // training is O(n·cells) — linear — where the fixture-stride
    // trainers (q28/q121: cells = n/53) are structurally n²/stride
    // (the one convex curve the ×100 probe found). Same query path as
    // q28; the oracle derives the identical stride with a scalar
    // subquery.
    QuerySpec("q213_ivf_fixed_cells", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val stride = graft.operators.Clustering.strideForCells(
        emb, "vec_id", targetCells = 64)
      val cents = graft.operators.Clustering.kmeansCentroids(
        emb, "vec_id", "embedding", initStride = stride, iters = 2)
      Similarity.ivfTopKWith(emb.filter(col("vec_id") < 10), emb, k = 5,
        cents, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    // INCREMENTAL curation (q209's daily-loop twin): one NEW batch
    // (doc_id % 3 <> 0, in the q207 folded/planted harness shape)
    // processed end-to-end against the STORED artifacts — line-df
    // index (q207), MinHash reference index (q148), NB quality model
    // (q169), frozen BPE tokenizer (q150) — plus the batch-local
    // select/pack/card tail. Zero history recompute; the oracle
    // re-derives every stored artifact from the reference slice (the
    // q148/q169/q207 convention). PipelineSpec asserts the stored-
    // reference stage rows are ADDITIVE across batches.
    QuerySpec("q214_incremental_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          Dedup.plantBoilerplate(col("doc_id"), col("text"),
            lineLen = 8, mod = 2).as("text"))
      graft.operators.Pipeline.incrementalCuration(batch,
        storedDedupIndex(s, dir, "linedf"),
        storedDedupIndex(s, dir, "minhash"),
        storedQualityModel(s, dir),
        storedBpeModel(s, dir))
        .orderBy("metric")
    }, fixtures = pipelineFixtures),

    // The LSH sizing derivation as data (the q212 pattern applied to
    // the last magic constants in the dedup family): per candidate
    // rows-per-band, the knee-bounded and recall-floored band window,
    // the chosen row, and the S-curve detection probabilities. At the
    // canonical gate (t=0.5, s*=0.9, floor 1-1e-6) the chosen row IS
    // the historical 16x4 = 64-hash scheme — now computed, not carried
    // (DedupSpec pins it; every MinHash default reads from it).
    QuerySpec("q215_lsh_sizing", (s, dir) =>
      Dedup.lshSizingTable(s).orderBy("rows_per_band")),

    // BM25 from the PERSISTED postings index (q185's stored twin —
    // the last retrieval structure to get the build/append/query
    // lifecycle): postings/df/dl/avgdl stored once as additive
    // segment partials (build evens + append odds, untimed fixture),
    // the query path tokenizes only the 10 query docs and pays
    // O(query-term postings). Bit-equal to the inline q185, so ONE
    // oracle adjudicates both paths.
    QuerySpec("q216_bm25_stored", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Retrieval.bm25TopKFromIndex(
        docs.filter(col("doc_id") < 10),
        storedDedupIndex(s, dir, "bm25"), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("dedup" -> "bm25")),

    // Incremental SimHash dedup from PERSISTED reference state — the
    // third near-dup notion gets the q148/q149 lifecycle (MinHash:
    // shingle overlap; pHash: pixels; SimHash: weighted token-profile
    // distance): reference signatures stored once (build evens +
    // append odds of the reference slice), today's batch signed and
    // band-joined against the store. Oracle = the exhaustive cross
    // form of q25's twin (stored state must be bit-invisible).
    QuerySpec("q217_simhash_stored", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.simhashNearDupFromIndex(
        docs.filter(col("doc_id") % 3 =!= 0),
        storedDedupIndex(s, dir, "simhash"), "doc_id", "text")
        .orderBy("new_id", "ref_id")
    }, fixtures = Seq("dedup" -> "simhash")),

    // TIME TRAVEL over a stored index (the Delta/Iceberg VERSION AS OF
    // read, free under the manifest protocol because every kept
    // version is a complete immutable snapshot): the same q148 batch
    // queried against VERSION 1 of the MinHash index — the pre-append
    // build-evens state — answers "what would yesterday's index have
    // said?" for audits and reproductions. Oracle = the exhaustive
    // cross-Jaccard truth restricted to the ref subset version 1 held.
    QuerySpec("q218_index_time_travel", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = storedDedupIndex(s, dir, "minhash")
      // Pin = the EARLIEST still-published version, not a hard-coded
      // number: the fixture's RETENTION pin keeps the build-evens
      // commit (v1) alive, and a wiped-and-rebuilt fixture always
      // numbers it 1 — but resolving it by position means one extra
      // commit can never silently shift which snapshot this query
      // reads (the oracle is the evens-only truth; ManifestsSpec pins
      // earliest == build-evens across a 3-commit store).
      Dedup.minhashNearDupFromIndex(
        docs.filter(col("doc_id") % 3 =!= 0), idx,
        "doc_id", "text", threshold = 0.5,
        atVersion = graft.engine.Manifests.earliestVersion(s, idx))
        .orderBy("new_id", "ref_id")
    }, fixtures = Seq("dedup" -> "minhash")),

    // COMMIT HISTORY of a stored index — the DESCRIBE HISTORY companion
    // to q218's VERSION AS OF: one row per (kept version, table) with
    // the commit tag and the commit's own contribution, row counts
    // derived on demand from the immutable segments (publish pays
    // nothing; counts can't drift from data). Oracle = the fixture's
    // two-commit contract reconciled against counts re-derived from
    // `documents` (the q148 convention): v1 "build" staged the evens
    // of the reference third (1 param row, |evens| shingle-set rows,
    // 32·|evens| band rows), v2 "append" staged the odds and carried
    // params forward untouched.
    QuerySpec("q219_index_history", (s, dir) =>
      graft.engine.Manifests.history(s, storedDedupIndex(s, dir, "minhash"))
        .orderBy("version", "table"), fixtures = Seq("dedup" -> "minhash")),

    // PIPELINE-LEVEL time travel (q218's VERSION AS OF lifted to the
    // whole daily loop): the q214 batch re-run with EVERY stored
    // artifact pinned at its EARLIEST still-published version — the
    // auditor's "reproduce the first day's run exactly". For the
    // line-df and MinHash stores that is the build-evens commit
    // (retention-pinned, the q218 contract); the model and tokenizer
    // stores have one commit, so their pins resolve to the same state
    // the live run reads — which is the point: the pin is a RESOLVED
    // version, not special-cased code. Oracle = the q214 chain with
    // the stored-reference predicate narrowed to the evens slice.
    QuerySpec("q220_pipeline_as_of", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          Dedup.plantBoilerplate(col("doc_id"), col("text"),
            lineLen = 8, mod = 2).as("text"))
      val lineIdx = storedDedupIndex(s, dir, "linedf")
      val mhIdx = storedDedupIndex(s, dir, "minhash")
      val qm = storedQualityModel(s, dir)
      val bpe = storedBpeModel(s, dir)
      graft.operators.Pipeline.incrementalCuration(batch,
        lineIdx, mhIdx, qm, bpe,
        asOf = graft.operators.Pipeline.AsOfVersions(
          lineIdx = graft.engine.Manifests.earliestVersion(s, lineIdx),
          minhashIdx = graft.engine.Manifests.earliestVersion(s, mhIdx),
          qualityModel = graft.engine.Manifests.earliestVersion(s, qm),
          bpeModel = graft.engine.Manifests.earliestVersion(s, bpe)))
        .orderBy("metric")
    }, fixtures = pipelineFixtures),

    // ROLLBACK / RESTORE (Delta's RESTORE ... VERSION AS OF, zero-copy
    // under the manifest layout — the restore manifest lists the old
    // segments, no data moves): the fixture builds evens, appends a
    // "bad" odds batch, then restores version 1; the LIVE read must
    // answer with the build-evens state. The oracle is the evens-only
    // exhaustive truth — an un-restored live (evens+odds) answer
    // hash-mismatches, so the restore is adjudicated, not assumed.
    QuerySpec("q221_index_rollback", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashNearDupFromIndex(
        docs.filter(col("doc_id") % 3 =!= 0),
        storedDedupIndex(s, dir, "minhash_rb"),
        "doc_id", "text", threshold = 0.5)
        .orderBy("new_id", "ref_id")
    }, fixtures = Seq("dedup" -> "minhash_rb")),

    // CLONE / EXPORT (the lifecycle family's last verb: time travel
    // q218, history q219, restore q221, now branch-to-a-fresh-store):
    // the live minhash index exported as an INDEPENDENT artifact —
    // copied data files, fresh version 1, own retention and GC. The
    // query reads the clone and must reproduce the source's full
    // truth set (q148's oracle), adjudicating the copied snapshot's
    // fidelity table by table.
    QuerySpec("q222_index_clone", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashNearDupFromIndex(
        docs.filter(col("doc_id") % 3 =!= 0),
        storedDedupIndex(s, dir, "minhash_clone"),
        "doc_id", "text", threshold = 0.5)
        .orderBy("new_id", "ref_id")
    }, fixtures = Seq("dedup" -> "minhash_clone")),

    // PARTITIONED-postings BM25 (q216's 100 TB layout twin): the
    // stored postings nest under wb= term-bucket partition
    // directories (the layout recorded as commit metadata), and the
    // query path prunes the scan to the buckets its own terms hash
    // into — directory-level pruning before any file opens, on top
    // of the row-group stats the flat layout gets. Same corpus and
    // parameters as q216, SAME oracle: a layout that changed one
    // score or rank would hash-mismatch, adjudicating that
    // partitioning is answer-invisible.
    QuerySpec("q223_bm25_partitioned", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Retrieval.bm25TopKFromIndex(
        docs.filter(col("doc_id") < 10),
        storedDedupIndex(s, dir, "bm25p"), "doc_id", "text", k = 5)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("dedup" -> "bm25p")),

    // VERSION AS OF on the streaming upsert table — the unification
    // dividend made queryable: the q123 MERGE sink now commits
    // through the shared manifest protocol, so batch boundaries are
    // first-class versions and "the maintained state as of batch 1"
    // is a plain pinned read, no sink-specific machinery. The store
    // keeps two versions (publish's default), so the earliest kept
    // one IS the post-batch-1 state; oracle = newest-per-key over the
    // batch-1 slice alone (a live read — or a pin that leaked batch 2
    // — would carry the upper half's rows and hash-mismatch).
    QuerySpec("q224_upsert_time_travel", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
      val range = ev.agg(min(col("event_id")), max(col("event_id"))).head()
      val mid = range.getLong(0) + (range.getLong(1) - range.getLong(0)) / 2
      val table = graft.streaming.EventStream.runUpsertBatches(s,
        Seq(ev.filter(col("event_id") <= mid),
          ev.filter(col("event_id") > mid)),
        s"${Sinks.scratch}/q224", "user_id", "event_id")
      graft.streaming.EventStream.readUpsertTableAt(s, table,
        graft.engine.Manifests.earliestVersion(s, table))
        .orderBy("user_id")
    }),

    // RUN-LEVEL time travel (the production spelling of q220): the
    // q214 batch reproduced from a RECORDED RUN — the "day 1" ledger
    // commit pins the version every stored artifact was read at, as
    // one unit, so the reproduction is a single `asOfFromRun` lookup
    // instead of four hand-resolved version pins (which is q220's
    // shape, kept registered as the mechanism-level form). The ledger
    // is itself a manifest store: atomic commit AFTER the run's work,
    // so a crashed run is never resolvable. Same pins, same oracle as
    // q220: the evens-narrowed stored-reference chain.
    QuerySpec("q225_run_ledger_replay", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          Dedup.plantBoilerplate(col("doc_id"), col("text"),
            lineLen = 8, mod = 2).as("text"))
      val ledger = SparkEntry.storedRunLedger(s, dir)
      graft.operators.Pipeline.incrementalCuration(batch,
        storedDedupIndex(s, dir, "linedf"),
        storedDedupIndex(s, dir, "minhash"),
        storedQualityModel(s, dir),
        storedBpeModel(s, dir),
        asOf = graft.operators.Pipeline.asOfFromRun(s, ledger, "day1"))
        .orderBy("metric")
    }, fixtures = pipelineFixtures :+ ("runledger" -> "day1")),

    // CLONE LINEAGE (the audit tail of the lifecycle family): "where
    // did this exported index come from" as a queryable relation —
    // clone commits carry their source store and version as manifest
    // metadata, surfaced by Manifests.lineage (composes with q219's
    // history on `version`). The q222 clone fixture must show exactly
    // one commit, tagged clone_v2, taken at source version 2 (the
    // live build+append state) — a clone that lost or mislabeled its
    // provenance hash-mismatches. src_store is a scratch path
    // (machine-local), so the registered projection carries the
    // version columns the oracle can pin.
    QuerySpec("q226_clone_lineage", (s, dir) => {
      val idx = storedDedupIndex(s, dir, "minhash_clone")
      graft.engine.Manifests.lineage(s, idx)
        .select(col("version"), col("tag"), col("src_version"))
        .orderBy("version")
    }, fixtures = Seq("dedup" -> "minhash_clone")),

    // The partitioned-postings bucket derivation AS DATA (the q215
    // sizing-table shape applied to the new layout's one knob): the
    // corpus's own posting-row count chooses the bucket count for a
    // target bucket size, floored at 1 and capped at 4096, in exact
    // integer arithmetic the oracle replays bit-for-bit. The 64 KiB
    // target is the TEST-SCALE target (it lands the sf0.01 corpus at
    // the q223 fixture's 8 buckets — the fixture constant IS this
    // derivation's value); production stores use the 256 MiB default.
    QuerySpec("q227_bm25_bucket_sizing", (s, dir) =>
      Retrieval.bucketsSizingTable(Tables.documents(s, dir),
        "doc_id", "text", targetBucketBytes = 64L << 10))
  )
}
