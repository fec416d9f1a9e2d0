package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Aggregates, Cleaning, Dashboard, Ingest, Joins, Sinks, StarSchema, Tables}
import graft.functions.{TextFunctions, WeightedMean}
import graft.operators.{CorpusStats, Curation, Dedup, EventAnalytics, Merge, Multimodal, Privacy, QualityClassifier, QualityReport, Retrieval, Sampling, Similarity}
import graft.sources.Jdbc
import graft.streaming.EventStream

/** One registered query: its name, the DataFrame it builds from a
  * session and a data dir, its bench budget tier and the `(family,
  * kind)` stored fixtures its timed body reads, which
  * [[SparkEntry.warmFixtures]] builds outside the timed window. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    tier: QuerySpec.Tier = QuerySpec.Extension,
    fixtures: Seq[(String, String)] = Nil)

object QuerySpec {
  /** Budget tier (BASELINE.md "Per-tier bench budgets"): core = the
    * reference dashboard's own workload (q01–q21), ingest_sink =
    * file/JDBC round trips dominated by IO engines
    * (parquet/CSV/ORC/JSONL/Derby), extension = everything the engine
    * adds beyond the reference (dedup, ANN, curation, streaming, …). */
  sealed abstract class Tier(val name: String)
  case object Core extends Tier("core")
  case object IngestSink extends Tier("ingest_sink")
  case object Extension extends Tier("extension")
}

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each with an equivalent DuckDB oracle SQL.
  *
  * Determinism rules applied uniformly (so the driver's hash compare is
  * meaningful): every query ends in an explicit ORDER BY over non-null
  * keys; every floating SUM/AVG uses the exact-decimal construction
  * (Aggregates.sumExact and its SQL twin); DuckDB HUGEINT sums are cast
  * back to BIGINT to match Spark's long.
  */
object SparkEntry {
  import QuerySpec.{Core, IngestSink}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.airlineMonthlyPerformance(
      StarSchema.wideView(spark, "/root/testdata/sf0.001"))

  private def wide(s: SparkSession, dir: String): DataFrame =
    StarSchema.wideView(s, dir)

  /** Stored-bytes media fixture for the decode queries (q30/q118/q125):
    * encoded once into scratch parquet keyed by the doc-id fingerprint,
    * read back on every later call — the timed queries measure DECODE
    * over stored bytes (what a real corpus scan pays), not fixture
    * encode. [[warmFixtures]] forces the build outside the bench's
    * timed window; q130 keeps its own per-file write because the write
    * IS what that ingest query times. */
  private def mediaFixture(s: SparkSession, dir: String, kind: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    val docs = Tables.documents(s, dir)
    val root = s"${Sinks.scratch}/media_fixtures"
    // memoKey = the source data dir: repeat calls in one JVM skip the
    // fingerprint aggregate entirely, keeping fixture plumbing out of
    // the benchmark-timed window.
    kind match {
      case "png" => Multimodal.materializedMedia(s, docs, root, "png",
        d => Multimodal.pngMediaFromDocuments(s, d), Some(dir))
      case "wav" => Multimodal.materializedMedia(s, docs, root, "wav",
        d => Multimodal.wavMediaFromDocuments(s, d), Some(dir))
      case "gif" => Multimodal.materializedMedia(s, docs, root, "gif",
        d => Multimodal.gifMediaFromDocuments(s, d), Some(dir))
      case other => sys.error(s"unknown media fixture kind '$other'")
    }
  }

  /** Persisted ANN index dir for `dir`'s embeddings corpus, keyed by
    * the vec_id fingerprint (the mediaFixture scheme: training is a
    * pure function of the id'd corpus, so count+max fully key the
    * artifact). Builds once — a completed index (marker present) is
    * reused, which is the whole point: q135/q136 time the QUERY path
    * over stored state, the way a production deployment amortizes one
    * training over every query. Build parameters mirror the q117/q121
    * inline twins so results are bit-equal. */
  private[graft] def storedAnnIndex(s: SparkSession, dir: String,
      kind: String): String = {
    val emb = Tables.embeddings(s, dir)
    // The *_grown kinds exercise index MAINTENANCE: train/build on the
    // even half only, then append the odd half encoded against the
    // frozen codebook/centroids — the daily-ingest shape. Gating is
    // Fixtures.ensure's OWN completion marker, committed only after the
    // whole build(+append) sequence returns: Similarity's per-index
    // marker is true between build and append (review finding — a crash
    // in that window must rebuild, not serve an evens-only index as
    // complete), so it cannot be the fixture gate.
    lazy val evens = emb.filter(col("vec_id") % 2 === 0)
    lazy val odds = emb.filter(col("vec_id") % 2 === 1)
    // contentSig: the index depends on embedding VALUES, not just the
    // vec_id set — fold a cheap exact checksum into the fixture key so
    // regenerated testdata with the same ids but different vectors
    // rebuilds instead of serving a stale index against a fresh-data
    // oracle. The signature covers the FULL vector (per-row xxhash64 of
    // every component's decimal rendering, order-sensitive), not just
    // component 1 — data differing only in components 2..n must miss
    // too (review finding). contentSig also disables the Fixtures memo,
    // so the probe re-runs per call; it is one small aggregate over the
    // embeddings table.
    graft.engine.Fixtures.ensure(s, emb, "vec_id",
      s"${Sinks.scratch}/ann_index", s"${kind}_mf1", Some(dir),
      contentSig = Some(pmod(
        xxhash64(concat_ws(",", col("embedding").cast("array<string>"))),
        lit(1000000007L)))) { idx =>
      kind match {
        case "pq" => Similarity.buildPqIndex(emb, idx,
          m = 16, subDim = 4, initStride = 3, iters = 1)
        case "ivfpq" => Similarity.buildIvfPqIndex(emb, idx,
          cellStride = 53, cellIters = 1,
          m = 16, subDim = 4, pqStride = 3, pqIters = 1)
        // Evens-only base for the STREAMING ingest demo (q182): the
        // immutable starting point each run copies into scratch before
        // streaming the odd half in — so the timed path is the streamed
        // lifecycle, not a re-training of this base every run.
        case "ivfpq_base" => Similarity.buildIvfPqIndex(evens, idx,
          cellStride = 53, cellIters = 1,
          m = 16, subDim = 4, pqStride = 3, pqIters = 1)
        case "pq_grown" =>
          Similarity.buildPqIndex(evens, idx,
            m = 16, subDim = 4, initStride = 3, iters = 1)
          Similarity.appendToPqIndex(odds, idx)
        case "ivfpq_grown" =>
          Similarity.buildIvfPqIndex(evens, idx,
            cellStride = 53, cellIters = 1,
            m = 16, subDim = 4, pqStride = 3, pqIters = 1)
          Similarity.appendToIvfPqIndex(odds, idx)
        case other => sys.error(s"unknown ANN index kind '$other'")
      }
    }
  }

  /** Persisted dedup-state dir for `dir`'s corpus — the reference side
    * of incremental dedup stored once, the q135-q138 lifecycle applied
    * to the dedup family (round-12 verdict #1). Both kinds build on the
    * EVEN-id half of the reference corpus and append the odd half
    * encoded/hashed separately, so the registered queries exercise
    * index MAINTENANCE (the daily-ingest shape) under the oracle gate,
    * exactly like the *_grown ANN kinds; gating is Fixtures.ensure's
    * own completion marker, committed only after build+append returned
    * (the per-index marker is true between the two — same crash-window
    * argument as [[storedAnnIndex]]).
    *
    *  - `minhash`: the q98 reference slice's shingles + LSH bands
    *    (content-keyed: the tables are functions of the TEXT, so the
    *    signature hashes every ref document's text);
    *  - `phash`: the q144 reference corpus's perceptual hashes
    *    (pure function of the doc-id set — the textured corpus is
    *    synthesized from ids — so no content signature, like the
    *    media fixtures). */
  private[graft] def storedDedupIndex(s: SparkSession, dir: String,
      kind: String): String = {
    val docs = Tables.documents(s, dir)
    kind match {
      case "minhash" =>
        val ref = docs.filter(col("doc_id") % 3 === 0)
        // Fixture key carries a layout version: mf2 = tagged manifests
        // + store-level RETENTION pin (a pre-tag scratch dir must miss,
        // not serve — q219 asserts the commit tags).
        graft.engine.Fixtures.ensure(s, ref, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf2", Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          // q218 CONTRACT: version 1 (the build-evens commit) must stay
          // published — its oracle is the evens-only truth. The store-
          // level retention pin protects it from ANY future commit to
          // this fixture (a new appending query, a compaction round),
          // which would otherwise GC v1 under publish's default keep=2.
          graft.engine.Manifests.setRetention(s, idx, keepVersions = 8)
          // q98's exact LSH family: 32 bands × 2 rows (see the q98
          // registration comment for the recall arithmetic).
          Dedup.buildMinhashIndex(ref.filter(col("doc_id") % 2 === 0),
            idx, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
          Dedup.appendToMinhashIndex(ref.filter(col("doc_id") % 2 === 1),
            idx, "doc_id", "text")
        }
      case "minhash_clone" =>
        // The CLONE lifecycle fixture (q222): the live minhash index
        // exported as an independent store — the clone must answer
        // exactly like its source (q148's oracle adjudicates the
        // copied snapshot's fidelity).
        val ref = docs.filter(col("doc_id") % 3 === 0)
        // The clone's key folds in the SOURCE fixture's layout token
        // (src-mf2): bumping the minhash key rebuilds the source, and
        // this key must miss with it — otherwise q222 would keep
        // serving a clone of the retired layout (review finding).
        // _v2: clone commits now carry provenance metadata (q226
        // reads it), so a pre-provenance cached clone must miss.
        graft.engine.Fixtures.ensure(s, ref, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_src-mf2_v2",
          Some(dir), contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          graft.engine.Manifests.cloneSnapshot(s,
            storedDedupIndex(s, dir, "minhash"), idx)
          ()
        }
      case "minhash_rb" =>
        // The ROLLBACK lifecycle fixture (q221): build evens, append
        // odds (the "bad batch" to be rolled back), RESTORE version 1
        // — the live index must answer with the build-evens state,
        // which is what distinguishes a real restore from a no-op
        // (the odds-inclusive live answer would hash-mismatch).
        val ref = docs.filter(col("doc_id") % 3 === 0)
        graft.engine.Fixtures.ensure(s, ref, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf1", Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          graft.engine.Manifests.setRetention(s, idx, keepVersions = 8)
          Dedup.buildMinhashIndex(ref.filter(col("doc_id") % 2 === 0),
            idx, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
          Dedup.appendToMinhashIndex(ref.filter(col("doc_id") % 2 === 1),
            idx, "doc_id", "text")
          graft.engine.Manifests.rollback(s, idx, 1L)
          ()
        }
      case "phash" =>
        graft.engine.Fixtures.ensure(s, docs, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf1", Some(dir)) { idx =>
          val refHs = graft.engine.Caches.materialized(
            graft.operators.ImageDedup.phashImages(s,
                graft.operators.ImageDedup.texturedBases(s, docs)).toDF()
              .filter(col("phash").isNotNull)
              .select(col("img_id"), col("phash")))
          graft.operators.ImageDedup.buildPhashIndex(
            refHs.filter(col("img_id") % 2 === 0), idx)
          graft.operators.ImageDedup.appendToPhashIndex(
            refHs.filter(col("img_id") % 2 === 1), idx)
        }
      case "simhash" =>
        val ref = docs.filter(col("doc_id") % 3 === 0)
        graft.engine.Fixtures.ensure(s, ref, "doc_id",
          s"${Sinks.scratch}/dedup_index", kind, Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          Dedup.buildSimhashIndex(ref.filter(col("doc_id") % 2 === 0),
            idx, "doc_id", "text")
          Dedup.appendToSimhashIndex(ref.filter(col("doc_id") % 2 === 1),
            idx, "doc_id", "text")
        }
      case "bm25" =>
        // Full corpus (queries self-excluded at query time, like the
        // inline q185); build evens + append odds — the maintenance
        // path under the oracle gate, the q148 lifecycle shape.
        graft.engine.Fixtures.ensure(s, docs, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf2", Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          graft.operators.Retrieval.buildBm25Index(
            docs.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text")
          graft.operators.Retrieval.appendToBm25Index(
            docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text")
        }
      case "bm25p" =>
        // The PARTITIONED-postings twin of the bm25 fixture (q223):
        // same build-evens + append-odds lifecycle, postings nested
        // under wb= term-bucket directories — the 100 TB layout whose
        // query path prunes whole buckets. Same corpus, same oracle
        // as q216: the layout must be answer-invisible. 8 buckets IS
        // the q227 derivation's value for this corpus at the 64 KiB
        // test-scale target (`Retrieval.bucketsForPostings`) — the
        // constant is pinned to the derivation by the registered
        // sizing query, not carried blind.
        graft.engine.Fixtures.ensure(s, docs, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf1", Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          graft.operators.Retrieval.buildBm25Index(
            docs.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text",
            postingsBuckets = Some(8))
          graft.operators.Retrieval.appendToBm25Index(
            docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text")
        }
      case "evalgrams" =>
        val ref = docs.filter(col("doc_id") % 3 === 0)
        graft.engine.Fixtures.ensure(s, ref, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf1", Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          Dedup.buildGramIndex(ref.filter(col("doc_id") % 2 === 0),
            idx, "doc_id", "text", k = 24)
          Dedup.appendToGramIndex(ref.filter(col("doc_id") % 2 === 1),
            idx, "doc_id", "text")
        }
      case "linedf" =>
        // Folded lines with the boilerplate planted on even ids — the
        // q198 corpus shape; build/append split by id parity within
        // the reference third.
        val ref = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), Dedup.plantBoilerplate(col("doc_id"),
            col("text"), lineLen = 8, mod = 2).as("text"))
        graft.engine.Fixtures.ensure(s, ref, "doc_id",
          s"${Sinks.scratch}/dedup_index", s"${kind}_mf2", Some(dir),
          contentSig = Some(pmod(xxhash64(col("text")),
            lit(1000000007L)))) { idx =>
          // q220 CONTRACT (the q218 pattern): version 1 — the
          // build-evens partials — must stay published; its oracle
          // re-derives the v1 df from the evens slice.
          graft.engine.Manifests.setRetention(s, idx, keepVersions = 8)
          Dedup.buildLineIndex(ref.filter(col("doc_id") % 2 === 0),
            idx, "doc_id", "text")
          Dedup.appendToLineIndex(ref.filter(col("doc_id") % 2 === 1),
            idx, "doc_id", "text", batchTag = "b1")
        }
      case other => sys.error(s"unknown dedup index kind '$other'")
    }
  }

  /** The "day 1" run ledger for `dir`'s corpus (q225): one recorded
    * run pinning the EARLIEST kept version of all four daily-loop
    * stores — exactly the versions q220 resolves by hand (v1 = the
    * build-evens commits, retention-pinned alive), recorded as ONE
    * unit so the reproduction is a single ledger lookup. Content-keyed
    * like the stores themselves: a regenerated corpus rebuilds the
    * stores (versions restart at 1 via the Fixtures wipe), and the
    * ledger must rebuild with them rather than serve stale pins. */
  private[graft] def storedRunLedger(s: SparkSession, dir: String): String = {
    val ref = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
    graft.engine.Fixtures.ensure(s, ref, "doc_id",
      s"${Sinks.scratch}/run_ledger", "day1_v1", Some(dir),
      contentSig = Some(pmod(xxhash64(col("text")), lit(1000000007L)))) { led =>
      import graft.operators.Pipeline.RunStores
      val pins = Seq(
        (RunStores.LineDf, storedDedupIndex(s, dir, "linedf")),
        (RunStores.Minhash, storedDedupIndex(s, dir, "minhash")),
        (RunStores.QualityModel, storedQualityModel(s, dir)),
        (RunStores.BpeModel, storedBpeModel(s, dir))).map { case (k, d) =>
        graft.engine.RunLedger.Pin(k, d,
          graft.engine.Manifests.earliestVersion(s, d).getOrElse(
            sys.error(s"store '$k' at $d has no published version")))
      }
      graft.engine.RunLedger.commit(s, led, "day1", pins)
      ()
    }
  }

  /** Persisted BPE tokenizer model for `dir`'s corpus: trained ONCE on
    * the reference slice (doc_id % 3 == 0 — the q148 split, so the
    * apply slice is genuinely unseen text) via the driver-local
    * trainer, stored as the merges table. Content-keyed like the
    * MinHash index: the model is a function of the TEXT. */
  private[graft] def storedBpeModel(s: SparkSession, dir: String): String = {
    val ref = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
    graft.engine.Fixtures.ensure(s, ref, "doc_id",
      s"${Sinks.scratch}/bpe_model", "m10_mf2", Some(dir),
      contentSig = Some(pmod(xxhash64(col("text")), lit(1000000007L)))) { idx =>
      // q220 pins this store's earliest version; the retention pin
      // keeps it published whatever a future retrain commits.
      graft.engine.Manifests.setRetention(s, idx, keepVersions = 8)
      CorpusStats.saveBpeModel(ref, "text", rounds = 10, idx)
    }
  }

  /** Persisted quality-classifier model for `dir`'s corpus: trained
    * ONCE on the reference slice (doc_id % 3 == 0, the q148/q150
    * split) labeled good = English (the CCNet target-language
    * framing). Content-keyed on text AND lang — the model is a
    * function of both. */
  private[graft] def storedQualityModel(s: SparkSession, dir: String): String = {
    val train = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
      .withColumn("label_good", col("lang") === "en")
    graft.engine.Fixtures.ensure(s, train, "doc_id",
      s"${Sinks.scratch}/quality_model", "nb_mf2", Some(dir),
      contentSig = Some(pmod(xxhash64(col("text"), col("lang")),
        lit(1000000007L)))) { idx =>
      // q220 pins this store's earliest version; the retention pin
      // keeps it published whatever a future append commits.
      graft.engine.Manifests.setRetention(s, idx, keepVersions = 8)
      QualityClassifier.saveModel(train, "text", "label_good", idx)
    }
  }

  /** Persisted BYTE-level BPE model for `dir`'s corpus — the q150
    * lifecycle at the byte alphabet, same reference slice. */
  private[graft] def storedByteBpeModel(s: SparkSession, dir: String): String = {
    val ref = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
    graft.engine.Fixtures.ensure(s, ref, "doc_id",
      s"${Sinks.scratch}/byte_bpe_model", "b10_mf1", Some(dir),
      contentSig = Some(pmod(xxhash64(col("text")), lit(1000000007L)))) { idx =>
      CorpusStats.saveByteBpeModel(ref, "text", rounds = 10, idx)
    }
  }

  /** The stored state the incremental pipeline (q214/q220/q225) reads. */
  private[graft] val pipelineFixtures: Seq[(String, String)] = Seq(
    "dedup" -> "linedf", "dedup" -> "minhash",
    "qualitymodel" -> "nb", "bpemodel" -> "m10")

  /** Queries whose timed body reads a pre-built fixture (stored media
    * payloads, a persisted ANN index or model) — the set
    * [[warmFixtures]] materializes for. Bench warms only when one of
    * these is selected. */
  lazy val fixtureQueries: Set[String] =
    specs.filter(_.fixtures.nonEmpty).map(_.name).toSet

  /** Untimed fixture warm, reached by the mains through
    * [[Bench.warmFixtures]]: materializes the stored-bytes media tables
    * and persisted ANN indexes that the SELECTED fixture queries read —
    * and only those (a dev loop timing q30 must not pay four index
    * trainings; review finding) — so the timed queries measure decode /
    * index-query work over stored state (idempotent — a warm cache is a
    * no-op scan / marker check). Each kind's caches are released after
    * its build. */
  def warmFixtures(s: SparkSession, dir: String,
      selected: Set[String] = fixtureQueries): Unit = {
    val kinds = specs.filter(q => selected(q.name)).flatMap(_.fixtures).distinct
    kinds.foreach { kind =>
      kind match {
        case ("media", k) => mediaFixture(s, dir, k).count()
        case ("dedup", k) => storedDedupIndex(s, dir, k)
        case ("bpemodel", "b10") => storedByteBpeModel(s, dir)
        case ("bpemodel", _) => storedBpeModel(s, dir)
        case ("qualitymodel", _) => storedQualityModel(s, dir)
        case ("runledger", _) => storedRunLedger(s, dir)
        case (_, k) => storedAnnIndex(s, dir, k)
      }
      graft.engine.Caches.release()
    }
  }

  private def am(s: SparkSession, dir: String): DataFrame =
    Aggregates.airlineMonthlyPerformance(wide(s, dir))
  private def ap(s: SparkSession, dir: String): DataFrame =
    Aggregates.airportPerformance(wide(s, dir))

  /** The registry: every query once, in bench execution order — the
    * q01-q147 segment below, then [[SparkQueriesExt.specs]] (the
    * stored-state and later-wave segment, split off for file size).
    * The order is part of the per-query ledger context and is pinned
    * by BenchSpec. Lazy because [[SparkQueriesExt]] reads this object. */
  lazy val specs: Seq[QuerySpec] = coreSpecs ++ SparkQueriesExt.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(specs.map(q => q.name -> q.build): _*)

  /** Registration segment q01-q147: core star schema, ingest/sinks,
    * SQL-op parity, the first LLM-pipeline waves. */
  private def coreSpecs: Seq[QuerySpec] = Seq(
    // A1/A8/B1-B4/C1-C4 — the denormalized wide view itself.
    QuerySpec("q01_wide_view", (s, dir) =>
      wide(s, dir).orderBy("l_orderkey", "l_linenumber"), Core),

    // D1 + H6 — airline×month rollup (two-phase hash agg, correct avg).
    QuerySpec("q02_airline_monthly", (s, dir) =>
      am(s, dir).orderBy("airline_name", "month"), Core),

    // D2 — airline×month×city rollup.
    QuerySpec("q03_airport_performance", (s, dir) =>
      ap(s, dir).orderBy("airline_name", "month", "origin_city"), Core),

    // D4 + D5 — global KPI scalars + weighted on-time-percentage.
    QuerySpec("q04_kpis", (s, dir) => Aggregates.kpis(am(s, dir)), Core),

    // D6 + F0b — ranking by unweighted mean of monthly means.
    QuerySpec("q05_ranking", (s, dir) => Aggregates.ranking(am(s, dir)), Core),

    // D7 + H7 — monthly trend with label recode.
    QuerySpec("q06_trend", (s, dir) => Aggregates.trend(am(s, dir)), Core),

    // D8 — delay-cause attribution, unpivoted via stack.
    QuerySpec("q07_delay_attribution", (s, dir) =>
      Aggregates.delayAttribution(am(s, dir)).orderBy("cause"), Core),

    // C5 + B6 + D9 — coord lookup join + geo re-aggregation.
    QuerySpec("q08_geo_map", (s, dir) =>
      Dashboard.geoMap(ap(s, dir), Aggregates.coordsDf(s))
        .orderBy("origin_city"), Core),

    // G1 + D3 — union-distinct role-playing dimension build.
    QuerySpec("q09_dim_airports", (s, dir) =>
      StarSchema.dimAirports(s, dir).orderBy("airport_key"), Core),

    // F0a + D3 — ordered calendar dimension.
    QuerySpec("q10_dim_calendar", (s, dir) => StarSchema.dimCalendar(s, dir), Core),

    // D11 + F0c — sorted distinct widget lists.
    QuerySpec("q11_distinct_months", (s, dir) =>
      Aggregates.distinctSorted(wide(s, dir), "month"), Core),
    QuerySpec("q12_distinct_airlines", (s, dir) =>
      Aggregates.distinctSorted(wide(s, dir), "airline_name"), Core),

    // B5 — master IN-list filter feeding the KPI cards.
    QuerySpec("q13_filtered_kpis", (s, dir) =>
      Dashboard.kpiCards(Dashboard.masterFilter(filterMonths, filterAirlines)(am(s, dir))), Core),

    // B5 + D9 — filtered geo map (months only).
    QuerySpec("q14_filtered_geo", (s, dir) =>
      Dashboard.geoMap(
        Dashboard.masterFilter(Seq(4, 5, 6, 7, 8, 9), Nil)(ap(s, dir)),
        Aggregates.coordsDf(s)).orderBy("origin_city"), Core),

    // G2 + D10 — validation counts via UNION ALL.
    QuerySpec("q15_union_counts", (s, dir) => {
      val a = Tables.lineitem(s, dir).agg(count(lit(1)).as("n"))
        .select(lit("lineitem").as("src"), col("n"))
      val b = wide(s, dir).agg(count(lit(1)).as("n"))
        .select(lit("wide").as("src"), col("n"))
      a.union(b).orderBy("src")
    }, Core),

    // H1 + B7 — HHMM→"HH:MM" formatter incl. the 2400 wrap.
    QuerySpec("q16_time_format", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(2401))
            .cast("int").as("hhmm"))
        .withColumn("dep_time", Cleaning.formatHHMM(col("hhmm")))
        .orderBy("l_orderkey", "l_linenumber"), Core),

    // H2-H5 — imputation, flag derivation, date parse round-trip.
    QuerySpec("q17_cleaning_flags", (s, dir) => {
      val isoDow = ((dayofweek(col("date_key")) + 5) % 7) + 1
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_str"),
          col("o_orderstatus"), col("o_totalprice"))
        .withColumn("date_key", to_date(col("date_str"), "yyyy-MM-dd"))
        .withColumn("is_weekend", Cleaning.isWeekend(isoDow))
        .withColumn("is_cancelled", Cleaning.cancelledFlag(
          Some(when(col("o_orderstatus") === "F", 1)), col("o_totalprice")))
        .withColumn("price_filled", Cleaning.fillZero(
          when(col("o_orderstatus") === "O", lit(null)).otherwise(col("o_totalprice"))))
        .drop("o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }, Core),

    // §2.E extension — top-3 routes per month via window ranking.
    QuerySpec("q18_top3_per_month", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("month")
        .orderBy(col("total_flights").desc, col("airline_name"), col("origin_city"))
      ap(s, dir).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("month", "rn")
    }, Core),

    // §2.J extension — weighted-mean Aggregator (typed UDAF surface).
    QuerySpec("q19_weighted_mean", (s, dir) =>
      wide(s, dir).groupBy("airline_name")
        .agg(round(WeightedMean(col("l_extendedprice"), col("l_quantity")), 6)
          .as("w_avg_price"))
        .orderBy("airline_name"), Core),

    // F0d — deterministic LIMIT.
    QuerySpec("q20_limit10", (s, dir) =>
      wide(s, dir).select("l_orderkey", "l_linenumber", "airline_name",
        "month", "dep_del15")
        .orderBy("l_orderkey", "l_linenumber").limit(10), Core),

    // A7/A8 — SQL-surface query over a registered temp view.
    QuerySpec("q21_sql_view", (s, dir) => {
      wide(s, dir).createOrReplaceTempView("v_flight_performance_analysis")
      s.sql(
        """SELECT month, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
          |FROM v_flight_performance_analysis
          |GROUP BY month ORDER BY month""".stripMargin)
    }, Core),

    // ---- training-data pipeline tier (beyond the reference surface) ----

    // Exact dedup — canonical min-id representative per identical text.
    QuerySpec("q22_exact_dedup", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Exact n-gram Jaccard near-dup pairs via inverted shingle index.
    QuerySpec("q23_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5).orderBy("id_a", "id_b")),

    // MinHash+LSH near-dup with exact-Jaccard verification. On the planted
    // bimodal corpus (near-dups at J≥0.9, background <0.1) the 16×4 band
    // scheme has miss probability < 1e-12, so the output equals the
    // exhaustive true-Jaccard oracle.
    QuerySpec("q24_minhash_pairs", (s, dir) =>
      Dedup.minhashNearDup(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // SimHash near-dup candidate pairs (Hamming ≤ 3 over 64-bit simhash).
    QuerySpec("q25_simhash_pairs", (s, dir) =>
      Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text")
        .select("id_a", "id_b").orderBy("id_a", "id_b")),

    // Brute-force cosine top-k — ANN correctness baseline.
    QuerySpec("q26_brute_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval: lexical TF-IDF ranking + vector cosine ranking
    // fused with Reciprocal Rank Fusion (only ranks cross the fusion
    // boundary — no score calibration, hash-gate deterministic).
    QuerySpec("q126_hybrid_rrf", (s, dir) =>
      Retrieval.hybridRrfTopK(
          Tables.documents(s, dir), Tables.embeddings(s, dir))
        .orderBy("query_id", "rank")),

    // binaryFile media ingest: payloads round-trip through per-item
    // FILES (the object-store corpus layout) via Spark's binaryFile
    // source with a pushed path-glob, then the q125 codec+sampling
    // path — ingest route differs, decoded truth must not.
    QuerySpec("q130_binary_media_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      val mediaDir = s"${Sinks.scratch}/q130_media"
      graft.streaming.IncrementalIngest.deleteDir(s, mediaDir)
      Multimodal.writeMediaFiles(
        Multimodal.gifMediaFromDocuments(s, docs), mediaDir, "gif")
      Multimodal.sampleVideoFrames(s,
          Multimodal.readBinaryMedia(s, mediaDir, "gif", "video/gif"))
        .toDF()
        .select("media_id", "media_type", "status", "n_frames",
          "n_sampled", "width", "height", "mean_r", "mean_g", "mean_b")
        .orderBy("media_id")
    }, IngestSink),

    // Vocabulary drift: categorical PSI over token frequencies between
    // corpus snapshot halves — "did the corpus language shift".
    QuerySpec("q134_vocab_drift", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select((col("doc_id") % 2).as("side"),
          explode(split(col("text"), " ")).as("w"))
      graft.operators.Drift.psiCategorical(
        toks.filter(col("side") === 0), toks.filter(col("side") === 1), "w")
    }),

    // word2vec phrase detection: bigrams that co-occur far beyond
    // their unigram frequencies — vocab-sized joins, TakeOrdered cut.
    QuerySpec("q132_phrase_detect", (s, dir) =>
      CorpusStats.phraseScores(Tables.documents(s, dir), "text",
        minCount = 5L, delta = 5.0, k = 30)),

    // PSI distribution drift between two snapshots (event_id parity
    // split): per-side map-side bin counts, tiny joined bin table,
    // decimal-exact term sum — the ML-monitoring "did the data move".
    QuerySpec("q131_psi_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.Drift.psi(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "value", binWidth = 50.0)
    }),

    // OHLC time-bucket downsample: open/close via lexicographic struct
    // argmin/argmax — partial-aggregable, no per-bucket window sort.
    QuerySpec("q129_ohlc_bars", (s, dir) =>
      EventAnalytics.ohlcBars(Tables.events(s, dir))
        .orderBy("bucket", "event_type")),

    // DSIR data selection: unigram-LM importance weights vs the 'en'
    // slice, deterministic top-100 cut (distributed TakeOrdered).
    QuerySpec("q127_dsir_select", (s, dir) =>
      graft.operators.Selection.dsirSelect(
        Tables.documents(s, dir), col("lang") === "en", topN = 100)),

    // Hard-negative mining: most-similar vectors of a DIFFERENT label —
    // the contrastive-training negatives a random sample never surfaces.
    QuerySpec("q128_hard_negatives", (s, dir) =>
      Retrieval.hardNegatives(Tables.embeddings(s, dir))
        .orderBy("query_id", "rank")),

    // Embedding cosine near-dup pairs (exact, symmetric-half cross join).
    QuerySpec("q27_embedding_near_dup", (s, dir) =>
      Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // IVF-partitioned ANN — probes nProbe cells instead of the full corpus.
    // IVF ANN over TRAINED centroids: two deterministic Lloyd's rounds
    // (stride-53 init, exact-decimal means, float32 round boundaries) —
    // the oracle replays the training itself in SQL, so the whole
    // train→assign→probe→top-k pipeline sits under the hash gate.
    QuerySpec("q28_ivf_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = graft.operators.Clustering.kmeansCentroids(
        emb, "vec_id", "embedding", initStride = 53, iters = 2)
      Similarity.ivfTopKWith(emb.filter(col("vec_id") < 10), emb, k = 5,
        cents, nProbe = 3)
        .orderBy("query_id", "rank")
    }),

    // Text-analysis feature sweep: token counts, quality, lang-ID,
    // fingerprints — codegen'd built-ins plus native TextKernels.
    QuerySpec("q29_text_features", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(col("text")).as("lang_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fp_md5"),
        TextFunctions.fingerprintPoly(col("text")).as("fp_poly"))
        .orderBy("doc_id")),

    // Multimodal decode: binary PNG payload column → partition-batched
    // REAL javax.imageio decode → typed metadata; corrupt payloads
    // quarantined per row (status='corrupt'), never fatal. n_bytes stays
    // out of the gated projection (encoder output size isn't
    // SQL-expressible; the fixture spec is).
    QuerySpec("q30_media_decode", (s, dir) =>
      Multimodal.decodeImages(s, mediaFixture(s, dir, "png"))
        .toDF()
        .select("media_id", "media_type", "status", "width", "height",
          "mean_r", "mean_g", "mean_b")
        .orderBy("media_id"), fixtures = Seq("media" -> "png")),

    // Audio modality: real javax.sound WAV parse (RIFF/fmt/data, PCM16)
    // over synthesized square-wave payloads — same mapPartitions codec
    // slot and corrupt-quarantine contract as the PNG path (q30).
    QuerySpec("q118_audio_decode", (s, dir) =>
      Multimodal.decodeAudio(s, mediaFixture(s, dir, "wav"))
        .toDF()
        .select("media_id", "media_type", "status", "sample_rate",
          "n_samples", "mean_abs", "peak")
        .orderBy("media_id"), fixtures = Seq("media" -> "wav")),

    // Video modality: real ImageIO animated-GIF parse (LZW frames,
    // GIF89a container) with stride-3 FRAME SAMPLING — only sampled
    // frames are LZW-decoded, which at corpus scale is the point.
    // Same mapPartitions codec slot and quarantine contract as q30/q118.
    QuerySpec("q125_video_frames", (s, dir) =>
      Multimodal.sampleVideoFrames(s, mediaFixture(s, dir, "gif"))
        .toDF()
        .select("media_id", "media_type", "status", "n_frames",
          "n_sampled", "width", "height", "mean_r", "mean_g", "mean_b")
        .orderBy("media_id"), fixtures = Seq("media" -> "gif")),

    // A1 — multi-file CSV ingest: write a two-file CSV fixture from
    // lineitem, re-read it with an explicit schema + column whitelist
    // (the reference's usecols), and check the round-trip against the
    // parquet source. CSV doubles/dates round-trip exactly
    // (Double.toString ↔ parseDouble, ISO dates).
    QuerySpec("q31_csv_ingest", (s, dir) => {
      import org.apache.spark.sql.types._
      val base = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate").cast("date").as("ship_date"))
      val root = s"${Sinks.scratch}/q31_csv"
      // Multi-file per directory — the scan target is a directory pair,
      // so the parallel sink applies, not the single-file fidelity twin.
      Sinks.writeCsvParallel(base.filter(col("l_orderkey") % 2 === 0),
        s"$root/even")
      Sinks.writeCsvParallel(base.filter(col("l_orderkey") % 2 === 1),
        s"$root/odd")
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("ship_date", DateType)))
      Ingest.readCsv(s, Seq(s"$root/even", s"$root/odd"), schema,
        keepCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "ship_date"))
        .orderBy("l_orderkey", "l_linenumber")
    }, IngestSink),

    // A4 — batch parquet sink round-trip: overwrite months 1-6 with a
    // month-partitioned layout (the index analog), append months 7-12,
    // read back — replicating the reference's first-file-replace /
    // rest-append protocol (`data_cleaning.py:108-116`).
    QuerySpec("q32_sink_roundtrip", (s, dir) => {
      val path = s"${Sinks.scratch}/q32_parquet"
      val amDf = am(s, dir)
      Sinks.writeParquet(amDf.filter(col("month") <= 6), path,
        "overwrite", Seq("month"))
      Sinks.writeParquet(amDf.filter(col("month") > 6), path,
        "append", Seq("month"))
      s.read.parquet(path)
        .select("airline_name", "month", "depdel15_count", "depdel15_sum",
          "delay_minutes_mean", "is_cancelled_sum", "carrier_delay_sum",
          "weather_delay_sum", "nas_delay_sum", "late_aircraft_delay_sum",
          "on_time_rate")
        .orderBy("airline_name", "month")
    }, IngestSink),

    // Target-size parquet write: partition count derived from the
    // optimizer's byte estimate, not upstream task count — the
    // proactive small-files answer (q105 compaction is the reactive
    // twin). Round-trips through the sized layout.
    QuerySpec("q133_sized_write", (s, dir) => {
      val src = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val path = s"${Sinks.scratch}/q133_sized"
      Sinks.writeParquetSized(src, path, "overwrite",
        targetBytes = 512L * 1024)
      s.read.parquet(path).orderBy("l_orderkey", "l_linenumber")
    }, IngestSink),

    // A5 — CSV sink round-trip of the airport cache table, the reference's
    // `to_csv(..., index=False)` (`aggregate_flight_data.py:42,79`).
    QuerySpec("q33_csv_sink", (s, dir) => {
      import org.apache.spark.sql.types._
      val path = s"${Sinks.scratch}/q33_csv"
      Sinks.writeCsv(ap(s, dir), path)
      val schema = StructType(Seq(
        StructField("airline_name", StringType),
        StructField("month", IntegerType),
        StructField("origin_city", StringType),
        StructField("total_flights", LongType),
        StructField("delayed_flights", LongType)))
      Ingest.readCsv(s, Seq(path), schema)
        .orderBy("airline_name", "month", "origin_city")
    }, IngestSink),

    // A7 — CTAS materialization: dim_airports persisted as a catalog table
    // (`data_modeling.sql:3-16`), then queried back.
    QuerySpec("q34_ctas", (s, dir) => {
      Sinks.ctas(s, "graft_ctas_dim_airports", StarSchema.dimAirports(s, dir))
      s.table("graft_ctas_dim_airports").orderBy("airport_key")
    }, IngestSink),

    // B7 + H1 — masked conditional formatting: the HH:MM formatter applied
    // only where the raw value is present (cancelled flights keep NULL
    // DepTime, `data_cleaning.py:51-53`).
    QuerySpec("q35_time_format_masked", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_linenumber") % 3 === 0, lit(null).cast("int"))
            .otherwise(pmod(col("l_orderkey") * 7 + col("l_linenumber"),
              lit(2401)).cast("int"))
            .as("hhmm"))
        .withColumn("dep_time", Cleaning.formatHHMMIfPresent(col("hhmm")))
        .orderBy("l_orderkey", "l_linenumber")),

    // §2.I extension — the streaming job's plan in batch mode: tumbling
    // event-time windows over the events table (the streaming path itself
    // is covered by the MemoryStream spec).
    QuerySpec("q36_event_windows", (s, dir) =>
      EventStream.windowedKpis(Tables.events(s, dir))
        .orderBy("window_start", "event_type")),

    // Dedup clustering: connected components over the MinHash near-dup
    // pairs (min-id label per component, iterative label propagation).
    QuerySpec("q37_dedup_clusters", (s, dir) =>
      Dedup.dedupClusters(
        Dedup.minhashNearDup(Tables.documents(s, dir), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5))
        .orderBy("id")),

    // Near-dup survivor filter: anti-join the victim set — the corpus a
    // training pipeline actually keeps.
    QuerySpec("q38_dedup_survivors", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.dedupClusters(
        Dedup.minhashNearDup(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5))
      Dedup.survivors(docs, "doc_id", clusters)
        .select("doc_id").orderBy("doc_id")
    }),

    // Flagship curation composition: quality/language gate → near-dup
    // clustering on the gated corpus → survivor filter.
    QuerySpec("q39_curation", (s, dir) =>
      Curation.curate(Tables.documents(s, dir), "doc_id", "text",
        minQuality = 0.5, lang = "en")
        .select("doc_id").orderBy("doc_id")),

    // Token-budget sampling: best-quality-first cumulative token cap,
    // computed as a distributed two-pass prefix sum.
    QuerySpec("q40_token_budget", (s, dir) =>
      Curation.tokenBudgetSample(Tables.documents(s, dir), "doc_id", "text",
        budget = 20000L)
        .orderBy("doc_id")),

    // A2 + A4 — the reference's REAL ingest/sink boundary (MySQL,
    // `aggregate_flight_data.py:25`, `data_cleaning.py:108-116`) over an
    // actual JDBC engine: chunked replace+append write into embedded
    // Derby, then a partitioned (4 range cursors on month) JDBC read
    // back. Same call sites would hit MySQL given its url/driver.
    QuerySpec("q41_jdbc_roundtrip", (s, dir) => {
      val url = Jdbc.derbyMemUrl("graft_q41")
      // Aggregate once; both chunk writes read the warm cache instead of
      // re-running the rollup per write.
      val amDf = am(s, dir).persist()
      amDf.count()
      Jdbc.writeVarchar(amDf.filter(col("month") <= 6), url,
        "airline_monthly", "overwrite", Jdbc.derbyProps())
      Jdbc.writeVarchar(amDf.filter(col("month") > 6), url,
        "airline_monthly", "append", Jdbc.derbyProps())
      amDf.unpersist()
      Jdbc.readPartitioned(s, url, "airline_monthly",
        partitionColumn = "month", lower = 1L, upper = 12L,
        numPartitions = 4, Jdbc.derbyProps())
        .select("airline_name", "month", "depdel15_count", "depdel15_sum",
          "delay_minutes_mean", "is_cancelled_sum", "carrier_delay_sum",
          "weather_delay_sum", "nas_delay_sum", "late_aircraft_delay_sum",
          "on_time_rate")
        .orderBy("airline_name", "month")
    }, IngestSink),

    // I (ext) — per-user sessionization, batch twin of the streaming
    // flatMapGroupsWithState operator (EventStreamSpec proves the
    // streaming path emits these exact rows).
    QuerySpec("q42_sessionization", (s, dir) =>
      EventStream.sessionsBatch(Tables.events(s, dir), gapMinutes = 30)
        .orderBy("user_id", "session_idx")),

    // Prefix-filtered exact Jaccard self-join (AllPairs/PPJoin): total
    // candidate recall by the prefix pigeonhole — unlike q23's maxDf
    // prune, the oracle is the exhaustive true-Jaccard pair set.
    QuerySpec("q43_prefix_jaccard", (s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5).orderBy("id_a", "id_b")),

    // Skew-salted large×large equi-join (lineitem⋈orders, the one join in
    // the schema where neither side broadcasts): result must be
    // bit-identical to the plain join the oracle runs.
    QuerySpec("q44_salted_join", (s, dir) =>
      Joins.saltedInner(
        Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "okey"),
        Tables.orders(s, dir).withColumnRenamed("o_orderkey", "okey"),
        "okey", salt = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Aggregates.sumExact(col("l_quantity")).as("qty_sum"))
        .orderBy("o_orderpriority"))
        ,

    // SRP-LSH near-dup over embeddings: the sub-quadratic banded scale
    // path for vectors (full construction replayed by the oracle —
    // same plan-time hyperplane literals on both engines).
    QuerySpec("q45_srp_near_dup", (s, dir) =>
      Similarity.srpNearDup(Tables.embeddings(s, dir), threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // Deterministic content-keyed train/val/test assignment — the
    // reproducible, leakage-proof split step of a corpus pipeline.
    QuerySpec("q46_split_assign", (s, dir) =>
      Sampling.assignSplits(Tables.documents(s, dir), "text")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")),

    // Per-language corpus profile: one scan, one agg, all exact.
    QuerySpec("q47_corpus_profile", (s, dir) =>
      Curation.corpusProfile(Tables.documents(s, dir), "text")
        .orderBy("lang")),

    // JSONL round-trip of the documents table (schema-pinned read).
    QuerySpec("q48_jsonl_roundtrip", (s, dir) => {
      val path = s"${Sinks.scratch}/q48_jsonl"
      val docs = Tables.documents(s, dir)
      Sinks.writeJsonl(docs, path)
      Ingest.readJsonl(s, Seq(path), docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, IngestSink),

    // ORC round-trip of the documents table.
    QuerySpec("q49_orc_roundtrip", (s, dir) => {
      val path = s"${Sinks.scratch}/q49_orc"
      Sinks.writeOrc(Tables.documents(s, dir), path)
      Ingest.readOrc(s, Seq(path))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, IngestSink),

    // XML sink/source round-trip (Spark 4 built-in source): the
    // row-oriented interchange format beside JSONL/CSV; markup in
    // values escapes and round-trips.
    QuerySpec("q147_xml_roundtrip", (s, dir) => {
      val path = s"${Sinks.scratch}/q147_xml"
      Sinks.writeXml(Tables.documents(s, dir), path, rowTag = "doc")
      Ingest.readXml(s, Seq(path),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"),
        rowTag = "doc")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, IngestSink),

    // Pivot: airline × month on-time matrix (explicit value list).
    QuerySpec("q50_pivot", (s, dir) =>
      Aggregates.onTimePivot(am(s, dir)).orderBy("airline_name")),

    // ROLLUP subtotals in one pass, sentinel-coalesced group keys.
    QuerySpec("q51_rollup", (s, dir) =>
      Aggregates.delayRollup(wide(s, dir))
        .orderBy("airline_name", "month")),

    // Backward as-of join (purchase attribution): each purchase matched
    // to the latest view by the same user at-or-before it — one shuffle
    // on user_id, no range-join row blowup (Joins.asofBackward).
    // Ties resolve to the greatest (view_ts, view_id); unattributed
    // purchases (no prior view) are dropped.
    QuerySpec("q52_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      Joins.asofBackward(purchases, views, "user_id",
        leftTs = "purchase_ts", rightTs = "view_ts")
        .where(col("view_id").isNotNull)
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("view_id"), col("view_ts"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
            .as("gap_us"))
        .orderBy("purchase_id")
    }),

    // Skew-safe as-of: q52's semantics through the two-level sliced
    // construction (window per (key, time-slice) + broadcast carry
    // table) — a dominant key sorts on up to `slices` reducers instead
    // of one. Same oracle as q52: bit-identical output is the contract.
    QuerySpec("q104_asof_skewsafe", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      Joins.asofBackwardSkewSafe(purchases, views, "user_id",
        leftTs = "purchase_ts", rightTs = "view_ts", slices = 16)
        .where(col("view_id").isNotNull)
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("view_id"), col("view_ts"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
            .as("gap_us"))
        .orderBy("purchase_id")
    }),

    // Lakehouse maintenance — small-file compaction, the z-order
    // layout's maintenance twin: the airport cache table written as an
    // over-parallel 32-file storm, FFD bin-packed to right-sized files
    // (one shuffle, one write task per bin), read back compacted.
    // Round-trip identity oracle like q32/q33.
    QuerySpec("q105_compact_roundtrip", (s, dir) => {
      val in = s"${Sinks.scratch}/q105_small"
      val out = s"${Sinks.scratch}/q105_compacted"
      ap(s, dir).repartition(32).write.mode("overwrite").parquet(in)
      Sinks.compactParquet(s, in, out, targetBytes = 256 * 1024)
      s.read.parquet(out)
        .select("airline_name", "month", "origin_city", "total_flights",
          "delayed_flights")
        .orderBy("airline_name", "month", "origin_city")
    }, IngestSink),

    // Per-airline least-squares trend fit (slope/intercept of delay over
    // flight date) — exact decimal moments, closed-form projection.
    QuerySpec("q106_trend_fit", (s, dir) =>
      Aggregates.delayTrendFit(wide(s, dir)).orderBy("airline_name")),

    // Dynamic partition pruning: month-partitioned fact + broadcast
    // quarter dim; the scan's month list is a RUNTIME dynamicpruning
    // filter (asserted in PlanSpec), not a static IN list.
    QuerySpec("q107_dpp_quarter", (s, dir) => {
      val path = s"${Sinks.scratch}/q107_fact"
      Sinks.writeParquet(
        Tables.lineitem(s, dir)
          .withColumn("ship_month", month(col("l_shipdate"))),
        path, "overwrite", Seq("ship_month"))
      Ingest.dppQuarterAgg(s, path, quarter = 1).orderBy("ship_month")
    }),

    // SCD Type-2 dimension build: per-customer order-status change log →
    // effective-dated rows (half-open validity, deterministic tie-break).
    QuerySpec("q108_scd2_build", (s, dir) =>
      graft.operators.Merge.scd2(Tables.orders(s, dir),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"),
          to_date(col("eff_from")).as("eff_from"),
          to_date(col("eff_to")).as("eff_to"),
          col("is_current"))
        // status in the sort: same-day different-status orders make
        // (custkey, eff_from) alone ambiguous (177 such groups at sf0.1);
        // eff_to makes the key total — a same-day A→B→A sandwich yields
        // two rows identical up to status but with different eff_to.
        .orderBy(col("o_custkey"), col("eff_from"), col("o_orderstatus"),
          col("eff_to").asc_nulls_last)),

    // Multi-way OLAP rollup (TPC-H Q5 shape): 5-table join, broadcast
    // dims, shuffled fact joins, exact-decimal revenue.
    QuerySpec("q109_regional_revenue", (s, dir) =>
      StarSchema.regionalRevenue(s, dir, regionName = "ASIA", yr = 1997)
        .orderBy(col("revenue").desc, col("n_name"))),

    // IVF-celled embedding near-dup: within-cell pairs only — the
    // sub-quadratic ANN path beside exact q27 (strided cells, so the
    // oracle replays the assignment without a trainer chain).
    QuerySpec("q110_ivf_near_dup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") % 53 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      Similarity.ivfNearDupPairs(emb, cents, threshold = 0.35)
        .orderBy("id_a", "id_b")
    }),

    // Custom GROUPING SETS lattice (Spark 4 Dataset.groupingSets API) —
    // the explicit-sets sibling of rollup (q51) / cube (q59): per-status
    // and per-priority marginals plus the grand total in ONE expand+agg
    // pass, no union of three jobs; sentinel-coalesced keys as in q51.
    QuerySpec("q111_grouping_sets", (s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Aggregates.sumExact(col("o_totalprice")).as("revenue"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("revenue"))
        .orderBy("status", "priority")),

    // VariantType semi-structured access (Spark 4 parse_json/variant_get):
    // the open-schema path beside schema-pinned from_json (q79) — no DDL,
    // shredded binary encoding, typed extraction at use site.
    QuerySpec("q112_variant_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
        // FLOOR division, spelled as such on both engines: Spark's DIV
        // truncates toward zero but DuckDB's // floors — they disagree
        // on negative k, and "the payload never goes negative" is
        // exactly the kind of testdata property a regen breaks.
        .groupBy(col("event_type"),
          expr("CAST(FLOOR(k / 10.0) AS INT)").as("bucket"))
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"))
        .orderBy(col("event_type"), col("bucket").asc_nulls_first)),

    // UNPIVOT/melt (Dataset.unpivot): wide measures → long (metric, value)
    // rows — the inverse of pivot (q50), one Expand projection, no join.
    QuerySpec("q113_unpivot", (s, dir) =>
      Tables.orders(s, dir).groupBy("o_orderstatus")
        .agg(Aggregates.sumExact(col("o_totalprice")).as("revenue"),
          count(lit(1)).cast("double").as("n_orders"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("revenue"), col("n_orders")), "metric", "value")
        .orderBy("o_orderstatus", "metric")),

    // Stream-static enrichment (batch twin): events left-joined to a
    // static per-user LTV dim (broadcast, stateless — the streaming
    // form is spec'd equal in EventStreamSpec), rolled up per band.
    QuerySpec("q114_stream_static", (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(Aggregates.sumExact(col("value")).as("ltv"))
      graft.streaming.EventStream.enrichWithDim(ev, dim, "user_id")
        .withColumn("ltv_band",
          when(col("ltv").isNull, "none")
            .when(col("ltv") >= 500.0, "high")
            .when(col("ltv") >= 100.0, "mid")
            .otherwise("low"))
        .groupBy("event_type", "ltv_band")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "ltv_band")
    }),

    // Dynamic-partition overwrite: seed the month-partitioned table with
    // month 6 DELIBERATELY corrupted (doubled measures), then repair by
    // overwriting ONLY month 6. The oracle is the plain correct
    // aggregate — a static overwrite would wipe months 1-5,7-12 (rows
    // vanish), an append would double month 6 (hash mismatch); only
    // true per-partition replacement matches.
    QuerySpec("q115_dynamic_overwrite", (s, dir) => {
      val path = s"${Sinks.scratch}/q115_monthly"
      val monthly = ap(s, dir)
        .groupBy("month", "airline_name")
        .agg(Aggregates.sumExact(col("total_flights")).as("flights"),
          Aggregates.sumExact(col("delayed_flights")).as("delayed"))
      val corrupted = monthly.withColumn("flights",
        when(col("month") === 6, col("flights") * 2).otherwise(col("flights")))
      Sinks.writeParquet(corrupted, path, "overwrite", Seq("month"))
      Sinks.overwritePartitions(monthly.filter(col("month") === 6), path,
        Seq("month"))
      s.read.parquet(path)
        .select(col("month").cast("int").as("month"), col("airline_name"),
          col("flights"), col("delayed"))
        .orderBy("month", "airline_name")
    }, IngestSink),

    // Checkpointed incremental file ingestion (Structured Streaming file
    // source, Trigger.AvailableNow): two runs over a growing directory,
    // second run drains ONLY the new files — exactly-once proven by the
    // oracle (re-processing would duplicate batch-1 rows).
    QuerySpec("q116_incremental_ingest", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
      val batch1 = ev.filter(col("event_id") % 2 === 0)
      val batch2 = ev.filter(col("event_id") % 2 === 1)
      graft.streaming.IncrementalIngest.twoRunIngest(s, batch1, batch2,
        s"${Sinks.scratch}/q116")
        .orderBy("event_id")
    }, IngestSink),

    // Streaming MERGE sink, driver-visible twin (the foreachBatch
    // CDC-apply sink of EventStream.startUpsertSink): two AvailableNow
    // runs over a growing source dir — run 2 drains ONLY batch 2,
    // replaces keys it re-sees, and carries batch-1-only keys forward
    // across the staged-swap. Batches split at the event_id mid-range
    // so "later batch wins" coincides with global newest-per-key,
    // which is the oracle; a sink that dropped carried-forward state
    // (or re-applied batch 1) could not match it.
    QuerySpec("q123_upsert_sink", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
      val range = ev.agg(min(col("event_id")), max(col("event_id"))).head()
      val mid = range.getLong(0) + (range.getLong(1) - range.getLong(0)) / 2
      EventStream.twoRunUpsert(s,
        ev.filter(col("event_id") <= mid), ev.filter(col("event_id") > mid),
        s"${Sinks.scratch}/q123", "user_id", "event_id")
        .orderBy("user_id")
    }, IngestSink),

    // A9 bucketed layout, driver-visible: CTAS both fact tables
    // hash-bucketed (and sorted) on the order key, then run the
    // fact⋈fact join co-located. The merge-join hint keeps the small
    // side off the broadcast path so the bucketed mechanism is what
    // executes: NO exchange on either join input (asserted in
    // PlanSpec) — at 100 TB this is the zero-shuffle form of the one
    // genuinely large join in the star schema. Layout never changes
    // the answer, so the oracle is the plain join + rollup.
    QuerySpec("q124_bucketed_join", (s, dir) => {
      Sinks.ctasBucketed(s, "graft_q124_li",
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"),
        buckets = 8, bucketCol = "l_orderkey")
      Sinks.ctasBucketed(s, "graft_q124_ord",
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus"),
        buckets = 8, bucketCol = "o_orderkey")
      s.table("graft_q124_li").hint("merge")
        .join(s.table("graft_q124_ord"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(Aggregates.sumExact(col("l_quantity")).as("total_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderstatus")
    }, IngestSink),

    // Product-quantization ANN (ADC scoring over per-subspace codebooks)
    // — the memory-bound regime beside cell-probe IVF (q28): corpus
    // stored as m codes/vector, query scoring = m table lookups.
    QuerySpec("q117_pq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        m = 16, subDim = 4, initStride = 3, iters = 1)
        .orderBy("query_id", "rank")
    }),

    // Key-skew profile: the heaviest customer keys with share + skew
    // factor — the diagnostic that decides salting/skew-join strategy.
    QuerySpec("q119_key_skew", (s, dir) =>
      graft.operators.Profiling.keySkew(Tables.orders(s, dir),
        "o_custkey", topN = 20)),

    // Approximate monthly counts from the deterministic content sample
    // (1/8 of the data, exact integer scale-up) — AQP you can
    // regression-test, since the sample is a pure function of the key.
    QuerySpec("q120_approx_count", (s, dir) =>
      Sampling.approxGroupCount(Tables.lineitem(s, dir),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")),
        Seq(month(col("l_shipdate")).cast("int").as("month")),
        keepBuckets = 128)
        .orderBy("month")),

    // IVF-PQ composite ANN: trained coarse cells pick candidates
    // (nProbe probe), PQ codes score them (ADC) — the production
    // billion-vector architecture, both trainings SQL-replayed.
    QuerySpec("q121_ivfpq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        cellStride = 53, cellIters = 1, nProbe = 3,
        m = 16, subDim = 4, pqStride = 3, pqIters = 1)
        .orderBy("query_id", "rank")
    }),

    // Persisted-index ANN (PQ): the index — codebook + codes parquet
    // tables — is trained/written ONCE per corpus fingerprint and
    // every query reads the stored state; q117 is the train-inline
    // twin (bit-equal results, same oracle). This is the production
    // 100 TB shape: training amortizes over every query instead of
    // re-running per call.
    QuerySpec("q135_pq_stored_index", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopKFromIndex(emb.filter(col("vec_id") < 10), emb,
        storedAnnIndex(s, dir, "pq"), k = 5)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("ann" -> "pq")),

    // Persisted-index ANN (IVF-PQ): stored quadruple cents + cells +
    // codebook + codes — per vector one cell id and m codes, the
    // billion-vector layout; q121 is the train-inline twin.
    QuerySpec("q136_ivfpq_stored_index", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKFromIndex(emb.filter(col("vec_id") < 10), emb,
        storedAnnIndex(s, dir, "ivfpq"), k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("ann" -> "ivfpq")),

    // Index maintenance (PQ): the index is TRAINED on the even half
    // only, then the odd half is encoded against the frozen codebook
    // and appended — new data searchable without retraining, the
    // daily-ingest shape. The oracle replays train-on-evens +
    // encode-everyone, so the hash gate proves the appended codes are
    // exactly what the frozen codebook assigns.
    QuerySpec("q137_pq_index_append", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopKFromIndex(emb.filter(col("vec_id") < 10), emb,
        storedAnnIndex(s, dir, "pq_grown"), k = 5)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("ann" -> "pq_grown")),

    // Index maintenance (IVF-PQ): appended vectors also get a cell
    // assignment against the frozen coarse centroids.
    QuerySpec("q138_ivfpq_index_append", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKFromIndex(emb.filter(col("vec_id") < 10), emb,
        storedAnnIndex(s, dir, "ivfpq_grown"), k = 5, nProbe = 3)
        .orderBy("query_id", "rank")
    }, fixtures = Seq("ann" -> "ivfpq_grown")),

    // SemDeDup: semantic dedup in embedding space — cell-partitioned
    // within-cell cosine pairs, connected components, keep the member
    // LEAST similar to its cell centroid per component (Abbas et al.
    // 2023). The paraphrase-level dedup no lexical fingerprint sees.
    QuerySpec("q139_semdedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") % 53 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      Similarity.semDeDup(emb, cents, threshold = 0.35)
        .orderBy("vec_id")
    }),

    // Iterative BPE tokenizer trainer: 10 merge rounds over the
    // word-frequency table (one corpus scan; each round is vocab-sized).
    // q81 is one round's pair statistic; this is the loop that actually
    // produces the merge list = the trained tokenizer.
    QuerySpec("q140_bpe_train", (s, dir) =>
      graft.operators.CorpusStats.bpeTrain(Tables.documents(s, dir),
        "text", rounds = 10).orderBy("round")),

    // Perceptual image near-dup (fixed-point pHash + banded Hamming):
    // the media modality of the dedup family. Planted brightness-shifted
    // and patch-edited twins over documents-derived textured PNGs.
    QuerySpec("q141_phash_neardup", (s, dir) =>
      graft.operators.ImageDedup.phashNearDup(s,
        Tables.documents(s, dir), maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // The learned BPE vocabulary applied to its own corpus: final
    // per-word subword segmentation after the 10 trained merges —
    // the train→apply completion of q140.
    QuerySpec("q142_bpe_vocab", (s, dir) =>
      graft.operators.CorpusStats.bpeVocab(Tables.documents(s, dir),
        "text", rounds = 10).orderBy("word")),

    // Corpus tokenization with the trained BPE: per-document word and
    // subword counts under the learned segmentation — the REAL
    // token-pricing pass for the budget/packing tiers (q40/q71 use
    // the regex estimate).
    QuerySpec("q146_bpe_tokenize", (s, dir) =>
      graft.operators.CorpusStats.bpeTokenize(Tables.documents(s, dir),
        "doc_id", "text", rounds = 10).orderBy("doc_id")),

    // Image dedup survivors: pHash pairs → connected components →
    // canonical representative per component — the q37/q38 curation
    // lifecycle over pixels.
    QuerySpec("q143_phash_survivors", (s, dir) =>
      graft.operators.ImageDedup.phashSurvivors(s,
        Tables.documents(s, dir), maxHamming = 3)
        .orderBy("img_id")),

    // Incremental media dedup: today's images banded against the
    // already-deduped reference only (the q98 construction over
    // pixels) — daily cost |new|·collisions, never |corpus|².
    QuerySpec("q144_phash_cross", (s, dir) =>
      graft.operators.ImageDedup.phashIncrementalDedup(s,
        Tables.documents(s, dir), maxHamming = 3)
        .orderBy("new_id", "ref_id")),

    // Cross-modality curation compose: keep documents whose text
    // clears the quality floor AND whose original image survived pHash
    // dedup (a corrupt image quarantines its document; a duplicate
    // image drops all but the canonical holder). Text-side q39 and
    // media-side q143, joined on the document key.
    QuerySpec("q145_multimodal_curation", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val surv = graft.operators.ImageDedup
        .phashSurvivors(s, docs, maxHamming = 3)
        .filter(col("img_id") <
          graft.operators.ImageDedup.BrightTwinOffset)
        .select(col("img_id").as("doc_id"))
      docs.join(surv, Seq("doc_id"))
        .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("quality"))
        .orderBy("doc_id")
    }),

    // Rolling 7-day distinct users: sliding DISTINCT via dedup-then-
    // offset-explode (window functions can't express it; a per-day
    // self-join would re-scan the fact N times).
    QuerySpec("q122_rolling_dau", (s, dir) =>
      graft.operators.EventAnalytics.rollingDistinctUsers(
        Tables.events(s, dir), windowDays = 7)
        .orderBy("day")),

    // Forward as-of: the next view AT OR AFTER each purchase — the
    // mirror direction of q52 (same one-shuffle construction).
    QuerySpec("q103_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      Joins.asofForward(purchases, views, "user_id",
        leftTs = "purchase_ts", rightTs = "view_ts")
        .where(col("view_id").isNotNull)
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("view_id"), col("view_ts"),
          (unix_micros(col("view_ts")) - unix_micros(col("purchase_ts")))
            .as("gap_us"))
        .orderBy("purchase_id")
    }),

    // Binned interval join: events against 90-minute "surge" windows
    // (hours ≥ 1.3× the mean hourly rate). The windows OVERLAP and do
    // not align to the 15-minute bin grid, so the residual range filter
    // is genuinely load-bearing; the join itself is a shuffle equi-join
    // on bin id — no BroadcastNestedLoopJoin at any interval count.
    QuerySpec("q53_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("w_start"))
        .agg(count(lit(1)).as("n"))
      val thresh = hourly.agg((avg("n") * 1.3).as("_t"))
      val surge = hourly.crossJoin(broadcast(thresh))
        .where(col("n") >= col("_t"))
        .select(col("w_start"),
          (col("w_start") + expr("INTERVAL 90 MINUTE")).as("w_end"))
      Joins.binnedIntervalJoin(ev, "ts", surge, "w_start", "w_end",
        binSeconds = 900)
        .groupBy("w_start")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"),
          Aggregates.sumExact(col("value")).as("value_sum"))
        .orderBy("w_start")
    }),

    // Gopher-style within-document repetition signals (dup n-gram
    // fractions as one codegen projection; top-word share via
    // explode + two-level agg).
    QuerySpec("q54_repetition", (s, dir) =>
      CorpusStats.repetitionMetrics(Tables.documents(s, dir),
        "doc_id", "text").orderBy("doc_id")),

    // Top TF-IDF term per document (inverted-index shape; rounded-score
    // ordering so the winner is engine-independent).
    QuerySpec("q55_tfidf", (s, dir) =>
      CorpusStats.tfidfTop1(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Order-preserving vocabulary prune: drop tokens present in > 75% of
    // documents, reassemble the survivors in document order.
    QuerySpec("q56_vocab_prune", (s, dir) =>
      CorpusStats.vocabPrune(Tables.documents(s, dir), "doc_id", "text",
        maxDfFrac = 0.75).orderBy("doc_id")),

    // k-anonymous pseudonymized customer extract (k=5 over the
    // (acctbal band, segment) quasi-identifier).
    QuerySpec("q57_anonymize", (s, dir) =>
      Privacy.anonymizeCustomers(Tables.customer(s, dir), k = 5)
        .orderBy("pseudo_id")),

    // Month-over-month delta + exact-decimal 3-month trailing mean.
    QuerySpec("q58_mom_delta", (s, dir) =>
      Aggregates.momDelta(am(s, dir)).orderBy("airline_name", "month")),

    // CUBE lattice over (airline, month), sentinel-coalesced.
    QuerySpec("q59_cube", (s, dir) =>
      Aggregates.delayCube(wide(s, dir)).orderBy("airline_name", "month")),

    // Exact interpolated per-airline delay percentiles.
    QuerySpec("q60_percentiles", (s, dir) =>
      Aggregates.delayPercentiles(wide(s, dir)).orderBy("airline_name")),

    // Heavy-tail trim: per-airline mean of delays at or under own p99.
    QuerySpec("q61_outlier_trim", (s, dir) =>
      Aggregates.outlierTrim(wide(s, dir)).orderBy("airline_name")),

    // I (ext) — multi-touch attribution: the stream-stream interval-join
    // plan run in batch mode (EventStreamSpec drives the same plan from
    // MemoryStreams and gets these exact rows).
    QuerySpec("q62_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      EventStream.attributionJoin(
        ev.where(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts").as("view_ts")),
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts")),
        lookbackMinutes = 2880)
        .orderBy("purchase_id", "view_id")
    }),

    // MERGE/upsert: refresh per-customer lifetime order totals with the
    // month-12 change set (replace matched keys, insert new ones).
    QuerySpec("q63_upsert", (s, dir) => {
      val ordersDf = Tables.orders(s, dir)
      val target = custTotals(ordersDf.where(month(col("o_orderdate")) <= 11))
      val changedKeys = ordersDf.where(month(col("o_orderdate")) === 12)
        .select("o_custkey").distinct()
      val source = custTotals(ordersDf.join(changedKeys, "o_custkey"))
      Merge.upsert(target, source, "o_custkey").orderBy("o_custkey")
    }),

    // Ordered conversion funnel: view → click → purchase stage counts.
    QuerySpec("q64_funnel", (s, dir) =>
      EventAnalytics.funnel(Tables.events(s, dir))),

    // Day-7 retention per active day.
    QuerySpec("q65_retention", (s, dir) =>
      EventAnalytics.retention(Tables.events(s, dir), days = 7)
        .orderBy("day")),

    // Fixed-width delay histogram (dashboard distribution panel).
    QuerySpec("q66_histogram", (s, dir) =>
      wide(s, dir)
        .select(floor(col("delay_minutes") / 50).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .select((col("bin") * 50).cast("double").as("bin_lo"), col("n"))
        .orderBy("bin_lo")),

    // Sketch tier: HLL distinct users and approx value quantiles. The
    // sketch ESTIMATES are not reproducible across engines, so the
    // registered check emits what IS cross-engine checkable: the exact
    // distinct count (DuckDB recomputes it) plus per-group boolean
    // VERDICTS that the sketches met their published error contracts —
    // HLL within 3×rsd (rsd = 0.05, Spark's default) of the exact
    // count, and the approx median within the ±1/accuracy RANK window
    // around 0.5 (checked by ranking approx_p50 against the group's
    // own values: strictly-below count can't exceed the upper rank,
    // at-or-below count must reach the lower rank). The oracle replays
    // the exact count and asserts the verdicts as invariants (literal
    // TRUE) — a sketch drifting out of contract flips a boolean and
    // fails the hash compare, so the bound check runs under the driver
    // gate, not only in EventAnalyticsSpec. At 100 TB the approx forms
    // are the point: fixed-size state, no per-group sort or distinct
    // shuffle; the exact twins here are the verification harness, not
    // the production plan.
    QuerySpec("q67_sketches", (s, dir) => {
      // Parallelism floor (r19, the media/ANN pattern): the one-file
      // events scan planned ONE task, serializing the per-row
      // percentile_approx/HLL updates AND the verify-rank pass
      // (measured 6.2 s wall at 1.7 busy cores, 10 jobs / 10 tasks
      // total). The floored rows are 3 narrow columns (~25 B), far
      // cheaper than the sketch-update work they spread; identity at
      // 100 TB where the scan is naturally wide. Sketch verdicts are
      // bound checks that hold for any within-contract merge order,
      // and the repartition is deterministic (sort-before-repartition),
      // so the emitted booleans are stable and oracle-green.
      val ev = graft.engine.Partitioning.parallelized(
        Tables.events(s, dir).select("event_type", "user_id", "value"))
      val eps = 1.0 / 10000 // percentile_approx rank accuracy
      // The sketch agg and the exact count_distinct run as SEPARATE
      // aggregations (r19): mixing a distinct agg with merge-based
      // sketches in one groupBy makes the planner key the partial
      // phase by (event_type, user_id) — the sketch partials then ride
      // one row per DISTINCT USER into the final merge, which ran as a
      // measured 6.5 s single task (plus a 3.6 s contended partial
      // stage). Split, the sketch leg is a plain map-side-combined
      // partial/final pair over 5 groups and the distinct leg the
      // classic two-phase distinct. Emitted values unchanged:
      // exact_users is exact either way, HLL merge is register-wise
      // max (grouping-invariant), and p50_ok/hll_ok are bound checks
      // any within-contract sketch satisfies.
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      val sk = graft.engine.Caches.materialized(ev.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000))
            .as("approx_p50"),
          count(lit(1)).as("n")))
      val ranks = ev
        .join(broadcast(sk.select("event_type", "approx_p50")),
          Seq("event_type"))
        .groupBy("event_type")
        .agg(sum(when(col("value") < col("approx_p50"), 1L).otherwise(0L))
            .as("n_lt"),
          sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L))
            .as("n_le"))
      val out = sk.join(ranks, Seq("event_type"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= lit(3 * 0.05) * col("exact_users")).as("hll_ok"),
          (col("n_lt") <= (lit(0.5) + eps) * col("n") &&
            col("n_le") >= (lit(0.5) - eps) * col("n")).as("p50_ok"))
        .orderBy("event_type")
      out
    }),

    // Sketch tier #2 — count-min heavy hitters: one fixed-size CMS pass
    // over the stream (partial/final merge, ~109 KB of state at
    // eps=0.001 regardless of cardinality), probed for the exact top-20
    // users. The CMS estimate itself is not expressible in DuckDB, so —
    // exactly like q67 — the registered check emits the exact top-k
    // (DuckDB replays it) plus the one-sided error contract as boolean
    // verdicts: est >= exact (a CMS can only overcount) and
    // est - exact <= eps·N (N = total updates). The oracle asserts both
    // as literal-TRUE invariants, putting the sketch contract under the
    // driver gate; EventAnalyticsSpec keeps the value-level assertions.
    // Determinism from the fixed seed + total-ordered top-k. Driver
    // materializations are the ~109 KB sketch bytes (the q88 bloom
    // pattern) and the 20-row top-k list the sketch is probed with —
    // both bounded by construction, independent of data scale.
    QuerySpec("q102_heavy_hitters", (s, dir) => {
      import org.apache.spark.util.sketch.CountMinSketch
      val eps = 0.001
      val ev = Tables.events(s, dir)
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id").asc).limit(20)
      val (bytes, n) = {
        val r = ev.select(
          expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)").as("sk"),
          count(lit(1)).as("n")).head()
        (r.getAs[Array[Byte]](0), r.getLong(1))
      }
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      val rows = top.collect().map { r =>
        val est = cms.estimateCount(r.getLong(0))
        (r.getLong(0), r.getLong(1), est >= r.getLong(1),
          est - r.getLong(1) <= eps * n)
      }
      import s.implicits._
      rows.toSeq.toDF("user_id", "exact_cnt", "est_ge_exact",
          "est_within_eps")
        .orderBy(col("exact_cnt").desc, col("user_id").asc)
    }),

    // Single-pass declarative data-quality audit over orders.
    QuerySpec("q68_quality_report", (s, dir) =>
      QualityReport.audit(Tables.orders(s, dir),
        QualityReport.ordersChecks()).orderBy("check_name")),

    // Schema-evolution scan: two parquet batches with different
    // (widening) schemas read back as one logical table, missing
    // columns null-filled per file.
    QuerySpec("q69_schema_evolution", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = s"${Sinks.scratch}/q69_evo"
      Sinks.writeParquet(docs.where(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang"), s"$base/v1", "overwrite")
      Sinks.writeParquet(docs.where(col("doc_id") % 2 === 1),
        s"$base/v2", "overwrite")
      Ingest.readParquetMerged(s, Seq(s"$base/v1", s"$base/v2"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, IngestSink),

    // CDC snapshot diff between the month-11 and month-12 states of the
    // per-customer totals (added + changed keys with old/new values).
    QuerySpec("q70_snapshot_diff", (s, dir) => {
      val ordersDf = Tables.orders(s, dir)
      Merge.snapshotDiff(
        custTotals(ordersDf.where(month(col("o_orderdate")) <= 11)),
        custTotals(ordersDf), "o_custkey")
        .orderBy("o_custkey")
    }),

    // Sequence packing: concat-then-chunk bin assignment via the
    // two-pass distributed prefix sum (no global window).
    QuerySpec("q71_packing", (s, dir) =>
      Curation.packSequences(Tables.documents(s, dir), "doc_id", "text",
        binTokens = 2048).orderBy("doc_id")),

    // Declarative sessionization via the built-in session_window
    // (streaming-capable merge state managed by Spark).
    QuerySpec("q72_session_window", (s, dir) =>
      EventStream.sessionsViaSessionWindow(Tables.events(s, dir))
        .orderBy("user_id", "session_start")),

    // The NAIVE range-join spelling — deliberately. The session's
    // injected BinnedIntervalJoinRule re-plans it as a binned equi-join
    // (its spec proves no nested loop and row-identical results); this
    // query keeps the rule itself under the oracle gate. Same surge
    // windows as q53, which writes the binning by hand.
    QuerySpec("q73_auto_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("w_start"))
        .agg(count(lit(1)).as("n"))
      val thresh = hourly.agg((avg("n") * 1.3).as("_t"))
      val surge = hourly.crossJoin(broadcast(thresh))
        .where(col("n") >= col("_t"))
        .select(col("w_start"),
          (col("w_start") + expr("INTERVAL 90 MINUTE")).as("w_end"))
      val out = ev.join(surge,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy("w_start")
        .agg(count(lit(1)).as("n_events"),
          Aggregates.sumExact(col("value")).as("value_sum"))
        .orderBy("w_start")
      // The 900 s bin width rides a tag on the analyzed Join node, not
      // a session conf: every action on the returned Dataset (Bench's
      // count, Verify's write) builds a fresh QueryExecution AFTER this
      // function returns, so a conf set-and-restore here would never
      // reach the optimizer run that matters — and a leaked conf would
      // re-shape every later interval join on the session. The tag is
      // copied across optimizer rewrites, so the width follows the plan.
      out.queryExecution.analyzed.foreach {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.isDefined =>
          j.setTagValue(
            graft.plans.BinnedIntervalJoinRule.BinSecondsTag, 900L)
        case _ =>
      }
      out
    }),

    // Gaps-and-islands: per-user maximal consecutive-day streaks.
    QuerySpec("q74_islands", (s, dir) =>
      EventAnalytics.activityIslands(Tables.events(s, dir))
        .orderBy("user_id", "start_day")),

    // Deterministic mode (most common origin city per airline).
    QuerySpec("q75_mode", (s, dir) =>
      Aggregates.modeOriginCity(wide(s, dir)).orderBy("airline_name")),

    // Decile ranking of airlines by mean delay.
    QuerySpec("q76_deciles", (s, dir) =>
      Aggregates.delayDeciles(am(s, dir)).orderBy("airline_name")),

    // Exact-decimal Pearson correlation (order-insensitive sums; the
    // built-in corr's running co-moments are row-order-dependent).
    QuerySpec("q77_corr", (s, dir) =>
      Aggregates.delayPriceCorr(wide(s, dir)).orderBy("airline_name")),

    // Pareto concentration: cumulative share of total delay mass.
    QuerySpec("q78_pareto", (s, dir) =>
      Aggregates.delayPareto(wide(s, dir))
        .orderBy(col("cum_share").asc, col("airline_name").asc)),

    // Semi-structured JSON column: typed extraction from events.props
    // (schema-pinned from_json — no inference pass) + aggregation.
    QuerySpec("q79_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count("k").as("n_k"), sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max"))
        .orderBy("event_type")),

    // Exact-quota stratified sample: 50 docs per language, selected by
    // content-hash order (reproducible, leakage-proof class balancing).
    QuerySpec("q80_quota_sample", (s, dir) =>
      Sampling.quotaSample(Tables.documents(s, dir), "lang", "text",
        quota = 50)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // BPE merge-round statistic: top adjacent-token pairs.
    QuerySpec("q81_pair_stats", (s, dir) =>
      CorpusStats.topPairs(Tables.documents(s, dir), "text", k = 20)
        .orderBy(col("n").desc, col("pair").asc)),

    // Token-granular document chunking (no shuffle — stays in the scan).
    QuerySpec("q82_chunking", (s, dir) =>
      CorpusStats.chunk(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 16).orderBy("doc_id", "chunk_idx")),

    // Robust (MAD / modified z-score) outlier counts per airline.
    QuerySpec("q83_mad_outliers", (s, dir) =>
      Aggregates.madOutliers(wide(s, dir)).orderBy("airline_name")),

    // Nearest other airport by great-circle distance (dim self-join —
    // the fact table is never touched).
    QuerySpec("q84_nearest_airport", (s, dir) =>
      Aggregates.nearestAirport(Aggregates.coordsDf(s)).orderBy("city")),

    // Trailing-window z-score anomaly flags on the monthly delay series.
    QuerySpec("q85_anomalies", (s, dir) =>
      Aggregates.delayAnomalies(am(s, dir))
        .orderBy("airline_name", "month")),

    // The custom PHYSICAL top-k operator (logical node + planner
    // strategy + partial/final SparkPlan with bounded per-key heaps):
    // q18's window semantics without shuffling or sorting the full
    // input — the exchange carries at most k rows per key per input
    // partition. TopKPerKeySpec proves row-equality with row_number
    // and pins the partial→exchange→final plan shape.
    QuerySpec("q87_topk_exec", (s, dir) =>
      graft.plans.TopKPerKey.topK(ap(s, dir), 3, Seq("month"),
        Seq("total_flights" -> false, "airline_name" -> true,
          "origin_city" -> true))
        .orderBy(col("month"), col("total_flights").desc,
          col("airline_name"), col("origin_city"))),

    // Bloom-pruned semi-join reduction: lineitem rows are filtered by a
    // distributed-built Bloom filter over the urgent orders' keys BEFORE
    // the join exchange — only (match rate + fpp) of the fact shuffles.
    // Result must be bit-identical to the plain filtered join the oracle
    // runs (no false negatives; the join removes false positives).
    QuerySpec("q88_bloom_join", (s, dir) =>
      Joins.bloomPrunedInner(
        Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "okey"),
        Tables.orders(s, dir)
          .where(col("o_orderpriority") === "1-URGENT")
          .withColumnRenamed("o_orderkey", "okey"),
        "okey", expectedItems = 100000L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Aggregates.sumExact(col("l_quantity")).as("qty_sum"))
        .orderBy("o_orderstatus")),

    // Fuzzy record linkage: customer-name pairs within edit distance 1
    // via the deletion-neighborhood inverted index (SymSpell shape) —
    // candidates from an equi-join on deletion variants, never all-pairs;
    // the oracle runs the exhaustive spelling.
    QuerySpec("q89_fuzzy_join", (s, dir) =>
      Dedup.editDistancePairs(Tables.customer(s, dir), "c_name")
        .orderBy("name_a", "name_b")),

    // Dense monthly resample with LOCF gap fill: per-customer spend
    // series over the global month axis; the fact is aggregated once,
    // the spine is dims-only, the fill is a per-key window.
    QuerySpec("q90_gap_fill", (s, dir) =>
      Aggregates.monthlyLocf(Tables.orders(s, dir), "o_custkey",
        "o_orderdate", Aggregates.sumExact(col("o_totalprice")),
        "spend_locf")
        .orderBy("o_custkey", "month")),

    // Z-order (Morton) clustering key over (customer, order day) —
    // integer shift/mask interleave, bit-identical across engines; the
    // write-side layout op (Sinks.writeParquetZOrdered) is spec-gated on
    // file-level locality.
    QuerySpec("q91_zorder", (s, dir) =>
      Tables.orders(s, dir).select(col("o_orderkey"),
        Sinks.zValue(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))
          .as("zval"))
        .orderBy("zval", "o_orderkey"), IngestSink),

    // Behavioral path mining: top event-type trigrams under the total
    // per-user (ts, event_id) order — one user-keyed shuffle, trigram
    // partial/final count, deterministic top-k cut.
    QuerySpec("q92_path_trigrams", (s, dir) =>
      EventAnalytics.pathTrigrams(Tables.events(s, dir), 20)),

    // JSONL round-trip through the permissive (quarantining) scan — the
    // LLM corpus interchange format gets the same corrupt-tolerant
    // ingest as CSV (A1 analog; planted-corruption behavior spec'd in
    // IngestSpec).
    QuerySpec("q101_jsonl_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types._
      val path = s"${Sinks.scratch}/q101_jsonl"
      Sinks.writeJsonl(Tables.documents(s, dir)
        .select("doc_id", "lang", "text").filter(col("doc_id") < 300), path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("text", StringType)))
      Ingest.clean(Ingest.readJsonlPermissive(s, Seq(path), schema))
        .orderBy("doc_id")
    }, IngestSink),

    // Packed-example materialization: the actual training sequences the
    // loader feeds the trainer — bin assignment (q71) + order-canonical
    // in-bin concat.
    QuerySpec("q100_packed_examples", (s, dir) =>
      Curation.materializePackedSequences(Tables.documents(s, dir),
        "doc_id", "text", binTokens = 2048).orderBy("bin")),

    // Temperature-scaled language-mixture sampling (sqrt mix): each
    // language's token budget ∝ sqrt(its token total), best-quality
    // docs fill it.
    QuerySpec("q99_temperature_mix", (s, dir) =>
      Sampling.temperatureMixSample(Tables.documents(s, dir), "doc_id",
        "text", totalTokens = 20000L).orderBy("doc_id")),

    // Incremental-ingestion dedup: the NEW slice (doc_id % 3 != 0)
    // LSH-checked against the existing REF corpus (doc_id % 3 == 0) —
    // cross-corpus band join, exact-Jaccard verify. Oracle = exhaustive
    // cross-pair ground truth, so the banding must make a miss at the
    // emitted threshold structurally negligible, not data-lucky:
    // 32 bands × 2 rows puts the miss probability for a pair AT
    // j = 0.5 at (1 − 0.5²)³² ≈ 1e-4 (and ≈ 6e-7 by j = 0.6), where
    // 16 × 4 left ~36 % — one borderline pair away from a spurious
    // gate flip on a data regen. The flatter s-curve admits more
    // low-j candidates; the exact-Jaccard verify discards them.
    QuerySpec("q98_cross_corpus_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashNearDupAcross(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5)
        .orderBy("new_id", "ref_id")
    }),

    // Int8 embedding quantization (storage path): native max-abs +
    // quantize kernels, map-only. The byte array serializes to a
    // comma-joined string for the gate (the oracle compare cannot sort
    // array cells); the operator API keeps the real array<byte>.
    QuerySpec("q97_embedding_quantize", (s, dir) =>
      Similarity.quantizeEmbeddings(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          array_join(col("qvec").cast("array<string>"), ",").as("qvec"))
        .orderBy("vec_id")),

    // Unigram-LM document scoring (perplexity proxy): per-doc mean token
    // log-probability under the corpus's own unigram distribution,
    // 1000-token vocab broadcast to the scoring join.
    QuerySpec("q96_unigram_logprob", (s, dir) =>
      CorpusStats.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // PII scrub: emails/phones → placeholders + per-doc audit counts,
    // all codegen'd regex projections (map-only at 100 TB). The corpus
    // is deterministically augmented with synthetic PII derived from
    // doc_id so the scrubber provably fires on every row; the oracle
    // builds the identical augmentation.
    QuerySpec("q94_pii_scrub", (s, dir) => {
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex.org call 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      Privacy.scrubPii(aug, "text").orderBy("doc_id")
    }),

    // Benchmark decontamination: drop training docs sharing any 8-gram
    // with the (broadcast) eval set — here the deterministic pseudo-eval
    // slice doc_id % 97 == 0.
    QuerySpec("q95_decontamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 8).select("doc_id", "text").orderBy("doc_id")
    }),

    // A5 (scale path) — the PARALLEL CSV sink round-trip: same cache
    // table as q33 but one file per writer, no single-task serial tail.
    // The read-back proves the directory of part files is equivalent to
    // q33's single file.
    QuerySpec("q93_csv_parallel_sink", (s, dir) => {
      import org.apache.spark.sql.types._
      val path = s"${Sinks.scratch}/q93_csv"
      Sinks.writeCsvParallel(ap(s, dir), path)
      val schema = StructType(Seq(
        StructField("airline_name", StringType),
        StructField("month", IntegerType),
        StructField("origin_city", StringType),
        StructField("total_flights", LongType),
        StructField("delayed_flights", LongType)))
      Ingest.readCsv(s, Seq(path), schema)
        .orderBy("airline_name", "month", "origin_city")
    }, IngestSink),

    // Incremental view maintenance: month-12 delta rollup combined into
    // the historical rollup by group-wise ADDITION — O(delta), the
    // history is never rescanned (contrast q63's replace-style upsert,
    // which recomputes the changed groups from source). Measures stay
    // DECIMAL through the combine so increment == full recompute
    // bit-for-bit; cast to double only at the edge.
    QuerySpec("q86_incremental_agg", (s, dir) => {
      val ordersDf = Tables.orders(s, dir)
      Merge.combineAdditive(
        custTotalsDec(ordersDf.where(month(col("o_orderdate")) <= 11)),
        custTotalsDec(ordersDf.where(month(col("o_orderdate")) === 12)),
        "o_custkey", Seq("n_orders", "spend_dec"))
        .select(col("o_custkey"), col("n_orders"),
          col("spend_dec").cast("double").as("total_spend"))
        .orderBy("o_custkey")
    }),

  )

  /** q201's target proportions (shared with the oracle). */
  private[graft] val MixtureTargets: Seq[(String, Double)] = Seq(
    "en" -> 0.4, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1,
    "zh" -> 0.1, "ja" -> 0.05)

  /** [[custTotals]] with the money measure kept as exact DECIMAL (for
    * the additive combine of q86). */
  private def custTotalsDec(ordersDf: DataFrame): DataFrame =
    ordersDf.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .as("spend_dec"))

  /** Per-customer lifetime order totals (shared by q63/q70). */
  private def custTotals(ordersDf: DataFrame): DataFrame =
    ordersDf.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Aggregates.sumExact(col("o_totalprice")).as("total_spend"))

  /** SQL twin of [[custTotals]] under a WHERE predicate. */
  private[graft] def custTotalsSql(pred: String): String =
    s"""SELECT o_custkey, COUNT(*) AS n_orders,
       |  ${Aggregates.sumExactSql("o_totalprice")} AS total_spend
       |FROM orders WHERE $pred GROUP BY o_custkey""".stripMargin

  private[graft] val filterMonths = Seq(1, 2, 3)
  private[graft] val filterAirlines = (1 to 5).map(i => f"Supplier#$i%09d")

  def oracleSql: Map[String, String] = SparkOracles.sql
}
