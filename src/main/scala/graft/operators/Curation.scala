package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Aggregates
import graft.functions.TextFunctions

/** End-to-end training-corpus curation: the composition a 100 TB text
  * pipeline actually runs — heuristic quality/language gating, near-dup
  * removal, and token-budget sampling. Everything is built from the
  * operators in [[Dedup]] / [[graft.functions.TextFunctions]], so each
  * stage inherits their scale properties (codegen'd kernels, inverted-
  * index candidate generation, anti-join survivor filtering).
  */
object Curation {

  /** Quality/language gate: keep documents whose heuristic quality score
    * clears `minQuality` and whose predicted language is `lang`. Pure
    * codegen'd projections — runs at scan speed. */
  def qualityGate(docs: DataFrame, textCol: String,
      minQuality: Double, lang: String): DataFrame =
    docs.filter(TextFunctions.qualityScore(col(textCol)) >= minQuality &&
      TextFunctions.langId(col(textCol)) === lang)

  /** Flagship curation: gate → MinHash/LSH near-dup clustering over the
    * gated corpus → keep cluster representatives + uninvolved docs. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5, lang: String = "en",
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // The gate feeds two consumers (the near-dup pipeline and the survivor
    // anti-join); materialize it once so the scoring scan runs once.
    val gated = graft.engine.Caches.materialized(
      qualityGate(docs, textCol, minQuality, lang))
    val clusters = Dedup.dedupClusters(
      Dedup.minhashNearDup(gated, idCol, textCol, n = n, threshold = threshold))
    Dedup.survivors(gated, idCol, clusters)
  }

  /** Per-language corpus profile — the summary a curator reads before and
    * after gating: document/token volumes, quality stats, and the gate
    * pass count per predicted language. One scan (all features are
    * codegen'd projections), one partial/final aggregation on a
    * language-cardinality key; every aggregate is exact/deterministic
    * ([[Aggregates.avgExact]] for the float mean), so the report is
    * DuckDB-oracle-able and reproducible at any scale. */
  def corpusProfile(docs: DataFrame, textCol: String,
      minQuality: Double = 0.5): DataFrame =
    docs.select(
        TextFunctions.langId(col(textCol)).as("lang"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        TextFunctions.bpeTokenCount(col(textCol)).cast("long").as("n_bpe"),
        TextFunctions.qualityScore(col(textCol)).as("quality"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_bpe").as("total_bpe_tokens"),
        Aggregates.avgExact(col("quality")).as("mean_quality"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"),
        sum(when(col("quality") >= minQuality, 1L).otherwise(0L))
          .as("n_gate_pass"))

  /** SQL twin of [[corpusProfile]] (DuckDB; HUGEINT sums cast back). */
  def corpusProfileSql(minQuality: Double = 0.5): String = {
    import TextFunctions.{Sql => T}
    s"""WITH t AS (SELECT ${T.langId("text")} AS lang,
       |    CAST(${T.tokenCount("text")} AS BIGINT) AS n_tokens,
       |    CAST(${T.bpeTokenCount("text")} AS BIGINT) AS n_bpe,
       |    ${T.qualityScore("text")} AS quality
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       |  ${Aggregates.avgExactSql("quality")} AS mean_quality,
       |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       |  CAST(SUM(CASE WHEN quality >= $minQuality THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_gate_pass
       |FROM t GROUP BY lang""".stripMargin
  }

  /** Token-budget sampling: best-quality-first documents until the
    * cumulative BPE token count reaches `budget`.
    *
    * The naive formulation is a global-window cumulative sum — a single
    * sorted partition, a non-starter at scale. This is the distributed
    * two-pass form: range-repartition on the order key, per-partition
    * prefix sums via a window keyed on the physical partition id, then a
    * per-partition offset (the tiny totals table, broadcast back). The
    * result is bit-identical to the global window regardless of where the
    * sampled range boundaries fall, because offsets are computed from the
    * actual partition totals. */
  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs.select(col(idCol),
      TextFunctions.qualityScore(col(textCol)).as("quality"),
      TextFunctions.bpeTokenCount(col(textCol)).cast("long").as("n_tokens"))
    val local = graft.engine.Caches.materialized(base
      .repartitionByRange(p, col("quality").desc, col(idCol).asc)
      .withColumn("pid", spark_partition_id())
      .withColumn("local_cum", sum("n_tokens").over(
        Window.partitionBy("pid")
          .orderBy(col("quality").desc, col(idCol).asc))))
    val totals = local.groupBy("pid").agg(max("local_cum").as("ptotal"))
    // P rows — the offset window is over partition METADATA, not data.
    val offsets = totals.withColumn("offset",
      coalesce(sum("ptotal").over(
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), Seq("pid"))
      .withColumn("cum_tokens", col("local_cum") + col("offset"))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col("quality"), col("n_tokens"), col("cum_tokens"))
  }

  /** SQL twin of [[tokenBudgetSample]] (the global-window formulation —
    * equivalent by construction, viable at oracle scale). */
  def tokenBudgetSampleSql(budget: Long,
      from: String = "documents"): String = {
    import TextFunctions.{Sql => T}
    s"""WITH t AS (SELECT doc_id, ${T.qualityScore("text")} AS quality,
       |    CAST(${T.bpeTokenCount("text")} AS BIGINT) AS n_tokens
       |  FROM $from),
       |c AS (SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, quality, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens <= $budget""".stripMargin
  }

  /** Materialize the packed training examples [[packSequences]] only
    * ASSIGNS: one row per bin with the documents concatenated in id
    * order — the actual example a data loader feeds the trainer.
    *
    * The aggregation-order trap: `collect_list` order is partition- and
    * retry-dependent, so concatenating its raw output is
    * non-deterministic. Canonicalize instead: collect `(id, text)`
    * structs, `array_sort` (struct ordering = field order, id first),
    * then project and join — deterministic under any partitioning, same
    * trick as the vocabulary prune's pad-sort-strip. Bin sizes are
    * bounded by `binTokens` (one straddling doc), so per-bin state in
    * the collect is bounded — this is NOT an unbounded group concat. */
  def materializePackedSequences(docs: DataFrame, idCol: String,
      textCol: String, binTokens: Long): DataFrame = {
    // Text rides the assignment's prefix-sum shuffle (carryCols) — ONE
    // corpus scan, no second scan + doc-keyed re-join.
    val binned = packSequences(docs, idCol, textCol, binTokens,
      carryCols = Seq(textCol))
    binned
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol), col(textCol)))),
            s => s.getField(textCol)),
          " ").as("packed_text"))
  }

  /** Oracle twin of [[materializePackedSequences]] (`documents`
    * hard-wired; `string_agg ORDER BY` is DuckDB's in-group order). */
  def materializePackedSequencesSql(binTokens: Long): String =
    s"""WITH b AS (${packSequencesSql(binTokens)})
       |SELECT bin, COUNT(*) AS n_docs,
       |  CAST(SUM(b.n_tokens) AS BIGINT) AS bin_tokens,
       |  string_agg(d.text, ' ' ORDER BY b.doc_id) AS packed_text
       |FROM b JOIN documents d USING (doc_id)
       |GROUP BY bin ORDER BY bin""".stripMargin

  /** Benchmark decontamination: drop every corpus document sharing at
    * least one word `n`-gram with the held-out benchmark/eval set — the
    * standard train/test-overlap removal an LLM pipeline runs before
    * training (documents shorter than n tokens match on their whole
    * text, so verbatim eval docs are always caught).
    *
    * Scale shape: the benchmark side is an eval set — kilobytes to
    * megabytes against a 100 TB corpus — so its distinct shingle set is
    * BROADCAST and the contamination test is a map-side semi-join on
    * the corpus shingle explode; the corpus never shuffles. The final
    * keep-filter is a LEFT ANTI against the (small) contaminated-id
    * set. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val corpusShingles = corpus.select(col(idCol),
      explode(Dedup.shingles(col(textCol), n)).as("s"))
    val benchShingles = bench
      .select(explode(Dedup.shingles(col(textCol), n)).as("s")).distinct()
    val contaminated = corpusShingles
      .join(broadcast(benchShingles), Seq("s"))
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Oracle twin of [[decontaminate]] (`documents` corpus, benchmark =
    * `doc_id % benchMod = 0` rows). */
  def decontaminateSql(n: Int = 8, benchMod: Int = 97): String = {
    val sh = Dedup.shinglesSql(n)
    s"""WITH csh AS (SELECT doc_id, unnest($sh) AS s FROM documents),
       |bsh AS (SELECT DISTINCT unnest($sh) AS s FROM documents
       |        WHERE doc_id % $benchMod = 0),
       |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s))
       |SELECT doc_id, text FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin
  }

  /** [[decontaminate]] with a BLOOM-PRUNED gram join — the shape for
    * benchmark sets too large to broadcast. Plain decontamination stays
    * map-side only while the benchmark's distinct grams fit in a
    * broadcast hash relation (~30-60 bytes per gram per executor); a
    * real decontamination list (the union of every eval suite plus
    * their paraphrase expansions) outgrows that, and the fallback is a
    * full shuffle of the corpus's len(text)-rows-per-doc gram explode —
    * the whole cost at 100 TB, with almost every shuffled gram missing.
    * A Bloom filter carries the same no-false-negative membership at
    * ~10 BITS per gram ([[graft.engine.Joins.bloomKeyFilter]] —
    * distributed build, one driver round-trip of the filter bytes,
    * ~1.2 MB per million grams at 1% fpp), so the prune stays map-side
    * two orders of magnitude past the broadcast limit; only the ≤fpp
    * surviving grams reach the exchange. Result is BIT-EQUAL to
    * [[decontaminate]]: no false negatives, and false positives are
    * eliminated by the exact gram join that follows — so the q95 oracle
    * adjudicates this plan unchanged (spec-asserted equality, and the
    * q88 bloom-join contract covers the filter itself). At bench SF the
    * fixed build cost dominates (the broadcast twin wins there, q95 vs
    * q184 in BENCH_NOTES); the crossover is exactly where broadcasting
    * stops being an option. */
  def decontaminateBloomPruned(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val benchShingles = graft.engine.Caches.materialized(bench
      .select(explode(Dedup.shingles(col(textCol), n)).as("s")).distinct())
    val expected = math.max(benchShingles.count(), 1L)
    val corpusShingles = corpus.select(col(idCol),
        explode(Dedup.shingles(col(textCol), n)).as("s"))
      .where(graft.engine.Joins.bloomKeyFilter(benchShingles, "s",
        expected, fpp))
    val contaminated = corpusShingles
      .join(benchShingles, Seq("s"))
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-document N-GRAM NOVELTY against a reference corpus: the
    * fraction of a document's DISTINCT word `n`-grams that occur
    * nowhere in the reference — the memorization/contamination AUDIT
    * metric (novel-n-gram rate is how memorization studies quantify
    * verbatim regurgitation, and how a curation pass scores "is this
    * batch genuinely new text or a paraphrase-shuffle of what we
    * already have"). [[decontaminate]] is the binary decision; this is
    * the measurement. Returns `(id, n_grams, n_novel, novelty_frac)`;
    * the shingle convention matches the repetition metrics (a doc
    * shorter than `n` tokens contributes its whole text as one
    * shingle, so `n_grams >= 1` and the division is total).
    *
    * Scale shape: the reference collapses to its distinct gram set
    * once (broadcast when small, gram-keyed equi-join otherwise), the
    * document side is one explode + distinct + doc-keyed count —
    * the q95 join shape with a count instead of an anti-join. */
  def ngramNovelty(docs: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val docGrams = docs.select(col(idCol),
      explode(Dedup.shingles(col(textCol), n)).as("s")).distinct()
    val refGrams = ref
      .select(explode(Dedup.shingles(col(textCol), n)).as("s")).distinct()
      .withColumn("seen", lit(1))
    docGrams.join(refGrams, Seq("s"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Oracle twin of [[ngramNovelty]] over `documents` split by
    * `docPred` / `refPred`. */
  def ngramNoveltySql(n: Int, docPred: String, refPred: String): String = {
    val sh = Dedup.shinglesSql(n)
    s"""WITH dg AS (SELECT DISTINCT doc_id, unnest($sh) AS s
       |  FROM documents WHERE $docPred),
       |rg AS (SELECT DISTINCT unnest($sh) AS s
       |  FROM documents WHERE $refPred)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN rg.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  round(CAST(SUM(CASE WHEN rg.s IS NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS novelty_frac
       |FROM dg LEFT JOIN rg ON dg.s = rg.s
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Sequence packing (doc granularity): concatenate the corpus in
    * `idCol` order and chunk it into training bins of `binTokens`
    * tokens — each document's bin is `floor(tokens_before_it /
    * binTokens)`, the standard concat-then-chunk assignment an LLM data
    * loader performs before batching (a boundary-straddling document
    * stays in the bin it starts in).
    *
    * Same two-pass distributed prefix sum as [[tokenBudgetSample]]
    * (range partition → per-partition running sums → broadcast the
    * P-row offset table back), so there is no global single-partition
    * window anywhere in the plan. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      binTokens: Long, carryCols: Seq[String] = Nil): DataFrame = {
    require(binTokens > 0, s"binTokens must be > 0, got $binTokens")
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // `carryCols` ride the prefix-sum shuffle instead of being re-joined
    // by a second scan later — at 100 TB, carrying the text through the
    // one range exchange beats scanning the corpus twice and shuffling
    // the text through a doc-keyed join anyway.
    val base = docs.select(col(idCol) +: carryCols.map(col) :+
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"): _*)
    val local = graft.engine.Caches.materialized(base
      .repartitionByRange(p, col(idCol).asc)
      .withColumn("pid", spark_partition_id())
      .withColumn("local_cum", sum("n_tokens").over(
        Window.partitionBy("pid").orderBy(col(idCol).asc))))
    val totals = local.groupBy("pid").agg(max("local_cum").as("ptotal"))
    val offsets = totals.withColumn("offset",
      coalesce(sum("ptotal").over(
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), Seq("pid"))
      .withColumn("cum_tokens", col("local_cum") + col("offset"))
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div ${binTokens}L"))
      .select(col(idCol) +: carryCols.map(col) :+ col("n_tokens") :+
        col("bin"): _*)
  }

  /** Sequential FILTER FUNNEL — the ablation table curation papers
    * publish (FineWeb, Dolma: "gate X drops N docs of the survivors of
    * the gates before it"): gates apply IN ORDER, and each document is
    * attributed to the FIRST gate it fails, so the per-gate drop counts
    * are the marginal effect of each gate in sequence, not independent
    * overlap-confounded counts. Returns one row per gate:
    * `(stage, gate, n_in, n_dropped, n_out)` with
    * `n_out(i) = n_in(i+1)` and `n_out(last) = survivors`.
    *
    * Scale shape: ONE corpus scan — the first-failing-gate index is a
    * single nested-CASE projection, collapsed by a map-side-combined
    * count — then all funnel arithmetic runs on the gates-sized frame
    * (the unpartitioned cumulative window is over |gates| rows, never
    * the corpus). */
  def filterFunnel(docs: DataFrame, gates: Seq[(String, Column)],
      materialize: Boolean = true): DataFrame = {
    require(gates.nonEmpty, "need at least one gate")
    val spark = docs.sparkSession
    import spark.implicits._
    // A NULL gate is a FAIL (coalesced to false): `filter(passes)`
    // drops a row whose gate is NULL, so the funnel must attribute it
    // to that gate rather than let it fall through to the -1 survivors.
    val firstFail = gates.zipWithIndex.foldRight(lit(-1)) {
      case (((_, g), i), acc) =>
        when(!coalesce(g, lit(false)), lit(i)).otherwise(acc)
    }
    // `materialize = true` (standalone default): the gate-counts frame
    // is consumed twice (total + per-gate join), so over a raw corpus
    // scan the eager cache halves the scan count. `false` is for
    // callers whose `docs` is ALREADY a cached stage (the q209/q214
    // pipelines): re-running the tiny ff-aggregation over cached rows
    // in both legs of ONE action is cheaper than paying a sequential
    // driver barrier job just to avoid it (r18 verdict: this family's
    // wall is serial-job-count-bound).
    val rawCounts = docs.select(firstFail.as("ff")).groupBy("ff")
      .agg(count(lit(1)).as("n"))
    val counts =
      if (materialize) graft.engine.Caches.materialized(rawCounts)
      else rawCounts
    val totalDf = counts.agg(coalesce(sum("n"), lit(0L)).as("total"))
    val gateNames = gates.map(_._1).zipWithIndex
      .map { case (g, i) => (i, g) }.toDF("stage", "gate")
    val cumBefore = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, -1)
    gateNames
      .join(counts.withColumnRenamed("ff", "stage"), Seq("stage"), "left")
      .withColumn("n_dropped", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(totalDf))
      .withColumn("n_in",
        col("total") - coalesce(sum("n_dropped").over(cumBefore), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .select("stage", "gate", "n_in", "n_dropped", "n_out")
  }

  /** SQL twin of [[filterFunnel]], NULL gates failing the same way:
    * gates as (name, boolean-SQL) pairs in the same order, over `from`
    * (default the raw `documents` table; `prelude` lets callers prepend
    * CTEs — e.g. a computed is-survivor relation — that `from` refers
    * to). */
  def filterFunnelSql(gates: Seq[(String, String)],
      prelude: String = "", from: String = "documents"): String = {
    val cases = gates.zipWithIndex
      .map { case ((_, g), i) => s"WHEN NOT COALESCE(($g), FALSE) THEN $i" }
      .mkString(" ")
    val values = gates.zipWithIndex
      .map { case ((n, _), i) => s"($i, '$n')" }.mkString(", ")
    val pre = if (prelude.isEmpty) "" else prelude + ",\n"
    s"""WITH ${pre}ff AS (SELECT CASE $cases ELSE -1 END AS ff FROM $from),
       |counts AS (SELECT ff, count(*) AS n FROM ff GROUP BY ff),
       |total AS (SELECT COALESCE(SUM(n), 0) AS total FROM counts),
       |gates(stage, gate) AS (VALUES $values),
       |j AS (SELECT g.stage, g.gate, COALESCE(c.n, 0) AS n_dropped
       |  FROM gates g LEFT JOIN counts c ON c.ff = g.stage)
       |SELECT CAST(stage AS INTEGER) AS stage, gate,
       |  CAST(total - COALESCE(SUM(n_dropped) OVER (ORDER BY stage
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS n_in,
       |  CAST(n_dropped AS BIGINT) AS n_dropped,
       |  CAST(total - COALESCE(SUM(n_dropped) OVER (ORDER BY stage
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    - n_dropped AS BIGINT) AS n_out
       |FROM j CROSS JOIN total ORDER BY stage""".stripMargin
  }

  /** Overlapping-window CHUNKING — the RAG/embedding ingestion stage:
    * split each document into windows of `windowTokens` tokens sliding
    * by `strideTokens` (consecutive chunks overlap by `window−stride`,
    * so no sentence is ever split across a hard boundary without also
    * appearing whole in a neighbor). Emits `(id, chunk_id, start_tok,
    * n_tokens, chunk_text)` — chunk ids and offsets are pure arithmetic
    * on the token count, so the assignment is deterministic under any
    * partitioning and exactly replayable in SQL. A document shorter
    * than one window is its own single chunk; the last chunk starts at
    * the final stride step and is clipped, never padded.
    *
    * Scale shape: one projection (split + size), one `posexplode` of a
    * per-doc `sequence(0, n_chunks−1)` (output is chunk-sized — the
    * same row multiplication the downstream embedder pays anyway), and
    * codegen'd `slice`/`array_join` for the chunk text. Map-only: no
    * shuffle anywhere. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"window must be >= 1, got $windowTokens")
    require(strideTokens >= 1 && strideTokens <= windowTokens,
      s"stride must be in [1, window], got $strideTokens")
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    val nChunks = floor(
      (greatest(n - windowTokens, lit(0)) + strideTokens - 1).cast("double") /
        strideTokens).cast("int") + 1
    docs.select(col(idCol), toks.as("_toks"), n.as("_n"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_id", "_k")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        (col("_k") * strideTokens).cast("long").as("start_tok"),
        size(slice(col("_toks"), col("_k") * strideTokens + 1,
          lit(windowTokens))).cast("long").as("n_tokens"),
        array_join(slice(col("_toks"), col("_k") * strideTokens + 1,
          lit(windowTokens)), " ").as("chunk_text"))
  }

  /** Oracle twin of [[chunkDocuments]] over `documents` (DuckDB
    * `list_slice` is 1-based inclusive-end and clips like Spark's
    * `slice`). */
  def chunkDocumentsSql(windowTokens: Int, strideTokens: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n FROM documents),
       |c AS (SELECT doc_id, toks, n,
       |    unnest(range((greatest(n - $windowTokens, 0) + $strideTokens - 1)
       |      // $strideTokens + 1)) AS k
       |  FROM t)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |  CAST(k * $strideTokens AS BIGINT) AS start_tok,
       |  CAST(len(list_slice(toks, k * $strideTokens + 1,
       |    least(k * $strideTokens + $windowTokens, n))) AS BIGINT)
       |    AS n_tokens,
       |  array_to_string(list_slice(toks, k * $strideTokens + 1,
       |    least(k * $strideTokens + $windowTokens, n)), ' ')
       |    AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** NFC-NORMALIZED dedup groups: collapse documents whose texts are
    * byte-distinct but CANONICALLY EQUIVALENT (Unicode NFC, UAX #15) —
    * the same word carried as precomposed `é` (U+00E9) by one source
    * and decomposed `e`+U+0301 by another is one piece of content, and
    * byte-keyed exact dedup (q22's md5 groups) can never see that. A
    * production pipeline normalizes BEFORE any fingerprint is taken;
    * this operator is that stage plus the dedup it unlocks, reporting
    * per normalized text the representative id, the row count, and how
    * many distinct RAW byte forms it collapsed (`n_raw_forms > 1` ⇔
    * normalization did work byte-exact dedup would have missed).
    *
    * Scale shape: one projection through the codegen'd
    * [[graft.functions.TextKernels.nfcNormalize]] kernel (quick-check
    * scan, zero allocation on already-NFC text — the overwhelming
    * majority of a real crawl), then a single hash aggregation keyed on
    * the normalized text — exactly q22's plan with the kernel fused
    * into the scan. No extra shuffle versus plain exact dedup. */
  def nfcDedupGroups(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.groupBy(graft.functions.TextKernels.nfcNormalizeCol(col(textCol))
        .as("norm_text"))
      .agg(min(col(idCol)).as("rep_id"),
        count(lit(1)).as("n_rows"),
        countDistinct(col(textCol)).as("n_raw_forms"))
      .select("rep_id", "n_rows", "n_raw_forms", "norm_text")

  /** The q179 mixed-normal-form corpus, shared between the Spark query
    * and the DuckDB oracle: every document arrives TWICE, once with
    * `marker` re-spelled with a decomposed accent (`base` + combining
    * acute U+0301 — the NFD form a macOS-origin or CMS-mangled crawl
    * emits) and once precomposed (U+00E9) — the crawl-dedup fixture
    * where the two copies are byte-distinct iff the document contains
    * the marker word. Both sides build it with literal `replace`, so
    * the corpora are bit-identical by construction. */
  val NfdMarker = "key"
  val NfdReplacement = "ke\u0301y" // k, e, U+0301 combining acute
  val NfcReplacement = "k\u00e9y" // k, U+00E9 precomposed

  /** Oracle twin of [[nfcDedupGroups]] over the two-normal-form corpus
    * (DuckDB `nfc_normalize` = utf8proc's UAX #15 composition, the
    * same canonical composition as the Java kernel). */
  def nfcVariantDedupSql(): String =
    s"""WITH variants AS (
       |  SELECT doc_id, replace(text, '$NfdMarker', '$NfdReplacement')
       |    AS text FROM documents
       |  UNION ALL
       |  SELECT doc_id, replace(text, '$NfdMarker', '$NfcReplacement')
       |    AS text FROM documents)
       |SELECT MIN(doc_id) AS rep_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw_forms,
       |  nfc_normalize(text) AS norm_text
       |FROM variants GROUP BY nfc_normalize(text)
       |ORDER BY rep_id, norm_text""".stripMargin

  // ------------------------------------------------- encoding hygiene

  /** Mojibake digraphs: UTF-8 bytes decoded as Latin-1/cp1252 somewhere
    * upstream turn `é`/`ü` into `Ã©`/`Ã¼` and a right quote into
    * `â€™` — the most common double-encoding signatures in web crawls.
    * Literal strings (no regex), so both engines count them with exact
    * `replace` length arithmetic. */
  val MojibakePatterns: Seq[String] = Seq(
    "\u00c3\u00a9", // Ã© (é through Latin-1)
    "\u00c3\u00bc", // Ã¼ (ü through Latin-1)
    "\u00e2\u20ac\u2122") // â€™ (’ through cp1252)

  /** Bare control characters (C0 minus `\t`/`\n`/`\r`) — binary junk or
    * transport corruption; never legitimate in corpus text. Hex-class
    * regex, identical in Java regex and RE2. */
  val CtrlClass: String = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"

  /** ENCODING-HYGIENE audit — the mojibake gate every crawl pipeline
    * runs before any text op trusts the bytes: per document, the count
    * of UTF-8-as-Latin-1 double-encoding digraphs ([[MojibakePatterns]]),
    * of U+FFFD replacement characters (a decoder already gave up
    * upstream), and of bare C0 control characters; `clean = 1` iff all
    * three are zero. Downstream, dirty documents are either dropped or
    * routed to a re-decode pass — both need exactly this table.
    *
    * Scale shape: map-only projection — literal `replace` length
    * arithmetic plus one hex-class `regexp_count`, all codegen'd; no
    * shuffle, flat wall at any corpus size. */
  /** Exact-occurrence count of a literal pattern (codepoint-length
    * replace arithmetic \u2014 the same spelling both engines share). */
  private def literalCount(t: Column, pat: String): Column =
    ((length(t) - length(replace(t, lit(pat), lit("")))) /
      lit(pat.length)).cast("int")

  /** Total encoding-artifact count \u2014 the single-expression form of the
    * [[encodingAudit]] verdict (mojibake digraphs + U+FFFD + bare C0
    * controls), for callers that gate on "any artifact at all" (the
    * q209 pipeline funnel) without the per-category columns. */
  def encodingDirtyCount(t: Column): Column =
    MojibakePatterns.map(literalCount(t, _)).reduce(_ + _) +
      literalCount(t, "\ufffd") +
      regexp_count(t, lit(CtrlClass)).cast("int")

  /** DuckDB twin of [[encodingDirtyCount]] over a text expression. */
  def encodingDirtyCountSql(x: String): String = {
    def c(sqlPat: String, cp: Int) =
      s"CAST((length($x) - length(replace($x, $sqlPat, ''))) / $cp AS INTEGER)"
    val moji = Seq(
      ("chr(195)||chr(169)", 2),
      ("chr(195)||chr(188)", 2),
      ("chr(226)||chr(8364)||chr(8482)", 3))
    (moji.map((c _).tupled) :+ c("chr(65533)", 1)).mkString(" + ") +
      s" + CAST(len(regexp_extract_all($x, '$CtrlClass')) AS INTEGER)"
  }

  def encodingAudit(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val moji = MojibakePatterns.map(literalCount(t, _)).reduce(_ + _)
    docs.select(col(idCol),
      moji.as("n_mojibake"),
      literalCount(t, "\ufffd").as("n_replacement"),
      regexp_count(t, lit(CtrlClass)).cast("int").as("n_ctrl"))
      .withColumn("clean",
        (col("n_mojibake") + col("n_replacement") + col("n_ctrl") === 0)
          .cast("int"))
  }

  /** Deterministic artifact planting for the q193 harness: every 7th
    * document gains a mojibake digraph, every 11th a replacement
    * character, every 13th a bare BEL — the overlaps (77, 91, …)
    * exercise multi-artifact documents. Operator input only; the
    * detector never sees the plant schedule. */
  def plantEncodingArtifacts(id: Column, text: Column): Column = {
    val m = when(id % 7 === 0,
      concat(text, lit(" caf\u00c3\u00a9"))).otherwise(text)
    val r = when(id % 11 === 0, concat(m, lit("\ufffd"))).otherwise(m)
    when(id % 13 === 0, concat(r, lit("\u0007"))).otherwise(r)
  }

  /** SQL twins of [[plantEncodingArtifacts]]'s three chained steps,
    * each a CASE over the previous step's `text` (planted bytes spelled
    * `chr(codepoint)` so the SQL stays ASCII-clean) — the one SQL
    * spelling of the q193 schedule, composed by both [[encodingAuditSql]]
    * and the q209 pipeline oracle. */
  val PlantEncodingArtifactsSqlSteps: Seq[String] = Seq(
    "CASE WHEN doc_id % 7 = 0 THEN text || ' caf' || chr(195) || chr(169)" +
      " ELSE text END",
    "CASE WHEN doc_id % 11 = 0 THEN text || chr(65533) ELSE text END",
    "CASE WHEN doc_id % 13 = 0 THEN text || chr(7) ELSE text END")

  /** Oracle twin of [[plantEncodingArtifacts]] → [[encodingAudit]]
    * (DuckDB; counts via the same replace length arithmetic —
    * `length`/`replace` are codepoint-exact in both engines). */
  def encodingAuditSql(): String = {
    def countLit(sqlPat: String, cp: Int) =
      s"CAST((length(text) - length(replace(text, $sqlPat, ''))) / $cp AS INTEGER)"
    val mojiSql = Seq(
      ("chr(195)||chr(169)", 2),
      ("chr(195)||chr(188)", 2),
      ("chr(226)||chr(8364)||chr(8482)", 3))
    // NB cp1252 0x80/0x99 decode to U+20AC/U+2122 when mis-read — the
    // digraph is â(U+00E2) €(U+20AC) ™(U+2122): chr args are codepoints.
    val moji = mojiSql.map((countLit _).tupled).mkString(" + ")
    val Seq(s1, s2, s3) = PlantEncodingArtifactsSqlSteps
    s"""WITH m AS (SELECT doc_id, $s1 AS text FROM documents),
       |r AS (SELECT doc_id, $s2 AS text FROM m),
       |aug AS (SELECT doc_id, $s3 AS text FROM r),
       |audit AS (SELECT doc_id,
       |    $moji AS n_mojibake,
       |    ${countLit("chr(65533)", 1)} AS n_replacement,
       |    CAST(len(regexp_extract_all(text, '$CtrlClass'))
       |      AS INTEGER) AS n_ctrl
       |  FROM aug)
       |SELECT doc_id, n_mojibake, n_replacement, n_ctrl,
       |  CASE WHEN n_mojibake + n_replacement + n_ctrl = 0
       |    THEN 1 ELSE 0 END AS clean
       |FROM audit""".stripMargin
  }

  // ----------------------------------------------------- dataset card

  /** DATASET CARD — the one-artifact corpus summary a release ships
    * with ("Datasheets for Datasets", Gebru et al. 2021): volumes,
    * language composition, exact-duplicate rate, heuristic quality,
    * PII incidence, and safety-block rate, as a long (metric, value)
    * table. Complements q167 (the per-gate ablation FUNNEL) — the
    * funnel says what a run dropped and why; the card says what the
    * released corpus IS.
    *
    * Shape: one materialized per-doc projection feeds a 1-row global
    * aggregate (unpivoted to metric rows) plus a language-cardinality
    * share rollup — two consumers, one corpus scan. Every value is
    * exact arithmetic or the exact-decimal mean, rounded once. */
  def datasetCard(docs: DataFrame, textCol: String,
      langCol: String): DataFrame = {
    val t = col(textCol)
    val allSafetyWords = SafetyCategories.flatMap(_._2)
    val perDoc = graft.engine.Caches.materialized(docs.select(
      col(langCol).as("lang"),
      // The dup-rate distinct shuffles 16-byte hashes, never the
      // documents themselves (the exchange-weight rule every dedup op
      // here follows; the oracle twin hashes identically).
      md5(t.cast("binary")).as("text_fp"),
      TextFunctions.tokenCount(t).cast("long").as("n_tokens"),
      length(t).cast("long").as("n_chars"),
      TextFunctions.qualityScore(t).as("quality"),
      ((size(regexp_extract_all(t, lit(Privacy.EmailPattern), lit(0))) +
        size(regexp_extract_all(t, lit(Privacy.PhonePattern), lit(0)))) > 0)
        .cast("long").as("has_pii"),
      (TextFunctions.markerHits(t, allSafetyWords) > 0).cast("long")
        .as("blocked")))
    val a = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      sum("n_chars").as("total_chars"),
      countDistinct(col("text_fp")).as("n_distinct"),
      Aggregates.avgExact(col("quality")).as("mean_quality"),
      sum("has_pii").as("n_pii"),
      sum("blocked").as("n_blocked"))
    val globals = a.select(explode(array(
      struct(lit("n_docs").as("metric"),
        col("n_docs").cast("double").as("value")),
      struct(lit("total_tokens").as("metric"),
        col("total_tokens").cast("double").as("value")),
      struct(lit("total_chars").as("metric"),
        col("total_chars").cast("double").as("value")),
      struct(lit("mean_doc_tokens").as("metric"),
        (col("total_tokens").cast("double") / col("n_docs")).as("value")),
      struct(lit("exact_dup_rate").as("metric"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_docs"))
          .as("value")),
      struct(lit("mean_quality").as("metric"),
        col("mean_quality").as("value")),
      struct(lit("pii_doc_rate").as("metric"),
        (col("n_pii").cast("double") / col("n_docs")).as("value")),
      struct(lit("safety_blocked_rate").as("metric"),
        (col("n_blocked").cast("double") / col("n_docs")).as("value"))))
      .as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
    val total = a.select(col("n_docs"))
    val langs = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(concat(lit("lang_share_"), col("lang")).as("metric"),
        (col("n").cast("double") / col("n_docs")).as("value"))
    globals.unionAll(langs)
      .select(col("metric"), round(col("value"), 6).as("value"))
  }

  /** Oracle twin of [[datasetCard]] over `documents` (same per-doc
    * projections, same union of unpivoted globals + language shares). */
  def datasetCardSql(from: String = "documents"): String = {
    import TextFunctions.{Sql => T}
    val allWords = SafetyCategories.flatMap(_._2)
    s"""WITH p AS (SELECT lang, md5(text) AS text_fp,
       |    CAST(${T.tokenCount("text")} AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    ${T.qualityScore("text")} AS quality,
       |    CASE WHEN ${Privacy.ScrubSql.emailCount("text")} +
       |      ${Privacy.ScrubSql.phoneCount("text")} > 0
       |      THEN 1 ELSE 0 END AS has_pii,
       |    CASE WHEN ${T.markerHits("text", allWords)} > 0
       |      THEN 1 ELSE 0 END AS blocked
       |  FROM $from),
       |a AS (SELECT count(*) AS n_docs,
       |    sum(n_tokens) AS total_tokens, sum(n_chars) AS total_chars,
       |    count(DISTINCT text_fp) AS n_distinct,
       |    ${Aggregates.avgExactSql("quality")} AS mean_quality,
       |    sum(has_pii) AS n_pii, sum(blocked) AS n_blocked
       |  FROM p),
       |g AS (
       |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
       |  UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM a
       |  UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM a
       |  UNION ALL SELECT 'mean_doc_tokens',
       |    CAST(total_tokens AS DOUBLE) / n_docs FROM a
       |  UNION ALL SELECT 'exact_dup_rate',
       |    1.0 - CAST(n_distinct AS DOUBLE) / n_docs FROM a
       |  UNION ALL SELECT 'mean_quality', mean_quality FROM a
       |  UNION ALL SELECT 'pii_doc_rate',
       |    CAST(n_pii AS DOUBLE) / n_docs FROM a
       |  UNION ALL SELECT 'safety_blocked_rate',
       |    CAST(n_blocked AS DOUBLE) / n_docs FROM a),
       |l AS (SELECT 'lang_share_' || lang AS metric,
       |    CAST(count(*) AS DOUBLE) / (SELECT n_docs FROM a) AS value
       |  FROM p GROUP BY lang)
       |SELECT metric, round(value, 6) AS value FROM g
       |UNION ALL SELECT metric, round(value, 6) AS value FROM l""".stripMargin
  }

  // ---------------------------------------------------- safety gating

  /** Safety-term categories for the keyword gate. Category ORDER is the
    * attribution order (first non-zero category names the block). A
    * production list is thousands of terms per category (C4's badwords
    * list); the kernel cost is one token scan regardless. */
  val SafetyCategories: Seq[(String, Seq[String])] = Seq(
    "adult" -> Seq("nsfw", "xrated"),
    "violence" -> Seq("gorefest", "slaughter"),
    "gambling" -> Seq("casino", "jackpot"))

  /** KEYWORD SAFETY GATE (the C4 §2.2 badwords filter): per document,
    * hit counts for every category (native one-byte-scan marker kernel
    * — stays inside whole-stage codegen no matter how long the lists
    * get), a `blocked` flag when total hits exceed `maxHits`, and the
    * FIRST offending category for triage ("none" when clean). Map-only
    * projection — flat wall at any corpus size; blocked docs route to
    * human review or a model-based second opinion, never silent drops.
    */
  def safetyGate(docs: DataFrame, idCol: String, textCol: String,
      categories: Seq[(String, Seq[String])] = SafetyCategories,
      maxHits: Int = 0): DataFrame = {
    require(categories.nonEmpty, "no safety categories configured")
    val hitCols = categories.map { case (cat, words) =>
      cat -> TextFunctions.markerHits(col(textCol), words).cast("int")
    }
    val total = hitCols.map(_._2).reduce(_ + _)
    val firstCat = hitCols.reverse.foldLeft(lit("none")) {
      case (acc, (cat, h)) => when(h > 0, lit(cat)).otherwise(acc)
    }
    docs.select(col(idCol) +:
      hitCols.map { case (c, h) => h.as(s"${c}_hits") } :+
      (total > maxHits).cast("int").as("blocked") :+
      firstCat.as("category"): _*)
  }

  /** q206 planting: every 19th document gains gambling terms, every
    * 29th a violence term (overlaps at 551 exercise the attribution
    * order). Harness only. */
  def plantSafetyTerms(id: Column, text: Column): Column = {
    val g = when(id % 19 === 0,
      concat(text, lit(" casino jackpot casino"))).otherwise(text)
    when(id % 29 === 0, concat(g, lit(" gorefest"))).otherwise(g)
  }

  /** SQL twins of [[plantSafetyTerms]]'s two chained steps — the one
    * SQL spelling of the q206 schedule, composed by both
    * [[safetyGateSql]] and the q209 pipeline oracle. */
  val PlantSafetyTermsSqlSteps: Seq[String] = Seq(
    "CASE WHEN doc_id % 19 = 0 THEN text || ' casino jackpot casino'" +
      " ELSE text END",
    "CASE WHEN doc_id % 29 = 0 THEN text || ' gorefest' ELSE text END")

  /** Oracle twin of [[plantSafetyTerms]] → [[safetyGate]] over
    * `documents` (same marker-hit token semantics, same attribution
    * fold). */
  def safetyGateSql(categories: Seq[(String, Seq[String])] =
      SafetyCategories, maxHits: Int = 0): String = {
    import TextFunctions.{Sql => T}
    val hits = categories.map { case (c, ws) =>
      s"CAST(${T.markerHits("text", ws)} AS INTEGER) AS ${c}_hits"
    }.mkString(",\n|    ")
    val total = categories.map { case (c, _) => s"${c}_hits" }.mkString(" + ")
    val cases = categories.map { case (c, _) =>
      s"WHEN ${c}_hits > 0 THEN '$c'"
    }.mkString(" ")
    val Seq(g1, g2) = PlantSafetyTermsSqlSteps
    s"""WITH g AS (SELECT doc_id, $g1 AS text FROM documents),
       |aug AS (SELECT doc_id, $g2 AS text FROM g),
       |h AS (SELECT doc_id,
       |    $hits
       |  FROM aug)
       |SELECT doc_id, ${categories.map(_._1 + "_hits").mkString(", ")},
       |  CASE WHEN $total > $maxHits THEN 1 ELSE 0 END AS blocked,
       |  CASE $cases ELSE 'none' END AS category
       |FROM h""".stripMargin
  }

  // ------------------------------------------------ context-window fit

  /** CONTEXT-WINDOW FIT report: for each candidate sequence length,
    * how much of the corpus fits outright, how many tokens a
    * truncate-at-L policy would throw away, and how many documents a
    * chunking policy (q190) must split — the table that picks L and the
    * packing strategy before an embedding or training run is priced.
    *
    * Shape: one token-count scan, cross-joined to the broadcast
    * windows list (|windows| rows), one aggregation keyed on the
    * window — output is windows-sized. All-integer arithmetic; the
    * fractions are exact-ratio doubles rounded once. */
  def contextFitReport(docs: DataFrame, textCol: String,
      windows: Seq[Int]): DataFrame = {
    require(windows.nonEmpty, "no candidate windows to report on")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    toks.crossJoin(broadcast(windows.toDF("window")))
      .groupBy("window")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("n_tokens") <= col("window"), 1L).otherwise(0L))
          .as("n_docs_fit"),
        sum(greatest(col("n_tokens") - col("window"), lit(0L)))
          .as("tokens_lost"))
      .select(col("window"),
        col("n_docs_fit"),
        (col("n_docs") - col("n_docs_fit")).as("n_docs_chunked"),
        round(col("n_docs_fit").cast("double") / col("n_docs"), 6)
          .as("frac_docs_fit"),
        col("tokens_lost"),
        round(col("tokens_lost").cast("double") / col("total_tokens"), 6)
          .as("frac_tokens_lost"))
  }

  /** Oracle twin of [[contextFitReport]] over `documents`. */
  def contextFitReportSql(windows: Seq[Int]): String = {
    import TextFunctions.{Sql => T}
    s"""WITH t AS (SELECT CAST(${T.tokenCount("text")} AS BIGINT)
       |    AS n_tokens FROM documents),
       |w AS (SELECT unnest([${windows.mkString(", ")}]) AS "window"),
       |a AS (SELECT "window", count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN n_tokens <= "window" THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_docs_fit,
       |    CAST(sum(greatest(n_tokens - "window", 0)) AS BIGINT)
       |      AS tokens_lost
       |  FROM t CROSS JOIN w GROUP BY "window")
       |SELECT "window", n_docs_fit,
       |  CAST(n_docs - n_docs_fit AS BIGINT) AS n_docs_chunked,
       |  round(CAST(n_docs_fit AS DOUBLE) / n_docs, 6) AS frac_docs_fit,
       |  tokens_lost,
       |  round(CAST(tokens_lost AS DOUBLE) / total_tokens, 6)
       |    AS frac_tokens_lost
       |FROM a""".stripMargin
  }

  /** SQL twin of [[packSequences]] (global-window formulation). */
  def packSequencesSql(binTokens: Long,
      from: String = "documents"): String = {
    import TextFunctions.{Sql => T}
    s"""WITH t AS (SELECT doc_id,
       |    CAST(${T.tokenCount("text")} AS BIGINT) AS n_tokens
       |  FROM $from),
       |c AS (SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum FROM t)
       |SELECT doc_id, n_tokens, (cum - n_tokens) // $binTokens AS bin
       |FROM c""".stripMargin
  }
}
