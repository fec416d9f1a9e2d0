package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Aggregates
import graft.functions.{TextFunctions, TextKernels}

/** Corpus-statistics operators for training-data curation: within-document
  * repetition metrics (the Gopher-style quality signals), TF-IDF keyword
  * extraction, and order-preserving vocabulary pruning.
  *
  * Scale shape: the per-document metrics are pure projections over native
  * kernels ([[TextKernels]]) — one scan, full codegen, no shuffle. The
  * corpus-level ops (document frequency, TF-IDF) explode to one row per
  * token occurrence and aggregate back — two shuffles keyed on word /
  * (doc, word), both with map-side partial aggregation, the standard
  * inverted-index shape that holds at any corpus size.
  */
object CorpusStats {

  private def tokensWithPos(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "w")))

  // -------------------------------------------------- vocabulary growth

  /** VOCABULARY-GROWTH audit (Heaps'/Herdan's law): bucket the corpus
    * into `buckets` equal id ranges (ingest order) and report, per
    * bucket, document/token volume and how many word types appear there
    * for the FIRST time — the curve a curator reads to decide whether a
    * crawl is still yielding new language or re-serving its own
    * vocabulary (a healthy corpus grows like V ∝ N^β, β≈0.5-0.7; a
    * flat tail means the marginal data is lexically redundant, the
    * cheapest possible "stop ingesting this source" signal).
    *
    * One corpus scan: per-bucket doc/token sums are a `buckets`-row
    * aggregation; first appearances need no per-prefix rescans — each
    * word type's MIN(doc id) is one word-keyed aggregation, and the
    * bucket of that minimum is where the type debuts. Cumulative
    * columns are windows over the `buckets`-row frame only. Bucket
    * assignment is `floor(id·buckets/(maxId+1))` — pure arithmetic on
    * the id, no global sort, identical in the SQL twin. */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val bound = docs.agg((max(col(idCol)) + 1L).as("_bound"))
    def bucketOf(id: Column): Column =
      floor(id * lit(buckets.toLong) / col("_bound")).cast("long")
    val docSide = docs.crossJoin(broadcast(bound))
      .select(bucketOf(col(idCol)).as("bucket"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val debuts = tokensWithPos(docs, idCol, textCol)
      .groupBy("w").agg(min(col(idCol)).as("first_id"))
      .crossJoin(broadcast(bound))
      .groupBy(bucketOf(col("first_id")).as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // buckets-row frame: the windows below never see corpus-sized data.
    docSide.join(debuts, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_types", sum("new_types").over(w))
  }

  /** Oracle twin of [[vocabGrowth]] over `documents`. */
  def vocabGrowthSql(buckets: Int = 10): String = {
    import TextFunctions.{Sql => T}
    s"""WITH bound AS (SELECT MAX(doc_id) + 1 AS _bound FROM documents),
       |d AS (SELECT CAST(FLOOR(doc_id * $buckets / _bound) AS BIGINT)
       |    AS bucket,
       |    CAST(${T.tokenCount("text")} AS BIGINT) AS n_tokens
       |  FROM documents, bound),
       |ds AS (SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY bucket),
       |firsts AS (SELECT unnest(string_split(text, ' ')) AS w,
       |    doc_id FROM documents),
       |deb AS (SELECT CAST(FLOOR(first_id * $buckets / _bound) AS BIGINT)
       |    AS bucket, COUNT(*) AS new_types
       |  FROM (SELECT w, MIN(doc_id) AS first_id FROM firsts GROUP BY w) _,
       |    bound
       |  GROUP BY 1)
       |SELECT bucket, n_docs, n_tokens,
       |  CAST(COALESCE(new_types, 0) AS BIGINT) AS new_types,
       |  CAST(SUM(n_tokens) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tokens,
       |  CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_types
       |FROM ds LEFT JOIN deb USING (bucket)
       |ORDER BY bucket""".stripMargin
  }

  /** ZIPF rank–frequency fit: least-squares slope of `ln freq` on
    * `ln rank` over the `topK` most frequent word types — natural
    * language sits near slope −1 (Zipf's law); a corpus drifting
    * toward 0 is template/boilerplate-dominated (frequencies too
    * flat), one far below −1 is vocabulary-collapsed. The companion
    * health number to [[vocabGrowth]]: that audits NEW types, this
    * audits how the mass distributes over the head.
    *
    * Shape: one tokens-exploded word count (vocab-sized), a sort-limit
    * head selection (distributed take-ordered, ties on the word so the
    * head is deterministic), then the regression over ≤ `topK` rows —
    * the rank window and the closed-form slope run on that head frame
    * only. Exact-decimal sums; ln is the one float op and both engines
    * agree on it bit-for-bit across the existing oracle family. */
  def zipfSlope(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    val counts = tokensWithPos(docs, idCol, textCol)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val head = counts.orderBy(col("cnt").desc, col("w").asc).limit(topK)
    val ranked = head.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("w").asc)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked.agg(count(lit(1)).as("k"),
        graft.engine.Aggregates.sumExact(col("x")).as("sx"),
        graft.engine.Aggregates.sumExact(col("y")).as("sy"),
        graft.engine.Aggregates.sumExact(col("x") * col("y")).as("sxy"),
        graft.engine.Aggregates.sumExact(col("x") * col("x")).as("sxx"))
      .select(col("k").as("n_types"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("k"), 6).as("intercept"))
  }

  /** Oracle twin of [[zipfSlope]] over `documents` (same head
    * selection, same fixed-order regression arithmetic). */
  def zipfSlopeSql(topK: Int = 100): String = {
    import graft.engine.Aggregates
    s"""WITH counts AS (SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) _
       |  GROUP BY w),
       |head AS (SELECT * FROM counts ORDER BY cnt DESC, w ASC LIMIT $topK),
       |ranked AS (SELECT
       |    ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS DOUBLE))
       |      AS x,
       |    ln(CAST(cnt AS DOUBLE)) AS y
       |  FROM head),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |    ${Aggregates.sumExactSql("x")} AS sx,
       |    ${Aggregates.sumExactSql("y")} AS sy,
       |    ${Aggregates.sumExactSql("x * y")} AS sxy,
       |    ${Aggregates.sumExactSql("x * x")} AS sxx
       |  FROM ranked)
       |SELECT k AS n_types,
       |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
       |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6)
       |    AS intercept
       |FROM s""".stripMargin
  }

  // -------------------------------------------------- line-level quality

  /** Deterministic multi-line synthesis for the line-level quality gate:
    * fold the single-line corpus text into lines of `lineLen` tokens,
    * then plant boilerplate into every `plantMod`-th document by
    * repeating its first line twice more (the shape of a scraped page
    * whose header/footer leaks into the body). Test/oracle harness only
    * — the operator itself ([[gopherLineStats]]) takes any text column
    * that already contains newlines. */
  /** Fold single-line text into an ARRAY of `lineLen`-token lines —
    * the shared synthesis primitive for the line-level operators. */
  def foldLines(text: Column, lineLen: Int): Column = {
    val toks = TextFunctions.tokens(text)
    val nLines = ceil(size(toks).cast("double") / lineLen).cast("int")
    // A zero-token array gives sequence(0, -1), which DESCENDS to
    // [0, -1] and would emit two phantom empty lines where the
    // oracle's range(0, 0) is empty — the same footgun [[bpePairCounts]]
    // filters out. Clamp to an empty lines array instead.
    when(nLines <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), greatest(nLines, lit(1)) - 1),
        i => array_join(slice(toks, i * lineLen + 1, lit(lineLen)), " ")))
  }

  def gopherLines(id: Column, text: Column, lineLen: Int,
      plantMod: Int): Column = {
    val lines = foldLines(text, lineLen)
    val planted = when(id % plantMod === 0,
      concat(lines, array(element_at(lines, 1), element_at(lines, 1))))
      .otherwise(lines)
    array_join(planted, "\n")
  }

  /** LINE-LEVEL structural quality gate (Rae et al., "Scaling Language
    * Models" [Gopher], App. A1 repetition filters): the fraction of
    * duplicated lines and the fraction of characters inside duplicate
    * line occurrences — the two signals that catch scraped-page
    * boilerplate (repeated nav bars, headers, cookie banners) which
    * word-level n-gram fractions ([[repetitionMetrics]]) dilute away on
    * long pages. A document fails the gate when either exceeds the
    * published thresholds (dup-line 0.30, dup-char 0.20).
    *
    * Shape: one scan → explode on `\n` → two-level aggregate (per
    * (doc, line) counts, then per-doc sums), both levels with map-side
    * partial aggregation keyed on the document id — the same
    * inverted-index shape as the top-word share, linear in corpus size.
    * "Characters in duplicate occurrences" counts every occurrence
    * beyond a line's first: `Σ (cnt-1)·len(line) / Σ cnt·len(line)`. */
  def gopherLineStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val perLine = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("line"))
      .groupBy(col(idCol), col("line")).agg(count(lit(1)).as("cnt"))
    val dupLine = round(
      (sum("cnt") - count(lit(1))).cast("double") / sum("cnt"), 6)
    val dupChar = round(
      sum((col("cnt") - 1) * length(col("line"))).cast("double") /
        sum(col("cnt") * length(col("line"))), 6)
    perLine.groupBy(col(idCol))
      .agg(sum("cnt").cast("long").as("n_lines"),
        dupLine.as("dup_line_frac"), dupChar.as("dup_char_frac"))
      .withColumn("pass",
        (col("dup_line_frac") <= 0.30 && col("dup_char_frac") <= 0.20)
          .cast("int"))
  }

  /** Oracle twin of [[gopherLines]] → [[gopherLineStats]] (DuckDB
    * dialect, `documents` hard-wired): the same line folding (DuckDB
    * list slices are inclusive 1-based, `toks[a : a+lineLen-1]` is the
    * `lineLen`-token window), the same planted repeat, the same
    * two-level aggregate over exact integer ratios. */
  def gopherLineStatsSql(lineLen: Int, plantMod: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |    FROM documents),
       |l0 AS (SELECT doc_id, list_transform(
       |    range(0, CAST(ceil(len(toks) / ${lineLen}.0) AS INT)),
       |    i -> array_to_string(
       |      toks[i * $lineLen + 1 : i * $lineLen + $lineLen], ' '))
       |    AS lines FROM t),
       |l1 AS (SELECT doc_id, CASE WHEN doc_id % $plantMod = 0
       |    THEN list_concat(lines, [lines[1], lines[1]])
       |    ELSE lines END AS lines FROM l0),
       |c AS (SELECT doc_id, line, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(lines) AS line FROM l1) e
       |  GROUP BY doc_id, line),
       |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
       |    round(CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt), 6)
       |      AS dup_line_frac,
       |    round(CAST(sum((cnt - 1) * length(line)) AS DOUBLE) /
       |      sum(cnt * length(line)), 6) AS dup_char_frac
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, n_lines, dup_line_frac, dup_char_frac,
       |  CASE WHEN dup_line_frac <= 0.30 AND dup_char_frac <= 0.20
       |    THEN 1 ELSE 0 END AS pass
       |FROM m""".stripMargin

  // ---------------------------------------------------- char entropy

  /** CHARACTER-ENTROPY quality signal: Shannon entropy (nats) of the
    * per-document character distribution — the cheapest degenerate-text
    * detector (key-mash, padding runs, base64 blobs, single-char spam
    * all sit far from natural text's ≈2.8 nats). `H = ln N − (Σ cᵢ ln
    * cᵢ)/N` over exact integer counts; the Σ is an exact-decimal sum of
    * per-character terms ([[Aggregates.sumExact]]) so reduce order
    * never shifts the result, `ln` is the only float op (the q96/q191
    * contract). `low_entropy = 1` below `minEntropy`.
    *
    * Shape: one per-row kernel over each document's own characters,
    * linear in corpus bytes, no exchange.
    *
    * @note `idCol` must be unique. The result has one row per non-null
    *       input row: rows sharing an id are NOT merged into one
    *       histogram, unlike [[charEntropySql]], which groups by id
    *       (CorpusStatsSpec pins the duplicate-id behaviour). No runtime
    *       check: it would cost a distinct-count job on every call. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
      minEntropy: Double): DataFrame = {
    // Per-ROW kernel, not an aggregation (r19): the former explode →
    // groupBy(doc, ch) → groupBy(doc) shape pushed one row PER
    // CHARACTER through two hash exchanges to compute a quantity that
    // is a pure function of each document's own text.
    // [[TextKernels.entropyStats]] replays the same
    // count → cnt·ln(cnt) → DECIMAL(28,6) exact sum arithmetic per row
    // (bit-identical — CorpusStatsSpec pins kernel == aggregation on
    // adversarial inputs), and the `ln`/division/round tail stays in
    // the plan as the same Spark expressions. Contract narrowing: one
    // row per INPUT ROW (null text dropped, like the old explode) —
    // duplicate ids are no longer merged into one combined histogram;
    // every caller keys unique ids (and the SQL twin, which still
    // groups, agrees wherever ids are unique).
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), TextKernels.entropyStatsCol(
        split(col(textCol), "")).as("_es"))
      .select(col(idCol), col("_es.n_chars").as("n_chars"),
        entropyOf(col("_es")).as("char_entropy"))
      .withColumn("low_entropy",
        (col("char_entropy") < minEntropy).cast("int"))
  }

  /** The entropy tail over an [[TextKernels.entropyStatsCol]] struct —
    * ONE spelling of `round(ln(N) − Σ/N, 6)` shared by [[charEntropy]]
    * and [[withLowEntropy]]. */
  private def entropyOf(es: Column): Column =
    round(log(es.getField("n_chars")) -
      es.getField("term_sum") / es.getField("n_chars"), 6)

  /** [[charEntropy]]'s verdict ATTACHED as a per-row column — the
    * pipeline-gate form (q209/q214 [[graft.operators.Pipeline]]): adds
    * `low_entropy` to `df` with the identical expression chain, no
    * aggregation and no join. The struct rides one named column so the
    * kernel runs once per row (CollapseProject keeps multiply-referenced
    * non-cheap aliases materialized). */
  def withLowEntropy(df: DataFrame, textCol: String,
      minEntropy: Double): DataFrame =
    df.withColumn("_es",
        TextKernels.entropyStatsCol(split(col(textCol), "")))
      .withColumn("low_entropy",
        (entropyOf(col("_es")) < minEntropy).cast("int"))
      .drop("_es")

  /** q203 degenerate-text planting: every 23rd document becomes a
    * repeated two-character run (the padding/key-mash shape). */
  def plantDegenerateText(id: Column, text: Column): Column =
    when(id % 23 === 0, repeat(lit("aa "), 40)).otherwise(text)

  /** SQL twin of [[plantDegenerateText]] (a CASE over `doc_id`/`text`)
    * — the ONE place the q203 plant schedule is spelled in SQL; both
    * [[charEntropySql]] and the q209 pipeline oracle compose it, so a
    * schedule change cannot silently diverge the twins. */
  val PlantDegenerateTextSql: String =
    "CASE WHEN doc_id % 23 = 0 THEN repeat('aa ', 40) ELSE text END"

  /** Oracle twin of [[plantDegenerateText]] → [[charEntropy]] over
    * `documents` (DuckDB; per-char explode via `regexp_extract_all
    * '.'` — no newlines in this corpus — same exact-decimal Σ).
    * `planted = false` skips the q203 harness plant for callers (the
    * q209 pipeline) whose relation already carries its artifacts. */
  def charEntropySql(minEntropy: Double, from: String = "documents",
      planted: Boolean = true): String = {
    val plant = if (planted) PlantDegenerateTextSql else "text"
    s"""WITH p AS (SELECT doc_id, $plant AS text FROM $from),
       |e AS (SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
       |  FROM p),
       |c AS (SELECT doc_id, ch, count(*) AS cnt FROM e
       |  GROUP BY doc_id, ch),
       |h AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
       |    round(ln(sum(cnt)) -
       |      ${Aggregates.sumExactSql("cnt * ln(cnt)")} / sum(cnt), 6)
       |      AS char_entropy
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, n_chars, char_entropy,
       |  CASE WHEN char_entropy < $minEntropy THEN 1 ELSE 0 END
       |    AS low_entropy
       |FROM h""".stripMargin
  }

  // -------------------------------------------------- repetition metrics

  /** Within-document repetition signals (Rae et al., "Scaling Language
    * Models" [Gopher], App. A quality filters): fraction of duplicated
    * word 2-grams / 3-grams, and the frequency share of the most common
    * token. High values mark boilerplate and degenerate repetition that
    * a pretraining pipeline drops before training.
    *
    * The n-gram fractions are a single codegen projection (native
    * shingle kernel + `array_distinct`); the top-word share needs true
    * per-(doc, word) counts, so it explodes and re-aggregates, then
    * joins back to the projection on the document key. */
  def repetitionMetrics(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def dupFrac(n: Int): Column = {
      val sh = TextKernels.shinglesCol(col(textCol), n)
      round((size(sh) - size(array_distinct(sh))).cast("double") / size(sh), 6)
    }
    val gramSide = docs.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      dupFrac(2).as("dup_2gram_frac"),
      dupFrac(3).as("dup_3gram_frac"))
    val topWord = tokensWithPos(docs, idCol, textCol)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(round(max("cnt").cast("double") / sum("cnt"), 6)
        .as("top_word_frac"))
    gramSide.join(topWord, idCol)
  }

  /** Oracle twin of [[repetitionMetrics]] (DuckDB dialect, `documents`
    * table hard-wired). Mirrors the kernel's shingle construction: a
    * document shorter than `n` tokens contributes its whole text as one
    * shingle. */
  def repetitionMetricsSql(): String = {
    def grams(n: Int) = {
      val toks = "string_split(text, ' ')"
      s"""CASE WHEN len($toks) >= $n
         |  THEN list_transform(range(1, len($toks) - ${n - 1} + 1),
         |    i -> array_to_string($toks[i:i+${n - 1}], ' '))
         |  ELSE [array_to_string($toks, ' ')] END""".stripMargin
    }
    def dupFrac(n: Int) =
      s"round(CAST(len(g$n) - len(list_distinct(g$n)) AS DOUBLE) / len(g$n), 6)"
    s"""WITH g AS (SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    ${grams(2)} AS g2, ${grams(3)} AS g3
       |  FROM documents),
       |gm AS (SELECT doc_id, n_tokens,
       |    ${dupFrac(2)} AS dup_2gram_frac,
       |    ${dupFrac(3)} AS dup_3gram_frac
       |  FROM g),
       |tw AS (SELECT doc_id,
       |    round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_word_frac
       |  FROM (SELECT doc_id, w, count(*) AS cnt
       |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) t
       |    GROUP BY doc_id, w) c
       |  GROUP BY doc_id)
       |SELECT doc_id, n_tokens, dup_2gram_frac, dup_3gram_frac,
       |  top_word_frac
       |FROM gm JOIN tw USING (doc_id)""".stripMargin
  }

  // --------------------------------------------------------------- TF-IDF

  /** Top TF-IDF term per document: `score = tf · ln(N / df)`, ties (after
    * rounding to 6 decimals) broken by term ascending. The rounding is in
    * the ORDER BY on purpose — raw double scores can differ by an ulp
    * between engines (libm vs StrictMath `log`), and the winner must not.
    *
    * Plan: explode → (doc, term) counts → term document frequencies →
    * broadcast the (tiny relative to the corpus) df table back onto the
    * tf table → per-doc top-1 window. */
  def tfidfTop1(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = tokensWithPos(docs, idCol, textCol)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfreq, "w").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("_n").cast("double") / col("df")), 6))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("w").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col(idCol), col("w").as("term"), col("score"))
  }

  /** Oracle twin of [[tfidfTop1]] (`documents` hard-wired). */
  def tfidfTop1Sql(): String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |n AS (SELECT count(*) AS _n FROM documents),
       |scored AS (SELECT doc_id, w,
       |    round(tf * ln(CAST(_n AS DOUBLE) / df), 6) AS score
       |  FROM tf JOIN df USING (w), n),
       |top AS (SELECT doc_id, w, score, row_number() OVER
       |    (PARTITION BY doc_id ORDER BY score DESC, w ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, w AS term, score FROM top WHERE rn = 1""".stripMargin

  // ----------------------------------------------------------- pair stats

  /** Corpus-wide adjacent-token pair counts, top `k` — the statistic a
    * BPE-style tokenizer trainer computes per merge round (most frequent
    * adjacent pair wins). One codegen'd shingle projection + explode +
    * partial/final count; deterministic (count DESC, pair ASC) order
    * so the top-k cut is engine-independent. */
  def topPairs(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(TextKernels.shinglesCol(col(textCol), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  /** Oracle twin of [[topPairs]] (`documents` hard-wired; mirrors the
    * kernel's whole-text fallback for sub-`n` documents). */
  def topPairsSql(k: Int): String = {
    val toks = "string_split(text, ' ')"
    s"""WITH g AS (SELECT unnest(
       |    CASE WHEN len($toks) >= 2
       |      THEN list_transform(range(1, len($toks) - 1 + 1),
       |        i -> array_to_string($toks[i:i+1], ' '))
       |      ELSE [array_to_string($toks, ' ')] END) AS pair
       |  FROM documents)
       |SELECT pair, count(*) AS n FROM g
       |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT $k""".stripMargin
  }

  /** Phrase detection (the word2vec bigram promotion — Mikolov et al.
    * 2013, "Distributed Representations of Words and Phrases"): score
    * every adjacent pair by `(count(ab) − δ) / (count(a) · count(b))`
    * and promote the top scorers — pairs that co-occur far more than
    * their unigram frequencies predict ("new york", not "of the"). The
    * preprocessing step that decides which token sequences become
    * single vocabulary items before embedding/tokenizer training.
    *
    * Scale shape: unigram and bigram counts are the only corpus-sized
    * passes (both map-side partial-aggregated over the native shingle
    * kernel); the scored join keys the VOCABULARY-sized count tables
    * (AQE broadcasts them), the discount/division is one exact-integer
    * expression (counts go through double before multiplying so the
    * denominator cannot overflow long at 100 TB counts), and the cut
    * is `orderBy().limit()` = distributed TakeOrdered. */
  def phraseScores(docs: DataFrame, textCol: String, minCount: Long,
      delta: Double, k: Int): DataFrame = {
    val uni = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = docs
      .select(explode(TextKernels.shinglesCol(col(textCol), 2)).as("pair"))
      // True bigrams only: the kernel's whole-text fallback for
      // single-token documents yields space-free "pairs" — not phrases.
      .filter(col("pair").contains(" "))
      .groupBy("pair").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    bi
      .withColumn("w1", split(col("pair"), " ")(0))
      .withColumn("w2", split(col("pair"), " ")(1))
      .join(uni.select(col("w").as("w1"), col("c").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("n_b")), "w2")
      .withColumn("score", (col("n_ab") - delta) /
        (col("n_a").cast("double") * col("n_b").cast("double")))
      .orderBy(col("score").desc, col("pair").asc)
      .limit(k)
      .select("pair", "n_ab", "n_a", "n_b", "score")
  }

  /** SQL twin of [[phraseScores]] (`documents` hard-wired; same
    * bigram-only filter, same double-denominator division). */
  def phraseScoresSql(minCount: Long, delta: Double, k: Int): String = {
    val toks = "string_split(text, ' ')"
    s"""WITH u AS (SELECT w, count(*) AS c FROM (
       |    SELECT unnest($toks) AS w FROM documents) _ GROUP BY 1),
       |g AS (SELECT unnest(
       |    CASE WHEN len($toks) >= 2
       |      THEN list_transform(range(1, len($toks) - 1 + 1),
       |        i -> array_to_string($toks[i:i+1], ' '))
       |      ELSE [array_to_string($toks, ' ')] END) AS pair
       |  FROM documents),
       |b AS (SELECT pair, count(*) AS n_ab FROM g
       |  WHERE contains(pair, ' ')
       |  GROUP BY 1 HAVING count(*) >= $minCount)
       |SELECT pair, n_ab, n_a, n_b, score FROM (
       |  SELECT pair, n_ab, ua.c AS n_a, ub.c AS n_b,
       |    (n_ab - $delta) / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))
       |      AS score
       |  FROM b
       |  JOIN u ua ON ua.w = split_part(pair, ' ', 1)
       |  JOIN u ub ON ub.w = split_part(pair, ' ', 2)) _
       |ORDER BY score DESC, pair ASC LIMIT $k""".stripMargin
  }

  // ------------------------------------------------------------- chunking

  /** Document chunking: split each document into consecutive
    * `chunkTokens`-token pieces (last piece ragged) — the transform an
    * LLM pipeline runs on long documents before packing/training, at
    * token granularity rather than q71's document granularity.
    *
    * Pure built-ins, one generate: the token array is computed once,
    * `sequence` enumerates chunk starts, `posexplode` yields
    * (chunk_idx, start), `slice`+`array_join` rebuild each chunk's
    * text. No shuffle at all — chunking is embarrassingly parallel and
    * stays inside the scan stage. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        posexplode(sequence(lit(1), size(col("_toks")), lit(chunkTokens)))
          .as(Seq("chunk_idx", "_start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("_toks"), col("_start"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(size(col("_toks")) - col("_start") + 1, lit(chunkTokens))
          .cast("long").as("n_tokens"))
  }

  /** Oracle twin of [[chunk]] (`documents` hard-wired). */
  def chunkSql(chunkTokens: Int): String =
    s"""SELECT doc_id,
       |  CAST(i AS BIGINT) AS chunk_idx,
       |  array_to_string(toks[s:s+${chunkTokens - 1}], ' ') AS chunk_text,
       |  CAST(least(len(toks) - s + 1, $chunkTokens) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |    FROM documents) d,
       |  LATERAL (SELECT unnest(range(1, len(toks) + 1, $chunkTokens))
       |      AS s,
       |    unnest(range(0, CAST(ceil(len(toks) / $chunkTokens.0) AS BIGINT)))
       |      AS i) _""".stripMargin

  // ---------------------------------------------------------- vocab prune

  /** Order-preserving vocabulary prune: drop every token whose corpus
    * document frequency exceeds `maxDfFrac · N` (ubiquitous glue words
    * carry no training signal), and reassemble each document from its
    * surviving tokens in original order. Documents with no survivors
    * drop out entirely.
    *
    * Order restoration without an interpreted lambda: each surviving
    * token is prefixed with its zero-padded position, `sort_array` puts
    * the collected list back in document order (fixed-width pad ⇒
    * lexicographic = numeric), and one `regexp_replace` strips the
    * prefixes after `concat_ws` — every step codegen'd or a plain
    * aggregation buffer. Caps documents at 1M tokens (the pad width). */
  def vocabPrune(docs: DataFrame, idCol: String, textCol: String,
      maxDfFrac: Double): DataFrame = {
    val toks = tokensWithPos(docs, idCol, textCol)
    val dfreq = toks.groupBy("w")
      .agg(count_distinct(col(idCol)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    // The surviving vocabulary is tiny next to the token stream; AQE
    // broadcasts it in practice — no hint, so a genuinely huge vocab
    // can still shuffle.
    val keep = dfreq.crossJoin(broadcast(n))
      .where(col("df") <= col("_n") * maxDfFrac).select("w")
    toks.join(keep, "w")
      .groupBy(col(idCol))
      .agg(regexp_replace(
        concat_ws(" ",
          sort_array(collect_list(format_string("%06d~%s", col("pos"), col("w"))))),
        "(^| )[0-9]{6}~", "$1").as("text_pruned"))
  }

  /** Oracle twin of [[vocabPrune]] (`documents` hard-wired; DuckDB's
    * ordered `string_agg` replaces the pad-sort-strip construction). */
  def vocabPruneSql(maxDfFrac: Double): String =
    s"""WITH t AS (SELECT doc_id, unnest(toks) AS w,
       |    unnest(range(1, len(toks) + 1)) AS pos
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |    FROM documents) _),
       |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM t GROUP BY w),
       |n AS (SELECT count(*) AS _n FROM documents),
       |keep AS (SELECT w FROM df, n WHERE df <= _n * $maxDfFrac)
       |SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_pruned
       |FROM t JOIN keep USING (w)
       |GROUP BY doc_id""".stripMargin

  // ----------------------------------------------- unigram LM scoring

  /** Unigram language-model document scoring — the classic cheap
    * perplexity proxy a pretraining pipeline uses to rank text quality
    * (gibberish and boilerplate score far from the corpus average):
    * per-document mean token log-probability under the corpus's own
    * unigram distribution, with a `vocabSize`-capped vocabulary and a
    * 1/total floor probability for out-of-vocabulary tokens.
    *
    * Scale shape: the vocabulary is ONE token-keyed partial/final count
    * plus a top-k cut (`TakeOrdered`, never a full sort) and is bounded
    * by `vocabSize`, so it BROADCASTS to the scoring join — the corpus
    * token explode never shuffles for the lookup; the per-document mean
    * is one doc-keyed aggregation. The corpus total rides along as a
    * broadcast 1-row frame (no driver round-trip). Determinism: the
    * vocabulary cut is total-ordered (count desc, token asc) and the
    * mean uses the exact-decimal [[Aggregates.avgExact]], rounded where
    * emitted (`ln` may differ from libm at the last ulp). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be > 0, got $vocabSize")
    val toks = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totalDf = counts.agg(sum("cnt").as("total"))
    val vocab = counts.orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(totalDf))
      .withColumn("logp",
        log(coalesce(col("cnt"), lit(1L)).cast("double") /
          col("total").cast("double")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(Aggregates.avgExact(col("logp")), 6).as("logprob"))
  }

  /** Oracle twin of [[unigramLogProb]] (`documents` hard-wired). */
  def unigramLogProbSql(vocabSize: Int = 1000): String = {
    import TextFunctions.{Sql => T}
    s"""WITH toks AS (SELECT doc_id, unnest(${T.tokens("text")}) AS tok
       |  FROM documents),
       |counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY tok),
       |total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
       |vocab AS (SELECT tok, cnt FROM counts
       |  ORDER BY cnt DESC, tok LIMIT $vocabSize),
       |scored AS (SELECT t.doc_id,
       |    ln(CAST(COALESCE(v.cnt, 1) AS DOUBLE) / CAST(total.total AS DOUBLE))
       |      AS logp
       |  FROM toks t LEFT JOIN vocab v USING (tok) CROSS JOIN total)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  round(${Aggregates.avgExactSql("logp")}, 6) AS logprob
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Per-document mean log-probability under a Laplace-smoothed BIGRAM
    * language model trained on a separate reference corpus — the CCNet
    * quality filter (Wenzek et al., LREC 2020: docs are kept or
    * bucketed by their perplexity under an LM trained on a trusted
    * corpus; [[unigramLogProb]] is the order-0 self-corpus form, this
    * is the order-1 cross-corpus form a production pipeline runs
    * against a curated reference).
    *
    * Model: `p(w | prev) = (c2(prev, w) + 1) / (c1(prev) + V)` with
    * `c2`/`c1` the reference pair/context counts, sentence-start
    * `prev = "<s>"` for each document's first token, and
    * `V = |reference vocabulary| + 1` (the +1 is the open-vocabulary
    * slot: a token or context never seen in the reference has counts
    * 0 and scores `ln(1/V)`-ish — no unk rewrite is needed, because an
    * unseen context's lookup already coalesces to the same 0 an
    * explicit `<unk>` mapping would produce).
    *
    * Scale shape: the reference pairs are aggregated ONCE (map-side
    * combined, bigram-vocabulary-sized — orders of magnitude below the
    * corpus) and reused for both count tables (persisted); scoring is
    * two equi-joins keyed on (prev, cur) / prev — AQE broadcasts them
    * when the reference is small, and they stay shuffle-bounded by the
    * bigram vocabulary when it is not. V rides along as a broadcast
    * 1-row frame (no driver round-trip). Determinism: integer counts
    * feed ONE double division and `ln` per pair, and the per-document
    * mean is the exact-decimal [[Aggregates.avgExact]], rounded where
    * emitted — the q96 contract. */
  def bigramLogProb(docs: DataFrame, ref: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def pairs(d: DataFrame): DataFrame =
      tokensWithPos(d, idCol, textCol)
        .withColumn("prev", lag(col("w"), 1, "<s>")
          .over(Window.partitionBy(idCol).orderBy("pos")))
    val refPairs = graft.engine.Caches.materialized(
      pairs(ref).groupBy("prev", "w").agg(count(lit(1)).as("c2")))
    val c1 = refPairs.groupBy("prev").agg(sum("c2").as("c1"))
    // Every reference token occurs as a `w` (each occurrence is one
    // pair's cur side), so distinct w IS the reference vocabulary.
    val vDf = refPairs.agg((countDistinct(col("w")) + 1).as("v"))
    pairs(docs)
      .join(refPairs, Seq("prev", "w"), "left")
      .join(c1, Seq("prev"), "left")
      .crossJoin(broadcast(vDf))
      .withColumn("logp", log(
        (coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(Aggregates.avgExact(col("logp")), 6).as("bigram_logprob"))
  }

  /** Oracle twin of [[bigramLogProb]] over `documents`, reference =
    * rows matching `refPred`, scored = rows matching `scorePred`. */
  def bigramLogProbSql(refPred: String, scorePred: String): String = {
    import TextFunctions.{Sql => T}
    def pairs(pred: String) =
      s"""SELECT doc_id,
         |    LAG(w, 1, '<s>') OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS prev, w
         |  FROM (SELECT doc_id, unnest(${T.tokens("text")}) AS w,
         |      generate_subscripts(${T.tokens("text")}, 1) AS pos
         |    FROM documents WHERE $pred) _""".stripMargin
    s"""WITH rp AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c2
       |  FROM (${pairs(refPred)}) GROUP BY prev, w),
       |c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1
       |  FROM rp GROUP BY prev),
       |v AS (SELECT CAST(COUNT(DISTINCT w) + 1 AS BIGINT) AS v FROM rp),
       |scored AS (SELECT t.doc_id,
       |    ln(CAST(COALESCE(rp.c2, 0) + 1 AS DOUBLE) /
       |       CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)) AS logp
       |  FROM (${pairs(scorePred)}) t
       |  LEFT JOIN rp USING (prev, w) LEFT JOIN c1 USING (prev)
       |  CROSS JOIN v)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  round(${Aggregates.avgExactSql("logp")}, 6) AS bigram_logprob
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- BPE tokenizer trainer

  /** Iterative BPE tokenizer trainer (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units"): `rounds`
    * merge rounds over the word-frequency table, returning the learned
    * merge list `(round, lhs, rhs, n)` — which IS the trained tokenizer.
    * [[topPairs]] is one round's pair statistic; this runs the loop.
    *
    * Algorithm per round: (1) count adjacent symbol pairs weighted by
    * word frequency; (2) take the argmax with the deterministic
    * tie-break (count DESC, lhs ASC, rhs ASC); (3) rewrite every word's
    * symbol sequence, merging (lhs,rhs) occurrences greedily
    * left-to-right non-overlapping (a run of k overlapping candidates —
    * only possible when lhs = rhs — merges positions 1,3,5,… of the
    * run). Words are pre-tokenized on spaces, restricted to `\p{L}+`
    * (Unicode letters — a multilingual corpus trains a multilingual
    * vocabulary; the round-12 `[A-Za-z]+` filter silently dropped every
    * non-ASCII word from training AND from q146's token pricing), and
    * carry the Sennrich end-of-word marker `</w>`.
    *
    * Unicode contract (both engines replay it identically): the word
    * filter is CODEPOINT-level `^\p{L}+$` — Java and RE2 agree on the
    * letter category, including supplementary-plane letters — and the
    * initial symbol split is per codepoint (Java's `split("")` never
    * splits a surrogate pair; DuckDB's `word[i:i]` slices codepoints).
    * Combining marks are `\p{M}`, not `\p{L}`, so DECOMPOSED accents
    * fail the filter in both engines alike — the corpus is expected in
    * NFC, the same normalization assumption real tokenizers document.
    *
    * Scale shape: the corpus is scanned ONCE (the word-frequency agg
    * with map-side partial aggregation); every merge round then runs on
    * the DISTINCT-WORD table — vocabulary-sized, orders of magnitude
    * smaller than the corpus, cached per round with the eager-persist /
    * release pattern of [[Clustering.kmeansCentroids]]. Per round: one
    * pair-count agg (map-side combined) + one argmax `limit(1)` to the
    * driver (1 row — bounded driver state, like the k-means centroid
    * pull) + one codegen-free but native `aggregate` HOF rewrite (no
    * UDF). The greedy rewrite is a left fold: merge when the
    * accumulator's last symbol is `lhs` and the current is `rhs` —
    * exactly the non-overlapping scan, and the merged token `lhs+rhs`
    * can never equal `lhs`, so a merge never cascades within a round. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, last) = bpeMergeLoop(docs, textCol, rounds)
    last.unpersist(blocking = false)
    merges.toDF("round", "lhs", "rhs", "n")
  }

  /** Driver-local BPE trainer — the HIGH-ROUND variant of [[bpeTrain]].
    *
    * The distributed loop is the right shape for the oracle replay and
    * for corpora whose distinct-word table exceeds driver memory, but it
    * costs one Spark job + one driver round-trip PER MERGE ROUND — a
    * production 30k-merge vocabulary would schedule 30k sequential jobs
    * where each round's actual work is vocabulary-sized, i.e. dominated
    * by scheduling, not compute. The word-frequency table is
    * vocab-sized BY CONSTRUCTION (it is what every round iterates
    * over), so this variant runs the one corpus-scale aggregation
    * distributed, collects the word table ONCE, and executes all merge
    * rounds in driver memory: zero jobs per round, identical output.
    *
    * Equality with [[bpeTrain]] is by construction and pinned in
    * CorpusStatsSpec: same `\p{L}+` codepoint pre-tokenization (Java's
    * `split("")` never splits a surrogate pair), the same greedy
    * left-fold rewrite, and the same argmax tie-break — with string
    * order compared on UTF-8 BYTES, because Spark's `orderBy` on
    * strings is binary UTF-8 while Java's `compareTo` is UTF-16
    * code-unit order, and the two disagree exactly on supplementary-
    * plane symbols vs U+E000..U+FFFF (a multilingual corpus can hit
    * this; an ASCII one cannot).
    *
    * Crossover: use [[bpeTrain]] when rounds are few (≤ ~100, every
    * intermediate state oracle-replayable, word table never leaves the
    * cluster) or when the distinct-word table is too large to collect;
    * use this when rounds dominate (real tokenizer training: 30k rounds
    * × vocab-sized work ≈ seconds locally vs hours of job scheduling).
    *
    * DRIVER MEMORY BOUND: the collected table is the distinct words
    * with `freq >= minFreq` (× average word length). At the default
    * `minFreq = 1` that is the full distinct-word table — the same
    * order as the broadcast vocabulary [[bpeTokenize]] already ships
    * to every executor, fine for curated corpora. On RAW WEB TEXT the
    * freq-1 tail (typos, hashes, OCR noise) typically dominates the
    * distinct-word count while contributing a vanishing share of pair
    * mass, so standard tokenizer practice (SentencePiece/HF trainers'
    * `min_frequency`) prunes it IN THE DISTRIBUTED AGGREGATION, before
    * anything reaches the driver — `minFreq = 2` alone usually shrinks
    * the collect by roughly half an order of magnitude. Semantics: the
    * pruned trainer's merges equal the unpruned trainer's whenever no
    * selected pair's count depends on sub-threshold words (their pair
    * mass is bounded by `(minFreq-1) × |pruned words|`'s spread over
    * pairs); a fixture-pinned spec asserts the exact-equality case. */
  def bpeTrainLocal(docs: DataFrame, textCol: String, rounds: Int,
      minFreq: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    val words = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^\\p{L}+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .as[(String, Long)].collect()
    // Per-word symbol sequences: codepoint split + the </w> marker —
    // the exact local twin of the distributed split(word, "") chain.
    val cur0: Array[(Array[String], Long)] = words.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty) :+ "</w>", f)
    }
    localMergeLoop(cur0, rounds).toDF("round", "lhs", "rhs", "n")
  }

  /** The driver-local merge loop over per-word symbol sequences —
    * [[bpeTrainLocal]]'s engine, shared with the byte-level trainer
    * (the pre-tokenization/symbol alphabet is the ONLY difference
    * between the families, locally exactly as distributed). */
  private def localMergeLoop(cur0: Array[(Array[String], Long)],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    var cur = cur0
    // Binary UTF-8 comparison = Spark's string ordering.
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      cur.foreach { case (s, f) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax with the trainer's tie-break: n DESC, lhs ASC, rhs ASC
        // (both ASC in UTF-8 byte order).
        val ((a, b), n) = counts.reduce { (p, q) =>
          val ((pa, pb), pn) = p; val ((qa, qb), qn) = q
          if (pn != qn) { if (pn > qn) p else q }
          else if (pa != qa) { if (utf8Lt(pa, qa)) p else q }
          else if (utf8Lt(pb, qb)) p else q
        }
        merges += ((r, a, b, n))
        // Greedy left-fold rewrite — merged token a+b never equals a
        // (b is nonempty), so a merge never cascades within a round.
        cur = cur.map { case (s, f) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          s.foreach { x =>
            if (buf.nonEmpty && buf.last == a && x == b)
              buf(buf.length - 1) = a + b
            else buf += x
          }
          (buf.toArray, f)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** The corpus vocabulary AFTER `rounds` BPE merges — [[bpeTrain]]'s
    * merge loop applied to its own word table, i.e. the train→apply
    * completion: `(word, freq, tokens)` with `tokens` the space-joined
    * final symbol sequence. This is what a tokenizer APPLIES to new
    * text (longest-merge segmentation by replaying the merge list); at
    * corpus scale it doubles as the subword frequency table the
    * sampling/packing tiers consume. Same scale shape as the trainer
    * (the loop IS the trainer's). */
  def bpeVocab(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val (_, last) = bpeMergeLoop(docs, textCol, rounds)
    graft.engine.Caches.track(last)
    last.select(col("word"), col("freq"),
      array_join(col("syms"), " ").as("tokens"))
  }

  /** Tokenize the corpus with the TRAINED vocabulary: per-document
    * word and subword counts under the `rounds`-merge segmentation —
    * the pass that prices every example for the token-budget /
    * packing tiers (q40/q71) with the real tokenizer instead of the
    * `bpeTokenCount` regex estimate. Scale shape: the trainer's loop
    * once, then ONE corpus scan joined against the BROADCAST
    * vocabulary (vocab-sized by construction) and a map-side-combined
    * per-document reduce — no corpus shuffle beyond the doc-keyed
    * aggregation. Documents with no `\p{L}+` word have nothing to
    * tokenize and emit no row. */
  def bpeTokenize(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (_, last) = bpeMergeLoop(docs, textCol, rounds)
    graft.engine.Caches.track(last)
    val vocab = last.select(col("word"), size(col("syms")).as("n_sub"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^\\p{L}+$"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subwords"))
  }

  /** Oracle twin of [[bpeTokenize]]: the same unrolled chain, corpus
    * re-tokenized against the final word table (the inner join implies
    * the alphabetic filter — the vocabulary only holds filtered
    * words). */
  def bpeTokenizeSql(rounds: Int): String =
    bpeChainSql(rounds) +
      s"""
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_subwords
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents) t
       |JOIN w$rounds w USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** One round's adjacent-pair counts `(lhs, rhs, n)` over a word
    * table `(word, freq, syms)` — the per-round aggregation of the
    * merge loop, exposed so PlanSpec can assert its two-phase shape
    * (only (pair, partial-count) rows may cross the exchange at
    * corpus-vocabulary scale). */
  private[graft] def bpePairCounts(words: DataFrame): DataFrame =
    words
      // Fully-merged single-symbol words have no pairs (the native
      // kernel returns an empty array; the filter prunes them before
      // the explode — the oracle's range(1, 1) is empty).
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(
        graft.functions.TextKernels.adjacentPairsCol(col("syms"))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("freq").as("n"))

  /** The codepoint-level initial word table: distinct `\p{L}+` words
    * with counts, split per codepoint + the Sennrich `</w>` marker. */
  private def wordWords0(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^\\p{L}+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(array_remove(split(col("word"), ""), ""),
          array(lit("</w>"))).as("syms"))

  /** Shared merge loop: returns the collected merge list and the FINAL
    * per-word symbol table (still persisted — [[bpeTrain]] releases it,
    * [[bpeVocab]] hands it to the cache registry for deferred release
    * since the returned lazy frame reads it). */
  private def bpeMergeLoop(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMergeLoopFrom(wordWords0(docs, textCol), rounds)

  /** The merge loop over an ARBITRARY initial symbol table
    * `(word, freq, syms)` — the pre-tokenization (codepoint words vs
    * byte-level pre-tokens) is the only thing the two BPE families
    * differ in; every round is this same pair-count/argmax/rewrite. */
  private def bpeMergeLoopFrom(words0: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val spark = words0.sparkSession
    import spark.implicits._
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // ONE action per round (r19; was two): each round's argmax collect
    // is the SINGLE in-plan consumer of the lazily-persisted symbol
    // table, and rounds are sequential driver actions — so that collect
    // doubles as the materialization barrier (the AQE concurrent-
    // consumer race Caches.materialized guards against needs two
    // consumers in one plan; here there is one). The PREVIOUS round's
    // cache is released only after the collect has filled the current
    // one — dropping it earlier would chain recomputation through every
    // round's lineage. The final table is materialized once at loop
    // exit so the input cache behind it can be released before return.
    var cur = words0.persist()
    var prev: DataFrame = null
    def dropPrev(): Unit = if (prev != null) {
      prev.unpersist(blocking = false); prev = null
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val best = bpePairCounts(cur)
          .orderBy(col("n").desc, col("lhs").asc, col("rhs").asc)
          .limit(1)
          .as[(String, String, Long)].collect()
        // The top-1 sort scanned every partition of `cur` — its cache
        // is warm; the previous round's can go.
        dropPrev()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b, n) = best.head
          merges += ((r, a, b, n))
          val next = cur
            .withColumn("syms", mergeFold(col("syms"), a, b))
            .persist()
          prev = cur
          cur = next
          r += 1
        }
      }
      // The last rewrite was never the input of a collect: materialize
      // it so `prev` can be released and callers read a warm cache.
      if (prev != null) {
        cur.count()
        dropPrev()
      }
    } catch {
      case t: Throwable =>
        cur.unpersist(blocking = false); dropPrev(); throw t
    }
    (merges.toSeq, cur)
  }

  /** The greedy left-to-right non-overlapping (lhs, rhs) merge — the
    * ONE rewrite every BPE path uses (training rounds, and model
    * replay in [[bpeTokenizeFromModel]]): merge when the previous kept
    * symbol is `lhs` and the current is `rhs`; the merged token
    * `lhs+rhs` can never equal `lhs` (rhs nonempty), so a merge never
    * cascades within one application. Spelled as the native codegen
    * kernel [[graft.functions.TextKernels.bpeMerge]] — the original
    * `aggregate` HOF spelling evaluated INTERPRETED per symbol, the
    * positional-JIT hazard class that burst q140's first in-suite
    * timing to 36× in one round-16 run (BENCH_NOTES round-17
    * adjudication). */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    graft.functions.TextKernels.bpeMergeCol(syms, a, b)

  // --------------------------------------------- persisted BPE model

  /** Train a BPE tokenizer and PERSIST the model — one parquet table
    * `merges` (round, lhs, rhs, n), which IS the tokenizer (the merge
    * list replayed in order segments any text). Completes the stored-
    * state story for the tokenizer family the way q135-q138/q148/q149
    * complete it for ANN and dedup: training runs once, every corpus
    * tokenization afterwards reads the stored merges. Trains with
    * [[bpeTrainLocal]] — the production-shape variant this persistence
    * exists for (30k-round vocabularies collect the word table once
    * and merge locally; output spec-pinned identical to [[bpeTrain]]).
    * One atomic manifest commit like every stored artifact. */
  def saveBpeModel(docs: DataFrame, textCol: String, rounds: Int,
      dir: String, minFreq: Long = 1L): Unit = {
    graft.engine.Manifests.build(docs.sparkSession, dir)(
      _.write("merges", bpeTrainLocal(docs, textCol, rounds, minFreq)))
  }

  /** Tokenize an ARBITRARY corpus with a STORED model: replay the
    * trained merges in order over the corpus's own distinct words —
    * per-document word and subword counts under the trained
    * segmentation. The train→apply completion [[bpeTokenize]] only
    * half-delivers: it joins against the TRAINING corpus's vocabulary,
    * so unseen words silently drop; here every `\p{L}+` word
    * segments — seen words exactly as the trained vocabulary does,
    * UNSEEN words by the same merge replay (falling back to characters
    * where no merge applies), which is what a real tokenizer does with
    * new text.
    *
    * Scale shape, sized for the PRODUCTION model this persistence
    * exists for (30k merges): merges collect as a ≤rounds-row driver
    * list (bounded by the model, not the data); the corpus is scanned
    * once for its vocab-sized distinct-word list, which is collected
    * and segmented DRIVER-LOCALLY — the [[bpeTrainLocal]] argument in
    * reverse: the replay is per-word string work over a vocab-sized
    * table, and a plan-side spelling (one nested [[mergeFold]] per
    * merge) would build a 30k-deep Catalyst lambda tree that dies in
    * analysis long before any job runs (round-13 review finding). The
    * segmented vocabulary (word → subword count) then parallelizes
    * back and BROADCASTS to the per-document counting join, exactly
    * [[bpeTokenize]]'s plan — the corpus itself never collects and
    * never shuffles beyond the doc-keyed count. Driver memory bound =
    * the distinct-word list, the same order as the broadcast the join
    * ships anyway. */
  def bpeTokenizeFromModel(docs: DataFrame, idCol: String, textCol: String,
      dir: String, atVersion: Option[Long] = None): DataFrame = {
    val vocab = storedModelVocab(docs, textCol, dir, atVersion)
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^\\p{L}+$"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subwords"))
  }

  /** The apply slice's distinct-word vocabulary segmented by a STORED
    * model: `(word, n_sub)`, broadcastable. Shared by
    * [[bpeTokenizeFromModel]] and [[bpeFertilityByLang]].
    *
    * Local replay: same greedy left-fold as [[mergeFold]]/the local
    * trainer, applied merge-by-merge in training order. For the
    * production-scale replay an (a, b) -> a+b lookup keyed by the
    * pair makes each word's pass O(|syms|) per APPLICABLE merge;
    * here the straightforward ordered replay keeps the semantics
    * transparently identical to the training rewrite. The driver
    * materialization is vocab-sized (distinct words), the same bound
    * as the trainer's word table. */
  private def storedModelVocab(docs: DataFrame, textCol: String,
      dir: String, atVersion: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "BPE model", "run saveBpeModel first", atVersion)
    val merges = snap.read(spark, "merges")
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val words = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^\\p{L}+$"))
      .distinct()
      .as[String].collect()
    val vocabRows = words.map { w =>
      var syms: Array[String] = w.split("").filter(_.nonEmpty) :+ "</w>"
      merges.foreach { case (a, b) =>
        if (syms.length >= 2) {
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { x =>
            if (buf.nonEmpty && buf.last == a && x == b)
              buf(buf.length - 1) = a + b
            else buf += x
          }
          syms = buf.toArray
        }
      }
      (w, syms.length.toLong)
    }.toSeq
    vocabRows.toDF("word", "n_sub")
  }

  /** Tokenizer FERTILITY by language under a stored BPE model: per
    * `langCol` value, subwords-per-word (fertility) and
    * codepoints-per-subword — the standard audit of how fairly a
    * tokenizer prices each language (a tokenizer trained on skewed
    * data fragments under-represented languages into more, shorter
    * subwords, inflating their effective cost per word; fertility is
    * the number multilingual-tokenizer papers report per language).
    * Same vocabulary replay and broadcast counting join as
    * [[bpeTokenizeFromModel]], aggregated by language instead of
    * document; the ratios divide exact BIGINT sums, so no rounding is
    * needed for the cross-engine gate. */
  def bpeFertilityByLang(docs: DataFrame, langCol: String, textCol: String,
      dir: String): DataFrame = {
    val vocab = storedModelVocab(docs, textCol, dir)
    docs.select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^\\p{L}+$"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"),
        sum(length(col("word"))).as("n_chars"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_words"))
      .withColumn("chars_per_subword",
        col("n_chars").cast("double") / col("n_subwords"))
  }

  /** Oracle twin of [[bpeFertilityByLang]] over `documents`: the
    * training chain unrolled on `trainPred` (the stored model's
    * content), the apply-side rewrite on `applyPred`, grouped by
    * `lang`. */
  def bpeFertilityByLangSql(rounds: Int, trainPred: String,
      applyPred: String): String = {
    val applyBlocks = (1 to rounds).map(r =>
      rewriteSql(s"ae$r", s"asel$r", s"a$r", s"a${r - 1}", s"b$r"))
    bpeChainSql(rounds, trainPred) + ",\n" +
      wordTableSql("a0", applyPred) + ",\n" +
      applyBlocks.mkString(",\n") +
      s"""
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_subwords,
       |  CAST(sum(len(t.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(len(w.syms)) AS DOUBLE) / count(*) AS fertility,
       |  CAST(sum(len(t.word)) AS DOUBLE) / sum(len(w.syms))
       |    AS chars_per_subword
       |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |      FROM documents WHERE $applyPred) t
       |JOIN a$rounds w USING (word)
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  }

  /** Oracle twin of [[bpeTrain]] (`documents` hard-wired): the full
    * merge sequence unrolled as one CTE chain, `rounds` blocks of the
    * same five CTEs. The greedy non-overlapping rewrite is expressed
    * with window functions instead of a fold: mark every (lhs,rhs)
    * adjacency, group consecutive marks into runs (gaps-and-islands —
    * runs longer than 1 only exist when lhs = rhs), keep the odd
    * positions of each run, then rebuild each word's symbol list
    * dropping the consumed right-hand symbols. `AS MATERIALIZED` on the
    * per-round tables is load-bearing: each round references its
    * predecessor twice, so inlined CTEs would re-derive `w0` 2^rounds
    * times. An exhausted corpus (some round finds no pairs) yields an
    * empty `b{r}` whose scalar subqueries go NULL → no marks, `w{r}` =
    * `w{r-1}`, and the round emits no output row — matching the Spark
    * side's loop break. */
  def bpeTrainSql(rounds: Int): String = {
    val unioned = (1 to rounds)
      .map(r => s"SELECT $r AS round, lhs, rhs, n FROM b$r")
      .mkString("\nUNION ALL ")
    bpeChainSql(rounds) +
      s"\nSELECT * FROM (\n$unioned) ORDER BY round"
  }

  /** Oracle twin of [[bpeVocab]]: the same unrolled chain, final select
    * = the last round's word table. */
  def bpeVocabSql(rounds: Int): String =
    bpeChainSql(rounds) +
      s"\nSELECT word, freq, array_to_string(syms, ' ') AS tokens " +
      s"FROM w$rounds ORDER BY word"

  /** The gaps-and-islands greedy-rewrite CTE block: rewrite the word
    * table `src` by the single pair held in `b`, emitting the tables
    * `$e`/`$sel`/`$out` — shared verbatim by the TRAINING chain (b =
    * that round's argmax) and the model-APPLY chain (b = the trained
    * round's pair), so the two oracles cannot drift. An empty `b`
    * (exhausted round) marks nothing and `$out` = `src`. */
  private def rewriteSql(e: String, sel: String, out: String,
      src: String, b: String): String =
    s"""$e AS MATERIALIZED (
       |  SELECT word, freq, i, syms[i] AS s,
       |    COALESCE(syms[i] = (SELECT lhs FROM $b)
       |         AND syms[i+1] = (SELECT rhs FROM $b), FALSE) AS m
       |  FROM (SELECT word, freq, syms,
       |        unnest(range(1, len(syms)+1)) AS i FROM $src)),
       |$sel AS (
       |  SELECT word, i FROM (
       |    SELECT word, i,
       |      ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS k
       |    FROM (SELECT word, i,
       |          i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
       |          FROM $e WHERE m)) WHERE k % 2 = 1),
       |$out AS MATERIALIZED (
       |  SELECT word, freq, list(tok ORDER BY i) AS syms FROM (
       |    SELECT e.word, e.freq, e.i,
       |      CASE WHEN sel.i IS NOT NULL
       |        THEN e.s || (SELECT rhs FROM $b) ELSE e.s END AS tok,
       |      prev.i IS NOT NULL AS consumed
       |    FROM $e e
       |    LEFT JOIN $sel sel ON sel.word = e.word AND sel.i = e.i
       |    LEFT JOIN $sel prev ON prev.word = e.word AND prev.i = e.i - 1)
       |  WHERE NOT consumed GROUP BY word, freq)""".stripMargin

  /** Word-table header: `$name` = distinct `\p{L}+` words of
    * `documents` (under `pred`) with counts and codepoint symbols. */
  private def wordTableSql(name: String, pred: String,
      from: String = "documents"): String =
    s"""$name AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    list_concat(
       |      list_transform(range(1, len(word)+1), i -> word[i:i]),
       |      ['</w>']) AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM $from WHERE $pred)
       |  WHERE regexp_matches(word, '^\\p{L}+$$') GROUP BY word)""".stripMargin

  /** One TRAINING round's CTE block (pair counts + argmax + rewrite)
    * over `w{r-1}` → `w{r}` — pre-tokenization-agnostic, shared by the
    * codepoint and byte-level chains. */
  private def trainRoundSql(r: Int): String = {
    val p = r - 1
    s"""pc$r AS (
       |  SELECT p.l AS lhs, p.r AS rhs, CAST(sum(freq) AS BIGINT) AS n FROM (
       |    SELECT freq, unnest(list_transform(range(1, len(syms)),
       |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p
       |    FROM w$p) GROUP BY p.l, p.r),
       |b$r AS MATERIALIZED (SELECT lhs, rhs, n FROM pc$r
       |  ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1),
       |${rewriteSql(s"e$r", s"sel$r", s"w$r", s"w$p", s"b$r")}""".stripMargin
  }

  private def bpeChainSql(rounds: Int, pred: String = "TRUE"): String =
    "WITH " + wordTableSql("w0", pred) + ",\n" +
      (1 to rounds).map(trainRoundSql).mkString(",\n")

  /** Oracle twin of [[saveBpeModel]] + [[bpeTokenizeFromModel]] over a
    * `documents` split: the training chain unrolled on the `trainPred`
    * slice (its `b$r` tables ARE the stored model), then the APPLY
    * chain — the `applyPred` slice's own word table rewritten by the
    * same `b$r` pairs in order (no pair counting, no argmax: the model
    * is frozen), then per-document counts over the fully-segmented
    * apply vocabulary. Unseen words flow through rounds whose pair
    * never occurs in them — exactly the Spark side's merge replay. */
  def bpeApplyFromModelSql(rounds: Int, trainPred: String,
      applyPred: String, applyFrom: String = "documents"): String = {
    bpeApplyChainSql(rounds, trainPred, applyPred, applyFrom) +
      s"""
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_subwords
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM $applyFrom WHERE $applyPred) t
       |JOIN a$rounds w USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** The [[bpeApplyFromModelSql]] chain WITHOUT the per-document final
    * select — ends at `a<rounds>` = (word, freq, syms), the apply
    * slice's fully-segmented vocabulary. Composable (the q214
    * incremental pipeline prices its released batch with it);
    * `applyFrom` may be an outer CTE name. Starts with `WITH`. */
  def bpeApplyChainSql(rounds: Int, trainPred: String,
      applyPred: String, applyFrom: String = "documents"): String = {
    val applyBlocks = (1 to rounds).map(r =>
      rewriteSql(s"ae$r", s"asel$r", s"a$r", s"a${r - 1}", s"b$r"))
    bpeChainSql(rounds, trainPred) + ",\n" +
      wordTableSql("a0", applyPred, applyFrom) + ",\n" +
      applyBlocks.mkString(",\n")
  }

  // ----------------------------------------------------- byte-level BPE

  /** Byte-level pre-tokenization (the GPT-2 shape): leading-space
    * letter runs, digit runs, punctuation runs, residual whitespace.
    * Lossless by construction — every byte of the text lands in
    * exactly one pre-token — unlike the `\p{L}+` word filter, which
    * silently drops digits and punctuation from training AND pricing.
    * One documented deviation from GPT-2's exact regex: RE2 (the
    * oracle's engine) has no lookahead, so a run of 2+ whitespace
    * characters folds wholly into one whitespace token instead of
    * donating its last space to the following word; single spaces (the
    * corpus norm) attach to the next run exactly as in GPT-2. Both
    * engines use leftmost-first alternation, so segmentation agrees. */
  val bytePreTokenRegex: String =
    " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  private def bytePreTokens(text: Column): Column =
    regexp_extract_all(text, lit(bytePreTokenRegex), lit(0))

  /** The byte-level initial word table: distinct pre-tokens with
    * counts, symbols = UTF-8 bytes mapped through
    * [[TextKernels.byteToChar]] (native kernel). No `</w>` marker —
    * the space prefix carries the word boundary, as in GPT-2. */
  private def byteWords0(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(bytePreTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        TextKernels.byteSymsCol(col("word")).as("syms"))

  /** BYTE-level BPE trainer — [[bpeTrain]]'s twin over the
    * bytes-to-unicode alphabet: never drops a character of ANY script
    * (a byte always has a symbol) and prices digits, punctuation, and
    * whitespace, which the codepoint-level `\p{L}+` trainer excludes
    * by construction. Same merge loop, same argmax tie-break, same
    * scale shape (one corpus scan, then vocabulary-sized rounds). */
  def byteBpeTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, last) = bpeMergeLoopFrom(byteWords0(docs, textCol), rounds)
    last.unpersist(blocking = false)
    merges.toDF("round", "lhs", "rhs", "n")
  }

  /** Per-document token pricing under the byte-level tokenizer —
    * [[bpeTokenize]]'s twin: `(id, n_pretokens, n_bytes, n_tokens)`.
    * `n_bytes` is the document's total UTF-8 payload across pre-tokens
    * (= `n_tokens` at 0 merges — the losslessness invariant: byte
    * tokenization starts from EVERY byte and only ever merges);
    * documents always emit a row because every non-empty text has
    * pre-tokens (no filter to fall out of). Same broadcast-vocabulary
    * counting join as the word tokenizer. */
  def byteBpeTokenize(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (_, last) = bpeMergeLoopFrom(byteWords0(docs, textCol), rounds)
    graft.engine.Caches.track(last)
    val vocab = last.select(col("word"), size(col("syms")).as("n_sub"))
    docs.select(col(idCol), explode(bytePreTokens(col(textCol))).as("word"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(octet_length(col("word"))).as("n_bytes"),
        sum("n_sub").as("n_tokens"))
  }

  /** The 256-row bytes-to-unicode mapping as a LITERAL CTE table
    * `byte_map(hx, sym)` keyed by the uppercase hex of the byte —
    * DuckDB's `hex(encode(word))` emits exactly that key, so the
    * oracle replays the identical mapping with zero engine-specific
    * byte surgery. */
  private def byteMapSql: String = {
    val rows = TextKernels.byteToChar.zipWithIndex.map { case (sym, b) =>
      val esc = sym.replace("'", "''")
      f"('$b%02X', '$esc')"
    }
    s"byte_map(hx, sym) AS (SELECT * FROM (VALUES\n  ${rows.grouped(8)
      .map(_.mkString(", ")).mkString(",\n  ")}))"
  }

  /** Byte-level word-table header: `$name` = distinct pre-tokens of
    * `documents` (under `pred`) with counts and byte symbols — the
    * oracle twin of [[byteWords0]]: per-byte hex slices of the UTF-8
    * encoding joined against the literal [[byteMapSql]] table. */
  private def byteWordTableSql(name: String, pred: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT word, freq, list(bm.sym ORDER BY t.i) AS syms FROM (
       |    SELECT word, freq,
       |      unnest(range(1, octet_length(encode(word)) + 1)) AS i
       |    FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |      FROM (SELECT unnest(regexp_extract_all(text,
       |          '$bytePreTokenRegex')) AS word
       |        FROM documents WHERE $pred)
       |      GROUP BY word)) t
       |  JOIN byte_map bm
       |    ON bm.hx = substr(hex(encode(t.word)), 2 * t.i - 1, 2)
       |  GROUP BY word, freq)""".stripMargin

  private def byteBpeChainSql(rounds: Int, pred: String = "TRUE"): String =
    "WITH " + byteMapSql + ",\n" + byteWordTableSql("w0", pred) + ",\n" +
      (1 to rounds).map(trainRoundSql).mkString(",\n")

  /** Oracle twin of [[byteBpeTrain]] (`documents` hard-wired). */
  def byteBpeTrainSql(rounds: Int, pred: String = "TRUE"): String = {
    val unioned = (1 to rounds)
      .map(r => s"SELECT $r AS round, lhs, rhs, n FROM b$r")
      .mkString("\nUNION ALL ")
    byteBpeChainSql(rounds, pred) +
      s"\nSELECT * FROM (\n$unioned) ORDER BY round"
  }

  /** Oracle twin of [[byteBpeTokenize]] (`documents` hard-wired). */
  def byteBpeTokenizeSql(rounds: Int, pred: String = "TRUE"): String =
    byteBpeChainSql(rounds, pred) +
      s"""
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
       |  CAST(sum(octet_length(encode(t.word))) AS BIGINT) AS n_bytes,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(regexp_extract_all(text,
       |    '$bytePreTokenRegex')) AS word
       |  FROM documents WHERE $pred) t
       |JOIN w$rounds w USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ------------------------------------- persisted byte-level BPE model

  /** [[bpeTrainLocal]] at the byte level: the shared driver-local
    * merge loop over byte symbols — same argmax tie-break (UTF-8 byte
    * order = Spark's string order), identical output to
    * [[byteBpeTrain]] by construction (ByteBpeSpec pins it). `minFreq`
    * prunes the sub-threshold pre-token tail in the distributed
    * aggregation before the collect, with [[bpeTrainLocal]]'s exact
    * driver-bound and equality semantics. */
  def byteBpeTrainLocal(docs: DataFrame, textCol: String,
      rounds: Int, minFreq: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    val words = docs
      .select(explode(bytePreTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .as[(String, Long)].collect()
    val cur0: Array[(Array[String], Long)] = words.map { case (w, f) =>
      (byteSymsLocal(w), f)
    }
    localMergeLoop(cur0, rounds).toDF("round", "lhs", "rhs", "n")
  }

  /** Driver-local twin of [[TextKernels.byteSymsCol]]. */
  private def byteSymsLocal(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => TextKernels.byteToChar(b & 0xff))

  /** Train a BYTE-level BPE tokenizer and PERSIST the model — the
    * [[saveBpeModel]] lifecycle for the byte family (same `merges`
    * table, same atomic manifest commit, driver-local trainer for the
    * production 30k-round shape). */
  def saveByteBpeModel(docs: DataFrame, textCol: String, rounds: Int,
      dir: String, minFreq: Long = 1L): Unit = {
    graft.engine.Manifests.build(docs.sparkSession, dir)(
      _.write("merges", byteBpeTrainLocal(docs, textCol, rounds, minFreq)))
  }

  /** Tokenize an ARBITRARY corpus with a STORED byte-level model —
    * [[bpeTokenizeFromModel]]'s byte twin, with the byte family's
    * stronger guarantee: there is no word filter to fall out of and no
    * unseen-character failure mode — EVERY pre-token of every script
    * segments (bytes where no merge applies), so every document with
    * non-empty text emits a row. Same scale shape: merges collect as a
    * model-bounded driver list, the corpus's distinct pre-tokens are
    * segmented driver-locally (vocab-sized, the same bound as the
    * broadcast the counting join ships anyway), the corpus itself
    * never collects. */
  def byteBpeTokenizeFromModel(docs: DataFrame, idCol: String,
      textCol: String, dir: String,
      atVersion: Option[Long] = None): DataFrame =
    docs.select(col(idCol), explode(bytePreTokens(col(textCol))).as("word"))
      .join(broadcast(byteStoredModelVocab(docs, textCol, dir, atVersion)),
        Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(octet_length(col("word"))).as("n_bytes"),
        sum("n_sub").as("n_tokens"))

  /** The apply corpus's distinct pre-token vocabulary segmented by a
    * STORED byte model: `(word, n_sub)`, broadcastable — the byte twin
    * of [[storedModelVocab]], shared by [[byteBpeTokenizeFromModel]]
    * and [[byteBpeFertilityByLang]]. */
  private def byteStoredModelVocab(docs: DataFrame, textCol: String,
      dir: String, atVersion: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "BPE model", "run saveByteBpeModel first", atVersion)
    val merges = snap.read(spark, "merges")
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val words = docs
      .select(explode(bytePreTokens(col(textCol))).as("word"))
      .distinct()
      .as[String].collect()
    val vocabRows = words.map { w =>
      var syms: Array[String] = byteSymsLocal(w)
      merges.foreach { case (a, b) =>
        if (syms.length >= 2) {
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { x =>
            if (buf.nonEmpty && buf.last == a && x == b)
              buf(buf.length - 1) = a + b
            else buf += x
          }
          syms = buf.toArray
        }
      }
      (w, syms.length.toLong)
    }.toSeq
    vocabRows.toDF("word", "n_sub")
  }

  /** Byte-tokenizer FERTILITY by language — [[bpeFertilityByLang]]'s
    * byte twin, with the byte family's headline metric added:
    * `bytes_per_token` is the COMPRESSION a byte-level tokenizer
    * achieves per language (GPT-style tokenizers are audited exactly
    * this way — a language the merges never saw prices near 1.0
    * byte/token, i.e. pays full byte cost per token of context). Exact
    * BIGINT sums divided once — no rounding needed cross-engine. */
  def byteBpeFertilityByLang(docs: DataFrame, langCol: String,
      textCol: String, dir: String): DataFrame =
    docs.select(col(langCol).as("lang"),
        explode(bytePreTokens(col(textCol))).as("word"))
      .join(broadcast(byteStoredModelVocab(docs, textCol, dir)),
        Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pretokens"),
        sum(octet_length(col("word"))).as("n_bytes"),
        sum("n_sub").as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_pretokens"))
      .withColumn("bytes_per_token",
        col("n_bytes").cast("double") / col("n_tokens"))

  /** Oracle twin of [[byteBpeFertilityByLang]] over a `documents`
    * split. */
  def byteBpeFertilityByLangSql(rounds: Int, trainPred: String,
      applyPred: String): String = {
    val applyBlocks = (1 to rounds).map(r =>
      rewriteSql(s"ae$r", s"asel$r", s"a$r", s"a${r - 1}", s"b$r"))
    byteBpeChainSql(rounds, trainPred) + ",\n" +
      byteWordTableSql("a0", applyPred) + ",\n" +
      applyBlocks.mkString(",\n") +
      s"""
       |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_pretokens,
       |  CAST(sum(octet_length(encode(t.word))) AS BIGINT) AS n_bytes,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_tokens,
       |  CAST(sum(len(w.syms)) AS DOUBLE) / count(*) AS fertility,
       |  CAST(sum(octet_length(encode(t.word))) AS DOUBLE)
       |    / sum(len(w.syms)) AS bytes_per_token
       |FROM (SELECT lang, unnest(regexp_extract_all(text,
       |    '$bytePreTokenRegex')) AS word
       |  FROM documents WHERE $applyPred) t
       |JOIN a$rounds w USING (word)
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  }

  /** Oracle twin of [[saveByteBpeModel]] + [[byteBpeTokenizeFromModel]]
    * over a `documents` split: the byte chain unrolled on `trainPred`
    * (its `b$r` tables ARE the stored model), the `applyPred` slice's
    * own byte word table rewritten by the same pairs in order, then
    * per-document counts — unseen pre-tokens flow through rounds whose
    * pair never occurs in them, exactly the Spark side's replay. */
  def byteBpeApplyFromModelSql(rounds: Int, trainPred: String,
      applyPred: String): String = {
    val applyBlocks = (1 to rounds).map(r =>
      rewriteSql(s"ae$r", s"asel$r", s"a$r", s"a${r - 1}", s"b$r"))
    byteBpeChainSql(rounds, trainPred) + ",\n" +
      byteWordTableSql("a0", applyPred) + ",\n" +
      applyBlocks.mkString(",\n") +
      s"""
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
       |  CAST(sum(octet_length(encode(t.word))) AS BIGINT) AS n_bytes,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(regexp_extract_all(text,
       |    '$bytePreTokenRegex')) AS word
       |  FROM documents WHERE $applyPred) t
       |JOIN a$rounds w USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }
}
