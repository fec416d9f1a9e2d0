package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Caches.materialized
import graft.engine.Partitioning.parallelized
import graft.functions.{TextFunctions, TextKernels}

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard (inverted-index), MinHash+LSH, and SimHash near-dup.
  *
  * Scale design (the point of these ops at 100 TB):
  *  - NOTHING here is pairwise over the corpus. Candidate generation always
  *    goes through a shuffle-on-key inverted index (shared shingle, LSH
  *    band bucket, or SimHash band), so cost is O(candidates), not O(n²).
  *  - Signatures are computed columnar (`transform`/`aggregate` over token
  *    arrays) inside whole-stage codegen — one scan, no explode until the
  *    (much smaller) banding step.
  *  - Exact verification (true Jaccard / Hamming) runs only on candidate
  *    pairs, joined back by id — the classic filter-verify pattern.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical representative (min id) per identical text.
    * Plain hash aggregation — Spark's partial/final agg handles any scale.
    * The group key is the 128-bit MD5 fingerprint of the text, not the text
    * itself, so the shuffle sorts/compares 16-byte keys instead of full
    * documents; the text rides along as a `first` aggregate (identical
    * within a group, and map-side partial agg collapses duplicates before
    * anything crosses the wire). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("_fp"))
      .agg(min(idCol).as(idCol), first(textCol).as(textCol))
      .select(idCol, textCol)

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct). Documents shorter than `n` tokens
    * yield their whole text as a single shingle. The gram construction is
    * a native byte-scan kernel ([[TextKernels.ShinglesExpr]]) — semantics
    * identical to the `transform`/`slice`/`array_join` composition (and
    * the DuckDB oracle twin), but evaluated as one codegen'd static call
    * instead of interpreted per-element lambdas. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextKernels.shinglesCol(text, n))

  /** Exact Jaccard over two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b))

  // ---------------------------------------- exact n-gram Jaccard (inverted)

  /** Exact n-gram Jaccard near-dup pairs with the inverted-index
    * ESTIMATOR semantics (rare-only intersection): the per-pair score is
    * `|rare(a) ∩ rare(b)| / (|a| + |b| − |rare(a) ∩ rare(b)|)` where
    * `rare` keeps shingles with document frequency ≤ the stop-shingle
    * cutoff (df ≥ 2 is implied — a shared shingle always has it). The
    * cutoff DEFAULTS to the q212 pair-budget knee derived in-plan from
    * this corpus's own df histogram ([[autoMaxDfFrame]], broadcast as
    * one row — no driver round-trip); pass `maxDf = Some(d)` to pin a
    * fixed cutoff instead. Since the score never exceeds true Jaccard,
    * the output is the classic prune-tolerant subset: a true pair drops
    * out only if enough of its shared shingles are ubiquitous.
    *
    * Construction: candidates come from the PPJoin prefix filter
    * ([[prefixJaccardCandidates]] — total recall for true-J ≥ t pairs,
    * hence for every scoring pair, since score ≤ true J), and the
    * rare-only intersection is a sorted-merge kernel per candidate with
    * the `c ≥ t/(1+t)·(|a|+|b|)` early-abandon floor. This replaces the
    * former maxDf posting self-join — the suite's most expensive join —
    * with the strictly smaller prefix-posting join; the spec asserts the
    * two constructions emit identical pairs (and
    * [[ngramJaccardPairsInverted]] keeps the naive build for that
    * proof). One shared inverted index feeds both the prefix index and
    * the rare arrays, so document frequencies are counted once. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Option[Int] = None,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    val t = threshold
    require(t > 0.0 && t <= 1.0, s"threshold must be in (0, 1], got $t")
    val sh = materialized(parallelized(df)
      .select(col(idCol).as("id"),
        array_sort(shingles(col(textCol), n)).as("sh")))
    val inv = sh.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val invDf = materialized(inv.join(dfreq, Seq("s")))
    val cands = prefixJaccardCandidatesFrom(invDf, t, fullPositional = true)
    // df >= 2: singleton shingles can never be shared, so dropping them
    // leaves every pairwise intersection unchanged while shrinking the
    // collected arrays to just the shareable shingles (on a mostly-
    // unique corpus that is a small fraction of each document).
    val rareArrs = pruneByMaxDf(invDf.filter(col("df") >= 2), "df",
        maxDf, pairBudget, dfreq)
      .groupBy("id").agg(array_sort(collect_list(col("s"))).as("rsh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n_sh"))
    cands
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .join(rareArrs.select(col("id").as("id_a"), col("rsh").as("rsh_a")),
        Seq("id_a"), "left")
      .join(rareArrs.select(col("id").as("id_b"), col("rsh").as("rsh_b")),
        Seq("id_b"), "left")
      // score ≥ t ⟺ c ≥ t/(1+t)·(n_a+n_b) (denominator uses FULL set
      // sizes) — the same algebra as the exact verify, so the kernel's
      // early-abandon floor applies; a doc with no rare shingles scores
      // 0 and can never pass a positive threshold.
      .withColumn("c",
        when(col("rsh_a").isNull || col("rsh_b").isNull, lit(-1))
          .otherwise(TextKernels.boundedSortedIntersectCol(
            col("rsh_a"), col("rsh_b"),
            ceil((col("n_a") + col("n_b")) * (t / (1.0 + t)) - 1e-9)
              .cast("int"))))
      .filter(col("c") >= 0)
      .withColumn("jaccard",
        col("c").cast("double") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard")
  }

  /** The naive inverted-index construction of [[ngramJaccardPairs]]
    * (maxDf posting self-join → per-pair shared counts). Identical
    * output by construction — kept non-public as the equality-spec twin
    * and the pedagogical baseline; the public operator generates its
    * candidates with the prefix filter instead, which is strictly
    * cheaper (prefix postings ⊂ rare postings). */
  private[graft] def ngramJaccardPairsInverted(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxDf: Option[Int] = None,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    val sh = materialized(parallelized(df)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")))
    val sizes = sh.select(col("id"), size(col("sh")).as("n_sh"))
    val inv = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val rare = pruneByMaxDf(dfreq.filter(col("df") >= 2), "df",
      maxDf, pairBudget, dfreq)
    val postings = materialized(inv.join(rare.select("s"), Seq("s")))
    val shared = postings.as("a")
      .join(postings.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** DuckDB twin of [[shingles]] over a `text` column — the same
    * distinct word n-grams (whole text when shorter than n tokens). */
  def shinglesSql(n: Int): String = {
    val toks = "string_split(text, ' ')"
    val grams = s"list_transform(range(1, greatest(len($toks) - ${n - 1}, 0) + 1), " +
      s"i -> array_to_string($toks[i:i+${n - 1}], ' '))"
    s"list_distinct(CASE WHEN len($toks) >= $n THEN $grams " +
      s"ELSE [array_to_string($toks, ' ')] END)"
  }

  // ------------------------------------------------ stop-shingle tuning

  /** DF-class tuning table for the stop-shingle cutoff — the COST MODEL
    * behind `maxDf`, materialized: in the inverted-index construction a
    * shingle shared by `df` documents contributes C(df, 2) =
    * df·(df−1)/2 candidate pairs to the posting self-join, so the total
    * pair work admitted by a cutoff D is
    *
    *   W(D) = Σ_{df ≤ D} h(df) · df·(df−1)/2
    *
    * with `h` the document-frequency histogram. W is monotone in D and
    * QUADRATIC in the tail — a single df-10⁶ boilerplate shingle alone
    * is ~5·10¹¹ pairs, which is why the prune exists. One row per df
    * class: the class population, its pair work, the running W, and
    * whether the class fits `pairBudget`. The frame is df-class-sized
    * (≤ max df rows), so the ordering window never sees the corpus.
    * `class_pairs` is exact in BIGINT up to ~3·10⁹-document classes;
    * beyond that move the arithmetic to DECIMAL. */
  def maxDfTuningTable(docs: DataFrame, idCol: String, textCol: String,
      n: Int, pairBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pairBudget >= 1, s"pairBudget must be >= 1, got $pairBudget")
    val inv = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("s"))
    val hist = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n_shingles"))
      .withColumn("class_pairs",
        col("n_shingles") * expr("CAST(df * (df - 1) AS BIGINT) div 2"))
    val w = Window.orderBy("df")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_pairs", sum("class_pairs").over(w).cast("long"))
      .withColumn("kept",
        (col("cum_pairs") <= pairBudget).cast("int"))
      .select("df", "n_shingles", "class_pairs", "cum_pairs", "kept")
  }

  /** AUTO-TUNED stop-shingle cutoff: the largest df whose cumulative
    * pair work ([[maxDfTuningTable]]'s W) stays within `pairBudget` —
    * the knee where the next df class would blow the posting-join
    * budget, derived from the corpus instead of carried as a magic
    * constant. Floor 2 (df-1 shingles are unshareable; a cutoff below
    * 2 would empty the index — if even the df-2 class exceeds the
    * budget the floor still returns 2 and the caller's budget is
    * simply not achievable by df pruning alone). On corpora whose
    * whole distribution fits the budget — every fixture here — the
    * tuned cutoff admits every shareable shingle, so the pair
    * population equals any fixed maxDf at or above the max df
    * (DedupSpec pins equality with the historical 100); on web-scale
    * tails it cuts exactly the boilerplate classes the fixed constant
    * was guessing at. One scalar driver round-trip over the df-class
    * frame. */
  def autoMaxDf(docs: DataFrame, idCol: String, textCol: String,
      n: Int, pairBudget: Long = DefaultPairBudget): Int = {
    val kept = maxDfTuningTable(docs, idCol, textCol, n, pairBudget)
      .filter(col("kept") === 1 && col("df") >= 2)
      .agg(max("df")).head()
    if (kept.isNullAt(0)) 2 else math.max(2, kept.getLong(0).toInt)
  }

  /** The default pair budget behind the WIRED auto cutoff — the q212
    * derivation's historical default, shared by every stop-term-pruned
    * operator so the knob has one spelling. */
  val DefaultPairBudget: Long = 10000000L

  /** The [[autoMaxDf]] knee as a 1-ROW FRAME derived IN-PLAN from an
    * already-computed term document-frequency frame (`dfCol` per term)
    * — the wired form of the q212 derivation. The pruned operators
    * broadcast this row into their stop-term filter, so the cutoff is
    * derived from the corpus on every run with no driver round-trip
    * and no second corpus scan (the df frame is one the operator
    * already builds). The ordering window runs over the df-CLASS
    * histogram (≤ max-df rows), never the corpus — the same bounded
    * frame as [[maxDfTuningTable]]. */
  private def autoMaxDfFrame(dfreq: DataFrame, dfCol: String,
      pairBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pairBudget >= 1, s"pairBudget must be >= 1, got $pairBudget")
    val hist = dfreq.groupBy(col(dfCol).as("_df"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_cp",
        col("_n") * expr("CAST(_df * (_df - 1) AS BIGINT) div 2"))
    val w = Window.orderBy("_df")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("_cum", sum("_cp").over(w))
      .filter(col("_df") >= 2 && col("_cum") <= pairBudget)
      .agg(coalesce(greatest(max("_df"), lit(2L)), lit(2L))
        .as("max_df_cut"))
  }

  /** Stop-term prune over a frame carrying `dfCol`: a FIXED cutoff when
    * `maxDf` is given, otherwise the broadcast in-plan
    * [[autoMaxDfFrame]] knee at `pairBudget` (derived from `dfreq`,
    * the operator's own df frame). */
  private def pruneByMaxDf(postings: DataFrame, dfCol: String,
      maxDf: Option[Int], pairBudget: Long, dfreq: DataFrame): DataFrame =
    maxDf match {
      case Some(m) => postings.filter(col(dfCol) <= m)
      case None => postings
        .crossJoin(broadcast(autoMaxDfFrame(dfreq, dfCol, pairBudget)))
        .filter(col(dfCol) <= col("max_df_cut")).drop("max_df_cut")
    }

  /** Scalar-subquery SQL of the [[autoMaxDfFrame]] knee over a postings
    * CTE (one row per (doc, term) in `from`, term column `termCol`) —
    * the q213 stride pattern: the oracle RE-DERIVES the same cutoff
    * from the same frame the operator derives it from, so a schedule
    * or budget change reaches both engines together. */
  def autoMaxDfCutSql(from: String, termCol: String,
      pairBudget: Long): String =
    s"""(WITH adf_d AS (SELECT CAST(count(*) AS BIGINT) AS df
       |    FROM $from GROUP BY $termCol),
       |  adf_h AS (SELECT df, CAST(count(*) * (df * (df - 1) // 2)
       |      AS BIGINT) AS cp FROM adf_d GROUP BY df),
       |  adf_c AS (SELECT df, CAST(SUM(cp) OVER (ORDER BY df
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum FROM adf_h)
       |  SELECT GREATEST(COALESCE(MAX(df), 2), 2) FROM adf_c
       |  WHERE df >= 2 AND cum <= $pairBudget)""".stripMargin

  /** Oracle twin of [[maxDfTuningTable]] (`documents` hard-wired). */
  def maxDfTuningTableSql(n: Int, pairBudget: Long): String =
    s"""WITH sh AS (SELECT doc_id AS id, ${shinglesSql(n)} AS sh
       |  FROM documents),
       |inv AS (SELECT id, unnest(sh) AS s FROM sh),
       |dfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM inv
       |  GROUP BY s),
       |hist AS (SELECT df, CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(n_shingles * (df * (df - 1) // 2) AS BIGINT)
       |      AS class_pairs
       |  FROM dfreq GROUP BY df),
       |c AS (SELECT *, CAST(SUM(class_pairs) OVER (ORDER BY df
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_pairs FROM hist)
       |SELECT df, n_shingles, class_pairs, cum_pairs,
       |  CASE WHEN cum_pairs <= $pairBudget THEN 1 ELSE 0 END AS kept
       |FROM c""".stripMargin

  /** SQL twin of [[ngramJaccardPairs]] for the DuckDB oracle (documents
    * table, 3-gram shingles). `maxDf = None` (the wired default)
    * re-derives the auto cutoff from the same inverted index via
    * [[autoMaxDfCutSql]]. */
  def ngramJaccardPairsSql(n: Int, threshold: Double,
      maxDf: Option[Int] = None,
      pairBudget: Long = DefaultPairBudget): String = {
    val sh = shinglesSql(n)
    val cut = maxDf.map(_.toString)
      .getOrElse(autoMaxDfCutSql("inv", "s", pairBudget))
    s"""WITH sh AS (SELECT doc_id AS id, $sh AS sh FROM documents),
       |sizes AS (SELECT id, len(sh) AS n_sh FROM sh),
       |inv AS (SELECT id, unnest(sh) AS s FROM sh),
       |rare AS (SELECT s FROM inv GROUP BY s
       |         HAVING COUNT(*) <= $cut AND COUNT(*) >= 2),
       |postings AS (SELECT inv.id, inv.s FROM inv JOIN rare USING (s)),
       |shared AS (SELECT a.id AS id_a, b.id AS id_b,
       |             CAST(COUNT(*) AS BIGINT) AS shared
       |           FROM postings a JOIN postings b
       |             ON a.s = b.s AND a.id < b.id
       |           GROUP BY a.id, b.id)
       |SELECT id_a, id_b,
       |  CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) AS jaccard
       |FROM shared
       |JOIN sizes sa ON sa.id = id_a
       |JOIN sizes sb ON sb.id = id_b
       |WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= $threshold""".stripMargin
  }

  /** Exact n-gram Jaccard near-dup pairs via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW 2007; Xiao et al., "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW 2008).
    *
    * Unlike [[ngramJaccardPairs]]' `maxDf` stop-shingle prune — which can
    * miss a true pair whose every shared shingle is ubiquitous — prefix
    * filtering is EXACT: order every document's shingles by a single
    * global rarity order (document frequency asc, shingle asc) and index
    * only the first `|d| − ⌈t·|d|⌉ + 1` of them. Any pair with
    * J(a,b) ≥ t shares at least `⌈t·max(|a|,|b|)⌉` shingles, which cannot
    * all hide in both suffixes, so the two prefixes must collide on some
    * shingle — candidate recall is total by the pigeonhole, and the
    * exact-Jaccard verify join-back makes the output precisely the true
    * Jaccard-≥-t pair set (oracled against the exhaustive all-pairs twin,
    * [[trueJaccardPairsSql]]).
    *
    * Scale shape: the only quadratic-risk step is the posting self-join,
    * and the global rare-first order concentrates prefixes on the rarest
    * shingles, so posting lists stay short precisely where the join is
    * quadratic in their length (ubiquitous shingles land in suffixes and
    * are never indexed). The size-ratio filter `t·|b| ≤ |a| ≤ |b|/t`
    * (implied by J ≥ t) prunes candidates before the shuffle carries
    * them. Per-document prefix selection is a row_number window keyed by
    * document id — partitions are document-sized, never global.
    *
    * Float-safety: both `⌈t·|d|⌉` and the size-ratio bound are relaxed by
    * 1e-9 so double rounding can only lengthen a prefix or admit an extra
    * candidate (verified away), never drop a true pair.
    *
    * The verify step computes Jaccard as `c / (|a| + |b| − c)` with `c`
    * from [[TextKernels.boundedSortedIntersectCount]] over shingle arrays
    * sorted ONCE per document in the cached projection — the
    * `array_intersect`/`array_union` form builds two hash sets and a union
    * array per candidate PAIR, measured at 2.3× the plain merge kernel's
    * cost (same integers, same double). Ahead of it, the FULL PPJoin
    * positional filter — exact common-prefix count `cp` plus the
    * max-match-position tail bound — prunes candidates with integer
    * arithmetic before any array is touched; inside the kernel, the
    * WWW'08 suffix-filter bound and early-abandon merge kill near-miss
    * pairs in O(log) without completing the O(n) scan. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val t = threshold
    require(t > 0.0 && t <= 1.0, s"threshold must be in (0, 1], got $t")
    val sh = materialized(parallelized(df)
      .select(col(idCol).as("id"),
        array_sort(shingles(col(textCol), n)).as("sh")))
    val cands = prefixJaccardCandidates(sh, t, fullPositional = true)
    // Verify floor: J ≥ t ⟺ c ≥ t/(1+t)·(|a|+|b|); the 1e-9 relaxation
    // admits boundary pairs (kernel −1 is only ever a true sub-floor
    // pair), and the final jaccard filter re-checks survivors exactly.
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("c", TextKernels.boundedSortedIntersectCol(
        col("sh_a"), col("sh_b"),
        ceil((size(col("sh_a")) + size(col("sh_b")))
          * (t / (1.0 + t)) - 1e-9).cast("int")))
      .filter(col("c") >= 0)
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate stage of [[prefixJaccardPairs]]: rarity-ordered prefix
    * index, size-ratio-filtered posting self-join, positional filter.
    * `sh` must be `(id, sh)` with lexically sorted distinct shingles.
    *
    * `fullPositional = true` applies the PPJoin positional filter in its
    * full strength: the groupBy that dedups candidate pairs also counts
    * the EXACT number of shared prefix shingles `cp` and both sides' MAX
    * matching positions, giving `overlap ≤ cp + min(|a|−rkmax_a,
    * |b|−rkmax_b)`. Soundness: prefixes are ordered by one global total
    * order, so the shared shingle at the max positions dominates every
    * other shared prefix shingle on BOTH sides — any common shingle
    * beyond it must sit past both max positions (the tail term), and any
    * common shingle below it sits below `rkmax ≤ prefix_len` on both
    * sides, i.e. inside both prefixes, where the join counted it in
    * `cp` exactly. `false` keeps the weaker 1 + min-position bound
    * (strictly implied by the full one since `rkmax ≥ rkmin + cp − 1`) —
    * retained for the spec that asserts the strengthening prunes. */
  private[graft] def prefixJaccardCandidates(sh: DataFrame, t: Double,
      fullPositional: Boolean): DataFrame = {
    val inv = sh.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    prefixJaccardCandidatesFrom(inv.join(dfreq, Seq("s")), t, fullPositional)
  }

  /** [[prefixJaccardCandidates]] over a PRE-JOINED inverted index
    * `(id, n_sh, s, df)` — lets a caller that also needs document
    * frequencies for its own scoring (the inverted-estimator q23 path)
    * count them once and share the frame. */
  private[graft] def prefixJaccardCandidatesFrom(invDf: DataFrame,
      t: Double, fullPositional: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRarity = Window.partitionBy("id").orderBy(col("df"), col("s"))
    val prefixes = materialized(invDf
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <=
        col("n_sh") - ceil(col("n_sh") * t - 1e-9) + 1)
      .select("id", "n_sh", "s", "rk"))
    val joined = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.n_sh") >= col("b.n_sh") * t - 1e-9 &&
          col("b.n_sh") >= col("a.n_sh") * t - 1e-9)
    val required =
      ceil((col("n_a") + col("n_b")) * (t / (1.0 + t)) - 1e-9)
    if (fullPositional)
      joined
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"),
          count(lit(1)).as("cp"),
          max(col("a.rk")).as("rkmax_a"), max(col("b.rk")).as("rkmax_b"))
        .filter(col("cp") +
          least(col("n_a") - col("rkmax_a"), col("n_b") - col("rkmax_b")) >=
          required)
        .select("id_a", "id_b")
    else
      joined
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"),
          min(col("a.rk")).as("rk_a"), min(col("b.rk")).as("rk_b"))
        .filter(lit(1) +
          least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")) >=
          required)
        .select("id_a", "id_b")
  }

  /** True-Jaccard pair oracle (DuckDB): exhaustive id_a < id_b cross join
    * with exact list intersection/union — the semantic ground truth that
    * [[minhashNearDup]]'s filter-verify pipeline must reproduce. Only
    * viable at oracle scale (quadratic); the LSH path is the scale plan. */
  def trueJaccardPairsSql(n: Int, threshold: Double,
      from: String = "documents"): String = {
    val toks = "string_split(text, ' ')"
    val grams = s"list_transform(range(1, greatest(len($toks) - ${n - 1}, 0) + 1), " +
      s"i -> array_to_string($toks[i:i+${n - 1}], ' '))"
    val sh = s"list_distinct(CASE WHEN len($toks) >= $n THEN $grams " +
      s"ELSE [array_to_string($toks, ' ')] END)"
    s"""WITH sh AS (SELECT doc_id AS id, $sh AS sh FROM $from),
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM sh a JOIN sh b ON a.id < b.id)
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE jaccard >= $threshold""".stripMargin
  }

  // ------------------------------------------------------- MinHash + LSH

  /** Large prime modulus for the affine MinHash family (fits 31 bits so
    * `a*h+b` never overflows a long). */
  val MinhashP: Long = 2147483647L

  /** LSH banding (bands b, rows-per-band r) DERIVED from the target
    * threshold — the S-curve knob-closure for the last magic sizing in
    * the dedup family (the q212/q213 pattern applied to the 64-hash/
    * 16-band constants). A banded scheme detects a pair of Jaccard
    * similarity s with probability `1 − (1 − s^r)^b`; the derivation
    * picks, among r = 1..maxRows:
    *
    *   - the LARGEST b with the curve's knee `(1/b)^(1/r)` still at or
    *     above `threshold` (b ≤ t^−r): candidates below the threshold
    *     stay improbable, so the verify join is not flooded;
    *   - subject to detection at `targetSim` (the similarity the
    *     corpus's true near-dups actually have — the q24 bimodal
    *     contract's upper mode) reaching `recallFloor`;
    *   - at the SMALLEST such r (fewest total hashes b·r).
    *
    * At the canonical inputs (threshold 0.5, targetSim 0.9, floor
    * 1 − 1e−6) this yields exactly (b = 16, r = 4) = 64 hashes — the
    * historical constants, now a computed consequence (spec-pinned).
    * Throws if no r ≤ maxRows satisfies both constraints (threshold
    * and floor irreconcilable at this budget). */
  def bandsForThreshold(threshold: Double, targetSim: Double = 0.9,
      recallFloor: Double = 1 - 1e-6, maxRows: Int = 16): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(targetSim >= threshold && targetSim < 1.0,
      s"targetSim must be in [threshold, 1), got $targetSim")
    require(recallFloor > 0.0 && recallFloor < 1.0,
      s"recallFloor must be in (0, 1), got $recallFloor")
    (1 to maxRows).iterator.flatMap { r =>
      val (bKnee, bRecall) = lshBandWindow(threshold, targetSim,
        recallFloor, r)
      if (bRecall <= bKnee) Some((bKnee, r)) else None
    }.nextOption().getOrElse(sys.error(
      s"no (bands, rows) with rows <= $maxRows reaches recall " +
        s"$recallFloor at sim $targetSim with knee >= $threshold"))
  }

  /** (largest b with knee ≥ threshold, smallest b reaching the recall
    * floor at targetSim) for one r — the ±1e-9 guards keep the integer
    * floor/ceil stable across libm implementations (the oracle replays
    * the identical guarded arithmetic). */
  private def lshBandWindow(threshold: Double, targetSim: Double,
      recallFloor: Double, r: Int): (Int, Int) = (
    math.floor(math.pow(threshold, -r) + 1e-9).toInt,
    math.ceil(math.log(1 - recallFloor) /
      math.log(1 - math.pow(targetSim, r)) - 1e-9).toInt)

  /** Detection probability of the (b, r) banded scheme at similarity
    * s: `1 − (1 − s^r)^b`. */
  def lshDetectProb(bands: Int, rows: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** The [[bandsForThreshold]] derivation AS DATA (the q212 pattern):
    * one row per candidate rows-per-band r with its feasible band
    * window, the chosen flag, and the resulting S-curve detection
    * probabilities at the threshold and at the target similarity —
    * the table a curator reads to see why the sizing is what it is.
    * Pure closed-form arithmetic (no corpus scan); probabilities
    * rounded once, integers through the guarded floor/ceil. */
  def lshSizingTable(spark: org.apache.spark.sql.SparkSession,
      threshold: Double = 0.5, targetSim: Double = 0.9,
      recallFloor: Double = 1 - 1e-6, maxRows: Int = 16): DataFrame = {
    import spark.implicits._
    val chosen = bandsForThreshold(threshold, targetSim, recallFloor, maxRows)
    (1 to maxRows).map { r =>
      val (bKnee, bRecall) = lshBandWindow(threshold, targetSim,
        recallFloor, r)
      val feasible = if (bRecall <= bKnee) 1 else 0
      val isChosen = if ((bKnee, r) == chosen) 1 else 0
      (r, bKnee, bRecall, feasible, isChosen, bKnee * r,
        BigDecimal(lshDetectProb(bKnee, r, threshold))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(lshDetectProb(bKnee, r, targetSim))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("rows_per_band", "b_knee", "b_recall", "feasible", "chosen",
      "hashes", "detect_at_threshold", "detect_at_target")
  }

  /** Oracle twin of [[lshSizingTable]] (DuckDB): the identical guarded
    * closed-form arithmetic, row set from `range`. */
  def lshSizingTableSql(threshold: Double = 0.5, targetSim: Double = 0.9,
      recallFloor: Double = 1 - 1e-6, maxRows: Int = 16): String =
    s"""WITH r AS (SELECT CAST(unnest(range(1, ${maxRows + 1})) AS INTEGER)
       |    AS rows_per_band),
       |c AS (SELECT rows_per_band,
       |    CAST(floor(pow($threshold, -rows_per_band) + 1e-9) AS INTEGER)
       |      AS b_knee,
       |    CAST(ceil(ln(1 - $recallFloor)
       |      / ln(1 - pow($targetSim, rows_per_band)) - 1e-9) AS INTEGER)
       |      AS b_recall
       |  FROM r),
       |f AS (SELECT *, CASE WHEN b_recall <= b_knee THEN 1 ELSE 0 END
       |    AS feasible FROM c),
       |ch AS (SELECT *, CASE WHEN feasible = 1 AND rows_per_band =
       |    (SELECT MIN(rows_per_band) FROM f WHERE feasible = 1)
       |    THEN 1 ELSE 0 END AS chosen FROM f)
       |SELECT rows_per_band, b_knee, b_recall, feasible, chosen,
       |  b_knee * rows_per_band AS hashes,
       |  round(1 - pow(1 - pow($threshold, rows_per_band), b_knee), 6)
       |    AS detect_at_threshold,
       |  round(1 - pow(1 - pow($targetSim, rows_per_band), b_knee), 6)
       |    AS detect_at_target
       |FROM ch""".stripMargin

  /** The DERIVED default LSH sizing at the canonical near-dup gate
    * (threshold 0.5, bimodal upper mode 0.9): (bands, rows) = (16, 4),
    * 64 hashes — every MinHash default below reads from here, so the
    * sizing has one derivation, not scattered literals. */
  val DefaultLsh: (Int, Int) = bandsForThreshold(0.5)
  private val DefaultBands: Int = DefaultLsh._1
  private val DefaultNumHashes: Int = DefaultLsh._1 * DefaultLsh._2

  /** Seeded affine hash family params, deterministic across runs. */
  def hashFamily(numHashes: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Seq.fill(numHashes)(1L + math.abs(rnd.nextLong()) % (MinhashP - 1))
    val bs = Seq.fill(numHashes)(math.abs(rnd.nextLong()) % MinhashP)
    (as, bs)
  }

  /** MinHash signature (array of `numHashes` minima) over a shingle array,
    * fully columnar and single-pass: h_i(s) = (a_i · xxhash64(s) + b_i)
    * mod P.
    *
    * Structured as one `aggregate` over the shingle array with an array
    * accumulator of running minima: each shingle is string-hashed exactly
    * once, then folded into all `numHashes` minima with a `zip_with`
    * against the (a, b) parameter array. The naive transpose — `transform`
    * over hash indices, each re-scanning the shingles — re-evaluates
    * `xxhash64` numHashes× per shingle, which is the difference between
    * O(S) and O(S·H) string hashing per document.
    *
    * Note: higher-order functions evaluate interpreted; for the hot path
    * [[minhashSignatures]] computes the same minima through a codegen'd
    * explode + 64-way min aggregation instead. This Column form remains
    * for composition on small inputs. */
  def minhashSignature(shinglesCol: Column, numHashes: Int, seed: Long): Column = {
    val (as, bs) = hashFamily(numHashes, seed)
    val params = typedlit(as.zip(bs))
    val hashes = transform(shinglesCol, s => pmod(xxhash64(s), lit(MinhashP)))
    aggregate(
      hashes,
      array_repeat(lit(MinhashP), numHashes),
      (acc, h) => zip_with(acc, params, (m, p) =>
        least(m, pmod(p.getField("_1") * h + p.getField("_2"), lit(MinhashP)))))
  }

  /** Per-document MinHash signatures as 64 scalar columns `m0..m{H-1}`,
    * computed fully inside whole-stage codegen: explode shingles, hash
    * each once, take `numHashes` affine minima in one hash aggregation.
    * The groupBy(id) shuffle is tiny — partial aggregation collapses each
    * partition to one row per document before the exchange — and nothing
    * in the plan is an interpreted lambda, so this is the form that scans
    * a 100 TB corpus at full speed. Semantics identical to
    * [[minhashSignature]]. */
  def minhashSignatures(df: DataFrame, idCol: String, shCol: String,
      numHashes: Int, seed: Long): DataFrame = {
    val (as, bs) = hashFamily(numHashes, seed)
    val minCols = (0 until numHashes).map(i =>
      min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(MinhashP))).as(s"m$i"))
    df.select(col(idCol), explode(col(shCol)).as("s"))
      .withColumn("h", pmod(xxhash64(col("s")), lit(MinhashP)))
      .groupBy(idCol)
      .agg(minCols.head, minCols.tail: _*)
  }

  /** MinHash/LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle → signature (columnar) → explode band keys →
    * self-join on band key (the only shuffle that matters; key cardinality
    * ≈ corpus size × bands, heavily skew-resistant because identical bands
    * are precisely the near-dup candidates) → distinct candidate pairs →
    * join back for exact Jaccard ≥ `threshold`. */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands,
      threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    // Persist the shingle projection (reused by both verify join-backs and
    // the signature) and the banded keys (reused by both self-join sides).
    // Without the materialization barriers, projection collapse would
    // inline the signature computation into every consumer — measured as a
    // >30× slowdown at sf0.1.
    val sh = materialized(parallelized(df)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")))
    // Signature + band keys in one native per-row kernel
    // ([[TextKernels.MinhashBandsExpr]]): each shingle hashed once, all
    // minima folded in a tight loop, band strings emitted directly — the
    // whole LSH prelude is a single codegen'd projection over the cached
    // shingles, with no wide aggregation or explode before the band join.
    val (as, bs) = hashFamily(numHashes, seed)
    val banded = materialized(
      sh.select(col("id"), explode(TextKernels.minhashBandsCol(
        col("sh"), as, bs, bands, MinhashP)).as("band")))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus MinHash near-dup — the INCREMENTAL-INGESTION dedup: a
    * new batch checked against an existing reference corpus, emitting
    * `(new_id, ref_id, jaccard)` matches. Same LSH family/seed on both
    * sides, band-bucket equi-join ACROSS corpora (never all-pairs, no
    * id-order constraint — the sides are distinct), exact-Jaccard
    * verify on candidates only. Recall is the same banding argument as
    * [[minhashNearDup]] — the cross pairs are a subset of the self-join
    * pair population at identical parameters.
    *
    * At 100 TB the reference side's shingles/bands are computed once per
    * ingest here, but a production deployment would PERSIST them (they
    * are pure functions of the text, q91-style layout applies) and
    * amortize across every arriving batch — only the new side is ever
    * freshly shingled. The verify joins fan candidates back to both
    * shingle caches. */
  def minhashNearDupAcross(newDf: DataFrame, refDf: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands,
      threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val (as, bs) = hashFamily(numHashes, seed)
    def prep(df: DataFrame): (DataFrame, DataFrame) = {
      // Shingles feed the band projection AND the verify join-back —
      // cache them; each banded side feeds exactly one join, so it
      // stays a plain projection over the cache.
      val sh = materialized(parallelized(df)
        .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")))
      val banded = sh.select(col("id"), explode(TextKernels.minhashBandsCol(
        col("sh"), as, bs, bands, MinhashP)).as("band"))
      (sh, banded)
    }
    val (shNew, bandedNew) = prep(newDf)
    val (shRef, bandedRef) = prep(refDf)
    val cands = bandedNew.as("a")
      .join(bandedRef.as("b"), col("a.band") === col("b.band"))
      .select(col("a.id").as("new_id"), col("b.id").as("ref_id"))
      .distinct()
    cands
      .join(shNew.select(col("id").as("new_id"), col("sh").as("sh_a")),
        Seq("new_id"))
      .join(shRef.select(col("id").as("ref_id"), col("sh").as("sh_b")),
        Seq("ref_id"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "ref_id", "jaccard")
  }

  // --------------------------------------------- persisted MinHash index

  /** Build-once persistence of the REFERENCE side of incremental dedup —
    * the production 100 TB shape [[minhashNearDupAcross]]'s scaladoc
    * promised: shingles and band keys are pure functions of the text,
    * so a daily ingest amortizes ONE reference-corpus pass over every
    * arriving batch instead of re-shingling the whole corpus per run
    * (the same train-once argument as [[Similarity.buildPqIndex]]).
    * Writes three parquet tables under `dir`:
    *
    *   - `params`  — (n, num_hashes, bands, seed): one row; query and
    *     append calls derive the LSH family from the stored index, so
    *     callers cannot drift from what was built;
    *   - `sh`      — (id, sh): each reference document's distinct
    *     shingle array (the exact-Jaccard verify side);
    *   - `bands`   — (id, band): the exploded LSH band keys (the
    *     candidate equi-join side).
    *
    * COMMIT PROTOCOL — like every stored family, this index runs
    * [[graft.engine.Manifests]]' versioned snapshots: the build writes
    * one immutable data segment and publishes manifest v1 with one
    * atomic marker create. A reader resolves a snapshot ONCE and reads
    * params/sh/bands from the SAME immutable version — never a
    * mid-mutation view — and a resolved snapshot survives
    * `keepVersions - 1` subsequent commits (ManifestsSpec holds a
    * concurrent reader across append and
    * [[graft.engine.Manifests.compact]]). [[minhashNearDupFromIndex]]
    * over this index is bit-equal to the recompute-everything
    * [[minhashNearDupAcross]] with the same parameters (asserted in
    * DedupSpec; the inline twin's oracle is therefore also this index's
    * oracle). */
  def buildMinhashIndex(ref: DataFrame, dir: String, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands, seed: Long = 42L): Unit = {
    val spark = ref.sparkSession
    import spark.implicits._
    graft.engine.Manifests.build(spark, dir) { seg =>
      seg.write("params", Seq((n, numHashes, bands, seed))
        .toDF("n", "num_hashes", "bands", "seed"))
      val sh = materialized(parallelized(ref)
        .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")))
      seg.write("sh", sh)
      val (as, bs) = hashFamily(numHashes, seed)
      seg.write("bands", sh.select(col("id"), explode(
        TextKernels.minhashBandsCol(col("sh"), as, bs, bands, MinhashP))
        .as("band")))
    }
  }

  /** Stored LSH params of a resolved index snapshot. */
  private def minhashParamsOf(spark: org.apache.spark.sql.SparkSession,
      snap: graft.engine.Manifests.Snapshot): (Int, Int, Int, Long) = {
    val r = snap.read(spark, "params").head()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
  }

  /** Index MAINTENANCE: shingle + band `newRef` with the FROZEN stored
    * parameters and append — yesterday's deduped ingest becomes part of
    * tomorrow's reference corpus without re-shingling anything already
    * indexed. The commit writes ONE new immutable segment (O(|newRef|)
    * writes) whose manifest lists the prior snapshot's segments plus
    * its own — the manifest protocol's whole point for an index: the
    * append never rewrites history, and a concurrent reader's resolved
    * snapshot is untouched. REPLAY-SAFE: the batch anti-joins against
    * the snapshot's indexed ids — ONE check now, not the old
    * per-table pair, because the segment+manifest+marker commit is
    * atomic (there is no crash window where `sh` landed and `bands`
    * didn't; an unpublished segment is invisible and overwritten by
    * the replay). A fully-replayed append short-circuits without
    * publishing. Contract: `newRef` ids must be disjoint from ids of
    * OTHER documents already indexed (an id collision between
    * different texts is indistinguishable from a replay and gets
    * skipped); single writer per index dir. */
  def appendToMinhashIndex(newRef: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    val spark = newRef.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "MinHash index", "append needs a finished build")
    val (n, numHashes, bandsN, seed) = minhashParamsOf(spark, snap)
    val sh = materialized(parallelized(newRef)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")))
    val novelSh = materialized(sh.join(
      snap.read(spark, "sh").select("id"), Seq("id"), "left_anti"))
    if (!novelSh.isEmpty) {
      graft.engine.Manifests.append(spark, dir) { seg =>
        seg.write("sh", novelSh)
        val (as, bs) = hashFamily(numHashes, seed)
        seg.write("bands", novelSh.select(col("id"), explode(
          TextKernels.minhashBandsCol(col("sh"), as, bs, bandsN, MinhashP))
          .as("band")))
      }
    }
  }

  /** [[minhashNearDupAcross]] against a PERSISTED reference index: only
    * the NEW batch is shingled and banded (with the index's stored
    * parameters); the reference side's bands and shingles stream from
    * parquet. The band equi-join and exact-Jaccard verify are the same
    * plan as the inline twin — candidates equi-join on band keys, the
    * verify joins fan back to the new-side cache and the stored shingle
    * table — so per-batch cost is |new|·prep + collisions, with zero
    * reference-side recompute. Bit-equal to the inline twin at the
    * index's parameters. */
  def minhashNearDupFromIndex(newDf: DataFrame, dir: String, idCol: String,
      textCol: String, threshold: Double = 0.5,
      atVersion: Option[Long] = None): DataFrame = {
    val spark = newDf.sparkSession
    // ONE snapshot resolution: params, bands and shingles all come from
    // the same immutable published version — a concurrent append or
    // compaction cannot skew this query's view of the index.
    // `atVersion` TIME-TRAVELS to a pinned published version (the
    // audit/reproduce read: "what would yesterday's index have said?")
    // — same plan, a different manifest file.
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "MinHash index", "run buildMinhashIndex first", atVersion)
    val (n, numHashes, bandsN, seed) = minhashParamsOf(spark, snap)
    val (as, bs) = hashFamily(numHashes, seed)
    val shNew = materialized(parallelized(newDf)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")))
    val bandedNew = shNew.select(col("id"),
      explode(TextKernels.minhashBandsCol(
        col("sh"), as, bs, bandsN, MinhashP)).as("band"))
    val cands = bandedNew.as("a")
      .join(snap.read(spark, "bands").as("b"),
        col("a.band") === col("b.band"))
      .select(col("a.id").as("new_id"), col("b.id").as("ref_id"))
      .distinct()
    cands
      .join(shNew.select(col("id").as("new_id"), col("sh").as("sh_a")),
        Seq("new_id"))
      .join(snap.read(spark, "sh")
          .select(col("id").as("ref_id"), col("sh").as("sh_b")),
        Seq("ref_id"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "ref_id", "jaccard")
  }

  /** True cross-corpus Jaccard oracle (DuckDB): exhaustive new×ref pairs
    * over the `doc_id % refMod` split of `documents` — ground truth for
    * [[minhashNearDupAcross]], viable at oracle scale only. */
  def trueJaccardAcrossSql(n: Int, threshold: Double, refMod: Int): String =
    trueJaccardAcrossPredSql(n, threshold,
      refPred = s"doc_id % $refMod = 0",
      newPred = s"doc_id % $refMod <> 0")

  /** [[trueJaccardAcrossSql]] with free-form side predicates — the
    * time-travel oracle (q218) pins the ref side to the subset a
    * HISTORICAL index version held. */
  def trueJaccardAcrossPredSql(n: Int, threshold: Double,
      refPred: String, newPred: String): String = {
    val sh = shinglesSql(n)
    s"""WITH shn AS (SELECT doc_id AS id, $sh AS sh FROM documents
       |  WHERE $newPred),
       |shr AS (SELECT doc_id AS id, $sh AS sh FROM documents
       |  WHERE $refPred),
       |pairs AS (SELECT a.id AS new_id, b.id AS ref_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM shn a JOIN shr b ON TRUE)
       |SELECT new_id, ref_id, jaccard FROM pairs
       |WHERE jaccard >= $threshold
       |ORDER BY new_id, ref_id""".stripMargin
  }

  // ------------------------------------------------- cluster + survivors

  /** Connected components over near-dup pairs → (id, cluster_id = min id
    * in component). Iterative min-label propagation with pointer
    * doubling: each round every node takes the minimum of its own, its
    * neighbors', and its LABEL'S label — the shortcut step resolves a
    * label chain two hops at a time, so chains collapse in O(log
    * diameter) rounds instead of the O(diameter) of plain propagation
    * (the difference between 6 and 64 shuffle rounds on a 64-link
    * near-dup chain). Each round is two shuffle joins + an aggregation,
    * the same plan family GraphX's connectedComponents lowers to,
    * without the RDD detour. The driver only sees one convergence
    * counter per round — no edge data.
    *
    * Soundness of the shortcut: labels are always ids inside the node's
    * own component (propagation moves them along edges; the shortcut
    * composes two such moves), and they only decrease, so the monotone
    * fixpoint argument of plain min-propagation carries over unchanged —
    * at fixpoint the propagation step alone is also stable, which forces
    * label = component minimum. */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.GraftSql
    // The pair source is typically a whole near-dup pipeline — persist it
    // BEFORE the symmetrize union, which would otherwise re-run that
    // pipeline once per union branch (and the loop re-reads sym every
    // round). Two caches, each written exactly once.
    //
    // Every loop frame is REBASED on its InMemoryRelation
    // (GraftSql.rddPinned) after materializing: with two self-references
    // per round (neighbor join + shortcut join) the raw logical lineage
    // grows 4^rounds, and the driver stalls in analysis/cache-lookup long
    // before task 1 — pinning makes every round's plan O(1). The *Cached
    // handles keep the ORIGINAL plans, which is what unpersist matches.
    val edgesCached = materialized(pairs.select(col("id_a"), col("id_b")))
    val symCached = materialized(edgesCached.union(
      edgesCached.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
    val sym = GraftSql.rddPinned(symCached)
    // Convergence by monotone potential: per-node labels only decrease, so
    // Σlabels strictly decreases every non-converged round (exact decimal
    // sum — no long overflow at any id scale).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
    // Initial labels FUSE the first propagation step: label₀ =
    // min(id, min neighbor id) — the same shuffle the identity init's
    // distinct() paid, one aggregation instead, and exactly the state
    // plain propagation reaches after its first round. On the dominant
    // real graphs (pairs/triples from planted twins) that is already
    // the fixpoint, so the loop runs ONE confirmation round instead of
    // work-round + confirmation — two shuffle joins and two actions
    // saved per call, across every clusters consumer (q37/q38/q139/
    // q143/q145/q156/q181/q188/q209…). The loop invariant (labels are
    // in-component ids and only decrease) holds for this init, so the
    // fixpoint — and the emitted clustering — is unchanged.
    var labelsCached = sym.groupBy(col("id_a").as("id"))
      .agg(least(col("id_a"), min(col("id_b"))).as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prevSum = labelSum(labelsCached)
    var labels = GraftSql.rddPinned(labelsCached)
    var converged = prevSum == null // empty graph
    while (!converged) {
      val nbrMin = sym
        .join(labels.select(col("id").as("id_b"), col("label").as("nl")), Seq("id_b"))
        .groupBy(col("id_a").as("id")).agg(min("nl").as("min_nbr"))
      val propCached = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Materialization barrier BEFORE the self-join: the shortcut reads
      // prop twice, and a lazy persist would let AQE's concurrent stages
      // race both consumers into the uncomputed cache.
      propCached.count()
      val prop = GraftSql.rddPinned(propCached)
      // Pointer doubling: label ← min(label, label(label)). Every label
      // is a node id present in `prop` (labels start as ids and only
      // ever take other in-component ids), so the inner join hits; left
      // join keeps the contract obvious under any future relaxation.
      val next = prop.as("x")
        .join(prop.select(col("id").as("pid"), col("label").as("plabel")).as("p"),
          col("x.label") === col("pid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("plabel"), col("x.label")))
            .as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next)
      labelsCached.unpersist()
      propCached.unpersist()
      labelsCached = next
      labels = GraftSql.rddPinned(next)
      converged = s == prevSum
      prevSum = s
    }
    // The edge caches' consumers all ran inside the loop, and the final
    // labels cache is warm (materialized by the last convergence sum) —
    // release the edges NOW rather than deferring; only the (small)
    // labels frame stays cached for the caller's action, registered for
    // deferred release. If its blocks are later evicted (or released and
    // the result re-run), the pinned InMemoryRelation re-materializes
    // from its retained child plan — correct, just cold.
    edgesCached.unpersist(blocking = false)
    symCached.unpersist(blocking = false)
    graft.engine.Caches.track(labelsCached)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Near-dup survivor filter: keep only cluster representatives (the min
    * id per component) plus all documents not in any near-dup pair — the
    * final "drop the duplicates" step of a dedup pipeline, as a LEFT ANTI
    * join against the victim set. */
  def survivors(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val victims = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(victims, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document: per-token 64-bit hash (MD5 first half,
    * little-endian — DuckDB's `md5_number_upper`), per-bit ±1 sums, sign →
    * bit — computed by a native per-row kernel
    * ([[TextKernels.SimhashExpr]]), so the whole operation is a single
    * codegen'd projection over the scan: no token explode, no 64-column
    * aggregation, no shuffle. The hash choice makes the pipeline exactly
    * reproducible in the DuckDB oracle ([[simhashNearDupSql]]); kernel
    * semantics are asserted against a reference implementation in
    * DedupSpec. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    parallelized(df).select(col(idCol).as("id"),
      TextKernels.simhashCol(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming` (must be
    * ≤ 3): band join on 4×16-bit chunks (pigeonhole: ≤3 differing bits ⇒ at
    * least one identical 16-bit band), then exact `bit_count(xor)` verify.
    * Recall is exact for maxHamming ≤ 3 — a pair with more differing bits
    * could spread them across all four bands, so larger radii are refused
    * rather than silently under-recalled. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4-band pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sh = simhash(df, idCol, textCol)
    // shiftright takes a literal Int shift — unroll the four bands.
    val bandArr = array((0 until 4).map(j =>
      shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*)
    // simhash() shuffles (token explode + 64-sum agg); materialize the
    // banded result so the self-join reads warm cache instead of re-running
    // the aggregation for each side.
    val bands = materialized(
      sh.select(col("id"), col("simhash"), posexplode(bandArr))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_val"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------ persisted SimHash index

  /** Build-once persistence of the REFERENCE side of incremental
    * SimHash dedup — the q148/q149 stored-state lifecycle for the
    * third near-dup notion (MinHash: bag-of-shingles overlap; pHash:
    * pixels; SimHash: weighted token-profile distance). One table
    * `sigs` (id, simhash): 16 bytes per indexed document, a pure
    * function of the text, computed once per reference doc ever.
    * Versioned-manifest commits like every stored artifact. */
  def buildSimhashIndex(ref: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    graft.engine.Manifests.build(ref.sparkSession, dir)(
      _.write("sigs", simhash(ref, idCol, textCol)))
  }

  /** Index MAINTENANCE: one new O(|batch|) segment of signatures.
    * REPLAY-SAFE via the snapshot anti-join on indexed ids (a fully
    * replayed append publishes nothing); a crashed unpublished commit
    * is invisible and overwritten by the retry. Single writer per
    * index dir. */
  def appendToSimhashIndex(newRef: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    val spark = newRef.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "SimHash index", "append needs a finished build")
    val novel = materialized(simhash(newRef, idCol, textCol)
      .join(snap.read(spark, "sigs").select("id"), Seq("id"), "left_anti"))
    if (!novel.isEmpty) {
      graft.engine.Manifests.append(spark, dir)(_.write("sigs", novel))
    }
  }

  /** [[simhashNearDup]] against a PERSISTED reference index: only the
    * NEW batch is signed; the stored signatures stream from the
    * resolved snapshot into the 4×16-bit banded cross join (the q25
    * pigeonhole — total recall for maxHamming ≤ 3), exact
    * `bit_count(xor)` verify on band colliders only. Emits
    * (new_id, ref_id, hamming). */
  def simhashNearDupFromIndex(newDf: DataFrame, dir: String,
      idCol: String, textCol: String, maxHamming: Int = 3,
      atVersion: Option[Long] = None): DataFrame = {
    require(maxHamming <= 3,
      s"4-band pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")
    val spark = newDf.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "SimHash index", "run buildSimhashIndex first", atVersion)
    def banded(sigs: DataFrame): DataFrame = {
      val bandArr = array((0 until 4).map(j =>
        shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*)
      sigs.select(col("id"), col("simhash"), posexplode(bandArr))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_val")
    }
    val newBands = materialized(banded(simhash(newDf, idCol, textCol)))
    newBands.as("a")
      .join(banded(snap.read(spark, "sigs")).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val"))
      .select(col("a.id").as("new_id"), col("b.id").as("ref_id"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "ref_id", "hamming")
  }

  /** Exhaustive cross-corpus SimHash oracle over the `doc_id % refMod`
    * split of `documents` (DuckDB): ground truth for
    * [[simhashNearDupFromIndex]] — stored state must be bit-invisible,
    * so the oracle is the same exhaustive form as the inline q25
    * twin's, restricted to new×ref pairs. */
  def simhashNearDupAcrossSql(maxHamming: Int = 3, refMod: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id, md5_number_upper(tok) AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, b.range AS bit,
       |    SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, range(0, 64) b
       |  GROUP BY doc_id, b.range),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY bit DESC) AS BIT) AS sig
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b
       |  ON a.doc_id % $refMod <> 0 AND b.doc_id % $refMod = 0
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming""".stripMargin

  /** SQL twin of [[simhashNearDup]] for the DuckDB oracle: per-token
    * `md5_number_upper` (= [[TextKernels.md5First8LE]] bit-for-bit), ±1
    * bit sums, sign-packed into a 64-bit BIT string, exhaustive
    * `bit_count(xor) <= maxHamming` pairs. All-pairs is fine at oracle
    * scale; the banded Spark plan is the scale path. */
  def simhashNearDupSql(maxHamming: Int = 3, from: String = "documents"): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $from),
       |th AS (SELECT doc_id, md5_number_upper(tok) AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, b.range AS bit,
       |    SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, range(0, 64) b
       |  GROUP BY doc_id, b.range),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY bit DESC) AS BIT) AS sig
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming""".stripMargin

  // ----------------------------------------- winnowing (exact substring)

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every character `k`-gram,
    * slide a window of `w` consecutive gram hashes, keep each window's
    * minimum — the GUARANTEE is that two documents sharing any exact
    * substring of length ≥ `w + k − 1` select at least one common
    * fingerprint, because the shared span contains a full window of
    * identical hashes whose minimum both sides must pick. This is the
    * character-level EXACT-SUBSTRING member of the dedup family the
    * word-level tiers cannot express: q23/q24 see bags of word
    * shingles (reordered boilerplate still matches), while winnowing
    * finds verbatim runs — license headers, templated disclaimers,
    * copy-pasted passages — at ~1/w the fingerprint density of
    * emitting every gram.
    *
    * Determinism/engine parity: the gram hash is the md5 HEX STRING
    * (identical text → identical lowercase hex in Spark and DuckDB),
    * window minima compare `(hash, pos, gram)` structs
    * (lexicographic, both engines), and only FULL windows (start pos ≤
    * grams − w) select — a document shorter than `w + k − 1`
    * characters selects nothing, the standard winnowing contract
    * (callers wanting short-doc dedup have [[exact]]).
    *
    * Emits distinct selected `(id, pos, gram)` rows. Scale shape: one
    * projection + one per-document window (partitions are
    * document-sized) + distinct; fingerprint density ≈ 2/(w+1) per
    * gram, the paper's bound. */
  def winnowingFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val grams = parallelized(docs)
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(length(col("text")) >= k)
      .select(col("id"), (length(col("text")) - (k - 1)).as("n_g"),
        explode(sequence(lit(0), length(col("text")) - k)).as("pos"),
        col("text"))
      .select(col("id"), col("n_g"), col("pos"),
        substring(col("text"), col("pos") + 1, lit(k)).as("gram"))
      .withColumn("h", md5(col("gram").cast("binary")))
    val win = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("m", min(struct(col("h"), col("pos"), col("gram"))).over(win))
      .filter(col("pos") <= col("n_g") - w)
      .select(col("id"), col("m.pos").as("pos"), col("m.gram").as("gram"))
      .distinct()
  }

  /** Exact-substring near-dup pairs via winnowing: documents sharing
    * ≥ `minShared` selected fingerprints, i.e. (by the winnowing
    * guarantee, at recall 1 for `minShared = 1`) documents sharing an
    * exact character run of length ≥ `w + k − 1`. Candidate generation
    * is the same inverted-index equi-join as every dedup tier — on the
    * GRAM STRING itself, so matches are exact by construction (no hash
    * collision caveat). Ubiquitous grams are pruned by the q23
    * stop-shingle policy (a fingerprint in too many documents is corpus
    * boilerplate and would make the posting join quadratic in its
    * list); the cutoff defaults to the q212 pair-budget knee derived
    * in-plan from the fingerprint df histogram, `maxDf = Some(d)` pins
    * a fixed one. */
  def winnowedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long = 1L, maxDf: Option[Int] = None,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    val sel = materialized(
      winnowingFingerprints(docs, idCol, textCol, k, w)
        .select(col("id"), col("gram")).distinct())
    val dfreq = sel.groupBy("gram").agg(count(lit(1)).as("df"))
    val keep = pruneByMaxDf(dfreq, "df", maxDf, pairBudget, dfreq)
    val postings = materialized(
      sel.join(keep.select("gram"), Seq("gram")))
    postings.as("a")
      .join(postings.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DuckDB twin of [[winnowedSpanPairs]] over `documents`: the same
    * gram/window/min/full-window construction with window functions,
    * the same df prune, exhaustive at oracle scale. */
  def winnowedSpanPairsSql(k: Int, w: Int, minShared: Long = 1L,
      maxDf: Option[Int] = None,
      pairBudget: Long = DefaultPairBudget): String = {
    val cut = maxDf.map(_.toString)
      .getOrElse(autoMaxDfCutSql("sel", "gram", pairBudget))
    s"""WITH g AS (
       |  SELECT doc_id AS id, len(text) - ${k - 1} AS n_g, p.pos,
       |    substr(text, p.pos + 1, $k) AS gram,
       |    md5(substr(text, p.pos + 1, $k)) AS h
       |  FROM documents,
       |    LATERAL (SELECT unnest(range(0, greatest(len(text) - ${k - 1}, 0)))
       |             AS pos) p
       |  WHERE len(text) >= $k),
       |sel AS (
       |  SELECT DISTINCT id, m.gram AS gram FROM (
       |    SELECT id, n_g, pos,
       |      MIN({'h': h, 'pos': pos, 'gram': gram}) OVER (
       |        PARTITION BY id ORDER BY pos
       |        ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m
       |    FROM g) _
       |  WHERE pos <= n_g - $w),
       |keep AS (SELECT gram FROM sel GROUP BY gram
       |         HAVING COUNT(*) <= $cut),
       |p AS (SELECT sel.id, sel.gram FROM sel JOIN keep USING (gram))
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM p a JOIN p b ON a.gram = b.gram AND a.id < b.id
       |GROUP BY a.id, b.id
       |HAVING COUNT(*) >= $minShared""".stripMargin
  }

  /** Cross-document boilerplate EXCISION — the "cure" companion to the
    * detection tiers (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022: repeated-substring removal):
    * every character position covered by a `k`-gram occurring in ≥
    * `minDf` distinct documents is cut out of EVERY document — license
    * headers, templated disclaimers, navigation chrome — and the
    * surviving segments re-concatenate in order. Returns
    * `(id, clean_text, n_removed)` for every input document
    * (untouched docs pass through with `n_removed = 0`).
    *
    * Exactness: a verbatim run of length L ≥ k repeated across ≥
    * `minDf` docs has EVERY interior k-gram at df ≥ minDf, so the
    * merged mark intervals cover the entire run — no sampling gap
    * (this is why excision marks ALL gram positions, not the winnowed
    * subset: winnowing's 1/w density is right for detection
    * fingerprints, wrong for cutting, where uncovered slivers would
    * survive).
    *
    * Scale shape: one gram projection (len(text) rows per doc — the
    * same volume [[winnowingFingerprints]] scans), a distinct +
    * gram-keyed df count (map-side combined), the mark join, then
    * per-DOCUMENT windows only (gaps-and-islands interval merge, kept
    * segments via `lag`) — partitions are document-sized, never
    * corpus-global — and one doc-keyed reassembly aggregation. The
    * final concat is order-canonical (sorted offset structs), so the
    * output is partition-invariant. */
  def exciseBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Int): DataFrame = {
    require(k >= 1 && minDf >= 2, s"need k >= 1, minDf >= 2; got k=$k minDf=$minDf")
    val base = materialized(parallelized(docs)
      .select(col(idCol).as("id"), col(textCol).as("text")))
    // The gram projection feeds BOTH the df count and the mark join —
    // materialize it once (the minhashNearDup shingle-cache argument)
    // instead of re-running the len(text)-rows-per-doc explode twice.
    val grams = materialized(charGrams(base, k))
    val boiler = grams.select("id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("gram")
    val marks = grams.join(boiler, Seq("gram")).select("id", "pos")
    exciseMarked(base, marks, k, idCol)
  }

  /** Decontamination EXCISION — the cross-corpus form of
    * [[exciseBoilerplate]] and the span-level upgrade of the doc-level
    * drop in [[Curation]]'s decontamination: every char position in a
    * TRAINING document covered by a `k`-gram that occurs ANYWHERE in
    * the eval/benchmark corpus is cut, so verbatim benchmark leakage is
    * surgically removed while the rest of the document survives
    * (dropping whole docs for one leaked sentence wastes data; keeping
    * them leaks the benchmark). Same exactness argument as
    * [[exciseBoilerplate]]: a shared verbatim run of length ≥ k has
    * every interior k-gram in the eval gram set, so the merged
    * intervals cover the entire run.
    *
    * Scale shape: the eval side collapses to its DISTINCT gram set
    * once (benchmark corpora are small next to 100 TB of training
    * text — AQE broadcasts the build side when it fits, and the join
    * stays a gram-keyed equi-join either way); the training side is
    * the same one-scan gram projection as the self-corpus form, and
    * everything after the mark join is per-document windows. */
  def exciseContaminated(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1; got k=$k")
    val base = materialized(parallelized(docs)
      .select(col(idCol).as("id"), col(textCol).as("text")))
    val evalGrams = charGrams(parallelized(evalDocs)
        .select(col(idCol).as("id"), col(textCol).as("text")), k)
      .select("gram").distinct()
    // One gram per (id, pos) and a distinct eval side, so the join
    // emits each marked position at most once — no post-distinct.
    val marks = charGrams(base, k).join(evalGrams, Seq("gram"))
      .select("id", "pos")
    exciseMarked(base, marks, k, idCol)
  }

  // -------------------------------- persisted eval-gram (decontam) index

  /** Build-once persistence of the EVAL side of decontamination
    * excision — benchmark corpora are stable while training batches
    * arrive daily, so the gram set is computed ONCE and every batch
    * pays only its own scan (the same amortization the q148 MinHash
    * and q149 pHash indexes give their dedup tiers). Tables under the
    * versioned-manifest protocol ([[graft.engine.Manifests]]):
    * `params` (k — queries and appends derive the gram width from the
    * snapshot, so callers cannot drift from what was built) and
    * `grams` (the distinct eval k-grams, one segment per corpus
    * addition). */
  def buildGramIndex(evalDocs: DataFrame, dir: String, idCol: String,
      textCol: String, k: Int): Unit = {
    val spark = evalDocs.sparkSession
    import spark.implicits._
    require(k >= 1, s"need k >= 1; got k=$k")
    graft.engine.Manifests.build(spark, dir) { seg =>
      seg.write("params", Seq(k).toDF("k"))
      seg.write("grams", charGrams(parallelized(evalDocs)
          .select(col(idCol).as("id"), col(textCol).as("text")), k)
        .select("gram").distinct())
    }
  }

  /** Index MAINTENANCE: gram a newly-added eval corpus with the FROZEN
    * stored width and publish one new segment. Cross-append duplicate
    * grams are harmless by construction: a duplicated gram duplicates
    * mark rows, and the gaps-and-islands merge is idempotent over
    * duplicate positions (min/max over equal values) — documented
    * rather than paid for with a global re-distinct on every append
    * ([[graft.engine.Manifests.compact]] pays it down). */
  def appendToGramIndex(newEval: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    val spark = newEval.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "eval-gram index", "append needs a finished build")
    val k = snap.read(spark, "params").head().getInt(0)
    graft.engine.Manifests.append(spark, dir) { seg =>
      seg.write("grams", charGrams(parallelized(newEval)
          .select(col(idCol).as("id"), col(textCol).as("text")), k)
        .select("gram").distinct())
    }
  }

  /** [[exciseContaminated]] against a PERSISTED eval-gram index: only
    * the training batch is grammed; the eval side streams from the
    * resolved snapshot (one immutable version for params AND grams).
    * Bit-equal to the inline twin over the same eval corpus (duplicate
    * stored grams cannot change the merged intervals — see
    * [[appendToGramIndex]]). */
  def exciseFromGramIndex(docs: DataFrame, dir: String, idCol: String,
      textCol: String, atVersion: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "eval-gram index", "run buildGramIndex first", atVersion)
    val k = snap.read(spark, "params").head().getInt(0)
    val base = materialized(parallelized(docs)
      .select(col(idCol).as("id"), col(textCol).as("text")))
    val marks = charGrams(base, k)
      .join(snap.read(spark, "grams"), Seq("gram"))
      .select("id", "pos")
    exciseMarked(base, marks, k, idCol)
  }

  /** Char `k`-gram projection of `base` (id, text): one row per gram
    * start position — the shared scan of the excision operators. */
  private def charGrams(base: DataFrame, k: Int): DataFrame =
    base.filter(length(col("text")) >= k)
      .select(col("id"),
        explode(sequence(lit(0), length(col("text")) - k)).as("pos"),
        col("text"))
      .select(col("id"), col("pos"),
        substring(col("text"), col("pos") + 1, lit(k)).as("gram"))

  /** Shared excision tail: merge the `[pos, pos+k)` intervals of
    * `marks` (id, pos), cut them from `base` (id, text), and
    * re-concatenate the surviving segments in offset order. Untouched
    * docs pass through with `n_removed = 0`. */
  private def exciseMarked(base: DataFrame, marks: DataFrame, k: Int,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Gaps-and-islands merge of the [pos, pos+k) mark intervals
    // (adjacent intervals merge too — one contiguous removal region).
    val byPos = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + k)
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val intervals = marks
      .withColumn("ni",
        when(col("pos") > coalesce(prevEnd, lit(-1L)), 1).otherwise(0))
      .withColumn("island",
        sum(col("ni")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("island"))
      .agg(min("pos").as("s"), (max(col("pos")) + k).as("e"))
    // Kept segments = the complement: before each interval (from the
    // previous interval's end, or 0) plus the per-doc tail.
    val byStart = Window.partitionBy("id").orderBy("s")
    val headSegs = intervals
      .withColumn("gs", coalesce(lag(col("e"), 1).over(byStart), lit(0L)))
      .select(col("id"), col("gs"), col("s").as("ge"))
    val tailSegs = intervals.groupBy("id").agg(max("e").as("gs"))
      .join(base, Seq("id"))
      .select(col("id"), col("gs"), length(col("text")).cast("long").as("ge"))
    val rebuilt = headSegs.union(tailSegs)
      .join(base, Seq("id"))
      .select(col("id"), struct(col("gs"),
        substring(col("text"), (col("gs") + 1).cast("int"),
          (col("ge") - col("gs")).cast("int")).as("seg")).as("p"))
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(col("p"))), x => x.getField("seg")),
        "").as("clean"))
    base.join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean"), col("text")).as("clean_text"),
        (length(col("text")) - length(coalesce(col("clean"), col("text"))))
          .cast("long").as("n_removed"))
  }

  /** DuckDB twin of [[exciseBoilerplate]] over `documents`. */
  def exciseBoilerplateSql(k: Int, minDf: Int): String =
    s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
       |g AS (${charGramsSql("base", k)}),
       |boiler AS (
       |  SELECT gram FROM (
       |    SELECT gram, count(DISTINCT id) AS df FROM g GROUP BY gram) _
       |  WHERE df >= $minDf),
       |m AS (SELECT id, pos FROM g JOIN boiler USING (gram)),
       |${exciseTailSql(k)}""".stripMargin

  /** DuckDB twin of [[exciseContaminated]] over `documents` split by
    * `trainPred` / `evalPred` on the raw table's columns. */
  def exciseContaminatedSql(k: Int, trainPred: String,
      evalPred: String): String =
    s"""WITH base AS (
       |  SELECT doc_id AS id, text FROM documents WHERE $trainPred),
       |ebase AS (
       |  SELECT doc_id AS id, text FROM documents WHERE $evalPred),
       |eg AS (SELECT DISTINCT gram FROM (${charGramsSql("ebase", k)}) _),
       |g AS (${charGramsSql("base", k)}),
       |m AS (SELECT id, pos FROM g JOIN eg USING (gram)),
       |${exciseTailSql(k)}""".stripMargin

  /** Twin of [[charGrams]]: one row per char `k`-gram start of `rel`
    * (id, text). */
  private def charGramsSql(rel: String, k: Int): String =
    s"""
       |  SELECT id, p.pos, substr(text, p.pos + 1, $k) AS gram
       |  FROM $rel,
       |    LATERAL (SELECT unnest(range(0, greatest(len(text) - ${k - 1}, 0)))
       |             AS pos) p
       |  WHERE len(text) >= $k""".stripMargin

  /** Twin of [[exciseMarked]]: the shared interval-merge / complement /
    * reassembly CTE chain, consuming `base` (id, text) and `m`
    * (id, pos). */
  private def exciseTailSql(k: Int): String =
    s"""isl AS (
       |  SELECT id, pos, SUM(ni) OVER (PARTITION BY id ORDER BY pos) AS island
       |  FROM (SELECT id, pos,
       |      CASE WHEN pos > COALESCE(MAX(pos + $k) OVER (
       |          PARTITION BY id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |        THEN 1 ELSE 0 END AS ni
       |    FROM m) _),
       |iv AS (SELECT id, island, MIN(pos) AS s, MAX(pos) + $k AS e
       |  FROM isl GROUP BY id, island),
       |segs AS (
       |  SELECT id, COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY s), 0) AS gs,
       |    s AS ge
       |  FROM iv
       |  UNION ALL
       |  SELECT iv.id, MAX(iv.e), len(b.text)
       |  FROM iv JOIN base b USING (id) GROUP BY iv.id, len(b.text)),
       |rebuilt AS (
       |  SELECT s.id,
       |    string_agg(substr(b.text, CAST(s.gs + 1 AS INT),
       |      CAST(s.ge - s.gs AS INT)), '' ORDER BY s.gs) AS clean
       |  FROM segs s JOIN base b USING (id) GROUP BY s.id)
       |SELECT b.id AS doc_id, COALESCE(r.clean, b.text) AS clean_text,
       |  CAST(len(b.text) - len(COALESCE(r.clean, b.text)) AS BIGINT)
       |    AS n_removed
       |FROM base b LEFT JOIN rebuilt r USING (id)
       |ORDER BY doc_id""".stripMargin

  /** Cross-source COPY MATRIX: near-dup pairs rolled up by the
    * (unordered) source pair — which feeds/crawls/providers copy from
    * which, the provenance audit a multi-source corpus runs before
    * weighting sources (a source whose content is largely near-dup of
    * another adds volume, not information). Input is any pair frame
    * with `(id_a, id_b, jaccard)` — the composition point for every
    * dedup tier; output `(source_a <= source_b, n_pairs, avg_jaccard)`.
    *
    * Scale shape: the pair frame is output-sized by the generating
    * tier's banding; the two source lookups are id-keyed equi-joins
    * onto a 2-column projection of the corpus (AQE broadcasts the pair
    * side when it fits), and the rollup is source²-bounded with
    * map-side combine. */
  def copyMatrix(docs: DataFrame, idCol: String, srcCol: String,
      pairs: DataFrame): DataFrame = {
    val s = docs.select(col(idCol), col(srcCol))
    pairs
      .join(s.select(col(idCol).as("id_a"), col(srcCol).as("sa")), Seq("id_a"))
      .join(s.select(col(idCol).as("id_b"), col(srcCol).as("sb")), Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(graft.engine.Aggregates.avgExact(col("jaccard")), 6)
          .as("avg_jaccard"))
  }

  /** DuckDB twin of [[copyMatrix]] over `documents` with the
    * exhaustive-Jaccard pair oracle. */
  def copyMatrixSql(n: Int, threshold: Double): String =
    s"""WITH pairs AS (
       |${trueJaccardPairsSql(n, threshold)}
       |), s AS (SELECT doc_id AS id, source FROM documents)
       |SELECT least(a.source, b.source) AS source_a,
       |  greatest(a.source, b.source) AS source_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  round(${graft.engine.Aggregates.avgExactSql("jaccard")}, 6)
       |    AS avg_jaccard
       |FROM pairs JOIN s a ON a.id = pairs.id_a
       |JOIN s b ON b.id = pairs.id_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------- content-defined chunking (CDC)

  /** Content-defined chunks: cut each document BEFORE every position
    * whose char `k`-gram satisfies the boundary test (first hex digit
    * of its md5 = '0', i.e. expected chunk length ~16 + k), emitting
    * `(id, start, chunk)`. Because cut points are a pure LOCAL
    * function of the text, an insertion moves only the boundaries
    * inside its own chunk — every other chunk's bytes are unchanged,
    * which is what makes chunk-level dedup robust to shifted content
    * where fixed-offset chunking ([[graft.operators.CorpusStats.chunk]])
    * re-keys everything downstream of one inserted word (the rolling-
    * hash cut of LBFS/rsync; Muthitacharoen et al., SOSP 2001).
    *
    * Scale shape: one gram projection (the [[charGrams]] scan the
    * excision family shares), a narrow filter to ~1/16 of positions,
    * then per-document windows (`lag`) and one substring projection —
    * no corpus-global state at all. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"need k >= 1; got k=$k")
    val base = materialized(parallelized(docs)
      .select(col(idCol).as("id"), col(textCol).as("text")))
    val cuts = charGrams(base, k)
      .filter(col("pos") >= 1 && substring(md5(col("gram")), 1, 1) === "0")
      .select("id", "pos")
    val byPos = Window.partitionBy("id").orderBy("pos")
    val headSegs = cuts
      .withColumn("gs", coalesce(lag(col("pos"), 1).over(byPos), lit(0L)))
      .select(col("id"), col("gs"), col("pos").as("ge"))
    // Tail segment per CUT doc, plus the whole text for cut-less docs
    // (incl. sub-k and empty texts) — every doc gets >= 1 chunk.
    val tailSegs = cuts.groupBy("id").agg(max("pos").as("gs"))
      .join(base, Seq("id"), "right")
      .select(col("id"), coalesce(col("gs"), lit(0L)).as("gs"),
        length(col("text")).cast("long").as("ge"))
    headSegs.union(tailSegs)
      .join(base, Seq("id"))
      .select(col("id").as(idCol), col("gs").as("start"),
        substring(col("text"), (col("gs") + 1).cast("int"),
          (col("ge") - col("gs")).cast("int")).as("chunk"))
  }

  /** Chunk-level dedup statistics over [[cdcChunks]]: per document,
    * how many of its content-defined chunks also occur (verbatim) in
    * at least one OTHER document — the storage-dedup view of corpus
    * redundancy, robust to insertions by the CDC cut construction.
    * Returns `(id, n_chunks, n_shared_chunks, shared_frac)`.
    *
    * "Shared" deliberately means present in >= 2 DISTINCT documents
    * (the df below counts over the DISTINCT (id, hash) pairs): a chunk
    * repeated only WITHIN one document is self-redundancy, not
    * cross-document sharing, and must not count — the oracle encodes
    * the same distinct-doc semantic. Do not "fix" this to a plain
    * occurrence count.
    *
    * Chunks cross the exchange as 32-char md5 keys, never as text;
    * the df count is map-side combined on the hash. */
  def cdcSharedChunkStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val keyed = materialized(cdcChunks(docs, idCol, textCol, k)
      .select(col(idCol), md5(col("chunk")).as("h")))
    val dfreq = keyed.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    keyed.join(dfreq, Seq("h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
      .withColumn("shared_frac",
        col("n_shared_chunks").cast("double") / col("n_chunks"))
  }

  /** DuckDB twin of [[cdcSharedChunkStats]] over `documents`. */
  def cdcSharedChunkStatsSql(k: Int): String =
    s"""WITH base AS (SELECT doc_id AS id, text FROM documents),
       |g AS (${charGramsSql("base", k)}),
       |cuts AS (SELECT id, pos FROM g
       |  WHERE pos >= 1 AND substr(md5(gram), 1, 1) = '0'),
       |segs AS (
       |  SELECT id, COALESCE(LAG(pos) OVER (PARTITION BY id ORDER BY pos), 0)
       |      AS gs, pos AS ge
       |  FROM cuts
       |  UNION ALL
       |  SELECT b.id, COALESCE(t.gs, 0), len(b.text)
       |  FROM base b LEFT JOIN
       |    (SELECT id, MAX(pos) AS gs FROM cuts GROUP BY id) t USING (id)),
       |ch AS (
       |  SELECT s.id, md5(substr(b.text, CAST(s.gs + 1 AS INT),
       |      CAST(s.ge - s.gs AS INT))) AS h
       |  FROM segs s JOIN base b USING (id)),
       |dfreq AS (SELECT h, count(DISTINCT id) AS df FROM ch GROUP BY h)
       |SELECT ch.id AS doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared_chunks,
       |  CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
       |    COUNT(*) AS shared_frac
       |FROM ch JOIN dfreq USING (h)
       |GROUP BY ch.id ORDER BY doc_id""".stripMargin

  /** Fuzzy string self-join: distinct value pairs within Levenshtein
    * distance 1, via the deletion-neighborhood inverted index (the
    * SymSpell construction). `ed(a,b) <= 1` implies a and b share an
    * element of `{x} ∪ single-deletions(x)` — substitution: delete the
    * differing position from both; insert/delete: the shorter string IS
    * a deletion of the longer — so candidate recall is total, and the
    * `levenshtein` verify removes the false candidates the index admits
    * (e.g. transpositions: "ab"/"ba" share deletion "a" but ed = 2).
    *
    * The scale shape mirrors the shingle index of [[ngramJaccardPairs]]:
    * each string emits `length+1` variant keys, candidates come from an
    * equi-join on the variant (never all-pairs), and the verify is the
    * banded O(d·n) thresholded `levenshtein`. All variant generation is
    * codegen'd arithmetic (explode + substring), no interpreted lambda.
    * Posting-list skew (many strings sharing one variant) is the same
    * Σdf² cost as any inverted index — for adversarial vocabularies cap
    * df like q23's stop-shingle prune. */
  def editDistancePairs(df: DataFrame, strCol: String): DataFrame = {
    // Floor + cache (r19): the deletion-neighborhood frame was LAZY, so
    // the self-join's two legs each re-generated every variant off a
    // one-file scan's single task (bench: 4.6 s wall at 4.8% busy).
    // Floored (identity at 100 TB) and materialized once, both legs
    // read the cache — the standard prefix-index shape.
    val variants = materialized(parallelized(
        df.select(col(strCol).as("s")).distinct())
      // pos = -1 is the identity variant; 0..len-1 delete that position.
      .withColumn("pos", explode(sequence(lit(-1), length(col("s")) - 1)))
      .withColumn("v", when(col("pos") === -1, col("s"))
        .otherwise(expr("concat(substring(s, 1, pos), substring(s, pos + 2, length(s)))")))
      .select("s", "v"))
    // Explicit v-keyed repartition on both legs (r19): the variant
    // frame is a few MB, so AQE's size-based coalescing ran the ENTIRE
    // self-join — posting-list cross products plus every candidate's
    // levenshtein — in ONE post-shuffle task (measured 3.9 cpu-s on one
    // task while 31 cores idled). Join work here is super-linear in
    // bytes, exactly the case byte-targeted coalescing mis-sizes; an
    // explicit user repartition pins the width (AQE does not coalesce
    // below it), and both legs sharing the same HashPartitioning(v, p)
    // means the join adds no further exchange. Scale-adaptive: p tracks
    // defaultParallelism, and at 100 TB the frame is large enough that
    // AQE would have kept it wide anyway.
    val p = df.sparkSession.sparkContext.defaultParallelism
    variants.select(col("s").as("name_a"), col("v"))
      .repartition(p, col("v"))
      .join(variants.select(col("s").as("name_b"), col("v"))
        .repartition(p, col("v")), Seq("v"))
      .where(col("name_a") < col("name_b"))
      // Thresholded levenshtein returns -1 above the bound (O(d·n), not
      // O(n²) per pair); within-bound distances are >= 0. Verified
      // BEFORE the dedup exchange (r19): the old filter-after-distinct
      // ran every candidate's levenshtein in the AQE-coalesced
      // single-partition stage after the shuffle (measured 3.6 s on one
      // task); here it runs in the join's wide stage and only true
      // matches cross the exchange (guide §2.3). A pair sharing several
      // deletion variants pays the kernel once per occurrence instead
      // of once — cheap against a 32x-wider stage and a smaller
      // shuffle. Same rows: the filter is deterministic per row, so
      // filter∘distinct = distinct∘filter.
      .where(levenshtein(col("name_a"), col("name_b"), 1) >= 0)
      .select("name_a", "name_b").distinct()
  }

  /** SQL twin of [[editDistancePairs]]: the exhaustive spelling — every
    * distinct pair, filtered by edit distance. Fine at oracle scale; the
    * deletion-index join is the scale path. */
  def editDistancePairsSql(from: String, strCol: String): String =
    s"""WITH v AS (SELECT DISTINCT $strCol AS s FROM $from)
       |SELECT a.s AS name_a, b.s AS name_b
       |FROM v a JOIN v b ON a.s < b.s
       |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin

  // ----------------------------------------- cross-doc line dedup (CCNet)

  /** CROSS-DOCUMENT line deduplication (Wenzek et al., "CCNet",
    * LREC'20 §3.2 — paragraph-hash dedup): hash every line, count the
    * number of DISTINCT documents each line appears in corpus-wide, and
    * excise lines appearing in `minDf`-or-more documents — the shared
    * nav bars, cookie banners, and subscription prompts that survive
    * per-document filters precisely because each document carries them
    * only once. Complements q192 (within-doc line repetition) and q152
    * (within-corpus gram excision at a different granularity). Output
    * per document: the reassembled text (kept lines in original order),
    * kept/dropped line counts — a document whose every line is
    * boilerplate survives with empty text, it is never silently lost.
    *
    * Scale shape: lines cross the exchange as 16-byte MD5 keys for the
    * df count (the classic inverted-index shape, map-side combinable);
    * the re-assembly is one per-document aggregation whose collect is
    * canonicalized by `array_sort` on (pos, line) structs —
    * deterministic under any partitioning. Per-document state is
    * bounded by document size; nothing is pairwise. */
  def dropBoilerplateLines(docs: DataFrame, idCol: String,
      textCol: String, minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would drop every line, got $minDf")
    val lines = materialized(explodedLines(docs, idCol, textCol))
    val dfc = lines.groupBy("h")
      .agg(countDistinct(col(idCol)).as("line_df"))
    val tagged = lines.join(dfc, Seq("h"))
      .withColumn("keep", (col("line_df") < minDf).cast("int"))
    reassembleKept(tagged, idCol)
  }

  /** One row per line occurrence, with position and 16-byte hash key.
    * Deliberately NO parallelism floor here (unlike the media/ANN
    * kernels): a floor round-robins the FULL document text through an
    * exchange to parallelize an md5-per-line kernel far cheaper than
    * that shuffle — the r18 driver measured q198 1.02→1.83 s wall
    * (cpu 1.7→19.8 s) with the floor in place. The bytes shuffled
    * dominate the work parallelized; at 100 TB the scan is naturally
    * wide and the floor would be the identity anyway. */
  private def explodedLines(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("h", md5(col("line")))

  /** Order-preserving document reassembly from keep-tagged lines —
    * `array_sort` on (pos, line) structs canonicalizes the collect
    * under any partitioning. */
  private def reassembleKept(tagged: DataFrame,
      idCol: String): DataFrame =
    tagged.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("keep") === 1,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("text"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(lit(1) - col("keep")).cast("long").as("n_dropped"))

  // ------------------------------------- persisted line-df index (q207)

  /** Per-batch partial line document-frequencies: one row per distinct
    * line hash with the count of distinct `idCol` docs carrying it in
    * THIS batch, tagged so appends are replay-safe. */
  private def linePartial(ref: DataFrame, idCol: String, textCol: String,
      tag: String): DataFrame =
    explodedLines(ref, idCol, textCol)
      .groupBy("h")
      .agg(countDistinct(col(idCol)).as("partial_df"))
      .withColumn("batch_tag", lit(tag))

  /** Build-once persistence of the [[dropBoilerplateLines]] reference:
    * a crawl's boilerplate population is learned from the corpus
    * already ingested, then every NEW batch is cleansed against the
    * STORED line frequencies without rescanning history — the q148/
    * q149/q162 stored-reference pattern for the line-dedup family.
    * The store is per-batch PARTIAL df counts (`h, partial_df,
    * batch_tag`) under the versioned-manifest protocol
    * ([[graft.engine.Manifests]]): partials are additive, so each
    * batch is one immutable segment and queries sum partials per hash
    * over the snapshot — an append writes O(|batch|), never a rewrite,
    * and the old mixed-layout corruption hazard (flat files beside
    * partition dirs) is structurally impossible. Contract: batches
    * must carry disjoint document ids (shared ids would double-count
    * df, exactly the MinHash index's id contract). */
  def buildLineIndex(ref: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    graft.engine.Manifests.build(ref.sparkSession, dir)(
      _.write("line_df", linePartial(ref, idCol, textCol, "base")))
  }

  /** Index MAINTENANCE: add a new reference batch under `batchTag` as
    * one new manifest segment. REPLAY-SAFE by the tag: a tag the
    * snapshot already carries short-circuits without publishing, and a
    * crashed (unpublished) commit's orphan segment is invisible and
    * overwritten by the retry — the atomic-commit upgrade of the old
    * dynamic-partition-overwrite convergence argument. Single writer
    * per index dir, the same contract every stored artifact carries. */
  def appendToLineIndex(newRef: DataFrame, dir: String, idCol: String,
      textCol: String, batchTag: String): Unit = {
    val spark = newRef.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "line-df index", "append needs a finished build")
    require(batchTag != "base", "'base' is the build's reserved tag")
    val seen = snap.read(spark, "line_df")
      .filter(col("batch_tag") === batchTag).limit(1).count() > 0
    if (!seen) {
      graft.engine.Manifests.append(spark, dir)(
        _.write("line_df", linePartial(newRef, idCol, textCol, batchTag)))
    }
  }

  /** [[dropBoilerplateLines]] against the PERSISTED reference: lines
    * of the incoming batch are dropped when their STORED df (summed
    * over all indexed batches) reaches `minDf` — the batch's own
    * repetitions do not count (stored-reference semantics; an organic
    * line repeated across the new batch alone survives until the batch
    * is itself appended). A line absent from the index has df 0. */
  def dropBoilerplateFromIndex(docs: DataFrame, dir: String,
      idCol: String, textCol: String, minDf: Int,
      atVersion: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "line-df index", "run buildLineIndex first", atVersion)
    require(minDf >= 2, s"minDf < 2 would drop every indexed line, got $minDf")
    val dfc = snap.read(spark, "line_df")
      .groupBy("h").agg(sum("partial_df").as("line_df"))
    val tagged = explodedLines(docs, idCol, textCol)
      .join(dfc, Seq("h"), "left")
      .withColumn("keep",
        (coalesce(col("line_df"), lit(0L)) < minDf).cast("int"))
    reassembleKept(tagged, idCol)
  }

  /** Oracle twin of the q207 registration (DuckDB): reference = every
    * 3rd document (folded, boilerplate planted every 2nd id), apply
    * side = the rest (same fold/plant), df over DISTINCT reference
    * docs only, same left-join-keep-reassemble. */
  def dropBoilerplateFromIndexSql(lineLen: Int, plantMod: Int,
      minDf: Int): String =
    "WITH " + lineCleanseChainSql(lineLen, plantMod, minDf,
      refPred = "doc_id % 3 = 0", applyPred = "doc_id % 3 <> 0") + "\n" +
      "SELECT doc_id, text, n_kept, n_dropped FROM lc_clean"

  /** The [[dropBoilerplateFromIndexSql]] body as a composable CTE chain
    * ending at `lc_clean(doc_id, text, n_kept, n_dropped)` — the q214
    * incremental pipeline embeds it as its first stage. All CTEs are
    * `lc_`-prefixed; the stored reference state is replayed as the
    * `refPred` slice's own df counts (the q148/q207 oracle convention:
    * stored state is content-keyed to `documents`, so the oracle
    * recomputes it). */
  def lineCleanseChainSql(lineLen: Int, plantMod: Int, minDf: Int,
      refPred: String, applyPred: String): String =
    s"""lc_t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |    FROM documents),
       |lc_l0 AS (SELECT doc_id, list_transform(
       |    range(0, CAST(ceil(len(toks) / ${lineLen}.0) AS INT)),
       |    i -> array_to_string(
       |      toks[i * $lineLen + 1 : i * $lineLen + $lineLen], ' '))
       |    AS lines FROM lc_t),
       |lc_l1 AS (SELECT doc_id, CASE WHEN doc_id % $plantMod = 0
       |    THEN list_concat(lines, ['$BoilerplateLine'])
       |    ELSE lines END AS lines FROM lc_l0),
       |lc_e AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS pos,
       |    lines FROM lc_l1),
       |lc_x AS (SELECT doc_id, pos, lines[pos] AS line FROM lc_e),
       |lc_refdf AS (SELECT line, count(DISTINCT doc_id) AS line_df
       |  FROM lc_x WHERE $refPred GROUP BY line),
       |lc_c AS (SELECT x.doc_id, x.pos, x.line,
       |    coalesce(r.line_df, 0) AS line_df
       |  FROM lc_x x LEFT JOIN lc_refdf r USING (line)
       |  WHERE $applyPred),
       |lc_clean AS (SELECT doc_id,
       |  coalesce(string_agg(line, chr(10) ORDER BY pos)
       |    FILTER (WHERE line_df < $minDf), '') AS text,
       |  CAST(coalesce(sum(CASE WHEN line_df < $minDf THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(sum(CASE WHEN line_df >= $minDf THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_dropped
       |FROM lc_c GROUP BY doc_id)""".stripMargin

  /** The canonical boilerplate sentence planted by the q198 harness. */
  val BoilerplateLine = "subscribe to our newsletter for updates today"

  /** q198 synthesis: fold the corpus into 8-token lines and append
    * [[BoilerplateLine]] to every `mod`-th document — the cross-doc
    * repeat that line-df excision must find (df ≈ N/mod) while every
    * organic line stays (df ≈ 1). Harness only. */
  def plantBoilerplate(id: Column, text: Column, lineLen: Int,
      mod: Int): Column = {
    val lines = CorpusStats.foldLines(text, lineLen)
    array_join(when(id % mod === 0,
      concat(lines, array(lit(BoilerplateLine)))).otherwise(lines), "\n")
  }

  /** Oracle twin of [[plantBoilerplate]] → [[dropBoilerplateLines]]
    * (DuckDB): same fold, df by line VALUE (equivalent to the MD5 key —
    * the hash is injective on this corpus by construction), kept lines
    * re-joined with `string_agg ORDER BY pos`. */
  def dropBoilerplateLinesSql(lineLen: Int, mod: Int, minDf: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |    FROM documents),
       |l0 AS (SELECT doc_id, list_transform(
       |    range(0, CAST(ceil(len(toks) / ${lineLen}.0) AS INT)),
       |    i -> array_to_string(
       |      toks[i * $lineLen + 1 : i * $lineLen + $lineLen], ' '))
       |    AS lines FROM t),
       |l1 AS (SELECT doc_id, CASE WHEN doc_id % $mod = 0
       |    THEN list_concat(lines, ['$BoilerplateLine'])
       |    ELSE lines END AS lines FROM l0),
       |e AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS pos,
       |    lines FROM l1),
       |x AS (SELECT doc_id, pos, lines[pos] AS line FROM e),
       |d AS (SELECT line, count(DISTINCT doc_id) AS line_df
       |  FROM x GROUP BY line),
       |c AS (SELECT x.doc_id, x.pos, x.line, d.line_df FROM x
       |  JOIN d USING (line))
       |SELECT doc_id,
       |  coalesce(string_agg(line, chr(10) ORDER BY pos)
       |    FILTER (WHERE line_df < $minDf), '') AS text,
       |  CAST(coalesce(sum(CASE WHEN line_df < $minDf THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(sum(CASE WHEN line_df >= $minDf THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_dropped
       |FROM c GROUP BY doc_id""".stripMargin

  // ------------------------------------------------ dedup-method eval

  /** DEDUP-METHOD EVALUATION: precision / recall / F1 of each dedup
    * family's pair output against exact n-gram Jaccard ground truth —
    * the table a pipeline owner reads to pick a method (and its
    * thresholds) for a new corpus, the dedup analogue of the ANN
    * recall (q155) and classifier AUC (q180) evaluations. Methods:
    * `exact` (raw-text equality pairs — perfect precision, recall only
    * on verbatim copies), `simhash` (Hamming≤3 on 64-bit signatures — a
    * DIFFERENT similarity notion, so both error kinds occur), and
    * `minhash` (banded LSH + exact verification — equals the truth set
    * by the q24 band-scheme contract; the row anchors the table and
    * regression-tests that contract).
    *
    * Scale shape: the truth set is the q23 inverted-index pair frame
    * (materialized once, reused by every method's left join); each
    * method contributes its own banded/grouped pair generation; stats
    * are per-method single-row aggregates joined to a broadcast 1-row
    * truth count. Output is methods-sized. Float contract: precision/
    * recall/F1 are computed unrounded (`tp/n` double division, F1 =
    * `2pr/(p+r)`) and rounded once at the end, same op order as the
    * oracle. */
  def dedupMethodEval(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val truth = materialized(
      ngramJaccardPairs(docs, idCol, textCol, n, threshold)
        .select("id_a", "id_b"))
    val truthCount = truth.agg(count(lit(1)).as("n_truth"))
    val fp = docs.select(col(idCol).as("id"), md5(col(textCol)).as("fp"))
    val exactPairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val methods: Seq[(String, DataFrame)] = Seq(
      "exact" -> exactPairs,
      "minhash" -> minhashNearDup(docs, idCol, textCol,
        n = n, numHashes = 64, bands = 16, threshold = threshold),
      "simhash" -> simhashNearDup(docs, idCol, textCol))
    val rows = methods.map { case (name, pred0) =>
      val pred = pred0.select("id_a", "id_b").distinct()
      pred.join(truth.withColumn("t", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_pred"),
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0L)).as("tp"))
        .crossJoin(broadcast(truthCount))
        .select(lit(name).as("method"), col("n_pred"), col("n_truth"),
          col("tp"))
    }.reduce(_ unionAll _)
    val p = when(col("n_pred") === 0, 0.0)
      .otherwise(col("tp").cast("double") / col("n_pred"))
    val r = when(col("n_truth") === 0, 0.0)
      .otherwise(col("tp").cast("double") / col("n_truth"))
    rows.withColumn("p", p).withColumn("r", r)
      .select(col("method"), col("n_pred"), col("n_truth"), col("tp"),
        round(col("p"), 6).as("precision"),
        round(col("r"), 6).as("recall"),
        round(when(col("p") + col("r") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("p") * col("r") /
            (col("p") + col("r"))), 6).as("f1"))
  }

  /** Oracle twin of [[dedupMethodEval]] over `documents` (DuckDB): the
    * truth CTE is [[ngramJaccardPairsSql]], exact pairs are a raw-text
    * equality self-join, simhash replays [[simhashNearDupSql]], and the
    * minhash row IS the truth-vs-truth row by the q24 contract (banded
    * LSH + exact verify emits exactly the true-Jaccard pair set; the
    * Spark side runs the real pipeline, so a band-scheme regression
    * breaks the hash compare here). */
  def dedupMethodEvalSql(n: Int, threshold: Double): String = {
    def statsFor(predCte: String, name: String) =
      s"""SELECT '$name' AS method,
         |  CAST(count(*) AS BIGINT) AS n_pred,
         |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |  CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp
         |FROM $predCte p LEFT JOIN truth t
         |  ON p.id_a = t.id_a AND p.id_b = t.id_b""".stripMargin
    s"""WITH truth AS (SELECT id_a, id_b FROM (
       |${ngramJaccardPairsSql(n, threshold)}
       |)),
       |exact_pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM documents a JOIN documents b
       |  ON a.text = b.text AND a.doc_id < b.doc_id),
       |simhash_pairs AS (SELECT id_a, id_b FROM (
       |${simhashNearDupSql(3)}
       |)),
       |stats AS (
       |${statsFor("exact_pairs", "exact")}
       |UNION ALL
       |${statsFor("truth", "minhash")}
       |UNION ALL
       |${statsFor("simhash_pairs", "simhash")}
       |)
       |SELECT method, n_pred, n_truth, tp,
       |  round(CASE WHEN n_pred = 0 THEN 0.0
       |    ELSE CAST(tp AS DOUBLE) / n_pred END, 6) AS precision,
       |  round(CASE WHEN n_truth = 0 THEN 0.0
       |    ELSE CAST(tp AS DOUBLE) / n_truth END, 6) AS recall,
       |  round(CASE WHEN (CASE WHEN n_pred = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / n_pred END)
       |      + (CASE WHEN n_truth = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / n_truth END) = 0.0 THEN 0.0
       |    ELSE 2.0 * (CASE WHEN n_pred = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / n_pred END)
       |      * (CASE WHEN n_truth = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / n_truth END)
       |      / ((CASE WHEN n_pred = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / n_pred END)
       |      + (CASE WHEN n_truth = 0 THEN 0.0
       |        ELSE CAST(tp AS DOUBLE) / n_truth END)) END, 6) AS f1
       |FROM stats""".stripMargin
  }
}
