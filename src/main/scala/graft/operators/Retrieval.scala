package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Aggregates

/** Hybrid retrieval: an exact lexical ranking (TF-IDF query-by-example)
  * and an exact vector ranking (cosine top-k) fused with Reciprocal
  * Rank Fusion — `score(d) = Σ_lists 1/(c + rank_list(d))` (Cormack,
  * Clarke & Buettcher, SIGIR 2009, the standard c = 60). RRF is the
  * fusion every hybrid search stack ships because it needs no score
  * calibration between lists: only RANKS cross the fusion boundary,
  * which also makes the whole operator hash-gate deterministic — the
  * only floats compared downstream are `1/(c+rank)` sums of two terms
  * in a fixed order.
  *
  * Scale shape: the query set is tiny and BROADCAST to both legs. The
  * lexical leg joins the corpus term-frequency table against the
  * broadcast query vocabulary on the term — the corpus is never
  * shuffled by term; only the (query, candidate) partial scores move.
  * The vector leg is the one-scan broadcast cosine ranking
  * ([[Similarity.bruteForceTopK]]; swap in the IVF/PQ path at larger
  * query counts). Both legs cut to `listK` before the fusion join, so
  * the full-outer fusion touches ≤ 2·nQueries·listK rows regardless of
  * corpus size. */
object Retrieval {

  /** Per-(doc, term) frequencies of `docs(idCol, textCol)` — whitespace
    * tokens, the corpus-wide statistic lexical scoring, IDF, and the
    * DSIR class counts all derive from (shared with
    * [[Selection.dsirLogWeights]] so the tokenization can never
    * diverge between the paths). `carryCols` ride along per doc
    * (constant within a doc, carried by `first`). */
  private[operators] def termFreq(docs: DataFrame, idCol: String,
      textCol: String, carryCols: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol) +: carryCols.map(col) :+
        explode(split(col(textCol), " ")).as("w"): _*)
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"),
        carryCols.map(c => first(col(c)).as(c)): _*)

  /** Hybrid RRF top-k: query docs are `idCol < nQueries` (their ids
    * double as embedding ids). Emits one row per kept (query,
    * candidate) with both leg ranks (null = absent from that leg's
    * top-`listK`), the fused score, and the fused rank ≤ `k`. */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame, nQueries: Int = 10,
      listK: Int = 20, k: Int = 5, c: Int = 60): DataFrame = {
    // --- vector leg: exact cosine top-listK, ranks only.
    val vec = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < nQueries), emb, listK)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("v_rank"))

    // --- lexical leg: score(q, d) = Σ_{w ∈ q} tf(w, d) · ln(N/df(w)),
    // distinct query terms, self-match excluded like the vector leg.
    // Exact decimal summation so the per-query ranking is reduce-order
    // independent (and ulp-identical to the SQL twin). The tf table has
    // three consumers (document frequencies, query vocabulary, scoring
    // join) — materialized so the corpus tokenizes once.
    val tf = graft.engine.Caches.materialized(
      termFreq(docs, "doc_id", "text"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("w")).distinct()
    val lex = tf
      .join(broadcast(qterms), "w")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dfreq, "w")
      .crossJoin(broadcast(n))
      .groupBy("query_id", "doc_id")
      .agg(Aggregates.sumExact(
        col("tf") * log(col("_n").cast("double") / col("df"))).as("lex"))
    val lw = Window.partitionBy("query_id")
      .orderBy(col("lex").desc, col("doc_id").asc)
    val lexTop = lex.withColumn("l_rank", row_number().over(lw))
      .filter(col("l_rank") <= listK)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("l_rank"))

    // --- fusion: full outer on (query, candidate); fixed add order.
    val fused = vec.join(lexTop, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("v_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("l_rank")), lit(0.0)))
    val fw = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(fw))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "v_rank", "l_rank", "rrf", "rank")
  }

  /** Hard-negative mining for embedding-model training: for each query
    * vector, the `k` most-cosine-similar vectors whose LABEL differs
    * from the query's — the near-miss impostors a contrastive trainer
    * wants as negatives (easy random negatives teach nothing). Same
    * broadcast one-corpus-scan shape as [[Similarity.bruteForceTopK]],
    * with the label inequality folded into the join condition so
    * same-label rows drop before scoring; swap the IVF/PQ candidate
    * path in at larger query counts exactly as for plain ANN. */
  def hardNegatives(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"),
        Similarity.norm(col("embedding")).as("q_nrm"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"), col("embedding").as("c_emb"),
      Similarity.norm(col("embedding")).as("c_nrm"))
    val scored = c.join(broadcast(q), col("n_label") =!= col("q_label"))
      .withColumn("cosine", Similarity.cosineWithNorms(col("q_emb"),
        col("c_emb"), col("q_nrm"), col("c_nrm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "q_label", "neighbor_id", "n_label", "cosine", "rank")
  }

  /** SQL twin of [[hardNegatives]] (`embeddings` hard-wired). */
  def hardNegativesSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
       |    embedding AS q_emb FROM embeddings WHERE vec_id < $nQueries),
       |scored AS (SELECT query_id, q_label, vec_id AS neighbor_id,
       |    label AS n_label,
       |    ${Similarity.Sql.cosine("q_emb", "embedding")} AS cosine
       |  FROM embeddings JOIN q ON label != q_label)
       |SELECT query_id, q_label, neighbor_id, n_label, cosine,
       |  CAST(rank AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) _
       |WHERE rank <= $k""".stripMargin

  /** SQL twin of [[hybridRrfTopK]] (`documents`/`embeddings`
    * hard-wired; same decimal-exact lexical sum, same fixed-order RRF
    * arithmetic, ranks cast to INTEGER to match Spark's row_number). */
  def hybridRrfTopKSql(nQueries: Int = 10, listK: Int = 20, k: Int = 5,
      c: Int = 60): String =
    s"""WITH vq AS (SELECT vec_id AS query_id, embedding AS q_emb
       |    FROM embeddings WHERE vec_id < $nQueries),
       |vscored AS (SELECT query_id, vec_id AS neighbor_id,
       |    ${Similarity.Sql.cosine("q_emb", "embedding")} AS cosine
       |  FROM embeddings JOIN vq ON vec_id != query_id),
       |vtop AS (SELECT query_id, neighbor_id, CAST(v_rank AS INTEGER) AS v_rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS v_rank FROM vscored) _
       |  WHERE v_rank <= $listK),
       |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY 1, 2),
       |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS _n FROM documents),
       |qt AS (SELECT DISTINCT doc_id AS query_id, w FROM tf
       |  WHERE doc_id < $nQueries),
       |lex AS (SELECT qt.query_id, tf.doc_id,
       |    ${Aggregates.sumExactSql(s"tf.tf * ln(CAST(_n AS DOUBLE) / df)")} AS lex
       |  FROM tf JOIN qt USING (w) JOIN dfreq USING (w), n
       |  WHERE tf.doc_id != qt.query_id
       |  GROUP BY 1, 2),
       |ltop AS (SELECT query_id, neighbor_id, CAST(l_rank AS INTEGER) AS l_rank
       |  FROM (SELECT query_id, doc_id AS neighbor_id, ROW_NUMBER() OVER
       |      (PARTITION BY query_id ORDER BY lex DESC, doc_id ASC) AS l_rank
       |    FROM lex) _
       |  WHERE l_rank <= $listK),
       |fused AS (SELECT
       |    COALESCE(v.query_id, l.query_id) AS query_id,
       |    COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
       |    v.v_rank, l.l_rank,
       |    COALESCE(1.0 / ($c + v.v_rank), 0.0) +
       |      COALESCE(1.0 / ($c + l.l_rank), 0.0) AS rrf
       |  FROM vtop v FULL JOIN ltop l
       |    ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id)
       |SELECT query_id, neighbor_id, v_rank, l_rank, rrf,
       |  CAST(rank AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, neighbor_id ASC) AS rank FROM fused) _
       |WHERE rank <= $k""".stripMargin

  /** BM25 top-k (Robertson & Zaragoza, FnTIR 2009 — the Okapi scoring
    * every production lexical search engine ships): for each query
    * document (`idCol < nQueries`, query-by-example like the RRF legs),
    * rank candidates by
    * `Σ_{w ∈ q} idf(w) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`
    * with the standard plus-one idf `ln((N−df+0.5)/(df+0.5) + 1)`. The
    * TF-IDF leg in [[hybridRrfTopK]] has no length normalization — a
    * long spammy document accumulates score linearly in its repeats;
    * BM25's tf saturation (k1) and length prior (b) are exactly the two
    * corrections the production ranker carries.
    *
    * Determinism contract: per-term scores are one fixed-order double
    * expression (mirrored token-for-token in [[bm25TopKSql]]), the
    * per-(query, candidate) reduction is the exact-decimal sum, ranks
    * break ties on candidate id. Scale shape: same as the lexical RRF
    * leg — the corpus term-frequency table is built once (never
    * shuffled by term), query vocabulary broadcast, only (query,
    * candidate) partials move; doc lengths ride the same tf table. */
  /** The Okapi per-term score, ONE spelling shared by the inline and
    * stored-index paths so their floats are bit-identical: idf =
    * `ln((N−df+0.5)/(df+0.5)+1)`, tf saturation k1, length prior b. */
  private def bm25TermScore(tfC: org.apache.spark.sql.Column,
      dfC: org.apache.spark.sql.Column, dlC: org.apache.spark.sql.Column,
      nC: org.apache.spark.sql.Column, avgdlC: org.apache.spark.sql.Column,
      k1: Double, b: Double): org.apache.spark.sql.Column =
    log((nC - dfC + lit(0.5)) / (dfC + lit(0.5)) + lit(1.0)) *
      (tfC * lit(k1 + 1.0)) /
      (tfC + lit(k1) * (lit(1.0 - b) +
        (lit(b) * dlC.cast("double")) / avgdlC))

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      nQueries: Int = 10, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tf = graft.engine.Caches.materialized(
      termFreq(docs, idCol, textCol))
    val dl = tf.groupBy(col(idCol)).agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("_n"))
      .crossJoin(dl.agg(Aggregates.sumExact(col("dl").cast("double"))
        .as("_dlsum")))
      .withColumn("avgdl", col("_dlsum") / col("_n"))
    val qterms = tf.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"), col("w")).distinct()
    val scored = tf
      .join(broadcast(qterms), "w")
      .filter(col(idCol) =!= col("query_id"))
      .join(dfreq, "w")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("term_score", bm25TermScore(col("tf"), col("df"),
        col("dl"), col("_n"), col("avgdl"), k1, b))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(Aggregates.sumExact(col("term_score")).as("bm25"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "bm25", "rank")
  }

  // ------------------------------------------- persisted BM25 postings

  /** One segment's four partial tables for `docs`, written into
    * `seg`: `postings` (w, doc_id, tf — sorted by term within files,
    * so parquet row-group min/max stats prune non-query terms at scan
    * time), `dl` (doc_id, dl), `dfreq` (w, partial_df), and `stats`
    * (1 row: partial n_docs, partial dl_sum). All four are ADDITIVE —
    * document frequencies, corpus size, and total length sum across
    * segments exactly (integers) — which is what makes the append a
    * pure segment write with no merge. */
  /** Term bucket of the PARTITIONED postings layout: a stable hash of
    * the term modulo the store's bucket count. One spelling for the
    * write path and the query path, so pruning can never diverge from
    * placement. */
  private def termBucket(w: org.apache.spark.sql.Column,
      buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(w), lit(buckets.toLong))

  private def writeBm25Segment(docs: DataFrame, idCol: String,
      textCol: String, seg: graft.engine.Manifests.Segment,
      postingsBuckets: Option[Int] = None): Unit = {
    val tf = graft.engine.Caches.materialized(
      termFreq(docs, idCol, textCol)
        .select(col("w"), col(idCol).as("doc_id"), col("tf")))
    // Range-partition on (term, doc) — NOT hash-on-term: a ubiquitous
    // term's posting list is corpus-sized, and hashing by term alone
    // would put all of it in one partition (the skew bomb at 100 TB).
    // The range partitioner's sampled (w, doc_id) boundaries split a
    // hot term ACROSS partitions while keeping files term-clustered,
    // so parquet row-group min/max stats still prune non-query terms.
    postingsBuckets match {
      case None =>
        tf.repartitionByRange(col("w"), col("doc_id"))
          .sortWithinPartitions("w", "doc_id")
          .write.mode("overwrite").parquet(seg.path("postings"))
      case Some(nb) =>
        // PARTITIONED layout: postings land under `wb=<bucket>/`
        // directories, so a query's file listing prunes to the
        // buckets its terms hash into BEFORE any file is opened —
        // directory-level pruning on top of the row-group stats the
        // flat layout already gets. Ranging on (wb, w, doc) keeps
        // each writer task inside few buckets (term-clustered files,
        // hot buckets still split across tasks).
        tf.withColumn("wb", termBucket(col("w"), nb))
          .repartitionByRange(col("wb"), col("w"), col("doc_id"))
          .sortWithinPartitions("wb", "w", "doc_id")
          .write.partitionBy("wb").mode("overwrite")
          .parquet(seg.path("postings"))
    }
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    seg.write("dl", dl)
    seg.write("dfreq", tf.groupBy("w").agg(count(lit(1)).as("partial_df")))
    seg.write("stats", docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(coalesce(sum("dl"), lit(0L)).as("dl_sum"))))
  }

  /** Build-once persistence of the BM25 corpus statistics — the last
    * retrieval structure without a build/append/query lifecycle (the
    * q185 registration rebuilt postings inline per query). Versioned-
    * manifest commits like the MinHash index: atomic publish, reader
    * snapshots, GC.
    *
    * `postingsBuckets = Some(n)` selects the PARTITIONED postings
    * layout — the natural 100 TB shape: postings nest under
    * `wb=<hash(term) % n>/` partition directories, the layout choice
    * rides every commit as manifest metadata (`postings_buckets`, so
    * appends and compactions stay layout-consistent and the query
    * path needs no out-of-band knowledge), and
    * [[bm25TopKFromIndex]] prunes the postings scan to the buckets
    * the query's terms hash into — directory-level pruning before a
    * single file opens. Answers are layout-invariant (q223 runs under
    * q216's oracle). Size `n` so a bucket's postings stay well under
    * an executor's scan appetite; tens-to-hundreds at corpus scale. */
  def buildBm25Index(docs: DataFrame, dir: String, idCol: String,
      textCol: String, postingsBuckets: Option[Int] = None): Unit = {
    val spark = docs.sparkSession
    require(postingsBuckets.forall(_ >= 1),
      s"postingsBuckets must be >= 1, got $postingsBuckets")
    graft.engine.Manifests.build(spark, dir,
      meta = layoutMeta(postingsBuckets))(
      writeBm25Segment(docs, idCol, textCol, _, postingsBuckets))
  }

  private def layoutMeta(postingsBuckets: Option[Int]): Map[String, String] =
    postingsBuckets.map(n => "postings_buckets" -> n.toString).toMap

  /** Parquet-encoded bytes per (w, doc_id, tf) posting row — measured
    * on the stored fixtures at sf0.01/sf0.1 (4.15–4.21 B/row with
    * dictionary + RLE amortized at real sizes; tiny corpora encode
    * denser). The sizing estimate, not a promise. */
  val BytesPerPostingEstimate: Long = 4L

  /** Bucket count for the partitioned-postings layout, DERIVED from
    * the corpus instead of carried as a constant (the q212/q215
    * convention applied to the new layout's one knob): enough buckets
    * that each holds ≈ `targetBucketBytes` of postings, floored at 1
    * (a corpus smaller than one bucket partitions into none) and
    * capped at 4096 (directory-count sanity — past that, bucket size
    * targets should rise instead). Exact integer arithmetic so the
    * SQL twin can reproduce it bit-for-bit. */
  def bucketsForPostings(postingRows: Long,
      targetBucketBytes: Long = 256L << 20): Int = {
    require(targetBucketBytes >= 1,
      s"targetBucketBytes must be >= 1, got $targetBucketBytes")
    require(postingRows >= 0, s"postingRows must be >= 0, got $postingRows")
    val est = postingRows * BytesPerPostingEstimate
    math.max(1L, math.min(4096L,
      (est + targetBucketBytes - 1) / targetBucketBytes)).toInt
  }

  /** The bucket-count derivation AS DATA (the q215 sizing-table
    * shape): one row — the corpus's posting-row count (distinct
    * (doc, term) pairs, the exact row count [[writeBm25Segment]]
    * stores), the byte estimate, the target, and the chosen bucket
    * count. The choice is thereby oracle-adjudicated on the real
    * corpus, not asserted in a comment. */
  def bucketsSizingTable(docs: DataFrame, idCol: String, textCol: String,
      targetBucketBytes: Long): DataFrame = {
    require(targetBucketBytes >= 1,
      s"targetBucketBytes must be >= 1, got $targetBucketBytes")
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .distinct()
      .agg(count(lit(1)).as("posting_rows"))
      .select(col("posting_rows"),
        (col("posting_rows") * lit(BytesPerPostingEstimate))
          .as("est_bytes"),
        lit(targetBucketBytes).as("target_bytes"))
      .withColumn("buckets", greatest(lit(1L), least(lit(4096L),
        expr(s"(est_bytes + ${targetBucketBytes - 1}) DIV $targetBucketBytes"))))
  }

  /** The postings layout the snapshot's commit was made with:
    * Some(bucket count) for the partitioned layout, None for flat —
    * read from the commit's own metadata (carried ON the resolved
    * snapshot, so the hot query path pays no extra listing or
    * manifest read — review finding), so a reader can never apply
    * the wrong pruning to a snapshot (layout is a property of the
    * COMMIT, not of whoever queries it). */
  private def postingsLayout(
      snap: graft.engine.Manifests.Snapshot): Option[Int] =
    snap.meta.get("postings_buckets")
      .filter(s => s.nonEmpty && s.length <= 9 && s.forall(_.isDigit))
      .map(_.toInt)

  /** Index MAINTENANCE: one new segment of partial statistics for the
    * batch — O(|batch|) writes, no history rewrite, additive by
    * construction (df/n/dl_sum sum across segments). Replay-safe via
    * the snapshot anti-join on already-indexed doc ids; a fully
    * replayed append publishes nothing. Same single-writer contract
    * as every stored artifact. */
  def appendToBm25Index(newDocs: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    val spark = newDocs.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "BM25 index", "append needs a finished build")
    val novel = graft.engine.Caches.materialized(
      newDocs.join(snap.read(spark, "dl")
          .select(col("doc_id").as(idCol)),
        Seq(idCol), "left_anti"))
    if (!novel.isEmpty) {
      // The new segment inherits the live commit's postings layout
      // (and re-emits it), so a store is partitioned or flat as a
      // WHOLE — mixed-layout segments would break the union read.
      val layout = postingsLayout(snap)
      graft.engine.Manifests.append(spark, dir, meta = layoutMeta(layout))(
        writeBm25Segment(novel, idCol, textCol, _, layout))
    }
  }

  /** Index COMPACTION — the [[graft.engine.Manifests.compact]] contract
    * for the postings store: appends accumulate small segments; publish
    * one version whose segment rewrites each table into target-sized
    * files. The DISTINCT of the generic compaction is a no-op for
    * `postings`/`dl` (the replay-safe append never duplicates a doc) and
    * WRONG for the partial tables, which may legitimately carry one row
    * per (term, segment) — so `dfreq` and `stats` are re-AGGREGATED to
    * their canonical one-row-per-key form instead (query results are
    * unchanged: the query path sums partials, and a sum of sums is the
    * sum). Postings re-sort by term so row-group pruning survives
    * compaction. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytes: Long = 64L << 20): Unit = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "BM25 index", "compaction needs a finished build")
    val layout = postingsLayout(snap)
    def files(t: String) =
      graft.engine.Manifests.targetFiles(spark, snap, t, targetBytes)
    graft.engine.Manifests.build(spark, dir, tag = "compact",
      meta = layoutMeta(layout)) { seg =>
      // Range-partition into ceil(bytes/targetBytes) files (the
      // generic compaction's sizing) — the default shuffle-partition
      // count would leave a small index MORE fragmented after
      // compaction than before it (review finding).
      val nf = files("postings")
      layout match {
        case None =>
          snap.read(spark, "postings")
            .repartitionByRange(nf, col("w"), col("doc_id"))
            .sortWithinPartitions("w", "doc_id")
            .write.mode("overwrite").parquet(seg.path("postings"))
        case Some(_) =>
          // The partitioned layout keeps its directory scheme across
          // compaction (wb is a real column of the partitioned read,
          // re-emitted by partitionBy on the rewrite).
          snap.read(spark, "postings")
            .repartitionByRange(nf, col("wb"), col("w"), col("doc_id"))
            .sortWithinPartitions("wb", "w", "doc_id")
            .write.partitionBy("wb").mode("overwrite")
            .parquet(seg.path("postings"))
      }
      seg.write("dl",
        snap.read(spark, "dl").distinct().repartition(files("dl")))
      seg.write("dfreq", snap.read(spark, "dfreq").groupBy("w")
        .agg(sum("partial_df").as("partial_df")))
      seg.write("stats", snap.read(spark, "stats")
        .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
          coalesce(sum("dl_sum"), lit(0L)).as("dl_sum")))
    }
  }

  /** BM25 top-k of external query documents against the STORED index:
    * the query path tokenizes ONLY the query frame, broadcasts its
    * vocabulary into the postings/dfreq scans (term-sorted segments,
    * so row-group stats prune non-matching terms), and sums the
    * segment-partial df/n/dl_sum statistics — the corpus is never
    * re-tokenized or re-aggregated (RetrievalSpec asserts the plan).
    * Bit-equal to [[bm25TopK]] over the same corpus: identical
    * [[bm25TermScore]] expression, exact integer statistics, the same
    * decimal-exact reduction. Self-matches (query id present in the
    * index) are excluded like the inline twin. */
  def bm25TopKFromIndex(queries: DataFrame, dir: String, idCol: String,
      textCol: String, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75, atVersion: Option[Long] = None): DataFrame = {
    val spark = queries.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "BM25 index", "run buildBm25Index first", atVersion)
    val stats = snap.read(spark, "stats")
      .agg(sum("n_docs").as("_n"), sum("dl_sum").as("_dlsum"))
      .withColumn("avgdl", col("_dlsum").cast("double") / col("_n"))
      .select("_n", "avgdl")
    // Truncated (LogicalRDD) rather than merely cached: the query
    // tokenization is consumed whole by two joins, and truncation
    // keeps the corpus scan out of every downstream plan — the
    // spec-asserted "query path reads only stored tables" contract is
    // then visible in the plan itself.
    val (qterms, _) = graft.engine.Caches.truncated(
      queries.select(col(idCol).as("query_id"),
          explode(split(col(textCol), " ")).as("w"))
        .distinct())
    val dfTotal = snap.read(spark, "dfreq")
      .join(broadcast(qterms.select("w").distinct()), Seq("w"))
      .groupBy("w").agg(sum("partial_df").as("df"))
    // PARTITIONED layout (postings_buckets in the commit metadata):
    // hash the query's own terms with the store's bucket function and
    // prune the postings scan to those `wb=` directories with a
    // literal IN — static partition pruning, files of non-matching
    // buckets are never even listed. The collect is bounded by the
    // QUERY vocabulary (tiny by contract, like the IVF probe list),
    // never by the corpus.
    val postingsAll = postingsLayout(snap) match {
      case None => snap.read(spark, "postings")
      case Some(nb) =>
        val qb = qterms.select(termBucket(col("w"), nb).as("wb"))
          .distinct().collect().map(_.getLong(0))
        snap.read(spark, "postings")
          .filter(col("wb").isin(qb.toSeq: _*)).drop("wb")
    }
    val scored = postingsAll
      .join(broadcast(qterms), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dfTotal, Seq("w"))
      .join(snap.read(spark, "dl"), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", bm25TermScore(col("tf"), col("df"),
        col("dl"), col("_n"), col("avgdl"), k1, b))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(Aggregates.sumExact(col("term_score")).as("bm25"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "bm25", "rank")
  }

  /** SQL twin of [[bm25TopK]] (`documents` hard-wired; identical
    * fixed-order per-term expression, same decimal-exact reduction). */
  def bm25TopKSql(nQueries: Int = 10, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
       |  GROUP BY 1),
       |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents) AS _n,
       |  (SELECT ${Aggregates.sumExactSql("CAST(dl AS DOUBLE)")} FROM dl)
       |    AS _dlsum),
       |s2 AS (SELECT _n, _dlsum / _n AS avgdl FROM stats),
       |qt AS (SELECT DISTINCT doc_id AS query_id, w FROM tf
       |  WHERE doc_id < $nQueries),
       |scored AS (SELECT qt.query_id, tf.doc_id AS neighbor_id,
       |    ${Aggregates.sumExactSql(
             s"ln((_n - df + 0.5) / (df + 0.5) + 1.0) * " +
               s"(tf.tf * ${k1 + 1.0}) / (tf.tf + $k1 * " +
               s"((${1.0 - b}) + ($b * CAST(dl.dl AS DOUBLE)) / avgdl))")}
       |      AS bm25
       |  FROM tf JOIN qt USING (w) JOIN dfreq USING (w)
       |    JOIN dl ON dl.doc_id = tf.doc_id, s2
       |  WHERE tf.doc_id != qt.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, bm25, CAST(rank AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY bm25 DESC, neighbor_id ASC) AS rank FROM scored) _
       |WHERE rank <= $k""".stripMargin
}
