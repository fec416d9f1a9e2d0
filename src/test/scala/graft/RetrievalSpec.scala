package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Retrieval

/** Hybrid RRF fusion: rank arithmetic on a hand-computable fixture,
  * fusion-semantics invariants on the real tables, and plan hygiene
  * (both small legs broadcast — the corpus side never builds a hash
  * table of itself). */
class RetrievalSpec extends SparkSpec {

  test("RRF arithmetic on a hand-built corpus matches the closed form") {
    import spark.implicits._
    // Query doc 0: "a a b". Candidates built so lexical and vector
    // orders DISAGREE — fusion must reconcile them.
    //   doc 1 = "a a b c" (best lexical), doc 2 = "c c c d", doc 3 = "b d".
    val docs = Seq(
      (0L, "a a b"), (1L, "a a b c"), (2L, "c c c d"), (3L, "b d"))
      .toDF("doc_id", "text")
    // Vectors: doc 2 closest to the query, then 3, then 1.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.1f)), (3L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val out = Retrieval.hybridRrfTopK(docs, emb,
        nQueries = 1, listK = 3, k = 4, c = 60)
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(2)), Option(r.get(3)), r.getDouble(4), r.getInt(5)))
      .toMap
    // Vector ranks: cos(q,2)=.995 > cos(q,3)=.8 > cos(q,1)=0.
    // Lexical (idf = ln(4/df); df: a=2, b=3, c=2, d=2):
    //   doc 1: 2·ln2 + ln(4/3) ≈ 1.674 ; doc 3: ln(4/3) ≈ 0.288 ; doc 2: 0.
    // (doc 2 scores 0 on shared terms — absent from the lexical leg's
    // candidate set entirely, since only shared-term rows exist.)
    assert(out(2L)._1.contains(1) && out(3L)._1.contains(2) && out(1L)._1.contains(3))
    assert(out(1L)._2.contains(1) && out(3L)._2.contains(2) && out(2L)._2.isEmpty)
    def rrf(ranks: Int*): Double = ranks.map(r => 1.0 / (60 + r)).sum
    assert(out(1L)._3 == rrf(3) + rrf(1))
    assert(out(3L)._3 == rrf(2) + rrf(2))
    assert(out(2L)._3 == rrf(1))
    // Fused order: doc1 (.0323) > doc3 (.0322) > doc2 (.0164).
    assert(out(1L)._4 == 1 && out(3L)._4 == 2 && out(2L)._4 == 3)
  }

  test("fusion invariants on the real tables") {
    val out = Retrieval.hybridRrfTopK(
      Tables.documents(spark, sf), Tables.embeddings(spark, sf)).cache()
    try {
      // k rows per query, ranks 1..k, no self-matches.
      val perQuery = out.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
        .collect()
      assert(perQuery.length == 10)
      perQuery.foreach { r =>
        assert(r.getLong(1) == 5 && r.getInt(2) == 5 && r.getInt(3) == 1)
      }
      assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
      // Every kept row appears in at least one leg, and the fused score
      // is exactly the fixed-order sum of its leg contributions.
      assert(out.filter(col("v_rank").isNull && col("l_rank").isNull).count() == 0)
      val bad = out.filter(col("rrf") =!=
        (coalesce(lit(1.0) / (lit(60) + col("v_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("l_rank")), lit(0.0))))
      assert(bad.count() == 0)
    } finally out.unpersist()
  }

  test("hard negatives: nearest DIFFERENT-label vectors, same-label excluded") {
    import spark.implicits._
    // Query 0 (label 1): vec 1 shares its label and is the closest —
    // it must be excluded; ranks go to the cross-label vecs 2 then 3.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(0.99f, 0.1f), 1),
      (2L, Array(0.9f, 0.4f), 2), (3L, Array(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Retrieval.hardNegatives(emb, nQueries = 1, k = 3)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(2L, 3L))
    assert(got.forall(r => r.getInt(3) != r.getInt(1)))
    assert(got.map(_.getInt(5)).toSeq == Seq(1, 2))
  }

  test("hard negatives on the real tables: k per query, no same-label rows") {
    val out = Retrieval.hardNegatives(Tables.embeddings(spark, sf)).cache()
    try {
      assert(out.filter(col("q_label") === col("n_label")).count() == 0)
      val per = out.groupBy("query_id").count().collect()
      assert(per.length == 10 && per.forall(_.getLong(1) == 5))
    } finally out.unpersist()
  }

  test("plan: both retrieval legs broadcast the query side") {
    val plan = Retrieval.hybridRrfTopK(
        Tables.documents(spark, sf), Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    // Two broadcast joins minimum: query vectors against the corpus
    // scan, query vocabulary against the term-frequency table.
    val broadcasts = "BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, plan:\n$plan")
  }

  test("BM25 matches an independent closed-form computation; length prior bites") {
    import spark.implicits._
    // Query doc 0 = "apple banana". Doc 1 spams "apple" in a LONG
    // document; doc 2 matches both terms in a short one; doc 3 is
    // noise. Raw tf-idf would reward doc 1's repeats linearly — BM25's
    // saturation + length prior must rank doc 2 first.
    val docs = Seq(
      (0L, "apple banana"),
      (1L, "apple apple apple apple apple apple pear pear pear pear pear pear"),
      (2L, "apple banana pear"),
      (3L, "cherry date fig")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        nQueries = 1, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // Independent reference: plain-Scala BM25 over the same fixture.
    val texts = Map(0L -> "apple banana",
      1L -> "apple apple apple apple apple apple pear pear pear pear pear pear",
      2L -> "apple banana pear", 3L -> "cherry date fig")
    val toks = texts.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val n = texts.size
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (w, xs) => w -> xs.size }
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val (k1, b) = (1.2, 0.75)
    def bm25(q: Long, d: Long): Double =
      toks(q).distinct.filter(toks(d).contains).map { w =>
        val tf = toks(d).count(_ == w).toDouble
        val idf = math.log((n - df(w) + 0.5) / (df(w) + 0.5) + 1.0)
        idf * (tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + (b * toks(d).size) / avgdl))
      }.sum
    val want = Seq(1L, 2L, 3L).map(d => d -> bm25(0L, d)).toMap
    // Tolerance = the operator's exact-decimal(28,6) per-term
    // reduction: scores are 6-decimal-quantized, the reference is not.
    out.foreach { case (nid, score, _) =>
      assert(math.abs(score - want(nid)) < 1e-5,
        s"doc $nid: $score != ${want(nid)}")
    }
    assert(out.head._1 == 2L,
      "length prior must beat the long spam document's raw repeats")
    // And the un-normalized comparison it corrects: doc 1 has more
    // raw 'apple' mass than doc 2.
    assert(toks(1L).count(_ == "apple") > toks(2L).count(_ == "apple"))
    graft.engine.Caches.release()
  }

  test("stored BM25 index (build + append) is bit-equal to inline; query never rescans the corpus") {
    val docs = Tables.documents(spark, sf)
    val dir = s"${graft.engine.Sinks.scratch}/bm25_index_spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, dir)
    Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      "doc_id", "text")
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "text")
    assert(graft.engine.Manifests.exists(spark, dir))
    val inline = Retrieval.bm25TopK(docs, "doc_id", "text",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect().toSeq
    graft.engine.Caches.release()
    val stored = Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") < 10), dir, "doc_id", "text", k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(stored.map(_.toString) == inline.map(_.toString),
      "stored-index BM25 must be bit-equal to the inline path")
    graft.engine.Caches.release()
    // Replay safety: re-appending an already-indexed batch publishes
    // no new version and changes no answer.
    val v = graft.engine.Manifests.liveVersion(spark, dir)
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "text")
    assert(graft.engine.Manifests.liveVersion(spark, dir) == v,
      "fully-replayed append must not publish")
    graft.engine.Caches.release()
    // Compaction: answers bit-equal, partial tables re-based to one
    // row per key, one segment per table.
    Retrieval.compactBm25Index(spark, dir)
    val compacted = Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") < 10), dir, "doc_id", "text", k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(compacted.map(_.toString) == inline.map(_.toString),
      "compacted index must answer bit-equally")
    val snapC = graft.engine.Manifests.snapshot(spark, dir).get
    assert(snapC.tables.values.forall(_.size == 1),
      "compaction must re-base every table to one segment")
    assert(snapC.read(spark, "stats").count() == 1L,
      "compaction must fold the stats partials to one row")
    val dfreqC = snapC.read(spark, "dfreq")
    assert(dfreqC.count() == dfreqC.select("w").distinct().count(),
      "compaction must fold the df partials to one row per term")
    // The postings rewrite sizes its file count from targetBytes (the
    // Manifests.targetFiles arithmetic) — a tiny index must come out as
    // ONE postings file, not default-shuffle-partition-count fragments
    // (review finding: repartitionByRange without an explicit count).
    val postingsFiles = snapC.paths("postings").map { p =>
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(_.getPath.getName.startsWith("part-"))
    }.sum
    assert(postingsFiles == 1,
      s"tiny postings must compact to one target-sized file: $postingsFiles")
    graft.engine.Caches.release()
    // Plan contract: the query path reads ONLY stored tables — the
    // corpus text is never re-tokenized (exactly one explode: the
    // query frame's own terms) and no aggregation rebuilds postings.
    val q = Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") < 10), dir, "doc_id", "text", k = 5)
    val qe = q.queryExecution
    q.collect()
    val p = qe.executedPlan.toString
    // The CORPUS is never re-read at query time: every file scan in
    // the final plan reads the stored index dir (the query frame's own
    // tokenization is cached before this plan runs — it shows as an
    // in-memory scan, not a corpus file scan).
    val corpusScans = "Scan parquet[^\\n]*".r.findAllIn(p)
      .count(s => !s.contains("bm25_index_spec"))
    assert(corpusScans == 0,
      s"query path must scan only stored index tables:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "query vocabulary must broadcast into the postings probe")
    graft.engine.Caches.release()
  }

  test("bucket derivation: floor 1, cap 4096, monotone in corpus, exact ceil-div; the q223 fixture constant is the sf0.01 derivation") {
    import Retrieval.bucketsForPostings
    val t = 64L << 10
    assert(bucketsForPostings(0L, t) == 1, "empty corpus floors at 1")
    assert(bucketsForPostings(1L, t) == 1)
    // Exactly one bucket's worth of estimated bytes is one bucket;
    // one more row tips into two (exact integer ceil-div — no float
    // rounding to flip at the boundary).
    assert(bucketsForPostings(t / Retrieval.BytesPerPostingEstimate, t) == 1)
    assert(bucketsForPostings(t / Retrieval.BytesPerPostingEstimate + 1,
      t) == 2)
    assert(bucketsForPostings(Long.MaxValue / 8, t) == 4096,
      "bucket count caps at 4096 — past that, raise the target")
    val seq = Seq(1L, 1000L, 100000L, 10000000L)
      .map(bucketsForPostings(_, t))
    assert(seq == seq.sorted, s"derivation must be monotone: $seq")
    // The q223 fixture's 8 buckets = this derivation at the sf0.01
    // corpus's posting count (116,231 distinct (doc, term) pairs)
    // and the 64 KiB test target — the registered q227 sizing table
    // adjudicates the same number against the live corpus.
    assert(bucketsForPostings(116231L, t) == 8)
  }

  test("partitioned-postings BM25: layout rides commits, appends inherit it, the scan prunes buckets, answers are layout-invariant") {
    val docs = Tables.documents(spark, sf)
    val dir = s"${graft.engine.Sinks.scratch}/bm25_part_spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, dir)
    Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0), dir,
      "doc_id", "text", postingsBuckets = Some(4))
    // The append names no layout — it must INHERIT the store's.
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def wbDirs(seg: Long): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(
        s"${graft.engine.Manifests.segDir(dir, seg)}/postings")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("wb=")).toSet
    }
    assert(wbDirs(1L).nonEmpty, "build segment must nest under wb= dirs")
    assert(wbDirs(2L).nonEmpty,
      "an append must inherit the partitioned layout from the live commit")
    assert(graft.engine.Manifests.commitMeta(spark, dir, 2L)
      .get("postings_buckets").contains("4"),
      "the append must re-emit the layout metadata")
    // Layout-invariant answers: bit-equal to the inline path.
    val inline = Retrieval.bm25TopK(docs, "doc_id", "text",
      nQueries = 10, k = 5).orderBy("query_id", "rank").collect().toSeq
    graft.engine.Caches.release()
    val q = Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") < 10), dir, "doc_id", "text", k = 5)
    val qe = q.queryExecution
    val stored = q.orderBy("query_id", "rank").collect().toSeq
    assert(stored.map(_.toString) == inline.map(_.toString),
      "partitioned-postings BM25 must be bit-equal to the inline path")
    // The postings scan PRUNES: the executed plan carries a partition
    // filter on wb (directory-level pruning, before row-group stats).
    val p = qe.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("wb"),
      s"the postings scan must prune wb= partition dirs:\n$p")
    graft.engine.Caches.release()
    // Compaction preserves the layout and the answers.
    Retrieval.compactBm25Index(spark, dir)
    assert(wbDirs(3L).nonEmpty,
      "compaction must rewrite postings in the partitioned layout")
    val compacted = Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") < 10), dir, "doc_id", "text", k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(compacted.map(_.toString) == inline.map(_.toString),
      "compacted partitioned index must answer bit-equally")
    graft.engine.Caches.release()
    // ROLLBACK carries the layout record with the state it restores —
    // a restore that dropped `postings_buckets` would make the next
    // append write a FLAT segment beside nested ones, wedging every
    // read (review finding).
    graft.engine.Manifests.rollback(spark, dir, 2L)
    assert(graft.engine.Manifests.commitMeta(spark, dir, 4L)
      .get("postings_buckets").contains("4"),
      "rollback must carry the restored commit's layout metadata")
    import spark.implicits._
    Retrieval.appendToBm25Index(
      Seq((90000001L, "zeta omega kappa sigma")).toDF("doc_id", "text"),
      dir, "doc_id", "text")
    assert(wbDirs(5L).nonEmpty,
      "an append after rollback must stay partitioned")
    // CLONE likewise: the exported store keeps the layout, and its
    // own appends stay partitioned.
    val dst = s"${graft.engine.Sinks.scratch}/bm25_part_clone_spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, dst)
    graft.engine.Manifests.cloneSnapshot(spark, dir, dst)
    assert(graft.engine.Manifests.commitMeta(spark, dst, 1L)
      .get("postings_buckets").contains("4"),
      "clone must carry the source's layout metadata")
    Retrieval.appendToBm25Index(
      Seq((90000002L, "omicron upsilon rho tau")).toDF("doc_id", "text"),
      dst, "doc_id", "text")
    val dstSeg2 = new org.apache.hadoop.fs.Path(
      s"${graft.engine.Manifests.segDir(dst, 2L)}/postings")
    assert(fs.exists(dstSeg2) && fs.listStatus(dstSeg2)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("wb=")),
      "an append to the clone must stay partitioned")
    graft.engine.Caches.release()
  }
}
