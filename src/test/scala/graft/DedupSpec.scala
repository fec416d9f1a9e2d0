package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Dedup

/** Unit coverage for the dedup tier over the sf0.001 documents corpus:
  * kernel-vs-composition equivalences and the recall contracts of the
  * banded (LSH / pigeonhole) candidate generators. */
class DedupSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  test("exact dedup: representatives are distinct texts with min ids") {
    val out = Dedup.exact(docs, "doc_id", "text").cache()
    val distinctTexts = docs.select("text").distinct().count()
    assert(out.count() == distinctTexts)
    // Every representative id is the minimum id among rows with that text.
    val mins = docs.groupBy("text").agg(min("doc_id").as("want"))
    val joined = out.join(mins, Seq("text"))
    assert(joined.filter(col("doc_id") =!= col("want")).count() == 0)
    out.unpersist()
  }

  test("connected components: 64-link chain collapses in O(log n) rounds") {
    import spark.implicits._
    // Worst case for plain min-label propagation: one path graph, the
    // min label must travel the whole chain — 64 rounds without the
    // pointer-doubling shortcut, ~log2(64)+slack with it. Every round
    // runs at least two actions (the propagation barrier and the
    // convergence sum), so plain propagation starts at least 128 jobs
    // here (766 measured with the shortcut join removed); with it, 100
    // were measured, and the bound leaves 20% over that.
    val chain = (0L until 64L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val (out, events) =
      SparkEvents.during(spark.sparkContext)(Dedup.dedupClusters(chain))
    val jobs = events.count(_.isInstanceOf[SparkListenerJobStart])
    assert(jobs <= 120, s"expected O(log n) rounds on a chain, got $jobs jobs")
    assert(out.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(out.count() == 64)
    graft.engine.Caches.release()
  }

  test("connected components: two components + a singleton-free node set") {
    import spark.implicits._
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
    graft.engine.Caches.release()
  }

  test("native shingle kernel == transform/slice/array_join composition") {
    import graft.functions.TextFunctions
    val toks = TextFunctions.tokens(col("text"))
    val hofGrams = array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " ")))
        .otherwise(array(array_join(toks, " "))))
    val diff = docs.select(
      Dedup.shingles(col("text"), 3).as("a"), hofGrams.as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.count() == 0)
  }

  test("native simhash kernel == explode + 64-bit-sum composition") {
    import graft.functions.TextFunctions
    // Reference per-token hash: first 8 MD5 bytes little-endian, built from
    // the md5 BUILT-IN (hex string → 16 hex chars → byte-reversed long) —
    // the same value DuckDB's md5_number_upper returns, computed through an
    // independent path from the kernel's MessageDigest.
    val hexLE = concat((0 until 8).reverse.map(i =>
      substring(md5(col("t").cast("binary")), 2 * i + 1, 2)): _*)
    val tok = docs.select(col("doc_id").as("id"),
      explode(TextFunctions.tokens(col("text"))).as("t"))
      .withColumn("h", conv(hexLE, 16, -10).cast("long"))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i"))
    val packed = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce(_ + _)
    val viaAgg = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), packed.as("simhash"))
    val viaKernel = Dedup.simhash(docs, "doc_id", "text")
    assert(viaKernel.except(viaAgg).count() == 0)
    assert(viaAgg.except(viaKernel).count() == 0)
  }

  test("minhash signatures: codegen agg form == columnar HOF form") {
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val viaAgg = Dedup.minhashSignatures(sh, "id", "sh", 16, 42L)
      .select(col("id"), array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))
    val viaHof = sh.select(col("id"),
      Dedup.minhashSignature(col("sh"), 16, 42L).as("sig"))
    assert(viaAgg.except(viaHof).count() == 0)
    assert(viaHof.except(viaAgg).count() == 0)
  }

  test("native minhash-bands kernel == band keys built from agg signatures") {
    import graft.functions.TextKernels
    val (as, bs) = Dedup.hashFamily(64, 42L)
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val viaKernel = sh.select(col("id"),
      explode(TextKernels.minhashBandsCol(col("sh"), as, bs, 16,
        Dedup.MinhashP)).as("band"))
    val r = 4
    val bandArr = array((0 until 16).map(j =>
      concat_ws(":", lit(j).cast("string"),
        concat_ws("_", (j * r until (j + 1) * r).map(i =>
          col(s"m$i").cast("string")): _*))): _*)
    val viaAgg = Dedup.minhashSignatures(sh, "id", "sh", 64, 42L)
      .select(col("id"), explode(bandArr).as("band"))
    assert(viaKernel.except(viaAgg).count() == 0)
    assert(viaAgg.except(viaKernel).count() == 0)
  }

  test("simhash banding finds exactly the brute-force Hamming<=3 pairs") {
    val banded = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").cache()
    // Ground truth: all-pairs Hamming over the same simhash values. The
    // 4x16-bit pigeonhole guarantees recall for <=3 differing bits, so the
    // banded output must equal the exhaustive filter exactly.
    val sh = Dedup.simhash(docs, "doc_id", "text")
    val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).cache()
    assert(banded.except(brute).count() == 0)
    assert(brute.except(banded).count() == 0)
    assert(brute.count() > 0) // the planted corpus must exercise the path
    banded.unpersist(); brute.unpersist()
  }

  test("prefix-filtered Jaccard join == exhaustive all-pairs (total recall, no maxDf caveat)") {
    val prefix = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).select("id_a", "id_b").cache()
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .filter(Dedup.jaccard(col("a.sh"), col("b.sh")) >= 0.5)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).cache()
    assert(prefix.except(brute).count() == 0)
    assert(brute.except(prefix).count() == 0)
    assert(brute.count() > 0)
    prefix.unpersist(); brute.unpersist()
  }

  test("full positional filter prunes strictly more candidates than the min-position bound") {
    // The r7 strengthening: exact common-prefix count cp + max-position
    // tail bound vs the old 1 + min-position bound. Same recall (both
    // sound, proven at prefixJaccardCandidates), strictly fewer pairs
    // reaching the array-verify stage on the real corpus.
    val sh = docs.select(col("doc_id").as("id"),
      array_sort(Dedup.shingles(col("text"), 3)).as("sh")).cache()
    val strong = Dedup.prefixJaccardCandidates(sh, 0.5, fullPositional = true)
      .cache()
    val weak = Dedup.prefixJaccardCandidates(sh, 0.5, fullPositional = false)
      .cache()
    val (ns, nw) = (strong.count(), weak.count())
    assert(ns < nw, s"full positional filter must prune ($ns vs $nw)")
    // Strengthening only ever REMOVES candidates (bound is tighter).
    assert(strong.except(weak).count() == 0)
    strong.unpersist(); weak.unpersist(); sh.unpersist()
    graft.engine.Caches.release()
  }

  test("bounded intersect kernel: exact above the floor, -1 below, bound is sound") {
    import graft.functions.TextKernels
    val sh = docs.select(col("doc_id"),
      array_sort(Dedup.shingles(col("text"), 3)).as("sh"))
    val pairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .limit(2000)
      .select(col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .withColumn("exact", TextKernels.sortedIntersectCol(col("sh_a"), col("sh_b")))
    // Sweep floors around each pair's exact count: the kernel must return
    // the exact count iff exact >= floor, else -1 (never a wrong count,
    // never -1 for a qualifying pair — that would be a recall bug).
    val checked = pairs
      .withColumn("floor_lo", greatest(col("exact") - 1, lit(0)))
      .withColumn("floor_hi", col("exact") + 1)
      .withColumn("at_exact", TextKernels.boundedSortedIntersectCol(
        col("sh_a"), col("sh_b"), col("exact")))
      .withColumn("at_lo", TextKernels.boundedSortedIntersectCol(
        col("sh_a"), col("sh_b"), col("floor_lo")))
      .withColumn("at_hi", TextKernels.boundedSortedIntersectCol(
        col("sh_a"), col("sh_b"), col("floor_hi")))
    assert(checked.filter(col("at_exact") =!= col("exact")).count() == 0)
    assert(checked.filter(col("at_lo") =!= col("exact")).count() == 0)
    assert(checked.filter(col("at_hi") =!= lit(-1)).count() == 0)
  }

  test("prefix filter recall survives the maxDf-adversarial corpus (all shared shingles ubiquitous)") {
    import spark.implicits._
    // Worst case for q23's maxDf stop-shingle prune: 120 identical copies
    // of one document — every shared shingle has df = 120 > maxDf = 100,
    // so ngramJaccardPairs drops every posting and finds NONE of the
    // 120·119/2 true pairs. The prefix filter has no df cutoff (rarity
    // only orders shingles), so it must find them all.
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    val copies = (0L until 120L).map(i => (i, text)).toDF("doc_id", "text")
    val nPairs = 120L * 119L / 2L
    val pruned = Dedup.ngramJaccardPairs(copies, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = Some(100))
    assert(pruned.count() == 0, "maxDf prune must miss everything here (the documented caveat)")
    val got = Dedup.prefixJaccardPairs(copies, "doc_id", "text",
      n = 3, threshold = 0.5)
    assert(got.count() == nPairs)
    assert(got.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("prefix-candidate q23 construction == naive inverted-index build (values included)") {
    import spark.implicits._
    // The public operator now draws candidates from the PPJoin prefix
    // filter and merge-counts the rare-only intersection; the naive
    // maxDf posting self-join is kept private as the proof twin. Same
    // pair set AND bit-identical scores (same integers, same division),
    // at the wired auto default, a pinned 100, and a tight maxDf where
    // the rare-only estimator visibly under-scores true Jaccard.
    for (maxDf <- Seq(None, Some(100), Some(3))) {
      val neu = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = maxDf).cache()
      val old = Dedup.ngramJaccardPairsInverted(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = maxDf).cache()
      assert(neu.except(old).count() == 0, s"maxDf=$maxDf: new ⊄ old")
      assert(old.except(neu).count() == 0, s"maxDf=$maxDf: old ⊄ new")
      assert(neu.count() > 0)
      neu.unpersist(); old.unpersist()
      graft.engine.Caches.release()
    }
    // Degenerate corpus sanity: both constructions emit nothing when
    // every shared shingle is ubiquitous (the documented prune caveat).
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    val copies = (0L until 120L).map(i => (i, text)).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(copies, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = Some(100)).count() == 0)
  }

  test("autoMaxDf: budget knee reproduces the fixed-cutoff pair population") {
    import spark.implicits._
    // On this corpus the whole df distribution fits the default
    // budget, so the tuned cutoff admits every shareable shingle and
    // the pair population equals the historical fixed maxDf = 100 —
    // the cost-model contract: tuning changes results only when the
    // budget actually bites.
    val tuned = Dedup.autoMaxDf(docs, "doc_id", "text", n = 3)
    assert(tuned >= 2)
    val a = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = Some(tuned)).cache()
    val b = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = Some(100)).cache()
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      s"tuned maxDf=$tuned must reproduce the fixed-100 pair population")
    assert(a.count() > 0)
    // The WIRED default (maxDf = None — the in-plan broadcast knee)
    // must equal both: the driver-scalar derivation and the in-plan
    // derivation are the same knob.
    val auto = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).cache()
    assert(auto.except(b).count() == 0 && b.except(auto).count() == 0,
      "wired auto cutoff must reproduce the fixed-100 pair population")
    a.unpersist(); b.unpersist(); auto.unpersist()
    graft.engine.Caches.release()
    // The tuning table is the cost model: W is monotone, the tuned
    // value is the last kept class, and the next class (when any)
    // exceeds the budget.
    val t = Dedup.maxDfTuningTable(docs, "doc_id", "text", n = 3,
      pairBudget = 10000000L).orderBy("df").collect()
    assert(t.sliding(2).forall {
      case Array(x, y) => x.getLong(3) <= y.getLong(3)
      case _ => true
    }, "cumulative pair work must be monotone in df")
    val keptMax = t.filter(r => r.getInt(4) == 1 && r.getLong(0) >= 2)
      .map(_.getLong(0)).max
    assert(keptMax == tuned)
    // A budget the df-2 class alone exceeds floors at 2 instead of
    // emptying the index.
    val tiny = Dedup.autoMaxDf(docs, "doc_id", "text", n = 3,
      pairBudget = 1L)
    assert(tiny == 2)
    graft.engine.Caches.release()
    // And a corpus that WOULD blow a small budget gets cut exactly at
    // the knee: 50 identical docs (one df-50 class = 1225 pairs per
    // shingle) against a 100-pair budget -> cutoff floors at 2.
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    val copies = (0L until 50L).map(i => (i, text)).toDF("doc_id", "text")
    assert(Dedup.autoMaxDf(copies, "doc_id", "text", n = 3,
      pairBudget = 100L) == 2)
  }

  test("persisted simhash index (build + append) equals the inline cross pairs; replay-safe") {
    val dir = s"${graft.engine.Sinks.scratch}/simhash_index_spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, dir)
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupFromIndex(batch, dir, "doc_id", "text")
    }
    Dedup.buildSimhashIndex(ref.filter(col("doc_id") % 2 === 0), dir,
      "doc_id", "text")
    Dedup.appendToSimhashIndex(ref.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "text")
    assert(graft.engine.Manifests.exists(spark, dir))
    val stored = Dedup.simhashNearDupFromIndex(batch, dir, "doc_id", "text")
      .orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    graft.engine.Caches.release()
    // Inline truth: the q25 self-join over the whole corpus, restricted
    // to cross (batch, ref) pairs — stored state must be bit-invisible.
    val refIds = ref.select("doc_id").collect().map(_.getLong(0)).toSet
    val inline = Dedup.simhashNearDup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMap { case (a, b, h) =>
        if (!refIds(a) && refIds(b)) Some((a, b, h))
        else if (refIds(a) && !refIds(b)) Some((b, a, h))
        else None
      }.sorted.toSeq
    assert(stored == inline,
      s"stored-index simhash must equal the inline cross pairs")
    graft.engine.Caches.release()
    // Replay safety: a fully-replayed append publishes nothing.
    val v = graft.engine.Manifests.liveVersion(spark, dir)
    Dedup.appendToSimhashIndex(ref.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "text")
    assert(graft.engine.Manifests.liveVersion(spark, dir) == v)
    graft.engine.Caches.release()
  }

  test("bandsForThreshold: canonical gate derives the historical 16x4 scheme; S-curve properties hold") {
    // The knob-closure contract: the 64-hash/16-band constants every
    // MinHash default carries are now a COMPUTED consequence of
    // (threshold 0.5, targetSim 0.9, recall floor 1-1e-6).
    assert(Dedup.bandsForThreshold(0.5) == ((16, 4)))
    assert(Dedup.DefaultLsh == ((16, 4)))
    // Recall floor holds at the derived sizing, by the curve itself...
    assert(Dedup.lshDetectProb(16, 4, 0.9) >= 1 - 1e-6)
    // ...and empirically: the near-dup operator at the DERIVED sizing
    // (its defaults) equals the exhaustive truth on the fixture corpus
    // (the q24 contract, now resting on the derivation).
    val (b, r) = Dedup.bandsForThreshold(0.5)
    val lsh = Dedup.minhashNearDup(docs, "doc_id", "text",
      n = 3, numHashes = b * r, bands = b, threshold = 0.5)
      .select("id_a", "id_b")
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .withColumn("j", Dedup.jaccard(col("a.sh"), col("b.sh")))
      .filter(col("j") >= 0.5)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    assert(lsh.except(brute).count() == 0 && brute.except(lsh).count() == 0)
    graft.engine.Caches.release()
    // Other thresholds derive schemes that still clear the floor at
    // the target similarity, with the knee never below the threshold.
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val (bb, rr) = Dedup.bandsForThreshold(t)
      assert(math.pow(1.0 / bb, 1.0 / rr) >= t - 1e-6,
        s"knee below threshold at t=$t: ($bb, $rr)")
      assert(Dedup.lshDetectProb(bb, rr, 0.9) >= 1 - 1e-6,
        s"recall floor missed at t=$t")
    }
    // The sizing table agrees with the scalar derivation.
    val tbl = Dedup.lshSizingTable(spark).filter(col("chosen") === 1)
      .head()
    assert(tbl.getInt(1) == 16 && tbl.getInt(0) == 4,
      s"sizing table chose ${tbl}")
  }

  test("minhash LSH pairs match exhaustive true-Jaccard pairs on the planted corpus") {
    val lsh = Dedup.minhashNearDup(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").cache()
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(col("text"), 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .filter(Dedup.jaccard(col("a.sh"), col("b.sh")) >= 0.5)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).cache()
    assert(lsh.except(brute).count() == 0)
    assert(brute.except(lsh).count() == 0)
    lsh.unpersist(); brute.unpersist()
  }

  test("cross-corpus LSH dedup equals the exhaustive cross-Jaccard pairs") {
    val newSide = docs.filter(col("doc_id") % 3 =!= 0)
    val refSide = docs.filter(col("doc_id") % 3 === 0)
    // 32 bands × 2 rows — the q98 production parameterization, chosen so
    // a true pair AT the 0.5 threshold is missed with p ≈ (1−0.25)³² ≈
    // 1e-4 rather than the ~36 % of 16 × 4 (this test compares against
    // exhaustive ground truth, so recall must be structural, not lucky).
    val lsh = Dedup.minhashNearDupAcross(newSide, refSide, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("new_id", "ref_id").cache()
    def sh(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
    val brute = sh(newSide).as("a").join(sh(refSide).as("b"),
        Dedup.jaccard(col("a.sh"), col("b.sh")) >= 0.5)
      .select(col("a.id").as("new_id"), col("b.id").as("ref_id")).cache()
    assert(brute.count() > 0, "fixture must contain cross-corpus near-dups")
    assert(lsh.except(brute).count() == 0)
    assert(brute.except(lsh).count() == 0)
    lsh.unpersist(); brute.unpersist()
    graft.engine.Caches.release()
  }

  test("persisted minhash index (build + append) is bit-equal to the inline cross dedup") {
    val newSide = docs.filter(col("doc_id") % 3 =!= 0)
    val refSide = docs.filter(col("doc_id") % 3 === 0)
    val dir = s"${graft.engine.Sinks.scratch}/dedup_spec_minhash"
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    // Query before any build must refuse loudly.
    assertThrows[IllegalArgumentException] {
      Dedup.minhashNearDupFromIndex(newSide, dir, "doc_id", "text")
    }
    assertThrows[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(refSide, dir, "doc_id", "text")
    }
    // Build on the even half, append the odd half — the maintenance
    // path; stored params (not caller args) drive the append + query.
    Dedup.buildMinhashIndex(refSide.filter(col("doc_id") % 2 === 0), dir,
      "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    Dedup.appendToMinhashIndex(refSide.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "text")
    assert(graft.engine.Manifests.exists(spark, dir))
    val fromIndex = Dedup.minhashNearDupFromIndex(newSide, dir,
      "doc_id", "text", threshold = 0.5)
      .orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = Dedup.minhashNearDupAcross(newSide, refSide, "doc_id",
      "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inline.nonEmpty, "fixture must contain cross-corpus near-dups")
    assert(fromIndex == inline,
      "stored shingles/bands must be bit-invisible vs inline recompute")
    graft.engine.Caches.release()
  }

  test("winnowing: shared spans >= w+k-1 are ALWAYS caught; short docs select nothing") {
    import spark.implicits._
    val k = 8
    val w = 4
    // t = w + k - 1 = 11. Docs 1/2 share an exact 14-char run embedded
    // at DIFFERENT offsets in otherwise-different text (alignment
    // independence is the point of winnowing); doc 3 is disjoint text;
    // doc 4 is shorter than t (no full window -> no fingerprints,
    // can never pair); doc 5 duplicates doc 1 exactly.
    val sharedRun = "COPYPASTERUN88"
    val d = Seq(
      1L -> s"left padding $sharedRun and some trailing words here",
      2L -> s"completely other prefix text ${sharedRun} different tail",
      3L -> "nothing in common with anybody else at all in this one",
      4L -> "tiny bit",
      5L -> s"left padding $sharedRun and some trailing words here")
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowedSpanPairs(d, "doc_id", "text", k, w)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)), "the winnowing guarantee: span >= t caught")
    assert(pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)),
      "exact duplicate pairs with everything its twin pairs with")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "disjoint text")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "sub-t doc")
    assert(Dedup.winnowingFingerprints(
      d.filter(col("doc_id") === 4L), "doc_id", "text", k, w).count() == 0)
    // Alignment independence, the stronger claim: the two sides
    // selected a COMMON gram from inside the shared run even though
    // their positions differ.
    val f1 = Dedup.winnowingFingerprints(
      d.filter(col("doc_id") === 1L), "doc_id", "text", k, w)
      .select("gram").collect().map(_.getString(0)).toSet
    val f2 = Dedup.winnowingFingerprints(
      d.filter(col("doc_id") === 2L), "doc_id", "text", k, w)
      .select("gram").collect().map(_.getString(0)).toSet
    assert(f1.intersect(f2).exists(g => sharedRun.contains(g)),
      s"no common in-run gram; f1∩f2 = ${f1.intersect(f2)}")
    graft.engine.Caches.release()
  }

  test("boilerplate excision: full repeated runs cut, overlaps merged, clean docs untouched") {
    import spark.implicits._
    val k = 6
    // "HEADERHEADER" (12 chars) appears in docs 1-3 (df of its interior
    // 6-grams >= 3); "tailXY" appears in only 2 docs (df 2 < minDf=3,
    // must survive); doc 4 shares nothing. Overlapping mark intervals
    // within the run must merge into ONE excision covering all 12
    // chars — a non-merged cut would leave slivers.
    val d = Seq(
      1L -> "aaa HEADERHEADER bbb tailXY",
      2L -> "cc HEADERHEADER dd",
      3L -> "HEADERHEADER ee tailXY",
      4L -> "nothing shared here at all",
      5L -> "tiny").toDF("doc_id", "text")
    val out = Dedup.exciseBoilerplate(d, "doc_id", "text", k, minDf = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // The run is cut WHEREVER it sits (start/middle), along with any
    // adjacent positions whose k-grams straddle into it and also reach
    // df >= 3: here the run is followed by a space in ALL THREE docs,
    // so the straddling gram "EADER " has df = 3 and the excision
    // correctly extends one char past the run (13 = 12 + 1). The
    // PRECEDING chars differ per doc, so the cut never extends left.
    assert(out == Seq(
      (1L, "aaa bbb tailXY", 13L),
      (2L, "cc dd", 13L),
      (3L, "ee tailXY", 13L),
      (4L, "nothing shared here at all", 0L),
      (5L, "tiny", 0L)))
    graft.engine.Caches.release()
  }

  test("decontamination excision: eval-shared spans cut, train-only repeats survive") {
    import spark.implicits._
    val evalDocs = Seq(100L -> "SECRET BENCHMARK ANSWER").toDF("doc_id", "text")
    val train = Seq(
      1L -> "x SECRET BENCHMARK y",      // leaked span mid-document
      2L -> "dup dup dup shared shared", // repeats WITHIN training only:
      3L -> "shared shared too",         //   absent from eval -> survive
      4L -> "SECRET",                    // exactly one leaked k-gram
      5L -> "tiny").toDF("doc_id", "text")
    val out = Dedup.exciseContaminated(train, evalDocs, "doc_id", "text", k = 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // Doc 1: marks run from "SECRET" through the straddling "HMARK "
    // (eval has the same trailing space) -> cut [2, 19) = 17 chars;
    // the left edge never extends (" SECRE" is not an eval gram).
    // Docs 2/3 prove the contrast with boilerplate excision: high-df
    // training-internal repeats are NOT benchmark leaks. Doc 4 shows a
    // fully-contaminated doc collapses to empty, not null. Eval docs
    // themselves never appear in the output.
    assert(out == Seq(
      (1L, "x y", 17L),
      (2L, "dup dup dup shared shared", 0L),
      (3L, "shared shared too", 0L),
      (4L, "", 6L),
      (5L, "tiny", 0L)))
    graft.engine.Caches.release()
  }

  test("CDC chunks: lossless reassembly; insertion re-keys only its own chunk") {
    import spark.implicits._
    val k = 8
    // Deterministic pseudo-random base text (mixed-case + digits so
    // boundary grams actually vary) and a one-char head insertion.
    val a = (0 until 300).map(i =>
      ('a' + (i * 31 + i * i % 17) % 26).toChar).mkString
    val b = "Z" + a
    val c = (0 until 120).map(i => ('A' + (i * 7) % 26).toChar).mkString
    val docs = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> "").toDF("doc_id", "text")
    // Lossless: chunks concatenated in start order == original text.
    val chunks = Dedup.cdcChunks(docs, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val rebuilt = chunks.groupBy(_._1).map { case (id, cs) =>
      id -> cs.sortBy(_._2).map(_._3).mkString }
    assert(rebuilt == Map(1L -> a, 2L -> b, 3L -> c, 4L -> ""))
    graft.engine.Caches.release()
    val stats = Dedup.cdcSharedChunkStats(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // The insertion-robustness claim: b = "Z" + a differs only before
    // the first boundary, so all but b's first chunk (and a's first)
    // dedup verbatim — where fixed-offset chunking would share nothing.
    assert(stats(1L)._3 > 0.5 && stats(2L)._3 > 0.5,
      s"shifted twins should share most chunks: $stats")
    assert(stats(1L)._2 >= stats(1L)._1 - 1 && stats(2L)._2 >= stats(2L)._1 - 1)
    // Unrelated and empty docs share nothing (the empty doc's single
    // "" chunk occurs in no other document here).
    assert(stats(3L)._2 == 0 && stats(4L) == ((1L, 0L, 0.0)))
    graft.engine.Caches.release()
  }

  test("stored eval-gram index: build/append/query bit-equal to inline; refusals") {
    import spark.implicits._
    val dir = s"${graft.engine.Sinks.scratch}/dedupspec_gramidx"
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val eval1 = Seq(100L -> "SECRET BENCHMARK ANSWER").toDF("doc_id", "text")
    val eval2 = Seq(101L -> "ANOTHER HELD OUT PROBE").toDF("doc_id", "text")
    val train = Seq(
      1L -> "x SECRET BENCHMARK y",
      2L -> "has ANOTHER HELD OUT text",
      3L -> "clean document").toDF("doc_id", "text")
    def run() = Dedup.exciseFromGramIndex(train, dir, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def inline(ev: org.apache.spark.sql.DataFrame) =
      Dedup.exciseContaminated(train, ev, "doc_id", "text", k = 6)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // Query and append against a missing index must refuse loudly.
    intercept[IllegalArgumentException](run())
    intercept[IllegalArgumentException](
      Dedup.appendToGramIndex(eval2, dir, "doc_id", "text"))
    Dedup.buildGramIndex(eval1, dir, "doc_id", "text", k = 6)
    assert(run() == inline(eval1), "stored != inline after build")
    graft.engine.Caches.release()
    // Growth: after the append, doc 2's leak (absent from eval1) is cut.
    Dedup.appendToGramIndex(eval2, dir, "doc_id", "text")
    val grown = run()
    assert(grown == inline(eval1.union(eval2)), "stored != inline after append")
    assert(grown.find(_._1 == 2L).exists(_._3 > 0),
      "appended eval content must start marking")
    graft.engine.Caches.release()
  }

  test("copy matrix rolls pairs up by unordered source pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "srcB", "x"), (2L, "srcA", "x"),  // cross-source pair
      (3L, "srcA", "y"), (4L, "srcA", "y"),  // within-source pair
      (5L, "srcC", "z")).toDF("doc_id", "source", "text")
    val pairs = Seq((1L, 2L, 1.0), (3L, 4L, 0.5))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.copyMatrix(docs, "doc_id", "source", pairs)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // (srcB, srcA) canonicalizes to (srcA, srcB); srcC never appears.
    assert(out == Seq(
      ("srcA", "srcA", 1L, 0.5),
      ("srcA", "srcB", 1L, 1.0)))
  }

  test("deletion-index fuzzy join equals the exhaustive edit-distance pairs") {
    import spark.implicits._
    // Substitution, insertion, deletion, transposition (ed=2, must be
    // excluded), an ed=2 double-substitution, duplicates, empty string,
    // and a 1-char string whose deletion IS the empty string (ed=1).
    val vals = Seq("cat", "cot", "cart", "ca", "act", "dog", "cat", "", "c",
      "cut", "bat").toDF("s")
    val got = Dedup.editDistancePairs(vals, "s")
      .select("name_a", "name_b")
    val v = vals.select(col("s")).distinct()
    val naive = v.as("a").join(v.as("b"), col("a.s") < col("b.s"))
      .where(levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.s").as("name_a"), col("b.s").as("name_b"))
    assert(got.except(naive).count() == 0)
    assert(naive.except(got).count() == 0)
    val pairs = got.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("cat", "cot")), "substitution")
    assert(pairs.contains(("cart", "cat")), "insertion")
    assert(pairs.contains(("ca", "cat")), "deletion")
    assert(pairs.contains(("", "c")), "empty vs 1-char")
    assert(!pairs.contains(("act", "cat")), "transposition is ed 2 under Levenshtein")
  }

  test("dedupMethodEval: hand-computed P/R/F1; minhash row equals truth") {
    import spark.implicits._
    // Docs 1/2 verbatim copies (exact + truth), 3/4 near-dups sharing
    // most trigrams (truth, not exact), 5 unrelated.
    val d = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight nine ten",
      4L -> "one two three four five six seven eight nine eleven",
      5L -> "totally unrelated content words only here")
      .toDF("doc_id", "text")
    val out = Dedup.dedupMethodEval(d, "doc_id", "text",
      n = 3, threshold = 0.5).orderBy("method").collect()
    val byName = out.map(r => r.getString(0) -> r).toMap
    // Truth: (1,2) J=1; (3,4) share 7 of 9 distinct trigrams (J=0.7/...).
    val nTruth = byName("exact").getAs[Long]("n_truth")
    assert(nTruth == 2L, s"truth pairs: $nTruth")
    val ex = byName("exact")
    assert(ex.getAs[Long]("n_pred") == 1L && ex.getAs[Long]("tp") == 1L)
    assert(ex.getAs[Double]("precision") == 1.0 &&
      ex.getAs[Double]("recall") == 0.5)
    assert(ex.getAs[Double]("f1") == math.rint(2.0 * 1.0 * 0.5 / 1.5 * 1e6) / 1e6)
    val mh = byName("minhash")
    assert(mh.getAs[Long]("n_pred") == nTruth &&
      mh.getAs[Long]("tp") == nTruth,
      "minhash (banded LSH + exact verify) must equal the truth set")
    assert(mh.getAs[Double]("f1") == 1.0)
    val sh = byName("simhash")
    assert(sh.getAs[Long]("tp") <= sh.getAs[Long]("n_pred"))
    graft.engine.Caches.release()
  }

  test("dropBoilerplateLines: cross-doc lines excised, order kept, totality") {
    import spark.implicits._
    val boiler = "subscribe now"
    val d = Seq(
      1L -> s"alpha one\n$boiler\nalpha two",
      2L -> s"$boiler\nbeta solo",
      3L -> s"gamma a\ngamma b",
      4L -> boiler) // entirely boilerplate → empty text, never lost
      .toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(d, "doc_id", "text", minDf = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[String]("text") == "alpha one\nalpha two" &&
      out(0).getAs[Long]("n_kept") == 2L &&
      out(0).getAs[Long]("n_dropped") == 1L)
    assert(out(1).getAs[String]("text") == "beta solo")
    assert(out(2).getAs[String]("text") == "gamma a\ngamma b" &&
      out(2).getAs[Long]("n_dropped") == 0L)
    assert(out(3).getAs[String]("text") == "" &&
      out(3).getAs[Long]("n_kept") == 0L)
    // df just below the threshold: nothing dropped.
    val loose = Dedup.dropBoilerplateLines(d, "doc_id", "text", minDf = 4)
      .orderBy("doc_id").collect()
    assert(loose.forall(_.getAs[Long]("n_dropped") == 0L),
      "df=3 boilerplate survives minDf=4")
    // A line repeated WITHIN one doc only is not cross-doc boilerplate.
    val within = Seq(5L -> "same line\nsame line\nother", 6L -> "unrelated")
      .toDF("doc_id", "text")
    val w = Dedup.dropBoilerplateLines(within, "doc_id", "text", minDf = 2)
      .orderBy("doc_id").collect()
    assert(w(0).getAs[Long]("n_dropped") == 0L,
      "df counts DISTINCT documents, not occurrences")
    graft.engine.Caches.release()
  }

  test("line-df index: stored == inline reference, tagged append replay-safe") {
    import spark.implicits._
    val boiler = "subscribe now"
    val ref1 = Seq(1L -> s"$boiler\nr1 a", 2L -> s"$boiler\nr2 b")
      .toDF("doc_id", "text")
    val ref2 = Seq(3L -> s"$boiler\nr3 c").toDF("doc_id", "text")
    val batch = Seq(
      10L -> s"new a\n$boiler\nnew b", // boilerplate known from the index
      11L -> "organic only",
      12L -> s"fresh repeat\nfresh stuff", // batch-local line: df 0
      13L -> "fresh repeat")             // ...even across the batch
      .toDF("doc_id", "text")
    val dir = s"${graft.engine.Sinks.scratch}/line_df_spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, dir)
    intercept[IllegalArgumentException] {
      Dedup.dropBoilerplateFromIndex(batch, dir, "doc_id", "text", 3)
    }
    Dedup.buildLineIndex(ref1, dir, "doc_id", "text")
    Dedup.appendToLineIndex(ref2, dir, "doc_id", "text", "b1")
    val out = Dedup.dropBoilerplateFromIndex(batch, dir, "doc_id", "text",
      minDf = 3).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("text") == "new a\nnew b" &&
      out(0).getAs[Long]("n_dropped") == 1L,
      "stored df 3 (2 built + 1 appended) reaches the threshold")
    assert(out(1).getAs[Long]("n_dropped") == 0L)
    assert(out(2).getAs[Long]("n_dropped") == 0L &&
      out(3).getAs[Long]("n_dropped") == 0L,
      "the batch's own cross-doc repeats don't count (stored reference)")
    // Replayed append under the same tag: a no-op, df stays 3.
    Dedup.appendToLineIndex(ref2, dir, "doc_id", "text", "b1")
    val replay = Dedup.dropBoilerplateFromIndex(batch, dir, "doc_id",
      "text", minDf = 4).orderBy("doc_id").collect()
    assert(replay(0).getAs[Long]("n_dropped") == 0L,
      "df must still be 3 < 4 — a replayed tag cannot double-count")
    // The build's tag is reserved.
    intercept[IllegalArgumentException] {
      Dedup.appendToLineIndex(ref2, dir, "doc_id", "text", "base")
    }
    graft.engine.Caches.release()
  }
}
