package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Similarity

/** Unit coverage for the similarity tier over the sf0.001 embeddings. */
class SimilaritySpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)

  test("unrolled dot/cosine matches the mathematical value") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f) ++ Array.fill(61)(0.0f),
        2L, Array(3.0f, 4.0f, 0.5f) ++ Array.fill(61)(0.0f)))
      .toDF("ia", "a", "ib", "b")
    val got = df.select(
      Similarity.dot(col("a"), col("b")).as("dot"),
      Similarity.cosine(col("a"), col("b")).as("cos"))
      .head()
    assert(math.abs(got.getDouble(0) - 4.0) < 1e-12)
    val expected = 4.0 / (math.sqrt(5.0) * math.sqrt(25.25))
    assert(math.abs(got.getDouble(1) - expected) < 1e-12)
  }

  test("blocked nearDupPairs equals naive all-pairs at the same threshold") {
    val blocked = Similarity.nearDupPairs(emb, threshold = 0.4, blocks = 4)
      .select("id_a", "id_b").cache()
    val side = emb.select(col("vec_id").as("id"), col("embedding").as("e"))
    val naive = side.as("a").join(side.as("b"), col("a.id") < col("b.id"))
      .filter(Similarity.cosine(col("a.e"), col("b.e")) >= 0.4)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).cache()
    assert(blocked.except(naive).count() == 0)
    assert(naive.except(blocked).count() == 0)
    assert(naive.count() > 0)
    blocked.unpersist(); naive.unpersist()
  }

  test("nearDupPairs' exact path is a documented choice: the corpus is threshold-inseparable") {
    // Guard on the separability boundary (TESTDATA: 854 pairs at sf0.001 /
    // 931 at sf0.01 with cosine in [0.3, 0.4), right under the 0.4
    // threshold): any sub-quadratic candidate scheme (SRP banding, IVF
    // cells) keys on similarity structure the near-threshold mass doesn't
    // have, so it would miss true pairs here — the exact blocked all-pairs
    // join is REQUIRED for this regime, not a missed optimization. When a
    // corpus IS separable (near-dup mass well above the threshold, e.g.
    // planted near-duplicates), route to the sub-quadratic paths instead:
    // Dedup.simhashNearDup / Dedup.minhashNearDup (text),
    // Similarity.ivfTopK (vectors).
    val side = emb.select(col("vec_id").as("id"), col("embedding").as("e"))
    val cos = Similarity.cosine(col("a.e"), col("b.e"))
    val counts = side.as("a").join(side.as("b"), col("a.id") < col("b.id"))
      .select(cos.as("cosine"))
      .agg(
        sum(when(col("cosine") >= 0.4, 1L).otherwise(0L)).as("above"),
        sum(when(col("cosine") >= 0.3 && col("cosine") < 0.4, 1L)
          .otherwise(0L)).as("band"))
      .head()
    val (above, band) = (counts.getLong(0), counts.getLong(1))
    assert(above > 0, "threshold must select a non-empty pair set")
    assert(band > above,
      s"corpus no longer inseparable (band=$band <= above=$above): " +
        "revisit nearDupPairs — a sub-quadratic candidate path may now be " +
        "exact enough to replace the all-pairs join")
  }

  test("SRP-LSH near-dup: exact precision (subset of all-pairs truth), deterministic") {
    val srp = Similarity.srpNearDup(emb, threshold = 0.4)
      .select("id_a", "id_b").cache()
    val side = emb.select(col("vec_id").as("id"), col("embedding").as("e"))
    val truth = side.as("a").join(side.as("b"), col("a.id") < col("b.id"))
      .filter(Similarity.cosine(col("a.e"), col("b.e")) >= 0.4)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).cache()
    // Precision is total: the exact-cosine verify admits only true pairs.
    assert(srp.except(truth).count() == 0)
    // The banded candidate generator must actually find pairs here.
    assert(srp.count() > 0)
    // Recall < 1 on this threshold-inseparable corpus is the documented
    // trade (banding probability, not a bug) — the exact path is
    // nearDupPairs (q27). Determinism: the hyperplane matrix is seeded.
    val again = Similarity.srpNearDup(emb, threshold = 0.4)
      .select("id_a", "id_b")
    assert(srp.except(again).count() == 0)
    assert(again.except(srp).count() == 0)
    srp.unpersist(); truth.unpersist()
  }

  test("IVF recall: full probe == brute force (recall 1.0 >= 0.95), monotone in nProbe") {
    // This corpus is deliberately NOT cluster-separable (pairwise cosines
    // form a continuum — even ideal k-means centroids cap recall@nProbe=3
    // near 0.5), so the guaranteed IVF contract is structural: probing all
    // cells reproduces brute force exactly, and recall is monotone in the
    // probe budget. The nProbe=3 operating point is pinned end-to-end by
    // the q28 DuckDB oracle instead.
    val queries = emb.filter(col("vec_id") < 20)
    val k = 5
    val stride = 53
    val nCells = emb.filter(col("vec_id") % stride === 0).count().toInt
    val brute = Similarity.bruteForceTopK(queries, emb, k)
      .select("query_id", "neighbor_id").cache()
    val total = brute.count().toDouble
    assert(total > 0)
    def recallAt(nProbe: Int): Double = {
      val ivf = Similarity.ivfTopK(queries, emb, k, stride, nProbe)
        .select("query_id", "neighbor_id")
      brute.intersect(ivf).count().toDouble / total
    }
    val rFull = recallAt(nCells)
    val r3 = recallAt(3)
    val r1 = recallAt(1)
    assert(rFull == 1.0, s"full-probe IVF must equal brute force, got $rFull")
    assert(rFull >= 0.95)
    assert(r1 <= r3 && r3 <= rFull, s"recall not monotone: $r1, $r3, $rFull")
    brute.unpersist()
  }

  test("int8 quantization: round-trip error bound, HOF equivalence, edge cases") {
    import spark.implicits._
    import graft.functions.VectorExpressions.{vectorMaxAbs, vectorQuantize}
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, -0.5f)),
      (2L, Array(0.0f, 0.0f)),                  // zero vector -> all zeros
      (3L, Array(1e-8f, -3.4e38f, 3.4e38f)),    // extreme dynamic range
      (4L, Array.empty[Float]))                 // empty -> NULL scale
      .toDF("vec_id", "embedding")
    val q = vecs.select(col("vec_id"), col("embedding"),
      vectorMaxAbs(col("embedding")).as("scale"),
      vectorQuantize(col("embedding"), vectorMaxAbs(col("embedding"))).as("qvec"))

    // Kernel == interpreted-HOF spelling (same half-up floor arithmetic).
    val hofScale = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    // Null scale (empty vector) nulls the whole array in the kernel;
    // bare transform would yield [] instead, so gate it explicitly.
    val hofQ = when(col("scale").isNull, lit(null)).otherwise(
      transform(col("embedding"), x =>
        when(col("scale") === 0.0, lit(0).cast("byte")).otherwise(
          floor(x.cast("double") / col("scale") * 127.0 + 0.5).cast("byte"))))
    val cmp = q.withColumn("hof_scale", hofScale).withColumn("hof_q", hofQ)
    assert(cmp.filter(!(col("scale") <=> col("hof_scale")) ||
      !(col("qvec") <=> col("hof_q"))).count() == 0)

    val rows = q.collect().map(r => r.getLong(0) -> r).toMap
    // Round-trip bound: |x - q*scale/127| <= scale/254 (half a step).
    val r1 = rows(1L)
    val scale1 = r1.getDouble(2)
    val q1 = r1.getSeq[Byte](3)
    val x1 = r1.getSeq[Float](1)
    x1.zip(q1).foreach { case (x, qv) =>
      assert(math.abs(x.toDouble - qv * scale1 / 127.0) <= scale1 / 254 + 1e-12)
    }
    assert(q1.max == 127 && q1.min == -127) // extremes hit the rails exactly
    assert(rows(2L).getDouble(2) == 0.0 &&
      rows(2L).getSeq[Byte](3).forall(_ == 0))
    assert(rows(3L).getSeq[Byte](3).toSeq == Seq[Byte](0, -127, 127))
    assert(rows(4L).isNullAt(2) && rows(4L).isNullAt(3)) // null propagates
  }

  test("vector kernels null-propagate null ELEMENTS (parquet reads arrays nullable)") {
    import spark.implicits._
    import graft.functions.VectorExpressions.{vectorDot, vectorMaxAbs, vectorQuantize}
    // Parquet-read array<float> has containsNull=true even for dense
    // data; a null slot must make the result NULL (SQL propagation,
    // matching the DuckDB oracle), never be read as 0.0.
    val vecs = Seq(
      (1L, Seq[Option[Float]](Some(1.0f), None, Some(2.0f))),
      (2L, Seq[Option[Float]](Some(3.0f), Some(-4.0f), Some(0.5f))))
      .toDF("vec_id", "embedding")
    val out = vecs.select(col("vec_id"),
      vectorMaxAbs(col("embedding")).as("scale"),
      vectorQuantize(col("embedding"), lit(4.0)).as("qvec"),
      vectorDot(col("embedding"), col("embedding")).as("dot"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).isNullAt(1) && out(1L).isNullAt(2) && out(1L).isNullAt(3),
      "null element must null the kernel outputs")
    assert(out(2L).getDouble(1) == 4.0)
    assert(!out(2L).isNullAt(2) && !out(2L).isNullAt(3))
    assert(math.abs(out(2L).getDouble(3) - (9.0 + 16.0 + 0.25)) < 1e-12)
  }

  test("ivfNearDupPairs: exact precision (subset of all-pairs truth), total co-cell recall") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = 0.35
    val cents = emb.filter(col("vec_id") % 53 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val got = Similarity.ivfNearDupPairs(emb, cents, t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = Similarity.nearDupPairs(emb, t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Precision 1.0: every emitted pair is a true pair (the verify is exact).
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    assert(got.nonEmpty)
    // Recall within the construction's contract: every TRUE pair whose two
    // vectors land in the same cell is emitted. Cell map computed through
    // an independent window spelling of the argmax.
    val cellOf = emb.crossJoin(broadcast(cents))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cent_emb")))
      .withColumn("r", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cent_id"))))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)]
      .collect().toMap
    val coCelled = truth.filter { case (a, b) => cellOf(a) == cellOf(b) }
    assert(got == coCelled,
      s"missed co-celled pairs: ${coCelled.diff(got).take(5)}")
  }

  test("PQ rejects partial subspace coverage (m*subDim != Dim) loudly") {
    // qnorms runs the native kernel over the FULL vector while the SQL
    // twin covers only m*subDim elements — partial coverage must fail at
    // plan time, not silently diverge from the oracle.
    val queries = emb.filter(col("vec_id") < 10)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(queries, emb, k = 5, m = 8, subDim = 4,
        initStride = 3, iters = 1)
    }
    assert(e1.getMessage.contains("cover the full embedding"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(queries, emb, k = 5,
        cellStride = 53, cellIters = 1, nProbe = 3,
        m = 8, subDim = 4, pqStride = 3, pqIters = 1)
    }
    assert(e2.getMessage.contains("cover the full embedding"))
  }

  test("persisted PQ / IVF-PQ index: build-once round-trip is bit-equal to the inline twins") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 10)
    val root = s"${graft.engine.Sinks.scratch}/similarity-index-spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "approx_cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // Querying before a completed build must fail loudly, not train.
    val pqDir = s"$root/pq"
    assert(!graft.engine.Manifests.exists(spark, pqDir))
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromIndex(queries, emb, pqDir, k = 5)
    }
    assert(e.getMessage.contains("no completed PQ index"))
    // Build once; the stored-index query path (no training) must be
    // BIT-equal to the train-inline twin — float32 codebook parquet
    // round-trips exactly and ADC sums are exact-decimal, so set
    // equality over raw doubles is the right assertion.
    Similarity.buildPqIndex(emb, pqDir,
      m = 16, subDim = 4, initStride = 3, iters = 1)
    assert(graft.engine.Manifests.exists(spark, pqDir))
    val storedPq = rows(Similarity.pqTopKFromIndex(queries, emb, pqDir, k = 5))
    val inlinePq = rows(Similarity.pqTopK(queries, emb, k = 5,
      m = 16, subDim = 4, initStride = 3, iters = 1))
    assert(storedPq == inlinePq,
      "stored-index PQ must reproduce the inline training bit-for-bit")
    // A corpus that cannot cover the index (fewer rows than indexed
    // vectors) must fail loudly, not silently drop indexed ids in the
    // exact re-rank (review finding).
    val tc = intercept[IllegalArgumentException] {
      Similarity.pqTopKFromIndex(queries, emb.filter(col("vec_id") < 100),
        pqDir, k = 5)
    }
    assert(tc.getMessage.contains("silently"))
    val ivfDir = s"$root/ivfpq"
    Similarity.buildIvfPqIndex(emb, ivfDir, cellStride = 53, cellIters = 1,
      m = 16, subDim = 4, pqStride = 3, pqIters = 1)
    val storedIvf = rows(Similarity.ivfPqTopKFromIndex(queries, emb, ivfDir,
      k = 5, nProbe = 3))
    val inlineIvf = rows(Similarity.ivfPqTopK(queries, emb, k = 5,
      cellStride = 53, cellIters = 1, nProbe = 3,
      m = 16, subDim = 4, pqStride = 3, pqIters = 1))
    assert(storedIvf == inlineIvf,
      "stored-index IVF-PQ must reproduce the inline training bit-for-bit")
    graft.engine.Caches.release()
  }

  test("index append: frozen-codebook encode makes new vectors searchable, bit-deterministic") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 10)
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val root = s"${graft.engine.Sinks.scratch}/similarity-append-spec"
    graft.streaming.IncrementalIngest.deleteDir(spark, root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "approx_cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // Appending into nothing must fail loudly, never auto-train.
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(odds, s"$root/nowhere")
    }
    assert(e.getMessage.contains("append needs a finished build"))
    def grow(dir: String): Set[(Long, Long, Double, Int)] = {
      Similarity.buildPqIndex(evens, dir,
        m = 16, subDim = 4, initStride = 3, iters = 1)
      val before = rows(Similarity.pqTopKFromIndex(queries, emb, dir, k = 5))
      assert(before.forall(_._2 % 2 == 0),
        "pre-append the index must only know even ids")
      Similarity.appendToPqIndex(odds, dir)
      assert(graft.engine.Manifests.exists(spark, dir),
        "append must re-commit the completion marker")
      // Structural: every vector now carries exactly m codes.
      val n = emb.count()
      assert(graft.engine.Manifests.snapshot(spark, dir).get
        .read(spark, "codes").count() == n * 16,
        "appended index must hold m codes for EVERY vector")
      rows(Similarity.pqTopKFromIndex(queries, emb, dir, k = 5))
    }
    val after = grow(s"$root/a")
    assert(after.exists(_._2 % 2 == 1),
      "appended odd vectors must become searchable")
    // Build+append replayed in a fresh dir is bit-identical — the
    // frozen-codebook encode has no order/run dependence.
    assert(grow(s"$root/b") == after)
    // IVF-PQ variant: cells + codes both grow; appended ids searchable.
    val ivfDir = s"$root/ivf"
    Similarity.buildIvfPqIndex(evens, ivfDir, cellStride = 53, cellIters = 1,
      m = 16, subDim = 4, pqStride = 3, pqIters = 1)
    Similarity.appendToIvfPqIndex(odds, ivfDir)
    val got = rows(Similarity.ivfPqTopKFromIndex(queries, emb, ivfDir,
      k = 5, nProbe = 3))
    assert(got.exists(_._2 % 2 == 1),
      "IVF-PQ append must make odd vectors searchable")
    assert(graft.engine.Manifests.snapshot(spark, ivfDir).get
      .read(spark, "cells").count() == emb.count(),
      "every vector must hold exactly one cell after append")
    // Layer-mismatch guard: a codes-only append into an IVF-PQ index
    // would leave the new vectors cell-less and silently unsearchable.
    val mm = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(odds, ivfDir)
    }
    assert(mm.getMessage.contains("use appendToIvfPqIndex"))
    graft.engine.Caches.release()
  }

  test("semDeDup: one survivor per component (the least-centroid-similar member), others pass") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = emb.filter(col("vec_id") % 53 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val threshold = 0.35
    val got = Similarity.semDeDup(emb, cents, threshold)
      .as[(Long, Long)].collect().toMap // vec_id -> cent_id
    // Independent replay via different spellings: window cell
    // assignment, naive within-cell pairs, CC by label propagation over
    // a driver-side union-find.
    val crossed = emb.crossJoin(broadcast(cents))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cent_emb")))
      .withColumn("r", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cent_id"))))
      .filter(col("r") === 1)
    val cellOf = crossed.select(col("vec_id"), col("cent_id"), col("sim"))
      .as[(Long, Long, Double)].collect()
    val cellMap = cellOf.map(t => t._1 -> t._2).toMap
    val simMap = cellOf.map(t => t._1 -> t._3).toMap
    val pairs = crossed.select(col("vec_id"), col("cent_id"), col("embedding"))
      .as("a").join(crossed.select(col("vec_id").as("vb"),
        col("cent_id").as("cb"), col("embedding").as("eb")).as("b"),
        col("cent_id") === col("cb") && col("vec_id") < col("vb"))
      .filter(Similarity.cosine(col("embedding"), col("eb")) >= threshold)
      .select(col("vec_id"), col("vb")).as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must produce dup components")
    // Union-find over the pairs.
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val comps = members.groupBy(find)
    val expectedSurvivors =
      cellMap.keySet.diff(members) ++
        comps.values.map(_.minBy(id => (simMap(id), id)))
    assert(got.keySet == expectedSurvivors,
      s"survivor sets differ: extra=${got.keySet.diff(expectedSurvivors).take(5)} " +
        s"missing=${expectedSurvivors.diff(got.keySet).take(5)}")
    got.foreach { case (id, cent) => assert(cellMap(id) == cent) }
    // Degenerate threshold: nothing co-celled is that similar -> whole
    // corpus survives.
    val all = Similarity.semDeDup(emb, cents, threshold = 1.1)
      .as[(Long, Long)].collect()
    assert(all.length == cellMap.size, "no pairs => everyone survives")
    graft.engine.Caches.release()
  }

  test("semanticDecontam: planted paraphrase drops with its best ref; orthogonal text survives") {
    import spark.implicits._
    // Hand-built 4-dim geometry: ref axis e1; train has a near-copy of
    // it (cosine ~0.995), a milder paraphrase (~0.71), an orthogonal
    // vector, and a NEGATED copy (cosine -1: direction-sensitive, must
    // survive). Two refs along e1 so "best match" has to pick the
    // closer (101, exact axis) over the tilted 102.
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val ref = Seq(
      (101L, v(1, 0, 0, 0)),
      (102L, v(0.9, 0.1, 0, 0)),
      (103L, v(0, 0, 1, 0))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, v(0.99, 0.01, 0, 0)),  // near-copy -> dropped, best = 101
      (2L, v(1, 1, 0, 0)),        // ~0.71 to e1 -> dropped at 0.5
      (3L, v(0, 1, 0, 0)),        // orthogonal to every ref -> survives
      (4L, v(-1, 0, 0, 0)))       // negated -> cosine -1, survives
      .toDF("vec_id", "embedding")
    // One centroid on the axis, one on e3: all e1-ish vectors co-cell.
    val cents = Seq((101L, v(1, 0, 0, 0)), (103L, v(0, 0, 1, 0)))
      .toDF("cent_id", "cent_emb")
    val out = Similarity.semanticDecontam(train, ref, cents,
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L), s"drop list wrong: $out")
    assert(out(1L) == 101L, "best match must beat the tilted ref 102")
    assert(out(2L) == 102L, "the tilted ref IS closer to the diagonal")
    // Survivors via anti-join = the operator's consumption contract.
    val survivors = train.join(
      Similarity.semanticDecontam(train, ref, cents, 0.5)
        .select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(3L, 4L))
    graft.engine.Caches.release()
  }

  test("pqTopK: recall@5 >= 0.7 vs brute force (measured 0.94 re-ranked), bit-deterministic") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity.pqTopK(queries, emb, k = 5, m = 16, subDim = 4,
        initStride = 3, iters = 1)
      .select("query_id", "neighbor_id", "approx_cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val got = run()
    // Deterministic end to end: stride init + decimal means + exact-
    // decimal ADC accumulators — a second run is bit-identical.
    assert(got == run())
    val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val mine = got.toSeq.groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recall = truth.map { case (q, t) =>
      mine.getOrElse(q, Set.empty[Long]).count(t).toDouble / t.size }
    val mean = recall.sum / recall.size
    info(s"PQ recall@5 with exact re-rank = $mean")
    // Floor raised 0.5 → 0.7 with the exact re-rank stage (r9): ADC
    // quantization error no longer orders the final k, only selects
    // the 4k candidate pool.
    assert(mean >= 0.7, s"PQ recall@5 degraded: $mean (per-query $recall)")
  }

  test("ivfPqTopK: results are co-celled candidates only, recall floor holds, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity.ivfPqTopK(queries, emb, k = 5,
        cellStride = 53, cellIters = 1, nProbe = 3,
        m = 16, subDim = 4, pqStride = 3, pqIters = 1)
      .select("query_id", "neighbor_id", "approx_cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val got = run()
    assert(got == run(), "two trainings + ADC must be bit-deterministic")
    // Structural candidate contract: every emitted neighbor sits in one
    // of its query's nProbe probed cells — checked through an
    // independent window spelling of the trained-cell assignment.
    val cents = graft.operators.Clustering.kmeansCentroids(
      emb, "vec_id", "embedding", 53, 1)
    val crossed = emb.crossJoin(broadcast(cents))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cent_emb")))
      .withColumn("r", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cent_id"))))
    val cellOf = crossed.filter(col("r") === 1)
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)].collect().toMap
    val probed = crossed.filter(col("vec_id") < 10 && col("r") <= 3)
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
    got.foreach { case (q, n, _, _) =>
      assert(probed(q).contains(cellOf(n)),
        s"neighbor $n of query $q is not in a probed cell") }
    // Approximate-recall floor vs brute force (cell pruning × PQ error;
    // measured 0.38 on this fixture — 0.25 margins a testdata regen).
    val truth = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val mine = got.toSeq.groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val mean = truth.map { case (q, t) =>
      mine.getOrElse(q, Set.empty[Long]).count(t).toDouble / t.size }
      .sum / truth.size
    info(s"IVF-PQ recall@5 with exact re-rank = $mean")
    // Measured 0.48 re-ranked (was 0.38): the re-rank recovers the PQ
    // quantization error but NOT cell pruning — a true neighbor outside
    // the probed cells is gone before scoring. 0.35 margins a regen.
    assert(mean >= 0.35, s"IVF-PQ recall@5 degraded: $mean")
  }

  test("recallAtK: per-query intersection over k, misses score zero") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    // q1 recovers 2 of 3; q2 recovers nothing (the truth rows for q2
    // must not leak in via the left join); q3 exists only in approx
    // (an all-novel ranking still gets a row).
    val approx = Seq((1L, 11L), (1L, 12L), (1L, 99L), (2L, 30L), (3L, 40L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(truth, approx, k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1L) == ((2L, 2.0 / 3)))
    assert(out(2L) == ((0L, 0.0)))
    assert(out(3L) == ((0L, 0.0)))
  }

  test("mrrAtK: reciprocal of the first hit's rank; all-miss queries score 0") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L))
      .toDF("query_id", "neighbor_id")
    // q1's first hit sits at rank 3; q2 never hits.
    val approx = Seq((1L, 99L, 1), (1L, 98L, 2), (1L, 11L, 3), (1L, 10L, 4),
      (2L, 30L, 1)).toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.mrrAtK(truth, approx)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(out(1L) == ((Some(3L), 1.0 / 3)))
    assert(out(2L) == ((None, 0.0)))
  }

  test("ndcgAtK: perfect ranking → 1.0; order degradation is graded") {
    import spark.implicits._
    def rk(rows: (Long, Long, Double, Int)*) =
      rows.toDF("query_id", "neighbor_id", "cosine", "rank")
    val truth = rk((1L, 10L, 0.9, 1), (1L, 11L, 0.6, 2), (1L, 12L, 0.3, 3))
    // Identical ranking → nDCG exactly 1.
    val perfect = Similarity.ndcgAtK(truth, truth).head()
    assert(perfect.getAs[Double]("ndcg") == 1.0)
    // Same items, top two swapped: DCG drops but all gains retained.
    val swapped = rk((1L, 11L, 0.6, 1), (1L, 10L, 0.9, 2), (1L, 12L, 0.3, 3))
    val s = Similarity.ndcgAtK(truth, swapped).head()
    assert(s.getAs[Double]("ndcg") < 1.0 && s.getAs[Double]("ndcg") > 0.9,
      s"swap of adjacent head items is a mild degradation: $s")
    // Missing the best item entirely hurts more than any reorder.
    val missing = rk((1L, 11L, 0.6, 1), (1L, 12L, 0.3, 2))
    val m = Similarity.ndcgAtK(truth, missing).head()
    assert(m.getAs[Double]("ndcg") < s.getAs[Double]("ndcg"))
    // Closed form for the swap, ln-discounted: Σ gain/ln(rank+1).
    def dcg(g: Seq[Double]) = g.zipWithIndex
      .map { case (x, i) => math.rint(x / math.log(i + 2) * 1e6) / 1e6 }.sum
    val want = math.rint(dcg(Seq(0.6, 0.9, 0.3)) / dcg(Seq(0.9, 0.6, 0.3)) * 1e6) / 1e6
    assert(math.abs(s.getAs[Double]("ndcg") - want) < 2e-6)
  }

  test("adaptive probing: spill rule, floor defense, probe economy") {
    val qs = emb.filter(col("vec_id") < 10)
    val cents = graft.operators.Clustering.kmeansCentroids(
      emb, "vec_id", "embedding", initStride = 53, iters = 2)
    val k = 50
    val report = Similarity.probeRecallReport(qs, emb, k, cents,
      fixed = Seq(1, 2), maxProbe = 4)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    graft.engine.Caches.release()
    val (pA, meanA, minA) = report("adaptive")
    val (p1, mean1, min1) = report("fixed_01")
    val (p2, _, min2) = report("fixed_02")
    // k exceeds the sparse cells' population on this fixture, so
    // fixed-1 is structurally under-filled somewhere; adaptive spills
    // exactly there. Mean recall strictly raised, floor never lowered
    // (strictly raised on the sf0.01 fixture — q210's driver run; at
    // sf0.001 the floor query's first cell happens to be dense, so the
    // two floors tie), and the probe spend stays strictly under the
    // fixed-2 budget that would ALSO fix the floor (probe economy:
    // spend tracks need).
    assert(minA >= min1, s"adaptive floor $minA must not lose to fixed-1 $min1")
    assert(meanA > mean1,
      s"adaptive mean $meanA must strictly beat fixed-1 $mean1")
    assert(pA >= p1 && pA < p2,
      s"adaptive probes $pA must sit between fixed-1 $p1 and fixed-2 $p2")
    // Adaptive can never deliver a structurally under-filled query:
    // every query's probed cells hold >= min(k, corpus) vectors.
    val sizes = Similarity.ivfTopKWithAdaptive(qs, emb, k, cents,
      maxProbe = 4).groupBy("query_id").count().collect()
    assert(sizes.forall(_.getLong(1) >= math.min(k, 40) - 1),
      "every query must reach at least a full first spill of candidates")
    // fixed-2's floor is also above fixed-1's here — the fixture's
    // skew is what the adaptive rule exploits; record it for context.
    assert(min2 >= min1)
  }

  test("ndcgAtK: a query with zero approx results scores 0, not absent") {
    import spark.implicits._
    def rk(rows: (Long, Long, Double, Int)*) =
      rows.toDF("query_id", "neighbor_id", "cosine", "rank")
    val truth = rk((1L, 10L, 0.9, 1), (2L, 20L, 0.8, 1))
    val approx = rk((1L, 10L, 0.9, 1)) // nothing returned for query 2
    val r = Similarity.ndcgAtK(truth, approx).orderBy("query_id").collect()
    assert(r.length == 2, "absent query must stay in the report")
    assert(r(0).getAs[Double]("ndcg") == 1.0)
    assert(r(1).getAs[Double]("ndcg") == 0.0 &&
      r(1).getAs[Double]("dcg") == 0.0,
      "mrrAtK reports 0.0 for a query with no hit; ndcg must match")
  }

  test("embeddingQa: flag precedence partitions the bad set; norm stats") {
    import spark.implicits._
    val dim = 4
    val d = Seq(
      (1L, Array(3.0f, 0f, 4f, 0f)),            // healthy, norm 5
      (2L, Array(0f, 0f, 0f, 0f)),              // zero norm
      (3L, Array(Float.NaN, 1f, 1f, 1f)),       // NaN
      (4L, Array(1.0f, 2.0f)),                  // wrong dim
      (5L, Array(Float.NaN, 9f)),               // wrong dim AND NaN → wrong_dim
      (6L, Array(0f, 0f, 0f, 12f)))             // healthy, norm 12
      .toDF("vec_id", "embedding")
    val r = Similarity.embeddingQa(d, "embedding", dim).head()
    assert(r.getAs[Long]("n_vecs") == 6L)
    assert(r.getAs[Long]("n_wrong_dim") == 2L,
      "precedence: wrong-dim wins over NaN")
    assert(r.getAs[Long]("n_nan") == 1L)
    assert(r.getAs[Long]("n_zero_norm") == 1L)
    assert(r.getAs[Double]("norm_mean") == 8.5)
    assert(r.getAs[Double]("norm_min") == 5.0 &&
      r.getAs[Double]("norm_max") == 12.0)
  }

  test("plantBadVectors drives exactly the planted corruption classes") {
    import spark.implicits._
    val dim = 4
    val base = Array(1.0f, 1f, 1f, 1f)
    val d = Seq(31L, 41L, 53L, 7L).map(_ -> base).toDF("vec_id", "embedding")
    val planted = d.select(col("vec_id"),
      Similarity.plantBadVectors(col("vec_id"), col("embedding"), dim)
        .as("embedding"))
    val r = Similarity.embeddingQa(planted, "embedding", dim).head()
    assert(r.getAs[Long]("n_zero_norm") == 1L) // 31
    assert(r.getAs[Long]("n_nan") == 1L)       // 41
    assert(r.getAs[Long]("n_wrong_dim") == 1L) // 53
    assert(r.getAs[Double]("norm_mean") == 2.0) // the untouched 7
  }
}
