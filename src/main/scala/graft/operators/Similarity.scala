package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, as a 100 TB pipeline needs:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline and
  *    the right plan when the query set is small (broadcast queries, one
  *    scan of the corpus, per-partition top-k via window).
  *  - [[nearDupPairs]]: exact all-pairs cosine ≥ threshold, decomposed into
  *    block-pair buckets so the work is an equi-join that shuffle-partitions
  *    across executors (never a nested-loop join over the full corpus).
  *    Exactness is non-negotiable here: the test corpus (and any real
  *    embedding corpus with a loose threshold) is NOT separable — at
  *    sf0.01 there are 931 pairs with cosine in [0.3, 0.4) right under the
  *    0.4 threshold — so sub-quadratic candidate schemes (SRP banding, IVF
  *    cells) necessarily miss true pairs. When the threshold regime is
  *    tight/separable, the sub-quadratic paths are [[Dedup.simhashNearDup]]
  *    (text) and [[ivfTopK]] (vectors).
  *  - [[ivfTopK]]: IVF-style partitioned ANN — corpus pre-assigned to its
  *    nearest centroid once (map-side `max_by` aggregation, no sort
  *    shuffle), queries probe only the `nProbe` nearest cells.
  *
  * All hot-path dot products use [[dot]], a fixed-dimension unrolled
  * multiply-add chain of codegen'd `get`/`cast`/`*`/`+` expressions —
  * interpreted higher-order functions (`zip_with`+`aggregate`) cost ~100 ns
  * per element and put the whole stage on the interpreted fallback path,
  * which at millions of pairs is the difference between seconds and hours.
  * The summation is strict left-to-right starting from 0.0, so the DuckDB
  * oracle's `list_reduce(list_prepend(0.0, …))` reproduces it bit-exactly.
  */
object Similarity {

  /** Embedding dimensionality of the test corpus; all SQL twins hardcode
    * `range(1, dim+1)` to match. */
  val Dim = 64

  /** Strict left-to-right dot product of two float vectors in double
    * precision: `((0.0 + x₁y₁) + x₂y₂) + …` — a native codegen'd loop
    * ([[graft.functions.VectorExpressions.DotProductExpr]]). An unrolled
    * `get(a,i)*get(b,i)` chain generates ~18 KB of bytecode per use site,
    * over the JVM's 8 KB JIT limit, leaving the hot join stage at
    * interpreter speed; the loop form JIT-compiles. `dim` is kept for the
    * SQL twins (the loop runs over the common array prefix). */
  def dot(a: Column, b: Column, dim: Int = Dim): Column =
    graft.functions.VectorExpressions.vectorDot(a, b)

  def norm(a: Column, dim: Int = Dim): Column = sqrt(dot(a, a, dim))

  /** Cosine similarity; zero vectors → 0.0 (guarded, ANSI-safe). */
  def cosine(a: Column, b: Column, dim: Int = Dim): Column =
    cosineWithNorms(a, b, norm(a, dim), norm(b, dim), dim)

  /** Cosine with the norms precomputed once per row instead of once per
    * pair — a third of the arithmetic on a pairwise join. The denominator
    * is the single product `na * nb` (not the chained `/na/nb`): IEEE
    * multiplication commutes, so the result is bit-identical under
    * argument swap — pair orientation never matters, which keeps the
    * blocked all-pairs join free of per-element branch wrapping. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column,
      dim: Int = Dim): Column =
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b, dim) / (na * nb))

  /** SQL twin (DuckDB): identical association order —
    * `((0 + x1) + x2) + ...`, then `dot / (sqrt(na) * sqrt(nb))`. */
  object Sql {
    /** Dimension-parametric twin (subspace vectors are shorter than
      * [[Dim]]; ranging past the array length would NULL-poison the
      * reduce). */
    def dotDim(a: String, b: String, dim: Int): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, ${dim + 1}), k -> " +
        s"CAST($a[k] AS DOUBLE) * CAST($b[k] AS DOUBLE))), (x, y) -> x + y)"

    def dot(a: String, b: String): String = dotDim(a, b, Dim)

    def cosineDim(a: String, b: String, dim: Int): String =
      s"CASE WHEN sqrt(${dotDim(a, a, dim)}) = 0.0 OR " +
        s"sqrt(${dotDim(b, b, dim)}) = 0.0 " +
        s"THEN 0.0 ELSE ${dotDim(a, b, dim)} / " +
        s"(sqrt(${dotDim(a, a, dim)}) * sqrt(${dotDim(b, b, dim)})) END"

    def cosine(a: String, b: String): String = cosineDim(a, b, Dim)
  }

  /** Exact cosine top-k: broadcast the (small) query set against the
    * corpus, one corpus scan, window top-k. Ties broken by corpus id.
    * Norms are computed once per row before the pairwise join. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"))
    // Parallelism floor (graft.engine.Partitioning): the scored scan
    // carries |corpus|x|queries| cosines fused into the scan stage — a
    // one-file corpus would run them all in one task.
    val c = graft.engine.Partitioning.parallelized(
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), norm(col("embedding")).as("c_nrm")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineWithNorms(col("q_emb"), col("c_emb"),
        col("q_nrm"), col("c_nrm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** ANN quality evaluation: per-query recall@k of an approximate
    * ranking against the exact one — the acceptance metric every ANN
    * deployment tracks before trading exactness for speed (and the
    * regression gate after every index rebuild or nProbe/codebook
    * retune). Inputs are two rankings with `(query_id, neighbor_id)`
    * columns (extra columns ignored); output is one row per query in
    * `approx`: `(query_id, n_hits, recall)` with
    * `recall = |approx ∩ truth| / k`.
    *
    * Scale shape: both rankings are k-rows-per-query by construction,
    * so the hit join on (query_id, neighbor_id) and the per-query
    * count are k·|queries|-sized no matter how large the corpus that
    * produced them — the evaluation costs nothing next to the
    * rankings themselves. The division is exact (integer / integer
    * constant in double), so the gate needs no rounding. */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    approx.select("query_id", "neighbor_id")
      .join(truth.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / k)
  }

  /** Mean-reciprocal-rank companion to [[recallAtK]]: per query, the
    * reciprocal of the approx ranking's FIRST position that hits the
    * exact top-k (`1/rank`, 0.0 when nothing hits) — recall says how
    * much of the truth an ANN retrieves, MRR says how early, which is
    * what matters when a re-ranker or an LLM reads only the head of
    * the list. Inputs as in [[recallAtK]], with `approx` also carrying
    * its `rank` column. Same k·|queries| evaluation cost. */
  def mrrAtK(truth: DataFrame, approx: DataFrame): DataFrame =
    approx.select("query_id", "neighbor_id", "rank")
      .join(truth.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(min(when(col("hit") === 1, col("rank"))).cast("long")
        .as("first_hit"))
      .withColumn("mrr", when(col("first_hit").isNull, 0.0)
        .otherwise(lit(1.0) / col("first_hit")))

  /** Ranking-quality companion to [[recallAtK]]/[[mrrAtK]]: nDCG of an
    * approximate ranking against the exact one, with the EXACT cosine
    * as the graded gain — recall says how much of the truth an ANN
    * returns, MRR how early the first hit lands, nDCG how well the
    * WHOLE head is ordered (two rankings with identical recall can
    * differ badly here). Both inputs carry `(query_id, neighbor_id,
    * cosine, rank)`; output per query: the (natural-log) DCG of each
    * ranking and their ratio. The ln-discounted DCG differs from the
    * textbook log₂ form by the constant ln 2 in BOTH numerator and
    * denominator, so `ndcg` IS the standard metric — and ln is the one
    * float op with a proven cross-engine bit contract here (the
    * q96/q191 precedent; log₂ has no such guarantee). Per-term values
    * go through the exact-decimal Σ so reduce order never shifts a
    * digit. k·|queries|-sized, like the other two evaluations. */
  def ndcgAtK(truth: DataFrame, approx: DataFrame): DataFrame = {
    def dcgOf(r: DataFrame, out: String) = r.groupBy("query_id")
      .agg(graft.engine.Aggregates.sumExact(
        col("cosine") / log(col("rank") + 1)).as(out))
    // Left-join FROM the truth DCGs: a query the approximate ranking
    // returned nothing for scores ndcg 0, it does not vanish from the
    // report — the same treatment [[mrrAtK]] gives an absent query.
    dcgOf(truth, "idcg0").join(dcgOf(approx, "dcg0"), Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg0"), lit(0.0)), 6).as("dcg"),
        round(col("idcg0"), 6).as("idcg"),
        round(when(col("idcg0") === 0.0, 0.0)
          .otherwise(coalesce(col("dcg0"), lit(0.0)) / col("idcg0")), 6)
          .as("ndcg"))
  }

  /** All pairs with cosine ≥ threshold (embedding near-dup), exact.
    *
    * Distributed all-pairs without a nested-loop join: vectors are hashed
    * into `blocks` buckets on `vec_id`; every unordered bucket pair (i ≤ j)
    * becomes one equi-join key, with the left side replicating each vector
    * to the keys where its bucket plays role i and the right side where it
    * plays role j. Each pair of vectors meets on exactly one key, the join
    * is a plain shuffle hash/sort-merge join on that key, and the n²/2 dot
    * products spread evenly over blocks·(blocks+1)/2 partitions — on a
    * cluster, `blocks` scales with the executor count, and neither side is
    * ever broadcast or nested-looped.
    *
    * The cosine value is orientation-invariant (symmetric dot, `na*nb`
    * denominator), so the emitted pair is simply (least id, greatest id)
    * and matches the a.id < b.id SQL twin bit-for-bit. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
      blocks: Int = 16): DataFrame = {
    val base = corpus.select(col("vec_id").as("id"), col("embedding").as("e"),
      norm(col("embedding")).as("nrm"),
      pmod(hash(col("vec_id")), lit(blocks)).as("blk"))
    // Explicit hash repartitioning on the block-pair key: AQE's coalescer
    // sizes partitions by shuffle BYTES, but this stage's work is
    // quadratic in its input — a few MB of vectors is millions of dot
    // products — so byte-based coalescing would collapse the join into
    // one task. A user-specified repartition pins the parallelism.
    val p = corpus.sparkSession.sparkContext.defaultParallelism
    // Role i (left): bucket b covers keys (b, j) for j in b..blocks-1.
    val lhs = base.withColumn("pk",
      explode(transform(sequence(col("blk"), lit(blocks - 1)),
        j => col("blk") * blocks + j)))
      .repartition(p, col("pk"))
    // Role j (right): bucket b covers keys (i, b) for i in 0..b.
    val rhs = base.withColumn("pk",
      explode(transform(sequence(lit(0), col("blk")),
        i => i * blocks + col("blk"))))
      .repartition(p, col("pk"))
    lhs.as("a").join(rhs.as("b"), Seq("pk"))
      // Same-bucket keys see both orientations — keep one; cross-bucket
      // keys see each pair exactly once already.
      .filter(col("a.blk") =!= col("b.blk") || col("a.id") < col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        cosineWithNorms(col("a.e"), col("b.e"),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Deterministic ±1 hyperplane matrix for [[srpNearDup]]: `nBits` rows
    * of `Dim` signs from a seeded java.util.Random (LCG sequence is
    * specified, so plan-time Scala and the SQL-twin generator produce the
    * same matrix on any JVM). */
  def hyperplanes(nBits: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, Dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
  }

  /** SRP signature over the `embedding` column:
    * `sig = Σ_k (h_k·v > 0) << k` for the [[hyperplanes]] matrix —
    * one codegen'd projection, no shuffle. Shared by [[srpNearDup]]
    * and [[graft.operators.Drift.embeddingDrift]]. */
  def srpSignature(nBits: Int, seed: Long): Column = {
    val fT = ArrayType(FloatType, containsNull = true)
    val e = col("embedding").cast(fT)
    hyperplanes(nBits, seed).zipWithIndex.map { case (hk, k) =>
      when(dot(e, typedlit(hk.toSeq).cast(fT)) > 0.0, lit(1L << k))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[srpSignature]] (same plan-time ±1 signs embedded
    * as per-bit signed dot products over an `embedding` column). */
  def srpSignatureSql(nBits: Int, seed: Long): String = {
    val h = hyperplanes(nBits, seed)
    def signedDot(hk: Array[Float]): String = {
      val pos = hk.zipWithIndex.collect { case (v, i) if v > 0 => i + 1 }
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, ${Dim + 1}), i -> " +
        s"CASE WHEN i IN (${pos.mkString(",")}) THEN CAST(embedding[i] AS DOUBLE) " +
        s"ELSE -CAST(embedding[i] AS DOUBLE) END)), (x, y) -> x + y)"
    }
    h.zipWithIndex.map { case (hk, k) =>
      s"(CASE WHEN ${signedDot(hk)} > 0.0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Signed-random-projection LSH near-dup pairs — the sub-quadratic
    * scale path for vector near-dup when the similarity regime is
    * separable (the vector analog of [[Dedup.simhashNearDup]]; the exact
    * path for inseparable regimes is [[nearDupPairs]]).
    *
    * SRP (Charikar, STOC 2002): signature bit k = sign(h_k · v) for a
    * fixed random hyperplane h_k; P(bits agree) = 1 − θ(u,v)/π, so
    * near-parallel vectors collide in whole signature bands and the
    * band-bucket self-join generates candidates without ever comparing
    * all pairs. Candidates are verified with exact cosine ≥ `threshold`,
    * so precision is total; recall is the banding probability
    * `1 − (1 − p^r)^bands`, a deliberate trade documented at the call
    * site (raise `bands`/lower `r` for more recall, more candidates).
    *
    * Scale shape: signatures are `nBits` codegen'd dot products per row
    * (one scan, no shuffle); the only shuffle is the band-bucket
    * equi-join; verification touches candidates only. The hyperplane
    * matrix is a plan-time literal — the SQL twin embeds the same ±1
    * signs, so the whole pipeline replays exactly in the DuckDB oracle. */
  def srpNearDup(corpus: DataFrame, threshold: Double, nBits: Int = 32,
      bands: Int = 4, seed: Long = 7L): DataFrame = {
    require(nBits % bands == 0 && nBits <= 62,
      s"need nBits % bands == 0 and nBits <= 62, got nBits=$nBits bands=$bands")
    val fT = ArrayType(FloatType, containsNull = true)
    val e = col("embedding").cast(fT)
    // Parallelism floor: the signature is nBits (32) 384-dim dot
    // products per row fused into the scan — one file, one task without it.
    val base = graft.engine.Caches.materialized(
      graft.engine.Partitioning.parallelized(corpus)
        .select(col("vec_id").as("id"), e.as("e"),
          norm(col("embedding")).as("nrm"),
          srpSignature(nBits, seed).as("sig")))
    val r = nBits / bands
    val mask = (1L << r) - 1
    val bandArr = array((0 until bands).map(j =>
      shiftright(col("sig"), j * r).bitwiseAND(lit(mask))): _*)
    val banded = base.select(col("id"), posexplode(bandArr))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("e").as("e_a"),
        col("nrm").as("n_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("e").as("e_b"),
        col("nrm").as("n_b")), Seq("id_b"))
      .withColumn("cosine",
        cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SQL twin of [[srpNearDup]] (DuckDB): the same plan-time hyperplane
    * signs embedded as per-bit `CASE i IN (+idx)` dot products, same
    * banding, same exact-cosine verify — a full replay, so the oracle is
    * the construction itself (the q23/q28 pattern). */
  def srpNearDupSql(threshold: Double, nBits: Int = 32, bands: Int = 4,
      seed: Long = 7L, from: String = "embeddings"): String = {
    val sigExpr = srpSignatureSql(nBits, seed)
    val r = nBits / bands
    val mask = (1L << r) - 1
    s"""WITH base AS (
       |  SELECT vec_id AS id, embedding, $sigExpr AS sig FROM $from),
       |banded AS (
       |  SELECT id, j.range AS band_idx, (sig >> (j.range * $r)) & $mask AS band_val
       |  FROM base, range(0, $bands) j),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |      AND a.id < b.id)
       |SELECT id_a, id_b, ${Sql.cosine("ea.embedding", "eb.embedding")} AS cosine
       |FROM cands
       |JOIN base ea ON ea.id = id_a
       |JOIN base eb ON eb.id = id_b
       |WHERE ${Sql.cosine("ea.embedding", "eb.embedding")} >= $threshold""".stripMargin
  }

  /** IVF-style ANN: deterministic centroids (every `centroidStride`-th
    * vector), corpus assigned to nearest centroid once, queries probe the
    * `nProbe` nearest cells only. Returns the same schema as
    * [[bruteForceTopK]]; recall measured in tests and against the DuckDB
    * oracle (centroid choice is deterministic, so the oracle can replay
    * the exact cell assignment).
    *
    * Cell assignment is a broadcast of the tiny centroid set against each
    * vector followed by a `max_by` hash aggregation — partial aggregation
    * runs map-side, so unlike a `row_number` window there is no sort
    * shuffle of the corpus×centroids cross product. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroidStride: Int = 53, nProbe: Int = 3): DataFrame =
    ivfTopKWith(queries, corpus, k,
      corpus.filter(col("vec_id") % centroidStride === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb")),
      nProbe)

  /** [[ivfTopK]] against an explicit centroid table `(cent_id,
    * cent_emb)` — the composition point for trained centroids
    * ([[Clustering.kmeansCentroids]]), which balance cells better than
    * strided samples and so tighten the probe-recall tradeoff. */
  /** Nearest `keep` cells per vector against a broadcast centroid table
    * `(cent_id, cent_emb)`: similarity desc, cent_id asc. keep=1 is a
    * pure max_by; keep>1 collects the (bounded, broadcast-small)
    * centroid set per row and sort-slices it — still one map-side
    * aggregation, no window sort over the cross product. Shared by the
    * IVF probe ([[ivfTopKWith]]) and the IVF-celled near-dup join
    * ([[ivfNearDupPairs]]). */
  private def assignCells(cents: DataFrame)(df: DataFrame, idC: String,
      embC: String, keep: Int): DataFrame = {
    // Parallelism floor: the assignment is |df|x|cents| cosines fused
    // into df's scan stage — a one-file input serializes it on one task
    // (identity at 100 TB where scans are naturally wide).
    val crossed = graft.engine.Partitioning.parallelized(df)
      .join(broadcast(cents), lit(true))
      .withColumn("sim", cosine(col(embC), col("cent_emb")))
    // keep=1 also emits the CHOSEN cell's cosine (`cent_sim` = max sim,
    // which IS the argmax centroid's sim): SemDeDup's keep-rule needs
    // it, and computing it here costs nothing — re-deriving it later
    // would re-broadcast the centroids against the whole corpus.
    if (keep == 1)
      crossed.groupBy(idC).agg(
        first(embC).as(embC),
        max_by(col("cent_id"), struct(col("sim"), -col("cent_id"))).as("cent_id"),
        max(col("sim")).as("cent_sim"))
    else
      crossed.groupBy(idC).agg(
        first(embC).as(embC),
        slice(array_sort(collect_list(struct((-col("sim")).as("ns"),
          col("cent_id")))), 1, keep).as("cells"))
        .select(col(idC), col(embC),
          explode(col("cells").getField("cent_id")).as("cent_id"))
  }

  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
      cents: DataFrame, nProbe: Int): DataFrame = {
    val queryCells = assignCells(cents)(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", nProbe)
    ivfTopKWithProbes(corpus, k, cents,
      queryCells.select("query_id", "q_emb", "cent_id"))
  }

  /** The IVF scoring tail shared by fixed and adaptive probing: join
    * the probe set against the corpus cell assignment, exact cosine on
    * the co-celled candidates, total-ordered top-k. */
  private def ivfTopKWithProbes(corpus: DataFrame, k: Int,
      cents: DataFrame, probes: DataFrame): DataFrame = {
    val corpusCells = assignCells(cents)(
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
      "neighbor_id", "c_emb", 1)
    val scored = corpusCells.join(probes, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Per-query cell RANKING (probe_rank 1..maxProbe by centroid
    * similarity desc, cent_id asc — exactly [[assignCells]]' order,
    * with the rank retained): the shared input of fixed-probe
    * truncation and adaptive spilling. One map-side aggregation per
    * query against the broadcast centroid table, like assignCells. */
  private def rankedQueryCells(queries: DataFrame, cents: DataFrame,
      maxProbe: Int): DataFrame =
    graft.engine.Partitioning.parallelized(
        queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")))
      .join(broadcast(cents), lit(true))
      .withColumn("sim", cosine(col("q_emb"), col("cent_emb")))
      .groupBy("query_id").agg(first("q_emb").as("q_emb"),
        slice(array_sort(collect_list(struct((-col("sim")).as("ns"),
          col("cent_id")))), 1, maxProbe).as("cells"))
      .select(col("query_id"), col("q_emb"),
        posexplode(col("cells")).as(Seq("p", "c")))
      .select(col("query_id"), col("q_emb"),
        (col("p") + 1).cast("int").as("probe_rank"),
        col("c").getField("cent_id").as("cent_id"))

  /** ADAPTIVE multi-probe selection — the production IVF probing rule
    * (Faiss-style): cells are taken in centroid-similarity rank order,
    * and a query SPILLS to its next-ranked cell only while the
    * cumulative population of the cells taken so far is below `k`,
    * capped at `maxProbe` cells. A query landing in a dense first cell
    * pays ONE probe; a query whose nearest cells are sparse keeps
    * spilling until it has at least k real candidates — so no query can
    * be structurally under-filled (candidates < k) the way a fixed
    * nProbe leaves sparse-cell queries, and no probe is spent where the
    * first cell already fills k. Both the ranking and the cell sizes
    * are data-determined, so the rule replays exactly in SQL. The
    * spill test uses RAW cell populations (the query's own vector is
    * not discounted when it co-cells) — the production convention, and
    * the one that keeps the rule a pure join against the cell-size
    * table. Cost: the per-query window runs over ≤ maxProbe rows, never
    * the corpus. */
  def adaptiveProbes(queries: DataFrame, cents: DataFrame,
      cellSizes: DataFrame, k: Int, maxProbe: Int): DataFrame = {
    require(maxProbe >= 1, s"maxProbe must be >= 1, got $maxProbe")
    val ranked = rankedQueryCells(queries, cents, maxProbe)
    val w = Window.partitionBy("query_id").orderBy("probe_rank")
      .rowsBetween(Window.unboundedPreceding, -1)
    ranked.join(broadcast(cellSizes), Seq("cent_id"))
      .withColumn("cum_before", coalesce(sum("cell_n").over(w), lit(0L)))
      .filter(col("cum_before") < k)
      .select("query_id", "q_emb", "cent_id", "probe_rank")
  }

  /** [[ivfTopKWith]] with ADAPTIVE probing ([[adaptiveProbes]]): cell
    * sizes come from the same corpus assignment the scoring tail uses.
    * Same output schema; the probe count per query is data-dependent
    * (1 when the nearest cell already holds k vectors). */
  def ivfTopKWithAdaptive(queries: DataFrame, corpus: DataFrame, k: Int,
      cents: DataFrame, maxProbe: Int): DataFrame = {
    val corpusCells = graft.engine.Caches.materialized(assignCells(cents)(
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")),
      "neighbor_id", "c_emb", 1))
    val sizes = corpusCells.groupBy("cent_id")
      .agg(count(lit(1)).as("cell_n"))
    val probes = adaptiveProbes(queries, cents, sizes, k, maxProbe)
      .select("query_id", "q_emb", "cent_id")
    val scored = corpusCells.join(probes, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Fixed-vs-adaptive PROBE/RECALL comparison over one fixture — the
    * table that justifies (or rejects) a probing policy: one row per
    * method with its TOTAL probe count and the mean/min recall@k
    * against the exact ranking. `min_recall` is the floor a fixed
    * nProbe cannot defend when k exceeds the sparse cells' population
    * (a query whose probed cells hold fewer than k vectors is
    * STRUCTURALLY under-filled — no ranking of its candidates reaches
    * recall 1), and exactly what [[adaptiveProbes]]' spill rule
    * defends at a probe spend that tracks need instead of the worst
    * case. Queries absent from a method's result (no co-celled
    * candidates at all) count as recall 0, never vanish. Bounded
    * output: |fixed| + 1 rows; the heavy frames (truth, corpus cells)
    * are computed once and shared. */
  def probeRecallReport(queries: DataFrame, corpus: DataFrame, k: Int,
      cents: DataFrame, fixed: Seq[Int], maxProbe: Int): DataFrame = {
    require(fixed.nonEmpty, "need at least one fixed-probe baseline")
    val truth = graft.engine.Caches.materialized(
      bruteForceTopK(queries, corpus, k))
    val qids = truth.select("query_id").distinct()
    val corpusCells = graft.engine.Caches.materialized(assignCells(cents)(
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")),
      "neighbor_id", "c_emb", 1))
    val sizes = corpusCells.groupBy("cent_id")
      .agg(count(lit(1)).as("cell_n"))
    def topWith(probes: DataFrame): DataFrame = {
      val scored = corpusCells.join(probes, Seq("cent_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosine(col("q_emb"), col("c_emb")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    }
    def row(method: String, probes: DataFrame): DataFrame = {
      val p = graft.engine.Caches.materialized(
        probes.select("query_id", "q_emb", "cent_id"))
      val rec = qids
        .join(recallAtK(truth, topWith(p), k)
          .select(col("query_id"), col("recall")), Seq("query_id"), "left")
        .select(coalesce(col("recall"), lit(0.0)).as("recall"))
      p.agg(count(lit(1)).cast("long").as("total_probes"))
        .crossJoin(rec.agg(
          graft.engine.Aggregates.avgExact(col("recall")).as("mean_r"),
          min(col("recall")).as("min_r")))
        .select(lit(method).as("method"), col("total_probes"),
          round(col("mean_r"), 6).as("mean_recall"),
          round(col("min_r"), 6).as("min_recall"))
    }
    val fixedRows = fixed.map(n => row(f"fixed_$n%02d",
      rankedQueryCells(queries, cents, n)))
    val adaptiveRow = row("adaptive",
      adaptiveProbes(queries, cents, sizes, k, maxProbe))
    (fixedRows :+ adaptiveRow).reduce(_ unionAll _)
  }

  /** Oracle twin of [[probeRecallReport]] over the q155 fixture
    * (`embeddings`, k-means centroids, queries by `queryPred`): the
    * cell ranking, the spill rule, the per-method top-k, and the
    * recall aggregation all replayed in DuckDB. */
  def probeRecallReportSql(k: Int, fixed: Seq[Int], maxProbe: Int,
      initStride: Long = 53, iters: Int = 2,
      queryPred: String = "vec_id < 10"): String = {
    val maxRank = (fixed :+ maxProbe).max
    def methodCtes(name: String, probeRel: String): String =
      s"""${name}_top AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, c.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id
         |        ORDER BY ${Sql.cosine("q_emb", "c_emb")} DESC,
         |          c.neighbor_id) AS rank
         |    FROM $probeRel p
         |    JOIN corpus_cells c USING (cent_id)
         |    JOIN qs USING (query_id)
         |    WHERE query_id != neighbor_id) t WHERE rank <= $k),
         |${name}_rec AS (
         |  SELECT q.query_id, COALESCE(r.recall, 0.0) AS recall
         |  FROM (SELECT DISTINCT query_id FROM qs) q
         |  LEFT JOIN (SELECT a.query_id,
         |      CAST(COUNT(b.neighbor_id) AS DOUBLE) / $k AS recall
         |    FROM ${name}_top a LEFT JOIN bt b
         |      USING (query_id, neighbor_id)
         |    GROUP BY a.query_id) r USING (query_id))""".stripMargin
    def methodRow(name: String, probeRel: String): String =
      s"""SELECT '$name' AS method,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $probeRel)
         |    AS total_probes,
         |  (SELECT round(${graft.engine.Aggregates.avgExactSql("recall")}, 6)
         |    FROM ${name}_rec) AS mean_recall,
         |  (SELECT round(MIN(recall), 6) FROM ${name}_rec)
         |    AS min_recall""".stripMargin
    val fixedNames = fixed.map(n => (f"fixed_$n%02d", n))
    val perMethodCtes = (fixedNames.map { case (nm, n) =>
      s"""${nm}_probes AS (SELECT query_id, cent_id FROM qrank
         |  WHERE probe_rank <= $n),
         |${methodCtes(nm, s"${nm}_probes")}""".stripMargin
    } :+ s"""adaptive_probes AS (
         |  SELECT query_id, cent_id FROM (
         |    SELECT q.query_id, q.cent_id, q.probe_rank,
         |      COALESCE(SUM(s.cell_n) OVER (PARTITION BY q.query_id
         |        ORDER BY q.probe_rank
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS cum_before
         |    FROM qrank q JOIN cell_sizes s USING (cent_id)
         |    WHERE q.probe_rank <= $maxProbe) t
         |  WHERE cum_before < $k),
         |${methodCtes("adaptive", "adaptive_probes")}""".stripMargin)
      .mkString(",\n")
    val rows = (fixedNames.map { case (nm, _) =>
      methodRow(nm, s"${nm}_probes") } :+
      methodRow("adaptive", "adaptive_probes")).mkString("\nUNION ALL\n")
    s"""WITH ${graft.operators.Clustering.kmeansCentsSql(initStride, iters)},
       |corpus AS (SELECT vec_id AS neighbor_id, embedding AS c_emb
       |  FROM embeddings),
       |qs AS (SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM embeddings WHERE $queryPred),
       |corpus_cells AS (
       |  SELECT neighbor_id, c_emb, cent_id FROM (
       |    SELECT neighbor_id, c_emb, cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY neighbor_id
       |        ORDER BY ${Sql.cosine("c_emb", "cent_emb")} DESC, cent_id)
       |        AS r
       |    FROM corpus CROSS JOIN cents) t WHERE r = 1),
       |cell_sizes AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS cell_n
       |  FROM corpus_cells GROUP BY cent_id),
       |qrank AS (
       |  SELECT query_id, cent_id, probe_rank FROM (
       |    SELECT query_id, cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${Sql.cosine("q_emb", "cent_emb")} DESC, cent_id)
       |        AS probe_rank
       |    FROM qs CROSS JOIN cents) t WHERE probe_rank <= $maxRank),
       |bt AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |        ${Sql.cosine("q_emb", "c_emb")} DESC, neighbor_id) AS rank
       |    FROM corpus JOIN qs ON query_id != neighbor_id) t
       |  WHERE rank <= $k),
       |$perMethodCtes
       |$rows""".stripMargin
  }

  /** [[ivfPqTopKFromIndexAdaptive]]'s probe source: the STORED index's
    * cell populations (one tiny aggregation of the `cells` table). */
  def ivfPqTopKFromIndexAdaptive(queries: DataFrame, corpus: DataFrame,
      dir: String, k: Int, maxProbe: Int, rerank: Int = 4,
      atVersion: Option[Long] = None): DataFrame = {
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val spark = queries.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "IVF-PQ index", "run buildIvfPqIndex first", atVersion)
    val cents = snap.read(spark, "cents")
    val cells = snap.read(spark, "cells")
    val codebook = snap.read(spark, "codebook")
    val codes = snap.read(spark, "codes")
    val sizes = cells.groupBy("cent_id").agg(count(lit(1)).as("cell_n"))
    val queryCells = adaptiveProbes(queries, cents, sizes, k, maxProbe)
      .select("query_id", "cent_id")
    val cands = cells.join(queryCells, Seq("cent_id"))
      .filter(col("query_id") =!= col("nid"))
      .select("query_id", "nid")
    val (m, subDim) = pqShapeOf(codebook)
    requireFullCoverage(m, subDim)
    requireCorpusCoversIndex(corpus, codes, m, dir)
    val pairs = cands
      .join(codes, Seq("nid"))
      .join(queryPqDots(queries, codebook, m, subDim),
        Seq("query_id", "sub_j", "code"))
    rerankExact(rankAdc(pairs, queryNorms(queries), k * rerank),
      queries, corpus, k)
  }

  /** IVF-celled near-dup pairs — the ANN-accelerated membrane between
    * exact [[nearDupPairs]] (all block-pairs, total recall, quadratic in
    * the block grid) and per-query [[ivfTopK]]: assign every vector to
    * its nearest cell once (map-side `max_by`, one corpus scan), then
    * emit only within-cell pairs with cosine ≥ `threshold`.
    *
    * Scale shape: the pair join is a shuffle equi-join on `cent_id`, so
    * pair work is Σ|cell|² instead of |corpus|²/2 — centroid count sets
    * the knob (√n cells ⇒ ~n pairs per cell row); norms are computed
    * once per row before the join, never per pair. Recall is by
    * construction limited to co-celled pairs (the IVF trade); callers
    * needing total recall in an inseparable threshold regime use
    * [[nearDupPairs]]. */
  def ivfNearDupPairs(corpus: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    val cells = assignCells(cents)(
      corpus.select(col("vec_id").as("id"), col("embedding").as("emb")),
      "id", "emb", 1)
      .withColumn("nrm", norm(col("emb")))
    cells.select(col("id").as("id_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a"), col("cent_id"))
      .join(cells.select(col("id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b"), col("cent_id")),
        Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        cosineWithNorms(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540) —
    * semantic deduplication in EMBEDDING space: the dedup tier's answer
    * to paraphrase-level duplicates no lexical fingerprint (MinHash
    * q24, SimHash q25, prefix-Jaccard q43) can see, because the
    * rewritten text shares no shingles with its source.
    *
    *  1. assign every vector to its nearest centroid (one map-side
    *     `max_by` scan — the q28/q110 cell machinery), keeping the
    *     cosine-to-centroid;
    *  2. within-cell pairs with cosine ≥ `threshold` (pair work is
    *     Σ|cell|², never |corpus|²/2 — the paper's whole scaling
    *     argument: duplicates are near-parallel, so co-celled);
    *  3. connected components over those pairs (pointer-doubling,
    *     [[Dedup.dedupClusters]] — O(log diameter) rounds);
    *  4. per component keep exactly ONE representative — the member
    *     LEAST similar to its cell centroid (the paper's keep rule:
    *     the low-centroid-similarity member is the informative one),
    *     ties by lowest id.
    *
    * Returns the SURVIVING corpus `(vec_id, cent_id)`: vectors in no
    * dup component pass through; each component contributes its one
    * representative. Fully SQL-replayable (cell assignment, exact
    * cosines, recursive-CTE components, window argmin). Scale shape:
    * one corpus scan for assignment (materialized, feeds pairs AND the
    * centroid-similarity projection), a cell-keyed equi-join for
    * pairs, CC over dup members only (bounded by the dup rate), and
    * anti/semi joins to emit — the corpus never all-pairs joins and
    * never sorts globally. */
  def semDeDup(corpus: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = graft.engine.Caches.materialized(
      assignCells(cents)(
          corpus.select(col("vec_id").as("id"), col("embedding").as("emb")),
          "id", "emb", 1)
        .withColumn("nrm", norm(col("emb"))))
    val pairs = assigned.select(col("id").as("id_a"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a"), col("cent_id"))
      .join(assigned.select(col("id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b"), col("cent_id")), Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineWithNorms(col("emb_a"), col("emb_b"),
        col("nrm_a"), col("nrm_b")) >= threshold)
      .select("id_a", "id_b")
    val clusters = Dedup.dedupClusters(pairs)
    // The assignment scan already carries each vector's chosen-cell
    // cosine (`cent_sim`) — no re-join against the centroids needed.
    val base = assigned.select("id", "cent_id", "cent_sim")
    val reps = clusters.join(base, Seq("id"))
      .groupBy("cluster_id")
      .agg(min_by(col("id"), struct(col("cent_sim"), col("id"))).as("id"))
      .select("id")
    base
      .join(clusters.select("id"), Seq("id"), "left_anti")
      .select("id", "cent_id")
      .unionByName(
        base.join(reps, Seq("id"), "left_semi").select("id", "cent_id"))
      .select(col("id").as("vec_id"), col("cent_id"))
  }

  /** Oracle twin of [[semDeDup]] over `embeddings` with strided
    * centroids (`vec_id % centStride = 0`) — cell assignment, exact
    * within-cell pairs, recursive-CTE connected components (the q37
    * pattern), window argmin representative. */
  def semDeDupSql(threshold: Double, centStride: Long): String =
    s"""WITH RECURSIVE
       |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |          FROM embeddings WHERE vec_id % $centStride = 0),
       |cc AS (
       |  SELECT vec_id, embedding, cent_id, sim FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      ${Sql.cosine("e.embedding", "c.cent_emb")} AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${Sql.cosine("e.embedding", "c.cent_emb")} DESC,
       |          c.cent_id) AS r
       |    FROM embeddings e CROSS JOIN cents c) t WHERE r = 1),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cc a JOIN cc b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  WHERE ${Sql.cosine("a.embedding", "b.embedding")} >= $threshold),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
       |clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |reps AS (
       |  SELECT id FROM (
       |    SELECT c.id, ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |        ORDER BY cc.sim ASC, c.id ASC) AS rr
       |    FROM clusters c JOIN cc ON cc.vec_id = c.id) t WHERE rr = 1)
       |SELECT vec_id, cent_id FROM cc
       |WHERE vec_id NOT IN (SELECT id FROM clusters)
       |   OR vec_id IN (SELECT id FROM reps)
       |ORDER BY vec_id""".stripMargin

  /** Semantic DECONTAMINATION — the embedding-space member of the
    * decontamination family: drop every training vector whose
    * embedding is near-parallel (cosine ≥ `threshold`) to ANY held-out
    * evaluation vector. The lexical members (q95 exact n-grams,
    * q153/q162 span excision) cannot see a PARAPHRASED eval answer —
    * it shares no grams with its source but keeps its direction; this
    * is the [[semDeDup]] observation pointed at benchmark leakage
    * instead of duplication.
    *
    * Scale shape: both sides assign to the same centroid cells (one
    * map-side `max_by` scan each), candidates are within-cell
    * NEW × REF pairs — Σ|cell_new|·|cell_ref|, never |new|·|ref| — and
    * each contaminated id emits its single best match (max cosine,
    * ties to the lowest ref id). Returns the DROP LIST
    * `(vec_id, ref_id, cosine)`; survivors = anti-join on it. Raw
    * cosine doubles are cross-engine exact (the q26 contract), so the
    * argmax needs no rounding. */
  def semanticDecontam(newV: DataFrame, refV: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    def side(df: DataFrame): DataFrame =
      assignCells(cents)(
          df.select(col("vec_id").as("id"), col("embedding").as("emb")),
          "id", "emb", 1)
        .withColumn("nrm", norm(col("emb")))
    val an = graft.engine.Caches.materialized(side(newV))
    val ar = graft.engine.Caches.materialized(side(refV))
    an.select(col("id").as("new_id"), col("emb").as("emb_a"),
        col("nrm").as("nrm_a"), col("cent_id"))
      .join(ar.select(col("id").as("ref_id"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b"), col("cent_id")), Seq("cent_id"))
      .withColumn("cosine", cosineWithNorms(col("emb_a"), col("emb_b"),
        col("nrm_a"), col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("new_id"))
      .agg(max(struct(col("cosine"), (-col("ref_id")).as("neg_ref"))).as("m"))
      .select(col("new_id").as("vec_id"), (-col("m.neg_ref")).as("ref_id"),
        col("m.cosine").as("cosine"))
  }

  /** Oracle twin of [[semanticDecontam]] over `embeddings`: new side
    * `newPred`, eval side `refPred`, centroids = the ref side strided. */
  def semanticDecontamSql(threshold: Double, centStride: Long,
      newPred: String, refPred: String): String = {
    def assign(name: String, pred: String): String =
      s"""$name AS (
         |  SELECT vec_id, embedding, cent_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Sql.cosine("e.embedding", "c.cent_emb")} DESC,
         |          c.cent_id) AS r
         |    FROM embeddings e CROSS JOIN cents c
         |    WHERE $pred) t WHERE r = 1)""".stripMargin
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |          FROM embeddings
       |          WHERE ($refPred) AND vec_id % $centStride = 0),
       |${assign("an", newPred)},
       |${assign("ar", refPred)},
       |cand AS (
       |  SELECT a.vec_id AS new_id, b.vec_id AS ref_id,
       |    ${Sql.cosine("a.embedding", "b.embedding")} AS cosine
       |  FROM an a JOIN ar b ON a.cent_id = b.cent_id)
       |SELECT new_id AS vec_id, ref_id, cosine FROM (
       |  SELECT new_id, ref_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY new_id
       |      ORDER BY cosine DESC, ref_id ASC) AS r
       |  FROM cand WHERE cosine >= $threshold) t
       |WHERE r = 1 ORDER BY vec_id""".stripMargin
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) — the MEMORY-bound ANN regime
    * beside cell-probe IVF (q28): the corpus is stored as `m` small
    * per-subspace codes (here m codebook ids per vector instead of
    * `Dim` floats), and query scoring is Asymmetric Distance
    * Computation — the query precomputes its dot product against every
    * centroid of every subspace ONCE (an m×k lookup table), and a
    * corpus vector's approximate dot is just the sum of m table
    * lookups, never touching the original floats.
    *
    * Construction, all deterministic and SQL-replayable:
    *  - codebooks: [[Clustering.kmeansCentroids]] per subspace slice
    *    (stride init, fixed iters, exact-decimal means) — m·k·subDim
    *    floats of driver state, broadcast;
    *  - encode: argmax-cosine code per (vector, subspace) — one
    *    map-side `max_by` agg over the broadcast codebook, the q28
    *    assignment machinery per subspace;
    *  - ADC: codes ⋈ query-dot-table on (subspace, code) — a shuffle
    *    equi-join producing exactly m rows per (query, neighbor) —
    *    summed with an exact DECIMAL(28,12) accumulator (a plain double
    *    sum would vary with the m rows' arrival order), top-k per query.
    *
    * Scale shape: the corpus is scanned once for encoding and never
    * again per query; stored ANN state is m codes/vector (16× smaller
    * than float32 at m=4, Dim=64); ADC work is (queries × m × k) table
    * rows joined against (corpus × m) code rows — no full-dimension
    * arithmetic per pair. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int,
      subDim: Int, initStride: Long, iters: Int,
      maxCodebook: Long = 128, rerank: Int = 4): DataFrame = {
    requireFullCoverage(m, subDim)
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val (codes, dots, qnorms) =
      pqParts(queries, corpus, m, subDim, initStride, iters, maxCodebook)
    // All-pairs ADC: every (query, corpus) pair meets on its (subspace,
    // code) table rows.
    val pairs = codes.join(dots, Seq("sub_j", "code"))
      .filter(col("query_id") =!= col("nid"))
    rerankExact(rankAdc(pairs, qnorms, k * rerank), queries, corpus, k)
  }

  /** The standard IVFPQ re-rank: the quantized ADC scores SELECT the
    * top `R = rerank·k` candidates, then exact full-dimension cosines
    * from the ORIGINAL vectors order the final top-k — recovering most
    * of the recall the codebook quantization loses, at the cost of R
    * exact dots per query instead of |corpus| (the whole point of PQ).
    * The emitted `approx_cosine` is therefore the exact cosine of each
    * returned pair; "approx" refers to the index-level guarantee (a
    * true neighbor absent from the ADC top-R stays lost). Scale shape:
    * the candidate list is |queries|·R rows and broadcasts against the
    * corpus scan — the corpus is touched once more, never shuffled. */
  private def rerankExact(adcTop: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val qe = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val cands = adcTop.select("query_id", "neighbor_id").join(qe, Seq("query_id"))
    val exact = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .withColumn("approx_cosine", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_cosine").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "approx_cosine", "rank")
  }

  /** The PQ subspaces must tile the WHOLE embedding: `qnorms` runs
    * [[norm]] over the full vector (the native kernel ignores its dim
    * argument) while the SQL twin's norm covers only the first
    * `m*subDim` elements — with partial coverage the two silently
    * diverge instead of erroring. Fail loudly at plan time. */
  private def requireFullCoverage(m: Int, subDim: Int): Unit =
    require(m * subDim == Dim,
      s"PQ subspaces must cover the full embedding: m=$m × subDim=$subDim" +
        s" != Dim=$Dim (partial coverage silently diverges from the oracle)")

  /** The per-subspace slice explosion shared by training, encoding and
    * query ADC: one row per (vector, subspace) with the subDim-wide
    * slice. ONE scan + posexplode of the m slices — the previous m-way
    * `unionByName` planned m separate scans of the input (m=16 full
    * corpus reads per training/encode/append pass; measured 16 scan
    * legs in the q117/q121 plans). Row content is identical: `pos` is
    * exactly the old `lit(j)` subspace ordinal, and every consumer
    * aggregates or joins (order-insensitive), so results are bit-equal
    * while the corpus is read once. */
  private def subVectors(df: DataFrame, idOut: String, m: Int,
      subDim: Int): DataFrame = {
    // Partition floor (the Dedup.parallelized rationale): one scan of a
    // few-file corpus is one task, and the exploded frame inherits that
    // single partition — the m-way union accidentally provided m scan
    // partitions, so without this floor every downstream trainer/encode
    // pass serializes (measured: q117 6.4 s → 21 s). Repartition the
    // UN-exploded rows (m× fewer) only when the file count is below the
    // core count; at 100 TB the file count dwarfs cores and this is the
    // identity.
    val p = df.sparkSession.sparkContext.defaultParallelism
    val src = if (df.inputFiles.length < p) df.repartition(p) else df
    // Slice FIRST, explode the m pre-sliced subvectors: only the
    // subDim-wide slices flow through the generate (the alternative —
    // explode ordinals, slice after — copies the full embedding into
    // every exploded row, m× the bytes).
    src.select(col("vec_id").as(idOut),
        posexplode(array((0 until m).map(j =>
          slice(col("embedding"), j * subDim + 1, subDim)): _*)))
      .toDF(idOut, "sub_j", "sub_emb")
  }

  /** Encode the corpus against a codebook, carrying the assigned
    * centroid's self-dot: the reconstructed vector's squared norm is
    * the sum of its codes' `dot(c,c)` (subspaces are orthogonal
    * coordinate blocks), so the metric can be approximate COSINE —
    * ranking by raw approximate dot against a cosine ground truth
    * collapses when corpus norms vary. One map-side `max_by` agg over
    * the broadcast codebook per subspace. */
  private def encodePqCodes(corpusSubs: DataFrame, codebook: DataFrame,
      subDim: Int): DataFrame =
    corpusSubs.withColumnRenamed("vec_id", "nid")
      .join(broadcast(codebook), Seq("sub_j"))
      .withColumn("sim", cosine(col("sub_emb"), col("cent_emb"), subDim))
      .groupBy("nid", "sub_j")
      .agg(
        max_by(col("cent_id"), struct(col("sim"), -col("cent_id")))
          .as("code"),
        max_by(dot(col("cent_emb"), col("cent_emb"), subDim),
          struct(col("sim"), -col("cent_id"))).as("dd"))

  /** The query-side ADC lookup table: every (query, subspace, centroid)
    * dot product — |queries|·m·k rows, the table ADC scoring joins
    * against. */
  private def queryPqDots(queries: DataFrame, codebook: DataFrame, m: Int,
      subDim: Int): DataFrame =
    subVectors(queries, "query_id", m, subDim)
      .join(broadcast(codebook), Seq("sub_j"))
      .select(col("query_id"), col("sub_j"), col("cent_id").as("code"),
        dot(col("sub_emb"), col("cent_emb"), subDim).as("d"))

  private def queryNorms(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"),
      norm(col("embedding")).as("qn"))

  /** The shared PQ machinery: trained codebooks → corpus codes (+ the
    * assigned centroid self-dots), the query ADC dot table, and query
    * norms. Returns `(codes(nid, sub_j, code, dd), dots(query_id, sub_j,
    * code, d), qnorms(query_id, qn))` for [[pqTopK]] (all-pairs ADC) and
    * [[ivfPqTopK]] (candidate-restricted ADC). */
  private def pqParts(queries: DataFrame, corpus: DataFrame, m: Int,
      subDim: Int, initStride: Long, iters: Int, maxCodebook: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    // Per-subspace codebooks trained JOINTLY — one distributed pass per
    // Lloyd round for all m subspaces ([[Clustering.kmeansCentroidsGrouped]]),
    // not m driver loops. cent_id is the seed vector's id, unique only
    // within a subspace — every downstream join keys on (sub_j, id).
    // maxCodebook caps k per subspace: PQ's whole scale contract is a
    // FIXED codebook (encode O(n·m·k)); uncapped stride init grows k
    // with the corpus and the encode pass goes quadratic.
    // The exploded (vector × subspace) frame feeds BOTH the trainer and
    // the encode pass; materialized once so the m-way union of corpus
    // scans happens one time, not once per consumer.
    val corpusSubs = graft.engine.Caches.materialized(
      subVectors(corpus, "vec_id", m, subDim))
    val codebook = Clustering.kmeansCentroidsGrouped(
      corpusSubs, "sub_j", "vec_id", "sub_emb",
      initStride, iters, subDim, maxCodebook)
    (encodePqCodes(corpusSubs, codebook, subDim),
      queryPqDots(queries, codebook, m, subDim),
      queryNorms(queries))
  }

  // --------------------------------------------------- persisted index

  /** Train the PQ tables for `corpus` into one segment: `codebook`
    * (written first, READ BACK, and used to encode) + `codes` — the
    * stored index is self-consistent by construction. Shared by the
    * PQ and IVF-PQ builds. */
  private def writePqSegment(corpus: DataFrame,
      seg: graft.engine.Manifests.Segment, m: Int, subDim: Int,
      initStride: Long, iters: Int, maxCodebook: Long): Unit = {
    val corpusSubs = graft.engine.Caches.materialized(
      subVectors(corpus, "vec_id", m, subDim))
    seg.write("codebook", Clustering.kmeansCentroidsGrouped(
      corpusSubs, "sub_j", "vec_id", "sub_emb",
      initStride, iters, subDim, maxCodebook))
    val storedCodebook =
      corpus.sparkSession.read.parquet(seg.path("codebook"))
    seg.write("codes", encodePqCodes(corpusSubs, storedCodebook, subDim))
  }

  /** Build-once PQ index persistence — the production 100 TB shape:
    * training runs ONCE and every query amortizes it, instead of
    * re-training per call the way the self-contained [[pqTopK]] does.
    * Writes two parquet tables under `dir`:
    *
    *   - `codebook` — (sub_j, cent_id, cent_emb): m·k·subDim floats,
    *     the broadcast side of every encode/ADC join;
    *   - `codes`    — (nid, sub_j, code, dd): m small codes per corpus
    *     vector (the 16×-compressed stored representation ADC scores
    *     from) plus the assigned centroid self-dot.
    *
    * The codes are encoded from the WRITTEN codebook (read back), so
    * the stored index is self-consistent by construction, and float32
    * parquet round-trips are exact — [[pqTopKFromIndex]] over this
    * index is bit-equal to the train-inline [[pqTopK]] with the same
    * parameters (asserted in SimilaritySpec; the oracle replay of the
    * inline twin is therefore also this index's oracle). One atomic
    * manifest commit; [[graft.engine.Manifests.exists]] gates
    * build-once reuse. */
  def buildPqIndex(corpus: DataFrame, dir: String, m: Int, subDim: Int,
      initStride: Long, iters: Int, maxCodebook: Long = 128): Unit = {
    requireFullCoverage(m, subDim)
    graft.engine.Manifests.build(corpus.sparkSession, dir)(
      writePqSegment(corpus, _, m, subDim, initStride, iters, maxCodebook))
  }

  /** [[buildPqIndex]] plus the IVF layer: the coarse cell centroids and
    * the corpus→cell assignment are ALSO part of the stored state —
    *
    *   - `cents` — (cent_id, cent_emb): trained coarse centroids;
    *   - `cells` — (nid, cent_id): each corpus vector's one cell.
    *
    * At scale this quadruple (cents, cells, codebook, codes) IS the
    * billion-vector index: per stored vector one cell id + m codes;
    * the original floats are only touched by the exact re-rank tail. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, cellStride: Long,
      cellIters: Int, m: Int, subDim: Int, pqStride: Long, pqIters: Int,
      maxCodebook: Long = 128): Unit = {
    requireFullCoverage(m, subDim)
    val spark = corpus.sparkSession
    graft.engine.Manifests.build(spark, dir) { seg =>
      seg.write("cents", Clustering.kmeansCentroids(corpus, "vec_id",
        "embedding", cellStride, cellIters))
      val storedCents = spark.read.parquet(seg.path("cents"))
      seg.write("cells", assignCells(storedCents)(
          corpus.select(col("vec_id").as("nid"), col("embedding").as("c_emb")),
          "nid", "c_emb", 1)
        .select("nid", "cent_id"))
      writePqSegment(corpus, seg, m, subDim, pqStride, pqIters, maxCodebook)
    }
  }

  /** Index MAINTENANCE: encode `newVectors` against the FROZEN stored
    * codebook and append their codes — new data becomes searchable
    * without retraining, the other half of the train-once contract
    * (real corpora grow daily; retraining per ingest batch is exactly
    * the cost [[buildPqIndex]] exists to amortize). The codebook is
    * read back from the index, so appended codes are definitionally
    * consistent with the stored ones; encode cost is O(|new|·m·k),
    * independent of the existing index size — the codes table is never
    * read, only appended to.
    *
    * Contract: `newVectors` ids must be disjoint from the indexed ids
    * (an id appearing twice would be scored twice — this helper never
    * scans the existing codes to check, by design). The commit is one
    * new O(|new|) segment published atomically; a crashed unpublished
    * segment is invisible and overwritten by the retry. */
  def appendToPqIndex(newVectors: DataFrame, dir: String): Unit = {
    val spark = newVectors.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "PQ index", "append needs a finished build")
    // Appending codes-only into an IVF-PQ index would leave the new
    // vectors cell-less: the index LOOKS complete, but the candidate
    // join silently never surfaces them. Fail loudly on the layer
    // mismatch instead.
    require(!snap.tables.contains("cents"),
      s"$dir holds an IVF layer (cents) — use appendToIvfPqIndex, or " +
        "appended vectors get codes but no cell and stay unsearchable")
    val codebook = snap.read(spark, "codebook")
    val (m, subDim) = pqShapeOf(codebook)
    graft.engine.Manifests.append(spark, dir)(_.write("codes",
      encodePqCodes(subVectors(newVectors, "vec_id", m, subDim),
        codebook, subDim)))
  }

  /** [[appendToPqIndex]] for an IVF-PQ index: new vectors additionally
    * get a cell assignment against the FROZEN stored centroids — one
    * segment carrying BOTH the new cells and the new codes, published
    * atomically (there is no crash window where one table landed and
    * the other didn't). Same disjoint-ids contract. */
  def appendToIvfPqIndex(newVectors: DataFrame, dir: String): Unit = {
    val spark = newVectors.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "IVF-PQ index", "append needs a finished build")
    require(snap.tables.contains("cents"),
      s"$dir holds no IVF layer (cents) — use appendToPqIndex")
    val cents = snap.read(spark, "cents")
    val codebook = snap.read(spark, "codebook")
    val (m, subDim) = pqShapeOf(codebook)
    graft.engine.Manifests.append(spark, dir) { seg =>
      seg.write("cells", assignCells(cents)(
          newVectors.select(col("vec_id").as("nid"),
            col("embedding").as("c_emb")),
          "nid", "c_emb", 1)
        .select("nid", "cent_id"))
      seg.write("codes", encodePqCodes(
        subVectors(newVectors, "vec_id", m, subDim), codebook, subDim))
    }
  }

  /** [[appendToIvfPqIndex]] made REPLAY-SAFE for at-least-once callers
    * (the streaming ingest loop, [[graft.streaming.AnnIngest]]): the
    * batch anti-joins against the snapshot's indexed ids, so re-running
    * the same append is a no-op (skipped without publishing) — ONE
    * check now, not the old per-table pair, because the cells+codes
    * segment publishes atomically (a crash cannot leave `cells` ahead
    * of `codes`; an unpublished orphan is invisible and overwritten by
    * the retry). A double-coded vector would be ADC-scored once per
    * copy and silently surface twice — the guard costs one
    * column-pruned id scan. Same disjoint-ids-across-DIFFERENT-content
    * contract as the plain append. */
  def appendToIvfPqIndexReplaySafe(newVectors: DataFrame,
      dir: String): Unit = {
    val spark = newVectors.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "IVF-PQ index", "append needs a finished build")
    require(snap.tables.contains("cents"),
      s"$dir holds no IVF layer (cents) — use appendToPqIndex")
    // The truncation barrier's count answers the novelty check, so a
    // micro-batch pays no second driver action for it.
    val (novel, nNovel) = graft.engine.Caches.truncated(
      newVectors.select(col("vec_id"), col("embedding"))
        .join(snap.read(spark, "cells").select(col("nid").as("vec_id")),
          Seq("vec_id"), "left_anti"))
    if (nNovel > 0) appendToIvfPqIndex(novel, dir)
  }

  /** (m, subDim) of a stored codebook — derived from the index itself
    * (max sub_j + 1, slice width), two ints of driver state, so query
    * callers cannot drift from what was actually built. */
  private def pqShapeOf(codebook: DataFrame): (Int, Int) = {
    val r = codebook.agg(max(col("sub_j")), max(size(col("cent_emb")))).head()
    (r.getInt(0) + 1, r.getInt(1))
  }

  /** CONTRACT: `corpus` must contain every vector the stored index
    * codes (same id space — normally the very table the index was
    * built/appended from). The exact re-rank inner-joins candidates
    * against `corpus`, so an id indexed but absent from the passed
    * corpus would silently VANISH from results instead of erroring.
    * Guarded cheaply here: corpus row count must be ≥ indexed-vector
    * count (codes rows / m) — catches the realistic mistake (a
    * filtered/truncated corpus) with two metadata-served counts; a
    * same-size corpus with DIFFERENT ids is still on the caller (an
    * exact id-set anti-join per query call would cost more than the
    * query). */
  private def requireCorpusCoversIndex(corpus: DataFrame, codes: DataFrame,
      m: Int, dir: String): Unit = {
    val nIndexed = codes.count() / m
    val nCorpus = corpus.count()
    require(nCorpus >= nIndexed,
      s"corpus has $nCorpus rows but the index at $dir codes $nIndexed " +
        "vectors — indexed ids missing from the corpus would be silently " +
        "dropped by the exact re-rank; pass the table the index was built from")
  }

  /** Query a persisted PQ index: reads `codebook` + `codes` from `dir`
    * (built once by [[buildPqIndex]]), computes the query ADC table
    * against the stored codebook, scores the stored codes, exact
    * re-ranks from `corpus` (which must cover the index —
    * [[requireCorpusCoversIndex]]). NO training happens here — the
    * per-call cost is |queries|·m·k lookup rows joined against
    * |corpus|·m code rows plus the re-rank tail; the corpus floats are
    * scanned once by the re-rank and never shuffled. Bit-equal to
    * [[pqTopK]] with the index's build parameters. */
  def pqTopKFromIndex(queries: DataFrame, corpus: DataFrame, dir: String,
      k: Int, rerank: Int = 4, atVersion: Option[Long] = None): DataFrame = {
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val spark = queries.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "PQ index", "run buildPqIndex first", atVersion)
    val codebook = snap.read(spark, "codebook")
    val codes = snap.read(spark, "codes")
    val (m, subDim) = pqShapeOf(codebook)
    requireFullCoverage(m, subDim)
    requireCorpusCoversIndex(corpus, codes, m, dir)
    val pairs = codes
      .join(queryPqDots(queries, codebook, m, subDim), Seq("sub_j", "code"))
      .filter(col("query_id") =!= col("nid"))
    rerankExact(rankAdc(pairs, queryNorms(queries), k * rerank),
      queries, corpus, k)
  }

  /** Query a persisted IVF-PQ index ([[buildIvfPqIndex]]): queries
    * probe their `nProbe` nearest STORED cells, only co-celled
    * candidates are ADC-scored from the stored codes, exact re-rank
    * from `corpus` (which must cover the index —
    * [[requireCorpusCoversIndex]]). Bit-equal to [[ivfPqTopK]] with
    * the index's build parameters. */
  def ivfPqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
      dir: String, k: Int, nProbe: Int, rerank: Int = 4,
      atVersion: Option[Long] = None): DataFrame = {
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val spark = queries.sparkSession
    // ONE snapshot resolution: all four tables come from the same
    // immutable published version.
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "IVF-PQ index", "run buildIvfPqIndex first", atVersion)
    val cents = snap.read(spark, "cents")
    val cells = snap.read(spark, "cells")
    val codebook = snap.read(spark, "codebook")
    val codes = snap.read(spark, "codes")
    val queryCells = assignCells(cents)(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", nProbe).select("query_id", "cent_id")
    val cands = cells.join(queryCells, Seq("cent_id"))
      .filter(col("query_id") =!= col("nid"))
      .select("query_id", "nid")
    val (m, subDim) = pqShapeOf(codebook)
    requireFullCoverage(m, subDim)
    requireCorpusCoversIndex(corpus, codes, m, dir)
    val pairs = cands
      .join(codes, Seq("nid"))
      .join(queryPqDots(queries, codebook, m, subDim),
        Seq("query_id", "sub_j", "code"))
    rerankExact(rankAdc(pairs, queryNorms(queries), k * rerank),
      queries, corpus, k)
  }

  /** ADC scoring + top-k: exact-decimal per-pair sums of the m lookup
    * rows, approximate cosine via the reconstructed norm, total-ordered
    * window cut. `pairs` must carry (query_id, nid, d, dd). */
  private def rankAdc(pairs: DataFrame, qnorms: DataFrame,
      k: Int): DataFrame = {
    val scored = pairs
      .groupBy("query_id", "nid")
      .agg(graft.engine.Aggregates.sumExact(col("d"), 12).as("ad"),
        graft.engine.Aggregates.sumExact(col("dd"), 12).as("rn2"))
      .join(broadcast(qnorms), Seq("query_id"))
      .withColumn("approx_cosine",
        when(col("qn") === 0.0 || col("rn2") <= 0.0, 0.0)
          .otherwise(col("ad") / (col("qn") * sqrt(col("rn2")))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nid").as("neighbor_id"),
        col("approx_cosine"), col("rank"))
  }

  /** IVF-PQ composite ANN — the production architecture (coarse cells
    * for CANDIDATE SELECTION, PQ codes for SCORING): queries probe their
    * `nProbe` nearest trained cells, and only the co-celled candidates
    * are ADC-scored from the m-code representation. At scale this is
    * the pairing that makes billion-vector search tractable — the cell
    * probe cuts candidates to nProbe/k_cells of the corpus, and scoring
    * each survivor costs m table lookups instead of a full-dimension
    * dot product; the corpus's stored state is one cell id + m codes
    * per vector. Both stages reuse their standalone machinery
    * ([[ivfTopKWith]]'s assignment, [[pqTopK]]'s parts), and the whole
    * pipeline — two trainings included — replays in SQL. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      cellStride: Long, cellIters: Int, nProbe: Int,
      m: Int, subDim: Int, pqStride: Long, pqIters: Int,
      maxCodebook: Long = 128, rerank: Int = 4): DataFrame = {
    requireFullCoverage(m, subDim)
    require(rerank >= 1, s"rerank factor must be >= 1, got $rerank")
    val cents = Clustering.kmeansCentroids(corpus, "vec_id", "embedding",
      cellStride, cellIters)
    val assign = assignCells(cents) _
    val corpusCells = assign(
      corpus.select(col("vec_id").as("nid"), col("embedding").as("c_emb")),
      "nid", "c_emb", 1).select("nid", "cent_id")
    val queryCells = assign(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", nProbe).select("query_id", "cent_id")
    // (query, nid) candidate pairs are structurally unique: each corpus
    // vector lives in exactly one cell (keep=1).
    val cands = corpusCells.join(queryCells, Seq("cent_id"))
      .filter(col("query_id") =!= col("nid"))
      .select("query_id", "nid")
    val (codes, dots, qnorms) =
      pqParts(queries, corpus, m, subDim, pqStride, pqIters, maxCodebook)
    val pairs = cands
      .join(codes, Seq("nid"))
      .join(dots, Seq("query_id", "sub_j", "code"))
    rerankExact(rankAdc(pairs, qnorms, k * rerank), queries, corpus, k)
  }

  /** Oracle twin of [[pqTopK]] (`embeddings` hard-wired, queries =
    * `vec_id < 10` — the q28 convention). */
  /** The shared PQ CTE fragment (chains, codebook, subs, codes, qsubs,
    * dots, qnorms) — spliced into [[pqTopKSql]] and [[ivfPqTopKSql]].
    * `trainPred` restricts the TRAINING corpus only (the frozen-codebook
    * append replay: codebooks from the base slice, codes for everyone);
    * encode/query CTEs always cover the full table. */
  private def pqCtesSql(m: Int, subDim: Int, initStride: Long,
      iters: Int, maxCodebook: Long, trainPred: String = "TRUE"): String = {
    def sub(j: Int) = s"embedding[${j * subDim + 1}:${(j + 1) * subDim}]"
    val chains = (0 until m).map { j =>
      Clustering.kmeansCentsSql(initStride, iters,
        from = s"(SELECT vec_id, ${sub(j)} AS emb FROM embeddings" +
          s" WHERE $trainPred)",
        idCol = "vec_id", embCol = "emb", prefix = s"s${j}_", dim = subDim,
        initCap = maxCodebook)
    }.mkString(",\n")
    val cbUnion = (0 until m).map(j =>
      s"SELECT $j AS sub_j, cent_id, cent_emb FROM s${j}_cents")
      .mkString(" UNION ALL ")
    val subsUnion = (0 until m).map(j =>
      s"SELECT vec_id, $j AS sub_j, ${sub(j)} AS sub_emb FROM embeddings")
      .mkString(" UNION ALL ")
    s"""$chains,
       |codebook AS ($cbUnion),
       |subs AS ($subsUnion),
       |codes AS (
       |  SELECT vec_id AS nid, sub_j, cent_id AS code, dd FROM (
       |    SELECT s.vec_id, s.sub_j, c.cent_id,
       |      ${Sql.dotDim("c.cent_emb", "c.cent_emb", subDim)} AS dd,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_j
       |        ORDER BY ${Sql.cosineDim("s.sub_emb", "c.cent_emb", subDim)} DESC,
       |          c.cent_id) AS r
       |    FROM subs s JOIN codebook c USING (sub_j)) t WHERE r = 1),
       |qsubs AS (SELECT vec_id AS query_id, sub_j, sub_emb FROM subs
       |          WHERE vec_id < 10),
       |dots AS (
       |  SELECT query_id, q.sub_j, cent_id AS code,
       |    ${Sql.dotDim("q.sub_emb", "c.cent_emb", subDim)} AS d
       |  FROM qsubs q JOIN codebook c USING (sub_j)),
       |qnorms AS (SELECT vec_id AS query_id,
       |    sqrt(${Sql.dotDim("embedding", "embedding", m * subDim)}) AS qn
       |  FROM embeddings WHERE vec_id < 10)""".stripMargin
  }

  /** The shared ADC-score + exact-re-rank tail over a
    * `scored(query_id, nid, ad, rn2)` CTE already present in scope —
    * the SQL replay of [[rankAdc]] feeding [[rerankExact]]: ADC picks
    * the top `rerank·k`, exact full-dimension cosines from `embeddings`
    * order the final k. */
  private def rankAdcSql(k: Int, rerank: Int): String =
    s"""cosed AS (
       |  SELECT query_id, nid,
       |    CASE WHEN qn = 0.0 OR rn2 <= 0.0 THEN 0.0
       |         ELSE ad / (qn * sqrt(rn2)) END AS adc_cosine
       |  FROM scored JOIN qnorms USING (query_id)),
       |adc_top AS (
       |  SELECT query_id, nid
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_cosine DESC, nid) AS arank FROM cosed) t
       |  WHERE arank <= ${k * rerank}),
       |reranked AS (
       |  SELECT a.query_id, a.nid,
       |    ${Sql.cosine("qe.embedding", "ne.embedding")} AS approx_cosine
       |  FROM adc_top a
       |  JOIN embeddings qe ON qe.vec_id = a.query_id
       |  JOIN embeddings ne ON ne.vec_id = a.nid)
       |SELECT query_id, nid AS neighbor_id, approx_cosine,
       |  CAST(rank AS INTEGER) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY approx_cosine DESC, nid) AS rank FROM reranked) t
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def pqTopKSql(k: Int, m: Int, subDim: Int, initStride: Long,
      iters: Int, maxCodebook: Long = 128, rerank: Int = 4,
      trainPred: String = "TRUE"): String =
    s"""WITH
       |${pqCtesSql(m, subDim, initStride, iters, maxCodebook, trainPred)},
       |scored AS (
       |  SELECT query_id, nid,
       |    CAST(SUM(CAST(d AS DECIMAL(28,12))) AS DOUBLE) AS ad,
       |    CAST(SUM(CAST(dd AS DECIMAL(28,12))) AS DOUBLE) AS rn2
       |  FROM codes JOIN dots USING (sub_j, code)
       |  WHERE query_id != nid GROUP BY 1, 2),
       |${rankAdcSql(k, rerank)}""".stripMargin

  /** Oracle twin of [[ivfPqTopK]] — the full-dimension cell chain
    * (prefix `f_`) + probe CTEs on top of the shared PQ fragment. */
  def ivfPqTopKSql(k: Int, cellStride: Long, cellIters: Int, nProbe: Int,
      m: Int, subDim: Int, pqStride: Long, pqIters: Int,
      maxCodebook: Long = 128, rerank: Int = 4,
      trainPred: String = "TRUE",
      adaptiveProbe: Boolean = false): String = {
    // Fixed mode probes exactly nProbe cells; adaptive mode treats
    // nProbe as the CAP and spills down the ranking only while the
    // cumulative probed-cell population is below k (the
    // [[adaptiveProbes]] rule, replayed).
    val queryCells = if (!adaptiveProbe)
      s"""query_cells AS (
         |  SELECT query_id, cent_id FROM (
         |    SELECT e.vec_id AS query_id, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Sql.cosine("e.embedding", "c.cent_emb")} DESC,
         |          c.cent_id) AS r
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) e
         |      CROSS JOIN f_cents c) t WHERE r <= $nProbe)""".stripMargin
    else
      s"""cell_sizes AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS cell_n
         |  FROM corpus_cells GROUP BY cent_id),
         |query_cells AS (
         |  SELECT query_id, cent_id FROM (
         |    SELECT q.query_id, q.cent_id,
         |      COALESCE(SUM(s.cell_n) OVER (PARTITION BY q.query_id
         |        ORDER BY q.r
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS cum_before
         |    FROM (
         |      SELECT query_id, cent_id, r FROM (
         |        SELECT e.vec_id AS query_id, c.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${Sql.cosine("e.embedding", "c.cent_emb")}
         |              DESC, c.cent_id) AS r
         |        FROM (SELECT * FROM embeddings WHERE vec_id < 10) e
         |          CROSS JOIN f_cents c) _ WHERE r <= $nProbe) q
         |    JOIN cell_sizes s USING (cent_id)) t
         |  WHERE cum_before < $k)""".stripMargin
    s"""WITH
       |${Clustering.kmeansCentsSql(cellStride, cellIters,
          from = s"(SELECT * FROM embeddings WHERE $trainPred)",
          prefix = "f_")},
       |corpus_cells AS (
       |  SELECT nid, cent_id FROM (
       |    SELECT e.vec_id AS nid, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${Sql.cosine("e.embedding", "c.cent_emb")} DESC,
       |          c.cent_id) AS r
       |    FROM embeddings e CROSS JOIN f_cents c) t WHERE r = 1),
       |$queryCells,
       |cands AS (
       |  SELECT query_id, nid FROM corpus_cells JOIN query_cells
       |    USING (cent_id) WHERE query_id != nid),
       |${pqCtesSql(m, subDim, pqStride, pqIters, maxCodebook, trainPred)},
       |scored AS (
       |  SELECT query_id, nid,
       |    CAST(SUM(CAST(d AS DECIMAL(28,12))) AS DOUBLE) AS ad,
       |    CAST(SUM(CAST(dd AS DECIMAL(28,12))) AS DOUBLE) AS rn2
       |  FROM cands JOIN codes USING (nid)
       |    JOIN dots USING (query_id, sub_j, code)
       |  GROUP BY 1, 2),
       |${rankAdcSql(k, rerank)}""".stripMargin
  }

  /** Symmetric int8 quantization of the embedding tier — the storage
    * path: per-row scale = max |element| (double), elements mapped to
    * `floor(x/scale·127 + 0.5)` bytes. 4× smaller at a bounded
    * `scale/254` absolute error per element (round-trip bound spec'd in
    * SimilaritySpec); both steps are native codegen'd kernels
    * ([[graft.functions.VectorExpressions.MaxAbsExpr]] /
    * [[graft.functions.VectorExpressions.QuantizeExpr]]) — interpreted
    * `transform` lambdas on a 100 TB embedding scan are exactly the HOF
    * trap the dot-product kernel exists for. Map-only: no shuffle, no
    * UDF. */
  def quantizeEmbeddings(corpus: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.{vectorMaxAbs, vectorQuantize}
    corpus.select(col("vec_id"),
      vectorMaxAbs(col("embedding")).as("scale"),
      vectorQuantize(col("embedding"), vectorMaxAbs(col("embedding")))
        .as("qvec"))
  }

  /** Oracle twin of [[quantizeEmbeddings]] (`embeddings` hard-wired;
    * explicit half-up floor so negative halves agree with the kernel).
    * The `scale IS NULL` arm keeps degenerate rows aligned: an empty
    * (or null-element) vector gets a NULL scale on both engines, and
    * the Spark side null-propagates it through quantize → NULL qvec —
    * without the arm DuckDB's CASE would fall to the else branch and
    * emit `''` for the same row. */
  def quantizeEmbeddingsSql: String =
    s"""WITH s AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
       |      AS scale
       |  FROM embeddings)
       |SELECT vec_id, scale,
       |  array_to_string(CASE
       |    WHEN scale IS NULL THEN NULL
       |    WHEN scale = 0
       |    THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
       |    ELSE list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS TINYINT))
       |  END, ',') AS qvec
       |FROM s ORDER BY vec_id""".stripMargin

  // ------------------------------------------------- embedding intake QA

  /** EMBEDDING INTAKE QA — the gate run before any vector lands in an
    * index: counts of wrong-dimension vectors (truncated uploads,
    * mixed-model batches), vectors carrying NaN (overflowed encoders),
    * zero-norm vectors (cosine-undefined; every downstream cosine guard
    * silently maps them to 0 similarity), plus the norm distribution of
    * the healthy remainder (mean/min/max — a shifted norm distribution
    * is the cheapest signal that the encoder version changed). One
    * map-only flag projection, one global aggregate, 1-row output.
    * Flags are mutually exclusive by precedence (wrong-dim → NaN →
    * zero-norm) so the counts partition the bad set. Norm mean is
    * exact-decimal ([[graft.engine.Aggregates.avgExact]]); the norm
    * itself is the strict left-to-right double dot shared with the ANN
    * tier, so the oracle replays it bit-for-bit. */
  def embeddingQa(vecs: DataFrame, embCol: String,
      expectedDim: Int): DataFrame = {
    val e = col(embCol)
    val wrongDim = size(e) =!= expectedDim
    val hasNan = exists(e, x => isnan(x.cast("double")))
    val nrm = norm(e)
    val flagged = vecs.select(
      when(wrongDim, 1).otherwise(0).as("wrong_dim"),
      when(!wrongDim && hasNan, 1).otherwise(0).as("has_nan"),
      when(!wrongDim && !hasNan && nrm === 0.0, 1).otherwise(0)
        .as("zero_norm"),
      when(!wrongDim && !hasNan && nrm =!= 0.0, nrm).as("good_norm"))
    flagged.agg(
      count(lit(1)).as("n_vecs"),
      sum("wrong_dim").cast("long").as("n_wrong_dim"),
      sum("has_nan").cast("long").as("n_nan"),
      sum("zero_norm").cast("long").as("n_zero_norm"),
      round(graft.engine.Aggregates.avgExact(col("good_norm")), 6)
        .as("norm_mean"),
      round(min("good_norm"), 6).as("norm_min"),
      round(max("good_norm"), 6).as("norm_max"))
  }

  /** q202 corruption planting: every 31st vector zeroed, every 41st
    * gets a NaN head element, every 53rd is truncated to half the
    * dimension. Harness only. */
  def plantBadVectors(id: Column, emb: Column, dim: Int): Column =
    when(id % 31 === 0, transform(emb, _ => lit(0.0f)))
      .when(id % 41 === 0,
        concat(array(lit(Float.NaN)), slice(emb, 2, dim - 1)))
      .when(id % 53 === 0, slice(emb, 1, dim / 2))
      .otherwise(emb)

  /** Oracle twin of [[plantBadVectors]] → [[embeddingQa]] over
    * `embeddings` (DuckDB; the same flag precedence, the same
    * left-to-right norm, `'NaN'::FLOAT` for the planted head). */
  def embeddingQaSql(expectedDim: Int): String = {
    val nrm = s"sqrt(${Sql.dotDim("emb", "emb", expectedDim)})"
    s"""WITH p AS (SELECT vec_id,
       |    CASE WHEN vec_id % 31 = 0
       |      THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
       |    WHEN vec_id % 41 = 0
       |      THEN list_concat([CAST('NaN' AS FLOAT)], embedding[2:])
       |    WHEN vec_id % 53 = 0 THEN embedding[1 : ${expectedDim / 2}]
       |    ELSE embedding END AS emb
       |  FROM embeddings),
       |f AS (SELECT
       |    CASE WHEN len(emb) <> $expectedDim THEN 1 ELSE 0 END
       |      AS wrong_dim,
       |    CASE WHEN len(emb) = $expectedDim AND len(list_filter(emb,
       |      x -> isnan(CAST(x AS DOUBLE)))) > 0 THEN 1 ELSE 0 END
       |      AS has_nan,
       |    CASE WHEN len(emb) = $expectedDim AND len(list_filter(emb,
       |        x -> isnan(CAST(x AS DOUBLE)))) = 0 AND $nrm = 0.0
       |      THEN 1 ELSE 0 END AS zero_norm,
       |    CASE WHEN len(emb) = $expectedDim AND len(list_filter(emb,
       |        x -> isnan(CAST(x AS DOUBLE)))) = 0 AND $nrm <> 0.0
       |      THEN $nrm END AS good_norm
       |  FROM p)
       |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(wrong_dim) AS BIGINT) AS n_wrong_dim,
       |  CAST(sum(has_nan) AS BIGINT) AS n_nan,
       |  CAST(sum(zero_norm) AS BIGINT) AS n_zero_norm,
       |  round(${graft.engine.Aggregates.avgExactSql("good_norm")}, 6)
       |    AS norm_mean,
       |  round(min(good_norm), 6) AS norm_min,
       |  round(max(good_norm), 6) AS norm_max
       |FROM f""".stripMargin
  }
}
