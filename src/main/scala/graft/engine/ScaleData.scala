package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ×k corpus synthesis for the scale probe: union the base tables k
  * times with RE-KEYED ids, preserving each table's key and content
  * distributions — the honest way to measure how the suite's plans
  * behave one order of magnitude up without new testdata.
  *
  * Distribution-preservation rules (each chosen so the ×k workload is
  * k× the 1× workload, never quadratic in k):
  *
  *  - FACTS AND KEYED CORPORA scale ×k with a per-copy id stride
  *    (`max(id)+1`), foreign keys re-keyed in lockstep (orders ↔
  *    lineitem on orderkey, orders → customer on custkey, events keep
  *    per-user session structure by striding user_id too).
  *  - SMALL DIMS (region, nation, supplier, part) stay 1× — the 100 TB
  *    reality this probe models: facts grow, dims don't. The fact
  *    columns referencing them are NOT re-keyed, so per-dim-key fact
  *    density grows k×, exactly like real growth — and the dim joins
  *    must stay broadcast.
  *  - DOCUMENT TEXT gets a per-copy LETTER tag appended to every word
  *    (letters only — the `\p{L}+` BPE filter must keep accepting
  *    them). EVERY copy is tagged (copy 0 included), which makes
  *    cross-copy disjointness STRUCTURAL, not data-dependent: a copy-i
  *    word always ends in `tag(i)`, so words (and hence shingles) from
  *    different copies can never be equal whatever the base corpus
  *    contains (an untagged copy 0 could collide with copy 1 on a base
  *    corpus holding both `w` and `w+tag(1)` — review finding).
  *    Appending one common letter to every word of a copy is a
  *    bijection on its shingle space, so within-copy lexical structure
  *    (Jaccard relations, BPE statistics) is exactly the base
  *    corpus's; near-dup pair populations therefore scale k×, not k²×
  *    (a plain union would make every document k-way identical and
  *    the dedup suite quadratic in k — a different workload, not a
  *    bigger one).
  *  - CUSTOMER NAMES get a TWO-letter copy tag on every copy: a string
  *    ending `aa` is at Levenshtein ≥ 2 from any string ending `bb`
  *    (a single edit cannot change both trailing characters), so
  *    cross-copy fuzzy-join pairs are structurally impossible at the
  *    ≤1 threshold, while a common suffix preserves every within-copy
  *    distance — the pair population scales exactly k×.
  *  - EMBEDDINGS are circularly ROTATED by copy index: norm-preserving
  *    and within-copy geometry identical (all 1× cosine structure
  *    survives per copy), cross-copy decorrelated — ANN candidate
  *    populations scale k×, not k²× in collapsed duplicate cells.
  *
  * A `_SCALE_COMPLETE` marker commits after all tables landed; its
  * CONTENT is a fingerprint of (base dir, k, base row counts/max ids),
  * so a scaled corpus synthesized from a different base — a different
  * SF dir reusing the default scratch path, or regenerated testdata —
  * is rebuilt instead of silently reused against the wrong 1× walls
  * (review finding). */
object ScaleData {

  /** Per-copy letter tag: FIXED-WIDTH two letters (base-26), so tags
    * of different copies are always equal-length and distinct — the
    * structural-disjointness argument needs both (a one-letter "a"
    * suffix would be a PREFIX of a two-letter "ab", and a copy-0 word
    * could then collide with a copy-k word). Width 2 supports k up to
    * 676 — the ×100 probe decade. */
  private def tag(i: Int): String = {
    require(i < 26 * 26, s"copy index $i exceeds the 2-letter tag space")
    "" + ('a' + (i / 26)).toChar + ('a' + (i % 26)).toChar
  }

  private val Marker = "_SCALE_COMPLETE"

  /** Identity of a synthesized corpus: where it came from, at what k,
    * and the base's cheap row fingerprints (metadata-served counts +
    * key maxima of the two corpora whose content the probe stresses). */
  private def fingerprint(spark: SparkSession, baseDir: String,
      k: Int): String = {
    def fp(t: String, idCol: String): String = {
      val r = Tables.table(spark, baseDir, t)
        .agg(count(lit(1)), coalesce(max(col(idCol)), lit(-1L))).head()
      s"$t=${r.getLong(0)}/${r.getLong(1)}"
    }
    // `tags=2` versions the copy-tag scheme: a corpus synthesized by an
    // older build (1-letter tags) must rebuild, not silently mix.
    s"$baseDir|k=$k|tags=2|${fp("documents", "doc_id")}|${fp("lineitem", "l_orderkey")}"
  }

  /** Synthesize the ×k corpus under `outDir` (skipped when a completed
    * corpus with a MATCHING source fingerprint is present; a stale one
    * is deleted and rebuilt). */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    // Tag space bounds k at 676; the embedding rotate+flip transform
    // bounds it at 2*dim (128 for the 64-dim corpus) before cross-copy
    // vectors repeat — both beyond the ×100 decade this probe targets.
    require(k >= 1 && k <= 128, s"k must be in [1, 128], got $k")
    val fp = fingerprint(spark, baseDir, k)
    val fs = Markers.fs(spark, outDir)
    val markerPath = Markers.path(outDir, Marker)
    if (fs.exists(markerPath)) {
      val in = fs.open(markerPath)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (stored == fp) return
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    }

    def base(t: String): DataFrame = Tables.table(spark, baseDir, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def strideOf(df: DataFrame, idCol: String): Long =
      df.agg(coalesce(max(col(idCol)), lit(-1L))).head().getLong(0) + 1L

    // 1× dims, copied as-is.
    Seq("region", "nation", "supplier", "part").foreach(t => write(base(t), t))

    // Scaled copies: k union branches over ONE cached scan — without
    // the cache each branch re-reads the base parquet (scan+project
    // branches share no exchange for reuse), k× the necessary input
    // IO (review finding).
    def scaled(src: DataFrame, copy: (DataFrame, Int) => DataFrame)
        (t: String): Unit = {
      val cached = src.persist()
      try {
        cached.count()
        write((0 until k).map(i => copy(cached, i)).reduce(_ unionAll _), t)
      } finally cached.unpersist(blocking = false)
    }

    val cust = base("customer")
    val custStride = strideOf(cust, "c_custkey")
    scaled(cust, (c, i) => c.select(
      (col("c_custkey") + i * custStride).as("c_custkey"),
      concat(col("c_name"), lit(tag(i) + tag(i))).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))("customer")

    val orders = base("orders")
    val orderStride = strideOf(orders, "o_orderkey")
    scaled(orders, (o, i) => o
      .withColumn("o_orderkey", col("o_orderkey") + i * orderStride)
      .withColumn("o_custkey", col("o_custkey") + i * custStride))("orders")

    scaled(base("lineitem"), (li, i) => li
      .withColumn("l_orderkey", col("l_orderkey") + i * orderStride))("lineitem")

    val ev = base("events")
    val evStride = strideOf(ev, "event_id")
    val userStride = strideOf(ev, "user_id")
    scaled(ev, (e, i) => e
      .withColumn("event_id", col("event_id") + i * evStride)
      .withColumn("user_id", col("user_id") + i * userStride))("events")

    val docs = base("documents")
    val docStride = strideOf(docs, "doc_id")
    scaled(docs, (d, i) => d.select(
      (col("doc_id") + i * docStride).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => concat(w, lit(tag(i)))), " ").as("text"),
      col("lang"), col("source"), col("n_chars")))("documents")

    val emb = base("embeddings")
    val vecStride = strideOf(emb, "vec_id")
    // Rotation wraps at the dimension; the second lap (i >= dim)
    // GLOBALLY NEGATES the vector — still orthogonal (norms and all
    // within-copy cosines preserved), and a copy sharing a rotation
    // with an earlier one sits at cosine -1 from it, never a spurious
    // near-dup. Vectors repeat only at i = 2*dim, the require() bound.
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    scaled(emb, (e, i) => {
      val r = i % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(r + 1), lit(dim - r)),
          slice(col("embedding"), lit(1), lit(r)))
      val signed =
        if ((i / dim) % 2 == 1)
          transform(rotated, x => (x * lit(-1.0f)).cast("float"))
        else rotated
      e.select(
        (col("vec_id") + i * vecStride).as("vec_id"),
        signed.as("embedding"),
        col("label"))
    })("embeddings")

    val out = fs.create(markerPath, true)
    try out.write(fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
