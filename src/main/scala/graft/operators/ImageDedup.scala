package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal.MediaRow

/** Perceptual image near-duplicate detection: pHash over decoded
  * pixels, then the 4×16-bit banded-Hamming pigeonhole of
  * [[Dedup.simhashNearDup]] for candidate generation — the media
  * modality the dedup family was missing (lexical text: q24/q25/q43;
  * semantic embeddings: q139; pixels: here). A training-data pipeline
  * uses this to drop re-encoded / brightness-shifted / lightly-edited
  * copies of the same image that byte-level exact dedup cannot see.
  *
  * The hash is the DCT perceptual hash of Zauner ("Implementation and
  * Benchmarking of Perceptual Image Hash Functions", 2010) in a
  * FIXED-POINT variant, so the entire arithmetic is exactly replayable
  * in integer SQL (the DuckDB oracle) with zero float divergence — the
  * same reason codecs ship integer DCT approximations (JPEG/AVC
  * practice):
  *
  *   1. nearest-neighbor downsample to 32×32 (`src = dst*srcDim/32`,
  *      integer division — exact, engine-independent),
  *   2. integer luma `gray = (77R + 150G + 29B) >> 8` (77+150+29=256),
  *   3. separable 2-D DCT-II restricted to the 8×8 low-frequency
  *      block, with the cosine basis pre-scaled to integers
  *      (`round(cos(π(2x+1)u/64)·2^14)`) — the table is computed ONCE
  *      here ([[dctTable]]) and embedded as literals in both the Scala
  *      kernel and the generated oracle SQL, so both engines multiply
  *      the same integers (magnitudes bounded by 32·255·2^14 after the
  *      row pass and 32·that·2^14 ≈ 7·10^13 after the column pass —
  *      long-safe),
  *   4. drop the DC coefficient, threshold the remaining 63 against
  *      their lower median (sorted index 31, 0-based), pack the
  *      `coef > median` bits into a 63-bit long.
  *
  * A uniform brightness shift adds a constant to every gray value,
  * which lands (near-)entirely in the discarded DC coefficient — the
  * classic pHash invariance, exercised end-to-end by the planted
  * twins of [[texturedMedia]].
  *
  * Scale shape: encode/decode/hash run in the media codec
  * `mapPartitions` slot (no Catalyst expression decodes PNG; the hash
  * is fused into the same pass so 1 KB of pixels never crosses an
  * exchange — one long per image does). Candidate generation is the
  * q25 banded equi-join (never all-pairs): Hamming ≤ 3 ⇒ at least one
  * of four 16-bit bands identical, so candidates come from a shuffle
  * join on (band_idx, band_val) and the exact `bit_count(xor)` verify
  * touches only band-colliding pairs.
  *
  * Skew hazard (the banded family's known property, same as SimHash
  * q25): a corpus dominated by ONE visual template (solid-color
  * thumbnails, a watermark frame) collapses into one band bucket and
  * the candidate join goes quadratic in that bucket. The q119 key-skew
  * profiler over `band_val` is the diagnostic; the mitigation is
  * pre-bucketing by an exact content fingerprint (exact dups collapse
  * to one representative before banding — [[Dedup.exact]] on the
  * payload bytes), which removes the degenerate mass without touching
  * near-dup recall.
  */
object ImageDedup {

  /** One hashed image; `phash` is None iff the payload failed to
    * decode (`status = 'corrupt'`). */
  case class ImageHash(img_id: Long, status: String, phash: Option[Long])

  /** Fixed-point scale of the cosine basis (2^14). */
  val DctScale = 16384

  /** Integer DCT-II basis, `T(u·32 + x) = round(cos(π(2x+1)u/64)·2^14)`
    * for u ∈ [0,8), x ∈ [0,32). `Math.round` = floor(v + 0.5); the
    * oracle SQL embeds THESE values as literals, so rounding mode can
    * never diverge between engines. */
  lazy val dctTable: Array[Long] = {
    val t = new Array[Long](8 * 32)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 32) {
        t(u * 32 + x) =
          Math.round(Math.cos(Math.PI * (2 * x + 1) * u / 64.0) * DctScale)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Twin-id offsets: planted near-dups keep their base id recoverable
    * by subtraction, and the spaces cannot collide for any corpus with
    * ids below 10^6. */
  val BrightTwinOffset = 1000000L
  val PatchTwinOffset = 2000000L

  /** Brightness delta of the planted bright twin. The texture palette
    * is mod-250 (channels ≤ 249), so +6 never clamps at 255 — the
    * shift is exactly uniform and the AC coefficients are exactly
    * invariant (planted bright pairs sit at Hamming 0 by construction,
    * not by luck). */
  val BrightShift = 6

  /** Closed-form texture spec of a base id: `(w, h, offR, offG, offB)`.
    * Dims 20..43 (exercises the resize on both sides of 32); channel
    * offsets phase-shift the sawtooth so unrelated ids hash far apart.
    * The two-tone [[Multimodal.specOf]] images are useless here — their
    * columns are uniform, so 55 of 63 AC coefficients are zero and
    * every image's hash would collide; this family is full-entropy. */
  private[graft] def texturedSpec(base: Long): (Int, Int, Int, Int, Int) = {
    def m(k: Long, mod: Long): Int = java.lang.Math.floorMod(base * k, mod).toInt
    (20 + m(23, 24), 20 + m(29, 24), m(5, 250), m(7, 250), m(11, 250))
  }

  /** Source-pixel channels at `(sx, sy)`: a three-phase integer
    * sawtooth over a mod-250 palette, optionally brightness-shifted
    * (never clamps — see [[BrightShift]]) and optionally overwritten
    * with a flat gray 3×3-source-pixel patch (the "lightly edited"
    * twin whose Hamming distance is small but nonzero). */
  private[graft] def texturedRgb(base: Long, sx: Int, sy: Int, shift: Int,
      patch: Boolean): (Int, Int, Int) = {
    if (patch && sx < 3 && sy < 3) (128, 128, 128)
    else {
      val (_, _, ar, ag, ab) = texturedSpec(base)
      ((ar + 3 * sx + 7 * sy) % 250 + shift,
        (ag + 5 * sx + 2 * sy) % 250 + shift,
        (ab + sx + 6 * sy) % 250 + shift)
    }
  }

  /** Real PNG bytes for a textured image. */
  private[graft] def encodeTexturedPng(base: Long, shift: Int,
      patch: Boolean): Array[Byte] = {
    val (w, h, _, _, _) = texturedSpec(base)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = texturedRgb(base, x, y, shift, patch)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Textured media derived from `documents`: one PNG per doc_id, plus
    * planted near-dup twins — a brightness-shifted copy for ids ≡ 1
    * (mod 5) and a patch-edited copy for ids ≡ 3 (mod 7). Every 37th
    * base id ships truncated (the quarantine path, as in
    * [[Multimodal.pngMediaFromDocuments]]); corrupt bases get no
    * twins. Encode is distributed (`mapPartitions` codec slot). */
  def texturedMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] =
    texturedSubset(spark, docs, emitBases = true, emitTwins = true)

  /** Only the planted twins (today's arriving batch in the incremental
    * scenarios) — so a stored-index query pays encode/hash for the NEW
    * side alone, which is the entire point of persisting the reference
    * side ([[buildPhashIndex]]). Twin population identical to the twins
    * [[texturedMedia]] emits. */
  def texturedTwins(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] =
    texturedSubset(spark, docs, emitBases = false, emitTwins = true)

  /** Only the base images (the already-deduped reference corpus of the
    * incremental scenarios), including the corrupt every-37th payload
    * (quarantine drops it before indexing, as in the inline path). */
  def texturedBases(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] =
    texturedSubset(spark, docs, emitBases = true, emitTwins = false)

  private def texturedSubset(spark: SparkSession, docs: DataFrame,
      emitBases: Boolean, emitTwins: Boolean): Dataset[MediaRow] = {
    import spark.implicits._
    // Parallelism floor BEFORE the codec slot: a one-file corpus plans
    // one scan task, and the fused encode→decode→hash stage downstream
    // serializes on one core (measured: the pHash family at 1.0–1.5
    // busy cores on local[32]). Only 8-byte ids are shuffled; at 100 TB
    // the scan is naturally wide and this is the identity.
    graft.engine.Partitioning.parallelized(docs.select(col("doc_id")))
      .as[Long].mapPartitions(_.flatMap { id =>
      // The twin-id scheme requires the base id space below the first
      // offset — a corpus with doc_id >= 10^6 would silently collide
      // twin img_ids with real bases. Per-row check: zero extra jobs,
      // fails loudly instead.
      require(id >= 0 && id < BrightTwinOffset,
        s"doc_id $id outside [0, $BrightTwinOffset) — the twin-id " +
          "offsets would collide; widen the offsets for this corpus")
      if (id % 37 == 0)
        (if (emitBases)
          Iterator.single(MediaRow(id, encodeTexturedPng(id, 0, false).take(8),
            "image/png"))
         else Iterator.empty)
      else {
        val orig =
          if (emitBases)
            Some(MediaRow(id, encodeTexturedPng(id, 0, false), "image/png"))
          else None
        val bright =
          if (emitTwins && id % 5 == 1)
            Some(MediaRow(id + BrightTwinOffset,
              encodeTexturedPng(id, BrightShift, false), "image/png"))
          else None
        val patched =
          if (emitTwins && id % 7 == 3)
            Some(MediaRow(id + PatchTwinOffset,
              encodeTexturedPng(id, 0, true), "image/png"))
          else None
        orig.iterator ++ bright.iterator ++ patched.iterator
      }
    })
  }

  /** The fixed-point pHash of a decoded image — the exact-twin scalar
    * kernel (plain loops over ints/longs). Public so the spec can pin
    * the distributed path bit-for-bit against direct invocations. */
  private[graft] def phashOfImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val gray = new Array[Int](32 * 32)
    var y = 0
    while (y < 32) {
      val sy = y * h / 32
      var x = 0
      while (x < 32) {
        val sx = x * w / 32
        val p = img.getRGB(sx, sy)
        gray(y * 32 + x) =
          (77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) + 29 * (p & 0xff)) >> 8
        x += 1
      }
      y += 1
    }
    val t = dctTable
    // Row pass: C(u, y) = Σ_x gray(y, x)·T(u, x), u ∈ [0,8).
    val rowc = new Array[Long](8 * 32)
    var u = 0
    while (u < 8) {
      var yy = 0
      while (yy < 32) {
        var s = 0L
        var x = 0
        while (x < 32) { s += gray(yy * 32 + x) * t(u * 32 + x); x += 1 }
        rowc(u * 32 + yy) = s
        yy += 1
      }
      u += 1
    }
    // Column pass: D(u, v) = Σ_y C(u, y)·T(v, y), then drop DC.
    val ac = new Array[Long](63)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) {
          var s = 0L
          var yy = 0
          while (yy < 32) { s += rowc(u * 32 + yy) * t(v * 32 + yy); yy += 1 }
          ac(u * 8 + v - 1) = s
        }
        v += 1
      }
      u += 1
    }
    val sorted = ac.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    var hash = 0L
    var i = 0
    while (i < 63) {
      if (ac(i) > med) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Partition-batched decode + hash: `ImageIO.read` over the payload,
    * then [[phashOfImage]] — fused so pixel buffers never leave the
    * codec stage. Undecodable payloads quarantine as
    * `status = 'corrupt'` with a null hash. */
  def phashImages(spark: SparkSession,
      media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import spark.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.content))
          if (img == null) ImageHash(r.media_id, "corrupt", None)
          else ImageHash(r.media_id, "ok", Some(phashOfImage(img)))
        } catch {
          case scala.util.control.NonFatal(_) =>
            ImageHash(r.media_id, "corrupt", None)
        }
      }
    }
  }

  /** Near-dup pairs with Hamming distance ≤ `maxHamming` (must be ≤ 3:
    * the 4-band pigeonhole guarantees recall only there — same refusal
    * contract as [[Dedup.simhashNearDup]]). Corrupt rows carry no hash
    * and drop out before banding. */
  def nearDupPairs(hashes: Dataset[ImageHash],
      maxHamming: Int = 3): DataFrame =
    bandedPairs(okHashes(hashes), maxHamming)

  /** Decoded-ok `(img_id, phash)` rows, shared by the pair and
    * survivor pipelines. */
  private def okHashes(hashes: Dataset[ImageHash]): DataFrame =
    hashes.toDF()
      .filter(col("phash").isNotNull)
      .select(col("img_id"), col("phash"))

  /** The ONE band-explode both the self-join and cross-join paths use
    * (the pigeonhole guarantee lives or dies on every path banding the
    * same way): one row per (image, 16-bit band). */
  private def bandExplode(hs: DataFrame): DataFrame = {
    val bandArr = array((0 until 4).map(j =>
      shiftright(col("phash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*)
    hs.select(col("img_id"), col("phash"), posexplode(bandArr))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
  }

  private def requirePigeonhole(maxHamming: Int): Unit =
    require(maxHamming <= 3,
      s"4-band pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")

  /** Distinct-hash classes `(phash, rep = min img_id)` — the
    * exact-fingerprint pre-collapse unit. */
  private def hashClasses(hs: DataFrame): DataFrame =
    hs.groupBy("phash").agg(min("img_id").as("img_id"))

  /** Near-dup pairs between DISTINCT hash classes: band join over one
    * representative per class, exact Hamming verify. Exposed to the
    * spec so "bounded candidates under a degenerate template" is an
    * assertable count, not a prose claim. Emits (ph_a, ph_b, hamming)
    * with ph_a ≠ ph_b (each unordered class pair once). */
  private[graft] def classPairs(classes: DataFrame,
      maxHamming: Int): DataFrame =
    bandExplode(classes).as("a")
      .join(bandExplode(classes).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.img_id") < col("b.img_id"))
      .select(col("a.phash").as("ph_a"), col("b.phash").as("ph_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)

  /** The banded self-join with the EXACT-FINGERPRINT PRE-COLLAPSE the
    * skew note always promised (round-12 verdict #3): images with
    * identical hashes form one class, only one REPRESENTATIVE per class
    * enters the band join, and members are restored after pair
    * generation. A corpus dominated by a single visual template (solid
    * thumbnails, a watermark frame) — whose members previously all
    * landed in the same four band buckets and sent the candidate join
    * quadratic — now contributes ONE row per band; the quadratic term
    * moves from the shuffle-join's skewed bucket to the final member
    * expansion, which is output-sized by definition (those pairs ARE
    * near-dups and must be emitted). Output identical to the naive
    * all-member band join: within-class pairs sit at Hamming 0 and are
    * emitted directly; a cross-class pair's Hamming depends only on the
    * two hashes, so the class-pair verdict is every member pair's
    * verdict (ImageDedupSpec pins equality against the naive twin). */
  private[graft] def bandedPairs(hs: DataFrame, maxHamming: Int): DataFrame = {
    requirePigeonhole(maxHamming)
    // One decode scan feeds classes, members and the expansion joins.
    // The member distinct replaces the round-12 pair-level distinct:
    // the expansion joins would multiply duplicate (img_id, phash)
    // input rows into duplicate output pairs (review finding — e.g. a
    // batch appended twice by a crash-retry), where the old all-member
    // construction absorbed them.
    val members = graft.engine.Caches.materialized(
      hs.select(col("img_id"), col("phash")).distinct())
    val classes = graft.engine.Caches.materialized(hashClasses(members))
    val cross = classPairs(classes, maxHamming)
      .join(members.select(col("phash").as("ph_a"), col("img_id").as("id_x")),
        Seq("ph_a"))
      .join(members.select(col("phash").as("ph_b"), col("img_id").as("id_y")),
        Seq("ph_b"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("hamming"))
    val within = members.as("a")
      .join(members.as("b"),
        col("a.phash") === col("b.phash") && col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id").as("id_a"), col("b.img_id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    within.union(cross).select("id_a", "id_b", "hamming")
  }

  /** The round-12 construction (every member bands; no pre-collapse) —
    * kept non-public as the equality-spec twin of [[bandedPairs]]. */
  private[graft] def bandedPairsNaive(hs: DataFrame, maxHamming: Int): DataFrame = {
    requirePigeonhole(maxHamming)
    val bands = graft.engine.Caches.materialized(bandExplode(hs))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id").as("id_a"), col("b.img_id").as("id_b"),
        col("a.phash").as("ph_a"), col("b.phash").as("ph_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** End-to-end near-dup query over `documents`-derived textured media:
    * encode → decode → hash → banded pairs. */
  def phashNearDup(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame =
    nearDupPairs(phashImages(spark, texturedMedia(spark, docs)), maxHamming)

  /** Incremental (cross-corpus) media dedup — the daily-ingest shape,
    * the q98 text construction over pixels: NEW images band-join
    * against the already-deduped REFERENCE corpus only; ref×ref pairs
    * are never recomputed, so daily cost is |new|·collisions, not
    * |corpus|². Same 4×16 pigeonhole guarantee per side. */
  def phashNearDupAcross(newHs: DataFrame, refHs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    requirePigeonhole(maxHamming)
    // The same exact-fingerprint pre-collapse as [[bandedPairs]], per
    // side: distinct hashes band, members expand after the verify. A
    // template-dominated ingest (the realistic case — one watermark
    // frame re-uploaded all day) collapses to one banded row per side.
    // Unlike the self-join there is no within/cross split: every
    // (new class, ref class) combination is a cross pair, including
    // equal hashes (Hamming 0), which collide in all four bands.
    // Member distinct for the same duplicate-input-row reason as
    // [[bandedPairs]] — the expansion joins must not multiply rows a
    // crash-retried append duplicated.
    val newM = graft.engine.Caches.materialized(
      newHs.select(col("img_id"), col("phash")).distinct())
    val refM = graft.engine.Caches.materialized(
      refHs.select(col("img_id"), col("phash")).distinct())
    bandExplode(hashClasses(newM)).as("a")
      .join(bandExplode(hashClasses(refM)).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val"))
      .select(col("a.phash").as("ph_a"), col("b.phash").as("ph_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .join(newM.select(col("phash").as("ph_a"), col("img_id").as("new_id")),
        Seq("ph_a"))
      .join(refM.select(col("phash").as("ph_b"), col("img_id").as("ref_id")),
        Seq("ph_b"))
      .select("new_id", "ref_id", "hamming")
  }

  /** End-to-end incremental dedup over the textured corpus: the twin
    * images (today's ingest, ids ≥ [[BrightTwinOffset]]) against the
    * base images (the deduped reference). One decode scan feeds both
    * sides. */
  def phashIncrementalDedup(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val hashes = graft.engine.Caches.materialized(
      okHashes(phashImages(spark, texturedMedia(spark, docs))))
    phashNearDupAcross(
      hashes.filter(col("img_id") >= BrightTwinOffset),
      hashes.filter(col("img_id") < BrightTwinOffset), maxHamming)
  }

  // ---------------------------------------------- persisted pHash index

  /** Persist the REFERENCE side of incremental media dedup — the
    * production shape [[phashNearDupAcross]]'s scaladoc promised: the
    * reference corpus's hashes are a pure function of its pixels, so a
    * daily image ingest decodes and hashes each reference image ONCE,
    * ever, instead of re-decoding the whole corpus per batch. One
    * table `hashes` (img_id, phash) — 9 bytes of stored state per
    * indexed image; quarantined (corrupt) rows carry no hash and must
    * be filtered out by the caller (they are not reference content).
    * Versioned-manifest commits ([[graft.engine.Manifests]]) like the
    * MinHash/gram/line/BM25 stores: atomic publish, reader snapshots,
    * GC, and [[graft.engine.Manifests.compact]] for the small segments
    * appends leave. [[phashNearDupAcrossFromIndex]] over this index is
    * bit-equal to the recompute-everything inline twin
    * (ImageDedupSpec). */
  def buildPhashIndex(refHs: DataFrame, dir: String): Unit = {
    graft.engine.Manifests.build(refHs.sparkSession, dir)(
      _.write("hashes", refHs.select(col("img_id"), col("phash"))))
  }

  /** Index MAINTENANCE: append newly-deduped images' hashes so
    * tomorrow's batches dedup against them too — one new O(|new|)
    * segment, independent of index size; ids must be disjoint from
    * the indexed ones (never scanned to check, by design). A crashed
    * (unpublished) commit is invisible and overwritten by the retry. */
  def appendToPhashIndex(newHs: DataFrame, dir: String): Unit = {
    val spark = newHs.sparkSession
    graft.engine.Manifests.resolveOrFail(spark, dir,
      "pHash index", "append needs a finished build")
    graft.engine.Manifests.append(spark, dir)(
      _.write("hashes", newHs.select(col("img_id"), col("phash"))))
  }

  /** [[phashNearDupAcross]] against a PERSISTED reference index: only
    * the new batch is decoded and hashed; the reference hashes stream
    * from the resolved snapshot into the same pre-collapsed band join.
    * Bit-equal to the inline twin over the indexed hashes. */
  def phashNearDupAcrossFromIndex(newHs: DataFrame, dir: String,
      maxHamming: Int = 3, atVersion: Option[Long] = None): DataFrame = {
    val spark = newHs.sparkSession
    val snap = graft.engine.Manifests.resolveOrFail(spark, dir,
      "pHash index", "run buildPhashIndex first", atVersion)
    phashNearDupAcross(newHs, snap.read(spark, "hashes"), maxHamming)
  }

  /** Oracle twin of [[phashIncrementalDedup]]: the shared hash chain,
    * exhaustive new×ref pairs only. */
  def phashAcrossSql(maxHamming: Int = 3): String =
    phashChainSql +
      s"""
       |SELECT n.img_id AS new_id, r.img_id AS ref_id,
       |  CAST(bit_count(xor(n.phash, r.phash)) AS INT) AS hamming
       |FROM ph n JOIN ph r
       |  ON n.img_id >= $BrightTwinOffset AND r.img_id < $BrightTwinOffset
       |WHERE bit_count(xor(n.phash, r.phash)) <= $maxHamming
       |ORDER BY new_id, ref_id""".stripMargin

  /** The media-curation completion: near-dup pairs → connected
    * components ([[Dedup.dedupClusters]]'s pointer-doubling, O(log
    * diameter) rounds) → keep one canonical image per component (the
    * min img_id) plus every unpaired image — the "drop the duplicate
    * images" step a multimodal pipeline runs before training, exactly
    * the q37/q38 lifecycle the text tier has, over pixels. Corrupt
    * payloads carry no hash, so they are quarantined out before
    * pairing and never survive. */
  def phashSurvivors(spark: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val ok = graft.engine.Caches.materialized(
      okHashes(phashImages(spark, texturedMedia(spark, docs))))
    val clusters = Dedup.dedupClusters(
      bandedPairs(ok, maxHamming).select(col("id_a"), col("id_b")))
    Dedup.survivors(ok, "img_id", clusters)
  }

  /** Oracle twin of [[phashNearDup]] (`documents` hard-wired): replays
    * the GENERATIVE spec — image derivation rules, sawtooth pixels,
    * integer luma, nearest-neighbor sample, fixed-point DCT with the
    * same embedded basis table, median threshold, bit packing — in pure
    * integer SQL, then takes exhaustive `bit_count(xor) ≤ d` pairs
    * (all-pairs is fine at oracle scale; the banded join is the scale
    * path). A decode or hash bug on the Spark side breaks the match:
    * the oracle never sees the PNG bytes, only the arithmetic that
    * produced them. `AS MATERIALIZED` keeps DuckDB from inlining the
    * per-image hash chain into the self-join's two sides. */
  def phashNearDupSql(maxHamming: Int = 3): String =
    phashChainSql +
      s"""
       |SELECT a.img_id AS id_a, b.img_id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM ph a JOIN ph b ON a.img_id < b.img_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $maxHamming""".stripMargin

  /** Oracle twin of [[phashSurvivors]]: the same hash chain, exhaustive
    * pairs, recursive-CTE connected components (the q37/q139 replay
    * shape), survivors = not-a-victim (victim = clustered with a
    * smaller id in its component). */
  def phashSurvivorsSql(maxHamming: Int = 3): String =
    phashClustersSql(maxHamming) +
      s"""
       |SELECT img_id, phash FROM ph
       |WHERE img_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
       |ORDER BY img_id""".stripMargin

  /** Oracle twin of the q145 multimodal-curation compose: documents
    * whose ORIGINAL image survived pHash dedup (corrupt images carry no
    * hash, so their documents quarantine out) and whose text clears the
    * quality floor. `qualityExpr` is the engine's quality-score SQL
    * twin over `d.text` — passed in so the one definition in
    * TextFunctions stays the single source. */
  def curatedDocsSql(maxHamming: Int, minQuality: Double,
      qualityExpr: String): String =
    phashClustersSql(maxHamming) +
      s""",
       |surv AS (
       |  SELECT img_id FROM ph
       |  WHERE img_id < $BrightTwinOffset
       |    AND img_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id))
       |SELECT d.doc_id, d.lang, $qualityExpr AS quality
       |FROM documents d JOIN surv s ON s.img_id = d.doc_id
       |WHERE $qualityExpr >= $minQuality
       |ORDER BY d.doc_id""".stripMargin

  /** Shared pair + connected-components CTE block (chain → `pr` →
    * `edges` → `reach` → `clusters`). */
  private def phashClustersSql(maxHamming: Int): String =
    phashChainSql +
      s""",
       |pr AS (
       |  SELECT a.img_id AS id_a, b.img_id AS id_b
       |  FROM ph a JOIN ph b ON a.img_id < b.img_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $maxHamming),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pr
       |  UNION ALL SELECT id_b, id_a FROM pr),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
       |clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** The shared per-image hash chain of every oracle (`WITH RECURSIVE`
    * so the components-based twins can append their CTEs; harmless for
    * the non-recursive pair twins). */
  private def phashChainSql: String = {
    val tl = dctTable.mkString("[", ",", "]")
    s"""WITH RECURSIVE tt AS (SELECT $tl AS t),
       |ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 37 <> 0),
       |imgs AS (
       |  SELECT id AS img_id, id AS base, 0 AS sh, FALSE AS pt FROM ids
       |  UNION ALL
       |  SELECT id + $BrightTwinOffset, id, $BrightShift, FALSE FROM ids
       |  WHERE id % 5 = 1
       |  UNION ALL
       |  SELECT id + $PatchTwinOffset, id, 0, TRUE FROM ids
       |  WHERE id % 7 = 3),
       |spec AS (SELECT img_id,
       |    20 + (base*23) % 24 AS w, 20 + (base*29) % 24 AS h,
       |    (base*5) % 250 AS ar, (base*7) % 250 AS ag,
       |    (base*11) % 250 AS ab_, sh, pt FROM imgs),
       |g AS MATERIALIZED (SELECT img_id, list_transform(range(0, 1024), p ->
       |    CASE WHEN pt AND ((p % 32)*w)//32 < 3 AND ((p//32)*h)//32 < 3
       |      THEN 128
       |      ELSE ( 77*((ar + 3*(((p % 32)*w)//32) + 7*(((p//32)*h)//32)) % 250 + sh)
       |           + 150*((ag + 5*(((p % 32)*w)//32) + 2*(((p//32)*h)//32)) % 250 + sh)
       |           +  29*((ab_ +  (((p % 32)*w)//32) + 6*(((p//32)*h)//32)) % 250 + sh)) // 256
       |    END) AS gr
       |  FROM spec),
       |rc AS MATERIALIZED (SELECT img_id, list_transform(range(0, 256), q ->
       |    list_sum(list_transform(range(0, 32), x ->
       |      gr[(q % 32)*32 + x + 1] * t[(q//32)*32 + x + 1]))) AS rowc
       |  FROM g, tt),
       |cf AS MATERIALIZED (SELECT img_id, list_transform(range(0, 64), c ->
       |    list_sum(list_transform(range(0, 32), y ->
       |      rowc[(c//8)*32 + y + 1] * t[(c % 8)*32 + y + 1]))) AS coef
       |  FROM rc, tt),
       |hs AS (SELECT img_id, coef[2:64] AS ac,
       |    list_sort(coef[2:64])[32] AS med FROM cf),
       |ph AS MATERIALIZED (SELECT img_id,
       |    CAST(list_sum(list_transform(range(1, 64), i ->
       |      CASE WHEN ac[i] > med THEN CAST(1 AS BIGINT) << (i-1)
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
       |  FROM hs)""".stripMargin
  }
}

/** NOTE: the patch-twin gray CASE above patches the 32×32 SAMPLED gray
  * directly (`sampled sx < 3 AND sy < 3`), which is exactly what the
  * Spark side sees after nearest-neighbor sampling of a source-patched
  * image: a destination pixel lands in the patch iff its source pixel
  * does, and within the patch all channels are 128 ⇒ gray
  * (77+150+29)·128 >> 8 = 128. The two formulations are pixel-identical
  * by construction. */
