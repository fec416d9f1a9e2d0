package graft

import org.apache.spark.sql.functions._

import graft.operators.ImageDedup
import graft.operators.ImageDedup.ImageHash

/** Perceptual-hash near-dup: exact-twin hash arithmetic, pigeonhole
  * recall at the Hamming boundary, planted-twin end-to-end recall,
  * quarantine. */
class ImageDedupSpec extends SparkSpec {

  private def docs(ids: Long*) = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** Independent reference pHash: DIRECT (non-separable) 2-D DCT over
    * BigInt — `D(u,v) = Σ_y Σ_x g(x,y)·T(u,x)·T(v,y)` — versus the
    * production kernel's separable row/column passes over longs.
    * Mathematically identical; computing it the other way (and without
    * fixed-width arithmetic) is what makes equality evidence that the
    * separable ordering and the long accumulators are exact. */
  private def referencePhash(img: java.awt.image.BufferedImage): Long = {
    val t = ImageDedup.dctTable
    val g = Array.tabulate(32, 32) { (y, x) =>
      val p = img.getRGB(x * img.getWidth / 32, y * img.getHeight / 32)
      (77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) + 29 * (p & 0xff)) >> 8
    }
    val ac = (for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0) yield {
      (for (y <- 0 until 32; x <- 0 until 32)
        yield BigInt(g(y)(x)) * t(u * 32 + x) * t(v * 32 + y)).sum
    }).toArray
    assert(ac.forall(_.isValidLong), "coefficients must fit a long")
    val med = ac.sorted.apply(31)
    (0 until 63).foldLeft(0L)((h, i) => if (ac(i) > med) h | (1L << i) else h)
  }

  private def decode(bytes: Array[Byte]) =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  test("separable fixed-point kernel equals the direct BigInt DCT, bit for bit") {
    for (base <- Seq(1L, 2L, 45L, 123L, 499L); patch <- Seq(false, true)) {
      val img = decode(ImageDedup.encodeTexturedPng(base, 0, patch))
      assert(ImageDedup.phashOfImage(img) == referencePhash(img),
        s"base=$base patch=$patch")
    }
  }

  test("uniform brightness shift lands in the discarded DC: hash exactly invariant") {
    for (base <- Seq(1L, 6L, 11L, 101L, 456L)) {
      val orig = ImageDedup.phashOfImage(
        decode(ImageDedup.encodeTexturedPng(base, 0, false)))
      val shifted = ImageDedup.phashOfImage(
        decode(ImageDedup.encodeTexturedPng(base, ImageDedup.BrightShift, false)))
      assert(orig == shifted, s"base=$base")
    }
  }

  test("banding finds Hamming <= 3 exactly and refuses larger radii") {
    import spark.implicits._
    val h0 = 0x123456789abcdL
    // Distances from h0: 1 (one bit), 3 (bits spread across three
    // bands), 4 (one bit in EVERY band — the adversarial spread the
    // pigeonhole bound is about).
    val hs = Seq(
      ImageHash(1, "ok", Some(h0)),
      ImageHash(2, "ok", Some(h0 ^ (1L << 5))),
      ImageHash(3, "ok", Some(h0 ^ (1L << 2) ^ (1L << 17) ^ (1L << 33))),
      ImageHash(4, "ok", Some(h0 ^ (1L << 0) ^ (1L << 16) ^ (1L << 32) ^ (1L << 48))),
      ImageHash(5, "corrupt", None)).toDS()
    val got = ImageDedup.nearDupPairs(hs, maxHamming = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (1,4) and (2,3) are at Hamming 4, (2,4)/(3,4) at 5/7 → excluded;
    // corrupt id 5 never appears.
    assert(got.toSeq == Seq((1L, 2L, 1), (1L, 3L, 3)))
    assertThrows[IllegalArgumentException] {
      ImageDedup.nearDupPairs(hs, maxHamming = 4)
    }
  }

  test("end-to-end: banded pairs equal brute force; planted twins recalled; corrupt quarantined") {
    import spark.implicits._
    // 37 is corrupt; 41/46/51/56 get bright twins; 38/45/52/59 get
    // patch twins (45 and 52 sit at Hamming 2 — the nonzero-but-near
    // case; others may exceed the radius and must be dropped).
    val d = docs(37L to 59L: _*)
    val hashes = ImageDedup.phashImages(spark,
      ImageDedup.texturedMedia(spark, d)).cache()
    val rows = hashes.collect()
    assert(rows.filter(_.status == "corrupt").map(_.img_id).toSeq == Seq(37L))
    val ok = rows.filter(_.status == "ok").map(r => r.img_id -> r.phash.get)
    val brute = (for {
      (ia, ha) <- ok; (ib, hb) <- ok if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).sortBy(p => (p._1, p._2))
    val got = ImageDedup.nearDupPairs(hashes, maxHamming = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == brute.toSeq)
    // Every bright twin at Hamming 0; the known patch twins at 2.
    for (b <- Seq(41L, 46L, 51L, 56L))
      assert(got.contains((b, b + ImageDedup.BrightTwinOffset, 0)), s"bright $b")
    for (p <- Seq(45L, 52L))
      assert(got.contains((p, p + ImageDedup.PatchTwinOffset, 2)), s"patch $p")
    // Survivors = union-find over the brute-force pairs, min id per
    // component + every unpaired image; corrupt images never survive
    // (no hash, quarantined before pairing).
    val parent = scala.collection.mutable.Map(ok.map(_._1 -> -1L).toSeq: _*)
      .map { case (k, _) => k -> k }
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    brute.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ok.map(_._1).filter(id => find(id) == id).sorted.toSeq
    val survivors = ImageDedup.phashSurvivors(spark, d, maxHamming = 3)
      .orderBy("img_id").collect().map(_.getLong(0)).toSeq
    assert(survivors == expected)
    assert(!survivors.contains(37L))
    // Incremental dedup: twins (the "new" ingest) against the base
    // images (the reference) — new×ref brute force exactly, and no
    // ref×ref or new×new pair may appear.
    val cross = ImageDedup.phashIncrementalDedup(spark, d, maxHamming = 3)
      .orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val bruteCross = (for {
      (ia, ha) <- ok if ia >= ImageDedup.BrightTwinOffset
      (ib, hb) <- ok if ib < ImageDedup.BrightTwinOffset
      dd = java.lang.Long.bitCount(ha ^ hb) if dd <= 3
    } yield (ia, ib, dd)).sortBy(p => (p._1, p._2))
    assert(cross.toSeq == bruteCross.toSeq)
    assert(cross.forall { case (n, r, _) =>
      n >= ImageDedup.BrightTwinOffset && r < ImageDedup.BrightTwinOffset })
    for (b <- Seq(41L, 46L, 51L, 56L))
      assert(cross.contains((b + ImageDedup.BrightTwinOffset, b, 0)))
    hashes.unpersist()
  }

  test("exact-fingerprint pre-collapse: bounded candidates under a degenerate template, recall unchanged") {
    import spark.implicits._
    // A corpus dominated by ONE visual template: 200 images share a
    // single hash (the solid-thumbnail scenario the skew note names),
    // plus a near-dup of the template (Hamming 1), a far hash, and a
    // second small class of 3. Without the pre-collapse the candidate
    // join is quadratic in the dominant bucket (200² band rows); with
    // it, only one representative per DISTINCT hash bands.
    val h0 = 0x0f1e2d3c4b5a697L
    val rows =
      (1L to 200L).map(i => ImageHash(i, "ok", Some(h0))) ++
        Seq(ImageHash(300L, "ok", Some(h0 ^ (1L << 7))),
          ImageHash(301L, "ok", Some(0x7777777777777L))) ++
        (400L to 402L).map(i => ImageHash(i, "ok", Some(0x123L)))
    val hs = rows.toDS().toDF().select(col("img_id"), col("phash"))
    // Candidate stage: 4 distinct hashes → at most C(4,2)=6 verified
    // class pairs, of which exactly one is within Hamming 3.
    val classes = hs.groupBy("phash").agg(min("img_id").as("img_id"))
    val reps = ImageDedup.classPairs(classes, maxHamming = 3).collect()
    assert(reps.length == 1,
      s"pre-collapse must verify class pairs, not member pairs: $reps")
    // Full output equals the naive all-member construction: 200·199/2
    // within-class pairs at Hamming 0 for the template, 3 for the 400s,
    // plus 200 cross pairs template×near-dup at Hamming 1.
    val got = ImageDedup.bandedPairs(hs, maxHamming = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val naive = ImageDedup.bandedPairsNaive(hs, maxHamming = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == naive)
    assert(got.length == 200 * 199 / 2 + 3 + 200)
    assert(got.count(_._3 == 1) == 200)
    graft.engine.Caches.release()
  }

  test("pre-collapsed cross dedup equals the naive cross band join") {
    import spark.implicits._
    val h0 = 0x0f1e2d3c4b5a697L
    val newHs = Seq(ImageHash(1L, "ok", Some(h0)),
        ImageHash(2L, "ok", Some(h0)),
        ImageHash(3L, "ok", Some(h0 ^ (1L << 40))),
        ImageHash(4L, "ok", Some(0x5555L))).toDS().toDF()
      .select(col("img_id"), col("phash"))
    val refHs = Seq(ImageHash(10L, "ok", Some(h0)),
        ImageHash(11L, "ok", Some(h0 ^ (1L << 2) ^ (1L << 20))),
        ImageHash(12L, "ok", Some(0x7777777777777L))).toDS().toDF()
      .select(col("img_id"), col("phash"))
    val got = ImageDedup.phashNearDupAcross(newHs, refHs, maxHamming = 3)
      .orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // Brute force over the 4×3 cross pairs.
    val newV = Seq(1L -> h0, 2L -> h0, 3L -> (h0 ^ (1L << 40)), 4L -> 0x5555L)
    val refV = Seq(10L -> h0, 11L -> (h0 ^ (1L << 2) ^ (1L << 20)),
      12L -> 0x7777777777777L)
    val brute = (for {
      (n, hn) <- newV; (r, hr) <- refV
      d = java.lang.Long.bitCount(hn ^ hr) if d <= 3
    } yield (n, r, d)).sortBy(p => (p._1, p._2))
    assert(got == brute)
    graft.engine.Caches.release()
  }

  test("persisted phash index (build + append) is bit-equal to the inline cross dedup") {
    import spark.implicits._
    val d = docs(37L to 59L: _*)
    val refHs = ImageDedup.phashImages(spark,
        ImageDedup.texturedBases(spark, d)).toDF()
      .filter(col("phash").isNotNull)
      .select(col("img_id"), col("phash")).cache()
    val newHs = ImageDedup.phashImages(spark,
        ImageDedup.texturedTwins(spark, d)).toDF()
      .filter(col("phash").isNotNull)
      .select(col("img_id"), col("phash")).cache()
    // The subset generators must reproduce exactly texturedMedia's split.
    val all = ImageDedup.phashImages(spark,
      ImageDedup.texturedMedia(spark, d)).toDF()
      .filter(col("phash").isNotNull)
      .select(col("img_id"), col("phash"))
    assert(all.filter(col("img_id") < ImageDedup.BrightTwinOffset)
      .except(refHs).isEmpty && refHs.except(
        all.filter(col("img_id") < ImageDedup.BrightTwinOffset)).isEmpty)
    assert(all.filter(col("img_id") >= ImageDedup.BrightTwinOffset)
      .except(newHs).isEmpty && newHs.except(
        all.filter(col("img_id") >= ImageDedup.BrightTwinOffset)).isEmpty)
    val dir = s"${graft.engine.Sinks.scratch}/dedup_spec_phash"
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    assertThrows[IllegalArgumentException] {
      ImageDedup.phashNearDupAcrossFromIndex(newHs, dir)
    }
    assertThrows[IllegalArgumentException] {
      ImageDedup.appendToPhashIndex(refHs, dir)
    }
    ImageDedup.buildPhashIndex(refHs.filter(col("img_id") % 2 === 0), dir)
    ImageDedup.appendToPhashIndex(refHs.filter(col("img_id") % 2 === 1), dir)
    assert(graft.engine.Manifests.exists(spark, dir))
    val fromIndex = ImageDedup.phashNearDupAcrossFromIndex(newHs, dir,
      maxHamming = 3).orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val inline = ImageDedup.phashNearDupAcross(newHs, refHs, maxHamming = 3)
      .orderBy("new_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inline.nonEmpty, "fixture must contain cross near-dups")
    assert(fromIndex == inline)
    refHs.unpersist(); newHs.unpersist()
    graft.engine.Caches.release()
  }

  test("multimodal curation: corrupt images quarantine their documents; quality floor holds") {
    val out = SparkEntry.queries("q145_multimodal_curation")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val ids = out.map(_.getLong(0)).toSet
    // Every doc whose image is corrupt (id % 37 == 0) must be dropped —
    // an undecodable image quarantines the training example.
    assert((0L until 500L).filter(_ % 37 == 0).forall(i => !ids.contains(i)))
    assert(out.forall(_.getDouble(2) >= 0.5))
    graft.engine.Caches.release()
  }
}
