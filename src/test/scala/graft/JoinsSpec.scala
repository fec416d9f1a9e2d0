package graft

import org.apache.spark.scheduler.SparkListenerStageCompleted
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Joins

/** Salted-join semantics: bit-identical to the plain join (including
  * many-to-many multiplicity) while spreading a hot key over reducers. */
class JoinsSpec extends SparkSpec {

  // Heavy-tailed probe: one key with 5000 rows, 100 cold keys with 10 each.
  private def skewedProbe = {
    import spark.implicits._
    val hot = (0 until 5000).map(i => (0L, i.toLong))
    val cold = for (k <- 1 to 100; i <- 0 until 10) yield (k.toLong, i.toLong)
    (hot ++ cold).toDF("okey", "payload")
  }

  // Build side with DUPLICATE keys so many-to-many multiplicity is tested.
  private def build = {
    import spark.implicits._
    (0 to 100).flatMap(k => Seq((k.toLong, s"a$k"), (k.toLong, s"b$k")))
      .toDF("okey", "attr")
  }

  test("AQE skew-join splits the hot partition (the documented salting alternative)") {
    import spark.implicits._
    // The q44 salting path handles skew manually; Joins.scala documents
    // AQE's skew split as the runtime alternative — assert it actually
    // fires. Thresholds tuned down so the 5000-row hot key qualifies.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // Measured precondition for the skew assertion: the thresholds
    // above are byte values against COMPRESSED shuffle blocks, so a
    // future compression-codec or Spark-version change could shrink
    // the hot partition below the 32KB skew threshold and flip the
    // assertion to flaky. Capture the join's actual shuffle-write
    // bytes from its stages' completions and `assume` the regime
    // holds — an environmental shift then reads as a canceled
    // precondition naming the measured bytes, not a spurious failure.
    try {
      // Fatter, INCOMPRESSIBLE payload (shuffle blocks are compressed;
      // 5000 identical pads would deflate below any threshold).
      val left = skewedProbe.withColumn("pad",
        concat(md5(col("payload").cast("string")),
          md5(concat(col("payload").cast("string"), lit("x"))),
          md5(concat(col("payload").cast("string"), lit("y"))),
          md5(concat(col("payload").cast("string"), lit("z")))))
      val df = left.join(build, "okey")
      // collect() on THIS frame so its AdaptiveSparkPlan finalizes
      // (count() would execute a separate QueryExecution).
      val (n, events) = SparkEvents.during(spark.sparkContext)(df.collect().length)
      assert(n == (5000 + 100 * 10) * 2)
      // The hot key owns ~5000/6000 of the probe side's bytes, so
      // "total written >= 6x the 32KB skew threshold" guarantees the
      // hot partition sits comfortably above it.
      val shuffleBytes = events.collect { case s: SparkListenerStageCompleted =>
        s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten }.sum
      assume(shuffleBytes >= 6L * 32 * 1024,
        s"compressed shuffle blocks measured $shuffleBytes bytes — " +
          "below the regime the 32KB skew threshold was tuned for " +
          "(codec/version shift); retune the thresholds, don't chase flakes")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join split (skew=true) in:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("salted inner join is multiset-equal to the plain inner join") {
    val plain = skewedProbe.join(build, Seq("okey"))
      .select("okey", "payload", "attr")
    val salted = Joins.saltedInner(skewedProbe, build, "okey", salt = 8)
      .select("okey", "payload", "attr")
    // exceptAll both ways = multiset equality (duplicates counted).
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    assert(plain.count() == (5000L + 100L * 10L) * 2L)
  }

  test("the hot key's rows land on multiple reducers") {
    // Post-join partitioning is the (okey, _salt) exchange, so the hot
    // key must span >1 partition — the entire point of salting. A plain
    // join puts every hot-key row in exactly one partition. Broadcast
    // would sidestep the exchange and AQE coalescing could re-merge the
    // tiny test partitions, so both are pinned off for the assertion
    // (at scale a large×large join shuffles regardless).
    def hotSpread(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("okey") === 0L)
        .select(spark_partition_id().as("pid")).distinct().count()
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val salted = Joins.saltedInner(skewedProbe, build, "okey", salt = 8)
      assert(hotSpread(salted) > 1, "salting must spread the hot key")
      val plain = skewedProbe.join(build, Seq("okey"))
      assert(hotSpread(plain) == 1, "unsalted shuffle join pins a key to one reducer")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  // ---------------------------------------------------------------- as-of

  // Dense tie territory: 10 keys × timestamps drawn from only 50 values,
  // so equal-timestamp matches (inclusive bound) and equal-timestamp
  // right-side ties (struct tiebreak) both occur many times.
  private def asofSides = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val left = (0 until 300).map(i =>
      (rng.nextInt(10).toLong, rng.nextInt(50).toLong, i.toLong))
      .toDF("k", "lts", "lid")
    val right = (0 until 300).map(i =>
      (rng.nextInt(10).toLong, rng.nextInt(50).toLong, 1000L + i))
      .toDF("k", "rts", "rid")
    (left, right)
  }

  test("asofBackward equals the naive range-join + argmax (ties included)") {
    val (left, right) = asofSides
    val got = Joins.asofBackward(left, right, "k", "lts", "rts")
      .select("k", "lts", "lid", "rts", "rid")
    val w = Window.partitionBy("lid")
      .orderBy(col("rts").desc_nulls_last, col("rid").desc_nulls_last)
    val naive = left
      .join(right.withColumnRenamed("k", "rk"),
        col("k") === col("rk") && col("rts") <= col("lts"), "left")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("k", "lts", "lid", "rts", "rid")
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    // LEFT semantics: exactly one output row per left row, matched or not.
    assert(got.count() == left.count())
    assert(got.where(col("rts").isNull).count() > 0,
      "test data must exercise the unmatched-left path")
  }

  test("asofForward equals the naive range-join + argmin (ties included)") {
    val (left, right) = asofSides
    val got = Joins.asofForward(left, right, "k", "lts", "rts")
      .select("k", "lts", "lid", "rts", "rid")
    // Earliest at-or-after; among equal-ts rights the max payload struct
    // wins, mirroring the backward convention.
    val w = Window.partitionBy("lid")
      .orderBy(col("rts").asc_nulls_last, col("rid").desc_nulls_last)
    val naive = left
      .join(right.withColumnRenamed("k", "rk"),
        col("k") === col("rk") && col("rts") >= col("lts"), "left")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("k", "lts", "lid", "rts", "rid")
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    assert(got.count() == left.count())
    assert(got.where(col("rts").isNull).count() > 0,
      "test data must exercise the unmatched-left path")
  }

  test("asofBackwardSkewSafe == asofBackward on the dense-tie fixture") {
    // Ties at slice boundaries are the dangerous case; slice is a
    // function of ts, so equal-ts groups can never straddle two slices.
    val (left, right) = asofSides
    val got = Joins.asofBackwardSkewSafe(left, right, "k", "lts", "rts",
      slices = 8).select("k", "lts", "lid", "rts", "rid")
    val want = Joins.asofBackward(left, right, "k", "lts", "rts")
      .select("k", "lts", "lid", "rts", "rid")
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }

  test("asofBackwardSkewSafe spreads a 90%-single-key fixture over >1 window partition") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // The shape that serializes the plain construction: one dominant key
    // owning 90% of both sides' history.
    def side(n: Int, idBase: Long) = (0 until n).map { i =>
      val k = if (rng.nextInt(10) < 9) 0L else 1L + rng.nextInt(5).toLong
      (k, rng.nextInt(100000).toLong, idBase + i)
    }
    val left = side(2000, 0L).toDF("k", "lts", "lid")
    val right = side(2000, 100000L).toDF("k", "rts", "rid")
    val slices = 16
    val got = Joins.asofBackwardSkewSafe(left, right, "k", "lts", "rts",
      slices).select("k", "lts", "lid", "rts", "rid")
    val want = Joins.asofBackward(left, right, "k", "lts", "rts")
      .select("k", "lts", "lid", "rts", "rid")
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
    // The hot key must actually occupy >1 (key, slice) window partition:
    // replicate the operator's slice assignment and count.
    val b = left.select(col("lts").as("ts"))
      .unionByName(right.select(col("rts").as("ts")))
      .agg(min("ts"), max("ts")).head()
    val width = math.max(1L, (b.getLong(1) - b.getLong(0)) / slices + 1)
    val hotSlices = left.where(col("k") === 0L)
      .select((((col("lts") - b.getLong(0)) / width).cast("int")).as("s"))
      .distinct().count()
    assert(hotSlices > 1, s"hot key collapsed to $hotSlices slice(s)")
    // And the plan's windows must partition on (_k, _slice), i.e. the
    // hot key's sort is split across reducers, not serialized.
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("_slice"), s"no slice in window partitioning:\n$plan")
  }

  test("asofBackwardSkewSafe on empty input matches the plain left semantics") {
    import spark.implicits._
    val left = Seq.empty[(Long, Long, Long)].toDF("k", "lts", "lid")
    val right = Seq.empty[(Long, Long, Long)].toDF("k", "rts", "rid")
    assert(Joins.asofBackwardSkewSafe(left, right, "k", "lts", "rts").count() == 0)
  }

  test("asofBackward plans a window, not a join") {
    val (left, right) = asofSides
    val plan = Joins.asofBackward(left, right, "k", "lts", "rts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan any join:\n$plan")
    assert(plan.contains("Window"), s"expected a window exec:\n$plan")
  }

  test("asofForward plans a window, not a join") {
    val (left, right) = asofSides
    val plan = Joins.asofForward(left, right, "k", "lts", "rts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan any join:\n$plan")
    assert(plan.contains("Window"), s"expected a window exec:\n$plan")
  }

  // ------------------------------------------------------- interval join

  test("binnedIntervalJoin equals the naive cross-filter, overlapping and empty intervals included") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val points = (0 until 400).map(i =>
      (i.toLong, rng.nextLong(1000000000L))).toDF("pid", "us")
      .select(col("pid"), timestamp_micros(col("us")).as("ts"))
    val intervals = (0 until 60).map { i =>
      val s = rng.nextLong(1000000000L)
      // ~1/6 empty ([s, s)); the rest up to ~50 s long (bins are 7 s wide,
      // so intervals span multiple bins and never align to the grid).
      val len = if (i % 6 == 0) 0L else rng.nextLong(50000000L)
      (1000L + i, s, s + len)
    }.toDF("iid", "s_us", "e_us")
      .select(col("iid"), timestamp_micros(col("s_us")).as("w_start"),
        timestamp_micros(col("e_us")).as("w_end"))
    val got = Joins.binnedIntervalJoin(points, "ts", intervals,
      "w_start", "w_end", binSeconds = 7).select("pid", "iid")
    val naive = points.crossJoin(intervals)
      .where(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "iid")
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    assert(naive.count() > 0, "test data must produce matches")
  }

  test("binnedIntervalJoin plans an equi-join, never a nested loop") {
    import spark.implicits._
    val points = Seq((1L, 1000000L)).toDF("pid", "us")
      .select(col("pid"), timestamp_micros(col("us")).as("ts"))
    val intervals = Seq((9L, 0L, 2000000L)).toDF("iid", "s_us", "e_us")
      .select(col("iid"), timestamp_micros(col("s_us")).as("w_start"),
        timestamp_micros(col("e_us")).as("w_end"))
    val plan = Joins.binnedIntervalJoin(points, "ts", intervals,
      "w_start", "w_end", binSeconds = 60)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"interval join must stay an equi-join:\n$plan")
  }

  // ---- Bloom-pruned semi-join reduction ----

  // Probe keys 0..999 ×3 rows; build covers only 0..49 (with duplicates,
  // so many-to-many multiplicity is exercised).
  private def wideProbe = {
    import spark.implicits._
    (for (k <- 0 until 1000; i <- 0 until 3) yield (k.toLong, i.toLong))
      .toDF("okey", "payload")
  }
  private def smallBuild = {
    import spark.implicits._
    (0 until 50).flatMap(k => Seq((k.toLong, s"a$k"), (k.toLong, s"b$k")))
      .toDF("okey", "attr")
  }

  test("bloomPrunedInner is multiset-equal to the plain inner join") {
    val plain = wideProbe.join(smallBuild, Seq("okey"))
      .select("okey", "payload", "attr")
    val pruned = Joins.bloomPrunedInner(wideProbe, smallBuild, "okey",
      expectedItems = 1000L)
      .select("okey", "payload", "attr")
    assert(pruned.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(pruned).count() == 0)
    assert(plain.count() == 50L * 3L * 2L)
  }

  test("the bloom filter prunes the probe before the join and keeps every match") {
    // LocalRelation probes get filters constant-folded at plan time
    // (ConvertToLocalRelation) — a Range probe keeps the runtime Filter
    // visible, as a parquet scan would.
    val rangeProbe = spark.range(1000).withColumnRenamed("id", "okey")
    val pruned = Joins.bloomPrunedInner(rangeProbe, smallBuild, "okey",
      expectedItems = 1000L, fpp = 0.01)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"probe side must carry the bloom predicate:\n$plan")
    // The predicate itself: every build key passes (no false negatives);
    // absent keys pass at ≤ fpp — survivors ≈ 150 matches + ~1% of the
    // 2850 non-matching rows, far under the unpruned 3000.
    val survivors =
      wideProbe.where(Joins.bloomKeyFilter(smallBuild, "okey", 1000L, 0.01))
        .count()
    assert(survivors >= 150L, "a bloom filter must never drop a match")
    assert(survivors < 600L,
      s"bloom pruning should cut the probe to near the match rate, got $survivors")
  }

  test("empty build side yields an empty result with the joined schema") {
    val empty = Joins.bloomPrunedInner(wideProbe,
      smallBuild.where(lit(false)), "okey", expectedItems = 10L)
    assert(empty.columns.toSeq == Seq("okey", "payload", "attr"))
    assert(empty.count() == 0)
  }
}
