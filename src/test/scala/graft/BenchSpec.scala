package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-consistency guards for the bench harness: tiers and
  * fixtures live on the `QuerySpec` records, but the oracle map is kept
  * beside them in `SparkOracles`, and the registry order is part of the
  * bench ledger context. Pure bookkeeping assertions — no SparkSession. */
class BenchSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keySet

  test("every registered query follows qNN_name and maps to a tier") {
    names.foreach { n =>
      assert(Bench.queryNum(n) > 0,
        s"query '$n' does not follow the qNN_ naming convention — " +
          "the compact bench summary keys queries by that number")
      assert(Set("core", "ingest_sink", "extension")(Bench.tierOf(n)))
    }
  }

  test("query numbers are unique (the compact bench keys depend on it)") {
    // The stdout summary keys queries by their qNN prefix; a duplicate
    // number would make two suite entries collide in the artifact.
    val dup = names.groupBy(Bench.queryNum).filter(_._2.size > 1)
    assert(dup.isEmpty, s"duplicate query numbers: $dup")
  }

  test("every oracle entry names a registered query") {
    val stale = SparkEntry.oracleSql.keySet.diff(names)
    assert(stale.isEmpty, s"oracleSql keys with no query: $stale")
  }

  test("every query has an oracle OR a documented exemption — never silence") {
    // The exemption list is retired (it stood empty since every query
    // gained an oracle), so "documented exemption" is the empty set:
    // every registered query must carry oracle SQL.
    val unoracled = names.diff(SparkEntry.oracleSql.keySet)
    assert(unoracled.isEmpty, s"queries without an oracle: $unoracled")
  }

  test("registry split invariants: no duplicate keys, segment order preserved") {
    // queries is a ListMap over the specs: a name registered twice
    // would be silently deduplicated by the ListMap (last wins) AND
    // shift every later query's bench position — fail loudly instead.
    val keys = SparkEntry.specs.map(_.name)
    val extKeys = SparkQueriesExt.specs.map(_.name)
    assert(keys.distinct == keys, "duplicate query name in the registry")
    assert(SparkEntry.queries.keys.toSeq == keys)
    // Order contract: the ext segment is APPENDED after the core one,
    // exactly the pre-split registration order (bench reads queries in
    // map order; per-query ledger context depends on it). Pin the
    // boundary and the segment's internal order.
    val coreCount = keys.size - extKeys.size
    assert(keys.drop(coreCount) == extKeys,
      "ext segment must be the map's tail, in its own registration order")
    // The historical boundary: q86 closes the core segment, q148 opens
    // the ext segment (the pre-split adjacency).
    assert(keys(coreCount - 1) == "q86_incremental_agg" &&
      keys(coreCount) == "q148_minhash_stored_dedup")
  }

  test("stdout summary stays under 1.5 KB with 300 queries all flagged and erroring") {
    // The round artifact keeps only the last ~2 KB of captured stdout;
    // BENCH_r09.json lost its summary ("parsed": null) when the compact
    // line outgrew that window at 134 queries + 22 flags. The summary
    // is now aggregates-only with hard caps — pin the worst case so
    // suite growth can never regress it again.
    val flags = (1 to 300).map { i =>
      Bench.Flag(f"q$i%03d_very_long_operator_name_padding", 123.456789,
        Bench.RunStats(9876.54, 31234.56, 987.65, 765.43, -432.1, 100.0, None),
        Bench.RunStats(8765.43, 29876.54, 876.54, 654.32, 321.0, 99.0, None))
    }
    val errors = (1 to 300).map { i =>
      f"q$i%03d_very_long_operator_name_padding" ->
        ("java.lang.RuntimeException: " + "x" * 300)
    }
    val tiers = Seq("core" -> 99999.99, "extension" -> 99999.99,
      "ingest_sink" -> 99999.99)
    val line = Bench.compactSummary(299999.97, 300, tiers, flags, errors,
      "/root/testdata/sf0.1", "BENCH_FULL.json")
    assert(!line.contains("\n"), "summary must be a single line")
    assert(line.length < 1500,
      s"stdout summary is ${line.length} bytes — it no longer fits the " +
        "~2 KB artifact tail window that truncated BENCH_r09")
    // The aggregate contract the driver parses must survive the caps.
    Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"",
      "\"n_queries\":300", "\"tiers\":", "\"flagged\":", "\"flagged_more\":290",
      "\"errors\":", "\"errors_more\":295", "\"queries_file\":", "\"sf\":")
      .foreach(k => assert(line.contains(k), s"summary lost key fragment $k"))
  }

  test("adjusted() substitutes retime walls, skips failed retimes, appends missing tiers") {
    def flag(name: String, first: Double, retime: Double) =
      Bench.Flag(name, 1.0,
        Bench.RunStats(first, 0, 0, 0, 0, 0, None),
        Bench.RunStats(retime, 0, 0, 0, 0, 0, None))
    // Zero flags: identity.
    val tiers = Seq("core" -> 10.0, "extension" -> 20.0)
    assert(Bench.adjusted(30.0, tiers, Nil) == ((30.0, tiers)))
    // q05 is core (first 6 → retime 2: delta −4), q23 is extension
    // (first 8 → retime 3: delta −5); totals and tiers move together.
    val (t1, ts1) = Bench.adjusted(30.0, tiers,
      Seq(flag("q05_ranking", 6.0, 2.0), flag("q23_ngram_jaccard", 8.0, 3.0)))
    assert(math.abs(t1 - 21.0) < 1e-9)
    val m1 = ts1.toMap
    assert(m1("core") == 6.0 && m1("extension") == 15.0)
    // A failed retime (sec = -1) must keep the first-run wall.
    val (t2, ts2) = Bench.adjusted(30.0, tiers, Seq(flag("q05_ranking", 6.0, -1.0)))
    assert(t2 == 30.0 && ts2 == tiers)
    // A flag whose tier is absent from the input appends it (raw 0),
    // preserving adjusted_total == sum(adjusted_tiers).
    val (t3, ts3) = Bench.adjusted(30.0, Seq("core" -> 10.0),
      Seq(flag("q23_ngram_jaccard", 8.0, 3.0)))
    assert(math.abs(t3 - 25.0) < 1e-9)
    assert(ts3.toMap.get("extension").contains(-5.0))
    assert(math.abs(ts3.map(_._2).sum - (10.0 - 5.0)) < 1e-9)
  }

  test("summary carries the flag_schema pointer exactly when flags exist") {
    val f = Bench.Flag("q05_x", 1.0,
      Bench.RunStats(6.0, 0, 0, 0, 0, 0, None),
      Bench.RunStats(2.0, 0, 0, 0, 0, 0, None))
    val flagged = Bench.compactSummary(30.0, 1, Seq("core" -> 30.0),
      Seq(f), Nil, "sf", "BENCH_FULL.json")
    assert(flagged.contains("\"flag_schema\":\"BENCH_NOTES.md#flag-vector\""))
    val clean = Bench.compactSummary(30.0, 1, Seq("core" -> 30.0),
      Nil, Nil, "sf", "BENCH_FULL.json")
    assert(!clean.contains("flag_schema"))
  }

  test("flagged entries are worst-first and carry the twelve-number vitals vector") {
    val mild = Bench.Flag("q01_mild", 10.0,
      Bench.RunStats(21.0, 300.0, 2.0, 1.0, 10.0, 50.0, None),
      Bench.RunStats(11.0, 299.0, 1.0, 0.5, 2.0, 40.0, None))
    val severe = Bench.Flag("q02_severe", 1.0,
      Bench.RunStats(8.1, 15.2, 0.3, 70.1, 33.4, 98.6, None),
      Bench.RunStats(10.85, 15.0, 0.2, 1.2, -30.0, 97.4, None))
    val line = Bench.compactSummary(29.1, 2, Seq("core" -> 29.1),
      Seq(mild, severe), Nil, "sf", "BENCH_FULL.json")
    // severe (8.1x) must outrank mild (2.1x) so a cap keeps the signal.
    assert(line.indexOf("\"q02\"") < line.indexOf("\"q01\""))
    // [ratio, retime_ratio, cpu, gc, re_cpu, re_gc, jit, re_jit,
    //  cc_mb, re_cc_mb, busy%, re_busy%] — jit/cc settle the
    // cpu-inflated positional-JIT mode; busy% settles host storms.
    assert(line.contains(
      "\"q02\":[8.10,10.85,15.20,0.30,15.00,0.20,70.10,1.20,33,-30,99,97]"))
  }

  test("a flagged run never overwrites a zero-flag canonical record") {
    val clean = Some("""{"metric":"total","value":1.0,"flagged":{},"sf":"sf"}""")
    val noisy = Some("""{"metric":"total","value":9.0,"flagged":{"q05_x":{}},"sf":"sf"}""")
    def targets(flagged: Boolean, existing: Option[String]) =
      Bench.fullTargets("BENCH_FULL.json", "32", flagged, existing)
    assert(targets(false, clean) ==
      Seq("BENCH_FULL_c32.json", "BENCH_FULL.json"))
    assert(targets(true, None) == Seq("BENCH_FULL_c32.json",
      "BENCH_FULL.json", "BENCH_FULL_c32_FLAGGED.json"))
    assert(targets(true, noisy) == Seq("BENCH_FULL_c32.json",
      "BENCH_FULL.json", "BENCH_FULL_c32_FLAGGED.json"))
    // Flagged over clean: the canonical file is untouched, and the
    // summary's queries_file (the head) names the copy that holds this run.
    assert(targets(true, clean) ==
      Seq("BENCH_FULL_c32_FLAGGED.json", "BENCH_FULL.json"))
  }
}
