package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup
import graft.streaming.IncrementalIngest

/** Stored-index compaction: query results bit-equal before/after,
  * fewer files after, duplicate-gram payoff, and refusal on a missing
  * index. */
class IndexCompactionSpec extends SparkSpec {

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def dataFiles(dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).count { st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")
      }
  }

  test("minhash index: compaction keeps query results bit-equal and shrinks files") {
    val dir = s"${graft.engine.Sinks.scratch}/compaction_minhash"
    IncrementalIngest.deleteDir(spark, dir)
    Dedup.buildMinhashIndex(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      dir, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
    // Several appends -> several small files per table.
    Seq(df(2L -> "one two three four five six seven eight"),
        df(3L -> "red orange yellow green blue indigo violet pink"),
        df(4L -> "cat dog fox wolf bear lion tiger puma"))
      .foreach(Dedup.appendToMinhashIndex(_, dir, "doc_id", "text"))
    val probe = df(
      101L -> "alpha beta gamma delta epsilon zeta eta zzz",
      102L -> "red orange yellow green blue indigo violet zzz")
    def query() = Dedup.minhashNearDupFromIndex(probe, dir,
      "doc_id", "text", 0.5).orderBy("new_id", "ref_id").collect().toSeq
    val before = query()
    assert(before.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((101L, 1L), (102L, 3L)), "sanity: probes match their sources")
    // Files of a table = data files across the LIVE snapshot's segments
    // (the manifest layout spreads appends over immutable segments).
    def tableFiles(table: String): Int =
      graft.engine.Manifests.snapshot(spark, dir).get
        .paths(table).map(dataFiles).sum
    val filesBefore = tableFiles("sh") + tableFiles("bands")
    graft.engine.Caches.release()
    graft.engine.Manifests.compact(spark, dir, "MinHash index")
    assert(graft.engine.Manifests.exists(spark, dir), "version re-published")
    assert(query() == before, "compacted index must answer bit-equally")
    val filesAfter = tableFiles("sh") + tableFiles("bands")
    assert(filesAfter < filesBefore,
      s"compaction must shrink file counts: $filesBefore -> $filesAfter")
    assert(filesAfter == 2, "tiny index compacts to one file per table")
    graft.engine.Caches.release()
  }

  test("gram index: compaction pays down append-tolerated duplicate grams") {
    val dir = s"${graft.engine.Sinks.scratch}/compaction_grams"
    IncrementalIngest.deleteDir(spark, dir)
    val eval1 = df(100L -> "SECRET BENCHMARK ANSWER")
    Dedup.buildGramIndex(eval1, dir, "doc_id", "text", k = 6)
    // Appending the SAME eval corpus twice duplicates its grams — the
    // documented append tolerance this compaction exists to pay down.
    Dedup.appendToGramIndex(eval1, dir, "doc_id", "text")
    Dedup.appendToGramIndex(eval1, dir, "doc_id", "text")
    val train = df(1L -> "x SECRET BENCHMARK y", 2L -> "clean doc")
    def run() = Dedup.exciseFromGramIndex(train, dir, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def gramRows(): Long = graft.engine.Manifests.snapshot(spark, dir).get
      .read(spark, "grams").count()
    val before = run()
    val rowsBefore = gramRows()
    graft.engine.Caches.release()
    graft.engine.Manifests.compact(spark, dir, "eval-gram index")
    assert(run() == before, "compacted gram index must excise bit-equally")
    val rowsAfter = gramRows()
    assert(rowsAfter * 3 == rowsBefore,
      s"triple-appended grams must dedup 3:1 ($rowsBefore -> $rowsAfter)")
    graft.engine.Caches.release()
  }

  test("phash index: compaction keeps query results bit-equal and shrinks files") {
    import spark.implicits._
    val dir = s"${graft.engine.Sinks.scratch}/compaction_phash"
    IncrementalIngest.deleteDir(spark, dir)
    def hs(rows: (Long, Long)*) = rows.toDF("img_id", "phash")
    graft.operators.ImageDedup.buildPhashIndex(hs(1L -> 0L), dir)
    graft.operators.ImageDedup.appendToPhashIndex(
      hs(2L -> 0xFF00FF00FF00FF00L), dir)
    graft.operators.ImageDedup.appendToPhashIndex(
      hs(3L -> 0x0F0F0F0F0F0F0F0FL), dir)
    val probe = hs(101L -> 3L) // hamming 2 from ref 1, far from 2 and 3
    def query() = graft.operators.ImageDedup
      .phashNearDupAcrossFromIndex(probe, dir, maxHamming = 3)
      .orderBy("new_id", "ref_id").collect().toSeq
    def hashFiles(): Int = graft.engine.Manifests.snapshot(spark, dir).get
      .paths("hashes").map(dataFiles).sum
    val before = query()
    assert(before.map(_.getLong(1)) == Seq(1L))
    val filesBefore = hashFiles()
    graft.engine.Caches.release()
    graft.engine.Manifests.compact(spark, dir, "pHash index")
    assert(graft.engine.Manifests.exists(spark, dir))
    assert(query() == before, "compacted phash index must answer bit-equally")
    assert(hashFiles() < filesBefore)
    graft.engine.Caches.release()
  }

  test("compaction refuses an incomplete index") {
    val dir = s"${graft.engine.Sinks.scratch}/compaction_refusal"
    IncrementalIngest.deleteDir(spark, dir)
    assertThrows[IllegalArgumentException] {
      graft.engine.Manifests.compact(spark, dir, "MinHash index")
    }
    assertThrows[IllegalArgumentException] {
      graft.engine.Manifests.compact(spark, dir, "eval-gram index")
    }
  }
}
