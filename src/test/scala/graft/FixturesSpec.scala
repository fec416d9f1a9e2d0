package graft

import org.apache.spark.sql.functions._

import graft.engine.Fixtures

/** The build-once fixture gate's key scheme: content-keyed artifacts
  * must MISS on changed values (any component, not just the first) and
  * must never be served from the in-JVM memo; pure-id artifacts memoize
  * under the documented immutable-ids assumption. */
class FixturesSpec extends SparkSpec {

  private def sig = pmod(
    xxhash64(concat_ws(",", col("embedding").cast("array<string>"))),
    lit(1000000007L))

  private def frame(second: Float) = {
    import spark.implicits._
    Seq((1L, Array(1.0f, second, 3.0f)), (2L, Array(4.0f, 5.0f, 6.0f)))
      .toDF("vec_id", "embedding")
  }

  /** Scratch roots survive across JVMs (that is the point of the
    * fixture gate) — each test wipes its own root so the build-count
    * assertions hold on re-runs too. */
  private def cleanRoot(root: String): Unit =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)

  test("changed non-first embedding component misses the fixture cache") {
    val root = s"${graft.engine.Sinks.scratch}/fixtures_spec_content"
    cleanRoot(root)
    var builds = 0
    def ensure(df: org.apache.spark.sql.DataFrame): String =
      Fixtures.ensure(spark, df, "vec_id", root, "idx",
        memoKey = Some("same-source"), contentSig = Some(sig)) { _ =>
        builds += 1
      }
    val d1 = ensure(frame(2.0f))
    // Same ids, same values, same memoKey: completed marker gates the
    // rebuild even though the memo is bypassed for content-keyed kinds.
    val d2 = ensure(frame(2.0f))
    assert(d1 == d2 && builds == 1)
    // Same ids (count+max identical), same memoKey, DIFFERENT second
    // component: the exact staleness the signature exists to prevent —
    // must land in a fresh dir and rebuild, not serve d1 via the memo.
    val d3 = ensure(frame(2.5f))
    assert(d3 != d1, "changed component-2 data was served a stale fixture")
    assert(builds == 2)
  }

  test("pure-id artifacts memoize; the completion marker still gates deletions") {
    val root = s"${graft.engine.Sinks.scratch}/fixtures_spec_ids"
    cleanRoot(root)
    var builds = 0
    def ensure(): String =
      Fixtures.ensure(spark, frame(2.0f), "vec_id", root, "media",
        memoKey = Some("src"), contentSig = None) { _ => builds += 1 }
    val d1 = ensure()
    assert(ensure() == d1 && builds == 1)
    // External scratch cleanup mid-JVM: the memo hit re-probes the
    // marker and rebuilds instead of returning a dangling path.
    val fs = new org.apache.hadoop.fs.Path(d1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d1), true)
    assert(ensure() == d1 && builds == 2)
  }

  test("an interrupted build is wiped before the retry — version numbers restart, not stack") {
    val root = s"${graft.engine.Sinks.scratch}/fixtures_spec_interrupted"
    cleanRoot(root)
    def ensure(fail: Boolean): String =
      Fixtures.ensure(spark, frame(2.0f), "vec_id", root, "idx",
        memoKey = None, contentSig = Some(sig)) { dir =>
        // A manifest-protocol artifact: the build PUBLISHES versions as
        // it goes, so a retry on a non-wiped dir would stack v3/v4 on
        // top and GC the v1 a time-travel pin targets.
        graft.engine.Manifests.build(spark, dir)(_.write("t", frame(2.0f)))
        if (fail) throw new RuntimeException("interrupted mid-build")
        graft.engine.Manifests.append(spark, dir)(_.write("t2", frame(2.0f)))
      }
    intercept[RuntimeException] { ensure(fail = true) }
    val dir = ensure(fail = false)
    // The retried build must start from version 1 on a clean dir —
    // the interrupted attempt's published v1 must not survive as
    // history under the completed artifact.
    assert(graft.engine.Manifests.earliestVersion(spark, dir).contains(1L))
    assert(graft.engine.Manifests.liveVersion(spark, dir).contains(2L),
      "retry must see a wiped dir: exactly the build+append commits")
  }
}
