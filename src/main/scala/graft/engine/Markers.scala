package graft.engine

import org.apache.spark.sql.SparkSession

/** The completion-marker lifecycle of the two artifacts that are not
  * versioned [[Manifests]] stores: [[graft.streaming.DriftMonitor]]'s
  * reference state and the [[ScaleData]] ×k corpus (the ANN, dedup and
  * BPE stores commit through [[Manifests]]). A marker file is committed
  * strictly AFTER the builder's whole write sequence returns, dropped
  * for the duration of any mutation — so a crash anywhere inside a
  * build or append leaves a VISIBLY incomplete directory (rebuild),
  * never a silently partial artifact behind a valid gate. Centralized
  * because hand-rolled copies of this gate have drifted before
  * (round-10 review finding on the fixture gate; round-13 review
  * found three fresh copies — this object replaces them). */
object Markers {

  def path(dir: String, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir, name)

  def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff `dir` carries a committed `name` marker. */
  def exists(spark: SparkSession, dir: String, name: String): Boolean =
    fs(spark, dir).exists(path(dir, name))

  /** Run `mutate` inside the marker window: drop the marker (visible
    * incompleteness from the first moment state can change), run the
    * mutation, re-commit the marker only after it returned. Used for
    * both initial builds and appends. */
  def gated(spark: SparkSession, dir: String, name: String)
      (mutate: => Unit): Unit = {
    val f = fs(spark, dir)
    f.delete(path(dir, name), false)
    mutate
    f.create(path(dir, name), true).close()
  }
}
