package graft

/** Cache lifecycle gate: after ANY SparkEntry query's action plus one
  * `Caches.release()`, the SparkContext must carry zero persisted RDDs
  * beyond what existed before the query — i.e. every operator-internal
  * persist is either unpersisted eagerly by its operator or registered
  * for deferred release. A 92-query session must not accumulate dead
  * caches in the block manager (eviction churn + disk pressure at
  * cluster scale).
  *
  * Runs the FULL query surface at sf0.001 on the shared session, which
  * carries the production extensions (the custom-plan queries need the
  * injected strategy/rule). Persistent-RDD ids are compared against a
  * pre-query snapshot because the context is shared with other suites
  * in the same JVM.
  */
class CacheHygieneSpec extends SparkSpec {

  test("every query + release leaves no new persisted RDDs behind") {
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        try fn(spark, sf).count()
        catch { case e: Throwable =>
          fail(s"$name failed to run at sf0.001: $e")
        }
        graft.engine.Caches.release()
        val after = spark.sparkContext.getPersistentRDDs.keySet -- before
        if (after.nonEmpty) Some(s"$name leaked RDDs $after") else None
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
