package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`tools/oracle_check.py`), and verify_failures.json: query name →
  * error of every run that failed (`{}` when none did, so a file left by
  * an earlier run cannot mislead). Each write is the action of one
  * [[Bench.measure]] run, which releases the query's caches after it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional 3rd arg (dev only): comma-separated query-name filter.
    val only = rest.headOption.map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        Bench.measure(spark)(fn(spark, sfDir))(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
          .err.map { e =>
            System.err.println(s"[verify] $name failed: $e")
            name -> e
          }
      }
    // Bench.jstr escapes every control char: a tab or CR in an oracle's
    // SQL or an error must not make the artifact unparseable.
    import Bench.jstr
    def writeJson(file: String, kvs: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), kvs.map {
        case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}"))
    writeJson("oracle_sql.json", SparkEntry.oracleSql)
    writeJson("verify_failures.json", failures)
    spark.stop()
  }
}
