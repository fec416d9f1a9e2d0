package graft.engine

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver test star schema (`TESTDATA.md`), which plays the
  * structural roles of the reference's flight star schema (see `FIXTURES.md`):
  * `lineitem`+`orders` = fact_flights, `supplier` = dim_airlines,
  * `nation` (role-playing via customer/supplier) = dim_airports,
  * derived calendar over `o_orderdate` = dim_calendar.
  *
  * All loads are parquet scans: Catalyst pushes projections and
  * predicates into the scan (column pruning + row-group min/max skipping),
  * which at 100 TB is the difference between reading TBs and reading GBs —
  * callers should `.select`/`.filter` early and let the optimizer do the rest.
  *
  * A table's schema is inferred ONCE PER FILE STATE, then handed to
  * `spark.read.schema(s)`: schema inference is a footer-reading Spark job
  * per `spark.read.parquet` call, and a dashboard query that loads five
  * tables otherwise pays five sequential jobs before it has a plan.
  *   - Key: the qualified path plus every SQL conf parquet inference reads
  *     ([[InferenceConfs]]), so a conf flip (e.g. the `events` NANOS
  *     fallback) infers again instead of serving a schema it would not give.
  *   - Value: the schema and a fingerprint of the files it was inferred
  *     from — every leaf file under the path with its length and
  *     modification time, from one driver-side Hadoop listing (no Spark
  *     job). A load whose listing differs infers again and replaces the
  *     entry, so an overwritten table (new part-file names) is never served
  *     a stale schema. The fingerprint is taken BEFORE inference: a write
  *     racing the inference leaves an entry that the next load re-checks.
  *   - A failed inference stores nothing; two threads racing on a miss may
  *     both infer, which is harmless (no lock is held across the job).
  * The memo holds only fingerprints and `StructType`s — never frames,
  * plans or file indexes. */
object Tables {

  /** The SQL confs Spark 4.1.2's parquet schema inference reads
    * (`ParquetUtils.inferSchema`, `ParquetFileFormat.mergeSchemasInParallel`,
    * `SchemaMergeUtils`, `ParquetToSparkSchemaConverter`). */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.caseSensitive")

  private type Fingerprint = Seq[(String, Long, Long)]
  private val schemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Fingerprint, StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (fs.makeQualified(p).toString, InferenceConfs.map(spark.conf.getOption))
    // A missing path fingerprints as empty: inference then raises
    // Spark's own PATH_NOT_FOUND error, exactly as an unmemoized read.
    val files: Fingerprint =
      try {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        b.result().sorted
      } catch { case _: FileNotFoundException => Nil }
    Option(schemas.get(key)) match {
      case Some((`files`, schema)) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (files, schema))
        schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet INT64 TIMESTAMP(NANOS) (older pandas writer — Spark
    * rejects it unless read as raw nanos via the legacy flag) and plain
    * `timestamp[us]` (current writer — Spark reads it natively as
    * TIMESTAMP_NTZ). The loader must work against either, so it branches on
    * the schema it actually loaded rather than assuming one encoding:
    * LongType → nanos→micros with integer division (a double intermediate
    * would lose precision at 1e18 nanos); TIMESTAMP_NTZ → cast to the
    * session-TZ timestamp the event tier was built against (value-preserving
    * under the engine's fixed UTC session zone, `Sessions.scala:32`);
    * TIMESTAMP → pass through. The legacy nanos flag is only set when the
    * native read fails on NANOS, so it is not a session-wide side effect for
    * directories that don't need it. */
  def events(s: SparkSession, d: String): DataFrame = {
    // Walk the cause chain: the illegal-Parquet-type error can arrive
    // wrapped (driver-side analysis vs task-side read), and the outer
    // message may not carry the type name.
    def mentionsNanos(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .exists(c => String.valueOf(c.getMessage).contains("NANOS"))
    val raw =
      try table(s, d, "events")
      catch {
        case e: Exception if mentionsNanos(e) =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, d, "events")
      }
    normalizeEventTs(raw)
  }

  /** Normalize an events frame's `ts` column to session-TZ TimestampType
    * regardless of which physical encoding it was loaded from. Exposed (and
    * spec'd per-branch in TablesSpec) so a future testdata regeneration that
    * flips the encoding again cannot silently break the event tier. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType           => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType   => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType      => df
    case other              =>
      throw new IllegalArgumentException(s"unsupported events.ts encoding: $other")
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
