package graft.engine

import java.io.FileNotFoundException
import java.util.concurrent.{ConcurrentHashMap, ConcurrentMap}

import com.google.common.collect.MapMaker
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructType, TimestampNTZType, TimestampType}

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
  * The schema memo holds only fingerprints and `StructType`s — never
  * frames, plans or file indexes.
  *
  * Declared and verified keys. [[DeclaredKeys]] names the single-column
  * key of each table the wide view looks up (`orders`, `supplier`,
  * `customer`, `nation`). A load of such a table checks the key unique
  * over the files its frame reads — one aggregate job, run again only
  * when that file fingerprint changes — and, when it holds, registers the
  * frame's own file index with the key and the fingerprint. A key with
  * duplicates is simply not declared. [[graft.plans.UnreadLookupJoinRule]]
  * reads the registration through [[verifiedKey]] to drop LEFT lookup
  * joins whose columns nothing reads; a frame read any other way carries
  * no verified key. */
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

  /** The declared single-column lookup keys: the tables
    * [[StarSchema.wideView]] LEFT-joins as N:1 lookups, mirroring the
    * reference's `SELECT DISTINCT` dimension builds. */
  private[graft] val DeclaredKeys: Map[String, String] = Map(
    "orders" -> "o_orderkey", "supplier" -> "s_suppkey",
    "customer" -> "c_custkey", "nation" -> "n_nationkey")

  private type Fingerprint = Seq[(String, Long, Long)]
  private val schemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Fingerprint, StructType)]()
  /** (qualified path, key) → (the files checked, whether the key is unique). */
  private val keyChecks = new ConcurrentHashMap[(String, String), (Fingerprint, Boolean)]()
  /** The file index of every live frame [[table]] built over a verified
    * key, by identity (`InMemoryFileIndex.equals` compares root paths
    * only, so a plain `spark.read.parquet` frame would match it), with the
    * key and the files it was verified over. Weak, so a dropped frame's
    * index is collected with it. */
  private val verified: ConcurrentMap[FileIndex, (String, Fingerprint)] =
    new MapMaker().weakKeys().makeMap()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    DeclaredKeys.get(name).foreach(declareKey(df, _))
    df
  }

  /** The declared key of the table whose file index is `index`, if [[table]]
    * verified it unique over exactly the files `index` lists now. A frame
    * read any other way, or an index refreshed onto other files, has none. */
  private[graft] def verifiedKey(index: FileIndex): Option[String] =
    Option(verified.get(index)).collect {
      case (key, files) if fingerprintOf(index).contains(files) => key
    }

  private def fingerprintOf(index: FileIndex): Option[Fingerprint] = index match {
    case i: PartitioningAwareFileIndex => Some(fingerprint(i.allFiles()))
    case _ => None
  }

  private def fingerprint(files: Iterable[FileStatus]): Fingerprint =
    files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted

  /** Verify `key` unique over the files `df` reads, once per file state,
    * and register `df`'s file index when it is. */
  private def declareKey(df: DataFrame, key: String): Unit = {
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }
    for (ix <- index; files <- fingerprintOf(ix)) {
      val memoKey = (ix.rootPaths.mkString(","), key)
      val unique = Option(keyChecks.get(memoKey)) match {
        case Some((`files`, u)) => u
        case _ =>
          val u = keyIsUnique(df, key)
          keyChecks.put(memoKey, (files, u))
          u
      }
      if (unique) verified.put(ix, (key, files))
    }
  }

  /** Whether no non-null value of the integral column `key` occurs twice
    * in `df`. One job, no shuffle: each partition sorts its keys, checks
    * neighbours and returns its (min, max, duplicate seen). Partitions with
    * disjoint key ranges (one file, or files written in key order) settle
    * it; overlapping ranges fall back to an exact aggregate. */
  private def keyIsUnique(df: DataFrame, key: String): Boolean =
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val parts = df.select(col(key).cast(LongType)).queryExecution.toRdd
          .mapPartitions { rows =>
            val ks = rows.filterNot(_.isNullAt(0)).map(_.getLong(0)).toArray
            java.util.Arrays.sort(ks)
            val dup = (1 until ks.length).exists(i => ks(i) == ks(i - 1))
            if (ks.isEmpty) Iterator.empty else Iterator((ks.head, ks.last, dup))
          }.collect().sortBy(_._1)
        !parts.exists(_._3) && (
          parts.zip(parts.drop(1)).forall { case (a, b) => a._2 < b._1 } ||
          df.filter(col(key).isNotNull).groupBy(key).count()
            .filter(col("count") > 1).isEmpty)
      case _ => false
    }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (fs.makeQualified(p).toString, InferenceConfs.map(spark.conf.getOption))
    // A missing path fingerprints as empty: inference then raises
    // Spark's own PATH_NOT_FOUND error, exactly as an unmemoized read.
    val files: Fingerprint =
      try fingerprint(leafFiles(fs, p))
      catch { case _: FileNotFoundException => Nil }
    Option(schemas.get(key)) match {
      case Some((`files`, schema)) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (files, schema))
        schema
    }
  }

  /** Every file under `p` (or `p` itself when it is a file), walked with
    * `listStatus`. `FileSystem.listFiles` wraps each file in a
    * `LocatedFileStatus`, whose constructor calls `getPermission()`, which
    * forks `ls -ld` per file when Hadoop has no native library. */
  private[graft] def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap(f =>
      if (f.isDirectory) leafFiles(fs, f.getPath) else Seq(f))

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
