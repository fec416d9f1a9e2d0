package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType,
  TimestampNTZType, TimestampType}

import graft.engine.{Sinks, Tables}

/** The events loader must survive testdata regenerations that flip the
  * physical encoding of `ts` (INT64 TIMESTAMP(NANOS) vs plain timestamp[us]).
  * Round 7 closed with 16 event-tier queries broken because the loader
  * hardcoded one encoding; these specs pin every branch of the normalizer so
  * either encoding loads to the same session-TZ TimestampType column.
  * The schema-memo specs pin that a repeated load runs no Spark job and
  * that neither an overwrite nor an inference-conf flip serves a stale
  * schema.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2021-03-04T05:06:07.123456 UTC expressed in each physical encoding.
  private val micros = 1614834367123456L

  test("normalizeEventTs: LongType nanos branch converts with integer division") {
    val df = Seq((1L, micros * 1000L)).toDF("event_id", "ts")
    assert(df.schema("ts").dataType == LongType)
    val out = Tables.normalizeEventTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    val got = out.select(unix_micros($"ts")).as[Long].head()
    assert(got == micros)
  }

  test("normalizeEventTs: TIMESTAMP_NTZ branch casts value-preserving under UTC") {
    val ldt = LocalDateTime.of(2021, 3, 4, 5, 6, 7, 123456000)
    val df = Seq((1L, ldt)).toDF("event_id", "ts")
    assert(df.schema("ts").dataType == TimestampNTZType)
    val out = Tables.normalizeEventTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros($"ts")).as[Long].head() == micros)
  }

  test("normalizeEventTs: TimestampType passes through unchanged") {
    val df = Seq((1L, new Timestamp(micros / 1000L))).toDF("event_id", "ts")
    assert(df.schema("ts").dataType == TimestampType)
    val out = Tables.normalizeEventTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    // java.sql.Timestamp(millis) carries millisecond precision here.
    assert(out.select(unix_micros($"ts")).as[Long].head() == (micros / 1000L) * 1000L)
  }

  test("Tables.events loads the current testdata with a timestamp ts") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType)
    val n = ev.filter($"ts".isNotNull).limit(5).count()
    assert(n > 0)
  }

  test("events round-trips through a timestamp[us] parquet rewrite (current encoding)") {
    val dir = s"${graft.engine.Sinks.scratch}/tables-spec-events-us"
    Tables.events(spark, sf).limit(100).write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    val out = Tables.normalizeEventTs(reread)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.count() == 100)
  }

  /** Spark jobs `body` starts on this thread. */
  private def jobsStartedBy(body: => Unit): Int =
    SparkEvents.during(spark.sparkContext)(body)._2
      .count(_.isInstanceOf[SparkListenerJobStart])

  test("a repeated load reuses the inferred schema and starts no Spark job") {
    val first = Tables.lineitem(spark, sf).schema
    val n = jobsStartedBy { assert(Tables.lineitem(spark, sf).schema == first) }
    assert(n == 0, s"second Tables.lineitem started $n Spark jobs")
  }

  test("an overwritten table is loaded with its new schema") {
    val dir = s"${Sinks.scratch}/tables-spec-overwrite"
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 3.5)).toDF("id", "s", "x")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("id", "s", "x"))
    assert(t.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }

  test("a binaryAsString flip is followed, not served a stale schema") {
    // Spark-written files carry their Spark schema in the footer, which
    // inference prefers over the conf; an unannotated BINARY column from
    // a plain parquet writer is what the conf governs.
    val dir = s"${Sinks.scratch}/tables-spec-binary"
    val file = new Path(s"$dir/t.parquet")
    file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(dir), true)
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary b; }")
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("b", "x"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val t = Tables.table(spark, dir, "t")
      assert(t.schema("b").dataType == StringType)
      assert(t.select("b").as[String].collect().toSeq == Seq("x"))
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir, "t").schema("b").dataType == BinaryType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
