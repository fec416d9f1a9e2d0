package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextKernels

/** The SQL function surface registered by [[GraftExtensions]] must hand
  * back exactly the native kernels the DataFrame API uses. */
class ExtensionsSpec extends SparkSpec {

  test("SQL functions evaluate to the same values as the native kernels") {
    val row = spark.sql(
      """SELECT
        |  simhash64('the quick brown fox') AS sh,
        |  word_shingles('a b c d', 2) AS grams,
        |  poly_fingerprint('naïve café') AS fp,
        |  marker_hits('the cat and the hat', array('the', 'and')) AS mh,
        |  sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS ic,
        |  vector_dot(array(float(1), float(2)), array(float(3), float(4))) AS dot,
        |  vector_max_abs(array(float(-3), float(2))) AS ma,
        |  vector_quantize(array(float(-3), float(1.5)), double(3)) AS qv
        |""".stripMargin).head()
    assert(row.getAs[Long]("sh") ==
      TextKernels.simhash64(UTF8String.fromString("the quick brown fox")))
    assert(row.getSeq[String](row.fieldIndex("grams")).toList ==
      List("a b", "b c", "c d"))
    assert(row.getAs[Long]("fp") ==
      TextKernels.polyFingerprint(UTF8String.fromString("naïve café")))
    assert(row.getAs[Int]("mh") == 3)
    assert(row.getAs[Int]("ic") == 2)
    assert(row.getAs[Double]("dot") == 11.0)
    assert(row.getAs[Double]("ma") == 3.0)
    assert(row.getSeq[Byte](row.fieldIndex("qv")).toList ==
      List[Byte](-127, 64)) // floor(1.5/3*127+0.5) = 64

  }

  test("non-foldable scalar parameters are rejected at plan time") {
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', length(rand()::string))").head()
    }
    assert(e.getMessage.contains("foldable"),
      s"expected a foldable-literal error, got: ${e.getMessage}")
  }
}
