package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", DoubleType),
    StructField("b", BinaryType), StructField("xs", ArrayType(LongType))))

  private val rows = Seq(
    Row("a", 1.5, Array[Byte](1, 2), Seq(1L, 2L)),
    Row("b", -0.25, Array[Byte](), Seq.empty[Long]),
    Row(null, 3.0, null, null),
    Row("a", 1.5, Array[Byte](1, 2), Seq(1L, 2L)))

  test("digest does not depend on row order") {
    val d = Digest.of(schema, rows)
    assert(rows.permutations.forall(p => Digest.of(schema, p) == d))
    assert(d.rows == 4)
  }

  test("a changed value, a dropped duplicate or a renamed column changes the digest") {
    val d = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.updated(1, Row("b", -0.5, Array[Byte](), Seq.empty[Long]))) != d)
    assert(Digest.of(schema, rows.dropRight(1)).hash != d.hash)
    assert(Digest.of(StructType(schema.fields.updated(0, StructField("key", StringType))), rows) != d)
  }

  test("byte arrays and maps render by content, timestamps by instant") {
    assert(Digest.render(Array[Byte](10, -1)) == Digest.render(Array[Byte](10, -1)))
    assert(Digest.render(Map("y" -> 2, "x" -> 1)) == Digest.render(Map("x" -> 1, "y" -> 2)))
    val ts = new java.sql.Timestamp(-1500L)
    assert(Digest.render(ts) == "ts-2.500000000")
  }
}
