package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a collected result: the row count, a hash
  * of the schema (column names and types), and the sum modulo 2^64 of a
  * 64-bit hash per row. A sum keeps duplicate rows visible (XOR would
  * cancel pairs) and does not depend on the order the rows arrive in, so
  * an ORDER BY over tied keys or a different partitioning cannot change
  * the digest while any changed value, missing row or extra row does. */
object Digest {

  final case class Result(rows: Long, hash: String)

  def of(schema: StructType, rows: Iterable[Row]): Result = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(r); n += 1 }
    Result(n, f"${schemaHash(schema)}%08x$sum%016x")
  }

  def schemaHash(schema: StructType): Int =
    MurmurHash3.stringHash(
      schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(","))

  /** Two independent 32-bit murmur hashes of the row's canonical text. */
  def rowHash(r: Row): Long = {
    val bytes = render(r).getBytes(UTF_8)
    (MurmurHash3.bytesHash(bytes, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.bytesHash(bytes, 0x9e3779b9).toLong & 0xffffffffL)
  }

  /** Canonical text of one value. Every case is stable across JVMs and
    * runs: byte arrays by content (not identity), maps by sorted entry,
    * timestamps by epoch instant (not the JVM's default zone). */
  def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case t: java.sql.Timestamp => s"ts${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos}"
    case d: java.sql.Date => s"d${d.toLocalDate.toEpochDay}"
    case i: java.time.Instant => s"ts${i.getEpochSecond}.${i.getNano}"
    case x => x.toString
  }
}
