package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val types: Seq[DataType] = Seq(LongType, StringType, DoubleType)
  private def row(k: Long, s: String, d: java.lang.Double): InternalRow =
    InternalRow(k, if (s == null) null else UTF8String.fromString(s), d)
  private val rows = Seq(row(1L, "a", 1.5), row(2L, null, 2.5),
    row(3L, "c", null), row(3L, "c", null))

  private def fp(rs: Seq[InternalRow]): Fingerprint =
    Fingerprint.fold(rs.iterator, types)

  test("independent of row order and of partitioning") {
    val whole = fp(rows)
    assert(whole.rows == 4)
    assert(fp(rows.reverse) == whole)
    assert(fp(rows.take(1)) + fp(rows.drop(1)) == whole)
    assert(Seq(rows.drop(3), rows.take(3)).map(fp)
      .foldLeft(Fingerprint.empty)(_ + _) == whole)
  }

  test("changes when one value changes") {
    val whole = fp(rows)
    assert(fp(rows.updated(0, row(1L, "b", 1.5))).hash != whole.hash)
    assert(fp(rows.updated(1, row(2L, null, 2.25))).hash != whole.hash)
    assert(fp(rows.updated(2, row(3L, "c", 0.0))).hash != whole.hash)
  }

  test("duplicates count: dropping one of two equal rows changes it") {
    assert(fp(rows.dropRight(1)).hash != fp(rows).hash)
    assert(fp(rows.dropRight(1)).rows == 3)
  }

  test("every column participates") {
    val swapped = rows.map(r => row(r.getLong(0) + 1, null, null))
    assert(fp(swapped).hash != fp(rows).hash)
  }
}
