package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.types.DataType

/** Order-independent fingerprint of a query's full output: the row
  * count plus two wrapping sums of per-row 64-bit hashes (different
  * seeds). Each row is re-encoded as an UnsafeRow over the plan's
  * output types, so the hash covers every column's value and nothing
  * about partitioning or row order.
  */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  def +(o: Fingerprint): Fingerprint =
    Fingerprint(rows + o.rows, h1 + o.h1, h2 + o.h2)
  def hash: String = f"$h1%016x$h2%016x"
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, 0L, 0L)

  private val Seed1 = 0x5bd1e995L
  private val Seed2 = 0x27d4eb2fL

  /** Fold one partition's rows. */
  def fold(rows: Iterator[InternalRow], types: Seq[DataType]): Fingerprint = {
    val proj = UnsafeProjection.create(types.toArray)
    var n = 0L; var s1 = 0L; var s2 = 0L
    rows.foreach { r =>
      val u = proj(r)
      s1 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes, Seed1)
      s2 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes, Seed2)
      n += 1
    }
    Fingerprint(n, s1, s2)
  }
}
