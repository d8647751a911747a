package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Loops over `array<bigint>` values shared by the vector kernels
  * ([[DotProductFx]], [[ArgMaxCosFx]], [[ArgMinL2Fx]]). The candidate
  * scans read the query vector into a `long[]` once per row, so each
  * candidate element costs one array read and one `getLong`. */
private[functions] object ArrayLoops {

  /** Whether no element of `a` is null. An `UnsafeArrayData` answers
    * from its null bitmap a word (64 elements) at a time; the bitmap
    * follows the 8-byte element count. */
  def noNulls(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData =>
      !BitSetMethods.anySet(u.getBaseObject, u.getBaseOffset + 8, (u.numElements() + 63) / 64)
    case _ =>
      val n = a.numElements()
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return false
        i += 1
      }
      true
  }

  /** Σ q[i]·b[i]; `b` has `q.length` elements, none of them null. */
  def dot(q: Array[Long], b: ArrayData): Long = {
    var acc = 0L
    var i = 0
    while (i < q.length) {
      acc += q(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Σ (q[i] − b[i])²; `b` has `q.length` elements, none of them null. */
  def l2(q: Array[Long], b: ArrayData): Long = {
    var acc = 0L
    var i = 0
    while (i < q.length) {
      val diff = q(i) - b.getLong(i)
      acc += diff * diff
      i += 1
    }
    acc
  }
}
