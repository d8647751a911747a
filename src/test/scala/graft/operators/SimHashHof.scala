package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function SimHash composition that the native
  * [[graft.functions.SimHashFx]] replaced in the engine. It lives in the
  * test tree as the reference: TextFxSpec pins the native expression
  * bit-identical to it, DedupSpec pins its sketch properties. */
object SimHashHof {

  /** n-bit SimHash over a (multiset) token-hash array: bit j is set
    * when the sum of ±1 votes from each hash's bit j is positive. The
    * token hashes are mod 1e9+7 (< 2^30), so 30 is the widest sketch
    * the single hash supports. */
  def simhashN(tokenHashes: Column, nbits: Int): Column =
    (0 until nbits).map { j =>
      val vote = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def simhash(tokenHashes: Column): Column = simhashN(tokenHashes, Dedup.SimHashBits)
}
