package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe exact per-group top-k (T-2 at corpus scale).
  *
  * A single `row_number` window per group is exact but sorts the ENTIRE
  * group in one task — fine when groups are numerous and small (links
  * per company), a funnel when they are few and huge (k neighbors per
  * query over a 100 TB corpus: each query's partition holds the whole
  * scored scan). The classic fix is two-phase:
  *
  *  1. pre-prune with the same ranking keyed by (group, PHYSICAL input
  *     partition): every task ranks only its local slice of the group,
  *     so partition sizes stay bounded by the scan split size and all
  *     cores participate;
  *  2. run the real window over the ≤ k × numPartitions survivors —
  *     a frame small enough that the per-group sort is trivial.
  *
  * Exactness: the global top-k of a group is a subset of the union of
  * its per-slice top-ks (any row beaten by ≥ k rows in its own slice is
  * beaten by ≥ k rows globally). The pre-prune partitioning is physical
  * and may vary run to run, but the FINAL ranking re-orders survivors
  * with the caller's full ordering, so results are deterministic as
  * long as that ordering is total (callers tiebreak on a key). */
object Rank {

  def topKPerGroup(df: DataFrame, k: Int, group: Seq[String],
      order: Seq[Column], rkName: String = "rk"): DataFrame = {
    // withColumn REPLACES a same-named column, so a caller frame already
    // carrying the temp or output name would be silently consumed —
    // fail loudly instead (re-ranking a previous call's output must
    // rename or drop its rk first)
    require(!df.columns.contains("__prk") && !df.columns.contains(rkName),
      s"input already has a '__prk' or '$rkName' column")
    val gcols = group.map(col)
    val pre = Window.partitionBy(gcols :+ spark_partition_id(): _*).orderBy(order: _*)
    val fin = Window.partitionBy(gcols: _*).orderBy(order: _*)
    df.withColumn("__prk", row_number().over(pre)).filter(col("__prk") <= k)
      .drop("__prk")
      .withColumn(rkName, row_number().over(fin)).filter(col(rkName) <= k)
  }

  /** Exact GLOBAL dense row numbering under a total `order`, with no
    * single-task sort: range-repartition on the order columns, rank
    * locally per physical partition, then add back the ≤ P-row prefix
    * sum of partition counts (broadcast). Output = `df`'s columns plus
    * `rkName` (1-based).
    *
    * The ranged frame is MATERIALIZED before its two consumers (the
    * local window and the per-partition counts): both join back on
    * `spark_partition_id()`, and repartitionByRange samples its
    * boundaries per EXECUTION — without the cut, an AQE re-plan or a
    * boundary resample could hand the two lineages different pid→range
    * assignments and silently corrupt every rank. One shared operator
    * so the invariant can't be fixed in one call site and left broken
    * in another (it was, in round 8's review). `order` must be total
    * (tiebreak on a unique key) for the ranking to be deterministic. */
  def globalRank(df: DataFrame, order: Seq[Column], rkName: String): DataFrame = {
    require(Seq("__pid", "__lrn", "__off", rkName).forall(!df.columns.contains(_)),
      s"input already has a '__pid'/'__lrn'/'__off'/'$rkName' column")
    val ranged = Scratch.cut(
      df.repartitionByRange(order: _*)
        .withColumn("__pid", spark_partition_id().cast("long")))
    // running SUM(1L), not row_number(): RowNumber's counter is 32-bit,
    // so a range partition past 2^31 rows (reachable at the 100 TB
    // posture this operator exists for) overflows BEFORE any cast —
    // ANSI throws, legacy wraps into corrupt ranks. The long running
    // count is the same single linear pass with 64-bit arithmetic.
    val local = ranged.withColumn("__lrn",
      sum(lit(1L)).over(Window.partitionBy("__pid").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // ≤ P rows — the unpartitioned prefix-sum window is bounded by the
    // partition count, never the data (the global_ids shape)
    val offs = ranged.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    local.join(broadcast(offs), "__pid")
      .withColumn(rkName, col("__off") + col("__lrn"))
      .drop("__pid", "__lrn", "__off")
  }
}
