package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ArgMaxCosFx.argmax_cos_fx
import graft.operators.Similarity.dotFx

/** The DataFrame composition of a Lloyd round that [[Lloyd.step]]
  * replaced in the engine, and the one the DuckDB oracle's
  * `lloydRoundSql` mirrors. It lives in the test tree as the reference:
  * LloydSpec pins the step's sums and centroids to it row for row.
  *
  * Per round: the centroid table is packed into one row by a
  * `collect_list` (a SinglePartition exchange) and broadcast, the argmax
  * assigns every vector, `posexplode(qe)` gives one row per (member,
  * pos), and a (cluster, pos) group-by sums them; the next centroid
  * table regroups those rows by cluster. */
object LloydComposition {

  /** Top-1 assignment of `df` (qe, nq) against `cents` (cluster, ce,
    * nc), packed into one broadcast row. */
  def nearest(df: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      collect_list(struct(col("cluster"), col("ce"), col("nc"))).as("cs"))
    df.crossJoin(broadcast(packed))
      .withColumn("cluster", argmax_cos_fx(col("qe"), col("nq"), col("cs")))
      .filter(col("cluster").isNotNull).drop("cs")
  }

  /** One round: (cluster, pos, sv, cnt, val) rows. */
  def lloydRound(b: DataFrame, cents: DataFrame): DataFrame =
    nearest(b, cents)
      .select(col("cluster"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .withColumn("val",
        floor(col("sv").cast("double") / col("cnt").cast("double")).cast("long"))

  /** (cluster, pos, val) rows back into (cluster, ce, nc) arrays. */
  def centroidArrays(cp: DataFrame): DataFrame =
    cp.groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("val")))),
        x => x("val")).as("ce"))
      .withColumn("nc", dotFx(col("ce"), col("ce")))

  /** vec_id < k as the seed centroids. */
  def seedCentroids(b: DataFrame, k: Long): DataFrame =
    b.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("qe").as("ce"), col("nq").as("nc"))

  /** Seeds, then two rounds: round 2's (cluster, pos, …) rows. */
  def lloydTrain(b: DataFrame, k: Long): DataFrame =
    lloydRound(b, centroidArrays(lloydRound(b, seedCentroids(b, k))))
}
