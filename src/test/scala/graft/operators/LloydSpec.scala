package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity.{dotFx, quantize}

/** Pins [[Lloyd]]'s one-job step to the DataFrame composition it
  * replaced ([[LloydComposition]], the form the DuckDB oracle mirrors):
  * the (cluster, pos, sv, cnt, val) sums and the (cluster, ce, nc)
  * centroids of the seeds, of one step and of a two-step training. */
class LloydSpec extends SparkSpec {
  import LloydComposition._

  private def sorted(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def sums(df: DataFrame) = sorted(df, "cluster", "pos", "sv", "cnt", "val")
  private def cents(df: DataFrame) = sorted(df, "cluster", "ce", "nc")

  /** Every output of the seeds, one step and two steps agrees. */
  private def agree(b: DataFrame, k: Long): Unit = {
    val rows = Lloyd.corpus(b)
    val seeds = Lloyd.seeds(rows, k)
    cents(seeds.frame(spark)) shouldEqual cents(seedCentroids(b, k))
    val one = Lloyd.step(rows, seeds)
    val ref1 = lloydRound(b, seedCentroids(b, k))
    sums(one.rows(spark)) shouldEqual sums(ref1)
    cents(one.centroids.frame(spark)) shouldEqual cents(centroidArrays(ref1))
    val two = Lloyd.train(b, k)
    val ref2 = lloydTrain(b, k)
    sums(two.rows(spark)) shouldEqual sums(ref2)
    cents(two.centroids.frame(spark)) shouldEqual cents(centroidArrays(ref2))
  }

  /** (vec_id, qe, nq) with nq = qe · qe, or null for the ids in `nullNorm`. */
  private def vectors(rows: Seq[(java.lang.Long, Seq[java.lang.Long])],
      nullNorm: Set[Long] = Set.empty): DataFrame = {
    val schema = "vec_id bigint, qe array<bigint>"
    val df = spark.createDataFrame(java.util.Arrays.asList(
        rows.map { case (id, qe) => Row(id, qe) }: _*),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    df.withColumn("nq", when(col("vec_id").isin(nullNorm.toSeq: _*), lit(null).cast("bigint"))
      .otherwise(dotFx(col("qe"), col("qe"))))
  }

  private def v(xs: java.lang.Long*): Seq[java.lang.Long] = xs

  test("one step and two-step training match the composition on hostile vectors") {
    val b = vectors(Seq(
      (0L, v(10L, 0L, 0L)),         // seed 0
      (1L, null),                   // seed 1: a null ce, so every cosine to it is null
      (2L, v(0L, 10L, 0L, 5L)),     // seed 2: four positions
      (3L, v(1L, 1L, 0L)),          // seed 3
      (4L, v(2L, 2L, 0L)),          // seed 4: twice seed 3, so every cosine to it ties
                                    // seed 3's exactly and it gets no members
      (6L, v(7L, null, 1L)),        // a null element: counted, not summed; null norm
      (7L, v()),                    // empty: adds nothing
      (8L, v(0L, 3L)),              // two positions: every cosine null, cluster 0
      (9L, v(0L, 20L, 1L, 4L)),     // nearest seed 2
      (10L, v(0L, 8L, 1L)),         // nearest seed 3
      (11L, v(6L, 1L, 0L)),         // null norm given: cluster 0
      (12L, v(1L, 2L, 3L, 4L, null)), // position 4 only null: sv and val null
      (null, v(5L, 5L, 1L))),       // no id: assigned, never a seed
      nullNorm = Set(11L))
    agree(b, 5L)
    // the fixture reaches every case it names
    val one = Lloyd.step(Lloyd.corpus(b), Lloyd.seeds(Lloyd.corpus(b), 5L))
    val ids = one.rows(spark).select("cluster").distinct().collect().map(_.getLong(0)).toSet
    ids shouldEqual Set(0L, 2L, 3L)
    one.rows(spark).filter(col("cluster") === 0L && col("pos") === 4)
      .select("sv", "cnt", "val").collect().toSeq shouldEqual Seq(Row(null, 1L, null))
    one.centroids.frame(spark).filter(col("cluster") === 0L)
      .select("nc").collect().toSeq shouldEqual Seq(Row(null))
  }

  test("an empty corpus and a corpus without seeds train empty tables") {
    val b = vectors(Seq((20L, v(1L, 2L)), (21L, v(3L, 4L))))
    agree(b, 8L)
    agree(b.limit(0), 8L)
    Lloyd.train(b, 8L).centroids.size shouldEqual 0
  }

  test("matches the composition on 2000 quantized embeddings at k = 8 and 40, split over partitions") {
    val b = spark.range(2000).select(col("id").as("vec_id"),
        quantize(expr("transform(sequence(0, 63), i -> CAST(sin(id * (i + 1)) AS FLOAT))"))
          .as("qe"))
      .withColumn("nq", dotFx(col("qe"), col("qe")))
    agree(b, 8L)
    agree(b.repartition(7), 40L)
  }

  test("a long overflow in a cluster's sum raises an error, as sum does, within and across partitions") {
    val big = Long.MaxValue - 1
    val b = vectors(Seq((0L, v(big, 1L)), (1L, v(big, 1L)), (2L, v(big, 1L))))
    def overflow(f: => Any): Unit = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("overflow")) shouldBe true
    }
    overflow(lloydRound(b, seedCentroids(b, 1L)).collect())
    overflow(Lloyd.train(b.coalesce(1), 1L))
    overflow(Lloyd.train(b.repartition(3), 1L))
  }

  test("a step is one job and the served table keeps the plan string the same at every k") {
    // a scan, not a local frame: the optimizer would evaluate a
    // projection of local rows itself
    val b = spark.range(64).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 31), j -> (id * 31 + j * 17) % 1000 - 500)").as("qe"))
      .withColumn("nq", dotFx(col("qe"), col("qe")))
    val rows = Lloyd.corpus(b)
    def servedPlan(k: Long): String = {
      val seeds = Lloyd.seeds(rows, k)
      var trained: Lloyd.Sums = null
      val s = graft.obs.Obs.run(spark, "lloyd-step") { trained = Lloyd.step(rows, seeds) }.orThrow
      withClue(s"job intervals ${s.jobs}: ") { s.jobs.size shouldEqual 1 }
      val served = graft.queries.SimilarityQueries.nearestClusters(b, trained.centroids, 1)
      served.collect().length shouldEqual 64
      val plan = served.queryExecution.executedPlan.toString
      plan should not include "BroadcastNestedLoopJoin"
      plan.replaceAll("#\\d+", "").replace(s"centroids(k=${trained.centroids.size})", "centroids")
    }
    servedPlan(48L) shouldEqual servedPlan(2L)
  }
}
