package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[ArgMinL2Fx]] to the window composition pqAssign ran through
  * r13: same winning (cluster, dist), same tiebreaks, same null
  * semantics, on both the codegen and interpreted paths. */
class ArgMinL2FxSpec extends SparkSpec {
  import ArgMinL2Fx.argmin_l2_fx

  /** The literal r13 shape: explode candidates, HOF squared-L2,
    * row_number over (dist, cluster), rank 1. */
  private def windowArgmin(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cluster"))
    df.select(col("vec_id"), col("sv"), explode(col("cands")).as("c"))
      .select(col("vec_id"), col("sv"),
        col("c.cluster").as("cluster"), col("c.ce").as("ce"))
      .withColumn("dist",
        aggregate(zip_with(col("sv"), col("ce"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "cluster", "dist")
  }

  private def frame(rows: Seq[(Long, Seq[Long])],
      cands: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "sv")
      .withColumn("cands", typedLit(cands)
        .cast("array<struct<cluster:bigint,ce:array<bigint>>>"))
  }

  private def agree(df: DataFrame): Unit = {
    val nat = df
      .withColumn("best", argmin_l2_fx(col("sv"), col("cands")))
      .filter(col("best").isNotNull)
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.dist").as("dist"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).sortBy(_._1).toSeq
    val win = windowArgmin(df)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).sortBy(_._1).toSeq
    nat shouldEqual win
  }

  test("matches the window form incl. exact-distance ties -> lowest cluster") {
    agree(frame(
      Seq((0L, Seq(5L, 0L)), (1L, Seq(0L, 0L)), (2L, Seq(-3L, 4L))),
      Seq((0L, Seq(4L, 0L)), (1L, Seq(6L, 0L)),   // dist ties for vec 0
        (2L, Seq(0L, 1L)), (3L, Seq(0L, -1L)))))  // dist ties for vec 1
  }

  test("null-distance candidate (length mismatch) outranks real distances (ASC NULLS FIRST)") {
    // candidate 5 has a SHORTER ce -> dist NULL -> wins rank 1 in the
    // window form; the native argmin must agree
    agree(frame(Seq((0L, Seq(1L, 1L, 1L))),
      Seq((2L, Seq(1L, 1L, 1L)), (5L, Seq(1L, 1L)))))
  }

  test("randomized agreement sweep (fixed seed), duplicate centroids included") {
    val rnd = new scala.util.Random(31)
    val base = Seq.tabulate(8)(i => (i.toLong, Seq.fill(4)(rnd.nextInt(9).toLong - 4L)))
    val cands = base ++ base.map { case (id, ce) => (id + 8L, ce) } // exact dup dists
    agree(frame(Seq.tabulate(300)(i =>
      (i.toLong, Seq.fill(4)(rnd.nextInt(9).toLong - 4L))), cands))
  }

  test("empty cands is a null struct; survives interpreted eval") {
    val empty = frame(Seq((0L, Seq(1L, 2L))), Seq.empty)
    empty.select(argmin_l2_fx(col("sv"), col("cands"))).collect()
      .head.isNullAt(0) shouldEqual true
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val rnd = new scala.util.Random(37)
      agree(frame(Seq.tabulate(50)(i =>
        (i.toLong, Seq.fill(4)(rnd.nextInt(7).toLong - 3L))),
        Seq.tabulate(6)(i => (i.toLong, Seq.fill(4)(rnd.nextInt(7).toLong - 3L)))))
    }
  }
}
