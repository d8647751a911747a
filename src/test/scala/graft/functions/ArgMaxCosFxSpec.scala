package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pins [[ArgMaxCosFx]] to the array_max-over-transform composition it
  * replaced in nearestClusters (r14): same winner, same tiebreaks,
  * same null semantics, on both the codegen and interpreted paths.
  * The window-form equivalence (the end-to-end contract) stays pinned
  * in RetrievalOpsSpec's r13 test, which now runs THROUGH this
  * expression. */
class ArgMaxCosFxSpec extends SparkSpec {
  import ArgMaxCosFx.argmax_cos_fx

  /** The literal r13 composition: array_max over struct(cos, -cluster),
    * cos = cosFx(dotFx(qe, ce), nq, nc) in HOF form. */
  private def hofArgmax(qe: Column, nq: Column, cs: Column): Column = {
    def hofDot(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    def cosFx(dot: Column, na: Column, nb: Column) =
      when(na === 0 || nb === 0, lit(null).cast("double"))
        .otherwise(dot.cast("double") / sqrt(na.cast("double") * nb.cast("double")))
    lit(0L) - array_max(transform(cs, c =>
      struct(
        cosFx(hofDot(qe, c.getField("ce")), nq, c.getField("nc")).as("cos"),
        (lit(0L) - c.getField("cluster")).as("negc")))).getField("negc")
  }

  /** Rows: (vec_id, qe, nq, cs) with hostile shapes mixed in. */
  private def frame(rows: Seq[(Long, Seq[Long])],
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    val csLit = typedLit(cents.map { case (id, ce) =>
      (id, ce, ce.map(x => x * x).sum)
    })
    rows.toDF("vec_id", "qe")
      .withColumn("nq",
        aggregate(zip_with(col("qe"), col("qe"), (x, y) => x * y),
          lit(0L), (a, v) => a + v))
      .withColumn("cs",
        csLit.cast("array<struct<cluster:bigint,ce:array<bigint>,nc:bigint>>"))
  }

  private def agree(df: DataFrame): Unit = {
    val out = df
      .withColumn("nat", argmax_cos_fx(col("qe"), col("nq"), col("cs")))
      .withColumn("hof", hofArgmax(col("qe"), col("nq"), col("cs")))
      .select("vec_id", "nat", "hof").collect()
    out.foreach { r =>
      val nat = if (r.isNullAt(1)) null else r.getLong(1)
      val hof = if (r.isNullAt(2)) null else r.getLong(2)
      assert(nat == hof, s"vec ${r.getLong(0)}: native=$nat hof=$hof")
    }
  }

  test("matches the HOF composition on ties, null cosines, zero norms, negatives") {
    val cents = Seq(
      (0L, Seq(1L, 1L, 0L)),  // same direction as vec 1
      (1L, Seq(2L, 2L, 0L)),  // exact cosine tie with cluster 0
      (2L, Seq(4L, 0L, 1L)),
      (3L, Seq(0L, 0L, -1L)))
    agree(frame(Seq(
      (0L, Seq(10L, 0L, 0L)),  // plain nearest
      (1L, Seq(3L, 3L, 0L)),   // exact tie -> lowest cluster
      (2L, Seq(0L, 0L, 0L)),   // zero norm -> all-null -> lowest cluster
      (3L, Seq(-5L, -7L, -1L)), // max of negative cosines
      (4L, Seq(0L, 0L, 9L))    // orthogonal to one centroid (cos 0.0)
    ), cents))
  }

  test("randomized agreement sweep incl. scaled-duplicate centroids (fixed seed)") {
    val rnd = new scala.util.Random(11)
    val baseC = Seq.tabulate(16)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextInt(9).toLong - 4L)))
    val cents = baseC ++ baseC.map { case (id, ce) => (id + 16L, ce.map(_ * 3L)) }
    val vecs = Seq.tabulate(300)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextInt(9).toLong - 4L)))
    agree(frame(vecs, cents))
  }

  test("zero-norm CENTROID scores null like cosFx; empty cs is null") {
    // centroid 0 is the zero vector (nc = 0 -> cos null); centroid 1 real
    agree(frame(Seq((0L, Seq(5L, 5L))),
      Seq((0L, Seq(0L, 0L)), (1L, Seq(1L, 0L)))))
    val empty = frame(Seq((0L, Seq(5L, 5L))), Seq.empty)
    val r = empty.select(argmax_cos_fx(col("qe"), col("nq"), col("cs"))).collect()
    r.head.isNullAt(0) shouldEqual true
    // and the HOF form agrees on the empty array
    agree(empty)
  }

  test("length-mismatched ce nulls that candidate's cosine exactly like dotFx") {
    // centroid 0's ce is SHORTER than qe (dot null -> cos null), so the
    // well-formed centroid 1 must win even at a worse cosine
    agree(frame(Seq((0L, Seq(5L, 5L, 5L))),
      Seq((0L, Seq(1L, 1L)), (1L, Seq(-1L, -1L, -1L)))))
  }

  test("null qe / null nq null every cosine -> lowest cluster id (composition parity)") {
    import spark.implicits._
    val df = Seq((0L)).toDF("vec_id")
      .withColumn("qe", lit(null).cast("array<bigint>"))
      .withColumn("nq", lit(null).cast("bigint"))
      .withColumn("cs", typedLit(Seq((7L, Seq(1L, 2L), 5L), (3L, Seq(2L, 1L), 5L)))
        .cast("array<struct<cluster:bigint,ce:array<bigint>,nc:bigint>>"))
    val out = df
      .withColumn("nat", argmax_cos_fx(col("qe"), col("nq"), col("cs")))
      .withColumn("hof", hofArgmax(col("qe"), col("nq"), col("cs")))
      .select("nat", "hof").collect().head
    out.getLong(0) shouldEqual 3L
    out.getLong(1) shouldEqual 3L
  }

  test("survives interpreted (non-codegen) eval with identical results") {
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val rnd = new scala.util.Random(23)
      val cents = Seq.tabulate(12)(i =>
        (i.toLong, Seq.fill(6)(rnd.nextInt(7).toLong - 3L)))
      val vecs = Seq.tabulate(100)(i =>
        (i.toLong, Seq.fill(6)(rnd.nextInt(7).toLong - 3L)))
      agree(frame(vecs, cents))
    }
  }
}
