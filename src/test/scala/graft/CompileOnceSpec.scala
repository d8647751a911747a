package graft

import org.apache.spark.sql.functions.col

import graft.obs.Obs
import graft.operators.Dedup

/** A warm pass of the engine compiles no generated class: the session's
  * codegen cache holds the curation queries' working set (see
  * [[Sessions]]), and no operator emits code whose text changes from one
  * run to the next.
  *
  * `Sample.compiles` is a JVM-global count, so these cases rely on no
  * other suite running beside them: the specs run in one forked JVM
  * (`Test / fork := true` in build.sbt), and sbt runs the suites of a
  * forked JVM one at a time (no parallel suites is its default there,
  * and the build sets nothing else). */
class CompileOnceSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("the third pass of the curation queries compiles nothing") {
    val names = Seq("dedup_clusters", "minhash_lsh", "ivf_topk")
    val passes = (1 to 3).map { _ =>
      names.map { n =>
        Obs.run(spark, n)(Obs.sink(SparkEntry.queries(n)(spark, sf))).orThrow.compiles
      }
    }
    passes.head.sum should be > 0L
    withClue(s"compiles per pass and query ${passes.map(names.zip(_))}: ") {
      passes.last.sum shouldBe 0L
    }
  }

  /** Two connectedComponents runs over a 64-link chain: both runs'
    * labels and the second run's compiles. */
  private def chainTwice(pairs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    def run() = {
      var labels = Array.empty[Long]
      val s = Obs.run(spark, "cc") {
        labels = Dedup.connectedComponents(pairs, maxIters = 16)
          .select(col("label")).as[Long].collect()
      }.orThrow
      (labels, s.compiles)
    }
    val (first, _) = run()
    val (second, compiles) = run()
    (first, second, compiles)
  }

  private def chain(n: Int) = {
    import spark.implicits._
    (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
  }

  test("a second connectedComponents run over a multi-round chain compiles nothing") {
    // the chain's edges share one coalesced partition, so the local pass
    // labels it; the split variant below runs the hook-and-jump rounds
    val n = 64
    val (first, second, compiles) = chainTwice(chain(n))
    first.length shouldBe n
    first.distinct.toSeq shouldBe Seq(1L)
    second.sorted shouldBe first.sorted
    compiles shouldBe 0L
  }

  test("a second connectedComponents run over a chain split over 4 edge partitions compiles nothing") {
    // coalescing off: the chain spans 4 edge partitions, so the local
    // pass leaves it to the hook-and-jump rounds, each with its own
    // convergence check
    val n = 64
    val pairs = chain(n).repartition(4)
    val (first, second, compiles) = withSplitEdges {
      intercept[IllegalStateException](Dedup.connectedComponents(pairs, maxIters = 0))
      chainTwice(pairs)
    }
    first.length shouldBe n
    first.distinct.toSeq shouldBe Seq(1L)
    second.sorted shouldBe first.sorted
    compiles shouldBe 0L
  }
}
