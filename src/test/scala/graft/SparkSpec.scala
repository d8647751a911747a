package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session; specs
  * run in a forked JVM per build.sbt `Test / fork := true`). */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.builder("4")
    .appName("graft-test")
    // local[4,4]: same 4 slots, but tasks may RETRY up to 4 times —
    // local[4]'s maxFailures=1 turns any task failure into a job
    // failure, which would make RetryDeterminismSpec's first-attempt
    // fault injection untestable. Genuine deterministic task errors
    // still fail the job (after 4 identical attempts) with the same
    // exception surfaced.
    .master("local[4,4]")
    // static conf — must be set at construction; keeps saveAsTable
    // (bucketing specs) out of the repo working directory
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `f` with runtime SQL confs set, restoring prior values after. */
  protected def withSQLConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `f` with adaptive partition coalescing off. A small pair frame
    * then keeps all `spark.sql.shuffle.partitions` (4) edge partitions,
    * so `Dedup.connectedComponents` cannot close a component that spans
    * them in its local pass and runs the hook-and-jump loop. */
  protected def withSplitEdges[T](f: => T): T =
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(f)

  /** Ground truth for connected components: every endpoint of `edges`
    * labeled with the minimum id of its component, by a driver-side
    * union-find. */
  protected def componentMins(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }
}
