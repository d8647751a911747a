package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Quantile}
import java.nio.file.Files

/** Reliable-checkpoint branch coverage (round-8 item #4).
  *
  * `Scratch.cut` switches from executor-local `localCheckpoint`
  * to a reliable `df.checkpoint(true)` whenever the SparkContext has a
  * checkpoint dir configured — the 100 TB recovery posture (an executor
  * loss mid-iteration must be recomputable from durable storage, not
  * fatal). Every other spec runs the local branch; this one configures
  * a checkpoint dir, drives the two iterative consumers through the
  * reliable branch, and asserts (a) identical results, (b) checkpoint
  * data actually written to the configured dir.
  *
  * The checkpoint dir is RESET (setCheckpointDir(null) → None in local
  * mode) in a finally so no other suite silently flips branch.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withCheckpointDir[T](f: String => T): T = {
    val sc = spark.sparkContext
    require(sc.getCheckpointDir.isEmpty, "checkpoint dir leaked from another spec")
    val dir = Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try f(dir) finally sc.setCheckpointDir(null)
  }

  private def ckptFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // reliable checkpoints land as <dir>/<uuid>/rdd-N/part-XXXXX
    walk(new java.io.File(dir)).filter(_.getPath.contains("rdd-"))
  }

  test("connectedComponents under a reliable checkpoint dir: same labels, files written") {
    // chain + triangle + singleton pair: the edges cut and the observed
    // label cut both take the reliable branch
    val pairs = ((1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L)))
      .toDF("d1", "d2")
    val baseline = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (reliable, nFiles) = withCheckpointDir { dir =>
      val got = Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got, ckptFiles(dir).size)
    }
    reliable shouldEqual baseline
    // the reliable branch must have actually persisted partitions
    assert(nFiles > 0, "no checkpoint files written — reliable branch not taken")
  }

  test("quantile selection under a reliable checkpoint dir: same rows selected") {
    // pathological fixture forcing the refinement loop (its steering
    // frames and materialized cuts all route through Scratch.cut)
    val rows =
      (1 to 5000).map(i => ("g", ((i * 2654435761L) % 10007L).toDouble / 1435.0, i.toLong)) ++
      Seq(("g", 1e9, 90001L)) ++
      (1 to 300).map(i => ("h", i.toDouble, 20000L + i))
    val patho = rows.toDF("g", "v", "k").repartition(8)
    def run(): Set[(String, Long)] =
      Quantile.selectRanks(patho, "g", "v", "k",
          n => Seq(Quantile.idiv(n + lit(1L), 2), n))
        .select("g", "k").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val baseline = run()
    val (reliable, nFiles) = withCheckpointDir { dir =>
      (run(), ckptFiles(dir).size)
    }
    reliable shouldEqual baseline
    assert(nFiles > 0, "no checkpoint files written — reliable branch not taken")
  }

  test("checkpoint dir is clear again for subsequent suites") {
    spark.sparkContext.getCheckpointDir shouldBe empty
  }
}
