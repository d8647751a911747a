package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, when}

/** The one owner of intermediate state: every query, operator and
  * measuring main that cuts a frame's lineage or persists an
  * intermediate artifact goes through here.
  *  - [[cut]] materializes a frame that is consumed more than once
  *    (iterative loops, multi-consumer building blocks), and
  *    [[cutCounting]] also counts a condition in the same job (a loop's
  *    convergence check);
  *  - [[artifact]] persists a frame as parquet and serves it back as a
  *    scan — the train-once/serve-many posture of the capstones
  *    (dedup_family's pair+CC frames, ann_family's trained index).
  *
  * Artifacts live in per-invocation directories.
  * `java.nio.file.Files.createTempDirectory` appends a random token, so
  * two concurrent Verify/Bench runs on the SAME sfDir can never collide
  * on an artifact path (the r9 finding: a shared sfDir-derived layout
  * raced under concurrency). Directories are removed by a JVM shutdown
  * hook — "delete on success" for the one-shot Verify/Bench/test mains
  * this repo runs; a long-lived service would instead persist its
  * artifacts deliberately under a managed warehouse path, not here.
  */
object Scratch {

  /** Materialize an iterative frame, cutting its lineage. When the
    * session has a checkpoint dir configured (cluster posture:
    * `sc.setCheckpointDir` to durable storage), use a reliable
    * `checkpoint` — localCheckpoint truncates lineage to executor-local
    * blocks, so at the 1000-executor/100 TB posture an executor loss or
    * dynamic-allocation decommission mid-iteration would make the job
    * unrecoverable rather than recomputable. Local mode (no checkpoint
    * dir) keeps the fast executor-local path. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // checkpoint(eager=true) otherwise runs the lineage TWICE: the
      // eager count job, then ReliableCheckpointRDD's write job
      // recomputes every partition — exactly the duplicated cost this
      // helper exists to cut. Cache first so the write job reads
      // blocks, drop the cache once the files are authoritative.
      df.persist()
      try df.checkpoint(true) finally df.unpersist()
    } else df.localCheckpoint(true)

  /** [[cut]] `df`, and count the rows for which `cond` is true in the
    * job that materializes it (a `Dataset.observe`), where a separate
    * count would run one more job over the cut. The observed row reaches
    * the driver through the listener bus after that job ends; the wait
    * for it is bounded, and a missing or late count is an error, never
    * a 0. */
  def cutCounting(df: DataFrame, cond: Column): (DataFrame, Long) = {
    val obs = Observation()
    val out = cut(df.observe(obs, count(when(cond, 1)).as("n")))
    val row = Await.result(obs.future, ObservedWait)
    if (row.length != 1)
      throw new IllegalStateException(s"observed count of ${obs.name} was not delivered")
    (out, row.getLong(0))
  }

  /** How long [[cutCounting]] waits for its observed count: the bound
    * [[graft.obs.Obs.run]] gives a listener-bus drain. */
  private val ObservedWait = 60.seconds

  /** Write `df` as the parquet artifact `name` of `prefix`'s scratch
    * dir and return a scan of it. The read carries `df`'s schema
    * explicitly: an all-empty write may emit no part files, and a
    * schema-less read of such a directory cannot infer one. */
  def artifact(df: DataFrame, prefix: String, name: String): DataFrame = {
    val path = s"${dir(prefix)}/$name"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  // ONE directory per prefix per JVM (r10 review finding): repeated
  // in-JVM invocations (ScaleBench warmup + 2 passes × 3 scales) reuse
  // the same dir — every artifact write is mode("overwrite"), so disk
  // stays bounded at one corpus-sized copy per prefix instead of
  // accumulating seven. Cross-JVM uniqueness (the actual race surface:
  // concurrent Verify/Bench processes) still comes from the random
  // createTempDirectory token.
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** `tmpdir/graft_<prefix>_<token>/`, created once per (JVM, prefix)
    * and registered for recursive deletion at JVM exit. */
  private def dir(prefix: String): String =
    dirs.computeIfAbsent(prefix, { p =>
      val d = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
        s"graft_${p}_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d.toFile)))
      d.toString
    })

  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete()
    ()
  }
}
