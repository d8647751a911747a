package graft

import graft.obs.Obs

/** Memory-pressure evidence for the heavy-20 cohort (round-9 verdict
  * item #2): the scale ladders measure shuffle BYTES; this main
  * measures the MEMORY axis — per-task peak execution memory and
  * spill bytes from the graft.obs listener — under a deliberately
  * constrained heap (run with SPARK_DRIVER_MEM=4g, SPARK_GRAFT_CPUS=8:
  * half the bench heap, a quarter of its slots, so ~0.3 GB of unified
  * memory per task slot instead of ~1.2 GB). At 100 TB the analogous
  * regime is a small executor running many task slots; an operator
  * that silently assumes in-memory fit OOMs here, one that degrades
  * gracefully SPILLS here — the artifact records which is which. Pass
  * condition: the run COMPLETES (zero OOM, rc=0) and every spill is
  * bounded and attributable.
  *
  * One JSON line per query: wall sec, max per-task peak execution
  * memory, total memory/disk spill bytes; a final summary line carries
  * the heap ceiling the run actually had (Runtime.maxMemory — proves
  * the constraint was real, not just requested).
  */
object MemBench {

  /** The frozen heavy-20 bench cohort (scripts/bench_trend.py). */
  private val Heavy20 = Seq(
    "dedup_method_matrix", "tf_cosine_pairs", "dedup_artifacts",
    "dedup_assign", "training_subset", "dedup_weight", "leakage_split",
    "lsh_recall", "dedup_clusters", "ngram_jaccard", "containment_dup",
    "ann_recall", "order_value_mad", "ivfpq_topk", "link_hits",
    "semantic_dedup", "join_size_estimate", "bloom_semi_prune",
    "kcore_peel", "copurchase_pairs")

  /** Plus the shared-artifact capstones (heavier than any sibling) and
    * kcenter_seeds — the one query with a driver-side collected array
    * (the k×dim seed set), named by the round-9 verdict as the
    * in-memory-fit adjudication target. */
  private val Extra = Seq(
    "dedup_family", "ingest_pipeline", "ann_family", "kcenter_seeds")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = (Heavy20 ++ Extra).filter(n => only.forall(_.contains(n)))
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // codegen warmup off the clock (the Bench discipline); fall back to
    // the measured dir when the canonical small SF is absent, and say
    // so — a silently skipped warmup puts codegen/JIT on the clock and
    // corrupts the evidence this main exists to record
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory)
        "/root/testdata/sf0.001"
      else sfDir
    names.foreach { n =>
      try Obs.sink(SparkEntry.queries(n)(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[mem] warmup $n failed (first pass unwarmed): ${e.getMessage}")
      }
    }

    val heapMb = Runtime.getRuntime.maxMemory / (1L << 20)
    var failed = List.empty[String]
    names.foreach { n =>
      val s =
        try Obs.run(spark, n)(Obs.sink(SparkEntry.queries(n)(spark, sfDir)))
        catch {
          case oom: OutOfMemoryError =>
            // the one verdict this main exists to catch — and the one
            // state it must NOT keep measuring through: a post-OOM JVM
            // has partially torn-down Spark state, so every later
            // number would be garbage. Report and die nonzero.
            System.err.println(s"[mem] $n OOM under ${heapMb}m heap")
            println(s"""{"metric":"mem_total","heap_mb":$heapMb,"cpus":$cpus,"oom_query":"$n","sf":"$sfDir"}""")
            throw oom
        }
      s.error.foreach { e => System.err.println(s"[mem] $n FAILED: ${e.getMessage}"); failed ::= n }
      println(f"""{"query":"$n","sec":${s.sec}%.2f,"peak_task_exec_mb":${s.peakTaskExecMemory / 1e6}%.1f,"mem_spill_mb":${s.memorySpillBytes / 1e6}%.1f,"disk_spill_mb":${s.diskSpillBytes / 1e6}%.1f}""")
    }
    println(s"""{"metric":"mem_total","heap_mb":$heapMb,"cpus":$cpus,"n_queries":${names.size},"n_failed":${failed.size},"sf":"$sfDir"}""")
    spark.stop()
    // "zero OOM, rc=0" must be falsifiable: any failed query fails the RUN
    if (failed.nonEmpty) sys.exit(1)
  }
}
