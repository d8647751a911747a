package graft

import graft.obs.Obs

/** Dev tool: run one registered query and print per-stage
  * wall/CPU/records from its graft.obs sample — where a slow query
  * actually spends its time, on the same warmed session shape Bench uses.
  *
  * Usage: runMain graft.Profile <sfDir> <queryName> [repeats]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val repeats = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // steady-state: warm at sf0.001 like Bench, then profile the last repeat
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    (1 to repeats).foreach { r =>
      val s = Obs.run(spark, name)(Obs.sink(SparkEntry.queries(name)(spark, sfDir))).orThrow
      println(f"\n=== $name run $r: ${s.sec}%.3f s ===")
      println(f"${"stage"}%6s ${"wall ms"}%8s ${"run ms"}%8s ${"cpu ms"}%8s ${"records"}%10s  name")
      s.stages.sortBy(-_.wallMs).take(15).foreach { st =>
        println(f"${st.stageId}%6d ${st.wallMs}%8d ${st.runMs}%8d ${st.cpuMs}%8d ${st.records}%10d  ${st.name}")
      }
    }
    spark.stop()
  }
}
