package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` generates the inputs, starts the
  * site farm, and writes a plan file; this main sets up the session
  * several times (each set-up = session start + one warm pass), runs one
  * more untimed pass, then closed-loop passes for the plan's seconds, and
  * writes a result file. With `trace` set, after the untimed pass it runs
  * one untraced pass, one traced pass
  * (listener + spans) and the layer probes.
  *
  * Usage: perfbench.Main <plan.json> <result.json>
  */
object Main {
  final case class Plan(node: JsonNode) {
    def s(k: String): String = node.path(k).asText()
    def i(k: String): Int = node.path(k).asInt()
    def strs(k: String): Seq[String] = node.path(k).elements().asScala.map(_.asText()).toSeq
  }

  /** One measured unit of a workload: a full pass over its queries, or one
    * crawl from companies.xlsx to output.xlsx. */
  trait Workload {
    def warm(spark: SparkSession, check: Boolean): Unit
    def pass(spark: SparkSession, tag: String, t: Option[Tracer]): PassResult
    /** Per-layer figures of a traced pass, read once its jobs have settled. */
    def layers(t: Tracer, r: PassResult): Unit
    def probes(spark: SparkSession, t: Tracer): Unit
    def warmFailures: Map[String, String]
  }

  final case class PassResult(wallS: Double, queries: Seq[(String, Double)],
      failed: Seq[String], attempted: Int, extra: Map[String, String] = Map.empty)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def procCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** CPU ticks of each HotSpot compiler thread ("C1/C2 CompilerThread<n>"),
    * by thread id, from /proc/self/task/<tid>/stat (utime + stime). */
  def jitTicks(): Map[String, Long] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          Some(t.getName -> (f(11).toLong + f(12).toLong))
        } else None
      } catch { case _: java.io.IOException => None }
    }.toMap

  /** JIT compiler CPU seconds since `before`, per thread, so a compiler
    * thread that exits in between drops out instead of subtracting its
    * whole lifetime (run.py pins the compiler thread count so none do). */
  def jitSince(before: Map[String, Long]): Double =
    jitTicks().map { case (tid, n) => n - before.getOrElse(tid, 0L) }.sum / 100.0

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def session(p: Plan): SparkSession = {
    val b = graft.Sessions.builder(p.s("cpus"))
      .config("spark.local.dir", p.s("local_dir"))
      .config("spark.sql.warehouse.dir", p.s("work_dir") + "/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** State still held once the last pass has returned: storage blocks
    * (cached and checkpointed RDDs), bytes under the run's scratch and
    * Spark local dirs (scratch artifacts, checkpoints, shuffle files) and
    * the live heap after a full collection. */
  private def retained(spark: SparkSession, p: Plan): Seq[(String, Double)] = {
    // the smallest of a few full collections: one may land while the
    // listener bus or the context cleaner still holds a reference
    val rt = Runtime.getRuntime
    val heap = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }.min
    val blocks = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val disk = (dirBytes(new java.io.File(p.s("tmp_dir"))) +
      dirBytes(new java.io.File(p.s("local_dir")))) / 1e6
    Seq("heap_mb" -> heap, "blocks_mb" -> blocks, "disk_mb" -> disk)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = Plan(new ObjectMapper().readTree(new java.io.File(args(0))))
    val workload: Workload = plan.s("workload") match {
      case "leadsight_crawl" => new CrawlWorkload(plan)
      case _ => new QueryWorkload(plan)
    }
    val traced = plan.i("trace") == 1
    val setupsN = if (traced) 1 else plan.i("setups")

    var spark: SparkSession = null
    val setups = (1 to setupsN).map { i =>
      val t0 = if (i == 1) jvmStartMs else System.currentTimeMillis()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = session(plan)
      // the first set-up (JVM start, cold) also writes the outputs the
      // correctness check reads
      workload.warm(spark, check = i == 1)
      (System.currentTimeMillis() - t0) / 1e3
    }

    val out = mutable.ArrayBuffer[(String, String)]()
    out += "setups_s" -> Json.arr(setups.map(Json.num))

    // one untimed pass before anything is measured: the first pass after a
    // set-up still JIT-compiles about 40% more than later ones and ran up
    // to 30% slower than their median
    workload.pass(spark, "warm", None)

    def passJson(r: PassResult, cpu: Double): String = Json.obj(Seq(
      "wall_s" -> Json.num(r.wallS), "cpu_s" -> Json.num(cpu),
      "attempted" -> r.attempted.toString,
      "failed" -> Json.arr(r.failed.map(Json.str)),
      "queries" -> Json.arr(r.queries.map { case (n, s) => Json.arr(Seq(Json.str(n), Json.num(s))) })) ++
      r.extra.toSeq)

    if (!traced) {
      val seconds = plan.i("seconds")
      val passes = mutable.ArrayBuffer[String]()
      val w0 = System.nanoTime()
      var n = 0
      while (n < math.max(1, plan.i("min_passes")) || (System.nanoTime() - w0) / 1e9 < seconds) {
        // CPU less the JIT compiler threads: compilation winds down pass
        // by pass as the JVM warms and would make the figure depend on how
        // far warm-up had got
        val c0 = procCpuS(); val j0 = jitTicks()
        val r = workload.pass(spark, s"p$n", None)
        val jit = jitSince(j0)
        passes += passJson(r.copy(extra = r.extra + ("jit_s" -> Json.num(jit))), procCpuS() - c0 - jit)
        n += 1
      }
      out += "window_s" -> Json.num((System.nanoTime() - w0) / 1e9)
      out += "passes" -> Json.arr(passes.toSeq)
      out += "retained" -> Json.obj(retained(spark, plan).map { case (k, v) => k -> Json.num(v) })
    } else {
      val (c0, j0) = (procCpuS(), jitTicks())
      val plain = workload.pass(spark, "plain", None)
      val plainCpu = procCpuS() - c0 - jitSince(j0)
      val tracer = new Tracer(spark, plan.s("run_id"))
      val (c1, j1) = (procCpuS(), jitTicks())
      val tr = tracer.attach(workload.pass(spark, "traced", Some(tracer)))
      val jit = jitSince(j1)
      val tracedCpu = procCpuS() - c1 - jit
      tracer.add("jvm.jit_s", jit)
      workload.layers(tracer, tr)
      tracer.spans("probes")(workload.probes(spark, tracer))
      tracer.detach()
      tracer.spans.write(plan.s("trace_path"))
      out += "passes" -> Json.arr(Seq(passJson(plain, plainCpu), passJson(tr, tracedCpu)))
      out += "layers" -> Json.obj(tracer.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      out += "self_s" -> Json.obj(tracer.spans.selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      out += "spans" -> tracer.spans.all.size.toString
    }
    out += "peak_rss_mb" -> Json.num(vmHwmMb())
    out += "warm_failed" -> Json.obj(workload.warmFailures.toSeq.map { case (k, v) => k -> Json.str(v) })
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(args(1)), Json.obj(out.toSeq).getBytes("UTF-8"))
  }
}

/** Traced-run state: the listener, the spans and the per-layer figures
  * the workload fills in. */
final class Tracer(spark: SparkSession, runId: String) {
  val telemetry = new Telemetry
  val spans = new Spans(runId)
  val layers = mutable.LinkedHashMap[String, Double]()
  private var window = (0L, 0L)

  def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = layers(k) = math.max(layers.getOrElse(k, 0.0), v)

  /** Run `body` with the listeners registered; remember its wall-clock window. */
  def attach[T](body: => T): T = {
    spark.sparkContext.addSparkListener(telemetry)
    spark.listenerManager.register(telemetry)
    val t0 = System.currentTimeMillis()
    try body finally { window = (t0, System.currentTimeMillis()); telemetry.settle() }
  }

  def detach(): Unit = {
    telemetry.settle()
    spark.sparkContext.removeSparkListener(telemetry)
    spark.listenerManager.unregister(telemetry)
  }

  def plans: PlanStats = telemetry.plansBetween(window._1, window._2)

  /** Fill the execution layer's figures from the groups whose name starts
    * with `prefix`; `busy_share` is task run time over `wallS` × `cores`.
    * Returns the seconds during which at least one of those jobs ran. */
  def execLayer(prefix: String, wallS: Double, cores: Int): Double = {
    val gs = telemetry.groupsWithPrefix(prefix).map(_._2)
    val execS = Telemetry.unionMs(gs.flatMap(_.intervals.asScala)) / 1e3
    def sum(f: GroupAcc => java.util.concurrent.atomic.AtomicLong): Double = gs.map(f(_).get).sum.toDouble
    add("exec.s", execS)
    add("exec.jobs", sum(_.jobs)); add("exec.stages", sum(_.stages)); add("exec.tasks", sum(_.tasks))
    add("exec.task_cpu_s", sum(_.cpuNs) / 1e9); add("exec.task_run_s", sum(_.runMs) / 1e3)
    add("exec.gc_s", sum(_.gcMs) / 1e3)
    add("exec.shuffle_read_mb", sum(_.shuffleRead) / 1e6)
    add("exec.shuffle_write_mb", sum(_.shuffleWrite) / 1e6)
    add("exec.spill_mb", sum(_.spill) / 1e6)
    max("exec.peak_task_mem_mb", if (gs.isEmpty) 0.0 else gs.map(_.peakTaskMem.get).max / 1e6)
    layers("exec.busy_share") = if (wallS > 0) layers("exec.task_run_s") / (wallS * cores) else 0.0
    execS
  }
}
