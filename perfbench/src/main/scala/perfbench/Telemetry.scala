package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task and job totals of one job group. */
final class GroupAcc {
  val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong
  val peakTaskMem = new AtomicLong
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
}

/** Totals of the physical plans that finished inside a window. */
final case class PlanStats(exchanges: Long, smj: Long, scanMs: Long, scanRows: Long, rowsOut: Long)

/** The one Spark listener of the traced run: every job, stage and task is
  * attributed to the job group the benchmark set on the thread that ran
  * it (`spark.jobGroup.id`), so a layer's counts are read by group name.
  * A second, SQL-level listener keeps the finished physical plans with
  * their start time, for plan-shape and scan counts. */
final class Telemetry extends SparkListener with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, GroupAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, Long)]()
  private val plans = new ConcurrentLinkedQueue[(Long, PlanStats)]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  def group(name: String): GroupAcc = groups.computeIfAbsent(name, _ => new GroupAcc)
  def groupsWithPrefix(p: String): Seq[(String, GroupAcc)] =
    groups.asScala.toSeq.filter(_._1.startsWith(p))

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    group(g).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
    jobOpen.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobOpen.remove(e.jobId)).foreach { case (g, t0) => group(g).intervals.add((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => group(g).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    val g = stageGroup.get(e.stageId)
    if (m != null && g != null) {
      val a = group(g)
      a.tasks.incrementAndGet()
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.runMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption
      .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
    plans.add((start, Telemetry.planStats(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Wait until the listener bus has been quiet for `quietMs` and every job
    * it saw start has ended (bounded by `maxMs`). */
  def settle(quietMs: Long = 150, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (!jobOpen.isEmpty || System.nanoTime() - lastEvent.get < quietMs * 1000000L))
      Thread.sleep(20)
  }

  def plansBetween(t0Ms: Long, t1Ms: Long): PlanStats =
    plans.asScala.filter { case (t, _) => t >= t0Ms && t <= t1Ms }.map(_._2)
      .foldLeft(PlanStats(0, 0, 0, 0, 0)) { (a, b) =>
        PlanStats(a.exchanges + b.exchanges, a.smj + b.smj, a.scanMs + b.scanMs,
          a.scanRows + b.scanRows, a.rowsOut + b.rowsOut)
      }
}

object Telemetry {
  /** Length of the union of the intervals (ms), so overlapping jobs count once. */
  def unionMs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var s = Long.MinValue; var e = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total + (e - s) else total
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Exchange and sort-merge-join counts of the final (adaptive) plan, file
    * scan time and rows, and the rows leaving the plan's first node that
    * reports an output-row count. */
  def planStats(root: SparkPlan): PlanStats = {
    var ex, smj, scanMs, scanRows = 0L
    walk(root) {
      case _: ShuffleExchangeExec => ex += 1
      case _: SortMergeJoinExec => smj += 1
      case s: FileSourceScanExec =>
        scanMs += metric(s, "scanTime"); scanRows += metric(s, "numOutputRows")
      case _ =>
    }
    var out = -1L
    walk(root) { p => if (out < 0 && p.metrics.contains("numOutputRows")) out = metric(p, "numOutputRows") }
    PlanStats(ex, smj, scanMs, scanRows, math.max(out, 0L))
  }
}

/** Spans held in memory and written as JSON lines when the run ends. */
final class Spans(runId: String) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def apply[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet().toInt
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, parent, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Seconds of each span name not covered by its child spans. */
  def selfSeconds: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = Telemetry.unionMs(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
