package graft.obs

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One completed stage attempt of a measured run: the row `graft.Profile`
  * prints. `records` = input plus shuffle records read. */
final case class StageRow(stageId: Int, name: String, wallMs: Long,
    runMs: Long, cpuMs: Long, records: Long)

/** What one measured run cost. Every figure counts only tasks of stages
  * submitted under the run's job group, so a neighbour's late tasks never
  * land here. `sec` is -1 when the action threw; the figures then cover
  * the tasks that ran before it did. Bytes, executor CPU in ns, executor
  * run time in ms, job intervals as (start, end) epoch ms. `compiles`
  * counts the generated classes Janino compiled during the run; that
  * counter is per JVM, so a run that overlaps another also counts the
  * other's compiles. */
final case class Sample(label: String, sec: Double, error: Option[Throwable],
    tasks: Int, failedTasks: Int, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    maxTaskRecordsRead: Long, peakTaskExecMemory: Long,
    memorySpillBytes: Long, diskSpillBytes: Long, cpuNs: Long, runMs: Long,
    jobs: Seq[(Long, Long)], stages: Seq[StageRow], compiles: Long) {
  def ok: Boolean = error.isEmpty
  def orThrow: Sample = { error.foreach(e => throw e); this }
  def readMb: Double = shuffleReadBytes / 1e6
  def writeMb: Double = shuffleWriteBytes / 1e6
  def cpuSec: Double = cpuNs / 1e9

  /** Seconds during which some job of the run was active: the union of
    * its job intervals (AQE overlaps jobs, so a plain sum double-counts). */
  def execSec: Double = {
    var total = 0L; var curS = 0L; var curE = 0L
    jobs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1e3
  }
}

/** Per-group running totals: written on the listener thread, read by the
  * measuring thread once the bus has drained. */
private final class Acc {
  private var tasks, failed = 0
  private var read, write, maxRecs, peak, memSpill, diskSpill, cpu, run = 0L
  private val jobs = ArrayBuffer[(Long, Long)]()
  private val stages = ArrayBuffer[StageRow]()
  val stageIds = ConcurrentHashMap.newKeySet[Int]()

  def task(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failed += 1
    Option(e.taskMetrics).foreach { m =>
      read += m.shuffleReadMetrics.totalBytesRead
      write += m.shuffleWriteMetrics.bytesWritten
      maxRecs = math.max(maxRecs, m.shuffleReadMetrics.recordsRead)
      peak = math.max(peak, m.peakExecutionMemory)
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      cpu += m.executorCpuTime
      run += m.executorRunTime
    }
  }

  def job(start: Long, end: Long): Unit = synchronized { jobs += ((start, end)) }

  def stage(i: StageInfo): Unit = synchronized {
    val m = i.taskMetrics
    stages += StageRow(i.stageId, i.name.split("\n").head.take(60),
      (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L),
      m.executorRunTime, m.executorCpuTime / 1000000,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
  }

  def sample(label: String, sec: Double, error: Option[Throwable], compiles: Long): Sample =
    synchronized(Sample(label, sec, error, tasks, failed, read, write, maxRecs, peak,
      memSpill, diskSpill, cpu, run, jobs.toSeq, stages.toSeq, compiles))
}

/** Attributes every job, stage and task to the `spark.jobGroup.id` of the
  * thread that started it. Only groups opened by [[Obs.run]] are kept;
  * any other job costs one map lookup per event. */
final class GroupListener private[obs] () extends SparkListener {
  private val open = new ConcurrentHashMap[String, Acc]
  private val byStage = new ConcurrentHashMap[Int, Acc]
  private val byJob = new ConcurrentHashMap[Int, (Acc, Long)]

  private def accOf(p: Properties): Acc =
    Option(p).flatMap(p => Option(p.getProperty(GraftListenerBridge.JobGroupKey)))
      .map(open.get).orNull

  private[obs] def begin(group: String): Acc = { val a = new Acc; open.put(group, a); a }

  private[obs] def end(group: String): Unit =
    Option(open.remove(group)).foreach(_.stageIds.forEach(id => byStage.remove(id)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(accOf(e.properties)).foreach(a => byJob.put(e.jobId, (a, e.time)))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach { case (a, start) => a.job(start, e.time) }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(accOf(e.properties)).foreach { a =>
      a.stageIds.add(e.stageInfo.stageId); byStage.put(e.stageInfo.stageId, a)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach(_.task(e))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach(_.stage(e.stageInfo))
}

/** The one measured-run path of the benchmark and profiling mains. */
object Obs {
  private val runs = new AtomicLong

  /** The context's [[GroupListener]], registered on first use. */
  def listener(sc: SparkContext): GroupListener = synchronized {
    GraftListenerBridge.find[GroupListener](sc).getOrElse {
      val l = new GroupListener; sc.addSparkListener(l); l
    }
  }

  /** Run `action` under a fresh job group, wait until the listener has
    * seen every event it posted, and return what it cost. A non-fatal
    * throw becomes `Sample.error`; the caller's job group is restored
    * either way. */
  def run(spark: SparkSession, label: String)(action: => Any): Sample = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val group = s"graft.obs-${runs.incrementAndGet()}-$label"
    val saved = GraftListenerBridge.JobGroupKeys.map(k => k -> sc.getLocalProperty(k))
    val acc = l.begin(group)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val outcome: Either[Throwable, Double] =
      try { sc.setJobGroup(group, label); action; Right((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) => Left(e) }
      finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    GraftListenerBridge.drain(sc, timeoutMs = 60000L)
    l.end(group)
    acc.sample(label, outcome.getOrElse(-1.0), outcome.left.toOption,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
  }

  /** The faster of two passes, with that pass's figures; a failed pass
    * never wins over a good one. */
  def best(a: Sample, b: Sample): Sample = if (!b.ok || (a.ok && a.sec <= b.sec)) a else b

  /** The timed action: a noop-format write materializes every output row
    * through the full physical plan, where `count()` would let Catalyst
    * prune the final sort and projection. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
