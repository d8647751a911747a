package graft.obs

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hold each job's tasks until the other job has one running, so two runs
  * provably overlap; local mode runs tasks in this JVM. */
private object ObsGate {
  val a = new CountDownLatch(1)
  val b = new CountDownLatch(1)
}

/** The measured-run path: job-group attribution, a drain instead of a
  * sleep, and the caller's job group restored on failure. */
class ObsSpec extends SparkSpec {

  private def shuffled(rows: Long, parts: Int): Unit = Obs.sink(
    spark.range(0, rows, 1, 4)
      .select(col("id"), md5(col("id").cast("string")).as("v"),
        sha2(col("id").cast("string"), 256).as("w"))
      .repartition(parts, col("v")))

  test("a run's shuffle bytes do not depend on the run before it, with no settle sleep") {
    val alone = Obs.run(spark, "light-alone")(shuffled(20000, 8)).orThrow
    val heavy = Obs.run(spark, "heavy")(shuffled(400000, 16)).orThrow
    val after = Obs.run(spark, "light-after-heavy")(shuffled(20000, 8)).orThrow
    alone.shuffleWriteBytes should be > 0L
    heavy.shuffleWriteBytes should be > 10 * alone.shuffleWriteBytes
    after.shuffleWriteBytes shouldBe alone.shuffleWriteBytes
    after.shuffleReadBytes shouldBe alone.shuffleReadBytes
    after.tasks shouldBe alone.tasks
    // the runs left no job group behind on the calling thread
    spark.sparkContext.getLocalProperty("spark.jobGroup.id") shouldBe null
  }

  test("two concurrent job groups never see each other's tasks") {
    val sc = spark.sparkContext
    Obs.listener(sc) should be theSameInstanceAs Obs.listener(sc)
    // latches are looked up inside the task: a captured one would be serialized
    def job(parts: Int, isA: Boolean): Long =
      sc.parallelize(1 to parts, parts).map { x =>
        val (mine, other) = if (isA) (ObsGate.a, ObsGate.b) else (ObsGate.b, ObsGate.a)
        mine.countDown()
        other.await(60, TimeUnit.SECONDS)
        x
      }.count()
    val pool = Executors.newFixedThreadPool(2)
    def measured(label: String)(action: => Any) =
      pool.submit(new Callable[Sample] { def call() = Obs.run(spark, label)(action) })
    try {
      val (fa, fb) = (measured("group-a")(job(3, isA = true)), measured("group-b")(job(2, isA = false)))
      val (a, b) = (fa.get(120, TimeUnit.SECONDS).orThrow, fb.get(120, TimeUnit.SECONDS).orThrow)
      (a.tasks, b.tasks) shouldBe ((3, 2))
      (a.jobs.size, b.jobs.size) shouldBe ((1, 1))
      a.stages.map(_.stageId).intersect(b.stages.map(_.stageId)) shouldBe empty
      // the two jobs overlapped: a time window around either run would
      // have counted the other's tasks too
      val ((s1, e1), (s2, e2)) = (a.jobs.head, b.jobs.head)
      math.max(s1, s2) should be <= math.min(e1, e2)
    } finally pool.shutdown()
  }

  test("a throwing action restores the caller's job group and still reports its failed tasks") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's own work")
    try {
      val s = Obs.run(spark, "poisoned") {
        sc.parallelize(1 to 4, 4).map { x =>
          if (x == 1) throw new IllegalStateException("poisoned partition")
          x
        }.count()
      }
      (s.ok, s.sec) shouldBe ((false, -1.0))
      s.error.get.getMessage should include("poisoned partition")
      // the shared session tries a task up to 4 times (local[4,4])
      s.failedTasks should be >= 4
      sc.getLocalProperty("spark.jobGroup.id") shouldBe "caller"
      sc.getLocalProperty("spark.job.description") shouldBe "the caller's own work"
      an[org.apache.spark.SparkException] should be thrownBy s.orThrow
    } finally sc.clearJobGroup()
  }
}
