package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** R-1..R-4 + watermark/window/session semantics, driven through real
  * micro-batch execution with MemoryStream sources and memory/parquet
  * sinks (the SSE queue + poller of server.py:337-358, Spark-native). */
class EventStreamSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1L, typ: String = "click") =
    Ev(id, ts(minute), user, typ, 1.0, "{}")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("R-2/R-3: update-mode type counts evolve across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStream.typeCounts(in.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("tc").option("checkpointLocation", tmp("tc")).start()
    try {
      in.addData(ev(1, 0), ev(2, 1), ev(3, 2, typ = "buy"))
      q.processAllAvailable()
      val after1 = spark.table("tc").groupBy("event_type")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      after1 shouldEqual Map("click" -> 2L, "buy" -> 1L)

      in.addData(ev(4, 3), ev(5, 4))
      q.processAllAvailable()
      // update mode re-emits only the changed key with its new total
      val after2 = spark.table("tc").groupBy("event_type")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      after2 shouldEqual Map("click" -> 4L, "buy" -> 1L)
    } finally q.stop()
  }

  test("idempotent sink: a replayed batch overwrites its partition, no duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = tmp("idem-out")
    val q = EventStream.idempotentParquetSink(in.toDF(), out, tmp("idem-ckpt"))
    try {
      // R-4: every micro-batch accumulates in the sink
      in.addData(ev(1, 0), ev(2, 1)); q.processAllAvailable()
      spark.read.parquet(out).count() shouldEqual 2
      in.addData(ev(3, 2)); q.processAllAvailable()
      spark.read.parquet(out).count() shouldEqual 3
      // replay batch 1 through the sink's own writer (foreachBatch
      // redelivery): same batchId → partition overwritten, not appended
      import spark.implicits._
      EventStream.writeBatchIdempotent(Seq(ev(3, 2)).toDF(), out, 1L)
      EventStream.writeBatchIdempotent(Seq(ev(3, 2)).toDF(), out, 1L)
      spark.read.parquet(out).count() shouldEqual 3
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Timestamp)]
    val purchasesIn = MemoryStream[(Long, Long, Timestamp)]
    val p = purchasesIn.toDF().toDF("p_id", "p_user", "p_ts").withWatermark("p_ts", "10 minutes")
    val c = clicksIn.toDF().toDF("c_id", "c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val joined = p.join(c, expr(
      "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"), "left_outer")
    val q = joined.select("p_id", "c_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssleft").option("checkpointLocation", tmp("ssleft")).start()
    try {
      clicksIn.addData((10L, 1L, ts(40)))
      purchasesIn.addData((1L, 1L, ts(45)), (2L, 7L, ts(45))) // user 7 has no click
      q.processAllAvailable()
      clicksIn.addData((99L, 9L, ts(600))); purchasesIn.addData((98L, 9L, ts(601)))
      q.processAllAvailable()
      val rows = spark.table("ssleft").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      rows(1L) shouldEqual Some(10L)
      rows(2L) shouldEqual None // emitted with null click once watermark passed
    } finally q.stop()
  }

  test("watermarked hourly windows finalize and drop too-late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStream.hourlyCounts(in.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("hw").option("checkpointLocation", tmp("hw")).start()
    try {
      in.addData(ev(1, 10), ev(2, 20), ev(3, 70))
      q.processAllAvailable()
      // push event time far ahead: watermark (max - 2h) passes hour 0+1
      in.addData(ev(4, 60 * 5))
      q.processAllAvailable()
      // an event older than the watermark must be dropped, not re-opened
      in.addData(ev(99, 15))
      q.processAllAvailable()
      in.addData(ev(5, 60 * 9)) // close hour 5 too
      q.processAllAvailable()
      val rows = spark.table("hw")
        .select(hour(col("hour")).as("h"), col("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      rows.get(0) shouldEqual Some(2L) // late ev(99) not counted
      rows.get(1) shouldEqual Some(1L)
      rows.get(5) shouldEqual Some(1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes repeats of event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStream.dedupWithinWatermark(in.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dd").option("checkpointLocation", tmp("dd")).start()
    try {
      in.addData(ev(1, 0), ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      in.addData(ev(1, 3), ev(3, 4))
      q.processAllAvailable()
      spark.table("dd").select("event_id").as[Long].collect().sorted
        .toSeq shouldEqual Seq(1L, 2L, 3L)
    } finally q.stop()
  }

  test("batch dedup_within_horizon rule matches streaming dedup replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The registered batch query (EventQueries dedup_within_horizon)
    // claims to be the deterministic replay of dedupWithinWatermark's
    // steady state. Pin that on a real micro-batch run: retransmits
    // inside the 1-hour horizon are dropped, and a repeat AFTER the
    // key's state expired (watermark passed first ts + horizon) is
    // kept again — then assert the batch lag-filter form produces the
    // identical row set over the same occurrences.
    val occurrences = Seq(
      Seq(ev(1, 0), ev(2, 5)),   // originals
      Seq(ev(1, 2), ev(2, 12)),  // +2 min / +7 min → inside horizon, dropped
      Seq(ev(999, 130)),         // advances watermark to 1h10m → both states expire
      Seq(ev(1, 180)))           // 3h ≫ horizon after expiry → kept again
    val in = MemoryStream[Ev]
    val q = EventStream.dedupWithinWatermark(in.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ddh").option("checkpointLocation", tmp("ddh")).start()
    try {
      occurrences.foreach { batch => in.addData(batch: _*); q.processAllAvailable() }
      val streamed = spark.table("ddh").select("event_id", "ts")
        .as[(Long, Timestamp)].collect().toSet

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_id").orderBy("ts")
      val batchForm = occurrences.flatten.toDF()
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 1 hour"))
        .select("event_id", "ts").as[(Long, Timestamp)].collect().toSet

      streamed shouldEqual batchForm
      streamed should contain ((1L, ts(0)))
      streamed should contain ((1L, ts(180))) // re-admitted after expiry
      streamed should not contain ((1L, ts(2)))
      streamed should not contain ((2L, ts(12)))
    } finally q.stop()
  }

  test("session_window semantics: gap merges inclusively at the boundary") {
    import spark.implicits._
    // batch frame, same operator the streaming path uses
    val df = Seq(
      ev(1, 0), ev(2, 29),          // merged: 29 ≤ 0 + 30-min gap, end extends to 59
      ev(3, 59),                    // 59 ≤ 29+30 → same session, end 89
      ev(4, 89),                    // exactly at end (89 = 59+30) → still MERGES
      ev(5, 120),                   // 120 > 89+30 → new session
      ev(6, 200, user = 2L)
    ).toDF()
    val sess = EventStream.sessionWindows(df, "30 minutes")
      .orderBy("user_id", "session_start").collect()
    sess.length shouldEqual 3
    sess(0).getAs[Long]("n_events") shouldEqual 4
    sess(0).getAs[Timestamp]("session_end") shouldEqual ts(119)
    sess(1).getAs[Timestamp]("session_start") shouldEqual ts(120)
    sess(2).getAs[Long]("user_id") shouldEqual 2L
  }

  test("R-2: the events parquet table drives a file-based streaming query") {
    val dir = "/root/testdata/sf0.001"
    // file-stream sources consume directories of arriving files; stage
    // the events table into one (read-only testdata stays untouched)
    val streamDir = tmp("events-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    // micro-batch consumption of the same table the batch queries use,
    // through the same physical-type normalization as the batch loader
    val raw = spark.readStream.schema(
        spark.read.parquet(s"$dir/events.parquet").schema)
      .parquet(streamDir)
    val q = EventStream.typeCounts(graft.Tables.normalizeTs(raw))
      .writeStream.outputMode("update").format("memory")
      .queryName("filestream").option("checkpointLocation", tmp("fs")).start()
    try {
      q.processAllAvailable()
      val total = spark.table("filestream")
        .groupBy("event_type").agg(max("n_events").as("n"))
        .agg(sum("n")).collect().head.getLong(0)
      total shouldEqual spark.read.parquet(s"$dir/events.parquet").count()
    } finally q.stop()
  }

  test("J-2: stream-static join enriches streamed events against a static dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "EU"), (2L, "APAC")).toDF("user_id", "region")
    val in = MemoryStream[Ev]
    val q = in.toDF().join(dim, Seq("user_id"), "left_outer")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj").option("checkpointLocation", tmp("ssj")).start()
    try {
      in.addData(ev(1, 0, user = 1L), ev(2, 1, user = 2L), ev(3, 2, user = 99L))
      q.processAllAvailable()
      val rows = spark.table("ssj").select("event_id", "region").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      rows shouldEqual Map(1L -> Some("EU"), 2L -> Some("APAC"), 3L -> None)
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Timestamp)]
    val purchasesIn = MemoryStream[(Long, Long, Timestamp)]
    val joined = EventStream.purchaseClickJoin(
      purchasesIn.toDF().toDF("p_id", "p_user", "p_ts"),
      clicksIn.toDF().toDF("c_id", "c_user", "c_ts"))
    val q = joined.select("p_id", "c_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").option("checkpointLocation", tmp("ssjoin")).start()
    try {
      clicksIn.addData((10L, 1L, ts(0)), (11L, 1L, ts(30)), (12L, 2L, ts(10)))
      purchasesIn.addData((1L, 1L, ts(45)))  // clicks @0 and @30 both in [45-60, 45]
      q.processAllAvailable()
      // push both watermarks far ahead so results finalize
      clicksIn.addData((99L, 9L, ts(600))); purchasesIn.addData((98L, 9L, ts(601)))
      q.processAllAvailable()
      val pairs = spark.table("ssjoin").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      pairs should contain allOf (1L -> 10L, 1L -> 11L)
      pairs should not contain (1L -> 12L) // other user's click
    } finally q.stop()
  }

  test("mapGroupsWithState: per-user running counters persist across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val counted = in.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + evs.size
          state.update(c)
          (user, c)
      }
    val q = counted.toDF("user_id", "n")
      .writeStream.outputMode(OutputMode.Update).format("memory")
      .queryName("mgws").option("checkpointLocation", tmp("mgws")).start()
    try {
      in.addData(ev(1, 0, user = 1L), ev(2, 1, user = 1L), ev(3, 2, user = 2L))
      q.processAllAvailable()
      in.addData(ev(4, 3, user = 1L))
      q.processAllAvailable()
      val latest = spark.table("mgws").groupBy("user_id")
        .agg(max("n").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      latest shouldEqual Map(1L -> 3L, 2L -> 1L) // state carried across batches
    } finally q.stop()
  }

  test("progress listener emits start/step/done with batch progress (300 ms trigger)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buf = scala.collection.mutable.ArrayBuffer.empty[EventStream.ProgressEvent]
    val listener = new EventStream.ProgressListener(e => buf.synchronized { buf += e })
    def snap = buf.synchronized { buf.toList }
    def await(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    spark.streams.addListener(listener)
    val in = MemoryStream[Ev]
    val q = EventStream.typeCountsLive(in.toDF(), "live300", tmp("live300"))
    try {
      in.addData(ev(1, 0), ev(2, 1), ev(3, 2, typ = "buy"))
      q.processAllAvailable()
      // the listener bus delivers asynchronously — wait, don't assert a race
      await(snap.exists(_.eventType == "start") && snap.exists(_.eventType == "step"))
      snap.map(_.eventType) should contain("start")
      val steps = snap.filter(_.eventType == "step")
      steps should not be empty
      steps.map(_.data("numInputRows").toLong).sum should be >= 3L
      steps.head.data should contain key "batchId"
    } finally {
      q.stop()
      await(snap.exists(_.eventType == "done"))
      spark.streams.removeListener(listener)
    }
    // clean stop (no exception) → the reference's "done", not "error"
    snap.map(_.eventType) should contain("done")
    snap.map(_.eventType) should not contain "error"
  }

  test("AvailableNow drains everything then terminates on its own") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(ev(1, 0), ev(2, 1), ev(3, 2, typ = "buy"))
    val q = EventStream.drainAvailable(
      EventStream.typeCounts(in.toDF()), "drain", tmp("drain"))
    try {
      q.awaitTermination(60000) shouldBe true // self-terminates when drained
      val counts = spark.table("drain").groupBy("event_type")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counts shouldEqual Map("click" -> 2L, "buy" -> 1L)
      q.isActive shouldBe false
    } finally scala.util.Try(q.stop())
  }

  test("progress listener reports a failing query as error, not done") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buf = scala.collection.mutable.ArrayBuffer.empty[EventStream.ProgressEvent]
    val listener = new EventStream.ProgressListener(e => buf.synchronized { buf += e })
    def snap = buf.synchronized { buf.toList }
    def await(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    spark.streams.addListener(listener)
    val in = MemoryStream[Ev]
    val q = in.toDF()
      .withColumn("bad", expr("assert_true(value < 0)")) // every row fails
      .writeStream.outputMode("append").format("memory")
      .queryName("failing").option("checkpointLocation", tmp("failing")).start()
    try {
      in.addData(ev(1, 0))
      intercept[Exception](q.processAllAvailable())
    } finally {
      scala.util.Try(q.stop())
      await(snap.exists(e => e.eventType == "error" || e.eventType == "done"))
      spark.streams.removeListener(listener)
    }
    val last = snap.filter(e => e.eventType == "error" || e.eventType == "done")
    last.map(_.eventType) should contain("error")
    last.find(_.eventType == "error").get.data.keySet should contain("error")
  }

  test("batch ≡ stream: typeCounts totals match the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = (1 to 50).map(i => ev(i, i, user = i % 7, typ = if (i % 3 == 0) "buy" else "click"))
    val in = MemoryStream[Ev]
    val q = EventStream.typeCounts(in.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("eq").option("checkpointLocation", tmp("eq")).start()
    try {
      data.grouped(17).foreach { g => in.addData(g: _*); q.processAllAvailable() }
      val streamed = spark.table("eq").groupBy("event_type")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = EventStream.typeCounts(data.toDF()).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("n_events")).toMap
      streamed shouldEqual batch
    } finally q.stop()
  }

  test("sessionWindows runs as a STREAMING aggregation (watermark present)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // without the watermark inside sessionWindows, this start() throws
    // AnalysisException: streaming session_window requires a watermark
    val in = MemoryStream[Ev]
    val q = EventStream.sessionWindows(in.toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_s").option("checkpointLocation", tmp("sess_s")).start()
    try {
      in.addData(ev(1, 0), ev(2, 10), ev(3, 120)) // gap > 30 min splits
      q.processAllAvailable()
      spark.table("sess_s").count() shouldEqual 2L
    } finally q.stop()
  }

}
