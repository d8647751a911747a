package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Structured-Streaming surface (SURVEY §2.9 R-1..R-4 + the extension
  * windows/watermark/session ops).
  *
  * The reference's streaming layer is a hand-rolled SSE queue polled
  * every 0.3 s with shared-dict state (/root/reference/server.py:69-75,
  * 337-358); each transform below is the Spark-native replacement and
  * works unchanged on a batch DataFrame (same Catalyst plan), which is
  * how the batch-equivalence specs pin semantics. State stores are
  * keyed and partitioned — nothing here accumulates driver-side.
  */
object EventStream {

  /** R-3: update-mode per-type counters (the UI stat tiles A-1/A-2).
    * `approx_count_distinct` (HLL++) instead of exact distinct — exact
    * distinct isn't available under incremental state, and the sketch
    * is mergeable across partitions and batches. */
  def typeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct("user_id").as("approx_users"))

  /** Tumbling event-time window with a 2-hour watermark: late data
    * beyond the watermark is dropped, windows finalize incrementally. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))

  /** Gap-based sessionization via the native session_window operator
    * (events within `gap` of the session end extend it; session end =
    * last event + gap). Same shape batch or streaming — the watermark
    * is REQUIRED for the streaming form (Spark refuses a streaming
    * session_window aggregation without one) and is a no-op in batch,
    * so applying it here keeps the one definition valid in both
    * modes. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw").getField("start").as("session_start"),
        col("sw").getField("end").as("session_end"), col("n_events"))

  /** Stateful dedup bounded by the watermark — the streaming version of
    * T-3 that doesn't grow state forever. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: purchases matched to same-user clicks
    * within the preceding `window`. Both sides carry watermarks so the
    * join state is bounded — rows older than the watermark minus the
    * interval are evicted, which is what keeps a 100 TB/day pair of
    * streams joinable at all. `lateness` (allowed event-time lateness)
    * is a separate knob from the attribution `window`: a wide window
    * with a tight lateness bound keeps state small and results timely. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      window: String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("p_ts", lateness)
    val c = clicks.withWatermark("c_ts", lateness)
    p.join(c, expr(
      s"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL $window AND p_ts"))
  }

  /** The reference's SSE event shape ({type, data, ts} appended to a
    * queue — server.py:69-75) as the payload of the Spark-native
    * progress feed. */
  case class ProgressEvent(eventType: String, data: Map[String, String], ts: Long)

  /** A-4/R-2 progress parity: the reference POLLS its event queue every
    * 0.3 s (server.py:337-358); a StreamingQueryListener is the
    * Spark-native inversion — start/step/done/error events are PUSHED
    * at micro-batch cadence with real batch progress (rows per batch,
    * per-second rates), no shared-dict state and no poll loop. Pair
    * with [[trigger300ms]] so steps arrive at the same sub-second
    * cadence the reference's UI feed has. `emit` must be thread-safe:
    * the listener bus delivers asynchronously. */
  class ProgressListener(emit: ProgressEvent => Unit) extends StreamingQueryListener {
    import StreamingQueryListener._
    private def now(): Long = System.currentTimeMillis()
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      emit(ProgressEvent("start",
        Map("id" -> e.id.toString, "name" -> Option(e.name).getOrElse("")), now()))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      emit(ProgressEvent("step", Map(
        "id" -> e.progress.id.toString,
        "batchId" -> e.progress.batchId.toString,
        "numInputRows" -> e.progress.numInputRows.toString,
        "inputRowsPerSecond" -> e.progress.inputRowsPerSecond.toString), now()))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      emit(ProgressEvent(
        if (e.exception.isDefined) "error" else "done",
        Map("id" -> e.id.toString) ++ e.exception.map("error" -> _), now()))
  }

  /** R-2 cadence parity: a 300 ms processing-time trigger — the same
    * 0.3 s step the reference's poll loop uses, but as the micro-batch
    * schedule itself. */
  val trigger300ms: Trigger = Trigger.ProcessingTime("300 milliseconds")

  /** Per-type counters on the 300 ms trigger, feeding a memory sink
    * (the stat-tile feed A-1/A-2 with R-2's cadence). COMPLETE mode:
    * the memory sink REPLACES its table each batch in complete mode,
    * keeping the driver-side table bounded at |event types| rows for
    * the life of the dashboard — update mode would APPEND each batch's
    * changed rows and grow the table by ~one row per type per 300 ms
    * forever. (Production feeds go through [[idempotentParquetSink]];
    * the memory sink is the live-inspection surface.) */
  def typeCountsLive(events: DataFrame, queryName: String,
      checkpoint: String): StreamingQuery =
    typeCounts(events).writeStream
      .outputMode("complete").format("memory").queryName(queryName)
      .trigger(trigger300ms)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Backfill mode: process everything currently available — across as
    * many rate-limited micro-batches as needed — then terminate. The
    * drain-and-stop counterpart of [[trigger300ms]]'s live feed (the
    * reference's "run the job over what's accumulated" mode,
    * server.py:326-334 kicking off one bounded scrape run). */
  /** NOTE: the memory sink materializes the drained result in DRIVER
    * memory — right for the bounded verification/backfill-inspection
    * runs it serves here; a large backfill drains through
    * [[idempotentParquetSink]] instead (executor-side writes). */
  def drainAvailable(transformed: DataFrame, queryName: String,
      checkpoint: String): StreamingQuery =
    transformed.writeStream
      .outputMode("update").format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()

  /** The idempotent per-batch writer: a batch lands in its own
    * `batch_id=<id>` partition directory with overwrite, so replaying
    * the same batchId rewrites the partition instead of appending
    * duplicates. Factored out of the sink so the replay path itself is
    * unit-testable (calling it twice with one batchId must not change
    * the row count). */
  def writeBatchIdempotent(batch: DataFrame, path: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** R-4: incremental materialization — every micro-batch lands in the
    * sink directory as its own partition (the crash-safe-partial-results
    * semantics of the reference's rewrite-per-row, app.py:303-310, at
    * per-batch rather than per-row granularity). foreachBatch is
    * at-least-once, and [[writeBatchIdempotent]] makes the redelivery
    * harmless — the standard exactly-once-by-idempotence recipe for
    * file sinks. */
  def idempotentParquetSink(df: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, path, batchId)
      }
      .start()

  /** K-1 literal-parity sink: mirror the standing accumulated rows into
    * ONE `output.xlsx` after every micro-batch — the reference rewrites
    * the whole workbook per enriched company (app.py:303-317); this is
    * the same rewrite-on-progress semantics at batch granularity. The
    * standing set lives in the idempotent parquet sink (exactly-once by
    * batch_id-partition overwrite), and the workbook is DERIVED from it
    * each batch, so a replayed batchId rewrites an identical workbook
    * (idempotence inherited) and a crash between the parquet write and
    * the xlsx rewrite self-heals on the next batch. Row order in the
    * workbook is (batch_id, orderCols) — arrival order, then the
    * caller's within-batch key, matching the reference's
    * insertion-ordered sheet. The xlsx edge is driver-side and single-
    * file by format design (see [[graft.sources.XlsxWrite]]); the
    * distributed system of record stays the parquet directory. */
  def xlsxMirrorSink(df: DataFrame, path: String, xlsxPath: String,
      checkpoint: String, orderCols: Seq[String]): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, path, batchId)
        val standing = batch.sparkSession.read.parquet(path)
          .orderBy(("batch_id" +: orderCols).map(col): _*)
          .drop("batch_id")
        graft.sources.XlsxWrite.write(standing, xlsxPath)
        ()
      }
      .start()
}
