package graft.streaming

import graft.{SparkSpec, Tables}
import graft.streaming.StatefulOps.EvRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** X-24 micro-batch ≡ batch: the SAME StatefulOps.userStates code run
  * (a) as one batch over the events table — the registered
  * `user_state_machine` form the DuckDB oracle checks — and (b) as a
  * real mapGroupsWithState stream over three event-time-ordered
  * micro-batches, state carried in the state store. The final per-user
  * states must be identical. */
class StatefulOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("mapGroupsWithState micro-batch replay equals the one-shot batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch = StatefulOps.userStates(Tables.events(spark, sf))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    batch.size should be > 10
    // the fixture is non-trivial: some user has more than one session
    batch.values.map(_._2).max should be > 1L

    // three event-time-ordered slices (the state-machine replay
    // contract: batches respect per-user event-time order)
    val rows = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EvRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val k = rows.length / 3
    val slices = Seq(rows.slice(0, k), rows.slice(k, 2 * k),
      rows.slice(2 * k, rows.length))

    val in = MemoryStream[EvRow]
    val q = StatefulOps.userStates(in.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("usm")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("usm-ckpt").toString)
      .start()
    try {
      slices.foreach { sl => in.addData(sl.toIndexedSeq); q.processAllAvailable() }
      // update mode emits each user's state per touched batch; the
      // final state is the row with the largest n_events (state only
      // grows). Some user must have been touched by ≥ 2 batches — the
      // state-carry is what's under test.
      val emitted = spark.table("usm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
      emitted.groupBy(_._1).values.map(_.size).max should be >= 2
      val streamed = emitted.groupBy(_._1).map { case (u, rs) =>
        val last = rs.maxBy(_._2)
        u -> (last._2, last._3, last._4, last._5)
      }
      streamed shouldEqual batch
    } finally q.stop()
  }

  test("equal-timestamp events split across micro-batches fold to the batch answer") {
    // both orderings satisfy the event-time-order replay contract (the
    // timestamps are EQUAL), so the carried lastEventId must break the
    // tie the way the one-shot batch (and the oracle's ORDER BY ts
    // DESC, event_id DESC) does: id 42 'purchase' is the last event
    // even when id 41 'click' arrives in a later micro-batch
    val ts = java.sql.Timestamp.valueOf("2025-01-01 10:00:00")
    val e42 = EvRow(42L, ts, 1L, "purchase", Some(1.0))
    val e41 = EvRow(41L, ts, 1L, "click", Some(2.0))
    val oneShot = StatefulOps.fold(None, Seq(e41, e42))
    val split = StatefulOps.fold(Some(StatefulOps.fold(None, Seq(e42))), Seq(e41))
    split shouldEqual oneShot
    oneShot.lastType shouldEqual "purchase"
    split.nEvents shouldEqual 2L
    split.nSessions shouldEqual 1L  // gap 0 opens no second session
    split.valueCents shouldEqual 300L
  }
}
