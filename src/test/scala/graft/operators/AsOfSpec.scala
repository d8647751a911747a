package graft.operators

import graft.SparkSpec
import java.sql.Timestamp

class AsOfSpec extends SparkSpec {

  private def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("backward as-of: latest right at-or-before each left row, per key") {
    import spark.implicits._
    val left = Seq((1L, 1L, t(10)), (2L, 1L, t(30)), (3L, 2L, t(5)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((100L, 1L, t(8)), (101L, 1L, t(10)), (102L, 1L, t(31)),
        (103L, 2L, t(7)))
      .toDF("click_id", "user_id", "ts")
    val out = AsOf.joinPrior(left, right, "user_id", "ts", "ts",
        Seq("click_id"), "click_id")
      .orderBy("event_id").collect()
    // event 1 @10: click 101 @10 counts (inclusive <=), beats 100 @8
    out(0).getAs[Long]("asof_click_id") shouldEqual 101L
    // event 2 @30: click 102 @31 is in the future → still 101
    out(1).getAs[Long]("asof_click_id") shouldEqual 101L
    // event 3 (user 2) @5: click 103 @7 is after → no match
    out(2).isNullAt(out(2).fieldIndex("asof_click_id")) shouldEqual true
  }

  test("tie-break: among equal-ts right rows the greatest tiebreak wins") {
    import spark.implicits._
    val left = Seq((1L, 1L, t(10))).toDF("event_id", "user_id", "ts")
    val right = Seq((100L, 1L, t(9)), (200L, 1L, t(9)))
      .toDF("click_id", "user_id", "ts")
    val out = AsOf.joinPrior(left, right, "user_id", "ts", "ts",
      Seq("click_id"), "click_id").collect()
    out.head.getAs[Long]("asof_click_id") shouldEqual 200L
  }

  test("the latest right ROW wins atomically — no stitching across rows") {
    import spark.implicits._
    val left = Seq((1L, 1L, t(20))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, Some("early"), 1L, t(5)),
      (101L, None: Option[String], 1L, t(10)) // latest row has a null field
    ).toDF("click_id", "label", "user_id", "ts")
    val out = AsOf.joinPrior(left, right, "user_id", "ts", "ts",
      Seq("click_id", "label"), "click_id").collect().head
    out.getAs[Long]("asof_click_id") shouldEqual 101L
    // label must be the latest row's null, NOT 'early' from the older row
    out.isNullAt(out.fieldIndex("asof_label")) shouldEqual true
  }

  test("left payload columns survive unchanged") {
    import spark.implicits._
    val left = Seq((1L, 1L, t(10), "x")).toDF("event_id", "user_id", "ts", "note")
    val right = Seq((9L, 1L, t(1))).toDF("click_id", "user_id", "ts")
    val out = AsOf.joinPrior(left, right, "user_id", "ts", "ts",
      Seq("click_id"), "click_id")
    out.columns.toSeq shouldEqual Seq("event_id", "user_id", "ts", "note", "asof_click_id")
    out.collect().head.getAs[String]("note") shouldEqual "x"
  }

  test("null right timestamps/keys are never fabricated as prior rows") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val left = Seq((1L, ts(5), "L1"), (1L, ts(1), "L0")).toDF("k", "lts", "lv")
    // the null-ts right row would sort NULLS FIRST to the partition
    // head and become "the prior row" for ts(1) without the guard
    val right = Seq((1L, null.asInstanceOf[Timestamp], "BAD"),
        (1L, ts(3), "R3")).toDF("k", "rts", "rv")
    val out = AsOf.joinPrior(left, right, "k", "lts", "rts",
        rightVals = Seq("rv"), tiebreak = "rts")
      .collect().map(r => (r.getString(2), r.getString(3))).toMap
    out("L0") shouldBe null // nothing precedes ts(1)
    out("L1") shouldBe "R3"
  }
}
