package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.EventStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

case class Lead(doc_id: Long, company: String, email: String, score: Double)

/** K-1 write parity: the engine's own SpreadsheetML writer round-trips
  * through the native reader ([[Xlsx]]) and through the incremental
  * workbook mirror ([[EventStream.xlsxMirrorSink]]). */
class XlsxWriteSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("write → read round-trip: strings, numbers, booleans, nulls, unicode, whitespace") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("n", LongType),
      StructField("x", DoubleType), StructField("ok", BooleanType)))
    val rows = Seq(
      Row("plain", 1L, 1.5, true),
      Row("ünïcode 中文 🚀", 2L, -0.125, false),
      Row("  keep  spaces  ", 3L, 1.0e18, true),
      Row("a&b <tag> \"q\" 'r'", -9223372036854775808L, 0.1, false),
      Row(null, null, null, null), // all-null DATA row must survive
      Row("tab\tand\nnewline", 4L, 4.9e-324, true))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val dir = tmp("xlsxw"); val f = s"$dir/out.xlsx"
    val n = XlsxWrite.write(df.orderBy("n"), f)
    assert(n == 6)
    val back = Xlsx.read(spark, f, schema).collect()
    // all-null data rows come back as width-0 rows dropped? No: the
    // writer emits NO cells for them and the reader drops cell-less
    // rows — both sides treat a fully-blank row as absent. Assert the
    // 5 value-carrying rows round-trip exactly.
    val sent = rows.filter(r => !(0 until 4).forall(r.isNullAt))
    assert(back.length == sent.length)
    val key = (r: Row) => Option(r.get(1)).map(_.toString).getOrElse("")
    back.sortBy(key).zip(sent.sortBy(key)).foreach { case (b, s) =>
      assert(b == s, s"row mismatch: $b vs $s")
    }
  }

  test("timestamps write as ISO and read back exactly") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("at", TimestampType)))
    val rows = Seq(
      Row(1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      Row(2L, Timestamp.valueOf("1999-12-31 23:59:59")))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val dir = tmp("xlsxts"); val f = s"$dir/out.xlsx"
    XlsxWrite.write(df, f)
    val back = Xlsx.read(spark, f, schema).collect().sortBy(_.getLong(0))
    assert(back.toSeq == rows)
  }

  test("colLetters is the exact inverse of the reader's colIndex") {
    (0 until 1000).foreach { i =>
      assert(Xlsx.colIndex(XlsxWrite.colLetters(i) + "1") == i)
    }
    assert(XlsxWrite.colLetters(0) == "A")
    assert(XlsxWrite.colLetters(25) == "Z")
    assert(XlsxWrite.colLetters(26) == "AA")
    assert(XlsxWrite.colLetters(54) == "BC")
  }

  test("XML-illegal control chars hit the documented U+FFFD boundary; legal ones survive") {
    assert(XlsxWrite.escape("a\u0000b\u0007c") == "a�b�c")
    assert(XlsxWrite.escape("t\tn\nr\r") == "t\tn\nr\r")
    assert(XlsxWrite.escape("&<>") == "&amp;&lt;&gt;")
  }

  test("row-cap guard fails fast, not a corrupt workbook") {
    val schema = StructType(Seq(StructField("n", LongType)))
    val big = new java.util.Iterator[Row] {
      var i = 0L
      def hasNext = true // unbounded — the guard must stop it
      def next() = { i += 1; Row(i) }
    }
    val e = intercept[IllegalArgumentException] {
      XlsxWrite.writeRows(schema, big, new java.io.ByteArrayOutputStream())
    }
    assert(e.getMessage.contains("parquet"))
  }

  test("xlsxMirrorSink: workbook is rewritten per batch and equals the one-shot write") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("xlsxmirror")
    val standing = s"$dir/standing"; val wb = s"$dir/output.xlsx"
    val in = MemoryStream[Lead]
    val q = EventStream.xlsxMirrorSink(in.toDF(), standing, wb,
      s"$dir/ckpt", orderCols = Seq("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("company", StringType),
      StructField("email", StringType), StructField("score", DoubleType)))
    try {
      in.addData(Lead(2, "Beta GmbH", "b@x.example", 0.5),
        Lead(1, "Acme", "a@x.example", 0.75))
      q.processAllAvailable()
      val after1 = Xlsx.read(spark, wb, schema).collect()
      assert(after1.length == 2) // partial results visible mid-stream (K-1)
      in.addData(Lead(3, "Čarlie ÅB", "c@x.example", 1.0))
      q.processAllAvailable()
      val after2 = Xlsx.read(spark, wb, schema).collect().sortBy(_.getLong(0))
      assert(after2.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      // micro-batched workbook ≡ one-shot write of the same frame
      val oneShot = s"$dir/oneshot.xlsx"
      XlsxWrite.write(
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          Row(1L, "Acme", "a@x.example", 0.75),
          Row(2L, "Beta GmbH", "b@x.example", 0.5),
          Row(3L, "Čarlie ÅB", "c@x.example", 1.0))), schema).orderBy("doc_id"),
        oneShot)
      val a = Xlsx.read(spark, wb, schema).collect().sortBy(_.getLong(0)).toSeq
      val b = Xlsx.read(spark, oneShot, schema).collect().sortBy(_.getLong(0)).toSeq
      assert(a == b)
    } finally q.stop()
  }
}
