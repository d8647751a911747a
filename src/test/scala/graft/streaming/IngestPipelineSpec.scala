package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{Dedup, Ingest, Scratch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

case class NewDoc(doc_id: Long, lang: String, text: String)

/** X-160 continuous-ingest mirror: the registered `ingest_pipeline`
  * batch query and a real foreachBatch micro-batch stream run the SAME
  * operators (graft.operators.Ingest); this spec proves micro-batch ≡
  * batch replay — any slicing of the incoming batch, probed and
  * assigned per micro-batch with per-batch manifest PARTIALS, merges
  * to exactly the one-shot manifest. The property holds by
  * construction (new docs probe only the standing index, never each
  * other; every manifest column is an associative+commutative
  * aggregate) — this spec pins it through real micro-batch execution,
  * not an argument. */
class IngestPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("foreachBatch micro-batch ingest merges to the one-shot batch manifest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // standing index artifacts, built ONCE (the persisted-index posture)
    val docsAll = Tables.documents(spark, sf)
    val sh = Scratch.cut(Dedup.shingled(docsAll))
    val idxSh = sh.filter(!Ingest.isNew(col("doc_id")))
    val idxStack = Scratch.cut(Ingest.bandStack(idxSh))
    val idxLabels = Scratch.cut(Dedup.connectedComponents(
      Dedup.jaccardPairsSized(
        idxSh.select(col("doc_id"), col("ss"),
          org.apache.spark.sql.functions.size(col("ss")).as("n")),
        t = 0.5).select("d1", "d2")))

    def ingestManifest(batchDocs: DataFrame): DataFrame =
      Ingest.manifest(
        Ingest.manifestMeta(batchDocs)
          .join(Ingest.probeAssign(Dedup.shingled(batchDocs),
            idxSh, idxStack, idxLabels), Seq("doc_id")))

    // one-shot: the whole new batch in one pass (the registered shape)
    val newDocs = docsAll.filter(Ingest.isNew(col("doc_id")))
      .select("doc_id", "lang", "text")
    val oneShot = ingestManifest(newDocs)
      .orderBy("lang", "shard").collect().map(_.toSeq).toSeq
    oneShot.size should be > 1 // several (lang, shard) manifest lines
    // the probe is non-trivial: some new doc matches a standing cluster
    val matchedTotal = oneShot.map(r => r(3).asInstanceOf[Long]).sum
    matchedTotal should be > 0L

    // micro-batch replay: the SAME docs in three arbitrary slices
    // through real foreachBatch execution, per-batch partials appended
    val rows = newDocs.as[NewDoc].collect().sortBy(_.doc_id)
    val slices = Seq(
      rows.filter(_.doc_id % 3 == 0), rows.filter(_.doc_id % 3 == 1),
      rows.filter(_.doc_id % 3 == 2))
    slices.count(_.nonEmpty) should be > 1 // genuinely multi-batch
    val partsDir = Files.createTempDirectory("ingest-parts").toString
    var batches = 0
    val in = MemoryStream[NewDoc]
    val q = in.toDF().writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("ingest-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          batches += 1
          ingestManifest(batch).write.mode("append").parquet(partsDir)
        }
      }
      .start()
    try {
      slices.foreach { sl => in.addData(sl.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    batches should be >= 2

    val merged = Ingest.mergeManifests(spark.read.parquet(partsDir))
      .orderBy("lang", "shard").collect().map(_.toSeq).toSeq
    merged shouldEqual oneShot
  }
}
