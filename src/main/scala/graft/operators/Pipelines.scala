package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's complete pipeline, end to end (its §3.1 trace,
  * /root/reference/app.py:278-321): crawled text → normalize (F-4) →
  * regex extraction (F-1/F-2/F-3) → LLM enrichment (O-9/O-11, mock by
  * default, context = the extracted About-Us sentence or "" exactly as
  * app.py:226 passes it) → JSON flatten (F-9/F-10) → the exact
  * 14-column OUTPUT_COLUMNS materialization (K-2, app.py:42-58) in
  * input order (T-4).
  *
  * A user of the reference switches by pointing this at their
  * (company, website, page-text) frame and swapping [[MockEnricher]]
  * for a real [[Enricher]]. The whole pipeline is ONE lineage: the
  * extraction columns ride through the enrichment map
  * ([[Enrichment.enrichRows]], `enrichMap`'s window: up to 16 calls of
  * a task in flight, rows in input order) instead of being recomputed
  * on a second scan and joined back — at 100 TB the join would double
  * the scan and add a shuffle for nothing.
  */
object Pipelines {

  /** The reference's declared output schema, in order (app.py:42-58). */
  val OutputColumns: Seq[String] =
    Seq("Company Name", "Website", "Founded Info", "About Us") ++
      Enrichment.FlattenKeys ++ Seq("Email")

  /** Row shapes crossing the enrichment map (extraction results ride
    * along so nothing is recomputed downstream). */
  case class PipeIn(doc_id: Long, company: String, website: String,
      founded: String, about_us: String, email: String)
  case class PipeOut(doc_id: Long, company: String, website: String,
      founded: String, about_us: String, email: String, raw_json: String)

  /** @param docs frame with (doc_id, company, website, text) */
  def leadSight(docs: DataFrame, enricher: Enricher = MockEnricher): DataFrame = {
    import docs.sparkSession.implicits._
    val extracted = docs
      .withColumn("text_norm", Extraction.normalizeWs(col("text")))
      .select(col("doc_id"), col("company"), col("website"),
        Extraction.extractFounded(col("text_norm")).as("founded"),
        Extraction.sentenceNear(col("text_norm"), "about us").as("about_us"),
        Extraction.extractEmail(col("text_norm")).as("email"))
      .as[PipeIn]
    val withRaw = Enrichment.enrichRows(extracted, enricher)(
      // the reference prompts with the extracted sentence or ""
      // (app.py:226: about_text = result["About Us"] or "")
      r => (r.company, r.website, Option(r.about_us).getOrElse("")))(
      (r, raw) => PipeOut(r.doc_id, r.company, r.website, r.founded, r.about_us, r.email, raw))
    val renamed = Enrichment.flatten(withRaw.toDF())
      .withColumnRenamed("company", "Company Name")
      .withColumnRenamed("website", "Website")
      .withColumnRenamed("founded", "Founded Info")
      .withColumnRenamed("about_us", "About Us")
      .withColumnRenamed("email", "Email")
    Extraction.orderedProjection(renamed, "doc_id" +: OutputColumns)
  }
}
