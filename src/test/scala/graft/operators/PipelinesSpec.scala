package graft.operators

import graft.SparkSpec

/** Golden E2E for the composed reference pipeline (M5): exact output
  * schema and per-row values over a literal fixture. */
class PipelinesSpec extends SparkSpec {

  private def frame(rows: (Long, String, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "company", "website", "text")
  }

  test("output is doc_id + the 14 OUTPUT_COLUMNS in reference order") {
    Pipelines.OutputColumns.length shouldEqual 14
    val out = Pipelines.leadSight(frame((1L, "acme", "https://a.com", "hello")))
    out.columns.toSeq shouldEqual "doc_id" +: Pipelines.OutputColumns
  }

  test("golden row: extraction + enrichment land in the right columns") {
    val text = "Acme Corp.  Founded in 1999. Learn about us here. mail: ceo@acme.io"
    val r = Pipelines.leadSight(frame((1L, "acme", "https://a.com", text)))
      .collect().head
    r.getAs[String]("Founded Info") shouldEqual "Founded in 1999"
    r.getAs[String]("About Us") shouldEqual "Learn about us here"
    r.getAs[String]("Email") shouldEqual "ceo@acme.io"
    r.getAs[String]("executive_brief") shouldEqual "Brief for acme"
    r.getAs[String]("company_overview") should include(""""name":"acme"""")
    r.getAs[String]("products_services") shouldEqual null // mock leaves it absent
  }

  test("rows with no extractable fields still flow through, null-filled") {
    val out = Pipelines.leadSight(frame(
        (1L, "a", "https://a.com", "plain words only"),
        (2L, "b", "https://b.com", "Founded 2001 somewhere")))
      .orderBy("doc_id").collect()
    out.length shouldEqual 2
    out(0).getAs[String]("Founded Info") shouldEqual null
    out(0).getAs[String]("Email") shouldEqual null
    // no About-Us sentence → empty LLM context → enrichment skipped,
    // matching the reference's about_text = result["About Us"] or ""
    out(0).getAs[String]("executive_brief") shouldEqual null
    out(1).getAs[String]("Founded Info") shouldEqual "Founded 2001"
    out(1).getAs[String]("executive_brief") shouldEqual null
  }

  test("a skipping enricher leaves enrichment null while extraction survives (J-1)") {
    val none = new Enricher {
      def enrich(c: String, w: String, a: String): Option[String] = None
    }
    val r = Pipelines.leadSight(
        frame((1L, "acme", "https://a.com", "Founded 1999 x")), none)
      .collect().head
    r.getAs[String]("Founded Info") shouldEqual "Founded 1999"
    Enrichment.FlattenKeys.foreach(k => r.getAs[String](k) shouldEqual null)
  }
}
