package graft.operators

import graft.SparkSpec

class EnrichmentSpec extends SparkSpec {
  import Enrichment._

  private def inputs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.map { case (id, c, a) => EnrichIn(id, c, s"https://$c.example.com", a) }.toDS()
  }

  test("golden E2E: map → parse → flatten produces the 9-key surface") {
    val out = flatten(enrichMap(inputs((1, "acme", "we sell anvils")), MockEnricher).toDF())
    // flatten keeps every carried column (all of EnrichOut minus raw_json)
    out.columns.toSeq shouldEqual
      Seq("doc_id", "company", "website", "about") ++ FlattenKeys
    val r = out.collect().head
    r.getAs[String]("company_overview") shouldEqual
      """{"name":"acme","summary":"acme operates a data platform"}"""
    r.getAs[String]("business_model") shouldEqual """{"model":"saas","channels":"direct"}"""
    r.getAs[String]("leadership") shouldEqual "acme team"
    r.getAs[String]("executive_brief") shouldEqual "Brief for acme"
    r.getAs[String]("products_services") shouldEqual null // absent key → null
  }

  test("null-skip: empty/null about → all enrichment columns null, base row survives") {
    val out = flatten(enrichMap(
      inputs((1, "acme", null), (2, "beta", ""), (3, "gamma", "ok")), MockEnricher).toDF())
      .orderBy("doc_id").collect()
    out.length shouldEqual 3
    FlattenKeys.foreach { k =>
      out(0).getAs[String](k) shouldEqual null
      out(1).getAs[String](k) shouldEqual null
    }
    out(2).getAs[String]("leadership") shouldEqual "gamma team"
  }

  test("a throwing enricher is contained per row, not per task") {
    val bomb = new Enricher {
      def enrich(c: String, w: String, a: String): Option[String] =
        if (c == "boom") throw new RuntimeException("llm down") else Some("""{"leadership":"ok"}""")
    }
    val out = flatten(enrichMap(inputs((1, "boom", "x"), (2, "fine", "x")), bomb).toDF())
      .orderBy("doc_id").collect()
    out(0).getAs[String]("leadership") shouldEqual null
    out(1).getAs[String]("leadership") shouldEqual "ok"
  }

  test("malformed LLM output parses PERMISSIVE to all-null, row survives") {
    val garbage = new Enricher {
      def enrich(c: String, w: String, a: String): Option[String] = Some("not json {")
    }
    val out = flatten(enrichMap(inputs((1, "acme", "x")), garbage).toDF()).collect()
    out.length shouldEqual 1
    FlattenKeys.foreach(k => out.head.getAs[String](k) shouldEqual null)
  }

  test("control characters in company names still yield valid JSON (round-trips)") {
    // a newline/tab/quote/backslash in the name must survive the mock's
    // serialization → PERMISSIVE parse round trip instead of nulling out
    val nasty = "acme\nco\t\"quoted\"\\slash\u0001"
    val out = flatten(enrichMap(inputs((1, nasty, "about")), MockEnricher).toDF()).collect()
    out.head.getAs[String]("leadership") shouldEqual s"$nasty team"
    out.head.getAs[String]("company_overview") should include("\\n") // escaped, not raw
  }

  test("F-11 prompt templating substitutes placeholders, nulls become empty") {
    prompt("acme", "https://a.com", "hello") shouldEqual
      "Analyze acme (https://a.com). Context: hello"
    prompt("acme", null, null) shouldEqual "Analyze acme (). Context: "
  }
}
