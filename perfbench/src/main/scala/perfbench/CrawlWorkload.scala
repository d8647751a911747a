package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Enrichment, Extraction, HttpEnricher, LinkSelection, Pipelines}
import graft.sources.{Xlsx, XlsxWrite}
import Main.{Plan, PassResult}

/** `leadsight_crawl`: the reference's job end to end. companies.xlsx →
  * robots-respecting home fetch (`graft-web`) → link selection →
  * robots-respecting subpage fetch → extraction → HTTP enrichment →
  * flatten → the ordered 14-column output.xlsx. Each step's output is
  * collected before the next starts, as the reference does per company,
  * so every step is a layer boundary with its own time. */
final class CrawlWorkload(plan: Plan) extends Main.Workload {
  private val xlsxIn = plan.s("companies_xlsx")
  private val xlsxOut = plan.s("output_xlsx")
  private val llmUrl = plan.s("llm_url")
  private val farmCtl = plan.s("farm_ctl")
  private val cores = plan.i("cpus")
  private val timeoutMs = plan.s("fetch_timeout_ms")
  private val failures = mutable.LinkedHashMap[String, String]()
  private var last = Map.empty[String, Double]
  private var passWindow = (0L, 0L)

  def warmFailures: Map[String, String] = failures.toMap

  /** The check reads the output.xlsx of the last measured pass. */
  def warm(spark: SparkSession, check: Boolean): Unit =
    try pass(spark, "warm", None)
    catch { case e: Throwable => failures("crawl") = String.valueOf(e.getMessage).take(300) }

  private def fetch(spark: SparkSession, urls: Seq[String]): Array[Row] =
    if (urls.isEmpty) Array.empty
    else spark.read.format("graft-web")
      .option("urls", urls.mkString("\n")).option("delimiter", "\n")
      .option("respectRobots", "true").option("numPartitions", cores.toString)
      .option("timeoutMs", timeoutMs)
      .load().collect()

  private def farm(path: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(farmCtl + path)).GET().build()
    java.net.http.HttpClient.newHttpClient()
      .send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }

  def pass(spark: SparkSession, tag: String, t: Option[Tracer]): PassResult = {
    import spark.implicits._
    val sc = spark.sparkContext
    def span[T](name: String)(body: => T): T = t.fold(body)(_.spans(name)(body))
    val stepS = mutable.LinkedHashMap[String, Double]()
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try span(name)(body) finally stepS(name) = (System.nanoTime() - t0) / 1e9
    }
    if (t.isDefined) farm("/reset")
    sc.setJobGroup(s"pb.$tag.crawl", "crawl")
    val p0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try span("crawl.pass") {
      val schema = StructType(Seq(StructField("company", StringType), StructField("website", StringType)))
      val companies = step("sources.xlsx.read_s")(Xlsx.read(spark, xlsxIn, schema).collect())
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val home = step("sources.web.home_fetch_s")(fetch(spark, companies.map(_._2)))
        .map(r => r.getString(0) -> r).toMap

      val candidates = companies.flatMap { case (c, w) =>
        home.get(w).filter(r => !r.isNullAt(3)).toSeq
          .flatMap(_.getSeq[Row](3).map(l => (c, w, l.getString(0), l.getString(1))))
      }
      val selected = step("operators.links.select_s")(
        LinkSelection.selectLinks(candidates.toDF("company", "website", "href", "anchor_text"), k = 3)
          .select("company", "full_url").as[(String, String)].collect())
      // company by company in input order, as the reference crawls: the
      // fetch puts hosts into tasks by first appearance, so this keeps each
      // host's task independent of the order the selection's output has
      val rank = companies.map(_._1).zipWithIndex.toMap
      val subUrls = selected.sortBy { case (c, u) => (rank(c), u) }.map(_._2).distinct.toSeq
      val sub = step("sources.web.sub_fetch_s")(fetch(spark, subUrls))
        .map(r => r.getString(0) -> r).toMap

      def text(r: Option[Row]): Option[String] = r.filter(!_.isNullAt(2)).map(_.getString(2))
      val byCompany = selected.groupBy(_._1)
      val blobs = companies.zipWithIndex.map { case ((c, w), i) =>
        val pages = text(home.get(w)).toSeq ++
          byCompany.getOrElse(c, Array.empty).map(_._2).sorted.flatMap(u => text(sub.get(u)))
        (i.toLong, c, w, pages.mkString(" "))
      }
      val extracted = step("operators.extract.s") {
        val norm = Extraction.normalizeWs(col("text"))
        blobs.toDF("doc_id", "company", "website", "text").select(
          col("doc_id"), col("company"), col("website"),
          Extraction.extractFounded(norm).as("founded"),
          Extraction.sentenceNear(norm, "about us").as("about_us"),
          Extraction.extractEmail(norm).as("email"))
          .as[(Long, String, String, String, String, String)].collect()
      }
      val enricher = new HttpEnricher(llmUrl, "", "mock", timeoutMs.toLong)
      val enriched = step("operators.enrich.s")(Enrichment.enrichMap(
        extracted.toSeq.map(r => Enrichment.EnrichIn(r._1, r._2, r._3, Option(r._5).getOrElse("")))
          .toDS().repartition(cores), enricher).collect()).map(e => e.doc_id -> e.raw_json).toMap

      val rows = step("sources.xlsx.write_s") {
        val raw = extracted.toSeq.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, enriched.getOrElse(r._1, null)))
        val df = Enrichment.flatten(raw.toDF("doc_id", "company", "website", "founded", "about_us", "email", "raw_json"))
          .withColumnRenamed("company", "Company Name").withColumnRenamed("website", "Website")
          .withColumnRenamed("founded", "Founded Info").withColumnRenamed("about_us", "About Us")
          .withColumnRenamed("email", "Email")
        XlsxWrite.write(Extraction.orderedProjection(df.orderBy("doc_id"), Pipelines.OutputColumns), xlsxOut)
      }
      val statuses = (home.values ++ sub.values).toSeq.map(r => if (r.isNullAt(1)) None else Some(r.getInt(1)))
      last = Map(
        "companies" -> companies.size.toDouble,
        "rows_written" -> rows.toDouble,
        "candidates" -> candidates.size.toDouble,
        "robots_blocked" -> statuses.count(_.contains(-1)).toDouble,
        "transport_errors" -> statuses.count(_.isEmpty).toDouble,
        "null_fields" -> extracted.map(r => Seq(r._4, r._5, r._6).count(_ == null)).sum.toDouble,
        "enrich_calls" -> extracted.count(r => r._5 != null && r._5.nonEmpty).toDouble,
        "enrich_null_rows" -> extracted.count(r => enriched.get(r._1).forall(_ == null)).toDouble) ++ stepS
    } finally sc.clearJobGroup()
    passWindow = (w0, System.currentTimeMillis())
    val wall = (System.nanoTime() - p0) / 1e9
    val n = last("companies").toInt
    PassResult(wall, Seq("crawl" -> wall), Seq.empty, n,
      Map("steps" -> Json.obj(last.toSeq.map { case (k, v) => k -> Json.num(v) })))
  }

  def layers(t: Tracer, r: PassResult): Unit = {
    last.foreach {
      case (k, v) if k.endsWith("_s") || k.endsWith(".s") => t.add(k, v)
      case _ =>
    }
    t.add("operators.links.candidates", last("candidates"))
    t.add("operators.extract.null_fields", last("null_fields"))
    t.add("operators.enrich.calls", last("enrich_calls"))
    t.add("operators.enrich.null_rows", last("enrich_null_rows"))
    t.add("sources.web.robots_blocked", last("robots_blocked"))
    t.add("sources.web.transport_errors", last("transport_errors"))
    t.execLayer("pb.traced.crawl", r.wallS, cores)
    val ps = t.plans
    t.add("plans.exchanges", ps.exchanges.toDouble); t.add("plans.smj", ps.smj.toDouble)
    t.add("tables.scan_s", ps.scanMs / 1e3); t.add("tables.rows", ps.scanRows.toDouble)
    t.add("exec.rows_out", ps.rowsOut.toDouble)
    t.add("plans.plan_s", r.wallS - t.layers("exec.s"))
    // the farm counts requests, statuses and in-flight peaks on its side
    val farmStats = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(farm(s"/stats?t0=${passWindow._1}&t1=${passWindow._2}"))
    farmStats.fields().forEachRemaining(e => t.add(e.getKey, e.getValue.asDouble()))
  }

  /** The text kernels over the crawled pages (the blobs of the last pass
    * are rebuilt from output.xlsx's source pages: here, the fetched home
    * pages of the companies). */
  def probes(spark: SparkSession, t: Tracer): Unit = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("company", StringType), StructField("website", StringType)))
    val sites = Xlsx.read(spark, xlsxIn, schema).collect().map(_.getString(1)).toSeq
    val pages = fetch(spark, sites).filter(r => !r.isNullAt(2)).zipWithIndex
      .map { case (r, i) => (i.toLong, r.getString(2)) }.toSeq
    QueryWorkload.probeKernels(spark, t, pages.toDF("doc_id", "text"), None)
  }
}
