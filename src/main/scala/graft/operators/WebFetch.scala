package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import graft.sources.{HostChains, WebTextSource}

/** The frontier-scale companion to the `graft-web` DataSourceV2: S-3's
  * fetch as a row-wise map over a URL COLUMN, for the shape a 100 TB
  * pipeline has — the URL list is itself a distributed frame (a
  * link-selection output, a crawl frontier), not an options string.
  *
  * Each task feeds its partition to the reader's [[HostChains]] in
  * slices of [[WebTextSource.FetchSlice]] URLs: up to 16 hosts in
  * flight, one request per host at a time, rows in input order, at most
  * one slice of pages held. Ungoverned (no robots check, no politeness
  * gap): gate and schedule the frontier first (OPERATIONS.md §Crawl
  * surface). A transport failure gives null status/text, a non-200 the
  * status with null text — the row survives, the task never fails
  * (app.py:258-269). Callers carry payload by joining back on `id`.
  *
  * NEVER on the verify path: oracle-checked pipelines ingest pre-fetched
  * text (`documents`). WebCrawlPipelineSpec composes it live with
  * LinkSelection + Extraction into the reference's homepage →
  * top-links → subpages → extract flow. */
object WebFetch {

  case class FetchIn(id: Long, url: String)
  case class WebLink(href: String, anchor: String)
  case class FetchOut(id: Long, url: String, status: Option[Int],
      text: Option[String], links: Option[Seq[WebLink]])

  /** @param timeoutMs bounds each whole exchange, body included; > 0.
    * @param rawText true when the body is NOT a page (robots.txt,
    *   sitemap.xml, an API payload): text is the verbatim body, links
    *   None ([[WebTextSource.RawPageFetcher]]). */
  def fetchMap(in: Dataset[FetchIn], timeoutMs: Long = 30000L,
      rawText: Boolean = false): Dataset[FetchOut] = {
    require(timeoutMs > 0, s"fetchMap timeoutMs must be positive, got $timeoutMs")
    import in.sparkSession.implicits._
    val fetcher = if (rawText) WebTextSource.RawPageFetcher else WebTextSource.HttpPageFetcher
    in.mapPartitions { rows =>
      var slice: HostChains = null
      // a killed or abandoned task stops the slice's chains
      Option(TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => if (slice != null) slice.close()))
      rows.grouped(WebTextSource.FetchSlice).flatMap { rs =>
        val chains = new HostChains(rs.map(_.url).toArray, timeoutMs, fetcher)
        slice = chains
        rs.iterator.map { r =>
          val page = chains.next()
          FetchOut(r.id, r.url, page.map(_.status), page.flatMap(p => Option(p.text)),
            page.flatMap(p => Option(p.links)).map(_.map { case (h, a) => WebLink(h, a) }))
        }
      }
    }
  }
}
