package graft.operators

import org.apache.spark.sql.Dataset
import graft.sources.WebTextSource

/** The frontier-scale companion to the `graft-web` DataSourceV2: S-3's
  * fetch as a row-wise map over a URL COLUMN (the O-9 enrichMap recipe
  * applied to GET), for the shape a 100 TB pipeline actually has — the
  * URL list is itself a distributed frame (a link-selection output, a
  * crawl frontier), not an options string.
  *
  * One fetch in flight per partition, client shared per executor JVM
  * (the [[graft.sources.WebTextSource.JdkFetcher]] `@transient lazy`),
  * per-row error containment: transport failure → null status/text,
  * non-200 → status with null text — the row survives, the task never
  * fails (app.py:258-269's posture). Callers carry payload by joining
  * back on `id` (the enrichMap contract).
  *
  * NEVER on the verify path: fetching is I/O; oracle-checked pipelines
  * ingest pre-fetched text (`documents`). Spec-proven live against a
  * loopback server (WebCrawlPipelineSpec), where it composes with
  * LinkSelection + Extraction into the reference's full
  * homepage → top-links → subpages → extract flow. */
object WebFetch {

  case class FetchIn(id: Long, url: String)
  case class WebLink(href: String, anchor: String)
  case class FetchOut(id: Long, url: String, status: Option[Int],
      text: Option[String], links: Option[Seq[WebLink]])

  /** @param rawText false (default): HTML posture — text and links come
    *   from [[WebTextSource.parsePage]], the `graft-web` parse. true:
    *   the body is NOT a page (robots.txt, sitemap.xml, an API payload)
    *   — text is the verbatim body (tag stripping would destroy XML),
    *   links None. */
  def fetchMap(in: Dataset[FetchIn],
      fetcher: WebTextSource.Fetcher = WebTextSource.JdkFetcher,
      timeoutMs: Long = 30000L,
      rawText: Boolean = false): Dataset[FetchOut] = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      rows.map { r =>
        try {
          val (code, body) = fetcher.get(r.url, timeoutMs)
          if (code == 200 && rawText)
            FetchOut(r.id, r.url, Some(code), Some(body), None)
          else if (code == 200) {
            val page = WebTextSource.parsePage(body)
            FetchOut(r.id, r.url, Some(code), Some(page.text),
              Some(page.links.map { case (h, a) => WebLink(h, a) }))
          } else FetchOut(r.id, r.url, Some(code), None, None)
        } catch {
          // task kill arrives as Thread.interrupt() → InterruptedException
          // from HttpClient.send; it must propagate or a cancelled task
          // keeps fetching its partition's remaining URLs
          case ie: InterruptedException => throw ie
          case _: Exception => FetchOut(r.id, r.url, None, None, None)
        }
      }
    }
  }
}
