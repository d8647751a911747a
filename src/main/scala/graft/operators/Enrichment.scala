package graft.operators

import java.util.concurrent.CompletableFuture

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O-9/O-11: the row-wise enrichment map — the reference's pipeline core
  * (crawl → LLM call → JSON flatten, /root/reference/app.py:94-271) as a
  * Spark `mapPartitions` over a typed Dataset.
  *
  * The external call sits behind [[Enricher]]: one instance serialized
  * to each partition. [[Enrichment.enrichMap]] and [[Pipelines.leadSight]]
  * keep up to [[Enrichment.MaxInFlight]] calls of a task in flight through
  * `enrichAsync`, rows still in input order (llm_utils.py:137-153's
  * 60 s-timeout POST, overlapped within a task and parallel across
  * partitions, where the reference's loop runs them one after another,
  * app.py:289-300). The default
  * [[MockEnricher]] is deterministic and pure so the whole pipeline is
  * oracle-checkable; it reproduces the reference's null-skip semantics
  * (no usable input → None → enrichment columns stay null while the
  * base row survives — the implicit left-outer join J-1,
  * llm_utils.py:128-135, app.py:229).
  */
trait Enricher extends Serializable {
  /** Raw LLM JSON for one company context, or None to skip (null-skip). */
  def enrich(company: String, website: String, about: String): Option[String]

  /** The same call as a future, so a caller can keep several in flight.
    * The default runs [[enrich]] on the calling thread and returns it
    * already completed (failed when it throws): a pure enricher pays no
    * thread handoff. An enricher that does I/O overrides this to send
    * without blocking, and lets cancelling the future cancel the call. */
  def enrichAsync(company: String, website: String,
      about: String): CompletableFuture[Option[String]] =
    try CompletableFuture.completedFuture(enrich(company, website, about))
    catch { case NonFatal(e) => CompletableFuture.failedFuture(e) }
}

/** Deterministic mock: builds the prompt-pinned JSON document shape
  * (llm_utils.py:53-117, 9 top-level keys — 4 filled, 5 absent) from
  * the inputs alone. Mirrors the reference's skip conditions. */
object MockEnricher extends Enricher {
  /** JSON string escaping — a company name containing a quote,
    * backslash, or control character (newline, tab, U+0000–U+001F) must
    * still yield valid JSON: PERMISSIVE parse of a malformed document
    * would silently null every column while the oracle's to_json emits
    * valid JSON — a silent cross-engine divergence. */
  private[operators] def esc(s: String): String =
    s.flatMap {
      case '\\'           => "\\\\"
      case '"'            => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c              => c.toString
    }

  def enrich(company: String, website: String, about: String): Option[String] =
    if (company == null || about == null || about.isEmpty) None
    else {
      val c = esc(company)
      Some(
        s"""{"company_overview":{"name":"$c","summary":"$c operates a data platform"},""" +
          s""""business_model":{"model":"saas","channels":"direct"},""" +
          s""""leadership":"$c team",""" +
          s""""executive_brief":"Brief for $c"}""")
    }
}

object Enrichment {

  /** Input/output rows of the enrichment map. */
  case class EnrichIn(doc_id: Long, company: String, website: String, about: String)
  case class EnrichOut(doc_id: Long, company: String, website: String,
      about: String, raw_json: String)

  /** F-11: prompt templating — placeholder substitution into the fixed
    * template (llm_utils.py:120-125; `<<…>>` avoids JSON-brace
    * conflicts). */
  val PromptTemplate: String =
    "Analyze <<COMPANY_NAME>> (<<COMPANY_WEBSITE>>). Context: <<ABOUT_TEXT>>"
  def prompt(company: String, website: String, about: String): String =
    PromptTemplate
      .replace("<<COMPANY_NAME>>", Option(company).getOrElse(""))
      .replace("<<COMPANY_WEBSITE>>", Option(website).getOrElse(""))
      .replace("<<ABOUT_TEXT>>", Option(about).getOrElse(""))

  /** The template tokenized on its placeholders — shared by
    * [[promptColumn]] and [[promptSql]] so the registered query, its
    * oracle, and the Scala function can never drift apart. */
  private val templateParts: Seq[String] =
    PromptTemplate.split("(?=<<)|(?<=>>)").toSeq

  /** F-11 as a column expression derived from [[PromptTemplate]]
    * itself; placeholder columns null-coalesce to "" like [[prompt]]. */
  def promptColumn(company: Column, website: Column, about: Column): Column = {
    val subst = Map("<<COMPANY_NAME>>" -> company,
      "<<COMPANY_WEBSITE>>" -> website, "<<ABOUT_TEXT>>" -> about)
    concat(templateParts.map(p =>
      subst.get(p).map(c => coalesce(c.cast("string"), lit(""))).getOrElse(lit(p))): _*)
  }

  /** DuckDB rendering of the same template over SQL fragments. */
  def promptSql(company: String, website: String, about: String): String = {
    val subst = Map("<<COMPANY_NAME>>" -> s"coalesce($company, '')",
      "<<COMPANY_WEBSITE>>" -> s"coalesce($website, '')",
      "<<ABOUT_TEXT>>" -> s"coalesce($about, '')")
    templateParts.map(p =>
      subst.getOrElse(p, "'" + p.replace("'", "''") + "'")).mkString(" || ")
  }

  /** The prompt-pinned document schema (llm_utils.py:53-117): 9 nullable
    * top-level keys; nested objects only where the mock fills them,
    * opaque strings elsewhere. PERMISSIVE from_json → malformed = null
    * (app.py:230-236). */
  val LlmSchema: StructType = StructType(Seq(
    StructField("company_overview",
      StructType(Seq(StructField("name", StringType), StructField("summary", StringType)))),
    StructField("business_model",
      StructType(Seq(StructField("model", StringType), StructField("channels", StringType)))),
    StructField("products_services", StringType),
    StructField("operational_footprint", StringType),
    StructField("ai_ml_opportunity_map", StringType),
    StructField("leadership", StringType),
    StructField("strategic_developments", StringType),
    StructField("strategic_outlook", StringType),
    StructField("executive_brief", StringType)))

  /** The 9 flattened output keys in OUTPUT_COLUMNS order (app.py:42-58). */
  val FlattenKeys: Seq[String] = LlmSchema.fields.map(_.name).toSeq

  /** Most enrichment calls one task keeps in flight, like
    * [[graft.sources.WebTextSource.MaxHostChains]]: it bounds one task's
    * sockets and the rows it holds. Fixed on purpose, not an option. */
  val MaxInFlight: Int = 16

  /** O-9: the enrichment map itself, over [[enrichRows]]. */
  def enrichMap(in: Dataset[EnrichIn], enricher: Enricher): Dataset[EnrichOut] = {
    import in.sparkSession.implicits._
    enrichRows(in, enricher)(r => (r.company, r.website, r.about))(
      (r, raw) => EnrichOut(r.doc_id, r.company, r.website, r.about, raw))
  }

  /** The one enrichment path, over any row type: `context` gives a row's
    * (company, website, about); `out` builds the output from the row and
    * its raw JSON, null on any failure (app.py:258-269's
    * swallow-and-continue), so payload rides through with no join back.
    * The task's completion, or an interrupt while it waits, cancels the
    * calls still pending. */
  private[operators] def enrichRows[I, O: Encoder](in: Dataset[I], enricher: Enricher)(
      context: I => (String, String, String))(out: (I, String) => O): Dataset[O] =
    in.mapPartitions(rows => new InFlight(rows, enricher, context, out))

  /** The window behind [[enrichRows]]: calls start in input order, at
    * most [[MaxInFlight]] at a time counting the one being waited on
    * ([[Enricher.enrichAsync]]); rows leave in input order. */
  private final class InFlight[I, O](rows: Iterator[I], enricher: Enricher,
      context: I => (String, String, String), out: (I, String) => O) extends Iterator[O] {
    private val pending = new java.util.ArrayDeque[(I, CompletableFuture[Option[String]])]()
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => cancelPending()))

    private def cancelPending(): Unit = {
      pending.forEach(_._2.cancel(true))
      pending.clear()
    }

    private def fill(): Unit =
      while (pending.size < MaxInFlight && rows.hasNext) {
        val r = rows.next()
        val call =
          try { val (c, w, a) = context(r); enricher.enrichAsync(c, w, a) }
          catch { case NonFatal(e) => CompletableFuture.failedFuture[Option[String]](e) }
        pending.add(r -> call)
      }

    def hasNext: Boolean = { fill(); !pending.isEmpty }

    def next(): O = {
      fill()
      val (r, call) = pending.removeFirst()
      val raw =
        try graft.Net.await(call).orNull
        catch {
          case ie: InterruptedException => cancelPending(); throw ie
          case NonFatal(_) => null
        }
      out(r, raw)
    }
  }

  /** F-9/F-10: schema'd parse + per-key flatten. Struct-typed keys
    * re-serialize as compact JSON strings; primitives pass through;
    * missing keys → null (app.py:237-256). Every input column except
    * `raw_json` passes through unchanged, so callers keep whatever
    * payload they carried into the enrichment map. */
  def flatten(withRaw: DataFrame): DataFrame = {
    val parsed = withRaw.withColumn("parsed", from_json(col("raw_json"), LlmSchema))
    val passthrough = withRaw.columns.filterNot(_ == "raw_json").map(col)
    val keyCols = LlmSchema.fields.map { f =>
      val c = col("parsed").getField(f.name)
      f.dataType match {
        case _: StructType => to_json(c).as(f.name)
        case _             => c.as(f.name)
      }
    }
    parsed.select(passthrough ++ keyCols: _*)
  }
}
