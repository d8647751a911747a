package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O-9/O-11: the row-wise enrichment map — the reference's pipeline core
  * (crawl → LLM call → JSON flatten, /root/reference/app.py:94-271) as a
  * Spark `mapPartitions` over a typed Dataset.
  *
  * The external call sits behind [[Enricher]]: one instance serialized
  * to each partition (a real impl would open its HTTP client lazily per
  * partition and batch requests inside it — llm_utils.py:137-153's
  * 60 s-timeout POST, parallelized across partitions instead of the
  * reference's strictly sequential loop, app.py:289-300). The default
  * [[MockEnricher]] is deterministic and pure so the whole pipeline is
  * oracle-checkable; it reproduces the reference's null-skip semantics
  * (no usable input → None → enrichment columns stay null while the
  * base row survives — the implicit left-outer join J-1,
  * llm_utils.py:128-135, app.py:229).
  */
trait Enricher extends Serializable {
  /** Raw LLM JSON for one company context, or None to skip (null-skip). */
  def enrich(company: String, website: String, about: String): Option[String]
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

  /** O-9: the enrichment map itself. Errors inside the enricher are
    * contained per row (Try → null raw_json), never failing the task —
    * the reference's swallow-and-continue posture (app.py:258-269). */
  def enrichMap(in: Dataset[EnrichIn], enricher: Enricher): Dataset[EnrichOut] = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      rows.map { r =>
        val raw = scala.util.Try(enricher.enrich(r.company, r.website, r.about))
          .toOption.flatten.orNull
        EnrichOut(r.doc_id, r.company, r.website, r.about, raw)
      }
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
