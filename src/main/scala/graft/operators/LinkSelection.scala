package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's link-selection pipeline (its one genuinely algorithmic
  * core): score candidate links by keyword relevance, filter, take the
  * top-3 per company, dedup (SURVEY §2.3 P-2..P-4, §2.5 F-8, §2.6 T-1..T-3;
  * /root/reference/app.py:33-37,146-193).
  *
  * Scale posture: per-company top-k is a `row_number` window over a
  * hash-partitioned shuffle on `company` — never a global sort, never a
  * groupByKey; at 100 TB this is one shuffle of the (pre-filtered)
  * candidate set.
  */
object LinkSelection {

  /** The reference's 10 relevance keywords (/root/reference/app.py:33-37). */
  val ReferenceKeywords: Seq[String] = Seq(
    "about", "company", "corporate", "group", "leadership",
    "management", "investor", "who", "overview", "profile")

  /** F-8: score = Σ_kw [2·(kw ∈ anchor) + 3·(kw ∈ lower(url))]
    * (/root/reference/app.py:166-172). Pure codegen'd expression. */
  def keywordScore(anchor: Column, url: Column,
      keywords: Seq[String] = ReferenceKeywords): Column =
    keywords.map { k =>
      when(anchor.contains(k), 2).otherwise(0) +
        when(lower(url).contains(k), 3).otherwise(0)
    }.reduce(_ + _)

  /** P-2..P-4 + F-8 + T-1..T-3 composed over a candidate frame with
    * columns (company, website, href, anchor_text):
    * drop null hrefs, absolutize, keep same-domain, score, keep score>0,
    * dedup URLs per company, rank per company by (score desc, tiebreak),
    * keep top `k`. `tiebreak` keeps the result deterministic — the
    * reference's stable Python sort is order-preserving; after a shuffle
    * ours must re-establish order explicitly (SURVEY T-4). */
  def selectLinks(candidates: DataFrame, k: Int = 3,
      keywords: Seq[String] = ReferenceKeywords,
      tiebreak: String = "full_url"): DataFrame = {
    val domain = UrlOps.host(col("website"))
    val w = Window.partitionBy("company")
      .orderBy(col("score").desc, col(tiebreak))
    candidates
      .filter(col("href").isNotNull)                         // P-2
      .withColumn("full_url", UrlOps.resolveUrl(col("website"), col("href"))) // F-6
      .filter(col("full_url").contains(domain))              // P-3
      .withColumn("score",
        keywordScore(Extraction.normToken(col("anchor_text")), col("full_url"), keywords)) // F-8, F-5
      .filter(col("score") > 0)                              // P-4
      // the one shuffle: hash(company) clusters both the (company,
      // full_url) dedup below and the per-company window, so neither
      // plans an exchange of its own
      .repartition(col("company"))
      // T-3 dedup — deterministic: the same URL can appear under several
      // anchor texts (hence several scores); keep the best score per URL
      // rather than dropDuplicates' arbitrary-row pick.
      .groupBy("company", "full_url")
      .agg(max(col("score")).as("score"))
      .withColumn("rk", row_number().over(w))                // T-1/T-2
      .filter(col("rk") <= k)
      .select("company", "full_url", "score", "rk")
  }
}
