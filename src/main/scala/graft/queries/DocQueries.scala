package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Extraction, Scratch}

/** Oracle-checked queries over `documents`: the reference's extraction
  * surface (SURVEY §2.5 F-1..F-5, F-12; §2.7 A-1..A-3; §2.2 K-2).
  *
  * Oracle notes (cross-engine determinism):
  *  - DuckDB `regexp_replace` needs the 'g' flag (Spark is global by
  *    default).
  *  - DuckDB `regexp_extract` returns '' on no-match like Spark; both
  *    sides wrap in nullif(..., '').
  *  - DuckDB COUNT/SUM of ints widen to HUGEINT; oracle casts to BIGINT
  *    to match Spark's LongType.
  */
object DocQueries extends QueryModule {

  private[queries] val foundedSql =
    """coalesce(nullif(regexp_extract(tx, '(?i)Founded\s+(?:in\s+)?\d{4}', 0), ''),
      |         nullif(regexp_extract(tx, '(?i)Established\s+(?:in\s+)?\d{4}', 0), ''),
      |         nullif(regexp_extract(tx, '(?i)Since\s+\d{4}', 0), ''))""".stripMargin
  private[queries] val aboutSql =
    """trim(nullif(regexp_extract(tx, '(?i)[^.]*about us[^.]*', 0), ''))"""
  private[queries] val emailSql =
    """nullif(regexp_extract(tx, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+', 0), '')"""
  private val leadSql =
    s"""WITH t AS (SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS tx FROM documents),
       |e AS (SELECT doc_id, $foundedSql AS founded_info, $aboutSql AS about_us, $emailSql AS email FROM t),
       |c AS (SELECT *, (CASE WHEN founded_info IS NOT NULL THEN 1 ELSE 0 END
       |               + CASE WHEN about_us IS NOT NULL THEN 1 ELSE 0 END
       |               + CASE WHEN email IS NOT NULL THEN 1 ELSE 0 END) AS completeness FROM e)
       |SELECT doc_id, founded_info, about_us, email, completeness,
       |       CASE WHEN completeness = 3 THEN 'Full' WHEN completeness > 0 THEN 'Partial' ELSE 'Empty' END AS status
       |FROM c""".stripMargin

  val outputCols = Seq("doc_id", "lang", "source", "n_chars", "quality_note")

  def defs: Map[String, Q] = Map(
    // Flagship: F-1..F-4 + A-3 over documents; ordered at the sink only.
    "lead_extract" -> ((s, d) =>
      Extraction.leadExtract(Tables.documents(s, d)).orderBy("doc_id")),

    // A-1/A-2: global conditional non-null counts (the UI stat tiles).
    "extract_stats" -> ((s, d) =>
      Extraction.extractStats(Tables.documents(s, d))),

    // K-2/P-1: fixed column order with typed null-fill for absent columns.
    "ordered_projection" -> ((s, d) =>
      Extraction.orderedProjection(Tables.documents(s, d), outputCols)
        .orderBy("doc_id")),

    // Fuzzy entity matching on the DISTINCT source domain: pairs of
    // source names within Levenshtein distance 1 (the typo/variant
    // resolution step of an entity-cleanup pass). Fuzzy comparison is
    // quadratic by nature, so it runs on the deduplicated value domain
    // — cardinality ≪ row count — and operators.Fuzzy ENFORCES that
    // bound at runtime (fails fast past spark.graft.fuzzy.maxDomain,
    // naming the X-7/X-8 blocked family as the large-domain path).
    "fuzzy_source_match" -> ((s, d) =>
      graft.operators.Fuzzy
        .pairsWithinDistance(Tables.documents(s, d), "source", maxDist = 1)
        .orderBy("s1", "s2")),

    // F-13: presentation functions as engine columns — slug ids, HTML-
    // escaped previews, human-readable sizes (value/unit decomposed so
    // the oracle compares exact doubles, not engine-formatted strings).
    // `bytes` spreads doc sizes across all three unit branches.
    "present_format" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bytes", col("n_chars").cast("long") * (col("doc_id") * 37 + 1))
        .select(col("doc_id"),
          graft.operators.Present.slugify(col("source")).as("slug"),
          graft.operators.Present.htmlEscape(substring(col("text"), 1, 40)).as("esc_preview"),
          graft.operators.Present.sizeUnit(col("bytes")).as("size_unit"),
          graft.operators.Present.sizeValue(col("bytes")).as("size_value"))
        .orderBy("doc_id")),

    // F-12: truncate-with-ellipsis preview (n=120, as the reference UI).
    "truncate_preview" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Extraction.truncateEllipsis(col("text"), 120).as("preview"),
          length(col("text")).as("n_len"))
        .orderBy("doc_id")),

    // Training-export shard manifest (X-108): deterministically assign
    // every document to a (lang, shard) output shard by an md5 draw on
    // the doc id (stable under reruns and cluster layout — a rand()
    // assignment would re-shard every run), and emit the per-shard
    // manifest an export job writes NEXT TO the shards: row count,
    // token totals, an order-independent XOR content digest + sum
    // checksum (the partition_fingerprint discipline — a consumer
    // validates a shard against its manifest line without re-reading
    // the corpus), and the doc-id range. One narrow scan + one hash
    // aggregate; output is |langs|·|shards| rows.
    "shard_manifest" -> ((s, d) => {
      import graft.operators.TextAnalysis.{norm, tokens}
      val dh = expr("CAST(conv(substring(md5(text), 1, 14), 16, 10) AS BIGINT)")
      val shard = expr(
        "CAST(conv(substring(md5(concat('graft-shard', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 4")
      Tables.documents(s, d)
        .select(col("lang"), shard.as("shard"), dh.as("dh"),
          size(tokens(norm(col("text")))).cast("long").as("n_toks"),
          col("doc_id"))
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"),
          expr("bit_xor(dh)").as("fingerprint"),
          // modular: Σ of 56-bit hashes overflows BIGINT past ~128
          // rows/shard — accumulate DECIMAL(38,0), reduce mod 2^56
          (sum(col("dh").cast("decimal(38,0)")) % lit(72057594037927936L))
            .cast("long").as("checksum"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang", "shard")
    }),

    "global_ids" -> ((s, d) =>
      // the shared two-phase global-rank operator (Rank.globalRank):
      // range repartition -> per-partition local rank -> <= P-row offset
      // prefix sum broadcast back, with the ranged frame materialized
      // inside the operator so the two pid-joined lineages can never
      // see different range boundaries
      graft.operators.Rank.globalRank(
          Tables.documents(s, d).select("doc_id", "lang"),
          Seq(col("lang"), col("doc_id")), "gid")
        .select("doc_id", "lang", "gid")
        .orderBy("gid")),

    // Shard-rebalance movement audit (X-118): how many documents MOVE
    // when the export grows from 4 to 5 shards, under (a) the naive
    // mod-rehash of X-108's assignment hash and (b) rendezvous/HRW
    // hashing (highest random weight per (shard, doc) — Thaler &
    // Ravishankar '96, the stateless consistent-placement scheme).
    // This measured comparison IS the case for consistent placement at
    // 100 TB: mod-rehash moves ~1 − 1/lcm-ish ≈ 80% of the corpus (a
    // full re-export), HRW moves exactly the docs the NEW shard wins
    // ≈ 1/5. Pure narrow scan + per-row column arithmetic + ONE 1-row
    // aggregate unpivoted to two report rows; 16-bit hashes get the
    // shard id packed into the low 3 bits (h·8 + s) so argmax ties
    // break deterministically and identically in both engines.
    "shard_rebalance" -> ((s, d) => {
      def h(salt: String): org.apache.spark.sql.Column =
        expr(s"CAST(conv(substring(md5(concat('$salt', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT)")
      def hrw(s0: Int): org.apache.spark.sql.Column = expr(
        (0 until s0).map(i =>
          s"CAST(conv(substring(md5(concat('graft-hrw', '$i', '|', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) * 8 + $i")
          .mkString("greatest(", ", ", ") % 8"))
      val per = Tables.documents(s, d).select(
        (h("graft-shard") % 4 =!= h("graft-shard") % 5).as("mod_moved"),
        (hrw(4) =!= hrw(5)).as("hrw_moved"))
      // the 1-row aggregate is MATERIALIZED before the two-strategy
      // unpivot: both union branches consume it, and without the cut
      // the corpus scan + six md5 hashes per row could execute twice
      // (exchange reuse is an optimization, not a guarantee)
      val agg = Scratch.cut(
        per.agg(count(lit(1)).as("n_docs"),
          sum(when(col("mod_moved"), 1L).otherwise(0L)).as("mod_m"),
          sum(when(col("hrw_moved"), 1L).otherwise(0L)).as("hrw_m")))
      def row(name: String, c: String) =
        agg.select(lit(name).as("strategy"), col("n_docs"),
          col(c).as("n_moved"),
          expr(s"CAST($c * 1000000 div n_docs AS BIGINT)").as("moved_ppm"))
      row("mod_rehash", "mod_m").unionByName(row("rendezvous", "hrw_m"))
        .orderBy("strategy")
    }),
  )

  def oracle: Map[String, String] = Map(
    "lead_extract" -> s"$leadSql ORDER BY doc_id",

    "present_format" ->
      """WITH b AS (SELECT doc_id, source, text,
        |             CAST(n_chars AS BIGINT) * (doc_id * 37 + 1) AS bytes
        |           FROM documents)
        |SELECT doc_id,
        |       lower(regexp_replace(source, '[^a-zA-Z0-9]', '-', 'g')) AS slug,
        |       replace(replace(replace(replace(coalesce(substr(text, 1, 40), ''),
        |         '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') AS esc_preview,
        |       CASE WHEN bytes < 1024 THEN 'B'
        |            WHEN bytes < 1048576 THEN 'KB' ELSE 'MB' END AS size_unit,
        |       CASE WHEN bytes < 1024 THEN CAST(bytes AS DOUBLE)
        |            WHEN bytes < 1048576 THEN round(bytes / 1024.0, 1)
        |            ELSE round(bytes / 1048576.0, 1) END AS size_value
        |FROM b ORDER BY doc_id""".stripMargin,

    // NOT DuckDB's levenshtein(): it counts UTF-8 BYTES while Spark's
    // counts code points — lev('src9','srç9') is 1 vs 2, the r11
    // unicode source variants hash-diverged on exactly that. For
    // maxDist = 1 the distance has a closed form over CODE-POINT
    // substr/length (which DuckDB's string functions are):
    // lev(a,b) ≤ 1 ⇔ |l1−l2| ≤ 1 ∧ lcp + lcsuffix ≥ max(l1,l2) − 1
    // (two same-length edits cap lcp+lcs at l−2; a covering
    // prefix+suffix at length-diff 1 IS a single indel). Distinct
    // pair + lev ≤ 1 ⇒ dist = 1 exactly.
    "fuzzy_source_match" ->
      """WITH s AS (SELECT DISTINCT source FROM documents),
        |p AS (SELECT a.source AS s1, b.source AS s2,
        |             length(a.source) AS l1, length(b.source) AS l2
        |      FROM s a JOIN s b ON a.source < b.source
        |      WHERE abs(length(a.source) - length(b.source)) <= 1),
        |m AS (SELECT s1, s2, l1, l2,
        |        list_max(list_transform(range(0, least(l1, l2) + 1), q ->
        |          CASE WHEN substr(s1, 1, CAST(q AS INTEGER))
        |                 = substr(s2, 1, CAST(q AS INTEGER))
        |               THEN q ELSE 0 END)) AS lcp,
        |        list_max(list_transform(range(0, least(l1, l2) + 1), q ->
        |          CASE WHEN substr(s1, CAST(l1 - q + 1 AS INTEGER), CAST(q AS INTEGER))
        |                 = substr(s2, CAST(l2 - q + 1 AS INTEGER), CAST(q AS INTEGER))
        |               THEN q ELSE 0 END)) AS lcs
        |      FROM p)
        |SELECT s1, s2, CAST(1 AS INTEGER) AS dist
        |FROM m WHERE lcp + lcs >= greatest(l1, l2) - 1
        |ORDER BY s1, s2""".stripMargin,

    "extract_stats" ->
      s"""WITH lead AS ($leadSql)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(founded_info) AS BIGINT) AS n_founded,
         |       CAST(count(about_us) AS BIGINT) AS n_about,
         |       CAST(count(email) AS BIGINT) AS n_email,
         |       CAST(sum(CASE WHEN status = 'Empty' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
         |FROM lead""".stripMargin,

    "ordered_projection" ->
      """SELECT doc_id, lang, source, n_chars, CAST(NULL AS VARCHAR) AS quality_note
        |FROM documents ORDER BY doc_id""".stripMargin,

    "truncate_preview" ->
      """SELECT doc_id,
        |       CASE WHEN length(text) > 120 THEN substr(text, 1, 120) || '…' ELSE text END AS preview,
        |       CAST(length(text) AS INTEGER) AS n_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The oracle states the SPECIFICATION (one global row_number);
    // the engine side is the two-phase offset plan.
    "global_ids" ->
      """SELECT doc_id, lang,
        |       CAST(row_number() OVER (ORDER BY lang, doc_id) AS BIGINT) AS gid
        |FROM documents ORDER BY gid""".stripMargin,

    // Same md5 shard draw, token count, and XOR/sum digests.
    "shard_manifest" ->
      """WITH r AS (
        |  SELECT lang,
        |         CAST('0x' || substr(md5('graft-shard' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 4 AS shard,
        |         CAST('0x' || substr(md5(text), 1, 14) AS BIGINT) AS dh,
        |         len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS n_toks,
        |         doc_id
        |  FROM documents)
        |SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |       CAST(bit_xor(dh) AS BIGINT) AS fingerprint,
        |       CAST(sum(dh) % 72057594037927936 AS BIGINT) AS checksum,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same hashes, same packed-tie-break argmax, same 1-row fold.
    "shard_rebalance" -> {
      def h(i: Int) =
        s"CAST('0x' || substr(md5('graft-hrw' || '$i' || '|' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) * 8 + $i"
      s"""WITH b AS (
         |  SELECT CAST('0x' || substr(md5('graft-shard' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS hs,
         |         greatest(${(0 until 4).map(h).mkString(", ")}) % 8 AS hrw4,
         |         greatest(${(0 until 5).map(h).mkString(", ")}) % 8 AS hrw5
         |  FROM documents),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN hs % 4 <> hs % 5 THEN 1 ELSE 0 END) AS BIGINT) AS mod_m,
         |             CAST(sum(CASE WHEN hrw4 <> hrw5 THEN 1 ELSE 0 END) AS BIGINT) AS hrw_m
         |      FROM b)
         |SELECT * FROM (
         |  SELECT 'mod_rehash' AS strategy, n_docs, mod_m AS n_moved,
         |         CAST(CAST(mod_m AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS moved_ppm
         |  FROM a
         |  UNION ALL
         |  SELECT 'rendezvous', n_docs, hrw_m,
         |         CAST(CAST(hrw_m AS HUGEINT) * 1000000 // n_docs AS BIGINT)
         |  FROM a)
         |ORDER BY strategy""".stripMargin
    },
  )
}
