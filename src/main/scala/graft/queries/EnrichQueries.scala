package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Enrichers, Enrichment, Multimodal}

/** O-9/O-11 enrichment pipeline and multimodal plumbing as
  * oracle-checked queries.
  *
  * `enrich_flatten` runs the real mapPartitions enrichment map with the
  * deterministic [[MockEnricher]], then the F-9/F-10 schema'd parse +
  * flatten — because the mock is a pure function of the row, the oracle
  * reconstructs every flattened column (including the null-skip rows)
  * in plain SQL. */
object EnrichQueries extends QueryModule {
  import Enrichment._

  def defs: Map[String, Q] = Map(
    // Full O-9 → F-9 → F-10 pipeline over documents: every 7th doc has
    // no usable about-text → enricher skips → enrichment columns null,
    // base row survives (the J-1 left-outer shape).
    "enrich_flatten" -> ((s, d) => {
      import s.implicits._
      val in = Tables.documents(s, d).select(
          col("doc_id"), col("source").as("company"),
          concat(lit("https://www."), col("source"), lit(".example.com")).as("website"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(substring(col("text"), 1, 80)).as("about"))
        .as[EnrichIn]
      // Enrichers.fromConf: the mock unless spark.graft.enricher.url is
      // set — the oracle below is only valid for the deterministic mock.
      flatten(enrichMap(in, Enrichers.fromConf(s)).toDF())
        .select(col("doc_id") +: col("company") +: FlattenKeys.map(col): _*)
        .orderBy("doc_id")
    }),

    // F-11: prompt templating as a column expression derived from
    // Enrichment.PromptTemplate itself (query and operator can't drift).
    "prompt_render" -> ((s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          promptColumn(col("source"),
            concat(lit("https://www."), col("source"), lit(".example.com")),
            substring(col("text"), 1, 40)).as("prompt"))
        .orderBy("doc_id")),

    // The complete reference pipeline (§3.1): extraction + mock
    // enrichment + flatten + the exact 14-column OUTPUT_COLUMNS
    // materialization, in input order.
    "leadsight_pipeline" -> ((s, d) =>
      graft.operators.Pipelines.leadSight(
          enricher = Enrichers.fromConf(s),
          docs = Tables.documents(s, d).select(
            col("doc_id"),
            concat(col("source"), lit("-"), col("doc_id")).as("company"),
            concat(lit("https://www."), col("source"), lit(".example.com")).as("website"),
            col("text")))
        .orderBy("doc_id")),

    // Strided frame sampling over video payloads (X-78): every 2nd
    // F-char frame window of the opaque payload, fingerprinted — the
    // frame-sample stage of a video pipeline (decode → sample →
    // per-frame features), with the deterministic text-as-payload
    // stand-in: a real decoder swaps in behind Multimodal.Decoder and
    // the sampling arithmetic, generator shape, and per-frame hashing
    // stay identical. Narrow generator, ⌈n_frames/2⌉ rows per video,
    // no shuffle before the sink sort; at 100 TB the stride is the
    // dial that trades feature coverage for compute, same as a real
    // frame sampler.
    "frame_sample" -> ((s, d) => {
      val F = 32
      // ONE linear `(?s).{F}` pass splits the payload into its
      // consecutive F-char frames — each regex match consumes F code
      // points with zero backtracking. The substr-per-exploded-frame
      // form this replaces is O(offset) PER CALL (UTF8String indexes
      // code points by scanning from byte 0), i.e. O(len²/F) per
      // video: the r11 adversarial 2.3 M-char megadoc payload pinned
      // an executor in UTF8String.substring for >10 min. Same fix
      // mirrored in the oracle (DuckDB substr re-scans too).
      // the sampling + fingerprint stage is Multimodal.frameFingerprints,
      // shared verbatim with the real-decoder (GIF) path in
      // MultimodalSpec — only the frame SOURCE differs (r13)
      Multimodal.frameFingerprints(
        Multimodal.syntheticMedia(Tables.documents(s, d))
          .filter(col("kind") === "video")
          .select(col("media_id"), col("content").cast("string").as("payload"))
          .withColumn("frames",
            expr(s"regexp_extract_all(payload, '(?s).{$F}', 0)"))
          .filter(size(col("frames")) > 0)
          .select(col("media_id"),
            posexplode(col("frames")).as(Seq("frame_no", "frame"))), F)
        .orderBy("media_id", "frame_no")
    }),

    // Perceptual-hash near-duplicate pairs over image payloads (X-149)
    // — the MULTIMODAL member of the near-dup family (text had X-7/8/9;
    // media only had stats + frame sampling): the aHash recipe every
    // image-dedup pipeline runs (average hash, Krawetz 2011; the same
    // family as pHash/dHash), banded LSH-style exactly like
    // simhash_neardup. 60 "pixels" derive from md5 of aligned 4-char
    // payload chunks (the deterministic text-as-payload stand-in — a
    // real decoder swaps in behind Multimodal.Decoder and ONLY the
    // pixel extraction changes; hashing, banding, and verify are
    // decoder-agnostic); bit i of the 60-bit hash = pixel_i above the
    // image mean, compared in exact integer arithmetic (px·60 > Σpx).
    // 4 bands of 15 bits: Hamming ≤ 3 flips at most 3 bands
    // (pigeonhole), so every qualifying pair collides on ≥ 1 band —
    // candidates come from an equi-join on (band_id, band_val), never
    // all-pairs, with EXACT recall at the threshold; survivors verify
    // with one bit_count(xor). Band width is the chance-collision dial
    // (~n²/2¹⁵ per band), same geometry as simhash_neardup. Pixels are
    // hashed on EXPLODED (media, chunk) rows, not inside a px-array
    // higher-order transform — the X-11 finding: HOF lambdas run
    // interpreted and CollapseProject re-evaluates the chained
    // px/tot/bits arrays per reference (measured 8.6 s → sub-second at
    // sf0.1); the exploded form keeps md5 in whole-stage codegen, the
    // image mean rides one media-keyed window, and the bit-pack is one
    // hash aggregate.
    "phash_neardup" -> ((s, d) => {
      val imgs = Multimodal.syntheticMedia(Tables.documents(s, d))
        .filter(col("kind") === "image")
        .select(col("media_id"), col("content").cast("string").as("payload"))
      val px = imgs
        .select(col("media_id"),
          explode(sequence(lit(0), lit(59))).as("i"), col("payload"))
        .select(col("media_id"), col("i"),
          conv(substring(md5(col("payload").substr(col("i") * 4 + 1, lit(4))),
            1, 7), 16, 10).cast("long").as("p"))
      // hash/band/verify stages live in Multimodal.aHashPairs, shared
      // with the real-decoder (javax.imageio) pipeline MultimodalSpec
      // drives — only the pixel frame above is decoder-specific
      Multimodal.aHashPairs(px)
        .orderBy("a_id", "b_id")
    }),

    // Multimodal metadata aggregation: binary payload sizes by kind
    // (the content bytes themselves are exercised in MultimodalSpec).
    "media_stats" -> ((s, d) =>
      Multimodal.syntheticMedia(Tables.documents(s, d))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_media"),
          sum(length(col("content"))).as("total_bytes"),
          min(col("width")).as("min_width"),
          max(col("height")).as("max_height"))
        .orderBy("kind")),
  )

  def oracle: Map[String, String] = {
    // to_json(struct_pack(…)) matches Spark's to_json exactly (compact,
    // schema key order, proper string escaping) — raw '||' interpolation
    // would diverge the moment a company name held a JSON metacharacter.
    // Null condition mirrors MockEnricher's full skip rule: null OR
    // empty about (company is never null in this frame).
    val filled = Map(
      "company_overview" ->
        """to_json(struct_pack(name := company, summary := company || ' operates a data platform'))""",
      "business_model" -> """'{"model":"saas","channels":"direct"}'""",
      "leadership" -> "company || ' team'",
      "executive_brief" -> "'Brief for ' || company")
    val keyCols = FlattenKeys.map { k =>
      filled.get(k) match {
        case Some(exprSql) =>
          s"CASE WHEN about IS NULL OR about = '' THEN NULL ELSE $exprSql END AS $k"
        case None => s"CAST(NULL AS VARCHAR) AS $k"
      }
    }.mkString(",\n       ")
    Map(
      "enrich_flatten" ->
        s"""WITH base AS (
           |  SELECT doc_id, source AS company,
           |         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE substr(text, 1, 80) END AS about
           |  FROM documents)
           |SELECT doc_id, company,
           |       $keyCols
           |FROM base ORDER BY doc_id""".stripMargin,

      "prompt_render" ->
        s"""SELECT doc_id,
           |       ${promptSql("source",
                     "'https://www.' || source || '.example.com'",
                     "substr(text, 1, 40)")} AS prompt
           |FROM documents ORDER BY doc_id""".stripMargin,

      // Enrichment context is the extracted About-Us sentence (or ""),
      // exactly as the reference prompts (app.py:226) — the same
      // null-or-empty skip guard as enrich_flatten, applied to the
      // extracted sentence. Reuses the one `filled` contract above.
      "leadsight_pipeline" -> {
        val extAbout = DocQueries.aboutSql
        // the ONE keyCols builder above — a second inline copy of the
        // null-or-empty skip guard could silently desynchronize the
        // two oracles
        s"""WITH base AS (
           |  SELECT doc_id,
           |         source || '-' || doc_id AS company,
           |         'https://www.' || source || '.example.com' AS website,
           |         regexp_replace(text, '\\s+', ' ', 'g') AS tx
           |  FROM documents),
           |ext AS (SELECT *, $extAbout AS about FROM base)
           |SELECT doc_id, company AS "Company Name", website AS "Website",
           |       ${DocQueries.foundedSql} AS "Founded Info",
           |       about AS "About Us",
           |       $keyCols,
           |       ${DocQueries.emailSql} AS "Email"
           |FROM ext ORDER BY doc_id""".stripMargin
      },

      "frame_sample" ->
        """WITH v AS (SELECT doc_id AS media_id, text AS payload
          |           FROM documents WHERE doc_id % 3 = 2),
          |fr AS (SELECT media_id,
          |              regexp_extract_all(payload, '(?s).{32}') AS frames
          |       FROM v),
          |s AS (SELECT media_id,
          |             unnest(list_filter(
          |               list_transform(frames,
          |                 (f, i) -> struct_pack(f := f, i := i - 1)),
          |               x -> (x.i % 2) = 0)) AS u
          |      FROM fr WHERE len(frames) > 0)
          |SELECT media_id, CAST(u.i AS INTEGER) AS frame_no,
          |       CAST(u.i * 32 + 1 AS INTEGER) AS off,
          |       md5(u.f) AS frame_h
          |FROM s ORDER BY media_id, frame_no""".stripMargin,

      // Same md5-chunk pixels, exact integer mean comparison, LSB-first
      // bit packing, 4×15 banding, and bit_count verify as the Spark
      // side; bit_count is cast to INTEGER to match Spark's int.
      "phash_neardup" ->
        """WITH imgs AS (SELECT doc_id AS media_id, text AS payload
          |              FROM documents WHERE doc_id % 3 = 0),
          |p AS (SELECT media_id,
          |        list_transform(range(0, 60), i ->
          |          CAST('0x' || substr(md5(substr(payload, CAST(i*4+1 AS INTEGER), 4)), 1, 7) AS BIGINT)) AS px
          |      FROM imgs),
          |h AS (SELECT media_id, px, list_sum(px) AS tot FROM p),
          |a AS (SELECT media_id,
          |        CAST(list_sum(list_transform(range(0, 60), i ->
          |          CASE WHEN px[CAST(i+1 AS INTEGER)] * 60 > tot
          |               THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END)) AS BIGINT) AS ahash
          |      FROM h),
          |s AS (SELECT media_id, ahash, CAST(b AS INTEGER) AS band_id,
          |             (ahash >> CAST(b*15 AS INTEGER)) & 32767 AS band_val
          |      FROM a, range(0, 4) t(b)),
          |c AS (SELECT DISTINCT x.media_id AS a_id, y.media_id AS b_id,
          |             x.ahash AS h1, y.ahash AS h2
          |      FROM s x JOIN s y
          |      ON x.band_id = y.band_id AND x.band_val = y.band_val
          |       AND x.media_id < y.media_id)
          |SELECT a_id, b_id, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
          |FROM c WHERE bit_count(xor(h1, h2)) <= 3 ORDER BY a_id, b_id""".stripMargin,

      "media_stats" ->
        """WITH m AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 3 = 0 THEN 'image'
          |              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
          |         octet_length(encode(text)) AS n_bytes,
          |         CAST(n_chars % 640 AS INTEGER) AS width,
          |         CAST(n_chars % 480 AS INTEGER) AS height
          |  FROM documents)
          |SELECT kind, count(*) AS n_media,
          |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
          |       min(width) AS min_width, max(height) AS max_height
          |FROM m GROUP BY kind ORDER BY kind""".stripMargin,
    )
  }
}
