package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Scratch}
import graft.operators.TextAnalysis._

/** Oracle-checked text-analysis queries over `documents` (M3 extension
  * scope): tokenization stats, language-ID, quality scoring, TF top-k,
  * and order-sensitive document fingerprints.
  *
  * Oracle notes: DuckDB `len()` returns BIGINT (cast to INTEGER to match
  * Spark's `size`); `string_split` keeps empty strings exactly like
  * Spark's `split`, and both sides tokenize the same whitespace-
  * normalized text; md5 hex is bit-identical in both engines, so the
  * hash-derived fingerprints compare exactly.
  */
object TextQueries extends QueryModule {

  /** Shared SQL fragment: whitespace-normalized text + token list. */
  private val toksSql =
    """string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')"""

  /** Count-min sketch geometry + universal-hash constants (distinct
    * primes from the MinHash family; embedded literally in the oracle
    * SQL so both engines compute identical cells). w=256 sits below
    * the corpus's ~916-bigram domain on purpose: a sketch wider than
    * the vocabulary never collides and the realized-error columns
    * would be a vacuous all-zeros demo. */
  private val CmsD = 4
  private val CmsW = 256L

  /** KMV sketch size for approx_distinct_tokens: well under the
    * ~900-bigram per-lang domain (so the estimator genuinely runs)
    * with ≈1/√(k−2) ≈ 9% standard error — the realized rel_err
    * column keeps it honest (measured ≈6% mean at sf0.01). Shared
    * with the oracle SQL below. */
  private val KmvK = 128

  /** X-169: the frozen 64-weight linear quality head, in ×10⁶ fixed
    * point. A deployed CCNet/fastText-style quality classifier ships
    * its head as a trained OFFLINE artifact (chi2-selected hashed
    * features → linear weights); the engine-side operator is pure
    * INFERENCE, so the weights must be a fixed literal frame — a
    * corpus-derived vector would change per scale factor and stop
    * being a trained artifact. Deterministic SplitMix64 scramble
    * (the planeWeights discipline), embedded literally in the oracle
    * SQL so both engines multiply identical integers. */
  private val ClfWeights: IndexedSeq[Long] = (0 until 64).map { b =>
    var z = (b + 1).toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    z % 1000001L
  }
  private val CmsA: Seq[Long] = (0 until CmsD).map(i => (2L * i + 1) * 15485863L % HashMod)
  private val CmsB: Seq[Long] = (0 until CmsD).map(i => (i + 1) * 32452843L % HashMod)

  private def occSql(words: Seq[String]): String =
    s"CAST(len(list_filter(toks, x -> x IN (${words.map(w => s"'$w'").mkString(", ")}))) AS INTEGER)"

  private val profilesSql: String =
    LangProfiles.map { case (l, ws) => s"${occSql(ws)} AS hits_$l" }.mkString(",\n       ")

  /** Quality-score formula over (n_tokens, n_distinct, stop_hits)
    * columns — one copy, spliced into text_quality and training_subset
    * so the two oracles can't drift. */
  private val scoreSql =
    """0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      |           + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |           + 0.3 * (1.0 - abs(CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) - 0.4))""".stripMargin
  private val gradeSql =
    "CASE WHEN score >= 0.6 THEN 'good' WHEN score >= 0.35 THEN 'fair' ELSE 'poor' END"

  private val guessSql: String = {
    val langs = LangProfiles.map(_._1)
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val arms = langs.map(l => s"WHEN hits_$l > 0 AND hits_$l = $best THEN '$l'").mkString(" ")
    s"CASE $arms ELSE 'und' END"
  }

  /** One copy of the shard-local packing CTE chain (t → c → l) spliced
    * into both sequence_pack oracles — mirrors [[packedLocal]]. */
  private lazy val packCte: String =
    s"""t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
       |             CAST(len($toksSql) AS INTEGER) AS n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |             sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM t),
       |l AS (SELECT doc_id, lang, shard, n_tokens,
       |             (cum - n_tokens) // $PackT AS local_seq,
       |             (cum - n_tokens) % $PackT AS seq_offset
       |      FROM c)""".stripMargin

  /** BM25 query terms, pinned so the Spark frames and both oracle
    * mirrors (bm25_score, rrf_fusion) can't drift. */
  private val BmTerms = Seq("data", "stream", "vector")

  /** Packing chunk size (tokens per training sequence), shared by the
    * two sequence_pack queries and their oracle CTE. */
  private val PackT = 2048

  /** Shard-local sequence packing (X-50): per-(lang, shard) running
    * token totals cut at [[PackT]] boundaries — ONE definition shared
    * by sequence_pack (shard-local ids ARE the deliverable) and
    * sequence_pack_global (adds the prefix-offset pass), so the
    * stratum recipe can't drift between them. Strata are (lang,
    * shard), NOT lang alone: a running total is inherently sequential
    * within its stratum, so a per-language window would funnel each
    * language's corpus through one task at scale; sharding by a
    * doc_id hash gives every stratum an independent stream. */
  private def packedLocal(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens(norm(col("text")))))
      .withColumn("shard", pmod(col("doc_id"), lit(8)))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / PackT).as("local_seq"),
        ((col("cum") - col("n_tokens")) % PackT).as("seq_offset"))
  }

  /** Exact fixed-point BM25 per document over [[BmTerms]] (X-48) —
    * ln-free rational idf; bounded df/stats broadcast, tf shuffle-join.
    * Shared by bm25_score (as the deliverable) and rrf_fusion (as one
    * fusion arm). */
  /** Per-(doc, term) frequency over [[BmTerms]] — ONE definition shared
    * by bm25Frame and rrf_fusion's lexical arm (which aggregates it per
    * doc), mirroring the oracle side where both derive from the same
    * `tf` CTE; a second independent derivation could drift. */
  private def bmTermFreq(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(norm(col("text")))).as("token"))
      .filter(col("token").isin(BmTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  private def bm25Frame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(norm(col("text")))).as("token"))
    val dl = e.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = bmTermFreq(s, d)
    val dft = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_fx", expr(
        "CAST(CAST((n_docs - df) * 2 + 1 AS DECIMAL(38,0)) * 1000000000 div (df * 2 + 1) AS BIGINT)"))
      .withColumn("tfc_fx", expr(
        "CAST(CAST(22 * tf AS DECIMAL(38,0)) * total_tokens * 1000000000 " +
          "div (10 * tf * total_tokens + 3 * total_tokens + 9 * dl * n_docs) AS BIGINT)"))
      .withColumn("term_fx", expr(
        "CAST(CAST(idf_fx AS DECIMAL(38,0)) * tfc_fx div 1000000000 AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("term_fx")).as("score_fx"))
      .withColumn("bm25", col("score_fx").cast("double") / 1000000000L)
  }

  def defs: Map[String, Q] = Map(
    // Language-ID confusion matrix: actual lang column vs stopword-
    // profile argmax guess.
    "lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
        .withColumn("lang_guess", langGuess(col("toks")))
        .groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess")),

    // Token counting: whitespace vs BPE-ish segmentation, per document.
    "token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tx", norm(col("text")))
        .select(col("doc_id"),
          size(tokens(col("tx"))).as("n_ws_tokens"),
          bpeTokenCount(col("tx")).as("n_bpe_tokens"),
          size(array_distinct(tokens(col("tx")))).as("n_distinct"),
          length(col("tx")).as("n_chars_norm"))
        .orderBy("doc_id")),

    // X-163: context-length truncation planning — before packing a
    // corpus into fixed-length training sequences, every pipeline asks
    // "at context L, how many documents get cut and how much token
    // mass is lost?" (the answer drives the context-length/packing
    // policy; sequence_pack then EXECUTES the chosen policy). Per
    // (lang, L ∈ {64, 256, 1024}): doc count, docs exceeding L, total
    // vs kept (truncate-at-L) token mass, and the lost fraction in
    // exact ppm. Scale shape: ONE narrow scan computes each doc's
    // token count, a 3-row generator fans it out per L, and one
    // (lang, L)-keyed aggregate collapses it — output is |langs|·3
    // rows. The ppm ratio multiplies in DECIMAL(38,0) (the dsirScores
    // headroom rule: lost·10⁶ overflows BIGINT past ~10¹³ corpus
    // tokens — exactly the 100 TB regime).
    "context_truncation" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), size(tokens(norm(col("text")))).cast("long").as("n_toks"))
        .select(col("lang"), col("n_toks"),
          explode(typedLit(Seq(64L, 256L, 1024L))).as("ctx"))
        .groupBy("lang", "ctx")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_toks") > col("ctx"), 1L).otherwise(0L)).as("n_truncated"),
          sum(col("n_toks")).as("total_tokens"),
          sum(least(col("n_toks"), col("ctx"))).as("kept_tokens"))
        // zero-mass guard (r9 advice): a (lang, ctx) group of all-empty
        // documents divides by zero — Spark's div yields NULL but the
        // DuckDB // errors, a cross-engine divergence; define it as 0
        // lost identically in both engines
        .withColumn("lost_ppm", expr(
          "CASE WHEN total_tokens = 0 THEN CAST(0 AS BIGINT) ELSE " +
            "CAST((CAST(total_tokens AS DECIMAL(38,0)) - kept_tokens) * 1000000 div total_tokens AS BIGINT) END"))
        .orderBy("lang", "ctx")),

    // Heuristic quality score + grade bands, per document.
    "text_quality" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          occurrences(col("toks"), LangProfiles.head._2).as("stop_hits"))
      base
        .withColumn("score",
          qualityScore(col("n_tokens"), col("n_distinct"), col("stop_hits")))
        .withColumn("grade", grade(col("score")))
        .orderBy("doc_id")
    }),

    // Per-document TF top-3 tokens (window top-k — never a global sort).
    "tf_topk" -> ((s, d) => {
      val w = Window.partitionBy("doc_id")
        .orderBy(col("cnt").desc, col("token"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(norm(col("text")))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy("doc_id", "rk")
    }),

    // Bigram (adjacent-pair) frequencies, multiset — the counting core
    // of a BPE-merge step; top 20 pairs.
    "bigram_counts" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(ngrams(tokens(norm(col("text"))), 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)),

    // X-173: Heaps'-law vocabulary-growth curve — the corpus-size
    // diagnostic beside the per-source datacard (X-156) and the drift
    // tests: distinct-vocabulary count on growing corpus PREFIXES
    // (Heaps 1978; sublinear V(N) ~ K·N^β is the law every tokenizer/
    // capacity plan assumes — a curve that bends the wrong way signals
    // template mass or corpus truncation). Prefixes are the 10 doc_id
    // deciles by VALUE ((id−lo)·10 DIV span — exact, no quantile pass
    // needed on dense ids; a sparse-id corpus would rank first); a
    // token's first-occurrence decile is min(k) because the bucket is
    // monotone in doc_id, so ONE vocabulary-bounded hash aggregate
    // carries the whole vocabulary axis. Per decile: cumulative docs,
    // token mass, distinct vocabulary, and the exact ×10⁶ vocabulary-
    // per-token ratio (NULL on an empty prefix, mirrored). Scale
    // shape: two corpus-linear aggregates (per-bucket doc stats +
    // first-occurrence min), then prefix sums on the 10-row decile
    // axis (allowlisted unpartitioned window — 10 rows by
    // construction); the 1-row bounds frame broadcasts. Output 10 rows.
    "heaps_law" -> ((s, d) => {
      // materialized: the tokenize feeds bounds, the per-bucket doc
      // stats, AND the first-occurrence explode — unmaterialized it
      // re-runs the corpus regex+split three times (the minhash sh rule)
      val perDoc = Scratch.cut(Tables.documents(s, d)
        .select(col("doc_id"), tokens(norm(col("text"))).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
          col("toks")))
      val bounds = perDoc.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      val bk = perDoc.crossJoin(broadcast(bounds))
        .withColumn("k",
          expr("((doc_id - lo) * 10) DIV (hi - lo + 1) + 1"))
      val docAgg = bk.groupBy("k")
        .agg(count(lit(1)).as("dd"), sum(col("n_toks")).as("tt"))
      val vocAgg = bk.select(col("k"), explode(col("toks")).as("tok"))
        .groupBy("tok").agg(min(col("k")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("vv"))
      val axis = bounds.select(explode(sequence(lit(1L), lit(10L))).as("k"))
      val j = axis
        .join(docAgg, Seq("k"), "left")
        .join(vocAgg, Seq("k"), "left")
        .na.fill(0L, Seq("dd", "tt", "vv"))
      val w = Window.orderBy("k")
      j.select(col("k"),
          sum(col("dd")).over(w).as("n_docs"),
          sum(col("tt")).over(w).as("n_tokens"),
          sum(col("vv")).over(w).as("n_vocab"))
        .crossJoin(broadcast(bounds))
        // cutoff is the LAST doc_id bucket k covers: membership is
        // (doc_id - lo)·10 < k·span, so the boundary is the CEILING
        // lo + ⌈k·span/10⌉ − 1 (a floor here excludes a counted doc
        // whenever k·span is not a multiple of 10)
        .select(col("k"),
          expr("lo - 1 + ((hi - lo + 1) * k + 9) DIV 10").as("cutoff_id"),
          col("n_docs"), col("n_tokens"), col("n_vocab"),
          expr("CASE WHEN n_tokens = 0 THEN NULL " +
            "ELSE (n_vocab * 1000000) DIV n_tokens END").as("vocab_per_mtok_fx"))
        .orderBy("k")
    }),

    // X-172: TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004)
    // — the KEYWORD op beside the collocation op (X-109 ranks PAIRS by
    // observed-over-expected; TextRank ranks single words by stationary
    // importance on the co-occurrence graph, the PageRank recipe on
    // text). Graph: words as nodes, symmetric edges between ADJACENT
    // distinct tokens weighted by corpus co-occurrence count (window
    // W=2 — the paper's default unit, here corpus-level keyword mining
    // so counts aggregate over all docs). The weighted-PageRank
    // iteration S(v) = (1−d)/|V| + d·Σ S(u)·w(u,v)/wdeg(u) runs with
    // d = 0.85 in EXACT integer arithmetic (the link_pagerank
    // discipline): scores ×10⁹ fixed point, per-edge transition
    // probabilities pre-normalized ONCE into ×10⁶ fixed point (w·10⁶
    // DIV wdeg — keeps the per-round multiply s·p ≤ 10¹⁵, far inside
    // BIGINT; a 100 TB corpus where w·10⁶ outgrows BIGINT widens the
    // one-time normalization to DECIMAL(38,0), same plan), 3 unrolled
    // rounds, every div truncation mirrored by the oracle's `//`.
    // Tokens never adjacent to a DIFFERENT token carry no
    // recommendation evidence and are outside the graph (the paper's
    // definition). Scale shape: one corpus-linear bigram aggregate,
    // then everything runs on the |V|-bounded vocabulary frame —
    // per round ONE key join + one hash aggregate, per-round score
    // frames materialized (each feeds the next join), 1-row node-count
    // frame broadcast; top-10 via global sort+limit = TakeOrdered.
    "textrank_keywords" -> ((s, d) => {
      val Scale = 1000000000L // score fixed point ×10⁹
      val PFx = 1000000L      // transition-probability fixed point ×10⁶
      val big = Tables.documents(s, d)
        .select(explode(ngrams(tokens(norm(col("text"))), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"))
        .filter(col("w1") =!= col("w2"))
      // materialized: the corpus-linear bigram aggregate feeds BOTH the
      // degree rollup and the edge normalization — unmaterialized each
      // re-runs tokenize+ngrams over the corpus (twice each through the
      // symmetrizing union)
      val und = Scratch.cut(
        big.select(col("w1").as("u"), col("w2").as("v"))
          .union(big.select(col("w2").as("u"), col("w1").as("v")))
          .groupBy("u", "v").agg(count(lit(1)).as("w")))
      val wdeg = Scratch.cut(
        und.groupBy("u").agg(sum(col("w")).as("wdeg")))
      val edges = Scratch.cut(
        und.join(wdeg, "u")
          .select(col("u"), col("v"), expr(s"(w * $PFx) div wdeg").as("p_fx")))
      val nodes = Scratch.cut(
        edges.select(col("u").as("token")).distinct())
      val stats = nodes.agg(count(lit(1)).as("nv"))
      def iterate(rIn: DataFrame): DataFrame = {
        val r = Scratch.cut(rIn)
        val contrib = edges.join(r, edges("u") === r("token"))
          .select(col("v"), expr(s"(sc * p_fx) div $PFx").as("c"))
          .groupBy("v").agg(sum(col("c")).as("csum"))
        nodes.crossJoin(broadcast(stats))
          .join(contrib, nodes("token") === contrib("v"), "left_outer")
          .select(nodes("token"),
            expr(s"($Scale div nv) * 15 div 100 " +
              "+ coalesce(csum, 0L) * 85 div 100").as("sc"))
      }
      val r0 = nodes.crossJoin(broadcast(stats))
        .select(col("token"), expr(s"$Scale div nv").as("sc"))
      val r3 = iterate(iterate(iterate(r0)))
      r3.join(wdeg, r3("token") === wdeg("u"))
        .select(col("token"), col("wdeg"), col("sc").as("score_fx"),
          (col("sc").cast("double") / Scale).as("score"))
        .orderBy(col("score_fx").desc, col("token"))
        .limit(10)
    }),

    // PMI collocation mining (X-109): the phrase-extraction pass a
    // tokenizer/data-curation pipeline runs to find multi-word units —
    // rank bigrams by observed-over-expected frequency. PMI =
    // ln(c_ab·N²/(c_a·c_b·B)) is monotone in its argument, so ranking
    // uses the exact fixed-point RATIO c_ab·N²·10⁶ ÷ (c_a·c_b·B) in
    // DECIMAL(38,0)/HUGEINT — no log, no float, hash-stable. Min
    // support c_ab ≥ 5 (the standard guard: rare pairs have unstable
    // PMI). Plan shape: two hash aggregates (unigram, bigram counts),
    // the bigram frame shuffle-joined to the vocabulary-sized unigram
    // frame TWICE (left/right word — never hinted, the doc_lm_score
    // rule), two 1-row totals broadcast, global top-20 as
    // TakeOrdered (no full sort survives).
    "pmi_collocations" -> ((s, d) => {
      val toksDf = Tables.documents(s, d)
        .select(tokens(norm(col("text"))).as("toks"))
      val uni = toksDf.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c_w"))
      val bi = toksDf.select(explode(ngrams(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val totals = uni.agg(sum(col("c_w")).cast("decimal(38,0)").as("n_toks"))
        .crossJoin(broadcast(
          toksDf.select((greatest(size(col("toks")) - 1, lit(0))).as("nb"))
            .agg(sum(col("nb")).cast("decimal(38,0)").as("n_bi"))))
      bi
        .withColumn("wa", substring_index(col("bigram"), " ", 1))
        .withColumn("wb", substring_index(col("bigram"), " ", -1))
        .join(uni.select(col("w").as("wa"), col("c_w").as("c_a")), "wa")
        .join(uni.select(col("w").as("wb"), col("c_w").as("c_b")), "wb")
        .crossJoin(broadcast(totals))
        .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
          expr("CAST(CAST(c_ab AS DECIMAL(38,0)) * n_toks * n_toks * 1000000 " +
            "div (CAST(c_a AS DECIMAL(38,0)) * c_b * n_bi) AS BIGINT)").as("pmi_ratio_fx"))
        .orderBy(col("pmi_ratio_fx").desc, col("bigram"))
        .limit(20)
    }),

    // Deterministic per-language stratified sampling: hash-bucket on
    // doc_id (stable under reruns/partitioning, unlike rand()) with a
    // per-stratum keep rate.
    "stratified_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", sampleBucket(col("doc_id"), "graft-r3"))
        .withColumn("rate",
          when(col("lang") === "en", 50)
            .when(col("lang") === "de", 20).otherwise(10))
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")),

    // Exact-k deterministic sampling per stratum (X-77): the k
    // smallest salted-md5 priorities per language are a uniform
    // without-replacement sample of exactly min(k, |stratum|) docs —
    // the fixed-budget eval/holdout constructor next to
    // stratified_sample's Bernoulli rates (which only control the
    // EXPECTED size). Priorities are per-row hashes (stable under
    // reruns and repartitioning); selection runs through the
    // two-phase Rank.topKPerGroup, so no per-stratum sort ever holds
    // a full corpus slice in one task.
    "fixed_size_sample" -> ((s, d) =>
      graft.operators.Rank.topKPerGroup(
          Tables.documents(s, d).withColumn("pri",
            tokenHash(concat(lit("graft-k"), col("doc_id").cast("string")))),
          10, Seq("lang"), Seq(col("pri"), col("doc_id")))
        .select(col("lang"), col("rk"), col("doc_id"), col("pri"))
        .orderBy("lang", "rk")),

    // Weighted without-replacement sampling (X-147) by sequential
    // Poisson / order sampling (Ohlsson 1998; the πps member of the
    // Efraimidis–Spirakis order-sampling family): priority = u/w with
    // u a deterministic per-row md5 draw, keep the k smallest — docs
    // with twice the weight are ~twice as likely in, the quality- or
    // length-proportional selection every curation mixer needs beside
    // the uniform samplers (X-30/X-77). Priority arithmetic is exact
    // BIGINT fixed point (u·10⁶ div w; u < HashMod so no overflow),
    // never float division — the hash-compare discipline. Scale
    // shape: one narrow map then a global bottom-k = Spark's
    // TakeOrderedAndProject (per-partition top-k, k·partitions merge)
    // — no global sort, no shuffle of the corpus.
    "weighted_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("w", greatest(col("n_chars").cast("long"), lit(1L)))
        .withColumn("u",
          tokenHash(concat(lit("graft-wr"), col("doc_id").cast("string"))))
        .withColumn("pri_fx", expr("CAST(u * 1000000L DIV w AS BIGINT)"))
        .select(col("doc_id"), col("lang"), col("w"), col("pri_fx"))
        .orderBy(col("pri_fx"), col("doc_id"))
        .limit(20)),

    // Corpus-level term frequency, top 20 tokens.
    "token_counts" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(norm(col("text")))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)),

    // BPE tokenizer-training rounds (the iterative core of
    // Sennrich'16 subword training): each round counts adjacent token
    // pairs across the corpus, picks the most frequent pair (globally,
    // a 1-row broadcast argmax), and rewrites every occurrence into
    // the merged token — 2 unrolled rounds, reporting the chosen merge
    // + corpus token count after each. Candidate pairs require
    // w1 ≠ w2, which makes occurrences non-overlapping, so the rewrite
    // is a vectorized mark/filter pass with no sequential state
    // (TextAnalysis.bpeMergeOnce) — exactly reproducible in DuckDB.
    // Scale shape per round: one pair-count aggregation (partial
    // map-side), a 1-row argmax, and one narrow corpus map — the same
    // broadcast-iterate recipe as kmeans/pagerank, INCLUDING the
    // per-round materialization: t0 feeds two consumers and t1 three
    // (argmax, token total, next rewrite), and without the cuts each
    // consumer re-executes the scan + tokenize + earlier rounds'
    // rewrites (the connectedComponents 8×-measured recompute).
    "bpe_merges" -> ((s, d) => {
      val t0 = Scratch.cut(Tables.documents(s, d)
        .select(col("doc_id"), tokens(norm(col("text"))).as("toks")))
      def top1(t: org.apache.spark.sql.DataFrame) = t
        .select(explode(ngrams(col("toks"), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("a"),
          split(col("bg"), " ").getItem(1).as("b"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
      def merged(t: org.apache.spark.sql.DataFrame,
          m: org.apache.spark.sql.DataFrame) =
        t.crossJoin(broadcast(m))
          .select(col("doc_id"),
            bpeMergeOnce(col("toks"), col("a"), col("b")).as("toks"))
      def total(t: org.apache.spark.sql.DataFrame) =
        t.agg(sum(size(col("toks"))).as("n_tokens_after"))
      val m1 = top1(t0); val t1 = Scratch.cut(merged(t0, m1))
      val m2 = top1(t1); val t2 = merged(t1, m2)
      m1.withColumn("merge_round", lit(1)).crossJoin(broadcast(total(t1)))
        .unionByName(
          m2.withColumn("merge_round", lit(2)).crossJoin(broadcast(total(t2))))
        .select("merge_round", "a", "b", "cnt", "n_tokens_after")
        .orderBy("merge_round")
    }),

    // Count-min sketch vs exact counts (Cormode & Muthukrishnan '05 —
    // the frequency member of the sketch family beside KMV for
    // cardinality and the bottom-k sample for quantiles): d=CmsD hash
    // rows × w=CmsW=256 buckets (sized below the ~916-bigram domain —
    // see the constant's comment), each cell a plain count. The sketch build is
    // ONE aggregation whose partial phase collapses every task to
    // ≤ d·w cells before the exchange — fixed-size regardless of
    // vocabulary, which is the whole point at a 1e8-token vocabulary
    // where exact per-token counts shuffle the full token stream. The
    // estimate for an item is min over its d cells (always ≥ exact —
    // collisions only add); realized overcount columns keep the w≪|V|
    // trade-off honest. The sketch domain is BIGRAMS (≈916 distinct
    // here) rather than unigrams: the word-soup lexicon is only 31
    // tokens, a domain every sketch trivially counts exactly. All
    // hashing is the md5-derived tokenHash plus universal-hash
    // constants embedded in the oracle SQL, so DuckDB reproduces every
    // cell exactly — the same transparency discipline the KMV
    // cardinality sketch (approx_distinct_tokens) follows.
    "cms_bigram_counts" -> ((s, d) => {
      val items = Tables.documents(s, d)
        .select(explode(ngrams(tokens(norm(col("text"))), 2)).as("bigram"))
        .withColumn("h", tokenHash(col("bigram")))
      def buckets = array((0 until CmsD).map(i =>
        (lit(CmsA(i)) * col("h") + lit(CmsB(i))) % lit(HashMod) % lit(CmsW)): _*)
      val cells = items
        .select(posexplode(buckets).as(Seq("row_i", "bucket")))
        .groupBy("row_i", "bucket").agg(count(lit(1)).as("cell"))
      val top = items.groupBy("bigram")
        .agg(count(lit(1)).as("exact_cnt"), max(col("h")).as("h"))
        .orderBy(col("exact_cnt").desc, col("bigram")).limit(20)
      top.select(col("bigram"), col("exact_cnt"),
          posexplode(buckets).as(Seq("row_i", "bucket")))
        .join(cells, Seq("row_i", "bucket"))
        .groupBy("bigram", "exact_cnt")
        .agg(min(col("cell")).as("cms_cnt"))
        .withColumn("overcount", col("cms_cnt") - col("exact_cnt"))
        .withColumn("err_frac",
          col("overcount").cast("double") / col("exact_cnt").cast("double"))
        .orderBy(col("exact_cnt").desc, col("bigram"))
    }),

    // Cardinality sketch vs exact distinct (X-55): at 100 TB,
    // countDistinct shuffles every distinct value to its group; a
    // fixed-size mergeable sketch is the only shape that survives a
    // billion-token vocabulary. The sketch here is a K-MINIMUM-VALUES
    // bottom-k (graft.functions.KmvAggregator, k=KmvK) over the
    // md5-derived tokenHash: one hash aggregate whose partial phase
    // collapses every task to ≤k longs, estimator (k−1)·M ÷ h_k —
    // same guarantees class as HLL++ (std err ≈ 1/√(k−2) ≈ 9% at
    // k=128) but with TRANSPARENT state: the k smallest hashes are a
    // plain sorted array DuckDB reproduces bit-exactly with one
    // window over the same hash column, so unlike Spark's opaque
    // HLL++ registers this sketch IS oracle-checked (the X-56
    // count-min discipline applied to cardinality). The domain is
    // token BIGRAMS per language (~900 distinct per lang — the
    // unigram lexicon is 31 tokens, which any sketch counts exactly;
    // a vacuous demo, same reasoning as the CMS width choice). The
    // exact arm is the comparison baseline a production run would
    // drop; computed as its own frame and joined on the 5-row lang
    // key so the sketch arm's plan stays a pure partial-collapse
    // aggregate, unpolluted by the distinct's Expand.
    "approx_distinct_tokens" -> ((s, d) => {
      val kmv = udaf(new graft.functions.KmvAggregator(KmvK),
        org.apache.spark.sql.Encoders.scalaLong)
      val bg = Tables.documents(s, d)
        .select(col("lang"),
          explode(ngrams(tokens(norm(col("text"))), 2)).as("bigram"))
      val sk = bg.select(col("lang"), tokenHash(col("bigram")).as("h"))
        .groupBy("lang").agg(kmv(col("h")).as("__ks"))
        .withColumn("__nk", size(col("__ks")).cast("long"))
        .withColumn("__hk", element_at(col("__ks"), col("__nk").cast("int")))
        // exact integer division both sides — a double divide could
        // truncate differently at exact multiples
        .withColumn("approx_distinct",
          when(col("__nk") < lit(KmvK.toLong), col("__nk"))
            .otherwise(expr(s"CAST(${(KmvK - 1).toLong * HashMod} div __hk AS BIGINT)")))
      val ex = bg.groupBy("lang")
        .agg(countDistinct(col("bigram")).as("exact_distinct"))
      ex.join(sk, "lang")
        .withColumn("rel_err",
          abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
            col("exact_distinct").cast("double"))
        .select("lang", "exact_distinct", "approx_distinct", "rel_err")
        .orderBy("lang")
    }),

    // Corpus-statistics LM scoring (the "filter by language-model
    // likelihood" pretraining op): per-doc mean unigram probability.
    // Probabilities are integer fixed-point (cnt·1e12 div total) so the
    // per-doc sum is exact and order-independent; only the final mean
    // is one double division. No logs — ln() is libm-dependent and
    // not bit-identical across engines.
    "doc_lm_score" -> ((s, d) => {
      val e = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(norm(col("text")))).as("token"))
      val cnts = e.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = cnts.agg(sum(col("cnt")).as("total"))
      // cnts is the full vocabulary — unbounded at corpus scale (typos,
      // code, unicode soup push distinct tokens to 1e8+), so it must
      // NEVER carry a broadcast hint: shuffle-join on token instead
      // (one extra exchange on the already-exploded side). AQE still
      // converts to broadcast at runtime when the measured size is
      // small — adaptive, bounded by observation, which a hint is not.
      e.join(cnts, "token")
        .crossJoin(broadcast(total))
        // DECIMAL(38) intermediate: cnt·1e12 would overflow a long once
        // a token tops ~9.2M occurrences (guaranteed at corpus scale);
        // `div` is the integral divide, exact on decimals.
        .withColumn("p_fx",
          expr("CAST(CAST(cnt AS DECIMAL(24,0)) * 1000000000000 div total AS BIGINT)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("p_fx")).as("sum_fx"))
        .withColumn("lm_score",
          col("sum_fx").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),

    // BM25 relevance scoring (the search-rank op a corpus/RAG pipeline
    // runs): per-document score over a fixed query-term set, k1 = 1.2,
    // b = 0.75. Everything is EXACT integer arithmetic so the per-doc
    // sum is order-independent: idf is the ln-free rational variant
    // (N − df + ½)/(df + ½) (ln is libm-dependent and not bit-identical
    // across engines), and the tf normalization is multiplied through
    // by 10·total_tokens to clear every fraction:
    //   tfc = 22·tf·TT / (10·tf·TT + 3·TT + 9·dl·N)        (× 1e9 fx)
    // DECIMAL(38) intermediates — the products overflow a long at
    // corpus scale. One double division at the end, bit-identical.
    // Scale shape: two aggs + one shuffle-join of the tf frame; the
    // per-term df frame is bounded by the literal query (broadcast),
    // corpus stats are one row.
    "bm25_score" -> ((s, d) => bm25Frame(s, d).orderBy("doc_id")),

    // Sparse TF-cosine near-dup pairs (X-155) — the VECTOR-SPACE
    // similarity member beside the set member (ngram_jaccard), the
    // sketch member (simhash), and the dense member (knn_cosine):
    // exact cosine over FULL term-frequency vectors, candidates from
    // the rare-SHINGLE inverted index (3-shingles, 2 ≤ df ≤ 8 —
    // shingles, not tokens, because the discriminative unit must
    // outgrow the vocabulary: this corpus has 31 distinct tokens, so
    // by sf0.1 every TOKEN has df ≥ 250 and a token-level rare index
    // is empty, while the 27k-shingle space keeps per-pair evidence
    // rare; real web corpora hit the same wall with stopwords. The
    // bound is Σdf² ≤ DfCap·Σdf ∝ corpus — measured 457k candidate
    // rows over 5 000 docs). The candidate rule is the documented
    // recall contract: a reported pair shares ≥ 1 rare shingle, which
    // ≥0.95-cosine pairs do (their shared phrasing IS the rare end).
    // The verify arm scores candidates on the COMPLETE token vectors
    // (dot via one (doc, tok) equi-join back to the full tf frame,
    // norms over all tokens). The threshold is 0.95 — on a 31-token
    // vocabulary ALL prose looks alike in TF space (measured median
    // candidate cosine ≈ 0.70 at sf0.1), so near-dup semantics live
    // at the top of the range: 0.95 isolates exactly the planted
    // near-dup mass (~251 pairs at sf0.1, the winnow/minhash
    // ballpark). Arithmetic is EXACT integer end to end: BIGINT dot
    // and squared norms; cos ≥ 0.95 tested as cos²·10⁶ = dot²·10⁶
    // div (|a|²·|b|²) ≥ 902 500 — no sqrt, no float (the
    // hash-compare discipline). The materialized tf frame feeds the
    // dot join-back and the norms; the shingle frame feeds the df
    // filter and both candidate-join sides.
    // Per-source data card (X-156, the Datasheets-for-Datasets rollup —
    // Gebru et al. 2021, arXiv:1803.09010 — every curated-corpus
    // release ships one): the per-source summary a consumer reads
    // before training — volume (docs, tokens, chars), language spread
    // (distinct + majority with deterministic ties), quality (the
    // X-137 Gopher gate pass count, spliced from the SAME gopherBase/
    // gopherPreds the funnel uses so the two can't drift), and exact-
    // duplicate mass (docs minus distinct content hashes WITHIN the
    // source). All integer-exact: the mean-chars column is a ×100
    // fixed point, never a float division. Scale shape: ONE
    // materialized per-doc base feeds the per-source aggregate and
    // the per-(source, lang) majority window (partitioned on the
    // data-bound source key); everything downstream is
    // |sources|-bounded.
    "source_datacard" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Scratch.cut(
        gopherBase(s, d)
          .withColumn("pass",
            gopherPreds.reduce(_ && _).cast("long"))
          .select(col("doc_id"), col("source"), col("lang"), col("n"),
            col("n_chars"), md5(col("text")).as("th"), col("pass")))
      val agg = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n")).as("total_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("pass")).as("quality_pass"),
        (count(lit(1)) - countDistinct(col("th"))).as("n_exact_dup"))
        .withColumn("mean_chars_fx",
          expr("CAST(sum_chars * 100 DIV n_docs AS BIGINT)"))
      val top = base.groupBy("source", "lang").agg(count(lit(1)).as("n_l"))
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("n_l").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("n_l").as("top_lang_n"))
      agg.join(top, Seq("source"))
        .select("source", "n_docs", "n_langs", "total_tokens", "sum_chars",
          "mean_chars_fx", "quality_pass", "n_exact_dup",
          "top_lang", "top_lang_n")
        .orderBy("source")
    }),

    "tf_cosine_pairs" -> ((s, d) => {
      val DfCap = 8
      val tf = Scratch.cut(
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(tokens(norm(col("text")))).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
      val sh = Scratch.cut(
        Dedup.shingled(Tables.documents(s, d))
          .select(col("doc_id"), explode(col("ss")).as("sh")))
      val keep = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= DfCap)
        .select("sh")
      val rare = sh.join(keep, "sh")
      val cand = rare.as("x").join(rare.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val dots = cand
        .join(tf.select(col("doc_id").as("d1"), col("tok"), col("tf").as("tfa")), Seq("d1"))
        .join(tf.select(col("doc_id").as("d2"), col("tok"), col("tf").as("tfb")),
          Seq("d2", "tok"))
        .groupBy("d1", "d2")
        .agg(sum(col("tfa") * col("tfb")).as("dot"))
      val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
      dots
        .join(norms.select(col("doc_id").as("d1"), col("n2").as("na2")), "d1")
        .join(norms.select(col("doc_id").as("d2"), col("n2").as("nb2")), "d2")
        .withColumn("cos2_fx",
          expr("CAST(dot * dot * 1000000 DIV (na2 * nb2) AS BIGINT)"))
        .filter(col("cos2_fx") >= 902500L)
        .select("d1", "d2", "dot", "cos2_fx")
        .orderBy("d1", "d2")
    }),

    // Chi-squared discriminative vocabulary per language (X-83): the
    // feature-selection pass behind fastText-style domain/quality
    // classifiers (CCNet's filtering recipe) — which tokens most
    // separate one language's documents from the rest. Presence counts
    // (distinct tokens per doc) → per-(lang, token) 2×2 contingency
    // table → exact fixed-point χ²·10⁶ via DECIMAL(38,0) (the margins
    // multiply to n⁴ ≈ 10²⁴ at 10⁶ docs — far past a BIGINT — and the
    // numerator to ~10³⁶, inside both DECIMAL(38) and DuckDB's
    // HUGEINT). Tokens present in < 5 docs are noise-floored out;
    // tokens present in EVERY doc carry no signal and would divide by
    // zero, so both engines filter at < n. Top-5 per language through
    // the two-phase Rank pre-prune — never a per-language full sort —
    // with the vocabulary-sized frames joined by shuffle and only the
    // |langs|-row margins and 1-row total broadcast.
    "chi2_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pres = docs.select(col("lang"),
          explode(array_distinct(tokens(norm(col("text"))))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("a"))
      val tot = pres.groupBy("token").agg(sum(col("a")).as("at"))
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      val stats = docs.agg(count(lit(1)).as("n"))
      val x = pres.join(tot, "token")
        .join(broadcast(byLang), "lang")
        .crossJoin(broadcast(stats))
        .filter(col("at") >= 5 && col("at") < col("n"))
        .withColumn("b", col("at") - col("a"))
        .withColumn("c", col("nl") - col("a"))
        .withColumn("dd", col("n") - col("nl") - col("b"))
      val chi = x.select(col("lang"), col("token"), col("a").as("n_docs_lang"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * (a * dd - b * c) * (a * dd - b * c) * 1000000 " +
          "div (CAST(at AS DECIMAL(38,0)) * (n - at) * nl * (n - nl)) AS BIGINT)")
          .as("chi2_fx"),
        (col("a") * (col("n") - col("nl")) > col("b") * col("nl")).as("over_rep"))
      graft.operators.Rank
        .topKPerGroup(chi, 5, Seq("lang"),
          Seq(col("chi2_fx").desc, col("token")))
        .select("lang", "rk", "token", "n_docs_lang", "chi2_fx", "over_rep")
        .orderBy("lang", "rk")
    }),

    // Reciprocal-rank fusion (X-80, Cormack'09): combine two retrieval
    // rankings — BM25 and raw aggregate term frequency — by
    // Σ 1/(60 + rank), the standard fusion behind hybrid
    // lexical+semantic retrieval stacks. Both top-20 lists come from
    // the two-phase Rank pre-prune (never a full global sort of the
    // scored candidates); the fusion itself is an exact integer
    // ⌊10⁹/(60+rank)⌋ sum over a ≤ 2k-row full-outer join, so both
    // engines order ties identically. A doc ranked by only one arm
    // contributes only that arm's term — exactly RRF's behavior.
    "rrf_fusion" -> ((s, d) => {
      val K = 20
      def topRanks(df: DataFrame, ord: Column, rkName: String): DataFrame =
        graft.operators.Rank.topKPerGroup(df.withColumn("g", lit(0)), K,
            Seq("g"), Seq(ord, col("doc_id")), rkName)
          .select(col("doc_id"), col(rkName))
      // the lexical arm aggregates the SAME shared term-frequency
      // frame the bm25 arm consumes (one derivation, like the oracle's
      // shared tf CTE)
      val tfdoc = bmTermFreq(s, d)
        .groupBy("doc_id").agg(sum(col("tf")).as("tf"))
      val lex = topRanks(tfdoc, col("tf").desc, "tf_rank")
      val bm = topRanks(bm25Frame(s, d).select("doc_id", "score_fx"),
        col("score_fx").desc, "bm25_rank")
      // Both ranks are full-outer sides, so nullable. Said explicitly
      // because an empty result has been written with `tf_rank` NOT NULL
      // in some runs; the likely cause is AQE folding the join into
      // whichever arm it finds empty first, which keeps that arm's NOT
      // NULL rank column.
      def nullableRank(c: String): Column = {
        import org.apache.spark.sql.GraftColumnBridge.{column, expression}
        column(org.apache.spark.sql.catalyst.expressions.KnownNullable(expression(col(c)))).as(c)
      }
      bm.join(lex, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), nullableRank("bm25_rank"), nullableRank("tf_rank"))
        .withColumn("rrf_fx",
          coalesce(expr("1000000000 div (60 + bm25_rank)").cast("long"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + tf_rank)").cast("long"), lit(0L)))
        .withColumn("rrf", col("rrf_fx").cast("double") / 1000000000L)
        .select("doc_id", "bm25_rank", "tf_rank", "rrf_fx", "rrf")
        .orderBy(col("rrf_fx").desc, col("doc_id"))
    }),

    // The training-data capstone: compose quality scoring, language-ID,
    // near-dup clustering, and deterministic sampling into the
    // "training-ready subset" selection a pretraining corpus runs —
    // keep docs that score above 'poor', guess as English, are the
    // canonical member of their dedup cluster, and fall in the sample.
    // [Bench-accounting: re-derives the shared pairs+CC lineage from the
    // corpus because registry entries are standalone; production composes
    // from ONE persisted artifact — the REGISTERED X-159 `dedup_family`
    // capstone, measured ~2.9× cheaper than the sum of its parts.]
    "training_subset" -> ((s, d) => {
      import graft.operators.Dedup
      val docs = Tables.documents(s, d)
      // Tokenize ONCE: the quality arm (counts/lang/score) and the
      // dedup arm (shingles → prefix-filtered pairs → components) both
      // derive from this materialized token base — without it each arm
      // re-runs the scan + regex tokenization on its own lineage.
      val base = Scratch.cut(
        docs.withColumn("toks", tokens(norm(col("text")))).select("doc_id", "toks"))
      val q = base
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          occurrences(col("toks"), LangProfiles.head._2).as("stop_hits"),
          langGuess(col("toks")).as("lang_guess"))
        .withColumn("score",
          qualityScore(col("n_tokens"), col("n_distinct"), col("stop_hits")))
        .withColumn("grade", grade(col("score")))
      val sized = Scratch.cut(
        base.withColumn("ss", Dedup.shingles(col("toks"), 3))
          .select(col("doc_id"), col("ss"), size(col("ss")).as("n")))
      val nonCanonical = DedupQueries.jaccardRemoved(Dedup
        .connectedComponents(Dedup.jaccardPairsSized(sized, 0.5).select("d1", "d2")))
      q.join(nonCanonical, Seq("doc_id"), "left_anti")
        .filter(col("grade") =!= "poor" && col("lang_guess") === "en" &&
          sampleBucket(col("doc_id"), "subset") < 50)
        .select("doc_id", "n_tokens", "score", "grade")
        .orderBy("doc_id")
    }),

    // Sequence packing (concat-and-chunk): token streams concatenated
    // in doc_id order and cut at a fixed 2048-token boundary — each
    // document gets the training-chunk id where it STARTS and its
    // offset within that chunk (the packing a pretraining loader
    // performs). Packing strata are (lang, shard), NOT lang alone: a
    // running total is inherently sequential within its stratum, so a
    // per-language window would funnel each language's entire corpus
    // through one task at scale. Sharding by a doc_id hash gives every
    // stratum an independent stream that packs in parallel — the same
    // recipe distributed loaders use — and chunk ids are shard-local by
    // construction.
    "sequence_pack" -> ((s, d) =>
      packedLocal(s, d)
        .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
          col("local_seq").as("seq_id"), col("seq_offset"))
        .orderBy("doc_id")),

    // sequence_pack with GLOBALLY contiguous chunk ids — what a real
    // loader emits. A second pass over the per-stratum chunk counts (a
    // tiny frame: |langs| × 8 shards rows) computes prefix offsets via
    // an unpartitioned running sum — safe precisely because the frame
    // is stratum-cardinality, not row-cardinality — and a broadcast
    // join adds each stratum's offset to its shard-local ids. The big
    // frame is touched once more by a broadcast hash join: no extra
    // shuffle of the corpus.
    "sequence_pack_global" -> ((s, d) => {
      val local = packedLocal(s, d)
      val wOff = Window.orderBy("lang", "shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = local.groupBy("lang", "shard")
        .agg(ceil(sum(col("n_tokens")) / lit(PackT.toDouble)).as("n_chunks"))
        .withColumn("chunk_off", coalesce(sum(col("n_chunks")).over(wOff), lit(0L)))
        .select("lang", "shard", "chunk_off")
      local.join(broadcast(offsets), Seq("lang", "shard"))
        .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
          (col("chunk_off") + col("local_seq")).as("seq_id"), col("seq_offset"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: flag training documents that share a
    // 5-gram shingle with the held-out "benchmark" slice (doc_id % 10
    // = 0 plays the eval set). The benchmark side carries NO broadcast
    // hint: a REAL eval set (a fixed benchmark) is tiny and AQE
    // broadcasts it adaptively for the map-side hash probe, but THIS
    // synthesis derives the eval slice from the corpus itself (10% of
    // it), so a hint would force a corpus-proportional frame to every
    // executor at scale — the doc_lm_score vocabulary rule: bounded by
    // observation, never by hope.
    "decontaminate" -> ((s, d) => {
      val e = Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
        .select(col("doc_id"),
          explode(array_distinct(ngrams(col("toks"), 5))).as("s"))
      val bench = e.filter(col("doc_id") % 10 === 0).select("s").distinct()
      e.filter(col("doc_id") % 10 =!= 0)
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),

    // Intra-document repetition stats (the Gopher-style repetition
    // filters a pretraining cleanup pass runs): most-frequent-token
    // mass fraction and duplicate-bigram fraction, with a composite
    // flag. Token mass via explode → two-level agg (map-side partial
    // combine); bigram dup fraction is a pure narrow map on the token
    // array — no shuffle. Fractions are single IEEE divisions of exact
    // ints, so both engines derive identical doubles.
    "repetition_stats" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
      val tokMass = base
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg((max(col("n")).cast("double") / sum(col("n")).cast("double"))
          .as("top_token_frac"))
      val bigramDup = base
        .withColumn("bgs", ngrams(col("toks"), 2))
        .select(col("doc_id"),
          when(size(col("bgs")) > 0,
            lit(1.0) - size(array_distinct(col("bgs"))).cast("double") /
              size(col("bgs")).cast("double"))
            .otherwise(0.0).as("dup_bigram_frac"))
      tokMass.join(bigramDup, "doc_id")
        .withColumn("flagged",
          col("top_token_frac") > 0.2 || col("dup_bigram_frac") > 0.5)
        .orderBy("doc_id")
    }),

    // PII scrub: redact email-shaped tokens (the one PII class this
    // corpus can carry) and report the redaction count plus a hash of
    // the scrubbed text — pure per-row codegen'd expressions.
    "pii_scrub" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit(graft.operators.Extraction.emailPattern), lit(0))).as("n_emails"),
          md5(regexp_replace(col("text"),
            graft.operators.Extraction.emailPattern, "[EMAIL]")).as("scrubbed_hash"))
        .orderBy("doc_id")),

    // Order-sensitive rolling-hash fingerprint per document.
    "doc_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          fingerprint(col("toks")).as("fp"))
        .orderBy("doc_id")),

    // Fixed-window document chunking with overlap (the context-window
    // splitter RAG indexing and long-doc pretraining both run before
    // embedding/packing): each doc explodes into ⌈max(n−W,0)/S⌉+1
    // chunks of ≤ W tokens at stride S (= W − overlap), each chunk
    // carrying its rolling fingerprint for downstream chunk-level
    // dedup. Shape (r11 megadoc rewrite): posexplode tokens, then ONE
    // (doc, chunk) groupBy reassembles each chunk — the shuffle is the
    // accepted price for never copying the full token array into every
    // exploded row (the explode-then-slice form streams O(len²/S) bytes
    // through a single task on a long doc); exponent 1.00 at 20×.
    // The W/S arithmetic is exact integers in both engines.
    // W=24/S=18 is sized to the synthetic ~55-token docs (a production
    // corpus runs 512/448 — only the constants change).
    "chunk_documents" -> ((s, d) => {
      val W = 24; val S = 18
      Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
        .withColumn("n", size(col("toks")))
        .withColumn("n_chunks",
          (lit(1) + floor((greatest(col("n") - W, lit(0)) + lit(S - 1)) /
            lit(S.toDouble))).cast("int"))
        // posexplode tokens, emit each token's ≤ ⌈W/S⌉ covering chunk
        // ids, rebuild chunks in a (doc_id, chunk_id) aggregate — the
        // exact shape of the oracle (see paraChunks in DedupQueries
        // for the two rejected per-chunk-slice forms, both O(len²)
        // megadoc pathologies). 0-based pos p covers chunks
        // ⌈(p+1−W)/S⌉ = ⌊(p−(W−S))/S⌋ .. ⌊p/S⌋, clamped to
        // [0, n_chunks). `div` truncates while the identity needs
        // floor, but the operand floor (p−(W−S)) ≥ −(W−S) keeps the
        // two apart only on values the greatest(…,0) clamp absorbs.
        // fingerprint() runs per GROUP on the order-restored ≤ W-token
        // chunk — shared with doc_fingerprint, so the fold cannot
        // drift.
        .select(col("doc_id"), col("n_chunks"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
        .withColumn("chunk_id", explode(sequence(
          greatest(expr(s"(pos - ${W - S}) div $S").cast("int"), lit(0)),
          least(expr(s"pos div $S").cast("int"), col("n_chunks") - 1))))
        .groupBy("doc_id", "chunk_id")
        .agg(count(lit(1)).cast("int").as("chunk_len"),
          fingerprint(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("chunk_fp"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * S + 1).as("start_tok"),
          col("chunk_len"), col("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Corpus drift: per-source L1 distance between the source's token
    // distribution and the REST of the corpus (leave-one-out) — the
    // slice-divergence monitor a training pipeline runs when a new
    // crawl/source lands. Leave-one-out keeps the work linear in
    // sources (pairwise drift is quadratic in the slice count and
    // answers a question nobody asked). The whole statistic is exact
    // 64-bit integer arithmetic: with c = count(token, source),
    // C = count(token, corpus), n₁ = tokens(source), n₂ = N − n₁,
    //   Σₜ |p_src(t) − p_rest(t)| = (Σ_{t∈src} |c·n₂ − (C−c)·n₁|
    //     + n₁·(N − Σ_{t∈src} C)) / (n₁·n₂)
    // — the second term collapses every token ABSENT from the source
    // into one closed form, so only an inner join on token is ever
    // built (no full-outer over the vocabulary). One shuffle keyed on
    // (source, token), one on token for corpus totals; the per-source
    // totals and the 1-row grand total are broadcast. Products stay
    // < 2⁶³ up to ~10⁹-token slices; a 100 TB deployment widens the
    // two product terms to DECIMAL(38,0) — same plan shape.
    "corpus_drift_l1" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"), explode(tokens(norm(col("text")))).as("token"))
        .groupBy("source", "token")
        .agg(count(lit(1)).as("c"))
      val srcTot = counts.groupBy("source").agg(sum(col("c")).as("n_src"))
      val tokTot = counts.groupBy("token").agg(sum(col("c")).as("c_tot"))
      val grand = srcTot.agg(sum(col("n_src")).as("n_all"))
      counts
        .join(tokTot, "token")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(grand))
        .groupBy("source")
        .agg(max(col("n_src")).as("n_src"), max(col("n_all")).as("n_all"),
          sum(abs(col("c") * (col("n_all") - col("n_src")) -
            (col("c_tot") - col("c")) * col("n_src"))).as("shared_num"),
          sum(col("c_tot")).as("cov"))
        .withColumn("l1_num",
          col("shared_num") + (col("n_all") - col("cov")) * col("n_src"))
        .withColumn("l1", col("l1_num").cast("double") /
          (col("n_src").cast("double") *
            (col("n_all") - col("n_src")).cast("double")))
        .select("source", "n_src", "l1_num", "l1")
        .orderBy("source")
    }),

    // X-171: two-sample Kolmogorov–Smirnov drift test between every
    // pair of corpus sources over the doc-length (n_chars)
    // distribution — the ORDERED-STATISTIC member of the drift family
    // (corpus_drift_l1 compares token histograms pointwise and is
    // blind to shape shifts that preserve mass; KS reads the ECDFs and
    // catches them). Everything is EXACT integer: the ECDF difference
    // at a grid value v is |c1(v)·n2 − c2(v)·n1| over the common
    // denominator n1·n2, the statistic is the max of those numerators,
    // and the α=0.05 decision D > 1.358·√((n1+n2)/(n1·n2)) is squared
    // into d²·10⁶ > 1844164·(n1+n2)·n1·n2 (c² = 1.844164) with
    // DECIMAL(38,0) multiplies — exact through n1·n2 ≲ 10¹⁶; past
    // that a deployment buckets lengths first (only the grid changes).
    // Scale shape: ONE corpus-linear (source, v) count aggregate; the
    // grid (|sources| × |distinct lengths|), cumulative window, pair
    // self-join, and totals all run on BOUNDED frames (sources are a
    // catalog constant, lengths sit in the corpus's doc-length band) —
    // the window never touches a corpus-sized frame. Output
    // |sources|²/2 rows. At sf0.001/sf0.1 the 0.05 gate genuinely
    // splits: 6/190 and 18/190 pairs reject, so both flag arms are
    // exercised at every scale.
    "ks_drift" -> ((s, d) => {
      // materialized: the one corpus-linear aggregate feeds srcs, vals,
      // tot, the grid fill, and (through cum) BOTH sides of the pair
      // self-join — unmaterialized each consumer re-embeds the scan
      val cnt = Scratch.cut(Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("v"))
        .groupBy("source", "v").agg(count(lit(1)).as("c")))
      val srcs = cnt.select("source").distinct()
      val vals = cnt.select("v").distinct()
      val tot = cnt.groupBy("source").agg(sum(col("c")).as("n"))
      val grid = broadcast(srcs).crossJoin(vals)
        .join(cnt, Seq("source", "v"), "left")
        .na.fill(0L, Seq("c"))
      val cum = grid.withColumn("cum",
        sum(col("c")).over(Window.partitionBy("source").orderBy("v")))
      cum.as("a").join(cum.as("b"),
          col("a.v") === col("b.v") && col("a.source") < col("b.source"))
        .select(col("a.source").as("s1"), col("b.source").as("s2"),
          col("a.cum").as("c1"), col("b.cum").as("c2"))
        .join(broadcast(tot).as("t1"), col("s1") === col("t1.source"))
        .join(broadcast(tot).as("t2"), col("s2") === col("t2.source"))
        .select(col("s1"), col("s2"),
          col("t1.n").as("n1"), col("t2.n").as("n2"),
          abs(col("c1") * col("t2.n") - col("c2") * col("t1.n")).as("num"))
        .groupBy("s1", "s2", "n1", "n2")
        .agg(max(col("num")).as("d_num"))
        // DECIMAL(38,0) before the ×10⁶: a BIGINT multiply would wrap
        // silently past n1·n2 ≈ 9.2e12 (Spark non-ANSI) while DuckDB
        // errors — the one divergence class the reject_05 DECIMAL path
        // already guards against. DIV on decimals is an exact BigDecimal
        // quotient returning LongType, so the result column type is
        // unchanged.
        .withColumn("ks_x1e6",
          expr("CAST(d_num AS DECIMAL(38,0)) * 1000000 DIV (CAST(n1 AS DECIMAL(38,0)) * n2)"))
        .withColumn("reject_05",
          expr("""CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000
                 | > CAST(1844164 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2"""
            .stripMargin))
        .select("s1", "s2", "n1", "n2", "d_num", "ks_x1e6", "reject_05")
        .orderBy("s1", "s2")
    }),

    // Cross-source contamination matrix (X-72): for every pair of
    // corpus sources, how many distinct 3-shingles they share, plus
    // the shingle-set Jaccard — the between-slice counterpart of
    // corpus_drift_l1 (distribution drift) and decontaminate (corpus
    // vs eval set): it localizes WHICH crawls/feeds are duplicating
    // each other before any doc-level dedup runs. Shape: one distinct
    // (source, shingle) aggregation, then sources-per-shingle lists —
    // bounded by |sources| (a catalog constant, ~20 here), so the
    // in-list pair expansion is ≤ |sources|²/2 structs per row, NEVER
    // corpus-sized (the guarantee the X-7 inverted index gets from
    // prefix+df bounds, here free by construction) — then one
    // (s1, s2) count aggregation over ≤ |sources|²/2 keys. The
    // per-source set sizes are a |sources|-row broadcast.
    "source_overlap" -> ((s, d) => {
      val ss = Tables.documents(s, d)
        .select(col("source"),
          explode(Dedup.shingles(tokens(norm(col("text"))), 3)).as("sh"))
        .distinct()
      val sizes = ss.groupBy("source").agg(count(lit(1)).as("n_sh"))
      val pairs = ss.groupBy("sh")
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .select(explode(flatten(transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + 2, size(col("srcs"))), b =>
            struct(a.as("s1"), b.as("s2")))))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(count(lit(1)).as("common"))
      pairs
        .join(broadcast(sizes.withColumnRenamed("source", "s1")
          .withColumnRenamed("n_sh", "n1")), "s1")
        .join(broadcast(sizes.withColumnRenamed("source", "s2")
          .withColumnRenamed("n_sh", "n2")), "s2")
        .withColumn("jac", col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
        .select("s1", "s2", "common", "n1", "n2", "jac")
        .orderBy("s1", "s2")
    }),

    // Weighted corpus mixing (X-68): replicate each document according
    // to its source's sampling weight — whole epochs from ⌊w⌋ plus one
    // more copy with probability frac(w), drawn from a deterministic
    // md5 hash bucket (never rand(): reruns, retries, and partition
    // reshuffles must emit the identical mixture). This is the LLM
    // data-mixture step — upsample curated sources, downsample bulk
    // crawl — with weights in exact tenths (0.5×..2.5×) derived from
    // the source id so both engines compute the rule from the row
    // alone. Pure narrow generator: per-row fan-out bounded by
    // ⌈max weight⌉, no shuffle anywhere but the sink sort; at 100 TB
    // this is a map-only pass whose output feeds sequence packing
    // (X-38/X-50) directly.
    "corpus_mix" -> ((s, d) =>
      Tables.documents(s, d)
        // digit-suffix extraction, TOTAL on any source format: the
        // empty no-match string is nulled BEFORE the cast (ANSI mode
        // throws on CAST('' AS BIGINT)), so a non-'srcN' source yields
        // null weight → zero copies in BOTH engines (the oracle
        // TRY_CASTs the same regex)
        .withColumn("__digits", regexp_extract(col("source"), "([0-9]+)$", 1))
        .withColumn("w10",
          (lit(5) + when(col("__digits") === "", lit(null))
            .otherwise(col("__digits")).cast("long") % 5 * 5).cast("int"))
        .withColumn("bucket", sampleBucket(col("doc_id"), "graft-mix"))
        .withColumn("copies",
          (floor(col("w10") / lit(10.0)).cast("int") +
            when(col("bucket") < (col("w10") % 10) * 10, 1).otherwise(0)))
        .select(col("doc_id"), col("source"), col("w10"),
          explode(when(col("copies") > 0, sequence(lit(0), col("copies") - 1))
            .otherwise(array().cast("array<int>"))).as("epoch"))
        .orderBy("doc_id", "epoch")),

    // Inverted-index postings build (X-88): the search-index artifact —
    // per token: document frequency, the SORTED posting list reduced to
    // its delta-gap statistics, and an order-sensitive fingerprint of
    // the gap sequence (gaps, not absolute ids, are what varint /
    // PForDelta compression works on — the fingerprint pins the exact
    // compressed stream both engines would emit). df-banded to
    // [2, 100]: singletons retrieve nothing, and stopword-grade lists
    // (df > cap) are exactly what a real builder shards into skip-list
    // segments instead of one row — the substring_dup_spans DfCap
    // discipline applied to index building, which also bounds every
    // collect_list at 100 elements (no aggregation-row skew). Gaps via
    // zip_with of shifted slices, never element_at indexing inside a
    // lambda (the shingles O(n²) CollapseProject hazard).
    "build_postings" -> ((s, d) => {
      val e = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(tokens(norm(col("text"))))).as("token"))
      val dfq = e.groupBy("token").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 100)
      e.join(dfq, "token")
        .groupBy("token")
        .agg(max(col("df")).as("df"),
          sort_array(collect_list(col("doc_id"))).as("ps"))
        .withColumn("gaps", zip_with(
          expr("slice(ps, 2, size(ps) - 1)"),
          expr("slice(ps, 1, size(ps) - 1)"),
          (a, b) => a - b))
        .select(col("token"), col("df"),
          element_at(col("ps"), 1).as("min_doc"),
          element_at(col("ps"), -1).as("max_doc"),
          array_max(col("gaps")).as("max_gap"),
          aggregate(col("gaps"), lit(0L),
            (acc, g) => (acc * 31 + g) % lit(1000000007L)).as("gap_fp"))
        .orderBy("token")
    }),

    // Temperature-balanced language sampling (X-85, the mBERT/XLM-R
    // multilingual recipe): sampling mass per language ∝ (n_l/N)^α
    // with α = 0.5 — upsample the tail so low-resource languages are
    // seen, downsample the head so the biggest one doesn't dominate.
    // The smoothing runs on the |langs|-row margin frame with
    // INTEGER sqrt (⌊√n_l⌋: IEEE sqrt of an exact integer, floored —
    // bit-identical in both engines, and the cross-language
    // normalizer Σ⌊√n⌋ stays an exact integer where a float sum
    // would be order-dependent). Per-document realized copies then
    // draw against the derived boost with the corpus_mix md5
    // mechanics (percent granularity), so the output is the realized
    // per-language copy mass next to the target boost — derived
    // weights where corpus_mix takes given ones. DECIMAL(38,0)
    // carries ⌊√n⌋·N·10⁶ (≈10²¹ at 10¹⁰ docs — past BIGINT).
    "temperature_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang")
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("isqrt",
          floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      val tot = byLang.agg(sum(col("n_docs")).as("n_total"),
        sum(col("isqrt")).as("sum_isqrt"))
      val params = byLang.crossJoin(broadcast(tot))
        .withColumn("boost_fx", expr(
          "CAST(CAST(isqrt AS DECIMAL(38,0)) * n_total * 1000000 " +
            "div (CAST(sum_isqrt AS DECIMAL(38,0)) * n_docs) AS BIGINT)"))
      docs.join(broadcast(params), "lang")
        .withColumn("bucket", sampleBucket(col("doc_id"), "graft-temp"))
        .withColumn("copies", expr("boost_fx div 1000000") +
          when(col("bucket") < expr("(boost_fx % 1000000) div 10000"), 1L)
            .otherwise(0L))
        .groupBy("lang")
        .agg(max(col("n_docs")).as("n_docs"),
          max(col("boost_fx")).as("boost_fx"),
          sum(col("copies")).as("n_copies"))
        .withColumn("boost", col("boost_fx").cast("double") / lit(1e6))
        .select("lang", "n_docs", "boost_fx", "boost", "n_copies")
        .orderBy("lang")
    }),

    // Feature hashing (X-69, the "hashing trick"): project the
    // unbounded token vocabulary onto a fixed 64-dimension space,
    // bucket = hash mod 64, with the collision-canceling ±1 sign drawn
    // from an independent hash bit (Weinberger'09) — the featurizer
    // behind large-scale linear/quality classifiers where a learned
    // vocabulary would itself be a 100 TB-scale artifact. Shape: one
    // explode + one (doc, bucket) hash aggregation whose partial phase
    // collapses each task to ≤ 64 rows per document — the output is
    // fixed-width per document no matter how the vocabulary grows.
    "hashed_features" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(norm(col("text")))).as("token"))
        .withColumn("h", tokenHash(col("token")))
        .groupBy(col("doc_id"), (col("h") % 64).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_tok"),
          sum(lit(1) - lit(2) * (floor(col("h") / lit(64.0)).cast("long") % 2))
            .as("feat"))
        .orderBy("doc_id", "bucket")),

    // X-169: model-based quality-filter INFERENCE (classifier_filter)
    // — the missing member of the CCNet-style curation stage (features
    // X-69, heuristic selection X-83/95, rule gates X-137): score every
    // document with the frozen linear head [[ClfWeights]] over the X-69
    // hashed-feature space and gate on the margin, reported funnel-
    // style (the X-137 shape). Inference is exact fixed point:
    // margin_fx = Σ_token sign(token)·w[bucket(token)] — ONE explode +
    // ONE doc-keyed hash aggregate and NO join at all (the head rides
    // as a 64-element literal array; inference cost at any corpus size
    // is one map-side pass + the per-doc reduce — exactly how a linear
    // quality filter stays viable at 100 TB). Stage gates, all exact
    // integer arithmetic (multiplied through, never divided):
    //   1 has_tokens       n_tok > 0 (vacuous on this corpus — the
    //                      funnel's honest n_in baseline);
    //   2 margin_positive  margin_fx > 0;
    //   3 margin_strong    mean per-token margin ≥ 0.05 weight units
    //                      (margin_fx·20 ≥ n_tok·10⁶).
    // Output: kind='doc' per-document inference rows (the hard oracle
    // signal covers every margin) + kind='stage' the cumulative funnel
    // with per-rule n_in/n_fail/n_out/n_fail_alone.
    "classifier_filter" -> ((s, d) => {
      val w = typedLit(ClfWeights)
      val scoredT = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(norm(col("text")))).as("token"))
        .withColumn("h", tokenHash(col("token")))
        .withColumn("sgn",
          lit(1L) - lit(2L) * (floor(col("h") / lit(64.0)).cast("long") % 2))
        .withColumn("wb", element_at(w, (col("h") % 64).cast("int") + 1))
      // left join back from documents: a zero-token document must appear
      // with margin 0 and fail rule 1, not vanish from the funnel
      val perDoc = Tables.documents(s, d).select("doc_id")
        .join(scoredT.groupBy("doc_id")
            .agg(count(lit(1)).as("n_tok"),
              sum(col("sgn") * col("wb")).as("margin_fx")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          coalesce(col("margin_fx"), lit(0L)).as("margin_fx"))
      val preds = Seq(
        col("n_tok") > 0,
        col("margin_fx") > 0,
        col("margin_fx") * lit(20L) >= col("n_tok") * lit(1000000L))
      val names = Seq("has_tokens", "margin_positive", "margin_strong")
      val docSec = perDoc.withColumn("selected", preds.reduce(_ && _))
      val cum = preds.scanLeft(lit(true))(_ && _).drop(1)
      val agg = perDoc.agg(
        count(lit(1)).as("s0"),
        (cum.zipWithIndex.map { case (c, i) =>
          sum(when(c, 1L).otherwise(0L)).as(s"s${i + 1}")
        } ++ preds.zipWithIndex.map { case (c, i) =>
          sum(when(!c, 1L).otherwise(0L)).as(s"a${i + 1}")
        }): _*)
      val stageSec = agg.select(explode(array(
        names.zipWithIndex.map { case (name, i) =>
          struct(lit(i + 1).as("rule_id"), lit(name).as("rule"),
            col(s"s$i").as("n_in"),
            (col(s"s$i") - col(s"s${i + 1}")).as("n_fail"),
            col(s"s${i + 1}").as("n_out"),
            col(s"a${i + 1}").as("n_fail_alone"))
        }: _*)).as("r"))
        .select("r.*")
      val nL = lit(null).cast("long"); val nI = lit(null).cast("int")
      val nS = lit(null).cast("string"); val nB = lit(null).cast("boolean")
      docSec.select(lit("doc").as("kind"), col("doc_id"), col("n_tok"),
          col("margin_fx"), col("selected"), nI.as("rule_id"), nS.as("rule"),
          nL.as("n_in"), nL.as("n_fail"), nL.as("n_out"), nL.as("n_fail_alone"))
        .unionByName(stageSec.select(lit("stage").as("kind"), nL.as("doc_id"),
          nL.as("n_tok"), nL.as("margin_fx"), nB.as("selected"), col("rule_id"),
          col("rule"), col("n_in"), col("n_fail"), col("n_out"),
          col("n_fail_alone")))
        .orderBy(col("kind"), coalesce(col("doc_id"), lit(-1L)),
          coalesce(col("rule_id"), lit(-1)))
    }),

    // Targeted-domain data selection (X-95, the DSIR/importance-
    // sampling shape — Xie et al. '23): score every document by how
    // much of it leans toward a target domain's token distribution
    // (here lang='en' stands in for "high-quality target corpus").
    // Each token gets a ±1 weight by exact integer cross-
    // multiplication of its target vs out-of-domain relative
    // frequency (cnt_t·tot_s ⋛ cnt_s·tot_t in DECIMAL(38) — no
    // division, no logs; ln() is libm-dependent and not bit-identical
    // across engines, and the sign of the log-ratio IS this sign).
    // Per-doc score = over-represented-token fraction in 1e6 fixed
    // point; selected = strictly more over- than under-represented
    // tokens. HONEST corpus note (measured): this synthetic corpus
    // draws every language from ONE shared vocabulary — max relative-
    // frequency ratio ≈ 1.17×, pure sampling noise — so an absolute
    // ratio threshold (DSIR's 2×) never fires here; the sign form
    // keeps the exact same two-aggregate + shuffle-join plan while
    // producing a non-degenerate selection to verify against. All
    // integer divisions are kept NON-NEGATIVE: Spark `div` truncates
    // toward zero while DuckDB `//` floors, so a negative numerator
    // would silently diverge between engine and oracle. Scale shape:
    // two token hash-aggregates + ONE shuffle join of the exploded
    // corpus against the weighted vocabulary — which grows with the
    // corpus, so it is never broadcast-hinted (doc_lm_score's rule);
    // only the 1-row domain-totals frame is hinted.
    "domain_select" -> ((s, d) => {
      val e = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(tokens(norm(col("text")))).as("token"))
      val dom = e.groupBy("token").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_t"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cnt_s"))
      val lhs = expr("CAST(cnt_t AS DECIMAL(38,0)) * tot_s")
      val rhs = expr("CAST(cnt_s AS DECIMAL(38,0)) * tot_t")
      val tot = dom.agg(sum(col("cnt_t")).as("tot_t"), sum(col("cnt_s")).as("tot_s"))
      val w = dom.crossJoin(broadcast(tot))
        .select(col("token"),
          when(lhs > rhs, 1L).otherwise(0L).as("over"),
          when(lhs < rhs, 1L).otherwise(0L).as("under"))
      // inner join is total: every corpus token is in `dom` by construction
      e.join(w, Seq("token"))
        .groupBy("doc_id")
        .agg(first(col("lang")).as("lang"),
          count(lit(1)).as("n_tok"),
          sum(col("over")).as("n_over"),
          sum(col("under")).as("n_under"))
        .withColumn("score_fx",
          expr("CAST(CAST(n_over AS DECIMAL(24,0)) * 1000000 div n_tok AS BIGINT)"))
        .withColumn("selected", col("n_over") > col("n_under"))
        .orderBy("doc_id")
    }),

    // Corpus-driven stopword strip with document reconstruction
    // (X-96): drop the 3 highest-document-frequency tokens (ties
    // broken on the token) and rebuild each document's text in
    // original token order — the cleaning pass that has to PRESERVE
    // ORDER, which is what makes it non-trivial distributed: position
    // captured at explode time, removal by join, reconstruction by
    // per-doc sort of the kept (pos, token) pairs (collect_list skips
    // the nulled-out stopwords; array_sort on the struct orders by
    // pos, which is unique per doc — deterministic). The stopword
    // frame is k-bounded by construction (top-3 through the two-phase
    // Rank pre-prune, no global sort) → legitimately broadcast; the
    // df aggregate itself is vocabulary-sized and never hinted.
    "stopword_strip" -> ((s, d) => {
      val e = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens(norm(col("text")))))
        .withColumnRenamed("col", "token")
      val df = e.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      val stop = graft.operators.Rank.topKPerGroup(df.withColumn("g", lit(0)), 3,
          Seq("g"), Seq(col("df").desc, col("token")))
        .select(col("token"), lit(1L).as("is_stop"))
      e.join(broadcast(stop), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(sum(when(col("is_stop").isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("is_stop").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          concat_ws(" ", transform(array_sort(collect_list(
              when(col("is_stop").isNull, struct(col("pos"), col("token"))))),
            x => x("token"))).as("clean_text"))
        .orderBy("doc_id")
    }),

    // Next-token conditional table (X-128): for the 20 highest-df
    // context tokens, the top-3 next tokens with exact fixed-point
    // conditional probability — the bigram-LM / autocomplete table a
    // corpus build materializes. Every ranking runs through the
    // two-phase Rank pre-prune (context top-20 on the unigram frame,
    // next-token top-3 per context on the bigram frame — both
    // data-bound keys, no global sort); the 20-row context frame is
    // k-bounded by construction (legitimately broadcast), while the
    // per-context totals join stays a shuffle join on the context key.
    "next_token_topk" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(tokens(norm(col("text"))).as("t"))
      val pairs = toks
        .select(explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
            "(a, b) -> struct(a AS ctx, b AS nxt))")).as("p"))
        .select(col("p.ctx").as("ctx"), col("p.nxt").as("nxt"))
      val counts = pairs.groupBy("ctx", "nxt").agg(count(lit(1)).as("cnt"))
      val topCtx = graft.operators.Rank.topKPerGroup(
          toks.select(explode(col("t")).as("ctx"))
            .groupBy("ctx").agg(count(lit(1)).as("uc"))
            .withColumn("g", lit(0)), 20,
          Seq("g"), Seq(col("uc").desc, col("ctx")))
        .select("ctx")
      val inTop = counts.join(broadcast(topCtx), "ctx")
      val totals = inTop.groupBy("ctx").agg(sum(col("cnt")).as("n_ctx"))
      graft.operators.Rank.topKPerGroup(inTop, 3,
          Seq("ctx"), Seq(col("cnt").desc, col("nxt")))
        .join(totals, "ctx")
        .select(col("ctx"), col("rk").cast("long").as("rk"), col("nxt"),
          col("cnt"), expr("CAST(cnt * 1000000 div n_ctx AS BIGINT)").as("p_fx"))
        .orderBy("ctx", "rk")
    }),

    // Quality/length Pareto frontier (X-115): the skyline of documents
    // no other document beats on BOTH axes (fewer-or-equal tokens AND
    // higher-or-equal quality, strictly better on one) — the
    // data-selection curve that answers "best attainable quality at
    // every token budget" without fixing the budget first. Distributed
    // shape: skyline membership only ever depends on the best quality
    // at each length, so (1) ONE hash aggregate reduces the corpus to
    // per-length maxima — a frame bounded by the token-count VALUE
    // DOMAIN (max document length), not the corpus; (2) the frontier
    // lengths fall out of a running strictly-shorter max over that
    // tiny frame (unpartitioned RANGE window, allowlisted with the
    // domain bound); (3) one join back tags the surviving documents.
    // The quality score is the proven-bit-identical text_quality
    // double, and max() over doubles is order-independent, so the
    // frontier is hash-exact. Equal (length, quality) points tie on
    // the frontier and are all kept — standard skyline semantics.
    "pareto_docs" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("toks", tokens(norm(col("text"))))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          occurrences(col("toks"), LangProfiles.head._2).as("stop_hits"))
        .withColumn("quality",
          qualityScore(col("n_tokens"), col("n_distinct"), col("stop_hits")))
        .select("doc_id", "n_tokens", "quality")
      val perLen = base.groupBy("n_tokens").agg(max(col("quality")).as("qmax"))
      val frontier = perLen
        .withColumn("best_shorter", max(col("qmax")).over(
          Window.orderBy("n_tokens").rangeBetween(Window.unboundedPreceding, -1)))
        .filter(col("best_shorter").isNull || col("qmax") > col("best_shorter"))
        .select(col("n_tokens").as("f_tokens"), col("qmax"))
      base.join(broadcast(frontier),
          col("n_tokens") === col("f_tokens") && col("quality") === col("qmax"))
        .select("doc_id", "n_tokens", "quality")
        .orderBy("n_tokens", "doc_id")
    }),

    // X-137: Gopher-style quality-rule FUNNEL (Rae et al. 2021,
    // arXiv:2112.11446 §A1.1) — the ordered rule cascade every
    // pretraining corpus passes through, reported as a funnel: per rule,
    // how many docs entered, failed, and survived (cumulative), plus
    // each rule's standalone failure count. Thresholds are the paper's
    // rule SHAPES calibrated to this corpus (word-count band, mean-
    // word-length band, type-token ratio, stopword containment). Every
    // comparison is INTEGER-exact (mean length as totlen vs 3n..5n,
    // TTR as 10·distinct vs 3·n — no float division anywhere), and the
    // output is five rows of counts. Scale shape: one narrow map over
    // the scan + one partial-aggregated global fold; the funnel explode
    // runs on a 1-row frame.
    "gopher_rules" -> ((s, d) => {
      val base = gopherBase(s, d)
      val p = gopherPreds
      val cum = p.scanLeft(lit(true))(_ && _).drop(1)  // rule k AND all before
      val agg = base.agg(
        count(lit(1)).as("s0"),
        (cum.zipWithIndex.map { case (c, i) =>
          sum(when(c, 1L).otherwise(0L)).as(s"s${i + 1}")
        } ++ p.zipWithIndex.map { case (c, i) =>
          sum(when(!c, 1L).otherwise(0L)).as(s"a${i + 1}")
        }): _*)
      agg.select(explode(array(
        GopherRuleNames.zipWithIndex.map { case (name, i) =>
          struct(lit(i + 1).as("rule_id"), lit(name).as("rule"),
            col(s"s$i").as("n_in"),
            (col(s"s$i") - col(s"s${i + 1}")).as("n_fail"),
            col(s"s${i + 1}").as("n_out"),
            col(s"a${i + 1}").as("n_fail_alone"))
        }: _*)).as("r"))
        .select("r.*")
        .orderBy("rule_id")
    }),

    // X-138: DSIR-style hashed-n-gram importance weights (Xie et al.
    // 2023, arXiv:2302.03169) — the data-selection op that scores every
    // raw document by how target-like its hashed n-gram profile is.
    // Target domain = the corpus's `lang='en'` slice (DSIR's "small
    // target sample"); features = bigrams hashed into 1024 fixed
    // buckets; both distributions Laplace-smoothed. DSIR's log-ratio
    // sum is replaced by the engine's exact-arithmetic discipline (the
    // doc_lm_score rule): per-bucket importance RATIO in integer fixed
    // point (×10⁶, DECIMAL div), per-doc weight = exact fixed-point sum
    // with ONE final double division — ln() is libm-dependent and not
    // bit-identical across engines, while the ratio form keeps the same
    // target-vs-raw ranking signal hash-stable. Scale shape: the bucket
    // frame is ≤1024 rows BY CONSTRUCTION at any corpus size (that is
    // the point of hashed features), so the join-back is a bounded
    // broadcast under AQE; everything else is hash aggregates.
    "dsir_weights" -> ((s, d) =>
      dsirScores(Tables.documents(s, d).select("doc_id", "lang", "text"))
        .select(col("doc_id"), col("lang"), col("n_grams"), col("sum_fx"),
          (col("sum_fx").cast("double") / col("n_grams").cast("double"))
            .as("dsir_weight"))
        .orderBy("doc_id")),

    // X-140: the curation CAPSTONE composing this round's selection ops
    // — the Gopher rule gate (X-137, pass ALL FOUR rules) feeding DSIR
    // importance weighting (X-138, distributions re-estimated over the
    // SURVIVORS — selection always rescoring the pool it actually
    // draws from), closed with a per-language top-10 by weight through
    // the two-phase Rank (a raw window keyed on ≤5 langs is the
    // gated anti-pattern). The per-stage shapes are unchanged from the
    // component queries; the composition shares their builders/SQL
    // fragments so the capstone cannot drift from its parts.
    "curation_pipeline" -> ((s, d) => {
      val keep = gopherBase(s, d)
        .filter(gopherPreds.reduce(_ && _))
        .select("doc_id", "lang", "text")
      val scored = dsirScores(keep)
        .withColumn("dsir_weight",
          col("sum_fx").cast("double") / col("n_grams").cast("double"))
      graft.operators.Rank.topKPerGroup(scored, 10, Seq("lang"),
          Seq(col("dsir_weight").desc, col("doc_id")))
        .select("lang", "doc_id", "n_grams", "dsir_weight", "rk")
        .orderBy("lang", "rk")
    }),
  )

  /** X-137 rule order (the funnel is reported in this order). */
  private val GopherRuleNames = Seq(
    "word_count_20_80", "mean_word_len_3_5", "ttr_ge_0.3", "stopwords_ge_2")

  /** X-137 stopword containment list: the union of the language-ID
    * profiles — a doc in any profiled language passes, the zh slice
    * (no profile) exercises the failure arm. */
  private val GopherStopwords: Seq[String] =
    LangProfiles.flatMap(_._2).distinct

  /** X-137 per-doc rule metrics (doc_id/lang/text carried through for
    * composition). */
  private def gopherBase(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", tokens(norm(col("text"))))
      .select(col("doc_id"), col("lang"), col("text"),
        col("source"), col("n_chars"),
        size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).cast("long").as("nd"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("totlen"),
        occurrences(col("toks"), GopherStopwords).as("stop_hits"))

  /** X-137 rule predicates over [[gopherBase]]'s metric columns, in
    * [[GopherRuleNames]] order — every comparison integer-exact. */
  private def gopherPreds: Seq[Column] = Seq(
    col("n") >= 20 && col("n") <= 80,              // word-count band
    col("totlen") >= col("n") * 3 &&
      col("totlen") <= col("n") * 5,               // mean word length 3..5
    col("nd") * 10 >= col("n") * 3,                // TTR >= 0.3
    col("stop_hits") >= 2)                         // stopword containment

  /** X-138 hashed-bigram feature space. */
  private val DsirBuckets = 1024

  /** X-138 scoring pipeline over a (doc_id, lang, text) frame: per-doc
    * (doc_id, lang, n_grams, sum_fx) where sum_fx is the exact
    * fixed-point sum of smoothed target-vs-raw bucket ratios (×10⁶).
    * ONE aggregation pass carries both distributions (raw count +
    * target count per bucket); the corpus totals then read off the
    * ≤B-row bucket frame instead of re-scanning the corpus — the
    * exploded lineage is walked exactly twice (counts + probe). The
    * bounded counts frame is MATERIALIZED so the totals aggregate
    * doesn't re-embed (and re-scan) its lineage. The ratio join-back
    * is bucket-bounded but carries no hint (the doc_lm_score rule:
    * AQE broadcasts it by MEASURED size). */
  private def dsirScores(docs: DataFrame): DataFrame = {
    val B = DsirBuckets
    val grams = docs
      .select(col("doc_id"), col("lang"),
        explode(ngrams(tokens(norm(col("text"))), 2)).as("g"))
      .withColumn("bucket", tokenHash(col("g")) % B)
    val counts = Scratch.cut(grams.groupBy("bucket").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t")))
    val tot = counts.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    // DECIMAL(38,0) matches the oracle's HUGEINT headroom: the
    // numerator (c_t+1)·(n_r+B)·10⁶ stays exact through ~10¹⁵-gram
    // corpora (10¹⁵·10¹⁵·10⁶ = 10³⁶ < 10³⁸), where the former
    // DECIMAL(24,0) would hit ANSI overflow at ~10⁹ grams
    val ratio = counts.crossJoin(broadcast(tot))
      .select(col("bucket"), expr(
        s"""CAST((CAST(c_t AS DECIMAL(38,0)) + 1) * (n_r + $B) * 1000000
           |     div ((CAST(c_r AS DECIMAL(38,0)) + 1) * (n_t + $B)) AS BIGINT)"""
          .stripMargin).as("r_fx"))
    grams.join(ratio, "bucket")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_grams"), sum(col("r_fx")).as("sum_fx"))
  }

  /** BM25 scoring CTEs (through `sc`: doc_id, n_terms, score_fx) —
    * one copy spliced into bm25_score and rrf_fusion. */
  private lazy val bm25Cte =
    s"""t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM t
       |       WHERE token IN (${BmTerms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2),
       |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |p AS (SELECT tf.doc_id, tf.tf, dft.df, dl.dl, st.n_docs, st.total_tokens
       |      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN st),
       |x AS (SELECT doc_id,
       |        CAST(CAST((n_docs - df) * 2 + 1 AS HUGEINT) * 1000000000 // (df * 2 + 1) AS BIGINT) AS idf_fx,
       |        CAST(CAST(22 * tf AS HUGEINT) * total_tokens * 1000000000
       |             // (10 * tf * total_tokens + 3 * total_tokens + 9 * dl * n_docs) AS BIGINT) AS tfc_fx
       |      FROM p),
       |sc AS (SELECT doc_id, count(*) AS n_terms,
       |         CAST(sum(CAST(idf_fx AS HUGEINT) * tfc_fx // 1000000000) AS BIGINT) AS score_fx
       |       FROM x GROUP BY doc_id)""".stripMargin

  def oracle: Map[String, String] = Map(
    "source_overlap" ->
      s"""WITH e AS (
         |  SELECT DISTINCT source, sh FROM (
         |    SELECT source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |      i -> ${DedupQueries.gramSql(3)}))) AS sh
         |    FROM (SELECT source, $toksSql AS toks FROM documents))),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY source),
         |p AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS common
         |      FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT p.s1, p.s2, p.common, x.n AS n1, y.n AS n2,
         |       CAST(p.common AS DOUBLE) / CAST(x.n + y.n - p.common AS DOUBLE) AS jac
         |FROM p JOIN sizes x ON p.s1 = x.source JOIN sizes y ON p.s2 = y.source
         |ORDER BY p.s1, p.s2""".stripMargin,

    "fixed_size_sample" ->
      """WITH p AS (SELECT lang, doc_id,
        |             CAST('0x' || substr(md5('graft-k' || doc_id), 1, 14) AS BIGINT) % 1000000007 AS pri
        |           FROM documents),
        |r AS (SELECT lang, doc_id, pri,
        |             CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS INTEGER) AS rk
        |      FROM p)
        |SELECT lang, rk, doc_id, pri FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin,

    // Same md5 draw, same exact u·10⁶ // w fixed-point priority, same
    // bottom-20 by (priority, doc_id).
    "weighted_sample" ->
      """WITH p AS (SELECT doc_id, lang,
        |             CAST(greatest(n_chars, 1) AS BIGINT) AS w,
        |             CAST('0x' || substr(md5('graft-wr' || doc_id), 1, 14) AS BIGINT) % 1000000007 AS u
        |           FROM documents)
        |SELECT doc_id, lang, w, CAST(u * 1000000 // w AS BIGINT) AS pri_fx
        |FROM p ORDER BY pri_fx, doc_id LIMIT 20""".stripMargin,

    "corpus_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |         CAST(5 + (TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 5) * 5 AS INTEGER) AS w10,
        |         CAST('0x' || substr(md5('graft-mix' || doc_id), 1, 4) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |c AS (SELECT doc_id, source, w10,
        |             w10 // 10 + CASE WHEN bucket < (w10 % 10) * 10 THEN 1 ELSE 0 END AS copies
        |      FROM w)
        |SELECT doc_id, source, w10, CAST(unnest(range(0, copies)) AS INTEGER) AS epoch
        |FROM c ORDER BY doc_id, epoch""".stripMargin,

    "hashed_features" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |h AS (SELECT doc_id,
         |             CAST('0x' || substr(md5(token), 1, 14) AS BIGINT) % 1000000007 AS h
         |      FROM t)
         |SELECT doc_id, CAST(h % 64 AS INTEGER) AS bucket,
         |       count(*) AS n_tok,
         |       CAST(sum(1 - 2 * ((h // 64) % 2)) AS BIGINT) AS feat
         |FROM h GROUP BY doc_id, bucket
         |ORDER BY doc_id, bucket""".stripMargin,

    // X-169: the same md5-derived buckets and ±1 signs as the
    // hashed_features oracle, the identical 64-weight literal head,
    // the gopher_rules funnel shape.
    "classifier_filter" -> {
      val wList = ClfWeights.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |h AS (SELECT doc_id,
         |             CAST('0x' || substr(md5(token), 1, 14) AS BIGINT) % 1000000007 AS h
         |      FROM t),
         |m AS (SELECT doc_id,
         |             CAST(count(*) AS BIGINT) AS n_tok,
         |             CAST(sum((1 - 2 * ((h // 64) % 2))
         |                      * ($wList)[CAST(h % 64 AS INTEGER) + 1]) AS BIGINT) AS margin_fx
         |      FROM h GROUP BY doc_id),
         |pd AS (SELECT d.doc_id,
         |              CAST(COALESCE(m.n_tok, 0) AS BIGINT) AS n_tok,
         |              CAST(COALESCE(m.margin_fx, 0) AS BIGINT) AS margin_fx
         |       FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id),
         |p AS (SELECT doc_id, n_tok, margin_fx,
         |             n_tok > 0 AS p1,
         |             margin_fx > 0 AS p2,
         |             margin_fx * 20 >= n_tok * 1000000 AS p3
         |      FROM pd),
         |a AS (SELECT count(*) AS s0,
         |             CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |             CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |             CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |             CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         |             CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
         |             CAST(sum(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS a3
         |      FROM p)
         |SELECT * FROM (
         |  SELECT 'doc' AS kind, doc_id, n_tok, margin_fx,
         |         (p1 AND p2 AND p3) AS selected,
         |         CAST(NULL AS INTEGER) AS rule_id, CAST(NULL AS VARCHAR) AS rule,
         |         CAST(NULL AS BIGINT) AS n_in, CAST(NULL AS BIGINT) AS n_fail,
         |         CAST(NULL AS BIGINT) AS n_out, CAST(NULL AS BIGINT) AS n_fail_alone
         |  FROM p
         |  UNION ALL
         |  SELECT 'stage', NULL, NULL, NULL, NULL, CAST(1 AS INTEGER), 'has_tokens',
         |         s0, s0 - s1, s1, a1 FROM a
         |  UNION ALL
         |  SELECT 'stage', NULL, NULL, NULL, NULL, CAST(2 AS INTEGER), 'margin_positive',
         |         s1, s1 - s2, s2, a2 FROM a
         |  UNION ALL
         |  SELECT 'stage', NULL, NULL, NULL, NULL, CAST(3 AS INTEGER), 'margin_strong',
         |         s2, s2 - s3, s3, a3 FROM a)
         |ORDER BY kind, COALESCE(doc_id, -1), COALESCE(rule_id, -1)""".stripMargin
    },

    "corpus_drift_l1" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |counts AS (
         |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY source, token),
         |src AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src
         |        FROM counts GROUP BY source),
         |tot AS (SELECT token, CAST(SUM(c) AS BIGINT) AS c_tot
         |        FROM counts GROUP BY token),
         |g AS (SELECT CAST(SUM(n_src) AS BIGINT) AS n_all FROM src),
         |agg AS (
         |  SELECT c.source, max(s.n_src) AS n_src, max(g.n_all) AS n_all,
         |         CAST(SUM(ABS(c.c * (g.n_all - s.n_src)
         |             - (t.c_tot - c.c) * s.n_src)) AS BIGINT) AS shared_num,
         |         CAST(SUM(t.c_tot) AS BIGINT) AS cov
         |  FROM counts c JOIN tot t USING (token) JOIN src s USING (source)
         |       CROSS JOIN g
         |  GROUP BY c.source)
         |SELECT source, n_src,
         |       shared_num + (n_all - cov) * n_src AS l1_num,
         |       CAST(shared_num + (n_all - cov) * n_src AS DOUBLE)
         |         / (CAST(n_src AS DOUBLE) * CAST(n_all - n_src AS DOUBLE)) AS l1
         |FROM agg ORDER BY source""".stripMargin,

    // X-171: same exact-integer KS derivation; HUGEINT `//` mirrors
    // Spark's DECIMAL DIV for ks_x1e6 (DECIMAL `//` would degrade to
    // DOUBLE in DuckDB), DECIMAL(38,0) carries the squared-statistic
    // decision.
    "ks_drift" ->
      """WITH pd AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
        |cnt AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM pd GROUP BY source, v),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |        FROM cnt GROUP BY source),
        |grid AS (
        |  SELECT s.source, vv.v, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM cnt) s
        |  CROSS JOIN (SELECT DISTINCT v FROM cnt) vv
        |  LEFT JOIN cnt c ON c.source = s.source AND c.v = vv.v),
        |cum AS (
        |  SELECT source, v,
        |         CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
        |  FROM grid),
        |agg AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         max(t1.n) AS n1, max(t2.n) AS n2,
        |         MAX(abs(a.cum * t2.n - b.cum * t1.n)) AS d_num
        |  FROM cum a
        |  JOIN cum b ON a.v = b.v AND a.source < b.source
        |  JOIN tot t1 ON a.source = t1.source
        |  JOIN tot t2 ON b.source = t2.source
        |  GROUP BY a.source, b.source)
        |SELECT s1, s2, n1, n2, d_num,
        |       CAST(CAST(d_num AS HUGEINT) * 1000000
        |            // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_x1e6,
        |       (CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000)
        |         > (CAST(1844164 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2) AS reject_05
        |FROM agg ORDER BY s1, s2""".stripMargin,

    "lang_confusion" ->
      s"""WITH t AS (SELECT lang, $toksSql AS toks FROM documents),
         |h AS (SELECT lang, $profilesSql FROM t),
         |g AS (SELECT lang, $guessSql AS lang_guess FROM h)
         |SELECT lang, lang_guess, count(*) AS n
         |FROM g GROUP BY lang, lang_guess ORDER BY lang, lang_guess""".stripMargin,

    "token_stats" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS tx FROM documents)
        |SELECT doc_id,
        |       CAST(len(string_split(tx, ' ')) AS INTEGER) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(tx, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS INTEGER) AS n_bpe_tokens,
        |       CAST(len(list_distinct(string_split(tx, ' '))) AS INTEGER) AS n_distinct,
        |       CAST(length(tx) AS INTEGER) AS n_chars_norm
        |FROM t ORDER BY doc_id""".stripMargin,

    "context_truncation" ->
      s"""WITH t AS (SELECT lang, CAST(len($toksSql) AS BIGINT) AS n_toks FROM documents),
         |f AS (SELECT lang, n_toks, CAST(ctx AS BIGINT) AS ctx
         |      FROM t, (VALUES (64), (256), (1024)) c(ctx)),
         |a AS (SELECT lang, ctx, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN n_toks > ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |             CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |             CAST(sum(least(n_toks, ctx)) AS BIGINT) AS kept_tokens
         |      FROM f GROUP BY lang, ctx)
         |SELECT lang, ctx, n_docs, n_truncated, total_tokens, kept_tokens,
         |       CASE WHEN total_tokens = 0 THEN CAST(0 AS BIGINT) ELSE
         |         CAST((CAST(total_tokens AS HUGEINT) - kept_tokens) * 1000000 // total_tokens AS BIGINT) END AS lost_ppm
         |FROM a ORDER BY lang, ctx""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id,
         |             CAST(len(toks) AS INTEGER) AS n_tokens,
         |             CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
         |             ${occSql(LangProfiles.head._2)} AS stop_hits
         |      FROM t),
         |s AS (SELECT *,
         |             $scoreSql AS score
         |      FROM b)
         |SELECT doc_id, n_tokens, n_distinct, stop_hits, score,
         |       $gradeSql AS grade
         |FROM s ORDER BY doc_id""".stripMargin,

    "tf_topk" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |c AS (SELECT doc_id, token, count(*) AS cnt FROM t GROUP BY doc_id, token),
         |r AS (SELECT doc_id, token, cnt,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |                  ORDER BY cnt DESC, token) AS INTEGER) AS rk
         |      FROM c)
         |SELECT doc_id, token, cnt, rk FROM r WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,

    "bigram_counts" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, len(toks)),
         |        i -> ${DedupQueries.gramSql(2)})) AS bigram
         |      FROM t)
         |SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram
         |ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,

    // Same counts; the ratio in HUGEINT (c_ab·N²·10⁶ overflows BIGINT).
    // MATERIALIZED CTEs (r12): DuckDB INLINES a CTE per reference —
    // t/u/uc are each referenced 2-3× here and the inlined form
    // re-evaluated tot's scalar subqueries per joined row, turning a
    // 0.5 s oracle into ~25 min on the megadoc corpus. Fencing the
    // shared frames restores single evaluation; results are identical.
    "pmi_collocations" ->
      s"""WITH t AS MATERIALIZED (SELECT $toksSql AS toks FROM documents),
         |u AS MATERIALIZED (SELECT unnest(toks) AS w FROM t),
         |uc AS MATERIALIZED (SELECT w, count(*) AS c_w FROM u GROUP BY w),
         |b AS (SELECT unnest(list_transform(range(1, len(toks)),
         |        i -> ${DedupQueries.gramSql(2)})) AS bigram
         |      FROM t),
         |bc AS MATERIALIZED (SELECT bigram, count(*) AS c_ab FROM b GROUP BY bigram
         |       HAVING count(*) >= 5),
         |tot AS (SELECT (SELECT count(*) FROM u) AS n_toks,
         |               (SELECT sum(greatest(len(toks) - 1, 0)) FROM t) AS n_bi)
         |SELECT bigram, c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
         |       CAST(CAST(c_ab AS HUGEINT) * n_toks * n_toks * 1000000
         |         // (CAST(ua.c_w AS HUGEINT) * ub.c_w * n_bi) AS BIGINT) AS pmi_ratio_fx
         |FROM bc
         |JOIN uc ua ON split_part(bigram, ' ', 1) = ua.w
         |JOIN uc ub ON split_part(bigram, ' ', 2) = ub.w, tot
         |ORDER BY pmi_ratio_fx DESC, bigram LIMIT 20""".stripMargin,

    // X-173: same decile bucketing + prefix sums; `//` mirrors DIV,
    // the empty-prefix ratio is NULL in both engines.
    "heaps_law" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, toks FROM t),
         |bd AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM pd),
         |bk AS (SELECT pd.doc_id, pd.n_toks, pd.toks,
         |              ((pd.doc_id - bd.lo) * 10) // (bd.hi - bd.lo + 1) + 1 AS k
         |       FROM pd, bd),
         |da AS (SELECT k, CAST(count(*) AS BIGINT) AS dd,
         |              CAST(sum(n_toks) AS BIGINT) AS tt
         |       FROM bk GROUP BY k),
         |fo AS (SELECT tok, min(k) AS k
         |       FROM (SELECT k, unnest(toks) AS tok FROM bk) GROUP BY tok),
         |va AS (SELECT k, CAST(count(*) AS BIGINT) AS vv FROM fo GROUP BY k),
         |ax AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS k),
         |j AS (SELECT ax.k, COALESCE(da.dd, 0) AS dd, COALESCE(da.tt, 0) AS tt,
         |             COALESCE(va.vv, 0) AS vv
         |      FROM ax LEFT JOIN da ON ax.k = da.k LEFT JOIN va ON ax.k = va.k),
         |c AS (SELECT k,
         |             CAST(SUM(dd) OVER (ORDER BY k) AS BIGINT) AS n_docs,
         |             CAST(SUM(tt) OVER (ORDER BY k) AS BIGINT) AS n_tokens,
         |             CAST(SUM(vv) OVER (ORDER BY k) AS BIGINT) AS n_vocab
         |      FROM j)
         |SELECT c.k, bd.lo - 1 + ((bd.hi - bd.lo + 1) * c.k + 9) // 10 AS cutoff_id,
         |       n_docs, n_tokens, n_vocab,
         |       CASE WHEN n_tokens = 0 THEN NULL
         |            ELSE (n_vocab * 1000000) // n_tokens END AS vocab_per_mtok_fx
         |FROM c, bd ORDER BY c.k""".stripMargin,

    // X-172: same co-occurrence graph + 3 unrolled weighted-PageRank
    // rounds; every `//` mirrors a Spark DIV truncation site.
    "textrank_keywords" -> {
      def roundSql(prev: String, cn: String, rn: String) =
        s"""$cn AS (SELECT e.v, CAST(sum((r.sc * e.p_fx) // 1000000) AS BIGINT) AS csum
           |       FROM edges e JOIN $prev r ON e.u = r.token GROUP BY e.v),
           |$rn AS (SELECT n.token,
           |         CAST((1000000000 // st.nv) * 15 // 100
           |              + COALESCE($cn.csum, 0) * 85 // 100 AS BIGINT) AS sc
           |       FROM nodes n CROSS JOIN st
           |       LEFT JOIN $cn ON n.token = $cn.v)""".stripMargin
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |pr AS (SELECT unnest(list_transform(range(1, len(toks)),
         |         i -> [toks[i], toks[i+1]])) AS p
         |       FROM t),
         |pairs AS (SELECT p[1] AS w1, p[2] AS w2 FROM pr WHERE p[1] <> p[2]),
         |und AS (SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM (
         |          SELECT w1 AS u, w2 AS v FROM pairs
         |          UNION ALL SELECT w2 AS u, w1 AS v FROM pairs)
         |        GROUP BY u, v),
         |wd AS (SELECT u, CAST(sum(w) AS BIGINT) AS wdeg FROM und GROUP BY u),
         |edges AS (SELECT und.u, und.v,
         |                 CAST((und.w * 1000000) // wd.wdeg AS BIGINT) AS p_fx
         |          FROM und JOIN wd ON und.u = wd.u),
         |nodes AS (SELECT DISTINCT u AS token FROM edges),
         |st AS (SELECT count(*) AS nv FROM nodes),
         |r0 AS (SELECT token, CAST(1000000000 // nv AS BIGINT) AS sc
         |       FROM nodes CROSS JOIN st),
         |${roundSql("r0", "c1", "r1")},
         |${roundSql("r1", "c2", "r2")},
         |${roundSql("r2", "c3", "r3")}
         |SELECT r3.token, wd.wdeg, r3.sc AS score_fx,
         |       CAST(r3.sc AS DOUBLE) / 1000000000 AS score
         |FROM r3 JOIN wd ON r3.token = wd.u
         |ORDER BY score_fx DESC, r3.token LIMIT 10""".stripMargin
    },

    "stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5('graft-r3' || doc_id), 1, 4) AS BIGINT) % 100 AS bucket,
        |         CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 20 ELSE 10 END AS rate
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b WHERE bucket < rate
        |ORDER BY doc_id""".stripMargin,

    "token_counts" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents)
         |SELECT token, count(*) AS cnt FROM t GROUP BY token
         |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "bpe_merges" -> {
      // one unrolled merge round: argmax pair over `tin` → merged `tout`
      def round(tin: String, bg: String, tm: String, tout: String) =
        s"""$bg AS (
           |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
           |         count(*) AS cnt
           |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
           |          i -> ${DedupQueries.gramSql(2)})) AS bg FROM $tin)
           |  WHERE string_split(bg, ' ')[1] <> string_split(bg, ' ')[2]
           |  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
           |$tm AS (SELECT doc_id, toks, a, b,
           |          list_transform(range(1, len(toks) + 1),
           |            i -> toks[i] = a AND coalesce(toks[i+1] = b, false)) AS m
           |        FROM $tin CROSS JOIN $bg),
           |$tout AS (SELECT doc_id,
           |           list_transform(
           |             list_filter(range(1, len(toks) + 1), i -> i = 1 OR NOT m[i-1]),
           |             i -> CASE WHEN m[i] THEN a || '_' || b ELSE toks[i] END) AS toks
           |         FROM $tm)""".stripMargin
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |${round("t0", "bg1", "t1m", "t1")},
         |${round("t1", "bg2", "t2m", "t2")},
         |n1 AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tokens_after FROM t1),
         |n2 AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tokens_after FROM t2)
         |SELECT 1 AS merge_round, a, b, CAST(cnt AS BIGINT) AS cnt, n_tokens_after
         |FROM bg1 CROSS JOIN n1
         |UNION ALL
         |SELECT 2, a, b, CAST(cnt AS BIGINT), n_tokens_after FROM bg2 CROSS JOIN n2
         |ORDER BY merge_round""".stripMargin
    },

    "cms_bigram_counts" -> {
      val params = (0 until CmsD)
        .map(i => s"($i, ${CmsA(i)}, ${CmsB(i)})").mkString(", ")
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
         |         i -> ${DedupQueries.gramSql(2)})) AS bigram
         |       FROM t),
         |h AS (SELECT bigram,
         |         CAST('0x' || substr(md5(bigram), 1, 14) AS BIGINT) % 1000000007 AS h
         |       FROM bg),
         |params AS (SELECT * FROM (VALUES $params) v(row_i, a, b)),
         |cells AS (SELECT p.row_i, (p.a * h.h + p.b) % 1000000007 % $CmsW AS bucket,
         |                 count(*) AS cell
         |          FROM h CROSS JOIN params p GROUP BY 1, 2),
         |top AS (SELECT bigram, count(*) AS exact_cnt, max(h) AS h FROM h GROUP BY bigram
         |        ORDER BY exact_cnt DESC, bigram LIMIT 20),
         |e AS (SELECT t.bigram, t.exact_cnt, p.row_i,
         |             (p.a * t.h + p.b) % 1000000007 % $CmsW AS bucket
         |      FROM top t CROSS JOIN params p),
         |j AS (SELECT e.bigram, e.exact_cnt, min(c.cell) AS cms_cnt
         |      FROM e JOIN cells c USING (row_i, bucket) GROUP BY 1, 2)
         |SELECT bigram, CAST(exact_cnt AS BIGINT) AS exact_cnt,
         |       CAST(cms_cnt AS BIGINT) AS cms_cnt,
         |       CAST(cms_cnt - exact_cnt AS BIGINT) AS overcount,
         |       CAST(cms_cnt - exact_cnt AS DOUBLE) / exact_cnt AS err_frac
         |FROM j ORDER BY exact_cnt DESC, bigram""".stripMargin
    },

    // KMV bottom-k mirror: the k smallest distinct md5-hashes per lang
    // via one window over the identical hash expression; estimator and
    // <k fallback spliced with the same integer arithmetic ('//' here,
    // 'div' Spark-side — both exact integer division).
    "approx_distinct_tokens" -> {
      val num = (KmvK - 1).toLong * 1000000007L
      s"""WITH t AS (SELECT lang, $toksSql AS toks FROM documents),
         |bg AS (SELECT lang, unnest(list_transform(range(1, len(toks)),
         |         i -> ${DedupQueries.gramSql(2)})) AS bigram
         |       FROM t),
         |ex AS (SELECT lang, CAST(count(DISTINCT bigram) AS BIGINT) AS exact_distinct
         |       FROM bg GROUP BY lang),
         |dh AS (SELECT DISTINCT lang,
         |         CAST('0x' || substr(md5(bigram), 1, 14) AS BIGINT) % 1000000007 AS h
         |       FROM bg),
         |r AS (SELECT lang, h,
         |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY lang) AS nd
         |      FROM dh),
         |est AS (SELECT lang,
         |          CAST(CASE WHEN nd < $KmvK THEN nd ELSE $num // h END AS BIGINT) AS approx_distinct
         |        FROM r WHERE rn = CASE WHEN nd < $KmvK THEN nd ELSE $KmvK END)
         |SELECT ex.lang, exact_distinct, approx_distinct,
         |       CAST(abs(approx_distinct - exact_distinct) AS DOUBLE) / exact_distinct AS rel_err
         |FROM ex JOIN est USING (lang) ORDER BY lang""".stripMargin
    },

    "bm25_score" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, n_terms, score_fx,
         |       CAST(score_fx AS DOUBLE) / 1000000000 AS bm25
         |FROM sc ORDER BY doc_id""".stripMargin,

    // Splices the SAME gopherBase/gopherPreds fragments as the X-137
    // funnel; the majority-lang window and the ×100 fixed-point mean
    // mirror the Spark side literally.
    "source_datacard" ->
      s"""WITH $gopherBaseSql,
         |b AS (SELECT doc_id, source, lang, n, n_chars, md5(text) AS th,
         |             CASE WHEN ${gopherPredsSql.mkString(" AND ")}
         |                  THEN 1 ELSE 0 END AS pass
         |      FROM gb),
         |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |              CAST(sum(n) AS BIGINT) AS total_tokens,
         |              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |              CAST(sum(pass) AS BIGINT) AS quality_pass,
         |              CAST(count(*) - count(DISTINCT th) AS BIGINT) AS n_exact_dup
         |       FROM b GROUP BY 1),
         |tl AS (SELECT source, lang AS top_lang,
         |              CAST(count(*) AS BIGINT) AS top_lang_n,
         |              row_number() OVER (PARTITION BY source
         |                ORDER BY count(*) DESC, lang) AS rk
         |       FROM b GROUP BY source, lang)
         |SELECT ag.source, ag.n_docs, ag.n_langs, ag.total_tokens,
         |       ag.sum_chars,
         |       CAST(ag.sum_chars * 100 // ag.n_docs AS BIGINT) AS mean_chars_fx,
         |       ag.quality_pass, ag.n_exact_dup, tl.top_lang, tl.top_lang_n
         |FROM ag JOIN tl ON ag.source = tl.source AND tl.rk = 1
         |ORDER BY ag.source""".stripMargin,

    // Same rare-shingle candidate rule (the dedup family's shSql-shaped
    // shingle derivation), full-vector BIGINT dot/norms, and the exact
    // cos²·10⁶ integer test mirroring the Spark side.
    "tf_cosine_pairs" ->
      s"""WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2),
        |shx AS (SELECT doc_id,
        |          unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |            i -> ${DedupQueries.gramSql(3)}))) AS sh
        |        FROM (SELECT doc_id,
        |                string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
        |              FROM documents)),
        |keep AS (SELECT sh FROM shx GROUP BY sh
        |         HAVING count(*) BETWEEN 2 AND 8),
        |rare AS (SELECT s.doc_id, s.sh FROM shx s JOIN keep USING (sh)),
        |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |         FROM rare x JOIN rare y
        |           ON x.sh = y.sh AND x.doc_id < y.doc_id),
        |dots AS (SELECT c.d1, c.d2, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |         FROM cand c
        |         JOIN tf a ON c.d1 = a.doc_id
        |         JOIN tf b ON c.d2 = b.doc_id AND a.tok = b.tok
        |         GROUP BY 1, 2),
        |nr AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
        |       FROM tf GROUP BY 1)
        |SELECT d1, d2, dot,
        |       CAST(dot * dot * 1000000 // (a.n2 * b.n2) AS BIGINT) AS cos2_fx
        |FROM dots JOIN nr a ON d1 = a.doc_id JOIN nr b ON d2 = b.doc_id
        |WHERE dot * dot * 1000000 // (a.n2 * b.n2) >= 902500
        |ORDER BY d1, d2""".stripMargin,

    // Same df band, sort, gap derivation, and rolling-hash fold.
    "build_postings" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS token
         |           FROM documents),
         |d AS (SELECT token, count(*) AS df FROM t GROUP BY token
         |      HAVING count(*) BETWEEN 2 AND 100),
         |p AS (SELECT t.token, CAST(max(d.df) AS BIGINT) AS df,
         |             list_sort(list(t.doc_id)) AS ps
         |      FROM t JOIN d USING (token) GROUP BY t.token),
         |g AS (SELECT token, df, ps[1] AS min_doc, ps[len(ps)] AS max_doc,
         |             list_transform(range(2, len(ps) + 1), i -> ps[i] - ps[i - 1]) AS gaps
         |      FROM p)
         |SELECT token, df, min_doc, max_doc,
         |       CAST(list_max(gaps) AS BIGINT) AS max_gap,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT), gaps),
         |         (h, x) -> (h * 31 + x) % 1000000007) AS gap_fp
         |FROM g ORDER BY token""".stripMargin,

    // Margin smoothing and the md5 copy draw mirror the Spark side;
    // HUGEINT carries the ⌊√n⌋·N·10⁶ product DECIMAL(38,0) holds there.
    "temperature_mix" ->
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |bl AS (SELECT lang, count(*) AS n_docs,
        |              CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS isqrt
        |       FROM d GROUP BY lang),
        |st AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |              CAST(sum(isqrt) AS BIGINT) AS sum_isqrt FROM bl),
        |p AS (SELECT bl.lang, bl.n_docs,
        |             CAST(CAST(bl.isqrt AS HUGEINT) * st.n_total * 1000000
        |               // (CAST(st.sum_isqrt AS HUGEINT) * bl.n_docs) AS BIGINT) AS boost_fx
        |      FROM bl CROSS JOIN st),
        |c AS (SELECT d.doc_id, d.lang, p.n_docs, p.boost_fx,
        |             p.boost_fx // 1000000
        |             + CASE WHEN CAST('0x' || substr(md5('graft-temp' || d.doc_id), 1, 4) AS BIGINT) % 100
        |                    < (p.boost_fx % 1000000) // 10000 THEN 1 ELSE 0 END AS copies
        |      FROM d JOIN p USING (lang))
        |SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |       CAST(max(boost_fx) AS BIGINT) AS boost_fx,
        |       CAST(max(boost_fx) AS DOUBLE) / 1000000.0 AS boost,
        |       CAST(sum(copies) AS BIGINT) AS n_copies
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // Contingency margins and χ² fixed point mirror the Spark side;
    // HUGEINT carries the n⁴-scale products DECIMAL(38,0) holds there.
    "chi2_tokens" ->
      s"""WITH t AS (SELECT lang, unnest(list_distinct($toksSql)) AS token
         |           FROM documents),
         |a AS (SELECT lang, token, count(*) AS a FROM t GROUP BY 1, 2),
         |tot AS (SELECT token, CAST(sum(a) AS BIGINT) AS at FROM a GROUP BY token),
         |nlt AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
         |st AS (SELECT count(*) AS n FROM documents),
         |x AS (SELECT a.lang, a.token, a.a, tot.at, nlt.nl, st.n,
         |             tot.at - a.a AS b, nlt.nl - a.a AS c,
         |             st.n - nlt.nl - (tot.at - a.a) AS dd
         |      FROM a JOIN tot USING (token) JOIN nlt USING (lang) CROSS JOIN st
         |      WHERE tot.at >= 5 AND tot.at < st.n),
         |chi AS (SELECT lang, token, CAST(a AS BIGINT) AS n_docs_lang,
         |               CAST(CAST(n AS HUGEINT) * (a * dd - b * c) * (a * dd - b * c) * 1000000
         |                 // (CAST(at AS HUGEINT) * (n - at) * nl * (n - nl)) AS BIGINT) AS chi2_fx,
         |               a * (n - nl) > b * nl AS over_rep
         |        FROM x),
         |r AS (SELECT lang, token, n_docs_lang, chi2_fx, over_rep,
         |             CAST(row_number() OVER (PARTITION BY lang
         |                  ORDER BY chi2_fx DESC, token) AS INTEGER) AS rk
         |      FROM chi)
         |SELECT lang, rk, token, n_docs_lang, chi2_fx, over_rep
         |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    // Same scoring CTEs as bm25_score, fused with the aggregate-tf
    // ranking by exact ⌊10⁹/(60+rank)⌋ terms.
    "rrf_fusion" ->
      s"""WITH $bm25Cte,
         |tf_doc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf
         |           FROM tf GROUP BY doc_id),
         |tfr AS (SELECT doc_id, tf_rank FROM (
         |          SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS INTEGER) AS tf_rank
         |          FROM tf_doc)
         |        WHERE tf_rank <= 20),
         |bmr AS (SELECT doc_id, bm25_rank FROM (
         |          SELECT doc_id, CAST(row_number() OVER (ORDER BY score_fx DESC, doc_id) AS INTEGER) AS bm25_rank
         |          FROM sc)
         |        WHERE bm25_rank <= 20),
         |f AS (SELECT COALESCE(b.doc_id, t2.doc_id) AS doc_id,
         |             b.bm25_rank, t2.tf_rank,
         |             CAST(COALESCE(1000000000 // (60 + b.bm25_rank), 0)
         |                + COALESCE(1000000000 // (60 + t2.tf_rank), 0) AS BIGINT) AS rrf_fx
         |      FROM bmr b FULL OUTER JOIN tfr t2 ON b.doc_id = t2.doc_id)
         |SELECT doc_id, bm25_rank, tf_rank, rrf_fx,
         |       CAST(rrf_fx AS DOUBLE) / 1000000000 AS rrf
         |FROM f ORDER BY rrf_fx DESC, doc_id""".stripMargin,

    // Quality + language + dedup-cluster + sample filters composed; the
    // cluster arm reuses the recursive-CTE closure from dedup_clusters.
    "training_subset" ->
      s"""WITH RECURSIVE ${DedupQueries.shSql},
         |${DedupQueries.ccSql},
         |noncanon AS (
         |  SELECT node AS doc_id FROM (
         |    SELECT node, min(label) AS cluster FROM cc GROUP BY node)
         |  WHERE node <> cluster),
         |t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id,
         |             CAST(len(toks) AS INTEGER) AS n_tokens,
         |             CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
         |             ${occSql(LangProfiles.head._2)} AS stop_hits,
         |             $profilesSql
         |      FROM t),
         |g AS (SELECT *,
         |             $guessSql AS lang_guess,
         |             $scoreSql AS score
         |      FROM h)
         |SELECT doc_id, n_tokens, score,
         |       $gradeSql AS grade
         |FROM g
         |WHERE $gradeSql <> 'poor'
         |  AND lang_guess = 'en'
         |  AND doc_id NOT IN (SELECT doc_id FROM noncanon)
         |  AND CAST('0x' || substr(md5('subset' || doc_id), 1, 4) AS BIGINT) % 100 < 50
         |ORDER BY doc_id""".stripMargin,

    "doc_lm_score" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |p AS (SELECT t.doc_id,
         |             CAST((CAST(c.cnt AS HUGEINT) * 1000000000000) // tot.total AS BIGINT) AS p_fx
         |      FROM t JOIN c USING (token) CROSS JOIN tot),
         |d AS (SELECT doc_id, count(*) AS n_tokens,
         |             CAST(sum(p_fx) AS BIGINT) AS sum_fx
         |      FROM p GROUP BY doc_id)
         |SELECT doc_id, n_tokens, sum_fx,
         |       CAST(sum_fx AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS lm_score
         |FROM d ORDER BY doc_id""".stripMargin,

    "sequence_pack" ->
      s"""WITH $packCte
         |SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens,
         |       CAST(local_seq AS BIGINT) AS seq_id,
         |       CAST(seq_offset AS BIGINT) AS seq_offset
         |FROM l ORDER BY doc_id""".stripMargin,

    "sequence_pack_global" ->
      s"""WITH $packCte,
         |o AS (SELECT lang, shard, CAST(ceil(sum(n_tokens) / 2048.0) AS BIGINT) AS n_chunks
         |      FROM l GROUP BY lang, shard),
         |o2 AS (SELECT lang, shard,
         |              COALESCE(sum(n_chunks) OVER (ORDER BY lang, shard
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_off
         |       FROM o)
         |SELECT l.doc_id, l.lang, CAST(l.shard AS BIGINT) AS shard, l.n_tokens,
         |       CAST(o2.chunk_off + l.local_seq AS BIGINT) AS seq_id,
         |       CAST(l.seq_offset AS BIGINT) AS seq_offset
         |FROM l JOIN o2 USING (lang, shard) ORDER BY l.doc_id""".stripMargin,

    "decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |         list_distinct(list_transform(range(1, len(toks) - 3),
         |           i -> ${DedupQueries.gramSql(5)})) AS ss
         |       FROM t),
         |e AS (SELECT doc_id, unnest(ss) AS s FROM sh),
         |bench AS (SELECT DISTINCT s FROM e WHERE doc_id % 10 = 0)
         |SELECT doc_id, count(*) AS n_hits
         |FROM e JOIN bench USING (s)
         |WHERE doc_id % 10 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |c AS (SELECT doc_id, token, count(*) AS n FROM e GROUP BY 1, 2),
         |ts AS (SELECT doc_id,
         |         CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_token_frac
         |       FROM c GROUP BY 1),
         |b AS (SELECT doc_id, list_transform(range(1, len(toks)),
         |        i -> ${DedupQueries.gramSql(2)}) AS bgs FROM t),
         |bf AS (SELECT doc_id,
         |         CASE WHEN len(bgs) > 0
         |              THEN 1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE)
         |                         / CAST(len(bgs) AS DOUBLE)
         |              ELSE 0.0 END AS dup_bigram_frac
         |       FROM b)
         |SELECT ts.doc_id, top_token_frac, dup_bigram_frac,
         |       (top_token_frac > 0.2 OR dup_bigram_frac > 0.5) AS flagged
         |FROM ts JOIN bf USING (doc_id) ORDER BY ts.doc_id""".stripMargin,

    "pii_scrub" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '${graft.operators.Extraction.emailPattern}')) AS INTEGER) AS n_emails,
         |       md5(regexp_replace(text, '${graft.operators.Extraction.emailPattern}', '[EMAIL]', 'g')) AS scrubbed_hash
         |FROM documents ORDER BY doc_id""".stripMargin,

    // NULL-text guard (r11): Spark's fingerprint/size propagate a NULL
    // token array to NULL, but DuckDB's list_prepend(0, NULL) is [0]
    // and the fold then reads 0 — an engines-diverge class the
    // adversarial NULL-text docs exposed.
    "doc_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       CASE WHEN toks IS NULL THEN NULL ELSE
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(toks,
         |             s -> CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) % 1000000007)),
         |         (h, x) -> (h * 31 + x) % 1000000007) END AS fp
         |FROM t ORDER BY doc_id""".stripMargin,

    // Token-zipped membership explode + per-chunk fold instead of the
    // slice-per-chunk form: the carried-list slice re-materializes the
    // full token list per chunk row in DuckDB (quadratic in doc
    // length; the r11 megadoc made it hang). Each token emits its ≤ 2
    // covering chunk ids — ceil((i−W)/S) .. (i−1)//S clamped to the
    // chunk range — and the rolling fp folds the position-ordered
    // hashes per chunk, bit-identical to folding the slice.
    "chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, toks,
         |        CAST(1 + (greatest(len(toks) - 24, 0) + 17) // 18 AS INTEGER) AS n_chunks
         |      FROM t),
         |z AS (SELECT doc_id, n_chunks, unnest(toks) AS tok,
         |             CAST(unnest(range(1, len(toks) + 1)) AS INTEGER) AS i
         |      FROM d),
         |m AS (SELECT doc_id, tok, i,
         |             CAST(unnest(range(greatest((i - 7) // 18, 0),
         |                    least((i - 1) // 18, n_chunks - 1) + 1)) AS INTEGER) AS chunk_id
         |      FROM z)
         |SELECT doc_id, chunk_id,
         |       CAST(chunk_id * 18 + 1 AS INTEGER) AS start_tok,
         |       CAST(count(*) AS INTEGER) AS chunk_len,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list(CAST('0x' || substr(md5(tok), 1, 14) AS BIGINT) % 1000000007
         |                ORDER BY i)),
         |         (h, x) -> (h * 31 + x) % 1000000007) AS chunk_fp
         |FROM m GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin,

    // Same integer cross-multiplied ±1 token weighting and fixed-
    // point over-represented fraction; DuckDB sums widen to HUGEINT,
    // so the products are exact there too, and every `//` operand is
    // non-negative (floor = truncate on that domain).
    "domain_select" ->
      s"""WITH e AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS token
         |  FROM documents),
         |dom AS (SELECT token,
         |               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
         |               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_s
         |        FROM e GROUP BY token),
         |tot AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t,
         |               CAST(sum(cnt_s) AS BIGINT) AS tot_s FROM dom),
         |w AS (SELECT token,
         |             CASE WHEN cnt_t * tot_s > cnt_s * tot_t THEN 1 ELSE 0 END AS over,
         |             CASE WHEN cnt_t * tot_s < cnt_s * tot_t THEN 1 ELSE 0 END AS under
         |      FROM dom, tot),
         |j AS (SELECT e.doc_id, e.lang, w.over, w.under
         |      FROM e JOIN w ON e.token = w.token)
         |SELECT doc_id, min(lang) AS lang,
         |       count(*) AS n_tok,
         |       CAST(sum(over) AS BIGINT) AS n_over,
         |       CAST(sum(under) AS BIGINT) AS n_under,
         |       CAST((sum(over) * 1000000) // count(*) AS BIGINT) AS score_fx,
         |       sum(over) > sum(under) AS selected
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same top-3-by-(df desc, token) stopword set; parallel unnest
    // zips token with its 1-based position, string_agg skips NULLed
    // stopwords and orders by pos (coalesce for the all-removed edge:
    // DuckDB string_agg of zero values is NULL, Spark concat_ws of an
    // empty array is '').
    "stopword_strip" ->
      s"""WITH e AS (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM e GROUP BY token),
         |stop AS (SELECT token FROM df ORDER BY df DESC, token LIMIT 3),
         |j AS (SELECT e.doc_id, e.pos, e.token, s.token IS NOT NULL AS is_stop
         |      FROM e LEFT JOIN stop s ON e.token = s.token)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN is_stop THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       coalesce(string_agg(CASE WHEN NOT is_stop THEN token END, ' ' ORDER BY pos), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same pair construction via the list-slice idiom, one-window
    // rankings at oracle scale, identical fixed-point conditionals.
    "next_token_topk" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |pr AS (SELECT unnest(list_transform(range(1, len(toks)),
         |         i -> struct_pack(ctx := toks[i], nxt := toks[i + 1]))) AS p
         |       FROM t),
         |c AS (SELECT p.ctx AS ctx, p.nxt AS nxt, CAST(count(*) AS BIGINT) AS cnt
         |      FROM pr GROUP BY 1, 2),
         |u AS (SELECT ctx, count(*) AS uc
         |      FROM (SELECT unnest(toks) AS ctx FROM t) GROUP BY 1),
         |top AS (SELECT ctx FROM u ORDER BY uc DESC, ctx LIMIT 20),
         |i AS (SELECT c.* FROM c JOIN top USING (ctx)),
         |tot AS (SELECT ctx, CAST(sum(cnt) AS BIGINT) AS n_ctx FROM i GROUP BY 1),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY ctx
         |             ORDER BY cnt DESC, nxt) AS BIGINT) AS rk FROM i)
         |SELECT ctx, rk, nxt, cnt,
         |       CAST(CAST(cnt AS HUGEINT) * 1000000 // n_ctx AS BIGINT) AS p_fx
         |FROM r JOIN tot USING (ctx)
         |WHERE rk <= 3 ORDER BY ctx, rk""".stripMargin,

    // One-window global skyline (fine at oracle scale; the engine side
    // is the per-length aggregate + domain-bounded frontier window).
    "pareto_docs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id,
         |             CAST(len(toks) AS BIGINT) AS n_tokens,
         |             CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
         |             ${occSql(LangProfiles.head._2)} AS stop_hits
         |      FROM t),
         |s AS (SELECT doc_id, n_tokens, $scoreSql AS quality FROM b),
         |m AS (SELECT n_tokens, max(quality) AS qmax FROM s GROUP BY 1),
         |f AS (SELECT n_tokens, qmax,
         |             max(qmax) OVER (ORDER BY n_tokens
         |               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_shorter
         |      FROM m)
         |SELECT s.doc_id, s.n_tokens, s.quality
         |FROM s JOIN f ON s.n_tokens = f.n_tokens AND s.quality = f.qmax
         |WHERE f.best_shorter IS NULL OR f.qmax > f.best_shorter
         |ORDER BY s.n_tokens, s.doc_id""".stripMargin,

    // X-137: same integer-exact rule predicates (shared fragments with
    // the X-140 capstone); the funnel rows as UNION ALL selects off the
    // single aggregate row.
    "gopher_rules" ->
      s"""WITH $gopherBaseSql,
         |p AS (SELECT ${gopherPredsSql.zipWithIndex
                 .map { case (q, i) => s"$q AS p${i + 1}" }
                 .mkString(",\n         |             ")}
         |      FROM gb),
         |a AS (SELECT count(*) AS s0,
         |             CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |             CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |             CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |             CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
         |             CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         |             CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
         |             CAST(sum(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
         |             CAST(sum(CASE WHEN NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS a4
         |      FROM p)
         |SELECT CAST(1 AS INTEGER) AS rule_id, '${GopherRuleNames(0)}' AS rule,
         |       s0 AS n_in, s0 - s1 AS n_fail, s1 AS n_out, a1 AS n_fail_alone FROM a
         |UNION ALL SELECT CAST(2 AS INTEGER), '${GopherRuleNames(1)}', s1, s1 - s2, s2, a2 FROM a
         |UNION ALL SELECT CAST(3 AS INTEGER), '${GopherRuleNames(2)}', s2, s2 - s3, s3, a3 FROM a
         |UNION ALL SELECT CAST(4 AS INTEGER), '${GopherRuleNames(3)}', s3, s3 - s4, s4, a4 FROM a
         |ORDER BY rule_id""".stripMargin,

    // X-138: same hashed-bigram buckets (md5-derived, bit-identical),
    // the smoothed importance ratio in HUGEINT integral arithmetic
    // (mirrors Spark's DECIMAL div exactly), one final double division.
    "dsir_weights" ->
      s"""WITH ${dsirCteSql("documents")}
         |SELECT doc_id, lang, n_grams, sum_fx,
         |       CAST(sum_fx AS DOUBLE) / n_grams AS dsir_weight
         |FROM dsir ORDER BY doc_id""".stripMargin,

    // X-140: the Gopher gate (all four predicates) feeding the DSIR
    // fragment re-estimated over the survivors, per-lang top-10.
    "curation_pipeline" ->
      s"""WITH $gopherBaseSql,
         |keep AS (SELECT doc_id, lang, text FROM gb
         |         WHERE ${gopherPredsSql.mkString(" AND ")}),
         |${dsirCteSql("keep")},
         |sc AS (SELECT doc_id, lang, n_grams,
         |         CAST(sum_fx AS DOUBLE) / n_grams AS dsir_weight FROM dsir),
         |rr AS (SELECT lang, doc_id, n_grams, dsir_weight,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY dsir_weight DESC, doc_id) AS INT) AS rk
         |       FROM sc)
         |SELECT lang, doc_id, n_grams, dsir_weight, rk
         |FROM rr WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
  )

  /** X-137 SQL mirror of [[gopherBase]] (CTE `gb`). */
  private lazy val gopherBaseSql =
    s"""gb AS (SELECT doc_id, lang, text, source, n_chars,
       |         CAST(len(toks) AS BIGINT) AS n,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
       |         CAST(list_aggregate(list_transform(toks,
       |           x -> CAST(len(x) AS BIGINT)), 'sum') AS BIGINT) AS totlen,
       |         ${occSql(GopherStopwords)} AS stop_hits
       |       FROM (SELECT doc_id, lang, text, source, n_chars, $toksSql AS toks FROM documents))""".stripMargin

  /** X-137 SQL mirror of [[gopherPreds]], same order. */
  private val gopherPredsSql = Seq(
    "(n >= 20 AND n <= 80)",
    "(totlen >= n * 3 AND totlen <= n * 5)",
    "(nd * 10 >= n * 3)",
    "(stop_hits >= 2)")

  /** X-138 SQL mirror of [[dsirScores]] as a CTE chain over `src`
    * (needs doc_id, lang, text): ends in CTE `dsir` with (doc_id,
    * lang, n_grams, sum_fx). HUGEINT `//` mirrors Spark's DECIMAL
    * `div` exactly on these magnitudes. */
  private def dsirCteSql(src: String): String =
    s"""dg0 AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
       |          i -> ${DedupQueries.gramSql(2)})) AS g
       |        FROM (SELECT doc_id, lang, $toksSql AS toks FROM $src)),
       |dg AS (SELECT doc_id, lang,
       |         CAST('0x' || substr(md5(g), 1, 14) AS BIGINT) % 1000000007 % $DsirBuckets AS bucket
       |       FROM dg0),
       |dc AS (SELECT bucket, count(*) AS c_r,
       |              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
       |       FROM dg GROUP BY bucket),
       |dtot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
       |                CAST(sum(c_t) AS BIGINT) AS n_t FROM dc),
       |dr AS (SELECT dc.bucket,
       |         CAST((CAST(dc.c_t AS HUGEINT) + 1) * (dtot.n_r + $DsirBuckets) * 1000000
       |              // ((CAST(dc.c_r AS HUGEINT) + 1) * (dtot.n_t + $DsirBuckets)) AS BIGINT) AS r_fx
       |       FROM dc CROSS JOIN dtot),
       |dsir AS (SELECT dg.doc_id, dg.lang, count(*) AS n_grams,
       |           CAST(sum(dr.r_fx) AS BIGINT) AS sum_fx
       |         FROM dg JOIN dr USING (bucket) GROUP BY 1, 2)""".stripMargin
}
