package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}

/** r11 (round-10 verdict item #8): the shared-SQL splice map is the
  * engine's anti-drift guarantee — a fragment edited in ONE place must
  * reach every consumer. Nothing previously TESTED that: a fragment
  * silently dropped from a consumer (inlined stale copy, renamed CTE)
  * would keep both sides green until the semantics diverged. Three
  * tripwires:
  *
  *  1. package-private fragments: containment asserted directly from
  *     the live vals — any mutation of the fragment keeps the test
  *     green only if every pinned consumer still embeds the MUTATED
  *     text (i.e. the splice is real, not a copy).
  *  2. object-private fragment families: pinned by a distinctive
  *     literal snippet + the minimum consumer count. Editing the
  *     fragment breaks the snippet → the spec fails → the editor must
  *     re-pin, consciously re-acknowledging the consumer list.
  *  3. live-constant kills: for the parameterized shared constants the
  *     splice carries (Jaccard/containment thresholds), a perturbed
  *     value must CHANGE a consumer's output on real data — proof the
  *     constant binds, so a mutated fragment cannot pass unnoticed.
  */
class OracleSpliceSpec extends SparkSpec {

  private val oracle = SparkEntry.oracleSql
  private def embedders(fragment: String): Seq[String] =
    oracle.collect { case (n, sql) if sql.contains(fragment) => n }.toSeq.sorted

  test("package-private fragments reach every pinned consumer verbatim") {
    val pins: Seq[(String, String, Seq[String])] = Seq(
      ("shSql", DedupQueries.shSql,
        Seq("containment_dup", "dedup_assign", "dedup_clusters", "dedup_family",
          "dedup_weight", "ingest_pipeline", "leakage_split", "minhash_est_err",
          "minhash_incremental", "minhash_lsh", "ngram_jaccard")),
      ("paraSql", DedupQueries.paraSql,
        Seq("boilerplate_strip", "paragraph_dedup")),
      ("ccSql", DedupQueries.ccSql,
        Seq("dedup_clusters", "training_subset")),
      ("gramSql(3)", DedupQueries.gramSql(3),
        Seq("decontaminate", "ngram_novelty", "source_overlap",
          "containment_dup", "dedup_clusters", "dedup_family",
          "ingest_pipeline", "minhash_lsh", "ngram_jaccard",
          "tf_cosine_pairs")),
      ("foundedSql", DocQueries.foundedSql,
        Seq("extract_stats", "lead_extract", "leadsight_pipeline")),
      ("aboutSql", DocQueries.aboutSql,
        Seq("extract_stats", "lead_extract")),
      ("emailSql", DocQueries.emailSql,
        Seq("extract_stats", "lead_extract", "leadsight_pipeline")))
    pins.foreach { case (label, frag, consumers) =>
      assert(frag.nonEmpty, s"$label is empty")
      val got = embedders(frag)
      consumers.foreach { c =>
        assert(got.contains(c),
          s"$label no longer reaches consumer '$c' (reached: ${got.mkString(", ")})")
      }
      assert(got.size >= consumers.size,
        s"$label consumer set shrank: ${got.mkString(", ")}")
    }
  }

  test("object-private fragment families are pinned by distinctive snippets") {
    // snippet -> (min embedding consumers, two names that must be among them).
    // A fragment edit breaks its snippet here — update BOTH, re-checking
    // the consumer list (that conscious re-pin IS the tripwire).
    val pins: Seq[(String, Int, Seq[String])] = Seq(
      // lloydRoundSql's centroid rebuild (kmeans/ivf/ann family)
      ("list(val ORDER BY pos)", 6, Seq("kmeans_centroids", "ann_family")),
      // winnowSql's encoded window-min tie-break constant (2^30 − 1)
      ("1073741823", 2, Seq("winnow_fingerprints", "winnow_overlap")),
      // the shared md5-hash-to-bigint token hash (engine-wide HashMod)
      ("% 1000000007", 20, Seq("doc_fingerprint", "minhash_lsh")),
      // gopher rule base: the distinctive type-token-ratio predicate
      ("(nd * 10 >= n * 3)", 2, Seq("gopher_rules", "curation_pipeline")),
      // crawl canonicalization splice (canonSql family): the tracking-
      // param strip is its distinctive rule
      ("(utm_[a-z_]+|fbclid|gclid)=[^&#]*",
        2, Seq("url_canonical_dedup", "crawl_frontier")))
    pins.foreach { case (snippet, minN, sample) =>
      val got = embedders(snippet)
      assert(got.size >= minN,
        s"snippet '$snippet' embeds in ${got.size} < $minN oracles: ${got.mkString(", ")}")
      sample.foreach { c =>
        assert(got.contains(c),
          s"snippet '$snippet' no longer reaches '$c' (reached: ${got.mkString(", ")})")
      }
    }
  }

  test("the spliced thresholds BIND: perturbing them changes consumer output") {
    val sf = "/root/testdata/sf0.001"
    import graft.operators.{Dedup, Scratch}
    val sized = Scratch.cut(Dedup.sized(Tables.documents(spark, sf)))
    // Jaccard 0.5 (shSql+ccSql consumers): a stricter threshold must
    // drop at least one pair — the constant is live, so a fragment
    // mutation of it would hash-diverge its consumers
    val at50 = Dedup.jaccardPairsSized(sized, 0.5).count()
    val at90 = Dedup.jaccardPairsSized(sized, 0.9).count()
    assert(at50 > at90 && at90 >= 0,
      s"jaccard threshold does not bind on this corpus (0.5→$at50, 0.9→$at90)")
    // containment: the corpus's pairs all sit at 1.0 (planted exact
    // dups), so the corpus can't separate thresholds — build a literal
    // frame with PARTIAL containments straddling 0.8 instead
    import spark.implicits._
    def toksDoc(id: Long, toks: Seq[String]) = (id, toks.mkString(" "))
    val base = (1 to 20).map("t" + _)
    val partial = Seq(
      toksDoc(1, base),                                   // the long doc
      toksDoc(2, base.take(12) ++ Seq("uX", "uY")),       // cont ≈ 0.83
      toksDoc(3, base.take(6) ++ Seq("uA", "uB", "uC", "uD"))) // ≈ 0.5
      .toDF("doc_id", "text")
    val psized = Dedup.sized(partial)
    val c50 = Dedup.containmentPairsSized(psized, 0.5).count()
    val c80 = Dedup.containmentPairsSized(psized, 0.8).count()
    val c95 = Dedup.containmentPairsSized(psized, 0.95).count()
    assert(c50 > c80 && c80 > c95,
      s"containment threshold does not bind (0.5→$c50, 0.8→$c80, 0.95→$c95)")
  }
}
