package graft

/** Automated plan review over every registered query (the `.explain`
  * loop from the build brief, as a regression gate): no cartesian
  * products anywhere, broadcast joins on the star-schema dims, pushed
  * parquet filters where a filter exists. Runs on sf0.001 — plans, not
  * data, are under test. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("driver contract: entry returns rows and every oracle key has a query") {
    SparkEntry.entry(spark).count() should be > 0L
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keySet.diff(qs) shouldBe empty
    qs.size should be >= 50
  }

  // The iterative connected-components queries checkpoint eagerly while
  // the DataFrame is CONSTRUCTED, so their executedPlan is just a scan
  // of the checkpointed RDD — auditing it would inspect nothing (and
  // execute the whole pipeline). Their join structure is audited via
  // the building block below instead.
  private val iterative = Set("dedup_clusters", "training_subset", "dedup_weight", "leakage_split", "dedup_artifacts", "dedup_method_matrix", "dedup_family", "ann_family")

  test("no registered query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(iterative)
      .filter(n => plan(n).contains("CartesianProduct"))
    offenders shouldBe empty
  }

  test("the near-dup pair pipeline (inside the iterative queries) joins on keys") {
    // the uncut sized frame keeps the full declarative lineage visible
    val p = operators.Dedup
      .jaccardPairsSized(operators.Dedup.sized(Tables.documents(spark, sf)), 0.5)
      .queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    // the candidate join must be prefix-bounded (AllPairs): the rarest-
    // first rank window + the ⌈t·n⌉ prefix-length filter (CollapseProject
    // inlines the `plen` alias, so the CEIL expression is the signature)
    p should include("row_number")
    p should include("CEIL")
  }

  // ngram_jaccard's registered form materializes the (tiny) prefix frame
  // before the self-join, so its executedPlan truncates at the checkpoint;
  // the declarative audit above IS the candidate-generation gate, and
  // DedupSpec pins that the materialized and declarative forms agree
  // row-for-row.

  test("containment candidates come from a shingle EQUI-join — prefix-bounded probe, no nested loop") {
    val p = plan("containment_dup")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the asymmetric AllPairs signature: rarest-first rank window + the
    // ⌈t·n⌉ prefix-length filter on the PROBE side only (the full-index
    // side carries no CEIL — that asymmetry is the operator)
    p should include("row_number")
    p.toLowerCase should include("ceil")
    // candidate join keyed on the shingle column
    p should include("[s")
  }

  test("the salted-join query joins on (key, salt) — hot keys spread over buckets") {
    plan("salted_user_value") should include("__salt")
  }

  test("decontaminate probes a broadcast benchmark set — the corpus side never shuffles for the join") {
    plan("decontaminate") should include("BroadcastHashJoin")
  }

  test("sequence_pack windows over a hash-partitioned language key, not a global sort") {
    plan("sequence_pack") should include("hashpartitioning(lang")
  }

  test("similarity top-k pre-prunes per physical partition before the per-query window") {
    // a q_id-only window would hold the whole scored corpus per query;
    // the two-phase Rank shape keys the first pass by SPARK_PARTITION_ID
    Seq("knn_cosine", "ann_lsh_bucket", "ivf_topk").foreach { q =>
      withClue(q) { plan(q) should include("SPARK_PARTITION_ID") }
    }
  }

  test("CPU-dense fact tables fan out past a single-split file layout") {
    // single-row-group local files scan as ONE task; the loaders must
    // repartition to session parallelism or every per-row operator
    // (regex, shingle md5, embedding math) runs single-threaded
    val p = spark.sparkContext.defaultParallelism
    Tables.documents(spark, sf).rdd.getNumPartitions should be >= p
    Tables.embeddings(spark, sf).rdd.getNumPartitions should be >= p
    Tables.lineitem(spark, sf).rdd.getNumPartitions should be >= p
  }

  test("star-schema queries broadcast their dimension joins") {
    Seq("revenue_by_nation", "brand_revenue", "rollup_region_nation",
        "user_value_by_nation").foreach { q =>
      withClue(q) { plan(q) should include("BroadcastHashJoin") }
    }
  }

  test("broadcast hints appear ONLY on provably bounded frames (allowlist gate)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // A broadcast() HINT forces the frame to every executor regardless
    // of its actual size — correct only when the frame is bounded by
    // CONSTRUCTION (dims, fixed seed/query sets, per-stratum summaries,
    // single-row totals), never by hope. AQE may still choose broadcast
    // at runtime for small measured frames — that's adaptive and fine;
    // this gate is about hints. Every entry documents WHY the hinted
    // frame is bounded; a new broadcast() anywhere else fails this test
    // until justified here. (The vocabulary join in doc_lm_score is the
    // canonical counter-example: distinct tokens grow with the corpus,
    // so it is shuffle-joined, not hinted.)
    val bounded: Map[String, Int] = Map(
      "knn_cosine" -> 1,           // 10 query vectors
      "ann_lsh_bucket" -> 1,       // 10 query vectors
      "cluster_balanced_sample" -> 1, // ≤8-row cluster-sizes frame (training + assignment hints sit behind the two materializations)
      "ivf_topk" -> 1,             // ≤20 probes (the trained centroid table is served from the driver through one broadcast value inside the argmax, not a hinted frame: 3 → 1 when the two hints on the packed centroid row went)
      "ivfpq_topk" -> 4,           // the ≤20-row probe set (the coarse index is served from the driver, as in ivf_topk: 6 → 4), + the MATERIALIZED 32-row PQ codebook on the candidate-code side and the ≤320-row ADC tables (whose lineage re-embeds the codebook's hint) — every hinted frame bounded by seeds × subspaces or the query load; nothing corpus-sized (label_propagation carries NO visible hints: its bounded frames sit behind materializations)
      // kmeans_centroids carries NO hint since its rounds run as Lloyd
      // steps on the driver (2 → 0): its rows are a local frame of the
      // last step's sums
      "link_pagerank" -> 2,        // final iteration's 1-row count + 1-row dangling-mass frames (earlier rounds' hints sit behind the per-round rank materialization)
      "link_hits" -> 1,            // final authority round's 1-row max-normalizer frame (earlier rounds' hints sit behind the per-round score materialization)
      "doc_lm_score" -> 1,         // single-row corpus total (the vocabulary is NOT hinted)
      "dsir_weights" -> 1,         // single-row (n_r, n_t) totals frame (the ≤1024-bucket ratio frame is NOT hinted — AQE broadcasts it by measured size)
      "curation_pipeline" -> 1,    // the embedded DSIR fragment's same single-row totals frame
      "join_key_skew" -> 1,        // single-row (total, n_keys) frame
      "bpe_merges" -> 3,           // 1-row token-total frames (×2) + round 2's rewrite hint; round 1's hints sit behind the per-round materialization since round 8
      "bm25_score" -> 2,           // per-term df (≤3 literal query terms) + single-row corpus stats
      "rrf_fusion" -> 2,           // the embedded bm25 arm's same two bounded frames
      // decontaminate carries NO hint since round 8: its synthesized
      // eval slice is corpus-proportional (10% of documents), so the
      // frame is bounded by OBSERVATION (AQE) not construction — the
      // doc_lm_score vocabulary rule (a real fixed benchmark set would
      // be broadcast adaptively anyway)
      "sequence_pack_global" -> 1, // per-(lang, shard) chunk offsets: stratum-cardinality
      "user_value_by_nation" -> 2, // customer + nation dims
      "revenue_by_nation" -> 3,    // customer + nation + region dims
      "rollup_region_nation" -> 3, // customer + nation + region dims
      "brand_revenue" -> 2,        // part + supplier dims
      // two-phase Quantile: per-group stats (|groups| rows) hinted in
      // the selection pass + the MATERIALIZED ≤ |groups|·|ranks|
      // target-bucket frame (materialization cut the histogram pass's
      // stats hint out of the downstream lineage — r7's adaptive
      // second-level gate)
      "median_order_value" -> 2,
      "order_value_p90" -> 2,
      // second-phase Quantile over deviations: its own 2 selectRanks
      // hints + the |groups|-row materialized median frame hinted in
      // the deviation input, re-embedded through the selection's
      // bucketed scan and stats lineage — all ≤ |groups| rows
      "order_value_mad" -> 4,
      "order_value_p90_sketch" -> 2, // exact arm of the sketch comparison = same Quantile shape
      "customer_quartiles" -> 3,   // the above + |groups| cutoff-row sets
      "price_outliers_iqr" -> 3,   // the above + |groups| fence-bounds rows joined back over the fact table
      "corpus_drift_l1" -> 2,      // per-source token totals (|sources| rows) + 1-row grand total (the per-token totals are NOT hinted)
      "chi2_tokens" -> 2,          // |langs|-row margin frame + 1-row total (the vocabulary-sized frames are shuffle-joined, not hinted)
      "sq8_error" -> 1,            // 64-row per-dimension bounds frame (the trained SQ codebook)
      "zorder_layout" -> 1,        // 1-row global min/max bounds frame
      "temperature_mix" -> 2,      // 1-row total + |langs|-row smoothed-boost frame
      // bloom_semi_prune's 1-row bitmap-map hint sits behind the
      // round-8 candidates materialization (the probed scan feeds two
      // arms) — no hint visible in the final plan
      "zscore_features" -> 1,      // per-segment moment stats: |segments| rows
      "source_overlap" -> 2,       // per-source distinct-shingle sizes: |sources| rows, hinted on each pair side
      "ann_recall" -> 6,           // 10-query frames: lsh's 1 + lsh_mp's 1 (multi-probe query fan-out) + ivf's 1 (probes; its centroids are served from the driver, 3 → 1) + r14: recallOf's ≤|queries|·k approx side hinted per branch (×3 — it arrives behind checkpoints with no stats and fell back to SortMergeJoin); truth's own hint sits behind its round-8 materialization instead of re-embedding ×3
      "events_hourly_filled" -> 1, // |types| distinct frame crossed with the generated hour axis
      "hourly_anomalies" -> 1,     // same |types| distinct frame (the X-76 grid is its input)
      "equidepth_hist" -> 2,       // two-phase Quantile shape: per-group stats hinted in the selection pass + the materialized ≤ |bins| target-bucket frame
      "fk_orphans" -> 2,           // the 25-row nation dim, hinted on its two FK edges (growing parents are shuffle-joined)
      "domain_select" -> 1,        // 1-row domain-totals frame (the distinctive vocabulary is shuffle-joined, per doc_lm_score's rule)
      "stopword_strip" -> 1,       // top-3 stopword frame: k-bounded by construction (the vocabulary-sized df aggregate is NOT hinted)
      "global_ids" -> 1,           // per-partition offset frame: ≤ P rows by construction
      "pq_error" -> 2,             // M×8 = 32-row trained-centroid frames (round-2's lineage re-embeds round-1's hint)
      "join_size_estimate" -> 6,   // per star edge: 1-row right-side stats + 1-row realized-count frames (3 edges × 2)
      "pmi_collocations" -> 2,     // 1-row token-total and 1-row bigram-total frames (the vocabulary-sized unigram frame is shuffle-joined, never hinted)
      "embedding_gram_pca" -> 14,  // 64-row eigenvector and 1-row L∞-max frames through 2 power rounds — every reference past the MATERIALIZED 4096-row Gram frame re-embeds the earlier rounds' hints (the kmeans/bpe_merges lineage effect); nothing corpus-sized is hinted
      "pareto_docs" -> 1,          // frontier frame: ≤ |distinct token-count values| rows (value-domain-bounded, further thinned to the strictly-improving lengths)
      "winsorized_mean" -> 3,      // two-phase Quantile shape (2 hints, as median_order_value) + the |groups|-row clip-bounds frame joined back
      "decayed_engagement" -> 1,   // 1-row reference-date frame
      "revenue_cusum" -> 1,        // 1-row (N, S) totals frame
      "scan_prune_audit" -> 1,     // 4-row literal predicate frame
      "conversion_latency" -> 2,   // ONE two-phase Quantile selection (2 hints, the median_order_value shape — all three ranks in one pass since round 8) over the MATERIALIZED delay frame — the delays themselves are never hinted
      "budget_allocation" -> 3,    // 1-row corpus total (embedded again in the leftover-seat frame's lineage) + the 1-row leftover-seat count (all other frames are |langs| rows)
      "lateness_audit" -> 2,       // ≤ P per-partition prefix-max offsets + the 3-row literal bounds frame
      "abc_analysis" -> 5,         // customer + nation dims and the 1-row total (whose lineage re-embeds both dim hints)
      "next_token_topk" -> 2,      // 20-row context frame (k-bounded via the Rank pre-prune), its hint re-embedded through the per-context totals lineage (the totals join itself stays a shuffle join)
      // anchor_text_agg carries NO visible hint since round 9: its 1-row
      // corpus-count hint sits behind the (url, src, anchor) rollup
      // materialization that single-executes the link-synthesis lineage
      "kcore_peel" -> 1,           // the 1-row convergence probe over the MATERIALIZED label frame
      "hard_negatives" -> 3,       // the 10-query frame hinted in both scoring passes (pos_max + negatives) + the 10-row pos_max frame itself
      "centroid_outliers" -> 3,    // ≤8-row centroid frame (the driver-held trained table as a local frame) in the cosine recompute (visible in both its consumers: sizes + top-k) + the ≤8-row cluster-sizes frame (the assignment sits behind its materialization)
      "ivf_nprobe_curve" -> 12,    // 3 probe arms × the ≤10·nprobe probe set × 2 consumers of the candidate frame (the centroids inside nearestClusters are served from the driver, no longer a hinted packed row: 18 → 12) (top-k + n_cand count) + r14: per arm, recallOf's ≤|queries|·k topk side and the ≤|queries|-row n_cand aggregate (both stats-less behind the arm's lineage, previously SortMergeJoined) — every hinted frame bounded by seeds or the query load; truth/assignment hints sit behind their materializations
      "ivf_maintenance" -> 1,      // the 1-row load-totals frame over the MATERIALIZED 8-row report (both assignment arms read the driver-held centroids unhinted)
      "ks_drift" -> 4,             // |sources|-row distinct frame on the ECDF grid cross (re-embedded through BOTH sides of the pair self-join) + the |sources|-row totals frame on both pair sides — every hinted frame catalog-constant-bounded
      "textrank_keywords" -> 1,    // final round's 1-row node-count frame (earlier rounds' hints sit behind the per-round score materialization — the link_pagerank shape)
      "heaps_law" -> 3,            // 1-row bounds frame on the decile bucketing (re-embedded through the doc-stats AND first-occurrence consumers) + the final cutoff join — every hinted frame 1 row
      "mmr_select" -> 12,          // r14: the greedy rounds' frames are ALL bounded by construction (pool ≤ |queries|·P, sims ≤ |queries|·P², selections ≤ |queries|·k) but sit behind checkpoints with no stats, so every round's join was a SortMergeJoin (24 of them); the hints: sims-build pool side (1), per round the ≤30-row selection set (visible in its anti-join + simToSel consumers) and the ≤|queries|·P-row simToSel frame, round-3's selPrev union re-embedding round-2's hints — plan diff SortMergeJoin 24 → 0
    )
    val counts = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(iterative)
      .map { n =>
        n -> SparkEntry.queries(n)(spark, sf).queryExecution.analyzed
          .collect { case h: ResolvedHint => h }.size
      }
      .filter(_._2 > 0).toMap
    counts shouldEqual bounded
  }

  test("AQE is on and the assumed runtime broadcasts actually materialize (r12 audit)") {
    // erasure_audit and merge_apply deliberately carry NO broadcast
    // hint (neither a deletion-request set nor a CDC delta of a 100 TB
    // table may be ASSUMED small) and their scaladoc instead states
    // "AQE may still broadcast a measured-small one at runtime". Until
    // r12 that was an assumption; this executes both at sf0.1 and reads
    // the FINAL adaptive plan as evidence the runtime broadcast really
    // happens — so a config drift that silently turned AQE off (every
    // shuffle join degrading to a full exchange) fails loudly here.
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold") should not be "-1"
    val sf01 = "/root/testdata/sf0.1"
    Seq("erasure_audit", "merge_apply").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf01)
      df.collect() // executes THIS queryExecution, finalizing the adaptive plan
      val p = df.queryExecution.executedPlan.toString
      withClue(s"$q final adaptive plan:\n$p\n") {
        p should include("isFinalPlan=true")
        p should include("BroadcastHashJoin")
      }
    }
  }

  test("unpartitioned windows run ONLY over stratum-cardinality frames (allowlist gate)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    // A window with no PARTITION BY funnels its whole input through one
    // task — a scale killer over row-cardinality frames, but fine (and
    // sometimes necessary) over frames whose size is bounded by a
    // stratum count. Every allowlisted query documents what bounds the
    // windowed frame; a new unpartitioned window anywhere else fails
    // here until justified.
    val allowed = Set(
      "running_daily_ratio",  // ≤ |days| rows (daily aggregate)
      "rolling_revenue_7d",   // ≤ |days| rows (daily aggregate)
      "sequence_pack_global", // ≤ |langs|×8 rows (stratum chunk offsets)
      "open_orders_by_day",   // ≤ |days| rows (sweep-line delta aggregate)
      "rrf_fusion",           // global top-20 ranking: the final window's input is Rank's pre-pruned ≤ k × partitions survivors (the constant group key folds away)
      "equidepth_hist",       // bin numbering over the ≤ |bins| rank-selected rows (below it sits the Quantile target-bucket Join)
      "stopword_strip",       // top-3 stopword ranking: same Rank pre-pruned ≤ k × partitions input as rrf_fusion
      "global_ids",           // prefix-sum over the ≤ P per-partition count rows
      "pareto_docs",          // strictly-shorter running max over the per-length maxima: ≤ |distinct token-count values| rows (value-domain-bounded aggregate, not corpus-bound)
      "revenue_cusum",        // ≤ |days| rows (daily aggregate; prefix + peak windows)
      "budget_allocation",    // remainder rank over the ≤ |langs| per-language share rows
      "lateness_audit",       // exclusive prefix-max over the ≤ P per-partition maxima rows (the global_ids shape for a MAX monoid)
      "next_token_topk",      // top-20 context ranking: same Rank pre-pruned ≤ k × partitions input as stopword_strip/rrf_fusion
      "abc_analysis",         // cumulative share over the ≤ |nations| aggregate rows
      "heaps_law"             // prefix sums over the 10-row decile axis (10 rows by construction)
    )
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(iterative)
      .filter { n =>
        // logical plan: AQE wraps the physical tree and hides WindowExec
        SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
          .collect { case w: LogicalWindow if w.partitionSpec.isEmpty => w }
          .nonEmpty
      }
    offenders.toSet shouldEqual allowed
  }

  test("IVF probe sides assign map-side — no window partitioned on vec_id") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    // nearestClusters takes every top-n through the native argmax inside
    // the scan; a window partitioned on vec_id is the n×k shuffle-plus-
    // sort assignment form it replaced. These five queries probed their
    // query vectors' nearest clusters through that window.
    val offenders = Seq("ivf_topk", "ivfpq_topk", "ivf_nprobe_curve",
        "ann_recall", "ann_family")
      .filter { n =>
        SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
          .collect {
            case w: LW if w.partitionSpec.flatMap(_.references.toSeq)
              .exists(_.name == "vec_id") => w
          }
          .nonEmpty
      }
    offenders shouldBe empty
  }

  test("sub-document dedup aggregates on the chunk hash — never a window over it") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    // X-161/X-162 deliberately find first-occurrence / template chunks
    // with a groupBy on the content hash (map-side partial agg absorbs
    // a million-occurrence boilerplate hash) — a window partitioned on
    // the hash would funnel exactly those hot groups through one task.
    for (n <- Seq("paragraph_dedup", "boilerplate_strip")) {
      SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
        .collect { case w: LogicalWindow => w } shouldBe empty
    }
  }

  test("no window partitions a raw base-table scan on a tiny report key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LW}
    // A window partitioned SOLELY on a handful-of-values report
    // dimension pins parallelism at that handful forever — each task
    // sorts n/|key| rows no matter how big n grows (the round-5 exact-
    // quantile finding). Such keys may only partition windows over
    // already-reduced frames: below the window there must be an
    // Aggregate (histogram/stratum frames), a Join (rank-selected
    // bucket subsets), or Rank.topKPerGroup's pre-prune window (keyed
    // by SPARK_PARTITION_ID, which bounds survivors at k × partitions)
    // — never a bare scan+filter+project lineage. The two-phase
    // Quantile and Rank operators are the compliant ways to compute
    // exact per-report-key order statistics.
    val lowCard = Set( // sub-16-distinct-value columns in the testdata
      "o_orderpriority", "o_orderstatus", "l_returnflag", "l_linestatus",
      "c_mktsegment", "event_type", "lang", "r_name", "media_type")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(iterative)
      .flatMap { n =>
        SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
          .collect {
            case w: LW if w.partitionSpec.nonEmpty &&
              w.partitionSpec.flatMap(_.references.toSeq).map(_.name)
                .forall(lowCard) &&
              w.child.collectFirst {
                case a: Aggregate => a: Any
                case j: Join => j: Any
                case p if p.expressions.exists(_.exists {
                  case _: org.apache.spark.sql.catalyst.expressions.SparkPartitionID => true
                  case _ => false
                }) => p: Any
              }.isEmpty => n
          }
      }
    offenders shouldBe empty
  }

  test("scans prune to exactly the referenced columns") {
    // Column pruning must reach the parquet reader: a scan that reads
    // all columns for a narrow projection multiplies 100 TB scan I/O by
    // the table width. Representative checks across the three fact
    // tables (the repartition fan-out must not block pruning).
    withClue("token_counts reads only text") {
      plan("token_counts") should include("ReadSchema: struct<text:string>")
    }
    withClue("knn_cosine reads only vec_id+embedding (label pruned)") {
      plan("knn_cosine") should include(
        "ReadSchema: struct<vec_id:bigint,embedding:array<float>>")
    }
    withClue("corpus_mix reads only doc_id+source") {
      plan("corpus_mix") should include(
        "ReadSchema: struct<doc_id:bigint,source:string>")
    }
  }

  test("scan-level filters reach the parquet reader") {
    withClue("q1_pricing_summary") {
      plan("q1_pricing_summary") should include("PushedFilters: [IsNotNull(l_shipdate)")
    }
  }

  test("per-group top-k queries never plan a global sort before the window") {
    // TakeOrderedAndProject or a final Sort for the ORDER BY sink is fine;
    // what must not happen is a Sort over the full frame feeding a limit-less
    // window — window sorts are partition-local after hash exchange.
    val p = plan("top_orders_per_customer")
    p should include("Window")
    p should include("hashpartitioning(o_custkey")
  }

  test("selectLinks plans one exchange: hash(company) serves the URL dedup and the window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    val candidates = Seq(
      ("acme", "https://acme.example", "/about", "About us"),
      ("acme", "https://acme.example", "/about", "Company"),
      ("beta", "https://beta.example", "/team", "Leadership"))
      .toDF("company", "website", "href", "anchor_text")
    val planned = operators.LinkSelection.selectLinks(candidates, k = 3)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    planned.collect { case e: ShuffleExchangeLike => e } should have size 1
  }

  test("the transparent sketches aggregate with a PARTIAL map-side phase") {
    // The whole point of the KMV / bottom-k sample sketches is the
    // fixed-size mergeable state that collapses per task BEFORE the
    // exchange. If a future edit merges the exact-distinct arm into the
    // same aggregate (the pre-round-8 shape), the planner's Expand
    // forces the typed aggregator out of its partial phase and the
    // sketch silently shuffles raw rows — this gate pins the
    // partial_<aggregator> node so that regression fails loudly.
    withClue("approx_distinct_tokens") {
      plan("approx_distinct_tokens") should include("partial_kmvaggregator")
    }
    withClue("order_value_p90_sketch") {
      plan("order_value_p90_sketch") should include("partial_bottomksampleaggregator")
    }
  }
}
