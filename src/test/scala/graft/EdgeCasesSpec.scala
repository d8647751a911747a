package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Rank}

/** Degenerate-input behavior of the iterative/heavy operators: empty
  * and trivially small frames must flow through, not throw — at 100 TB
  * a partition-pruned or filtered-to-nothing input is an everyday
  * occurrence, not an error. */
class EdgeCasesSpec extends SparkSpec {

  test("jaccardPairs on an empty corpus and on shingle-less docs is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Dedup.jaccardPairs(empty, 0.5).count() shouldEqual 0
    // two-token docs produce no 3-shingles → no pairs (not a crash)
    val short = Seq(1L -> "a b", 2L -> "a b").toDF("doc_id", "text")
    Dedup.jaccardPairs(short, 0.5).count() shouldEqual 0
  }

  test("connectedComponents on an empty pair frame converges to empty labels") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("d1", "d2")
    Dedup.connectedComponents(none).count() shouldEqual 0
    // filtered to nothing, in one edge partition and in 4
    val filtered = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2").filter(col("d1") > 100)
    Dedup.connectedComponents(filtered).count() shouldEqual 0
    withSplitEdges(Dedup.connectedComponents(filtered.repartition(4)).count()) shouldEqual 0
  }

  test("connectedComponents: a null endpoint becomes a (null, null) row, its partner a singleton") {
    import spark.implicits._
    val pairs = Seq((Some(5L), None), (Some(1L), Some(2L))).toDF("d1", "d2")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    val expected = Set[(Option[Any], Option[Any])]((None, None),
      (Some(5L), Some(5L)), (Some(1L), Some(1L)), (Some(2L), Some(1L)))
    rows(Dedup.connectedComponents(pairs)) shouldEqual expected
    withSplitEdges(rows(Dedup.connectedComponents(pairs.repartition(4)))) shouldEqual expected
  }

  test("connectedComponents keeps int ids int") {
    import spark.implicits._
    val pairs = Seq((3, 2), (2, 1), (10, 11)).toDF("d1", "d2")
    val cc = Dedup.connectedComponents(pairs)
    cc.schema.map(f => f.name -> f.dataType.simpleString) shouldEqual
      Seq("node" -> "int", "label" -> "int")
    cc.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap shouldEqual
      Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10)
  }

  test("connectedComponents labels a self-loop with its own id") {
    import spark.implicits._
    val cc = Dedup.connectedComponents(Seq((7L, 7L), (9L, 8L)).toDF("d1", "d2"))
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldEqual
      Map(7L -> 7L, 8L -> 8L, 9L -> 8L)
  }

  test("connectedComponents still throws when the loop runs out of rounds") {
    import spark.implicits._
    // a 64-link chain over 4 edge partitions needs several rounds
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("d1", "d2").repartition(4)
    val e = intercept[IllegalStateException] {
      withSplitEdges(Dedup.connectedComponents(pairs, maxIters = 1))
    }
    e.getMessage should include("did not converge within 1 rounds")
  }

  test("topKPerGroup on an empty frame is empty and keeps the rk column") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Double)].toDF("g", "id", "score")
    val r = Rank.topKPerGroup(empty, 3, Seq("g"), Seq(col("score").desc, col("id")))
    r.columns should contain("rk")
    r.count() shouldEqual 0
  }

  test("minhash signatures of an empty shingle stream are an empty frame") {
    import spark.implicits._
    val e = Seq.empty[(Long, String)].toDF("doc_id", "s")
    Dedup.minhashSigAgg(e).count() shouldEqual 0
  }

  /** A documents.parquet dir with degenerate rows: short docs (below the
    * 20-token window), a doc carrying none of the bm25 query terms, and
    * two docs sharing a verbatim 20-token span. */
  private lazy val tinyDocsDir: String = {
    import spark.implicits._
    val span = (1 to 25).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, "en", "srcA", s"$span data stream"),        // shares span with doc 2
      (2L, "en", "srcB", s"prefix $span vector"),      // shares span with doc 1
      (3L, "en", "srcC", "tiny doc below window"),     // 4 tokens → 0 windows
      (4L, "en", "srcD", "no query terms here at all " + (1 to 20).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text"))) // `length` is shadowed by Matchers
    val dir = java.nio.file.Files.createTempDirectory("edge-docs").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** A tiny orders.parquet with known values and a calendar gap. */
  private lazy val tinyOrdersDir: String = {
    import spark.implicits._
    val rows =
      // ten urgent orders priced 1..10 on day 1, plus a day-2 order and
      // one after a >6-day gap (pins RANGE- vs ROWS-frame semantics)
      (1 to 10).map(i => (i.toLong, "1-URGENT", i.toDouble, "2020-01-01")) ++ Seq(
        (11L, "2-HIGH", 50.0, "2020-01-02"),
        (12L, "2-HIGH", 25.0, "2020-01-10"))
    val df = rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice", "d")
      .withColumn("o_orderdate", col("d").cast("date")).drop("d")
    val dir = java.nio.file.Files.createTempDirectory("edge-orders").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("order_value_p90 selects the value AT rank ceil(0.9n) — no interpolation") {
    val out = SparkEntry.queries("order_value_p90")(spark, tinyOrdersDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out("1-URGENT") shouldEqual ((10L, 9.0)) // rank ceil(9.0) = 9 of 1..10
    out("2-HIGH") shouldEqual ((2L, 50.0))   // rank ceil(1.8) = 2 of (25, 50)
  }

  test("rolling_revenue_7d is a RANGE frame: calendar gaps shrink the window") {
    val out = SparkEntry.queries("rolling_revenue_7d")(spark, tinyOrdersDir)
      .collect().map(r => (r.getDate(0).toString, r.getDouble(2), r.getLong(3)))
    out.toSeq shouldEqual Seq(
      ("2020-01-01", 55.0, 1L),  // 1+2+…+10
      ("2020-01-02", 105.0, 2L), // previous day in range
      ("2020-01-10", 25.0, 1L))  // 8-day gap: a ROWS frame would say 130
  }

  test("substring_dup_spans: shared 20-token spans count; short docs report 0 windows") {
    val out = SparkEntry.queries("substring_dup_spans")(spark, tinyDocsDir)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // doc1: 27 tokens → 8 windows; 6 of them lie inside the shared 25-token span
    out(1L)._1 shouldEqual 8
    out(2L)._1 shouldEqual 8 // 27 tokens as well (prefix + span + vector)
    out(1L)._2 shouldEqual 6 // windows fully inside the shared span
    out(2L)._2 shouldEqual 6
    out(3L) shouldEqual ((0, 0L)) // below the window: 0 windows, 0 dups
    out(4L)._2 shouldEqual 0L     // unique content: no dup windows
  }

  /** Empty documents + embeddings tables with the production schemas:
    * a fully filtered-out (or partition-pruned-to-nothing) corpus. */
  private lazy val emptyCorpusDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge-empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("rrf_fusion writes nullable rank columns on every run over an empty corpus") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.Type.Repetition
    val out = java.nio.file.Files.createTempDirectory("edge-rrf").toString
    (1 to 5).foreach { run =>
      val dir = s"$out/$run"
      SparkEntry.queries("rrf_fusion")(spark, emptyCorpusDir).coalesce(1)
        .write.parquet(dir)
      val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toURI), spark.sparkContext.hadoopConfiguration))
      val schema = try reader.getFileMetaData.getSchema finally reader.close()
      Seq("bm25_rank", "tf_rank").foreach { c =>
        withClue(s"run $run, $c: ") {
          schema.getType(schema.getFieldIndex(c)).getRepetition shouldEqual Repetition.OPTIONAL
        }
      }
    }
  }

  test("selection ops (X-137..X-140) flow through an empty corpus") {
    // the funnel skeleton survives: 4 rule rows with zero docs entering
    // rule 1 (later stages are SQL-null — sum over zero rows — in both
    // engines, so the cross-engine contract holds even here)
    val funnel = SparkEntry.queries("gopher_rules")(spark, emptyCorpusDir).collect()
    funnel.length shouldEqual 4
    funnel.head.getAs[Long]("n_in") shouldEqual 0L
    // per-doc outputs are empty frames, never a crash: dsir's totals
    // frame is one all-null row crossed against zero buckets, and the
    // Lloyd training loop runs on zero seeds straight through
    SparkEntry.queries("dsir_weights")(spark, emptyCorpusDir).count() shouldEqual 0
    SparkEntry.queries("curation_pipeline")(spark, emptyCorpusDir).count() shouldEqual 0
    SparkEntry.queries("cluster_balanced_sample")(spark, emptyCorpusDir)
      .count() shouldEqual 0
  }

  test("graph/retrieval/selection ops (X-141..X-154) flow through an empty corpus") {
    // zero nodes → zero communities / walks / distances; zero vectors
    // → the greedy loops (MMR, farthest-point) and both trained
    // indexes (coarse Lloyd, PQ codebook) run on empty seed frames
    // straight through to empty outputs — never an NPE from a
    // first()/collect on an empty training frame (kcenter's argmax
    // fold yields an all-null row whose seed join matches nothing)
    SparkEntry.queries("label_propagation")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("random_walks")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("bfs_distances")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("mmr_select")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("ivfpq_topk")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("kcenter_seeds")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("kcore_peel")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("phash_neardup")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("weighted_sample")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("winnow_fingerprints")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("winnow_overlap")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("link_prediction")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("lsh_recall")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("anchor_text_agg")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("tf_cosine_pairs")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("source_datacard")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("dedup_assign")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    SparkEntry.queries("ngram_novelty")(spark, emptyCorpusDir)
      .count() shouldEqual 0
    // the capstones' Scratch artifacts of an empty corpus are read back
    // with the written schema (an all-empty write may emit no part
    // files); dedup_family keeps only its 4×4 method grid, all zeros
    val fam = SparkEntry.queries("dedup_family")(spark, emptyCorpusDir).collect()
    fam.map(_.getAs[String]("kind")).toSet shouldEqual Set("matrix")
    fam.length shouldEqual 10
    fam.map(_.getAs[Long]("n_common")).toSet shouldEqual Set(0L)
    SparkEntry.queries("ann_family")(spark, emptyCorpusDir)
      .count() shouldEqual 0
  }

  test("bm25_score: only docs carrying a query term appear; scores are positive") {
    val out = SparkEntry.queries("bm25_score")(spark, tinyDocsDir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bm25")).toMap
    out.keySet shouldEqual Set(1L, 2L) // docs 3 & 4 carry no query term
    all(out.values) should be > 0.0
  }

  /** A tiny events.parquet with a planted rate spike and a purchase
    * with a known pre-purchase activity burst. */
  private lazy val tinyEventsDir: String = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    // one view per hour for 25 hours, then a 10-event burst in hour 25
    val hourly = (0 to 24).map(h =>
      (h.toLong + 1, ts(h * 3600000L), 1L, "view", 1.0, "{}"))
    val burst = (1 to 10).map(i =>
      (100L + i, ts(25 * 3600000L + i * 1000L), 1L, "view", 1.0, "{}"))
    val extra = Seq(
      (200L, ts(35 * 60000L), 1L, "view", 1.0, "{}"),
      (201L, ts(45 * 60000L), 1L, "view", 1.0, "{}"),
      (300L, ts(3600000L + 10000L), 1L, "purchase", 1.0, "{}"))
    val df = (hourly ++ burst ++ extra)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("edge-events").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("hourly_anomalies: a planted burst flags, nothing flags before a full baseline") {
    val out = SparkEntry.queries("hourly_anomalies")(spark, tinyEventsDir)
      .collect()
      .map(r => ((r.getTimestamp(0).getTime, r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(5))))
    val flagged = out.filter(_._2._3)
    flagged.length shouldEqual 1
    val ((ts, tpe), (n, w, _)) = flagged.head
    tpe shouldEqual "view"
    n shouldEqual 10L // the burst hour
    w shouldEqual 24L
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    ts shouldEqual base + 25 * 3600000L
    // the flat-baseline hours before the burst never flag
    out.filter(t => t._1._2 == "view" && t._2._1 == 1L)
      .foreach(_._2._3 shouldBe false)
  }

  test("event_window_join: only strictly-prior events inside 30 minutes count") {
    val out = SparkEntry.queries("event_window_join")(spark, tinyEventsDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    out.length shouldEqual 1 // one purchase
    // purchase at 01:00:10 — prior views at 01:00:00 (10 s),
    // 00:45 (15m10s), 00:35 (25m10s); the 00:00:00 view is outside
    out.head shouldEqual ((300L, 3L, 10000000L))
  }

  test("zorder_layout survives a constant key dimension (no divide-by-zero)") {
    import spark.implicits._
    // every order on the same day: the day coordinate is constant and
    // must map to 0, not divide by zero (a single-day drop is routine)
    val rows = (1 to 8).map(i => (i.toLong, i.toLong * 10, "2020-03-01"))
    val df = rows.toDF("o_orderkey", "o_custkey", "d")
      .withColumn("o_orderdate", col("d").cast("date")).drop("d")
    val dir = java.nio.file.Files.createTempDirectory("edge-zorder").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("zorder_layout")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(4)))
    // both layouts still cover all 8 rows; every day span is 0
    Seq("zorder", "bydate").foreach { l =>
      out.filter(_._1 == l).map(_._2).sum shouldEqual 8L
    }
    all(out.map(_._3)) shouldEqual 0L
  }

  test("temperature_mix on a single-language corpus is the identity mixture") {
    val out = SparkEntry.queries("temperature_mix")(spark, tinyDocsDir).collect()
    out.length shouldEqual 1
    val r = out.head
    // one stratum: boost is exactly 1.0 and every doc draws one copy
    (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)) shouldEqual
      (("en", 4L, 1000000L, 1.0, 4L))
  }

  test("build_postings: df band keeps shared tokens only, gaps and fingerprints exact") {
    val out = SparkEntry.queries("build_postings")(spark, tinyDocsDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
      .toMap
    // tok1..tok25 appear in docs 1 and 2 only: posting [1,2], gap [1],
    // fingerprint (0·31+1) mod P = 1
    (1 to 25).foreach { i =>
      out(s"tok$i") shouldEqual ((2L, 1L, 2L, 1L, 1L))
    }
    // nothing below the df floor leaks through
    out.values.foreach(_._1 should be >= 2L)
  }

  test("chi2_tokens on a corpus below the df floor is empty, not a crash") {
    SparkEntry.queries("chi2_tokens")(spark, tinyDocsDir).count() shouldEqual 0
  }

  test("sequence_pack_global: chunk ids are globally contiguous across strata") {
    val out = SparkEntry.queries("sequence_pack_global")(spark, tinyDocsDir)
      .collect()
    out.length shouldEqual 4
    // every stratum here is tiny (≪ 2048 tokens), so each (lang, shard)
    // stratum contributes exactly one chunk and ids are 0..n_strata-1
    val ids = out.map(_.getAs[Long]("seq_id")).toSet
    ids shouldEqual (0L until ids.size).toSet
    all(out.map(_.getAs[Long]("seq_offset"))) should be >= 0L
  }

  test("ols_trend: a single-date group has no slope (NULL, not a crash or a 0)") {
    val out = SparkEntry.queries("ols_trend")(spark, tinyOrdersDir).collect()
      .map(r => r.getString(0) -> r).toMap
    // all ten 1-URGENT orders share one date → den = nΣx²−(Σx)² = 0:
    // the trend is UNDEFINED and must surface as NULL
    assert(out("1-URGENT").isNullAt(2))
    out("1-URGENT").getLong(3) shouldEqual 550L // mean still reported
    // 2-HIGH: two points 8 days apart, 5000 → 2500 cents:
    // slope = −2500/8 = −312.5 cents/day = −312500000 µcents/day
    out("2-HIGH").getLong(2) shouldEqual -312500000L
  }

  test("winsorized_mean: when p5/p95 span the whole group, clipping is a no-op") {
    val out = SparkEntry.queries("winsorized_mean")(spark, tinyOrdersDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // n=10: rank ⌈0.05n⌉ = 1 and ⌈0.95n⌉ = 10 — the bounds are the
    // extremes, so the winsorized mean degrades gracefully to the raw
    out("1-URGENT") shouldEqual ((100L, 1000L, 5.5, 5.5))
    out("2-HIGH") shouldEqual ((2500L, 5000L, 37.5, 37.5))
  }

  test("GramAggregator over an empty frame yields the zero matrix") {
    import spark.implicits._
    val gram = udaf(new graft.functions.GramAggregator(4),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val out = Seq.empty[Seq[Long]].toDF("q").agg(gram(col("q"))).collect()
    out.head.getSeq[Long](0) shouldEqual Seq.fill(16)(0L)
  }

  private lazy val tinyEmbDir: String = {
    import spark.implicits._
    def axis(i: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    val df = Seq((1L, axis(0), 0), (2L, axis(0), 0), (3L, axis(1), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("edge-emb").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("embedding_gram_pca recovers the dominant axis of an axis-aligned corpus") {
    // two e0 vectors vs one e1: Gram = diag(2e8, 1e8, 0…) in q-units —
    // the iteration must converge onto e0 with λ = 2e8
    val out = SparkEntry.queries("embedding_gram_pca")(spark, tinyEmbDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.length shouldEqual 64
    val v = out.map(r => r._1 -> r._2).toMap
    v(0L) shouldEqual 1000000L       // the dominant direction, L∞ = 1
    v(1L) shouldEqual 250000L        // (1e8·5e5) / (2e8·1e6) of round 2
    (2L until 64L).foreach(d => v(d) shouldEqual 0L)
    out.map(_._3).distinct.toSeq shouldEqual Seq(200000000L)
  }

  test("neighbor_features: an all-sink graph keeps every node on its own feature") {
    import spark.implicits._
    // doc_ids all ≡ 0 (mod 7) → every node is a sink → the edge list is
    // EMPTY and both hops must fall back to the self-feature
    val df = Seq((0L, "a"), (7L, "bb"), (14L, "ccc")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("edge-sink").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("neighbor_features")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    out.toSeq shouldEqual Seq((0L, 1L, 0L, 1L, 1L), (7L, 2L, 0L, 2L, 2L),
      (14L, 3L, 0L, 3L, 3L))
  }

  private lazy val transitionEventsDir: String = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: B is exactly 30 min after A (inside the session),
      // C is 31 min after B (session break — NOT a transition)
      (1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 10:30:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-03-01 11:01:00"), 1L, "purchase", 1.0, "{}"),
      // decay horizon pins: exactly 30 days before the newest event
      // (weight 1) and 31 days before (weight 0)
      (4L, ts("2024-01-31 11:01:00"), 2L, "view", 1.0, "{}"),
      (5L, ts("2024-01-30 11:01:00"), 2L, "view", 5.0, "{}"),
      (6L, ts("2024-03-01 11:01:00"), 2L, "view", 2.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("edge-events").toString
    rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("event_transitions: the 30-minute boundary is inclusive, a 31-minute gap breaks") {
    val out = SparkEntry.queries("event_transitions")(spark, transitionEventsDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    // user 2's three views are days apart — no in-session pair there
    out.toSeq shouldEqual Seq(("view", "click", 1L, 1000000L))
  }

  test("decayed_engagement: 30-day-old events weigh 1, 31-day-old weigh 0") {
    val out = SparkEntry.queries("decayed_engagement")(spark, transitionEventsDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // views: 200¢·2^30 (ref day) + 100¢·2^0 (30 days) + 500¢·0 (31 days)
    // + 100¢·2^30 (user 1's same-day view) → (300·2^30 + 100) >> 30 = 300
    out("view") shouldEqual ((4L, 3L, 300L))
    out("click")._3 shouldEqual 100L
    out("purchase")._3 shouldEqual 100L
  }
}
