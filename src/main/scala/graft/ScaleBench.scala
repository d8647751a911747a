package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.{Obs, Sample}

/** Empirical scaling evidence for the dedup/ANN family (round-8
  * item #2): the 100 TB claims about bounded candidate generation
  * (AllPairs prefix filter, asymmetric containment probe, LSH banding,
  * once-shuffled CC edges) have so far been arguments from plan shape;
  * this main MEASURES them. It synthesizes corpora at several multiples
  * of the base `documents`/`embeddings` tables by deterministic
  * replication with planted duplicates, times the seven headline
  * dedup/ANN queries at each scale, and records total shuffle
  * read/write bytes per query from the graft.obs
  * listener — the quantity whose growth exponent separates "bounded
  * candidates" (≈ linear) from a hidden df² blow-up (≈ quadratic).
  *
  * Replication scheme (all pure deterministic columns — no RNG):
  * replica i of R gets doc_id shifted by i·stride, and per-doc class
  * (doc_id + i) mod 20 selects the mutation:
  *   - class 0: EXACT copy of the base text. For a fixed doc the class
  *     hits 0 for at most one replica i in 1..19, so planted exact-dup
  *     groups have size 2 regardless of R — dup COUNT grows linearly
  *     with scale while group size (and thus true-pair output per
  *     group) stays constant. A scheme that copied every replica would
  *     grow output pairs quadratically and contaminate the engine's
  *     exponent with output volume.
  *   - class 1: near-dup — base text plus one appended token (Jaccard
  *     ≈ s/(s+2) against the base for s shingles, well above both
  *     thresholds). Same at-most-once-per-doc structure.
  *   - otherwise: a per-replica Caesar rotation of the whole text —
  *     every shingle distinct from the base and from every other
  *     replica, so the bulk of the corpus is genuinely new content and
  *     shingle document frequencies grow ~linearly, as they would in a
  *     real crawl (each replica's rotation is unique for i ≤ 20 because
  *     the shift is i mod 25 + 1).
  *
  * Output: one JSON line per (scale, query) with wall seconds and
  * shuffle MB, plus a fitted log-log exponent line per query across
  * the scale ladder. Timing follows Bench methodology: noop-format
  * write (full materialization), per-query warmup at the smallest
  * scale, min of two passes.
  */
object ScaleBench {

  /** Dedup family (documents-backed) + ANN family (embeddings-backed).
    * The ANN queries keep their fixed 10-vector query set at every
    * scale (replicas shift vec_ids above the query range), so their
    * cost model is index+scan over a growing corpus for a constant
    * query load — the serve-side shape whose scaling matters. */
  /** Default ladder membership. The dedup/ANN block is the round-7
    * verdict's mandate; the selection block (X-137..X-140) rides the
    * same corpora — gopher/dsir/curation scan the replicated documents,
    * cluster_balanced_sample the replicated embeddings (train+assign
    * grows with the corpus, the quota output stays fixed).
    * `SPARK_GRAFT_SCALE_QUERIES` (csv) restricts a run to a subset —
    * unknown names fail fast rather than silently shrinking coverage. */
  private val Queries = Seq(
    // X-161/X-162: sub-document dedup — since r11 the chunkers are a
    // token posexplode + (doc, chunk) aggregate (the explode-then-slice
    // form was O(len²) bytes on megadocs), so their shuffle is ∝ corpus
    // TOKENS — still linear, now with a bigger constant the ladder
    // should show. X-62 chunk_documents shares the shape (overlapping
    // windows: each token emits ≤ 2 chunk memberships).
    "paragraph_dedup", "boilerplate_strip", "chunk_documents",
    "ngram_jaccard", "containment_dup", "dedup_clusters", "minhash_lsh",
    "knn_cosine", "ann_lsh_bucket", "ivf_topk",
    "gopher_rules", "dsir_weights", "curation_pipeline",
    "cluster_balanced_sample",
    // graph/retrieval block (X-141..X-143): label_propagation's edge
    // list is 3·n by synthesis (iterative-join scaling); mmr_select /
    // ivfpq_topk keep the fixed 10-vector query load against a growing
    // indexed corpus, same serve-side cost model as ivf_topk
    "label_propagation", "mmr_select", "ivfpq_topk", "random_walks",
    "kcenter_seeds", "bfs_distances",
    // X-148/X-149: kcore_peel's per-round joins shrink with the
    // cascade but its edge list is 3·n by synthesis; phash_neardup is
    // the multimodal member of the banded near-dup family — the same
    // bounded-candidate claim as minhash_lsh, measured on image hashes
    "kcore_peel", "phash_neardup",
    // X-150..X-154: winnow_overlap's df-capped fingerprint probe and
    // lsh_recall's truth+candidate arms carry the same Σdf² bound;
    // link_prediction's middle-node enumeration is Σdeg² (deg-capped);
    // anchor_text_agg is two hash aggregates + one window on url
    "winnow_overlap", "lsh_recall", "link_prediction", "anchor_text_agg",
    // X-155..X-157: tf_cosine_pairs' rare-shingle candidates + full-
    // vector verify; source_datacard is two aggregates + one window;
    // dedup_assign = one AllPairs derivation consumed by CC + probes
    "tf_cosine_pairs", "source_datacard", "dedup_assign",
    // round-9 completion of the TOP-20-most-expensive bench cohort
    // (verdict item #2): the dedup composition family (each = the
    // measured-linear pairs+CC lineage + per-artifact joins),
    // training_subset (quality gates ∘ CC keep-list), link_hits
    // (broadcast-iterate over the 3·n synthesized edge list),
    // ann_recall (truth arm = bounded brute force over the fixed
    // query load; candidate arms = the bucketed indexes),
    // semantic_dedup (two Lloyd rounds + banded within-cluster pairs)
    "dedup_method_matrix", "dedup_artifacts", "dedup_weight",
    "leakage_split", "training_subset", "link_hits",
    "ann_recall", "semantic_dedup",
    // the relational members of the top-20, riding the key-shifted
    // customer/orders/lineitem replicas over the FIXED part catalog
    // (more orders against the same parts — the realistic growth
    // axis; per-part frequency grows linearly, like shingle df):
    // order_value_mad = two-phase exact quantiles over o_totalprice;
    // join_size_estimate = per-star-edge sketch×stats estimates;
    // bloom_semi_prune = bitmap build over the part side + probed
    // lineitem scan; copurchase_pairs = the df-capped within-order
    // part pair explode
    "order_value_mad", "join_size_estimate", "bloom_semi_prune",
    "copurchase_pairs",
    // the round-9 capstones: dedup_family (ONE persisted pair+CC
    // artifact feeding artifacts/assign/matrix) and ingest_pipeline
    // (standing-index probe, batch-side-only shuffle)
    "dedup_family", "ingest_pipeline",
    // X-163..X-166: context_truncation is one narrow scan + a 3-row
    // fan-out (expect ~linear bytes); the three embedding ops keep the
    // fixed 10-query load against a growing indexed corpus —
    // hard_negatives is two broadcast-scored map passes + Rank,
    // centroid_outliers / ivf_nprobe_curve ride the trained-index
    // serve model (train+assign grows with the corpus, probes fixed)
    "context_truncation", "hard_negatives", "centroid_outliers",
    "ivf_nprobe_curve",
    // X-167: standing-index maintenance — train+assign grows with the
    // corpus, the batch side is the fixed variant fraction (n/17)
    "ivf_maintenance",
    // round-10 additions: ann_family re-derives its persisted artifacts
    // per invocation (train + assign + truth, each ~linear; the served
    // sections are artifact scans); classifier_filter is one explode +
    // one per-doc hash aggregate — the textbook linear shape
    "ann_family", "classifier_filter",
    // X-170..X-173: edit_distance_pairs = the minhash band join's
    // bounded candidates + a per-pair DP bounded by the doc-length
    // band (the length filter prunes first); ks_drift / heaps_law are
    // one corpus-linear aggregate each feeding catalog-bounded frames;
    // textrank_keywords is one bigram aggregate + |V|-bounded rounds
    // NOTE edit_distance_pairs' linear classification is an assumption
    // about the CORPUS, not the query shape: minhash band-collision
    // candidates are worst-case quadratic on a duplicate-heavy or
    // low-entropy corpus, and each surviving pair pays an O(len²) DP.
    // It holds here because the generator's band buckets stay bounded
    // (rotated replicas share no shingles; planted dup groups have
    // size 2). A future corpus change that skews band buckets
    // invalidates the classification — treat a super-linear fit as
    // that, not as a bench regression.
    "edit_distance_pairs", "ks_drift", "textrank_keywords", "heaps_law")

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"
  private def rotated(i: Int): String = {
    val s = i % 25 + 1 // never the identity rotation
    Alphabet.drop(s) + Alphabet.take(s)
  }

  // ── Affine planting scheme (r12, the third scale decade) ───────
  //
  // The mod-20 scheme caps the ladder at 20×: past 20 replicas the
  // (doc_id + i) mod 20 class hits "exact copy" for MULTIPLE i per doc,
  // so planted dup-group size grows with R and the output volume
  // contaminates the engine exponent (the r11 adjudication). The affine
  // scheme holds group size at EXACTLY 2 under any R ≤ 126:
  //
  //  - the per-doc class is doc_id mod 20 (replica-INDEPENDENT), so the
  //    same 1/20 of docs is planted at every scale and dup-pair count
  //    grows linearly with R;
  //  - replicas are texted through AFFINE ciphers σ(x)=a·x+b mod 26
  //    with a coprime to 26, a ≠ 1 — 11 slopes × 26 offsets = 286
  //    distinct non-identity permutations, and two DISTINCT affine maps
  //    agree on ≤ 2 of 26 letters (their difference (a₁−a₂)k ≡ b₂−b₁
  //    has gcd(a₁−a₂, 26) ∈ {2} solutions), so multi-letter tokens —
  //    hence shingles — essentially never collide across replicas.
  //    The 25-value Caesar family repeats at R > 25, which would make
  //    whole replicas exact duplicates of each other;
  //  - planted docs pair consecutive replicas: replicas 2p−1 and 2p
  //    share cipher index 2p−1 (ODD index space) — an exact-dup pair
  //    for class 0, a one-appended-token near-dup pair for class 1 —
  //    while bulk replicas use cipher index 2i (EVEN space), so a
  //    plant can never collide with a bulk replica of the same doc.
  //    Group size is 2 at ANY R (an odd trailing replica is a
  //    harmless singleton).
  private val AffineSlopes = Seq(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def affinePerm(n: Int): String = {
    val a = AffineSlopes(n % AffineSlopes.size)
    val b = (n / AffineSlopes.size) % 26
    (0 until 26).map(k => Alphabet((a * k + b) % 26)).mkString
  }

  /** Replica i under the affine scheme (see the scheme note above). */
  private def replicaAffine(base: DataFrame, i: Int, stride: Long): DataFrame =
    if (i == 0) base
    else {
      val cls = col("doc_id") % 20
      val p = (i + 1) / 2 // plant pair id: (1,2)→1, (3,4)→2, …
      val plantPerm = affinePerm(2 * p - 1) // odd cipher space
      val bulkPerm = affinePerm(2 * i)      // even cipher space
      base.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        when(cls === 0, translate(col("text"), Alphabet, plantPerm))
          .when(cls === 1,
            // near-dup plant: the pair's even member appends one token
            if (i % 2 == 0)
              concat(translate(col("text"), Alphabet, plantPerm), lit(s" nd$p"))
            else translate(col("text"), Alphabet, plantPerm))
          .otherwise(translate(col("text"), Alphabet, bulkPerm))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

  /** Embedding replica for R > 20: circular shift of (i−1) mod (dim−1)
    * + 1 positions (never the identity), negated on every second wrap —
    * norm-preserving, direction distinct for i < 2·(dim−1) (= 126 at
    * dim 64). The plain shift-by-i form collides with the base at
    * i = dim, planting unintended exact vector duplicates. */
  private def embReplicaAffine(base: DataFrame, i: Int, stride: Long,
      dim: Int): DataFrame =
    if (i == 0) base
    else {
      val s = (i - 1) % (dim - 1) + 1
      val shifted = concat(slice(col("embedding"), s + 1, dim - s),
        slice(col("embedding"), 1, s))
      val vec = if (((i - 1) / (dim - 1)) % 2 == 1)
        transform(shifted, x => -x) else shifted
      base.select((col("vec_id") + lit(i * stride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }

  // ── Planted-boilerplate skew ladder (round-9 verdict item #3) ──
  //
  // The scale ladder grows the CORPUS; this mode grows a HOT TEMPLATE's
  // share of it: SPARK_GRAFT_SKEW_PCTS=0,2,5,10 prepends a fixed
  // 32-token boilerplate block to that percentage of documents (chosen
  // by doc_id % 100 — deterministic, scale-independent) and measures
  // the dedup candidate generators against it. The planted block makes
  // every boilerplate shingle's document frequency ~pct·n while leaving
  // the affected pairs BELOW the Jaccard/containment thresholds (the
  // unique body dominates the union), so a correct bounded generator
  // must show ~flat shuffle volume and ~flat per-task max fan-in as pct
  // grows — the AllPairs rarest-first prefix keeps hot shingles out of
  // candidate postings, the df caps (X-150/X-155) drop them, and the
  // sub-document passes aggregate them map-side. A generator that
  // joined on raw shingles would grow per-task fan-in ~quadratically
  // in pct here. Output rows carry max_task_shuffle_rows — the
  // per-task candidate fan-in the verdict asked to see measured.
  private[graft] val Boilerplate =
    "breaking news update please subscribe to our newsletter for more " +
    "information about cookies terms of service privacy policy all rights " +
    "reserved contact us follow us on social media copyright twenty twenty four"

  private val SkewQueries = Seq(
    "ngram_jaccard", "containment_dup", "minhash_lsh",
    "winnow_overlap", "tf_cosine_pairs", "paragraph_dedup",
    "boilerplate_strip")

  /** Replica i of the embeddings table: ids shifted past the fixed
    * query range, vectors CIRCULARLY SHIFTED by i positions — norm
    * preserved (quantization/cosine arithmetic unchanged), direction
    * genuinely new per replica (a scalar perturbation would keep every
    * replica an exact cosine-duplicate of its base and make the
    * corpus degenerate). Pure deterministic columns. */
  private def embReplica(base: DataFrame, i: Int, stride: Long, dim: Int): DataFrame =
    if (i == 0) base
    else
      base.select(
        (col("vec_id") + lit(i * stride)).as("vec_id"),
        concat(slice(col("embedding"), i + 1, dim - i),
          slice(col("embedding"), 1, i)).as("embedding"),
        col("label"))

  /** Key-shifted replica of a relational table: the named BIGINT key
    * columns move up by i·stride (FK edges that must stay joinable
    * shift together: o_custkey with c_custkey, l_orderkey with
    * o_orderkey); every other column — including l_partkey/l_suppkey —
    * stays, so the part/supplier catalog is FIXED and per-part row
    * frequency grows linearly with the corpus, the same growth law as
    * shingle df in the crawl replicas. */
  private def keyShifted(base: DataFrame, i: Int, stride: Long,
      keys: Seq[String]): DataFrame =
    if (i == 0) base
    else keys.foldLeft(base)((df, k) =>
      df.withColumn(k, col(k) + lit(i * stride)))

  /** Replica i of the base corpus (i = 0 is the base itself). */
  private def replica(base: DataFrame, i: Int, stride: Long): DataFrame =
    if (i == 0) base
    else {
      val cls = (col("doc_id") + lit(i)) % 20
      base.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        when(cls === 0, col("text"))
          .when(cls === 1, concat(col("text"), lit(s" nd$i")))
          .otherwise(translate(col("text"), Alphabet, rotated(i)))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

  /** Time query `q` at `dir` twice (a failed pass throws): the faster pass,
    * and the worse pass's max per-task shuffle fan-in — the skew ladder's
    * headline, since a generator that funnels a hot template into one task
    * shows up there even while total bytes look linear. */
  private def twice(spark: SparkSession, q: String, dir: String): (Sample, Long) = {
    def once() = Obs.run(spark, q)(Obs.sink(SparkEntry.queries(q)(spark, dir))).orThrow
    val (a, b) = (once(), once())
    (Obs.best(a, b), math.max(a.maxTaskRecordsRead, b.maxTaskRecordsRead))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outBase = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "/tmp/graft-scale")
    // mod20 = the r8-r11 scheme (exponent continuity with those
    // artifacts); affine = the r12 group-preserving scheme, REQUIRED
    // past 20× and usable below it. One run never mixes schemes — a
    // mixed ladder would fit an exponent across two different corpora.
    val scheme = sys.env.getOrElse("SPARK_GRAFT_SCALE_SCHEME",
      if (scales.max > 20) "affine" else "mod20")
    require(scheme == "mod20" || scheme == "affine",
      s"unknown SPARK_GRAFT_SCALE_SCHEME '$scheme'")
    require(scales.nonEmpty && scales.min >= 1 &&
      (if (scheme == "mod20") scales.max <= 20 else scales.max <= 126),
      "scales must be 1..20 for mod20 (Caesar family size, dup classes " +
        "mod 20) or 1..126 for affine (cipher space, embedding shift " +
        "distinctness at dim 64)")
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries)
    queries.foreach(q => require(Queries.contains(q),
      s"unknown scale query '$q' (ladder members: ${Queries.mkString(", ")})"))
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    sys.env.get("SPARK_GRAFT_SKEW_PCTS") match {
      case Some(spec) =>
        runSkew(spark, baseDir, outBase, spec)
        spark.stop()
        return
      case None => ()
    }

    sys.env.get("SPARK_GRAFT_ADV_DIR") match {
      case Some(advDir) =>
        val ok = runAdv(spark, advDir)
        spark.stop()
        if (!ok) sys.exit(1)
        return
      case None => ()
    }

    val base = Tables.table(spark, baseDir, "documents")
    val embBase = Tables.table(spark, baseDir, "embeddings")
    // Replica id offset derived from the DATA, not assumed: a fixed
    // stride under a bigger corpus would silently alias replica ids
    // (merging planted dup groups and letting shifted rows impersonate
    // the fixed ANN query range) and corrupt the exponents this tool
    // exists to report. Also probe the embedding dim for the rotation.
    val stride = {
      val md = base.agg(max(col("doc_id"))).first().getLong(0)
      val mv = embBase.agg(max(col("vec_id"))).first().getLong(0)
      math.max(md, mv) + 1
    }
    val dim = embBase.select(size(col("embedding"))).first().getInt(0)
    // Separate stride for the relational key domains (order/cust keys
    // run far past doc ids at sf0.1).
    val relStride = {
      val mo = Tables.table(spark, baseDir, "orders")
        .agg(max(col("o_orderkey"))).first().getLong(0)
      val mc = Tables.table(spark, baseDir, "customer")
        .agg(max(col("c_custkey"))).first().getLong(0)
      math.max(mo, mc) + 1
    }

    // Materialize each scaled corpus once as parquet so every query at
    // a given scale reads the identical on-disk layout (and the
    // replication cost is off the clock).
    // SPARK_GRAFT_SCALE_REUSE=1: reuse an existing scaled corpus dir
    // (completed writes only — _SUCCESS checked per table). The
    // planting is deterministic per (scheme, scale), so a rebuild
    // writes byte-identical content; reuse just skips the ~minutes of
    // replication when iterating measurement configs over one ladder.
    // The SCHEME is part of the corpus path (r12 advice): an x$r dir
    // built under mod20 reused by an affine run (or vice versa) would
    // silently fit an exponent over a mixed-scheme corpus — the exact
    // contamination the scheme separation exists to prevent.
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1")
    val dirs = scales.map { r =>
      val dir = s"$outBase/$scheme/x$r"
      def done(name: String) =
        new java.io.File(s"$dir/$name.parquet/_SUCCESS").exists()
      def writeScaled(name: String, mk: Int => DataFrame): Unit =
        if (reuse && done(name)) ()
        else (0 until r).map(mk).reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      if (scheme == "affine") {
        writeScaled("documents", replicaAffine(base, _, stride))
        writeScaled("embeddings", embReplicaAffine(embBase, _, stride, dim))
      } else {
        writeScaled("documents", replica(base, _, stride))
        writeScaled("embeddings", embReplica(embBase, _, stride, dim))
      }
      // relational growth axis: replicated fact/entity tables over the
      // FIXED dim catalog
      writeScaled("customer", keyShifted(
        Tables.table(spark, baseDir, "customer"), _, relStride,
        Seq("c_custkey")))
      writeScaled("orders", keyShifted(
        Tables.table(spark, baseDir, "orders"), _, relStride,
        Seq("o_orderkey", "o_custkey")))
      writeScaled("lineitem", keyShifted(
        Tables.table(spark, baseDir, "lineitem"), _, relStride,
        Seq("l_orderkey")))
      // static dims copied verbatim so every registered query resolves
      Seq("region", "nation", "supplier", "part", "events").foreach { t =>
        if (!(reuse && done(t)))
          Tables.table(spark, baseDir, t)
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      Tables.invalidate(dir) // the planter rewrote parquet under dir
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      val ne = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val nl = spark.read.parquet(s"$dir/lineitem.parquet").count()
      System.err.println(
        s"[scale] built x$r: $n docs, $ne embeddings, $nl lineitems at $dir")
      r -> (dir, n)
    }.toMap

    // Warmup at the smallest scale: JIT/codegen for all seven plans.
    val smallest = dirs(scales.min)._1
    queries.foreach(q => Obs.sink(SparkEntry.queries(q)(spark, smallest)))

    case class Point(scale: Int, query: String, sec: Double, writeMb: Double)
    val points = scala.collection.mutable.ArrayBuffer[Point]()

    for (r <- scales.sorted; q <- queries) {
      val (dir, n) = dirs(r)
      // a per-query failure (e.g. a scale GATE firing by design, like
      // semantic_dedup's max-cluster contract at 100× with registry-
      // pinned k) records an err row and the ladder continues — one
      // out-of-domain point must not cost every other query's fit
      try {
        val s = twice(spark, q, dir)._1 // min time: contention hardening
        points += Point(r, q, s.sec, s.writeMb)
        println(f"""{"scale":$r,"scheme":"$scheme","n_docs":$n,"query":"$q","sec":${s.sec}%.2f,"shuffle_read_mb":${s.readMb}%.1f,"shuffle_write_mb":${s.writeMb}%.1f}""")
      } catch { case e: Throwable =>
        val msg = String.valueOf(e.getMessage).replaceAll("[\"\\\\\n\r\t]", " ").take(300)
        println(s"""{"scale":$r,"scheme":"$scheme","n_docs":$n,"query":"$q","err":"$msg"}""")
      }
    }

    // Fitted log-log exponent per query over the scale ladder (least
    // squares of ln(y) on ln(scale)); 1.0 = linear, 2.0 = quadratic.
    def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
      val lx = xs.map(math.log); val ly = ys.map(math.log)
      val mx = lx.sum / lx.size; val my = ly.sum / ly.size
      lx.zip(ly).map { case (a, b) => (a - mx) * (b - my) }.sum /
        lx.map(a => (a - mx) * (a - mx)).sum
    }
    // A single-scale run has no ladder to fit — skip the exponent
    // lines rather than printing NaN (not legal JSON).
    if (scales.distinct.size >= 2) for (q <- queries) {
      val o = points.filter(_.query == q).sortBy(_.scale).toSeq
      val xs = o.map(_.scale.toDouble)
      if (xs.distinct.size >= 2) {
        val eT = slope(xs, o.map(_.sec))
        val eW = slope(xs, o.map(x => math.max(x.writeMb, 0.1)))
        println(f"""{"query":"$q","scheme":"$scheme","exponent_time":$eT%.2f,"exponent_shuffle_write":$eW%.2f,"n_points":${xs.size}}""")
      } else System.err.println(s"[scale] $q: < 2 successful points - no fit")
    } else System.err.println("[scale] single scale - no exponent fit")
    spark.stop()
  }

  /** Adversarial-corpus members of the PERF harness (r12 item #3): the
    * r11 megadoc fixes were correctness-gated (specs + wall-clock
    * tripwires) but the adversarial fixture never ran under a timed,
    * shuffle-metered harness — a reintroduced quadratic idiom (the
    * greedy-regex / explode-slice / substr-offset trap classes) would
    * only surface as a hung verify. This is every registered query
    * whose hot path walks document TEXT or embedding arrays row-wise —
    * the surfaces megadocs (>1 MB single rows), the 10⁵-token Zipf
    * vocabulary, and zero/dup/extreme embeddings actually stress. */
  private val AdvQueries = Seq(
    // extraction family (sentenceNear, regex extract, enrichment map)
    "lead_extract", "extract_stats", "enrich_flatten", "leadsight_pipeline",
    "truncate_preview", "present_format", "ordered_projection", "pii_scrub",
    // chunkers / packers (the r11 explode-slice pathology class)
    "chunk_documents", "paragraph_dedup", "boilerplate_strip",
    "sequence_pack", "sequence_pack_global", "context_truncation",
    // multimodal (the substr-offset pathology class)
    "frame_sample", "media_stats", "phash_neardup",
    // tokenize-aggregate text family (megadoc token volumes)
    "token_stats", "tf_topk", "token_counts", "bigram_counts",
    "doc_fingerprint", "bm25_score", "doc_lm_score", "pmi_collocations",
    "textrank_keywords", "heaps_law", "tf_cosine_pairs", "chi2_tokens",
    "dsir_weights", "gopher_rules", "curation_pipeline", "repetition_stats",
    "cms_bigram_counts", "approx_distinct_tokens", "stopword_strip",
    "hashed_features", "next_token_topk", "bpe_merges", "ngram_novelty",
    "lang_confusion", "text_quality", "classifier_filter",
    // dedup candidate generators on megadoc shingle volumes
    "exact_dedup", "ngram_jaccard", "containment_dup", "minhash_lsh",
    "simhash_neardup", "edit_distance_pairs", "winnow_fingerprints",
    "winnow_overlap", "substring_dup_spans", "lsh_recall",
    // similarity over the trap embeddings (zero/dup/extreme vectors)
    "knn_cosine", "ann_lsh_bucket", "ivf_topk", "embedding_neardup",
    "semantic_dedup", "kcenter_seeds")

  /** Time the megadoc-sensitive families against the adversarial
    * fixture with the same noop-write/min-of-2 methodology as the scale
    * ladder, and FAIL (exit 1) if any query exceeds the wall ceiling —
    * the standing tripwire that keeps the quadratic trap classes from
    * returning. Ceiling via SPARK_GRAFT_ADV_CEILING_SEC (default 120 s,
    * generous against a measured ~1-10 s/query envelope so only a
    * complexity-class regression, not machine noise, can trip it). */
  private def runAdv(spark: SparkSession, advDir: String): Boolean = {
    val ceiling = sys.env.getOrElse("SPARK_GRAFT_ADV_CEILING_SEC", "120").toDouble
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(AdvQueries)
    queries.foreach(q => require(SparkEntry.queries.contains(q),
      s"unknown adv query '$q'"))
    // warmup: compile every plan once off the clock (same discipline as
    // the ladder; the adversarial corpus is the only corpus here, so
    // warmup runs against it directly)
    queries.foreach(q => Obs.sink(SparkEntry.queries(q)(spark, advDir)))
    var allOk = true
    for (q <- queries) {
      val (s, mx) = twice(spark, q, advDir)
      val ok = s.sec <= ceiling
      if (!ok) allOk = false
      println(f"""{"adv_query":"$q","sec":${s.sec}%.2f,"shuffle_read_mb":${s.readMb}%.1f,"shuffle_write_mb":${s.writeMb}%.1f,"max_task_shuffle_rows":$mx,"ceiling_sec":$ceiling%.0f,"within_ceiling":$ok}""")
    }
    println(s"""{"adv_summary":"${if (allOk) "all_within_ceiling" else "CEILING_EXCEEDED"}","n_queries":${queries.size}}""")
    allOk
  }

  /** The boilerplate-skew ladder (see [[Boilerplate]]): one corpus per
    * planted-template percentage, the dedup candidate generators timed
    * against each, per-(pct, query) rows plus a lo-vs-hi ratio line —
    * flat ratios = the caps bind. */
  private def runSkew(spark: SparkSession, baseDir: String, outBase: String,
      spec: String): Unit = {
    import org.apache.spark.sql.functions._
    val pcts = spec.split(",").map(_.trim.toInt).toSeq
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 50),
      "skew pcts must be 0..50")
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SkewQueries)
    val base = Tables.table(spark, baseDir, "documents")
    val dirs = pcts.map { p =>
      val dir = s"$outBase/skew$p"
      // deterministic, scale-independent membership; n_chars is left as
      // the base value (none of the dedup generators read it)
      base.select(col("doc_id"),
          when(col("doc_id") % 100 < p,
            concat(lit(Boilerplate), lit(" "), col("text")))
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings").foreach { t =>
        Tables.table(spark, baseDir, t)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      Tables.invalidate(dir) // the planter rewrote parquet under dir
      p -> dir
    }.toMap
    queries.foreach(q => Obs.sink(SparkEntry.queries(q)(spark, dirs(pcts.head))))
    case class Point(pct: Int, query: String, writeMb: Double, maxRows: Long)
    val points = scala.collection.mutable.ArrayBuffer[Point]()
    for (p <- pcts.sorted; q <- queries) {
      val (s, mx) = twice(spark, q, dirs(p))
      points += Point(p, q, s.writeMb, mx)
      println(f"""{"skew_pct":$p,"query":"$q","sec":${s.sec}%.2f,"shuffle_read_mb":${s.readMb}%.1f,"shuffle_write_mb":${s.writeMb}%.1f,"max_task_shuffle_rows":$mx}""")
    }
    val lo = pcts.min; val hi = pcts.max
    if (lo != hi) for (q <- queries) {
      val o = points.filter(_.query == q)
      val (a, b) = (o.find(_.pct == lo).get, o.find(_.pct == hi).get)
      // floor BOTH sides (the exponent-fit discipline): a 0-MB floor
      // value must read as growth from ~0, never as ratio 0.00 — a
      // generator whose shuffle GREW from zero is the opposite of flat
      def ratio(x: Double, y: Double): Double =
        math.max(y, 0.05) / math.max(x, 0.05)
      println(f"""{"query":"$q","skew_lo":$lo,"skew_hi":$hi,"write_mb_ratio":${ratio(a.writeMb, b.writeMb)}%.2f,"max_task_rows_ratio":${ratio(math.max(a.maxRows, 1L).toDouble, math.max(b.maxRows, 1L).toDouble)}%.2f}""")
    }
  }
}
