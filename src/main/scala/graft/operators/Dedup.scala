package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Deduplication family for the training-data pipeline (M3 extension
  * scope): exact hashing, word-shingle Jaccard (AllPairs prefix
  * filtering, Bayardo et al., WWW'07), MinHash+LSH banding (Broder,
  * SEQUENCES'97; banding per Leskovec/Rajaraman/Ullman, MMDS ch.3), and
  * SimHash (Charikar, STOC'02) — the standard near-dup toolbox at
  * corpus scale.
  *
  * Scale posture (100 TB): nothing here is an all-pairs comparison.
  *  - Exact dedup is one hash-partitioned groupBy.
  *  - Shingle-Jaccard joins on a shingle equi-key with a size-band prune
  *    in the join condition, so the shuffle carries (shingle, doc) pairs
  *    — never a cartesian of documents.
  *  - MinHash collapses each document to k integers; candidates come
  *    from an equi-join on band keys (b bands of r rows), and only the
  *    tiny candidate set pays the exact-verification cost.
  *  - SimHash is a per-row fold, embarrassingly parallel.
  * All hashes derive from md5 hex prefixes ([[TextAnalysis.tokenHash]]),
  * so every step is reproducible in the DuckDB oracle.
  */
object Dedup {
  import TextAnalysis.{tokenHash, HashMod}

  /** Distinct word n-gram shingles of a token array (n consecutive
    * tokens joined by a space). Shorter-than-n documents → empty set.
    *
    * Shape matters for performance, twice over (both measured ~10×):
    *  - no `when(size ≥ n, …)` guard around the higher-order function —
    *    it forces the whole expression into interpreted eval;
    *  - the lambda must touch only its own variable. Indexing the token
    *    array inside the lambda (`element_at(toks, i+k)`) lets
    *    CollapseProject inline a full copy of the upstream
    *    split/regexp chain into every element access — O(tokens²)
    *    recompute per row. `arrays_zip` of shifted slices evaluates the
    *    token array O(n) times per row instead, then zips lazily.
    * The zip pads short slices with null, `concat_ws` drops nulls (so
    * the tail yields truncated shingles), and the final `slice` cuts
    * that tail off — `greatest(size−n+1, 0)` makes short docs empty. */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(TextAnalysis.ngrams(toks, n))

  /** MinHash constants: k universal-hash pairs (a_i, b_i), fixed and
    * odd so they're coprime-ish with the modulus; embedded literally in
    * the oracle SQL too. */
  val MinHashK = 16
  val MinHashA: Seq[Long] = (0 until MinHashK).map(i => (2L * i + 1) * 104729L % HashMod)
  val MinHashB: Seq[Long] = (0 until MinHashK).map(i => (i + 1) * 7919L % HashMod)

  /** MinHash signatures: one column per hash function, min over the
    * shingle hashes of (a·h + b) mod P (products stay < 1e18, inside a
    * long). Computed by aggregation instead of per-row array lambdas:
    * hash each occurrence on the exploded rows (codegen'd md5), then
    * ONE groupBy(doc) computing the k mins — min over a set = min over
    * its multiset, so repeated occurrences leave the signature as is.
    *
    * r14 shape change (guide §2.4): this used to hash DISTINCT
    * shingles and join the hashes back — THREE exchanges of
    * shingle-occurrence cardinality (distinct on s, the join's e-side
    * by s, the groupBy by doc) to save re-hashing repeated shingles.
    * Measured backwards at every scale: the direct form's single
    * exchange carries only |docs|×16 longs after map-side partial min
    * (the occurrence rows never shuffle at all), while the join form
    * ships every (doc_id, s) occurrence twice; a codegen'd md5
    * (~150 ns) is far cheaper than serializing + shuffling the
    * occurrence row it would dedup, and map-side hashing is
    * embarrassingly parallel where a hot shingle's join key is a skew
    * cell. A/B at sf0.1 in bench_r14/minhash_*.out.
    *
    * @param e exploded (doc_id, s) shingle occurrences */
  def minhashSigAgg(e: DataFrame): DataFrame = {
    val minCols = (0 until MinHashK).map { i =>
      min((lit(MinHashA(i)) * col("h") + lit(MinHashB(i))) % lit(HashMod)).as(s"mh$i")
    }
    e.withColumn("h", tokenHash(col("s")))
      .groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** LSH band keys over a MinHash signature row: b bands of r rows,
    * each band key the joined signature slice. Documents sharing any
    * band key become candidate pairs.
    *
    * Built with null-propagating `concat` (NOT concat_ws, which drops
    * nulls): a document with an empty shingle set has null signature
    * components, and dropping them would collapse every such document
    * onto one shared band key — an all-pairs bucket of short docs,
    * exactly the quadratic blowup banding exists to prevent. A null
    * band key never equi-joins, so shingle-less docs simply produce no
    * candidates (the same behavior as [[minhashSigAgg]], where they
    * have no rows at all). */
  def bandKeys(bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map { b =>
      val parts = (0 until rows).flatMap(r =>
        Seq(lit("-"), col(s"mh${b * rows + r}"))).tail
      concat(parts: _*).as(s"band$b")
    }

  /** (doc_id, band_id, band_key) posting list of a 16-hash signature
    * frame: 4×4 band keys, stacked. The one banding geometry behind
    * [[bandCollisionPairs]] and [[Ingest.bandStack]], so it can only
    * change in one place. */
  def stackedBands(sig: DataFrame): DataFrame = {
    val banded = sig.select(col("doc_id") +: bandKeys(bands = 4, rows = 4): _*)
    banded.select(col("doc_id"),
      posexplode(array((0 until 4).map(b => col(s"band$b")): _*))
        .as(Seq("band_id", "band_key")))
  }

  /** Symmetric banded candidate pairs from a 16-hash signature frame:
    * distinct (d1 < d2) collisions of [[stackedBands]] — minhash_lsh's
    * derivation, shared by every symmetric banding consumer
    * (minhash_lsh, minhash_est_err, edit_distance_pairs, lsh_recall);
    * the oracle-side twin is DedupQueries.symBandPairsSql. */
  def bandCollisionPairs(sig: DataFrame): DataFrame = {
    val stacked = stackedBands(sig)
    stacked.as("x").join(stacked.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** Exact Jaccard over two distinct-element arrays, computed with
    * integer set sizes (|A∩B| / (|A|+|B|−|A∩B|)) so both engines derive
    * the double from identical ints. */
  def jaccard(a: Column, b: Column): Column = {
    val common = size(array_intersect(a, b))
    common.cast("double") / (size(a) + size(b) - common).cast("double")
  }

  /** SimHash sketch width of the registered near-dup queries: bit j of
    * the sketch is set when the ±1 votes of the token hashes' bit j sum
    * positive ([[graft.functions.SimHashFx]]). */
  val SimHashBits = 16

  /** Connected components over an undirected pair frame (d1, d2):
    * resolves near-dup PAIRS into dedup CLUSTERS, labeling every member
    * with the minimum doc_id of its component (the canonical survivor).
    *
    * Two phases: a local contraction (Łącki et al., *Connected
    * Components at Scale via Local Contractions*, 2018) that labels a
    * dedup pair graph exactly in about four Spark jobs, and the hook-
    * and-jump loop, which only finishes what the local pass leaves.
    *
    * Local pass. Both edge orientations are shuffled once by `src`,
    * so a node's partition holds every edge at that node. Each
    * partition runs a union-find whose root is always the minimum id of
    * its set and emits (node, local root) for every endpoint it holds;
    * grouping by node gives `label = min(root)`, and the same job counts
    * the nodes whose local roots disagree ([[Scratch.cutCounting]]).
    * When none do, the labels are exact: an edge (u, v) puts u and v in
    * one local set, so agreeing nodes give every global component a
    * single root value; that value is the minimum of each local set the
    * component is made of, so it is the component's minimum id. Graphs
    * whose edges fit in one coalesced partition, and components that
    * are cliques or stars around their minimum, close here.
    *
    * Fallback: iterative min-label HOOKING + POINTER JUMPING (the
    * Shiloach–Vishkin shape; same O(log n) round family as alternating
    * large-star/small-star, Kiveris et al., SoCC'14), seeded with the
    * local labels instead of the node ids. Each round:
    *  1. hook: every node takes the min of its own and its neighbors'
    *     labels (one join + min-aggregation);
    *  2. jump: every node then replaces its label with its LABEL'S
    *     label (a self-join on the hooked frame) — path compression,
    *     which is what turns O(diameter) min-propagation into O(log n):
    *     on a chain, the distance-to-minimum covered per round doubles
    *     (d → 2d+2) instead of growing by one. (A second jump per
    *     round was measured: it cannot cut rounds below the
    *     1-plus-no-change floor that small-diameter dedup components
    *     already sit at, so it only added a join per round.)
    * Every seed is an id of the node's own component and ≤ the node's
    * id, and labels only decrease, so the fixpoint is exactly "every
    * member labeled with the component min" — identical output to plain
    * min-label propagation, pinned by DedupSpec and PropertySpec against
    * a union-find ground truth (including a long-chain fixture with
    * maxIters ≪ diameter that plain propagation could not pass). A
    * round's convergence is the count of changed labels, observed on
    * the job that materializes the round. If `maxIters` rounds end
    * before the fixpoint the labels would be silently WRONG (one chain
    * reported as several clusters), so non-convergence throws instead of
    * truncating; a graph the local pass closes runs no round. Superseded
    * materializations are unpersisted as the loop advances — only the
    * final labels frame stays materialized. Ids keep their type. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // Materialize the edge list once: the local pass reads it, and the
    // loop reads it every round; its lineage (a full near-dup pair
    // pipeline) would otherwise be recomputed per use — measured 8×
    // slower without this. Both orientations come from ONE explode, not
    // a self-union: a union's two branches each re-run the whole
    // upstream pair pipeline (profiled as the hottest stage of this
    // query — 2× the candidate volume), while explode duplicates rows
    // after a single pass. The partitioning by `src` is what the local
    // pass reads; the loop's joins shuffle edges again every round (the
    // checkpointed frame keeps no partitioning a plan can reuse).
    val edges = Scratch.cut(
      pairs.select(explode(array(
          struct(col("d1").as("src"), col("d2").as("dst")),
          struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src")))
    val idType = edges.schema("src").dataType
    val roots = edges.mapPartitions(localRoots)(Encoders.row(StructType(Seq(
      StructField("node", idType), StructField("root", idType)))))
    val (seed, split) = Scratch.cutCounting(
      roots.groupBy(col("node")).agg(min(col("root")).as("label"),
        (min(col("root")) =!= max(col("root"))).as("split")),
      col("split"))
    var labels = seed.select(col("node"), col("label"))
    var prev = seed
    var converged = split == 0
    var it = 0
    while (!converged && it < maxIters) {
      // 1. hook: l1(v) = min(label(v), min over neighbors' labels).
      // A sort-merge join on every round: without the hint both sides
      // shuffle and adaptive execution broadcasts whichever side's stage
      // finishes first, so the round's generated code (build left or
      // right) would vary from run to run and compile again
      val neighborMin = edges
        .join(labels.hint("merge"), edges("src") === labels("node"))
        .groupBy(col("dst").as("node2"))
        .agg(min(col("label")).as("nmin"))
      val hooked = labels.join(neighborMin, labels("node") === col("node2"), "left_outer")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("l1"))
      // 2. jump: newl(v) = l1(l1(v)). Every label is itself a node id
      // (mins over node ids), so the self-join always matches;
      // left_outer + coalesce guards the invariant anyway. The changed
      // labels are counted in the job that materializes the round.
      val jumpTo = hooked.select(col("node").as("jn"), col("l1").as("l2"))
      val (next, changed) = Scratch.cutCounting(
        hooked.join(jumpTo, col("l1") === col("jn"), "left_outer")
          .select(col("node"),
            least(col("l1"), coalesce(col("l2"), col("l1"))).as("newl"),
            (col("label") =!= least(col("l1"), coalesce(col("l2"), col("l1"))))
              .as("chg")),
        col("chg"))
      prev.unpersist()
      prev = next
      converged = changed == 0
      labels = next.select(col("node"), col("newl").as("label"))
      it += 1
    }
    edges.unpersist()
    if (!converged) {
      prev.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds " +
          "(pointer jumping needs ~log2(n); raise maxIters)")
    }
    labels
  }

  /** The local pass of [[connectedComponents]] over one partition of
    * (src, dst) edges: (node, root) for every endpoint, where root is
    * the minimum id of the node's set in a union-find over the
    * partition's edges. Union by the smaller root makes every root its
    * set's minimum, so the output does not depend on the order of the
    * rows. Ids are compared through `Comparable`, so they keep their
    * type; a null endpoint joins no set and comes out as (null, null).
    * The map holds one entry per endpoint of the partition, on the
    * task's heap and outside Spark's execution-memory accounting. */
  private def localRoots(edges: Iterator[Row]): Iterator[Row] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var y = x
      while (y != r) { val up = parent.get(y); parent.put(y, r); y = up }
      r
    }
    var sawNull = false
    edges.foreach { e =>
      val (s, d) = (e.get(0), e.get(1))
      if (s == null || d == null) sawNull = true
      if (s != null) parent.putIfAbsent(s, s)
      if (d != null) parent.putIfAbsent(d, d)
      if (s != null && d != null) {
        val (rs, rd) = (find(s), find(d))
        if (rs.asInstanceOf[Comparable[Any]].compareTo(rd) < 0) parent.put(rd, rs)
        else parent.put(rs, rd)
      }
    }
    val nodes = parent.keySet.asScala.toArray.iterator.map(n => Row(n, find(n)))
    if (sawNull) nodes ++ Iterator.single(Row(null, null)) else nodes
  }

  /** doc_id + distinct shingle set, the shared input frame for the
    * Jaccard/MinHash pipelines. (r14: the `hs` shingle-hash column this
    * used to carry had NO consumer — [[minhashSigAgg]] hashes distinct
    * shingles itself and the AllPairs joins key on the shingle STRINGS
    * — yet every `Scratch.cut(shingled(…))` checkpoint computed it
    * anyway, one interpreted md5 per shingle occurrence, because column
    * pruning cannot reach through a checkpoint. Dropped outright.) */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .withColumn("toks", TextAnalysis.tokens(TextAnalysis.norm(col("text"))))
      .withColumn("ss", shingles(col("toks"), n))
      .select("doc_id", "ss")

  /** The `(doc_id, ss, n)` frame — [[shingled]] plus the set size —
    * that both AllPairs arms consume. Declarative: callers that feed it
    * to more than one consumer cut it ([[Scratch.cut]]). */
  def sized(docs: DataFrame): DataFrame =
    shingled(docs).select(col("doc_id"), col("ss"), size(col("ss")).as("n"))

  /** Exact Jaccard self-join at threshold `t` with AllPairs prefix
    * filtering (Bayardo et al., WWW'07): order each document's shingles
    * rarest-first (global document frequency), join only on the prefix
    * of length n − ⌈t·n⌉ + 1 — any pair with J ≥ t provably shares a
    * prefix shingle — then verify candidates exactly on the full sets.
    * High-frequency shingles never enter the candidate join, which is
    * what keeps Σdf² (and the shuffle) bounded at corpus scale; the
    * 2× size-band prune rides along in the join condition.
    *
    * The [[sized]] frame is cut before use: it feeds the pipeline THREE
    * times (candidate explode + both verification joins) and
    * re-shingling (regex split + per-shingle md5) at every use would
    * triple the scan-side cost. Plan audits that need the full
    * declarative lineage call `jaccardPairsSized(sized(docs), t)`. */
  def jaccardPairs(docs: DataFrame, t: Double = 0.5): DataFrame =
    jaccardPairsSized(Scratch.cut(sized(docs)), t)

  /** ⌈x·t⌉ with t as an EXACT decimal literal. The double form
    * `ceil(x * lit(t))` can land one ulp ABOVE an exact integer
    * product — fl(0.8) > 0.8, so fl(n·fl(0.8)) > n·0.8 for every n
    * divisible by 5 — and a ceil there over-counts by one, silently
    * SHORTENING a prefix (missed true pairs) or inflating an overlap
    * requirement (over-pruned candidates). Double.toString(t) is the
    * shortest decimal that round-trips, so thresholds written as
    * decimals (0.5, 0.8) multiply exactly; a non-decimal t rounds a
    * hair LOW, which only lengthens prefixes — the lossless side. */
  private def ceilTimes(x: Column, t: Double): Column =
    ceil(x * lit(new java.math.BigDecimal(java.lang.Double.toString(t)))).cast("int")

  /** [[jaccardPairs]] over a pre-built `(doc_id, ss, n)` frame — the
    * factoring that lets the training-subset capstone shingle once and
    * feed both its quality arm and this dedup arm from the same
    * materialized base. */
  def jaccardPairsSized(sized: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = sized.select(col("doc_id"), col("n"), explode(col("ss")).as("s"))
    val dfreq = e.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = e.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .withColumn("plen",
        (col("n") - ceilTimes(col("n"), t)) + 1)
      .filter(col("rk") <= col("plen"))
      .select("doc_id", "n", "s", "rk")
    // Candidate pairs via the INVERTED-INDEX formulation of AllPairs:
    // group the prefix postings by shingle (one shuffle) and emit the
    // pairs inside each doc-list with generators — the equivalent
    // prefix SELF-JOIN plans both sides as full copies of the
    // explode+df-join+window lineage (profiled as the two hottest
    // stages of the whole bench: exchange reuse does not cover a
    // broadcast join's stream side), while this shape computes the
    // lineage ONCE. Postings lists are df-bounded by prefix filtering
    // exactly as the join's Σdf² was, so nothing new can blow up.
    // The size-band prune (2×) rides in the pair-generation filter.
    //
    // Pair emission is two CHAINED generators — posexplode the posting
    // list, then explode each element's tail slice — so no single row
    // ever holds more than O(df) data. (A one-shot
    // flatten(transform(transform(...))) emitting all pairs as ONE
    // nested array was the previous shape: it concentrates O(df²)
    // structs in a single aggregation-row value, an OOM-by-skew hazard
    // on a hot prefix shingle that the streamed generator form avoids.)
    val byShingle = prefix
      .groupBy("s")
      .agg(collect_list(struct(col("doc_id"), col("n"), col("rk"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val gen = byShingle
      .select(col("ds"), posexplode(col("ds")).as(Seq("xi", "x")))
      .select(col("x"),
        explode(slice(col("ds"), col("xi") + lit(2), size(col("ds")))).as("y"))
      .select(
        when(col("x.doc_id") < col("y.doc_id"), col("x")).otherwise(col("y")).as("a"),
        when(col("x.doc_id") < col("y.doc_id"), col("y")).otherwise(col("x")).as("b"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("na"), col("b.n").as("nb"),
        struct(col("a.rk").as("i"), col("b.rk").as("j")).as("pos"))
      // size band min/max ≥ t — the pair's best-case Jaccard (smaller
      // set fully contained) compared in the SAME double division the
      // verify filter uses: rounding-to-nearest is monotone, so this
      // can never prune a pair the verify join would pass (the
      // `na >= nb·fl(t)` form could, by the ulp documented at
      // [[ceilTimes]])
      .filter(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")).cast("double") >= t)
    // PPJoin positional filter (Xiao et al., WWW'08): ranks are
    // positions in the GLOBAL rarest-first order, so every shared
    // shingle other than the first common one ranks after it in BOTH
    // lists — overlap ≤ 1 + min(n1 − i, n2 − j) at the first match
    // (i, j). J ≥ t needs overlap ≥ ⌈t·(n1+n2)/(1+t)⌉; pairs whose
    // bound can't reach it are pruned BEFORE the verify join has to
    // haul their full shingle arrays. min(struct(rk_a, rk_b)) picks
    // the first match consistently: the globally-smallest shared
    // shingle minimizes both ranks at once (both posting lists follow
    // the same global order, so the lex-min IS the componentwise min
    // and carries the pair's maximal bound); the aggregation dedups
    // and filters in the same shuffle. (Applying the bound
    // per-occurrence BEFORE the shuffle was tried and is a measured
    // full-bench regression: it keeps ~45% of occurrences on this
    // corpus — the bound is pair-level tight but occurrence-level
    // loose — and the extra map-side expression cost exceeds the
    // shuffle rows saved.)
    // The bound is applied as the best-case Jaccard it implies —
    // ub/(na+nb−ub) ≥ t, the exact comparison the verify filter makes —
    // rather than ub ≥ ceil(t·(na+nb)/(1+t)): the double ceil
    // misrounds at exact-integer boundaries (t=0.8, na+nb=63 gives
    // 28.000…004 → 29) and silently prunes true pairs with J exactly t.
    // Division is monotone under round-to-nearest and ub ≥ overlap, so
    // the ratio form never rejects a pair whose verified jac ≥ t.
    val cand = gen
      .groupBy("d1", "d2")
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        min(col("pos")).as("fm"))
      .withColumn("ub",
        lit(1) + least(col("na") - col("fm.i"), col("nb") - col("fm.j")))
      .filter(col("ub").cast("double") /
        (col("na") + col("nb") - col("ub")).cast("double") >= t)
      .select("d1", "d2")
    cand
      .join(sized.select(col("doc_id").as("d1"), col("ss").as("ss1"), col("n").as("n1")), "d1")
      .join(sized.select(col("doc_id").as("d2"), col("ss").as("ss2"), col("n").as("n2")), "d2")
      .withColumn("common", size(array_intersect(col("ss1"), col("ss2"))))
      .withColumn("jac", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jac") >= t)
      .select("d1", "d2", "n1", "n2", "common", "jac")
  }

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t.
    *
    * Containment is the subset-duplicate detector Jaccard structurally
    * misses: a document embedded verbatim inside a 10× larger one has
    * C = 1.0 but J ≤ 0.1 — below any usable Jaccard threshold. Corpus
    * pipelines run it NEXT TO Jaccard dedup (quote inclusion, page-in-
    * digest, chunk-of-concatenation), so it belongs in the family.
    *
    * Candidate generation is the ASYMMETRIC variant of AllPairs prefix
    * filtering: C ≥ t needs overlap ≥ ⌈t·n_small⌉, so the SMALLER side's
    * rarest-first prefix (length n − ⌈t·n⌉ + 1) must contain a shared
    * shingle — but the larger side gives no such bound (its required
    * overlap fraction can be arbitrarily small), so it must be probed
    * through a FULL inverted index. Hence: prefix occurrences equi-join
    * full occurrences on the shingle. Shuffle volume is
    * Σ_s prefix_df(s)·full_df(s) — and because prefixes are
    * rarest-FIRST, a hot boilerplate shingle (huge full_df) has a
    * near-zero prefix_df, which is what keeps the product bounded where
    * a full×full join (Σ df²) dies. Plain row-level equi-join, no
    * collected posting arrays: nothing concentrates a hot shingle in
    * one task, and AQE splits a skewed shingle key like any other
    * shuffle skew. Exact verification on the materialized shingle sets
    * exactly as [[jaccardPairsSized]].
    *
    * Orientation: the prefix side is constrained to the ≤-size side
    * (ties broken by doc_id), which both halves the candidate volume
    * and is lossless — for equal sizes either side's prefix must hit
    * the overlap, so probing from the smaller-id one suffices. */
  def containmentPairs(docs: DataFrame, t: Double = 0.8): DataFrame =
    containmentPairsSized(Scratch.cut(sized(docs)), t)

  /** [[containmentPairs]] over a pre-built `(doc_id, ss, n)` frame —
    * the [[jaccardPairsSized]] factoring applied to the containment
    * arm, so a composite consumer (dedup_method_matrix) shingles ONCE
    * and feeds both AllPairs arms from the same materialized base. */
  def containmentPairsSized(sized: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = sized.select(col("doc_id"), col("n"), explode(col("ss")).as("s"))
    val dfreq = e.groupBy("s").agg(count(lit(1)).as("df"))
    // every occurrence ranked rarest-first (one window; exchange reuse
    // covers both consumers below) — the FULL side keeps its ranks too,
    // because the positional filter needs both coordinates
    val ranked = e.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
    val prefix = ranked
      .filter(col("rk") <= (col("n") - ceilTimes(col("n"), t)) + 1)
      .select(col("doc_id").as("pd"), col("n").as("pn"),
        col("s"), col("rk").as("pi"))
    val full = ranked.select(col("doc_id").as("fd"), col("n").as("fn"),
      col("s"), col("rk").as("fj"))
    // probe × full-index equi-join; dedup + the PPJoin positional filter
    // share ONE aggregation (the jaccardPairsSized shape): both posting
    // orders follow the same global (df, s) order, so min(struct(pi, fj))
    // IS the componentwise min at the first shared shingle, and
    // overlap ≤ 1 + min(pn − i, fn − j) there — pairs whose bound cannot
    // reach ⌈t·pn⌉ are pruned BEFORE the verify join hauls their full
    // shingle arrays (on a hot-shingle corpus this is most of them:
    // measured 6.1 s → the distinct-only form's verify join dominated).
    // The min is taken over PREFIX-side matches only, but that loses
    // nothing: the globally-first shared shingle has the minimal probe
    // rank of all shared shingles, so whenever ANY shared shingle sits
    // in the prefix (i.e. the pair is generated at all), the first one
    // does too — the lex-min row is always the true (i0, j0).
    val gen = prefix.join(full, "s")
      .filter(col("pn") < col("fn") ||
        (col("pn") === col("fn") && col("pd") < col("fd")))
      .groupBy("pd", "fd")
      .agg(first(col("pn")).as("pn"), first(col("fn")).as("fn"),
        min(struct(col("pi").as("i"), col("fj").as("j"))).as("fm"))
      // bound as the best-case containment it implies (ub/pn ≥ t, the
      // verify filter's own double compare — pn IS min(np, nf) by the
      // orientation) instead of ub ≥ ceil(t·pn), whose double ceil
      // misrounds for every pn divisible by 5 at t=0.8 (see ceilTimes)
      .withColumn("ub",
        lit(1) + least(col("pn") - col("fm.i"), col("fn") - col("fm.j")))
      .filter(col("ub").cast("double") / col("pn").cast("double") >= t)
      .select(col("pd"), col("fd"))
    gen
      .join(sized.select(col("doc_id").as("pd"), col("ss").as("ssp"), col("n").as("np")), "pd")
      .join(sized.select(col("doc_id").as("fd"), col("ss").as("ssf"), col("n").as("nf")), "fd")
      .withColumn("common", size(array_intersect(col("ssp"), col("ssf"))))
      .withColumn("cont", col("common").cast("double") /
        least(col("np"), col("nf")).cast("double"))
      .filter(col("cont") >= t)
      // (pd, fd) orients probe-first; the OUTPUT contract is id-ordered
      .select(
        when(col("pd") < col("fd"), col("pd")).otherwise(col("fd")).as("d1"),
        when(col("pd") < col("fd"), col("fd")).otherwise(col("pd")).as("d2"),
        when(col("pd") < col("fd"), col("np")).otherwise(col("nf")).as("n1"),
        when(col("pd") < col("fd"), col("nf")).otherwise(col("np")).as("n2"),
        col("common"), col("cont"))
  }
}
