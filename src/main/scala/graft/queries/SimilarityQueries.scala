package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Lloyd, Scratch}
import graft.operators.Lloyd.Centroids
import graft.operators.Similarity._

/** Oracle-checked similarity-search queries over `embeddings` (M3):
  * brute-force cosine kNN, sign-bit-LSH approximate kNN, and exact
  * per-label centroid sums. Query vectors are vec_id < 10; candidates
  * are the rest.
  *
  * All scoring is fixed-point (see [[graft.operators.Similarity]]), so
  * the DuckDB oracle reproduces every integer exactly and the one
  * double division is bit-identical.
  */
object SimilarityQueries extends QueryModule {

  private val K = 5
  private val LshBits = 6
  private val LshK = 3

  /** Multi-probe dial (X-10 recall fix): each query probes its own
    * sign bucket PLUS the buckets reached by flipping each of its
    * `LshProbes` lowest-margin bits — for axis-aligned hyperplanes the
    * margin of bit i is just |embedding[i]|, so the least-confident
    * signs (the ones a true neighbor most likely disagrees on) are
    * probed first. This is standard multi-probe LSH: single-bucket
    * probing measured recall ≈ 0.03 on this near-orthogonal corpus
    * (the 2^6 scan reduction bought almost total recall loss);
    * probing 1+LshProbes of the 64 buckets, margin-ordered, recovers
    * most 1-bit-off neighbors. The scan-shape contract is unchanged —
    * candidates still equi-join on the bucket key; only the broadcast
    * query side fans out ×(1+LshProbes). ann_recall reports the
    * before ("lsh") and after ("lsh_mp") against the same truth. */
  private val LshProbes = 3

  /** Near-dup banding: 4 bands x 16 sign bits. 16-bit keys give 65536
    * values per band, so chance collisions are ~n²/2^16 per band — the
    * same bounded-join guarantee simhash_neardup's 15-bit bands rely
    * on. (Round 4 used 4-bit axis slices = 16 key values per band,
    * which is an all-pairs join in disguise at scale.) Band width is
    * the n-dependent dial: more bits per band → fewer chance
    * collisions, lower recall per band; add bands to buy recall back
    * (at cos 0.99 each 16-bit band matches with p ≈ 0.48; 4 bands
    * recall ≈ 93%). */
  private val NdBands = 4
  private val NdBits = 16
  private val Dim = 64

  /** Semantic-dedup (X-110) knobs: the within-cluster pair join is
    * quadratic in cluster size by design, so the bound is enforced
    * (Fuzzy.MaxDomainKey pattern), and the cosine cutoff sits just
    * under this corpus's background max so the report is non-empty. */
  val SemDedupMaxKey = "spark.graft.semdedup.maxCluster"
  val SemDedupDefaultMax = 10000L
  private val SemThreshold = 0.45

  /** X-110's scale law, registered (r13, the r12 verdict's one weak
    * component): SemDeDup's contract is that k GROWS with n so cluster
    * size — and the within-cluster quadratic pair work — stays bounded
    * (Abbas et al. 2023 train 11k clusters for 5B points; a pinned k
    * makes pair work ∝ n²/k, which is what fired the max-cluster gate
    * at the 100× ladder in r12). k = max(8, ⌈n / target⌉) in INTEGER
    * arithmetic only, so the DuckDB oracle derives the IDENTICAL k
    * from the same corpus count — determinism survives because both
    * engines see the same n. At every verify SF (n ≤ 8·target) this
    * floors at the historical k = 8, so small-corpus results are
    * bit-identical to prior rounds; on the 100× ladder (n = 200k) it
    * trains k = 100 and E[cluster size] holds at the target. The
    * max-cluster gate stays as the BACKSTOP for pathological cluster
    * skew the derivation can't see. */
  val SemDedupTargetCluster = 2000L
  private def semDedupK(n: Long): Long =
    math.max(8L, (n + SemDedupTargetCluster - 1) / SemDedupTargetCluster)

  /** SQL mirror of [[semDedupK]] over the `n` CTE (same integer
    * ceiling-division, same floor at 8). */
  private val semDedupKSql =
    s"kk AS (SELECT GREATEST(8, (count(*) + ${SemDedupTargetCluster - 1}) " +
      s"// $SemDedupTargetCluster) AS k FROM n)"

  /** Deterministic ±1 random-hyperplane weights (SplitMix64-style
    * scramble of a fixed seed). Evaluated at plan-construction time in
    * Scala only; both the Spark plan and the oracle SQL embed the same
    * literals, so the two engines cannot drift. */
  private def planeWeights(plane: Int): IndexedSeq[Int] =
    (0 until Dim).map { i =>
      var z = (plane.toLong * Dim + i + 1) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      if ((z >>> 63) == 0L) 1 else -1
    }

  /** vec_id, quantized embedding, exact squared norm. */
  private def base(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        quantize(col("embedding")).as("qe"))
      .withColumn("nq", dotFx(col("qe"), col("qe")))

  /** Scores a frame that already pairs candidate (qe, nq) with query
    * (q_qe, q_nq) columns. */
  private def scored(paired: DataFrame): DataFrame =
    paired
      .withColumn("dot_fx", dotFx(col("qe"), col("q_qe")))
      .withColumn("cos", cosFx(col("dot_fx"), col("nq"), col("q_nq")))

  // ── The IVF index, shared by kmeans_centroids (training as the
  //    deliverable) and every IVF-family query (training feeding the
  //    index): graft.operators.Lloyd trains it, one job per Lloyd step,
  //    and the trained k-row table stays on the driver, where
  //    nearestClusters serves it to every consumer. ──

  /** Top-`n` nearest centroids per vector — the one centroid-assignment
    * path: max cosine first, null cosines last, ties to the lowest
    * cluster id (a zero-norm vector lands on its lowest-id candidates);
    * one row per (vector, winner), fewer than `n` when `cents` has
    * fewer rows. `cents` must carry unique cluster ids — true of every
    * caller, whose centroids come from a Lloyd step's per-cluster sums
    * or the distinct vec_id seeds.
    *
    * The driver-held table reaches every row as ONE broadcast value
    * (`Centroids.served`: a [[graft.functions.BroadcastArray]] behind
    * the argmax's `cs` input, whose plan string prints `centroids(k=…)`
    * and never the k × dim elements), and the argmax runs INSIDE the
    * scan via the native [[graft.functions.ArgMaxCosFx]]: no join, no
    * packing exchange, no n×k rows materialized or shuffled and no
    * per-vector sort, so under the derived-k scale law (k ∝ n)
    * assignment stays shuffle-free at any k (MicroBench times the fused
    * loop at k = 8, 100, 1000).
    *
    * n > 1 takes the winner n times: each round runs the argmax over
    * the table with the earlier winners filtered out, and the winners
    * explode into rows. Successive argmaxes over a shrinking set
    * enumerate the centroids in exactly the `ORDER BY cos DESC NULLS
    * LAST, cluster` rank of a per-vector window — the reference form
    * RetrievalOpsSpec compares against and [[nearestSql]] mirrors for
    * the oracle. Only query sets (≤ 10 rows, n ≤ 4) take this path, so
    * its O(n·k) per row is noise.
    *
    * The isNotNull filter drops exhausted rounds: on an EMPTY centroid
    * table, or past the last centroid, the remaining array is empty and
    * the argmax null, so such a vector yields no row — as the window
    * form. When every centroid has an id, the top-1 argmax always
    * resolves (all-null cosines fall back to the lowest cluster id) and
    * n = 1 takes no filter: the optimizer would push it below the
    * fan-out exchange of [[graft.Tables.embeddings]], where it evaluates
    * the argmax a second time and gives each consumer of the corpus its
    * own exchange. */
  private[graft] def nearestClusters(df: DataFrame, cents: Centroids, n: Int): DataFrame = {
    def argmax(cs: Column) = graft.functions.ArgMaxCosFx.argmax_cos_fx(col("qe"), col("nq"), cs)
    val served = cents.served(df.sparkSession)
    if (n == 1) {
      val top = df.withColumn("cluster", argmax(served))
      if (cents.alwaysResolves) top else top.filter(col("cluster").isNotNull)
    } else {
      val rounds = (1 until n).foldLeft(
          df.withColumn("cs", served).withColumn("w0", argmax(col("cs")))) { (f, i) =>
        f.withColumn("cs", filter(col("cs"), c => c("cluster") =!= col(s"w${i - 1}")))
          .withColumn(s"w$i", argmax(col("cs")))
      }
      val ws = (0 until n).map(i => s"w$i")
      rounds.withColumn("cluster", explode(array(ws.map(col): _*))).drop("cs" +: ws: _*)
        .filter(col("cluster").isNotNull)
    }
  }

  /** [[nearestClusters]] against a (cluster, ce, nc) frame, collected
    * to the driver first. */
  private[graft] def nearestClusters(df: DataFrame, cents: DataFrame, n: Int): DataFrame =
    nearestClusters(df, Centroids.collect(cents), n)

  /** The trained IVF index of `b`: the vec_id < k seeds (k = 8 for the
    * fixed-k queries, whose oracles pin it; [[semDedupK]] for the
    * derived-k ones), then two Lloyd steps. The result holds round 2's
    * per-(cluster, pos) sums, which kmeans_centroids reports, and the
    * trained centroid table every IVF-family query serves. */
  private def lloydTrain(b: DataFrame, k: Long = 8L): Lloyd.Sums = Lloyd.train(b, k)

  // ── PQ building blocks, shared by pq_error (X-101, training + codes
  //    as the deliverable) and ivfpq_topk (X-143, the trained codebook
  //    feeding the serving index). M=4 × 16-dim subspaces, 8
  //    sub-centroids each; all distances exact integer squared-L2. ──

  private val PqM = 4
  private val PqSd = Dim / PqM

  /** (vec_id, sub, sv) subvector split of a (vec_id, qe) frame. */
  private def pqSubvectors(q: DataFrame): DataFrame =
    q.select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("qe"))
      .withColumn("sv", expr(s"slice(qe, sub * $PqSd + 1, $PqSd)"))
      .drop("qe")

  /** Exact squared-L2 of every (vec, sub) row against EVERY
    * sub-centroid of its subspace (`cents`: sub, cluster, ce — ≤ M×8
    * rows by construction, broadcast). */
  private def pqDists(sv: DataFrame, cents: DataFrame): DataFrame =
    sv.join(broadcast(cents), "sub")
      .withColumn("dist",
        expr("aggregate(zip_with(sv, ce, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"))

  /** Argmin code assignment (ties to the lowest cluster) — the winner
    * of `row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist,
    * cluster)` computed MAP-SIDE (r14): the window form shuffled
    * n·(M·K) candidate rows and sorted them per (vec, sub) — pure
    * overhead for an argmin the scan can fold. The subspace's ≤K
    * candidates ride in ONE packed array per `sub` (broadcast, M rows)
    * and the fused-loop [[graft.functions.ArgMinL2Fx]] picks the
    * winner per row — bit-identical distances and tiebreaks (pinned in
    * ArgMinL2FxSpec against the window composition; TrainingOpsSpec
    * and the pq_error/ivfpq_topk oracles pin the end-to-end surface).
    * Plan diff per assignment: one Exchange + Sort + Window removed. */
  private def pqAssign(sv: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.groupBy("sub")
      .agg(collect_list(struct(col("cluster"), col("ce"))).as("cands"))
    sv.join(broadcast(packed), "sub")
      .withColumn("best",
        graft.functions.ArgMinL2Fx.argmin_l2_fx(col("sv"), col("cands")))
      .filter(col("best").isNotNull)
      .withColumn("cluster", col("best.cluster"))
      .withColumn("dist", col("best.dist"))
      .drop("cands", "best")
  }

  /** One floored-IEEE-mean Lloyd update from the vec_id < 8 seeds →
    * the trained 32-row (sub, cluster, ce) codebook (the consumer's
    * own assignment against it is the second Lloyd round). */
  private def pqTrain(sv: DataFrame): DataFrame = {
    val seeds = sv.filter(col("vec_id") < 8)
      .select(col("sub"), col("vec_id").as("cluster"), col("sv").as("ce"))
    pqAssign(sv, seeds)
      .select(col("sub"), col("cluster"), posexplode(col("sv")).as(Seq("spos", "v")))
      .groupBy("sub", "cluster", "spos")
      .agg(sum(col("v")).as("sv_"), count(lit(1)).as("cnt"))
      .withColumn("val",
        floor(col("sv_").cast("double") / col("cnt").cast("double")).cast("long"))
      .groupBy("sub", "cluster")
      .agg(transform(array_sort(collect_list(struct(col("spos"), col("val")))),
        x => x("val")).as("ce"))
  }

  /** X-142 MMR pool size (exact top-P per query feeds the greedy
    * selection; every post-pool frame is ≤ queries·P rows). */
  private val MmrPool = 8

  /** Shared oracle CTE: quantized embeddings + exact norms. */
  private val baseSql =
    """q AS (SELECT vec_id, embedding,
      |             list_transform(embedding,
      |               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS qe
      |      FROM embeddings),
      |n AS (SELECT vec_id, embedding, qe,
      |             CAST(list_sum(list_transform(range(1, len(qe) + 1),
      |               i -> qe[i] * qe[i])) AS BIGINT) AS nq
      |      FROM q)""".stripMargin

  private val dotSql =
    "CAST(list_sum(list_transform(range(1, len(c.qe) + 1), i -> c.qe[i] * qq.qe[i])) AS BIGINT)"

  private def dotSql2(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i])) AS BIGINT)"

  /** SQL mirror of [[probeBuckets]] + the query-side explode: probe
    * rows (vec_id, bucket, qe, nq) for query vectors — own bucket plus
    * the `p` lowest-margin single-bit flips, margins ranked by the
    * identical (abs(coordinate), bit-index) order. Expects a `bk` CTE
    * carrying (vec_id, embedding, qe, nq, bucket). */
  /** Shared sign-bucket SQL fragment (one copy so the ann_lsh_bucket
    * and ann_recall oracles cannot drift on the sign convention). */
  private val bucketSql: String = (0 until LshBits)
    .map(i => s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
    .mkString(" + ")

  private def probeSql(p: Int): String =
    s"""qm AS (SELECT vec_id, i,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id
       |          ORDER BY abs(embedding[i + 1]), i) AS mrk
       |      FROM bk, range(0, $LshBits) r(i) WHERE vec_id < 10),
       |qprobe AS (
       |  SELECT vec_id, bucket, qe, nq FROM bk WHERE vec_id < 10
       |  UNION ALL
       |  SELECT b.vec_id, xor(b.bucket, CAST(1 << m.i AS BIGINT)) AS bucket,
       |         b.qe, b.nq
       |  FROM qm m JOIN bk b ON m.vec_id = b.vec_id WHERE m.mrk <= $p)""".stripMargin

  /** SQL mirror of [[nearestClusters]]: top-`krk` clusters per vector. */
  private def nearestSql(cents: String, where: String, krk: Int) =
    s"""(SELECT vec_id, qe, nq, cluster FROM (
       |   SELECT v.vec_id, v.qe, v.nq, c.cluster,
       |          ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |            CAST(${dotSql2("v.qe", "c.ce")} AS DOUBLE)
       |              / sqrt(CAST(v.nq AS DOUBLE) * CAST(c.nc AS DOUBLE)) DESC,
       |            c.cluster) AS crk
       |   FROM n v CROSS JOIN $cents c $where)
       | WHERE crk <= $krk)""".stripMargin

  /** SQL mirror of one Lloyd round: assign against `prev`, floor-mean
    * update, back to (cluster, ce, nc) arrays. */
  private def lloydRoundSql(prev: String, aN: String, uN: String,
      cNa: String, cN: String) =
    s"""$aN AS ${nearestSql(prev, "", 1)},
       |$uN AS (SELECT cluster, CAST(i - 1 AS INTEGER) AS pos,
       |         CAST(floor(CAST(sum(qe[i]) AS DOUBLE) / count(*)) AS BIGINT) AS val
       |       FROM $aN, range(1, ${Dim + 1}) r(i) GROUP BY cluster, pos),
       |$cNa AS (SELECT cluster, list(val ORDER BY pos) AS ce FROM $uN GROUP BY cluster),
       |$cN AS (SELECT cluster, ce, ${dotSql2("ce", "ce")} AS nc FROM $cNa)""".stripMargin

  /** Brute-force cosine top-`k` per query vector (the exact truth the
    * ANN variants approximate). Queries broadcast; the candidate scan
    * is scored map-side, then exact two-phase top-k (operators.Rank):
    * a q_id-only window would hold the whole scored corpus in each
    * query's partition — the pre-prune keyed by the physical scan
    * partition keeps every sort slice-bounded. */
  private def knnTopK(s: org.apache.spark.sql.SparkSession, d: String, k: Int): DataFrame = {
    val b = base(s, d)
    val qs = broadcast(b.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"), col("nq").as("q_nq")))
    graft.operators.Rank.topKPerGroup(
        scored(b.filter(col("vec_id") >= 10).crossJoin(qs)),
        k, Seq("q_id"), Seq(col("cos").desc, col("vec_id")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("rk"), col("dot_fx"), col("cos"))
  }

  /** The query's probe-bucket list: its own sign bucket first, then
    * the buckets with each of the `nProbes` lowest-margin bits flipped
    * (ties on the float margin break to the lower bit index — the
    * identical (margin, i) order the oracle's window ranks by). All
    * entries are distinct by construction (distinct single-bit flips),
    * so a candidate can match a query through at most one probe. */
  private def probeBuckets(emb: Column, bits: Int, nProbes: Int): Column = {
    val pow = typedLit((0 until bits).map(j => 1L << j))
    val bkt = signBucket(emb, bits)
    val margins = array_sort(transform(sequence(lit(0), lit(bits - 1)),
      i => struct(abs(get(emb, i)).as("m"), i.as("i"))))
    concat(array(bkt),
      transform(slice(margins, 1, nProbes),
        f => bkt.bitwiseXOR(get(pow, f("i")))))
  }

  /** LSH path: candidates only from the query's probe buckets
    * (equi-join on the bucket key instead of a cross product).
    * `nProbes` = 0 is the single-bucket baseline kept for ann_recall's
    * before/after; the registered query runs `LshProbes`. Some queries
    * may legitimately find < k neighbors — that's the recall trade-off
    * bucketing buys scale with (ann_recall measures it). */
  private def lshTopK(s: org.apache.spark.sql.SparkSession, d: String,
      nProbes: Int): DataFrame = {
    val b = base(s, d).withColumn("bucket", signBucket(col("embedding"), LshBits))
    val q0 = b.filter(col("vec_id") < 10)
    val qs = broadcast(
      if (nProbes == 0)
        q0.select(col("vec_id").as("q_id"), col("bucket"),
          col("qe").as("q_qe"), col("nq").as("q_nq"))
      else
        q0.select(col("vec_id").as("q_id"),
          explode(probeBuckets(col("embedding"), LshBits, nProbes)).as("bucket"),
          col("qe").as("q_qe"), col("nq").as("q_nq")))
    graft.operators.Rank.topKPerGroup(
        scored(b.filter(col("vec_id") >= 10).join(qs, "bucket")),
        LshK, Seq("q_id"), Seq(col("cos").desc, col("vec_id")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("bucket"), col("rk"), col("cos"))
  }

  /** IVF (inverted-file) ANN over TRAINED centroids: two Lloyd rounds
    * from the deterministic seeds (exactly kmeans_centroids' recipe —
    * shared helpers, so the index probes the very centroids that query
    * reports), then vectors are assigned to their nearest trained
    * centroid and each query probes its 2 nearest; only those
    * clusters' members are scored. The scan shrinks by ~nprobe/nlist —
    * the other classic ANN scale path next to LSH. Training is what an
    * IVF index build IS; at deployment scale it runs once and is
    * reused across queries. */
  private def ivfTopK(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    // trained once on the driver; both consumers serve the same table
    val c2 = lloydTrain(b).centroids
    val assigned = nearestClusters(b.filter(col("vec_id") >= 10), c2, 1)
    val probes = nearestClusters(b.filter(col("vec_id") < 10), c2, 2)
      .select(col("vec_id").as("q_id"), col("cluster"),
        col("qe").as("q_qe"), col("nq").as("q_nq"))
    graft.operators.Rank.topKPerGroup(
        scored(assigned.join(broadcast(probes), "cluster")),
        LshK, Seq("q_id"), Seq(col("cos").desc, col("vec_id")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("cluster"), col("rk"), col("cos"))
  }

  /** Per-query hit count of `approx` (q_id, neighbor_id) against the
    * exact top-`k` truth: left join FROM the truth, so recall =
    * hits / k and extra approximate results are never rewarded. */
  private def recallOf(truth: DataFrame, approx: DataFrame, method: String): DataFrame = {
    val t = truth.select(col("q_id"), col("neighbor_id"))
    // approx is ≤ |queries|·k rows BY CONSTRUCTION (a topKPerGroup
    // output), but it usually arrives behind a checkpoint/artifact scan
    // with unknown stats, so the planner fell back to a SortMergeJoin —
    // two exchanges + sorts for a ≤30-row side (r14, guide §3.1: hint
    // when the bound is known). Same discipline as the qs frames.
    val a = broadcast(
      approx.select(col("q_id").as("a_qid"), col("neighbor_id").as("a_nid")))
    t.join(a, t("q_id") === a("a_qid") && t("neighbor_id") === a("a_nid"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"), count(col("a_nid")).as("n_hit"))
      .select(lit(method).as("method"), col("q_id"), col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true").cast("double")).as("recall"))
  }

  // ── Serve-side building blocks shared by the standalone siblings and
  //    the ann_family capstone (X-168). Each takes the TRAINED index
  //    frames (cents: cluster/ce/nc; assigned: vec_id/cluster/qe/nq) as
  //    inputs, so the capstone provably derives the exact sibling
  //    surfaces from its persisted artifacts — the dedup_family (X-159)
  //    composition discipline applied to the ANN family. ──

  /** The deterministic planted near-dup batch (every 17th vector
    * perturbed in quantized integer space, id ↦ −id−1 — exact in both
    * engines; see embedding_neardup's comment for why the negative
    * mirror can't collide). `src` needs (vec_id, qe). */
  private def plantedVariants(src: DataFrame): DataFrame = {
    val var0 = src.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id"),
        transform(col("qe"), (x, i) =>
          x + (((col("vec_id") * 131 + i * 101) % 601) * 1000 - 300000)).as("qe2"))
    var0.select((lit(-1L) - col("vec_id")).as("vec_id"),
      col("qe2").as("qe"), dotFx(col("qe2"), col("qe2")).as("nq"))
  }

  /** One ivf_nprobe_curve arm: probe `nprobe` nearest lists per query,
    * score only those lists' members, report recall@k + scanned-
    * candidate count. `corpus` = assigned candidate rows (vec_id ≥ 10),
    * `queries` needs (vec_id, qe, nq). */
  private def nprobeArm(cents: Centroids, corpus: DataFrame,
      queries: DataFrame, truth: DataFrame, nprobe: Int): DataFrame = {
    val probes = nearestClusters(queries, cents, nprobe)
      .select(col("vec_id").as("q_id"), col("cluster"),
        col("qe").as("q_qe"), col("nq").as("q_nq"))
    val cand = corpus.join(broadcast(probes), "cluster")
    val topk = graft.operators.Rank.topKPerGroup(
        scored(cand), LshK, Seq("q_id"), Seq(col("cos").desc, col("vec_id")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    // a probed cluster can be candidate-empty → no n_cand row; an
    // unmatched query still has truth rows, so coalesce to 0.
    // broadcast: ≤ |queries| rows by construction (r14, the recallOf
    // rationale — the aggregate output has no stats for the planner)
    val nCand = broadcast(cand.groupBy("q_id").agg(count(lit(1)).as("n_cand")))
    recallOf(truth, topk, s"ivf_p$nprobe")
      .join(nCand, Seq("q_id"), "left_outer")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
  }

  /** centroid_outliers' report off a trained index: per-vector cosine
    * to its own centroid, bottom-3 per cluster with size + max. */
  private def outlierReport(cents: DataFrame, assigned: DataFrame): DataFrame = {
    val withCos = assigned.join(broadcast(cents), "cluster")
      .withColumn("cos_c", cosFx(dotFx(col("qe"), col("ce")), col("nq"), col("nc")))
    val sizes = withCos.groupBy("cluster")
      .agg(count(lit(1)).as("n_cluster"), max(col("cos_c")).as("max_cos"))
    // rank key COALESCE(cos, -2): a zero-norm member's cosine is NULL
    // (undefined), and the two engines order nulls OPPOSITE ways in an
    // ASC window (Spark NULLS FIRST, DuckDB NULLS LAST) — the r11
    // zero-vector corpus surfaced exactly that divergence. -2 < any
    // real cosine, so "similarity undefined" explicitly ranks as
    // furthest-from-centroid on BOTH sides; the output cos stays NULL.
    graft.operators.Rank.topKPerGroup(withCos, 3, Seq("cluster"),
        Seq(coalesce(col("cos_c"), lit(-2.0)), col("vec_id")))
      .join(broadcast(sizes), "cluster")
      .select("cluster", "vec_id", "cos_c", "rk", "n_cluster", "max_cos")
  }

  /** ivf_maintenance's ledger off a trained index: per-list standing
    * count + batch additions + exact-ppm load share + retrain hint.
    * `oldCounts` = (cluster, old_n) standing-list sizes. */
  private def maintLedger(cents: Centroids, oldCounts: DataFrame,
      newb: DataFrame): DataFrame = {
    val addN = nearestClusters(newb, cents, 1)
      .groupBy("cluster").agg(count(lit(1)).as("added_n"))
    val report = Scratch.cut(
      cents.frame(newb.sparkSession).select("cluster")
        .join(oldCounts, Seq("cluster"), "left_outer")
        .join(addN, Seq("cluster"), "left_outer")
        .select(col("cluster"),
          coalesce(col("old_n"), lit(0L)).as("old_n"),
          coalesce(col("added_n"), lit(0L)).as("added_n"))
        .withColumn("new_n", col("old_n") + col("added_n")))
    val tot = report.agg(sum(col("new_n")).as("total_n"),
      count(lit(1)).as("n_lists"))
    report.crossJoin(broadcast(tot))
      .withColumn("load_ppm",
        expr("CAST(CAST(new_n AS DECIMAL(38,0)) * 1000000 div total_n AS BIGINT)"))
      .withColumn("retrain_hint",
        expr("CAST(new_n AS DECIMAL(38,0)) * n_lists > 2 * CAST(total_n AS DECIMAL(38,0))"))
      .select("cluster", "old_n", "added_n", "new_n", "load_ppm", "retrain_hint")
  }

  /** cluster_balanced_sample's quota draw off a trained assignment:
    * fixed quota of 4 per cluster by deterministic md5 priority.
    * `assignedThin` needs (vec_id, cluster). */
  private def quotaSample(assignedThin: DataFrame): DataFrame = {
    val withPri = assignedThin.select(col("vec_id"), col("cluster"),
      conv(substring(md5(concat(lit("graft-cbs"),
        col("vec_id").cast("string"))), 1, 14), 16, 10)
        .cast("long").as("pri"))
    val sizes = withPri.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
    graft.operators.Rank.topKPerGroup(withPri, 4, Seq("cluster"),
        Seq(col("pri"), col("vec_id")))
      .join(broadcast(sizes), "cluster")
      .select("cluster", "vec_id", "n_cluster", "rk")
  }

  /** semantic_dedup's fail-fast max-cluster gate (see that query's
    * comment for the build/serve rationale); shared with ann_family. */
  private def semDedupGate(s: SparkSession, assigned: DataFrame): Unit = {
    val maxCluster = s.conf.getOption(SemDedupMaxKey)
      .map(_.toLong).getOrElse(SemDedupDefaultMax)
    // max() over zero rows is a null cell — an empty embeddings
    // table must yield an empty report, not an NPE (EdgeCasesSpec
    // discipline)
    val biggest = Option(assigned.groupBy("cluster").count()
      .agg(max(col("count"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(biggest <= maxCluster,
      s"semantic dedup is quadratic within a cluster: largest cluster " +
        s"has $biggest members, exceeding $SemDedupMaxKey = $maxCluster. " +
        "k already scales with n (semDedupK), so this is cluster SKEW: " +
        "raise k / lower SemDedupTargetCluster, or split oversized " +
        "clusters via the banded embedding_neardup path")
  }

  /** semantic_dedup's drop report off a trained assignment: earliest
    * (lowest-id) same-cluster neighbor at cosine ≥ [[SemThreshold]]. */
  private def semDedupDrops(assigned: DataFrame): DataFrame = {
    val l = assigned.select(col("cluster"), col("vec_id").as("near_id"),
      col("qe").as("l_qe"), col("nq").as("l_nq"))
    val r = assigned.select(col("cluster"), col("vec_id"),
      col("qe").as("r_qe"), col("nq").as("r_nq"))
    l.join(r, "cluster")
      .filter(col("near_id") < col("vec_id"))
      .withColumn("cos", cosFx(dotFx(col("l_qe"), col("r_qe")),
        col("l_nq"), col("r_nq")))
      .filter(col("cos") >= SemThreshold)
      .groupBy("vec_id", "cluster")
      .agg(min(struct(col("near_id"), col("cos"))).as("m"))
      .select(col("vec_id"), col("cluster"),
        col("m.near_id").as("near_id"), col("m.cos").as("cos"))
  }

  def defs: Map[String, Q] = Map(
    "knn_cosine" -> ((s, d) => knnTopK(s, d, K).orderBy("q_id", "rk")),

    "ann_lsh_bucket" -> ((s, d) => lshTopK(s, d, LshProbes).orderBy("q_id", "rk")),

    "ivf_topk" -> ((s, d) => ivfTopK(s, d).orderBy("q_id", "rk")),

    // Realized recall@k of the two ANN paths against the brute-force
    // truth (X-73) — "measure, don't guess" applied to the
    // speed-for-recall trade every bucketed/probed index makes: per
    // query vector, how many of the TRUE top-3 the approximate method
    // actually surfaced. Join shape: truth is |queries|×k rows and the
    // approximations are ≤ that, so everything after the (shared)
    // underlying scans is broadcast-scale; the expensive inputs are
    // the same audited pipelines the individual queries run.
    //
    // Three methods against the same truth: IVF(2-probe) ≈ 0.90 mean
    // recall, single-bucket sign-LSH ≈ 0.03, margin-ordered multi-probe
    // LSH (1 + LshProbes buckets) materially above it — the before
    // ("lsh") rides along precisely to show what the multi-probe dial
    // buys. The honest story for THIS corpus: background pair cosine
    // ≈ 0.6 (no true near-dup structure), so 64-dim near-orthogonal
    // vectors land in sign buckets nearly independently of their
    // top-3 — single-bucket probing buys its 2^6 scan reduction with
    // almost total recall loss; probing the low-margin neighbors claws
    // back the 1-bit-off mass at 4/64 of the scan, while IVF's trained
    // partition + 2-of-8 probing keeps 90%. Exactly the trade this
    // query exists to surface before anyone ships the cheaper index.
    "ann_recall" -> ((s, d) => {
      // truth MATERIALIZED: three recallOf branches consume it, and
      // without the cut each union branch re-executes the brute-force
      // queries×candidates kNN scan — the most expensive input here
      // (the ivfTopK index-build discipline applied to the truth set;
      // the frame is |queries|·k rows, trivially small).
      val truth = Scratch.cut(knnTopK(s, d, LshK))
      recallOf(truth, lshTopK(s, d, 0), "lsh")
        .unionByName(recallOf(truth, lshTopK(s, d, LshProbes), "lsh_mp"))
        .unionByName(recallOf(truth, ivfTopK(s, d), "ivf"))
        .orderBy("method", "q_id")
    }),

    // X-166: the IVF nprobe tuning curve — recall@k AND scan cost per
    // probe width, measured on the same trained index. ann_recall
    // compares index FAMILIES at fixed settings; this query measures
    // the one dial an IVF deployment actually turns (nprobe ∈ {1,2,4}
    // of 8 lists): per query, how many of the TRUE top-3 each width
    // surfaces and how many candidates it had to score (n_cand — the
    // serve-cost axis; recall alone would hide that nprobe=8 is just a
    // linear scan). Index-build posture: the centroids are trained once
    // and held on the driver, the corpus assignment and the truth set
    // are each MATERIALIZED once, and all three arms consume them
    // (train-once/serve-many); per arm,
    // the probe set is ≤ 10·nprobe rows broadcast against the
    // materialized assignment — no arm rebuilds anything.
    "ivf_nprobe_curve" -> ((s, d) => {
      val b = base(s, d)
      val c2 = lloydTrain(b).centroids
      val assigned = Scratch.cut(
        nearestClusters(b.filter(col("vec_id") >= 10), c2, 1)
          .select("vec_id", "cluster", "qe", "nq"))
      val truth = Scratch.cut(knnTopK(s, d, LshK))
      Seq(1, 2, 4)
        .map(n => nprobeArm(c2, assigned, b.filter(col("vec_id") < 10), truth, n))
        .reduce(_.unionByName(_))
        .select("method", "q_id", "n_true", "n_hit", "recall", "n_cand")
        .orderBy("method", "q_id")
    }),

    // X-167: IVF standing-index maintenance — the continuous-ingest
    // posture for the ANN family (ingest_pipeline is the dedup analog):
    // a batch of NEWLY EMBEDDED vectors arrives against a served index
    // that was trained once, and the maintenance job must (a) assign
    // the batch at probe-side-only cost (never re-scan the standing
    // corpus), and (b) report per-list load so the operator knows WHEN
    // to retrain (the list-imbalance signal every IVF deployment
    // watches — a hot list degrades both recall and tail latency).
    // New batch = the embedding_neardup planted-variant recipe (every
    // 17th vector perturbed in quantized integer space, id ↦ −id−1 —
    // exact in both engines), standing = the whole table. Output per
    // trained list: standing count, additions, new total, exact-ppm
    // load share (DECIMAL(38,0) — the dsirScores headroom rule), and a
    // retrain hint when a list holds > 2× the mean load. Scale shape:
    // index trained once and held on the driver; the standing count is
    // one corpus aggregate (at deployment: a persisted artifact
    // maintained by mergeable adds); the batch assignment reads the
    // served 8-row table in the scan; everything after is an 8-row frame,
    // materialized so its two consumers (totals + report) never re-run
    // the assignment lineages.
    "ivf_maintenance" -> ((s, d) => {
      val b = base(s, d)
      val c2 = lloydTrain(b).centroids
      val oldN = nearestClusters(b, c2, 1)
        .groupBy("cluster").agg(count(lit(1)).as("old_n"))
      maintLedger(c2, oldN, plantedVariants(b))
        .orderBy("cluster")
    }),

    // X-168: the ANN/retrieval-family capstone — ONE persisted trained
    // index serving every family surface (the dedup_family/X-159
    // shared-artifact discipline applied to the eight queries that each
    // re-train the same 2-Lloyd k-means index standalone). Stage 1
    // trains ONCE and PERSISTS the three artifacts a deployed IVF
    // index IS: the centroid table (8 rows), the inverted lists (the
    // full corpus assignment, carrying the quantized vectors exactly as
    // faiss inverted lists carry codes), and the brute-force truth set
    // for measurement (|queries|·k rows). Stage 2 derives, each as a
    // SCAN of those artifacts through the SAME serve-side helpers the
    // standalone siblings call (nprobeArm / outlierReport / maintLedger
    // / quotaSample / semDedupDrops — so the embedded surfaces cannot
    // drift), one tagged union:
    //   kind='centroid' — the index card: per-(cluster, pos) trained
    //                     coordinate + serving-list size;
    //   kind='curve'    — the nprobe ∈ {1,2,4} recall-vs-scan-cost
    //                     curve (embeds ann_recall's ivf arm at p2);
    //   kind='outlier'  — centroid_outliers' bottom-3 cohesion report;
    //   kind='maint'    — ivf_maintenance's standing-index ledger
    //                     (planted batch assigned at probe-side cost);
    //   kind='sample'   — cluster_balanced_sample's md5-quota draw;
    //   kind='semdedup' — semantic_dedup's within-cluster drop report.
    // Scale shape: the corpus-dominant work (training's scans, the one
    // corpus assignment, the brute-force truth) executes exactly once;
    // every section reads the parquet artifacts (train-once/serve-many
    // made literal; the curve's probes and the maint batch assign
    // against the same centroid table where training left it, on the
    // driver), and each section's own shape is its sibling's
    // audited one. The oracle splices the sibling CTE fragments
    // verbatim (the X-136 discipline). Artifacts are Scratch.artifact
    // scans (per-(JVM, prefix) dir: no concurrent-run races; removed at
    // JVM exit); a deployment would persist them under a managed
    // warehouse path instead.
    "ann_family" -> ((s, d) => {
      // ── stage 1: train once, persist index + truth. The coarse
      // index follows the X-110 scale law since r13: k derived from
      // the corpus count (oracle mirrors the derivation — floors at
      // the historical 8 below 8·target) and every corpus-scale
      // assignment through the map-side argmax, so index build ships
      // no n×k exchange at any k. ──
      val b = base(s, d)
      val k = semDedupK(Tables.embeddings(s, d).count())
      val index = lloydTrain(b, k).centroids
      val cents = Scratch.artifact(index.frame(s), "ann_family", "centroids")
      val assigned = Scratch.artifact(
        nearestClusters(b, index, 1).select("vec_id", "cluster", "qe", "nq"),
        "ann_family", "assigned")
      val qs = broadcast(assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"), col("nq").as("q_nq")))
      val truth = Scratch.artifact(graft.operators.Rank.topKPerGroup(
          scored(assigned.filter(col("vec_id") >= 10).crossJoin(qs)),
          LshK, Seq("q_id"), Seq(col("cos").desc, col("vec_id")))
        .select(col("q_id"), col("vec_id").as("neighbor_id")), "ann_family", "truth")
      // ── stage 2: every section a scan of the artifacts ──
      val centSec = cents
        .join(assigned.groupBy("cluster").agg(count(lit(1)).as("nm")),
          Seq("cluster"), "left_outer")
        .withColumn("n_members", coalesce(col("nm"), lit(0L)))
        .select(col("cluster"), posexplode(col("ce")).as(Seq("pos", "c_fx")),
          col("n_members"))
      val queries10 = assigned.filter(col("vec_id") < 10).select("vec_id", "qe", "nq")
      val corpus = assigned.filter(col("vec_id") >= 10)
      val curveSec = Seq(1, 2, 4)
        .map(n => nprobeArm(index, corpus, queries10, truth, n))
        .reduce(_.unionByName(_))
      val outSec = outlierReport(cents, assigned)
      val oldCounts = assigned.groupBy("cluster").agg(count(lit(1)).as("old_n"))
      val maintSec = maintLedger(index, oldCounts,
        plantedVariants(assigned.select("vec_id", "qe")))
      val sampleSec = quotaSample(assigned.select("vec_id", "cluster"))
      semDedupGate(s, assigned)
      val semSec = semDedupDrops(assigned)
      // tagged union of the six sections; unionByName pads each
      // section's missing columns with typed nulls
      Seq(
        centSec.select(lit("centroid").as("kind"), col("cluster"), col("pos"),
          col("c_fx"), col("n_members")),
        curveSec.select(lit("curve").as("kind"), col("method"), col("q_id"),
          col("n_true"), col("n_hit"), col("recall"), col("n_cand")),
        outSec.select(lit("outlier").as("kind"), col("cluster"), col("vec_id"),
          col("cos_c").as("cos"), col("rk"), col("n_cluster"), col("max_cos")),
        maintSec.select(lit("maint").as("kind"), col("cluster"), col("old_n"),
          col("added_n"), col("new_n"), col("load_ppm"), col("retrain_hint")),
        sampleSec.select(lit("sample").as("kind"), col("cluster"), col("vec_id"),
          col("rk"), col("n_cluster")),
        semSec.select(lit("semdedup").as("kind"), col("cluster"), col("vec_id"),
          col("cos"), col("near_id")))
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .select("kind", "cluster", "vec_id", "pos", "c_fx", "n_members", "method",
          "q_id", "n_true", "n_hit", "recall", "n_cand", "cos", "rk", "n_cluster",
          "max_cos", "old_n", "added_n", "new_n", "load_ppm", "retrain_hint",
          "near_id")
        .orderBy(col("kind"), coalesce(col("method"), lit("")),
          coalesce(col("cluster"), lit(-1L)), coalesce(col("q_id"), lit(-1L)),
          coalesce(col("vec_id"), lit(-1L)), coalesce(col("pos"), lit(-1)),
          coalesce(col("rk"), lit(-1)))
    }),

    // X-164: semi-hard negative mining (Schroff et al. 2015, FaceNet
    // §3.2) — the contrastive-training data pass: per query, the most
    // similar DIFFERENT-label candidates ("hard negatives"), excluding
    // any negative at least as close as the query's nearest same-label
    // positive (those are the likely-mislabeled / false-negative band
    // that collapses contrastive training; the per-query pos_max bound
    // is the paper's semi-hard margin, and it measurably binds on this
    // corpus at every SF — 70–128 excluded pairs). Scale shape: the
    // query set (10 rows) broadcasts against one corpus scan for
    // scoring; pos_max is a 10-row aggregate of the same scan (second
    // map-side pass, broadcast back); top-3 via the two-phase Rank
    // pre-prune. No candidate×candidate product anywhere.
    "hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qe"))
        .withColumn("nq", dotFx(col("qe"), col("qe")))
      val qs = broadcast(e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("qe").as("q_qe"), col("nq").as("q_nq")))
      val sc = scored(e.filter(col("vec_id") >= 10).crossJoin(qs))
      val posMax = sc.filter(col("label") === col("q_label"))
        .groupBy("q_id").agg(max(col("cos")).as("pos_max"))
      // a query label with no candidate positives has no false-negative
      // band to exclude — every negative is admissible (null pos_max)
      val negs = sc.filter(col("label") =!= col("q_label"))
        .join(broadcast(posMax), Seq("q_id"), "left_outer")
        .filter(col("pos_max").isNull || col("cos") < col("pos_max"))
      graft.operators.Rank.topKPerGroup(negs, 3, Seq("q_id"),
          Seq(col("cos").desc, col("vec_id")))
        .select(col("q_id"), col("q_label"), col("vec_id").as("neighbor_id"),
          col("label").as("n_label"), col("rk"), col("cos"), col("pos_max"))
        .orderBy("q_id", "rk")
    }),

    // X-165: embedding-space outlier report — the noise-filtering
    // complement of semantic_dedup (SemDeDup prunes the TOO-CLOSE;
    // curation equally prunes the too-FAR: mislabeled scrapes, encoder
    // failures, OOD content score as far-from-every-centroid). Assign
    // the corpus against the SAME trained 2-Lloyd index (shared
    // helpers), recompute each vector's exact cosine to its own
    // centroid, and report the bottom-3 per cluster with the cluster's
    // size and max (the in-cluster cohesion range). Index-build
    // posture: centroids trained once, assignment materialized once;
    // the cosine recompute is a ≤8-row broadcast join (the driver-held
    // table as a local frame) over the materialized
    // assignment; bottom-3 via the two-phase Rank pre-prune (a raw
    // window keyed on ≤8 clusters would funnel n/8 rows per task).
    "centroid_outliers" -> ((s, d) => {
      val b = base(s, d)
      val c2 = lloydTrain(b).centroids
      val assigned = Scratch.cut(
        nearestClusters(b, c2, 1).select("vec_id", "cluster", "qe", "nq"))
      outlierReport(c2.frame(s), assigned).orderBy("cluster", "rk")
    }),

    // Embedding-cosine near-dup pairs, LSH-banded: candidates must
    // share at least one of NdBands independent NdBits-bit
    // random-hyperplane sign bands (equi-join on (band_id, band_key) —
    // never an all-pairs product), then exact fixed-point verification
    // at cosine ≥ 0.9. Each band bit is the sign of an exact integer
    // dot product between the quantized embedding and a fixed ±1
    // hyperplane, so the key is bit-identical across engines. Banding
    // trades recall for the 100 TB-safe join shape, like minhash_lsh.
    //
    // The synthetic corpus contains NO true near-dups (max background
    // pair cosine ≈ 0.6 at every SF — a regime no bounded-key LSH can
    // separate, 16-bit bands or otherwise), so the scan corpus is the
    // table UNION deterministic near-dup variants derived from it:
    // every 17th vector gets a copy (id ↦ −id−1: the negative mirror
    // is provably outside the non-negative vec_id domain at ANY table
    // size, where an additive offset would silently collide past it)
    // perturbed in quantized INTEGER space (delta_i = ((id·131 +
    // i·101) % 601)·1000 − 300'000, cos ≈ 0.99 to its source) — exact
    // in both engines, the same derived-input pattern as
    // Multimodal.syntheticMedia. The banding then demonstrably
    // recovers the planted pairs from band collisions alone while
    // chance candidates stay ~n²/2^16 per band.
    "embedding_neardup" -> ((s, d) => {
      val b = base(s, d)
      val u = b.select("vec_id", "qe", "nq").unionByName(plantedVariants(b))
      // All 64 hyperplanes ride in ONE nested-array literal and one
      // `dots` projection: spelling them as 64 separate dotFx calls
      // each with its own 64-literal array put ~4k literal nodes into
      // the plan (× every lineage reuse), and re-optimizing that tree
      // dominated the query's bench time at this data size.
      val wlit = typedLit((0 until NdBands * NdBits)
        .map(p => planeWeights(p).map(_.toLong)))
      val powers = typedLit((0 until NdBits).map(j => 1L << j))
      val dotted = u.withColumn("dots",
        transform(wlit, w => dotFx(col("qe"), w)))
      val banded = dotted.select(
        col("vec_id") +: col("qe") +: col("nq") +:
          (0 until NdBands).map { band =>
            aggregate(
              zip_with(slice(col("dots"), band * NdBits + 1, NdBits), powers,
                (dd, p) => when(dd >= 0, p).otherwise(lit(0L))),
              lit(0L), _ + _).as(s"band$band")
          }: _*)
      val stacked = banded.select(col("vec_id"), col("qe"), col("nq"),
        posexplode(array((0 until NdBands).map(i => col(s"band$i")): _*))
          .as(Seq("band_id", "band_key")))
      val pairs = stacked.as("x").join(stacked.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
        .distinct()
      pairs
        .join(u.select(col("vec_id").as("v1"), col("qe").as("qe1"), col("nq").as("n1")), "v1")
        .join(u.select(col("vec_id").as("v2"), col("qe").as("qe2"), col("nq").as("n2")), "v2")
        .withColumn("cos", cosFx(dotFx(col("qe1"), col("qe2")), col("n1"), col("n2")))
        .filter(col("cos") >= 0.9)
        .select("v1", "v2", "cos")
        .orderBy("v1", "v2")
    }),

    // K-means training iterations (Lloyd's): 2 unrolled rounds of
    // assign-to-nearest + centroid recompute, seeded from vec_id < 8 —
    // the step that turns ivf_topk's seed "centroids" into trained
    // ones. Scale shape per round: ONE job (graft.operators.Lloyd.step)
    // — each partition assigns its vectors against the broadcast
    // centroids and sums them per (cluster, pos), the partial sums
    // merge on the driver — the shape Spark MLlib's KMeans trains in.
    // Cross-engine exactness: assignment compares cosines built from
    // identical integers (bit-identical doubles, ties to the lowest
    // cluster); the centroid mean is floor(exact-int-sum / count) — a
    // single IEEE division of identical operands, so both engines
    // floor the same double. Empty clusters simply drop out of the
    // next round (both engines aggregate only over existing groups).
    "kmeans_centroids" -> ((s, d) => {
      val b = base(s, d)
      // round 2's per-(cluster, pos) cnt IS the member count (one per
      // member reaching pos); the rows come from the driver's sums
      lloydTrain(b).rows(s)
        .select(col("cluster"), col("pos"), col("val").as("c_fx"),
          col("cnt").as("n_members"))
        .orderBy("cluster", "pos")
    }),

    // X-139: cluster-balanced sampling — the diversity-selection pass
    // modern curation pipelines run after clustering (per-cluster
    // quotas à la SemDeDup/DataComp: equal representation per semantic
    // cluster instead of frequency-weighted draws). Train the SAME
    // two-Lloyd-round index as kmeans_centroids/ivf_topk (shared
    // helpers), assign every vector to its nearest trained centroid,
    // then take a fixed quota per cluster by deterministic md5
    // priority (never rand() — the corpus_mix rule). Scale shape: the
    // index is trained once on the driver and the thin (vec_id,
    // cluster, pri) assignment materialized once; the per-cluster quota runs through
    // Rank.topKPerGroup (a raw window keyed on ≤8 clusters would
    // funnel n/8 rows per task — the exact anti-pattern the plan gate
    // forbids); the only hint is the ≤8-row cluster-sizes frame.
    "cluster_balanced_sample" -> ((s, d) => {
      val b = base(s, d)
      val c2 = lloydTrain(b).centroids
      val assigned = Scratch.cut(
        nearestClusters(b, c2, 1).select("vec_id", "cluster"))
      quotaSample(assigned).orderBy("cluster", "rk")
    }),

    // Exact fixed-point centroid sums per (label, dimension): the
    // aggregation shape of embedding analytics, partial+final over one
    // shuffle on (label, pos).
    "label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(quantize(col("embedding"))).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n_vecs"), sum(col("v")).as("sum_fx"))
        .orderBy("label", "pos")),

    // SQ8 scalar quantization with realized reconstruction error
    // (X-84): the memory-compression stage of a serving ANN index
    // (8-bit codes = 4× smaller than float32; IVF+SQ is the standard
    // pairing at billion-vector scale — the trained per-DIMENSION
    // bounds here are exactly what faiss's SQ8 stores). Pipeline:
    // corpus-wide min/max per dimension (a 64-row frame, the "trained"
    // codebook) → code = (v−mn)·255 div (mx−mn) → reconstruction →
    // realized per-vector error, all in the exact fx integer space the
    // similarity family already uses, so every compared value is
    // engine-exact (`div` truncation = `//` floor on these non-negative
    // operands). Cost shape: one explode, one 64-group aggregate, one
    // broadcast join back — the corpus shuffles once (for the
    // per-vector regroup), never pairwise. The realized-error columns
    // keep the compression honest, the X-55/X-71 discipline; recall
    // impact of quantized scoring is ann_recall's job.
    "sq8_error" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(quantize(col("embedding"))).as(Seq("pos", "v")))
      val bounds = e.groupBy("pos")
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      e.join(broadcast(bounds), "pos")
        .withColumn("code", when(col("mx") > col("mn"),
          expr("(v - mn) * 255 div (mx - mn)")).otherwise(lit(0L)))
        .withColumn("recon", expr("mn + code * (mx - mn) div 255"))
        .withColumn("err", abs(col("v") - col("recon")))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_dims"),
          sum(col("err")).as("sum_err_fx"),
          max(col("err")).as("max_err_fx"),
          min(col("code")).as("min_code"),
          max(col("code")).as("max_code"))
        .withColumn("mae",
          col("sum_err_fx").cast("double") / col("n_dims") / lit(1e7))
        .orderBy("vec_id")
    }),

    // Semantic dedup, SemDeDup-shaped (X-110, Abbas et al. 2023):
    // embedding-space near-dup removal by clustering FIRST, then exact
    // pairwise cosine only WITHIN each cluster — the composition of the
    // trained k-means index (X-51) with pair verification that replaces
    // a corpus-wide all-pairs product with |clusters| bounded blocks.
    // Index-build posture: train 2 Lloyd rounds (the k-row centroid
    // table stays on the driver), assign the whole corpus ONCE and
    // materialize the assignment (train once / serve many — the
    // ivf_topk discipline; without the cut the self-join would re-run
    // the assignment on both sides). The algorithm's own scale
    // contract — k grows with n so clusters stay bounded — is now
    // REGISTERED, not just gated (r13): k = semDedupK(count), the
    // DuckDB oracle derives the identical k from the same count, and
    // assignment runs through the map-side argmax (nearestClusters)
    // so the n×k assignment never shuffles. The max-cluster gate
    // (Fuzzy.MaxDomainKey pattern) stays as the BACKSTOP for cluster
    // skew the derivation can't see: one tiny agg off the materialized
    // frame, failing fast past spark.graft.semdedup.maxCluster. Pair
    // generation is an equi-join on the cluster key — never a
    // cartesian. Deployment note: training here scans the full corpus
    // per Lloyd round for oracle exactness; a 100 TB deployment trains
    // the same k centroids on a sample (SemDeDup does) and keeps ONLY
    // the corpus-wide assignment + within-cluster passes — both
    // map-side/equi-join under this shape already.
    //
    // Output: the DROP report — vectors with an earlier (lower-id)
    // same-cluster neighbor at cosine ≥ 0.45, with that earliest
    // neighbor and the exact fixed-point cosine. Greedy earliest-id
    // retention is intentionally pair-local; transitive-chain policies
    // (keep-best-per-component) are dedup_clusters/dedup_artifacts'
    // job, and cross-cluster near-dups are the recall the clustering
    // trades away (exactly X-73's measured story). 0.45 sits just
    // under this corpus's background max cosine (~0.48..0.60 by SF) so
    // the report is non-empty at every SF without planted variants.
    "semantic_dedup" -> ((s, d) => {
      val b = base(s, d)
      // k derivation is part of the index BUILD (one metadata-cheap
      // count, the same eager-construction class as the gate below)
      val k = semDedupK(Tables.embeddings(s, d).count())
      val c2 = lloydTrain(b, k).centroids
      val assigned = Scratch.cut(
        nearestClusters(b, c2, 1).select("vec_id", "cluster", "qe", "nq"))
      // The max-cluster gate is a driver-side `.first()` over a 1-row
      // aggregate of the ALREADY-materialized assignment — i.e. it
      // belongs to the index BUILD (train-once/serve-many), where the
      // assignment frame is produced. The registered query IS
      // build+serve in one (registry entries are standalone), so it
      // always runs here, before the quadratic within-cluster pair join.
      semDedupGate(s, assigned)
      semDedupDrops(assigned).orderBy("vec_id")
    }),

    // Product quantization with realized reconstruction error (X-101):
    // the OTHER half of the billion-vector compression toolbox — where
    // SQ8 keeps every dimension at 8 bits, PQ splits the vector into
    // M subspaces and stores one trained-centroid code per subspace
    // (here M=4 × 16 dims, 8 centroids each → 4 codes/vector). Each
    // subspace runs its own 2-round Lloyd training on exact integer
    // subvectors: assignment by exact integer squared-L2 (zip_with +
    // aggregate — pure BIGINT compares, nothing floating until the
    // centroid mean's single IEEE division, floored identically by
    // both engines — the kmeans_centroids discipline); update =
    // floor(sum/count) per (sub, cluster, dim). The per-(vec, sub)
    // final distance IS the realized subspace SSE — the X-55/X-71
    // honesty columns. Scale shape per round: a 32-row centroid frame
    // broadcast (M×8 bounded by construction), one corpus pass, one
    // (sub, cluster, dim) aggregate; assignment windows partition on
    // (vec_id, sub) — data-bound keys.
    "pq_error" -> ((s, d) => {
      val sv = pqSubvectors(Tables.embeddings(s, d)
        .select(col("vec_id"), quantize(col("embedding")).as("qe")))
      pqAssign(sv, pqTrain(sv))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("cluster").as("code"), col("dist").as("sse_fx"))
        .orderBy("vec_id", "sub")
    }),

    // IVF-PQ with asymmetric distance computation (X-143, Jégou et al.
    // 2011, "Product Quantization for Nearest Neighbor Search", IEEE
    // TPAMI §IV) — the index form a billion-vector serving deployment
    // actually ships, COMPOSING the two halves this registry already
    // trains separately: the IVF coarse quantizer (X-51's 2-Lloyd-round
    // centroids, shared helpers with ivf_topk/kmeans_centroids) prunes
    // the scan to the query's 2 probed clusters, and the PQ codebook
    // (X-101's per-subspace training, shared helpers with pq_error)
    // compresses every stored vector to 4 codes so the probe never
    // touches raw vectors. ADC: per (query, subspace) the exact
    // squared-L2 to all 8 sub-centroids is tabulated ONCE (10×4×8 =
    // 320 rows, bounded by the query load — broadcast), and each
    // candidate's approximate distance is the 4-way table-lookup sum —
    // the memory-bandwidth trade that makes PQ serving fast. Everything
    // is exact BIGINT arithmetic (the pq_error discipline), so both
    // engines reproduce every distance bit-for-bit. Scale shape: the
    // coarse index is trained once and held on the driver, the 32-row
    // codebook trained once and MATERIALIZED; the corpus-side work is one coarse assignment +
    // one code assignment + an equi-join on the probed cluster key;
    // nothing corpus-sized is ever hinted.
    "ivfpq_topk" -> ((s, d) => {
      val b = base(s, d)
      // coarse quantizer: ivf_topk's trained, driver-held index
      val coarse = lloydTrain(b).centroids
      val assigned = nearestClusters(b.filter(col("vec_id") >= 10), coarse, 1)
        .select(col("vec_id"), col("cluster"))
      val probes = nearestClusters(b.filter(col("vec_id") < 10), coarse, 2)
        .select(col("vec_id").as("q_id"), col("cluster"))
      // PQ codebook: pq_error's trained 32-row frame, materialized
      // because BOTH the candidate code assignment and the ADC tables
      // consume it (each would otherwise re-run the training round)
      val sv = pqSubvectors(b.select(col("vec_id"), col("qe")))
      val cb = Scratch.cut(pqTrain(sv))
      val codes = pqAssign(sv.filter(col("vec_id") >= 10), cb)
        .select(col("vec_id"), col("sub"), col("cluster").as("code"))
      val tables = pqDists(sv.filter(col("vec_id") < 10), cb)
        .select(col("vec_id").as("q_id"), col("sub"),
          col("cluster").as("code"), col("dist").as("adist"))
      val cand = assigned.join(broadcast(probes), "cluster")
      val adc = cand.join(codes, "vec_id")
        .join(broadcast(tables), Seq("q_id", "sub", "code"))
        .groupBy("q_id", "vec_id", "cluster")
        .agg(sum(col("adist")).as("adc_fx"))
      graft.operators.Rank.topKPerGroup(adc, LshK, Seq("q_id"),
          Seq(col("adc_fx"), col("vec_id")))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          col("cluster"), col("rk"), col("adc_fx"))
        .orderBy("q_id", "rk")
    }),

    // Greedy k-center seeding / farthest-point traversal (X-145,
    // Gonzalez 1985, the 2-approximation for metric k-center; the
    // "coreset" seed selection k-means++/DataComp pipelines run before
    // clustering) — the GLOBAL diversity selection completing the
    // family: MMR (X-142) diversifies within a per-query pool,
    // cluster_balanced_sample (X-139) quotas within trained clusters,
    // k-center picks the corpus-wide maximally-spread seed set. Seed 1
    // = lowest vec_id; each round selects argmax over candidates of
    // min squared-L2 to the already-picked seeds (ties to the lowest
    // id), reporting that distance — the coverage radius at selection
    // time, the quantity the 2-approximation bounds. Scale shape: the
    // k−1 rounds are the algorithm's contract and each is ONE corpus
    // map + ONE 1-row struct-max fold — the ≤k seed vectors travel as
    // a collected 1-row array (never a per-seed join, never a shuffle
    // of the corpus: dmin is an array_min over the broadcast seeds,
    // partial-aggregated map-side); every per-round seed frame is a
    // materialized single row. All distances exact BIGINT.
    //
    // In-memory-fit adjudication (r10, MemBench): the collect_list
    // seed array is the ONE structure here that must fit in a single
    // task row — its size is k·dim·8 bytes BY CONSTRUCTION (≤ 2 KB at
    // k=4, dim=64; ~80 MB even at k=10⁴, dim=10³ — still a bounded
    // artifact, never corpus-sized), and it is an aggregate of the
    // ≤k-row seed frame, not of the corpus. Measured under the 4 GB /
    // 8-slot constrained heap: peak task execution memory 17 MB, zero
    // spill. A k large enough to threaten a row (k·dim ≳ 10⁹) is out
    // of this operator's contract — seed selection at that k switches
    // to the trained-index family (cluster_balanced_sample).
    "kcenter_seeds" -> ((s, d) => {
      val b = base(s, d).select(col("vec_id"), col("qe"))
      def sqL2(sv: Column): Column =
        aggregate(zip_with(col("qe"), sv, (p, q) => (p - q) * (p - q)),
          lit(0L), (a, v) => a + v)
      val s1 = Scratch.cut(
        b.orderBy("vec_id").limit(1)
          .select(col("vec_id"), col("qe"), lit(1).as("seed_rk"),
            lit(null).cast("long").as("dist_fx")))
      def nextSeed(seeds: DataFrame, rk: Int): DataFrame = {
        val sArr = broadcast(seeds.agg(collect_list(col("qe")).as("sqes")))
        val sIds = broadcast(seeds.select(col("vec_id").as("s_id")))
        val dm = b.join(sIds, col("vec_id") === col("s_id"), "left_anti")
          .crossJoin(sArr)
          .withColumn("dmin", array_min(transform(col("sqes"), sv => sqL2(sv))))
        val far = dm
          .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("m"))
          .select((-col("m.nid")).as("vec_id"), col("m.dmin").as("dist_fx"))
        // the selected row is 1 row BY CONSTRUCTION (an argmax fold):
        // hint it so the qe fetch is a broadcast probe of the corpus
        // scan by plan, not by AQE's runtime measurement. (The
        // query's measured shuffle on the scale ladder is the
        // embeddings scan's fan-out repartition — the audited
        // CPU-dense single-split-file discipline — ∝ n per round;
        // the fetch join itself moves 1 row.)
        Scratch.cut(
          b.join(broadcast(far), "vec_id")
            .select(col("vec_id"), col("qe"), lit(rk).as("seed_rk"),
              col("dist_fx")))
      }
      val seeds = (2 to 4).foldLeft(s1)((acc, rk) =>
        acc.unionByName(nextSeed(acc, rk)))
      seeds.select("seed_rk", "vec_id", "dist_fx").orderBy("seed_rk")
    }),

    // Maximal-marginal-relevance diverse top-k (X-142, Carbonell &
    // Goldstein, SIGIR'98) — the retrieval-side SELECTION op beside
    // the index family: a plain top-k returns near-duplicates of one
    // good answer; MMR greedily picks argmax λ·rel(c) −
    // (1−λ)·max_{s∈S} sim(c, s), trading relevance against redundancy
    // with what's already selected. λ = 0.7, pool = exact top-8 per
    // query, k = 3 picks, ties to the lowest vec_id. The greedy loop
    // is inherently sequential, but every round runs over the
    // (queries × pool)-BOUNDED frames — the corpus-dependent work is
    // exactly one brute-force top-pool scan (knn_cosine's audited
    // shape); the pool and its complete pairwise-similarity matrix
    // (≤ queries·P² rows) are materialized once and every selection
    // round is joins + aggregates over them. Scores stay in the
    // engine's proven-deterministic double space: rel/sim are cosFx
    // doubles and the MMR combination (7·rel − 3·maxsim)/10 is the
    // same IEEE expression in both engines.
    "mmr_select" -> ((s, d) => {
      val b = base(s, d)
      val qs = broadcast(b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"), col("nq").as("q_nq")))
      val pool = Scratch.cut(
        graft.operators.Rank.topKPerGroup(
            scored(b.filter(col("vec_id") >= 10).crossJoin(qs)),
            MmrPool, Seq("q_id"), Seq(col("cos").desc, col("vec_id")))
          .select(col("q_id"), col("vec_id"), col("cos").as("rel"),
            col("qe"), col("nq")))
      // Every post-pool frame here is bounded BY CONSTRUCTION —
      // pool ≤ |queries|·P, sims ≤ |queries|·P², selections ≤
      // |queries|·k — but all sit behind checkpoints with unknown
      // stats, so the planner ran every greedy-round join as a
      // SortMergeJoin (24 of them: two exchanges + sorts per ≤640-row
      // join). Broadcast hints on the provably-bounded sides convert
      // them all (r14, guide §3.1; plan diff: SortMergeJoin 24 → 0).
      val sims = Scratch.cut(
        pool.select(col("q_id"), col("vec_id").as("ca"),
            col("qe").as("a_qe"), col("nq").as("a_nq"))
          .join(broadcast(pool.select(col("q_id").as("r_qid"), col("vec_id").as("cb"),
              col("qe").as("b_qe"), col("nq").as("b_nq"))),
            col("q_id") === col("r_qid") && col("ca") =!= col("cb"))
          .select(col("q_id"), col("ca"), col("cb"),
            cosFx(dotFx(col("a_qe"), col("b_qe")),
              col("a_nq"), col("b_nq")).as("sim")))
      val slim = pool.select("q_id", "vec_id", "rel")
      def mmrOf(rel: Column, ms: Column): Column =
        (lit(7.0) * rel - lit(3.0) * ms) / lit(10.0)
      val pickW = Window.partitionBy("q_id")
      val first = slim
        .withColumn("r0", row_number().over(
          pickW.orderBy(col("rel").desc, col("vec_id"))))
        .filter(col("r0") === 1)
        .select(col("q_id"), lit(1).as("pick"), col("vec_id"), col("rel"),
          lit(0.0).as("maxsim"), mmrOf(col("rel"), lit(0.0)).as("mmr"))
      def next(selPrev: DataFrame, t: Int): DataFrame = {
        val selSet = broadcast(selPrev.select(col("q_id").as("s_qid"),
          col("vec_id").as("sel_id")))
        val remaining = slim.join(selSet,
          col("q_id") === col("s_qid") && col("vec_id") === col("sel_id"),
          "left_anti")
        val simToSel = sims.join(selSet,
            sims("q_id") === col("s_qid") && sims("cb") === col("sel_id"))
          .select(sims("q_id").as("m_qid"), col("ca"), col("sim"))
        remaining.join(broadcast(simToSel),
            col("q_id") === col("m_qid") && col("vec_id") === col("ca"))
          .groupBy(col("q_id"), col("vec_id"), col("rel"))
          .agg(max(col("sim")).as("maxsim"))
          .withColumn("mmr", mmrOf(col("rel"), col("maxsim")))
          .withColumn("rt", row_number().over(
            pickW.orderBy(col("mmr").desc, col("vec_id"))))
          .filter(col("rt") === 1)
          .select(col("q_id"), lit(t).as("pick"), col("vec_id"),
            col("rel"), col("maxsim"), col("mmr"))
      }
      val s2 = next(first, 2)
      val s3 = next(first.unionByName(s2), 3)
      first.unionByName(s2).unionByName(s3)
        .withColumnRenamed("vec_id", "neighbor_id")
        .orderBy("q_id", "pick")
    }),

    // Top principal component by power iteration (X-114): the
    // whitening/drift-direction statistic an embedding pipeline fits
    // before PCA-reducing or monitoring a corpus. Two stages, each in
    // its right shape: (1) the 64×64 second-moment (Gram) matrix in
    // ONE corpus pass through graft.functions.GramAggregator — per-task
    // state is a single 32 KB buffer, partial/final aggregate, nothing
    // corpus-sized shuffles (the explode+self-join alternative shuffles
    // 64n rows to rebuild what the buffer folds locally); the 4096-row
    // result is MATERIALIZED once (the ivf_topk index discipline —
    // each power-iteration round re-embeds G's lineage, and without
    // the cut every reference would re-run the corpus scan); (2) two
    // unrolled power-iteration rounds over that tiny frame: matvec =
    // join + 64-group aggregate, then exact L∞ normalization via a
    // 1-row max broadcast (the link_hits discipline — rescales without
    // any sqrt). Arithmetic: inputs quantized at 1e4 (products ≤ 1e8,
    // long-safe through ~10¹⁰ rows — beyond that shard and merge Gram
    // frames in DECIMAL), matvec products in DECIMAL(38,0), and both
    // engines truncate the fixed-point divisions identically. λ ships
    // as the round-2 L∞ growth — the standard power-iteration
    // eigenvalue estimate.
    "embedding_gram_pca" -> ((s, d) => {
      val gram = udaf(new graft.functions.GramAggregator(64),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      val q = Tables.embeddings(s, d).select(
        graft.functions.QuantizeFx.quantize_fx(col("embedding"), 10000.0).as("q"))
      val g = Scratch.cut(
        q.agg(gram(col("q")).as("g"))
          .select(posexplode(col("g")).as(Seq("idx", "s")))
          .select(expr("CAST(idx div 64 AS BIGINT)").as("i"),
            expr("CAST(idx % 64 AS BIGINT)").as("j"), col("s")))
      val v0 = s.range(64).select(col("id").as("j"), lit(1000000L).as("v"))
      def matvec(v: DataFrame): DataFrame =
        g.join(broadcast(v), "j")
          .groupBy("i")
          .agg(sum(col("s").cast("decimal(38,0)") * col("v")).as("w"))
      // normalize takes the 1-row max frame as a parameter: round 2
      // needs the same max twice (normalization + lambda), and an
      // internal re-aggregate would run the identical max job twice
      def maxOf(w: DataFrame): DataFrame = w.agg(max(abs(col("w"))).as("m"))
      def normalize(w: DataFrame, m: DataFrame): DataFrame =
        w.crossJoin(broadcast(m))
          .select(col("i").as("j"),
            expr("CAST(w * 1000000 div m AS BIGINT)").as("v"))
      val w1 = matvec(v0)
      val v1 = normalize(w1, maxOf(w1))
      val w2 = matvec(v1)
      val m2 = w2.agg(max(abs(col("w"))).as("m"))
      normalize(w2, m2)
        .crossJoin(broadcast(m2))
        .select(col("j").as("dim"), col("v").as("v_fx"),
          expr("CAST(m div 1000000 AS BIGINT)").as("lambda_fx"))
        .orderBy("dim")
    }),
  )

  def oracle: Map[String, String] = Map(
    "knn_cosine" ->
      s"""WITH $baseSql,
         |sc AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM n c CROSS JOIN n qq
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |sc2 AS (SELECT q_id, neighbor_id, dot_fx,
         |               CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) AS cos
         |        FROM sc),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
         |      FROM sc2)
         |SELECT q_id, neighbor_id, rk, dot_fx, cos FROM r
         |WHERE rk <= $K ORDER BY q_id, rk""".stripMargin,

    "ann_lsh_bucket" -> {
      s"""WITH $baseSql,
         |bk AS (SELECT *, CAST($bucketSql AS BIGINT) AS bucket FROM n),
         |${probeSql(LshProbes)},
         |sc AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id, c.bucket,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM bk c JOIN qprobe qq ON c.bucket = qq.bucket
         |       WHERE c.vec_id >= 10),
         |sc2 AS (SELECT q_id, neighbor_id, bucket,
         |               CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) AS cos
         |        FROM sc),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
         |      FROM sc2)
         |SELECT q_id, neighbor_id, bucket, rk, cos FROM r
         |WHERE rk <= $LshK ORDER BY q_id, rk""".stripMargin
    },

    "semantic_dedup" ->
      s"""WITH $baseSql,
         |$semDedupKSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n
         |       WHERE vec_id < (SELECT k FROM kk)),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "", 1)},
         |pr AS (
         |  SELECT b.vec_id, a.cluster, a.vec_id AS near_id,
         |         CAST(${dotSql2("a.qe", "b.qe")} AS DOUBLE)
         |           / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
         |  FROM assigned a JOIN assigned b USING (cluster)
         |  WHERE a.vec_id < b.vec_id),
         |d AS (SELECT vec_id, cluster, near_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY near_id) AS rn
         |      FROM pr WHERE cos >= 0.45)
         |SELECT vec_id, cluster, near_id, cos FROM d WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    "ivf_topk" ->
      s"""WITH $baseSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "WHERE v.vec_id >= 10", 1)},
         |probes0 AS ${nearestSql("c2", "WHERE v.vec_id < 10", 2)},
         |probes AS (SELECT vec_id AS q_id, cluster, qe AS q_qe, nq AS q_nq FROM probes0),
         |sc AS (
         |  SELECT p.q_id, a.vec_id AS neighbor_id, a.cluster,
         |         CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> a.qe[i] * p.q_qe[i])) AS DOUBLE)
         |           / sqrt(CAST(a.nq AS DOUBLE) * CAST(p.q_nq AS DOUBLE)) AS cos
         |  FROM assigned a JOIN probes p USING (cluster)),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
         |      FROM sc)
         |SELECT q_id, neighbor_id, cluster, rk, cos FROM r
         |WHERE rk <= $LshK ORDER BY q_id, rk""".stripMargin,

    // Truth (brute force at k=LshK) + both approximate paths rebuilt
    // from the same CTE fragments as their standalone oracles, then
    // hits counted FROM the truth side.
    "ann_recall" -> {
      s"""WITH $baseSql,
         |sc_t AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM n c CROSS JOIN n qq
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |r_t AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) DESC,
         |              neighbor_id) AS rk
         |      FROM sc_t),
         |truth AS (SELECT q_id, neighbor_id FROM r_t WHERE rk <= $LshK),
         |bk AS (SELECT *, CAST($bucketSql AS BIGINT) AS bucket FROM n),
         |sc_l AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM bk c JOIN bk qq ON c.bucket = qq.bucket
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |r_l AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) DESC,
         |              neighbor_id) AS rk
         |      FROM sc_l),
         |lsh AS (SELECT q_id, neighbor_id FROM r_l WHERE rk <= $LshK),
         |${probeSql(LshProbes)},
         |sc_m AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM bk c JOIN qprobe qq ON c.bucket = qq.bucket
         |       WHERE c.vec_id >= 10),
         |r_m AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) DESC,
         |              neighbor_id) AS rk
         |      FROM sc_m),
         |lsh_mp AS (SELECT q_id, neighbor_id FROM r_m WHERE rk <= $LshK),
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "WHERE v.vec_id >= 10", 1)},
         |probes0 AS ${nearestSql("c2", "WHERE v.vec_id < 10", 2)},
         |probes AS (SELECT vec_id AS q_id, cluster, qe AS q_qe, nq AS q_nq FROM probes0),
         |sc_i AS (
         |  SELECT p.q_id, a.vec_id AS neighbor_id,
         |         CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> a.qe[i] * p.q_qe[i])) AS DOUBLE)
         |           / sqrt(CAST(a.nq AS DOUBLE) * CAST(p.q_nq AS DOUBLE)) AS cos
         |  FROM assigned a JOIN probes p USING (cluster)),
         |r_i AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, neighbor_id) AS rk
         |      FROM sc_i),
         |ivf AS (SELECT q_id, neighbor_id FROM r_i WHERE rk <= $LshK)
         |SELECT method, q_id, n_true, n_hit,
         |       CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM (
         |  SELECT 'lsh' AS method, t.q_id, CAST(count(*) AS BIGINT) AS n_true,
         |         CAST(count(l.neighbor_id) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN lsh l
         |    ON t.q_id = l.q_id AND t.neighbor_id = l.neighbor_id
         |  GROUP BY t.q_id
         |  UNION ALL
         |  SELECT 'lsh_mp' AS method, t.q_id, CAST(count(*) AS BIGINT) AS n_true,
         |         CAST(count(m.neighbor_id) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN lsh_mp m
         |    ON t.q_id = m.q_id AND t.neighbor_id = m.neighbor_id
         |  GROUP BY t.q_id
         |  UNION ALL
         |  SELECT 'ivf' AS method, t.q_id, CAST(count(*) AS BIGINT) AS n_true,
         |         CAST(count(v.neighbor_id) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN ivf v
         |    ON t.q_id = v.q_id AND t.neighbor_id = v.neighbor_id
         |  GROUP BY t.q_id)
         |ORDER BY method, q_id""".stripMargin
    },

    // Truth + trained index rebuilt from the same CTE fragments as the
    // ivf_topk/ann_recall oracles; one candidate CTE per probe width
    // feeds both the top-k hits and the scanned-candidate count.
    "ivf_nprobe_curve" -> {
      def armSql(n: Int) =
        s"""probes${n}_0 AS ${nearestSql("c2", "WHERE v.vec_id < 10", n)},
           |cand$n AS (
           |  SELECT p.vec_id AS q_id, a.vec_id AS neighbor_id,
           |         CAST(${dotSql2("a.qe", "p.qe")} AS DOUBLE)
           |           / sqrt(CAST(a.nq AS DOUBLE) * CAST(p.nq AS DOUBLE)) AS cos
           |  FROM assigned a JOIN probes${n}_0 p USING (cluster)),
           |r$n AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
           |            ORDER BY cos DESC, neighbor_id) AS rk FROM cand$n),
           |ivf$n AS (SELECT q_id, neighbor_id FROM r$n WHERE rk <= $LshK),
           |cn$n AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
           |         FROM cand$n GROUP BY q_id)""".stripMargin
      def armSel(n: Int) =
        s"""SELECT m.method, m.q_id, m.n_true, m.n_hit,
           |       CAST(m.n_hit AS DOUBLE) / CAST(m.n_true AS DOUBLE) AS recall,
           |       COALESCE(c.n_cand, 0) AS n_cand
           |FROM (
           |  SELECT 'ivf_p$n' AS method, t.q_id, CAST(count(*) AS BIGINT) AS n_true,
           |         CAST(count(v.neighbor_id) AS BIGINT) AS n_hit
           |  FROM truth t LEFT JOIN ivf$n v
           |    ON t.q_id = v.q_id AND t.neighbor_id = v.neighbor_id
           |  GROUP BY t.q_id) m
           |LEFT JOIN cn$n c ON m.q_id = c.q_id""".stripMargin
      s"""WITH $baseSql,
         |sc_t AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM n c CROSS JOIN n qq
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |r_t AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) DESC,
         |              neighbor_id) AS rk
         |      FROM sc_t),
         |truth AS (SELECT q_id, neighbor_id FROM r_t WHERE rk <= $LshK),
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "WHERE v.vec_id >= 10", 1)},
         |${armSql(1)},
         |${armSql(2)},
         |${armSql(4)}
         |${Seq(1, 2, 4).map(armSel).mkString("", "\nUNION ALL\n", "")}
         |ORDER BY method, q_id""".stripMargin
    },

    // The ivf_topk trained index verbatim; the new batch is the
    // embedding_neardup variant recipe; assignments counted per list
    // with honest zeros for empty lists.
    "ivf_maintenance" ->
      s"""WITH $baseSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |var0 AS (
         |  SELECT vec_id,
         |         list_transform(range(1, ${Dim + 1}),
         |           i -> qe[i] + (((vec_id * 131 + (i - 1) * 101) % 601) * 1000 - 300000)) AS qe2
         |  FROM n WHERE vec_id % 17 = 0),
         |vn AS (
         |  SELECT -1 - vec_id AS vec_id, qe2 AS qe,
         |         CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |           i -> qe2[i] * qe2[i])) AS BIGINT) AS nq
         |  FROM var0),
         |olda AS ${nearestSql("c2", "", 1)},
         |adda AS (SELECT vec_id, cluster FROM (
         |   SELECT v.vec_id, c.cluster,
         |          ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |            CAST(${dotSql2("v.qe", "c.ce")} AS DOUBLE)
         |              / sqrt(CAST(v.nq AS DOUBLE) * CAST(c.nc AS DOUBLE)) DESC,
         |            c.cluster) AS crk
         |   FROM vn v CROSS JOIN c2 c) WHERE crk = 1),
         |oldn AS (SELECT cluster, CAST(count(*) AS BIGINT) AS old_n FROM olda GROUP BY cluster),
         |addn AS (SELECT cluster, CAST(count(*) AS BIGINT) AS added_n FROM adda GROUP BY cluster),
         |rep AS (SELECT c.cluster,
         |               CAST(COALESCE(o.old_n, 0) AS BIGINT) AS old_n,
         |               CAST(COALESCE(a.added_n, 0) AS BIGINT) AS added_n
         |        FROM c2 c
         |        LEFT JOIN oldn o ON c.cluster = o.cluster
         |        LEFT JOIN addn a ON c.cluster = a.cluster),
         |r2 AS (SELECT *, CAST(old_n + added_n AS BIGINT) AS new_n FROM rep),
         |t AS (SELECT CAST(sum(new_n) AS BIGINT) AS total_n,
         |             CAST(count(*) AS BIGINT) AS n_lists FROM r2)
         |SELECT cluster, old_n, added_n, new_n,
         |       CAST(CAST(new_n AS HUGEINT) * 1000000 // total_n AS BIGINT) AS load_ppm,
         |       CAST(new_n AS HUGEINT) * n_lists > 2 * CAST(total_n AS HUGEINT) AS retrain_hint
         |FROM r2 CROSS JOIN t ORDER BY cluster""".stripMargin,

    // X-168: the sibling CTE fragments spliced verbatim around ONE
    // shared trained index (c2), ONE shared corpus assignment
    // (`assigned`), and ONE shared truth set — then the six section
    // selects null-padded into the capstone's wide schema.
    "ann_family" -> {
      def armSql(n: Int) =
        s"""probes${n}_0 AS ${nearestSql("c2", "WHERE v.vec_id < 10", n)},
           |cand$n AS (
           |  SELECT p.vec_id AS q_id, a.vec_id AS neighbor_id,
           |         CAST(${dotSql2("a.qe", "p.qe")} AS DOUBLE)
           |           / sqrt(CAST(a.nq AS DOUBLE) * CAST(p.nq AS DOUBLE)) AS cos
           |  FROM corp a JOIN probes${n}_0 p USING (cluster)),
           |r$n AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
           |            ORDER BY cos DESC, neighbor_id) AS rk FROM cand$n),
           |ivf$n AS (SELECT q_id, neighbor_id FROM r$n WHERE rk <= $LshK),
           |cn$n AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
           |         FROM cand$n GROUP BY q_id)""".stripMargin
      def armSel(n: Int) =
        s"""SELECT m.method, m.q_id, m.n_true, m.n_hit,
           |       CAST(m.n_hit AS DOUBLE) / CAST(m.n_true AS DOUBLE) AS recall,
           |       COALESCE(c.n_cand, 0) AS n_cand
           |FROM (
           |  SELECT 'ivf_p$n' AS method, t.q_id, CAST(count(*) AS BIGINT) AS n_true,
           |         CAST(count(v.neighbor_id) AS BIGINT) AS n_hit
           |  FROM truth t LEFT JOIN ivf$n v
           |    ON t.q_id = v.q_id AND t.neighbor_id = v.neighbor_id
           |  GROUP BY t.q_id) m
           |LEFT JOIN cn$n c ON m.q_id = c.q_id""".stripMargin
      s"""WITH $baseSql,
         |$semDedupKSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n
         |       WHERE vec_id < (SELECT k FROM kk)),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "", 1)},
         |corp AS (SELECT * FROM assigned WHERE vec_id >= 10),
         |sc_t AS (SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
         |              $dotSql AS dot_fx, c.nq AS cn, qq.nq AS qn
         |       FROM n c CROSS JOIN n qq
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |r_t AS (SELECT q_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |              ORDER BY CAST(dot_fx AS DOUBLE) / sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE)) DESC,
         |              neighbor_id) AS rk
         |      FROM sc_t),
         |truth AS (SELECT q_id, neighbor_id FROM r_t WHERE rk <= $LshK),
         |nm AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
         |       FROM assigned GROUP BY cluster),
         |centsec AS (SELECT c.cluster, CAST(i - 1 AS INTEGER) AS pos,
         |                   c.ce[i] AS c_fx,
         |                   CAST(COALESCE(m.n_members, 0) AS BIGINT) AS n_members
         |            FROM c2 c LEFT JOIN nm m ON c.cluster = m.cluster
         |            CROSS JOIN range(1, ${Dim + 1}) r(i)),
         |${armSql(1)},
         |${armSql(2)},
         |${armSql(4)},
         |curvesec AS (
         |${Seq(1, 2, 4).map(armSel).mkString("", "\nUNION ALL\n", "")}),
         |wc AS (SELECT a.vec_id, a.cluster,
         |              CAST(${dotSql2("a.qe", "c.ce")} AS DOUBLE)
         |                / sqrt(CAST(a.nq AS DOUBLE) * CAST(c.nc AS DOUBLE)) AS cos_c
         |       FROM assigned a JOIN c2 c USING (cluster)),
         |szo AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_cluster,
         |              max(cos_c) AS max_cos
         |       FROM wc GROUP BY cluster),
         |ro AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cluster
         |            ORDER BY COALESCE(cos_c, -2.0), vec_id) AS INTEGER) AS rk
         |      FROM wc),
         |var0 AS (
         |  SELECT vec_id,
         |         list_transform(range(1, ${Dim + 1}),
         |           i -> qe[i] + (((vec_id * 131 + (i - 1) * 101) % 601) * 1000 - 300000)) AS qe2
         |  FROM n WHERE vec_id % 17 = 0),
         |vn AS (
         |  SELECT -1 - vec_id AS vec_id, qe2 AS qe,
         |         CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |           i -> qe2[i] * qe2[i])) AS BIGINT) AS nq
         |  FROM var0),
         |adda AS (SELECT vec_id, cluster FROM (
         |   SELECT v.vec_id, c.cluster,
         |          ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |            CAST(${dotSql2("v.qe", "c.ce")} AS DOUBLE)
         |              / sqrt(CAST(v.nq AS DOUBLE) * CAST(c.nc AS DOUBLE)) DESC,
         |            c.cluster) AS crk
         |   FROM vn v CROSS JOIN c2 c) WHERE crk = 1),
         |oldn AS (SELECT cluster, CAST(count(*) AS BIGINT) AS old_n
         |         FROM assigned GROUP BY cluster),
         |addn AS (SELECT cluster, CAST(count(*) AS BIGINT) AS added_n
         |         FROM adda GROUP BY cluster),
         |rep AS (SELECT c.cluster,
         |               CAST(COALESCE(o.old_n, 0) AS BIGINT) AS old_n,
         |               CAST(COALESCE(a.added_n, 0) AS BIGINT) AS added_n
         |        FROM c2 c
         |        LEFT JOIN oldn o ON c.cluster = o.cluster
         |        LEFT JOIN addn a ON c.cluster = a.cluster),
         |r2m AS (SELECT *, CAST(old_n + added_n AS BIGINT) AS new_n FROM rep),
         |tm AS (SELECT CAST(sum(new_n) AS BIGINT) AS total_n,
         |             CAST(count(*) AS BIGINT) AS n_lists FROM r2m),
         |maintsec AS (SELECT cluster, old_n, added_n, new_n,
         |       CAST(CAST(new_n AS HUGEINT) * 1000000 // total_n AS BIGINT) AS load_ppm,
         |       CAST(new_n AS HUGEINT) * n_lists > 2 * CAST(total_n AS HUGEINT) AS retrain_hint
         |FROM r2m CROSS JOIN tm),
         |ps AS (SELECT vec_id, cluster,
         |        CAST('0x' || substr(md5('graft-cbs' || vec_id), 1, 14) AS BIGINT) AS pri
         |      FROM assigned),
         |szs AS (SELECT cluster, count(*) AS n_cluster FROM ps GROUP BY cluster),
         |rs AS (SELECT cluster, vec_id, pri,
         |        CAST(row_number() OVER (PARTITION BY cluster ORDER BY pri, vec_id) AS INT) AS rk
         |      FROM ps),
         |prd AS (
         |  SELECT b.vec_id, a.cluster, a.vec_id AS near_id,
         |         CAST(${dotSql2("a.qe", "b.qe")} AS DOUBLE)
         |           / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
         |  FROM assigned a JOIN assigned b USING (cluster)
         |  WHERE a.vec_id < b.vec_id),
         |dd AS (SELECT vec_id, cluster, near_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY near_id) AS rn
         |      FROM prd WHERE cos >= 0.45)
         |SELECT * FROM (
         |  SELECT 'centroid' AS kind, cluster, CAST(NULL AS BIGINT) AS vec_id,
         |         pos, c_fx, n_members,
         |         CAST(NULL AS VARCHAR) AS method, CAST(NULL AS BIGINT) AS q_id,
         |         CAST(NULL AS BIGINT) AS n_true, CAST(NULL AS BIGINT) AS n_hit,
         |         CAST(NULL AS DOUBLE) AS recall, CAST(NULL AS BIGINT) AS n_cand,
         |         CAST(NULL AS DOUBLE) AS cos, CAST(NULL AS INTEGER) AS rk,
         |         CAST(NULL AS BIGINT) AS n_cluster, CAST(NULL AS DOUBLE) AS max_cos,
         |         CAST(NULL AS BIGINT) AS old_n, CAST(NULL AS BIGINT) AS added_n,
         |         CAST(NULL AS BIGINT) AS new_n, CAST(NULL AS BIGINT) AS load_ppm,
         |         CAST(NULL AS BOOLEAN) AS retrain_hint, CAST(NULL AS BIGINT) AS near_id
         |  FROM centsec
         |  UNION ALL
         |  SELECT 'curve', NULL, NULL, NULL, NULL, NULL,
         |         method, q_id, n_true, n_hit, recall, n_cand,
         |         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
         |  FROM curvesec
         |  UNION ALL
         |  SELECT 'outlier', ro.cluster, ro.vec_id, NULL, NULL, NULL,
         |         NULL, NULL, NULL, NULL, NULL, NULL,
         |         ro.cos_c, ro.rk, szo.n_cluster, szo.max_cos,
         |         NULL, NULL, NULL, NULL, NULL, NULL
         |  FROM ro JOIN szo ON ro.cluster = szo.cluster WHERE ro.rk <= 3
         |  UNION ALL
         |  SELECT 'maint', cluster, NULL, NULL, NULL, NULL,
         |         NULL, NULL, NULL, NULL, NULL, NULL,
         |         NULL, NULL, NULL, NULL,
         |         old_n, added_n, new_n, load_ppm, retrain_hint, NULL
         |  FROM maintsec
         |  UNION ALL
         |  SELECT 'sample', rs.cluster, rs.vec_id, NULL, NULL, NULL,
         |         NULL, NULL, NULL, NULL, NULL, NULL,
         |         NULL, rs.rk, szs.n_cluster, NULL,
         |         NULL, NULL, NULL, NULL, NULL, NULL
         |  FROM rs JOIN szs ON rs.cluster = szs.cluster WHERE rs.rk <= 4
         |  UNION ALL
         |  SELECT 'semdedup', cluster, vec_id, NULL, NULL, NULL,
         |         NULL, NULL, NULL, NULL, NULL, NULL,
         |         cos, NULL, NULL, NULL,
         |         NULL, NULL, NULL, NULL, NULL, near_id
         |  FROM dd WHERE rn = 1)
         |ORDER BY kind, COALESCE(method, ''), COALESCE(cluster, -1),
         |  COALESCE(q_id, -1), COALESCE(vec_id, -1), COALESCE(pos, -1),
         |  COALESCE(rk, -1)""".stripMargin
    },

    // Same base quantization plus the label column; pos_max is a max
    // of bit-identical doubles, so the semi-hard filter compares the
    // exact same values in both engines.
    "hard_negatives" ->
      s"""WITH q0 AS (SELECT vec_id, label, embedding,
         |             list_transform(embedding,
         |               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS qe
         |      FROM embeddings),
         |n AS (SELECT vec_id, label, qe,
         |             CAST(list_sum(list_transform(range(1, len(qe) + 1),
         |               i -> qe[i] * qe[i])) AS BIGINT) AS nq
         |      FROM q0),
         |sc AS (SELECT qq.vec_id AS q_id, qq.label AS q_label,
         |              c.vec_id AS neighbor_id, c.label AS n_label,
         |              CAST(${dotSql2("c.qe", "qq.qe")} AS DOUBLE)
         |                / sqrt(CAST(c.nq AS DOUBLE) * CAST(qq.nq AS DOUBLE)) AS cos
         |       FROM n c CROSS JOIN n qq
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |pm AS (SELECT q_id, max(cos) AS pos_max FROM sc
         |       WHERE n_label = q_label GROUP BY q_id),
         |ng AS (SELECT s.q_id, s.q_label, s.neighbor_id, s.n_label, s.cos, pm.pos_max
         |       FROM sc s LEFT JOIN pm ON s.q_id = pm.q_id
         |       WHERE s.n_label <> s.q_label
         |         AND (pm.pos_max IS NULL OR s.cos < pm.pos_max)),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
         |      FROM ng)
         |SELECT q_id, q_label, neighbor_id, n_label, rk, cos, pos_max
         |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    // The ivf_topk trained index verbatim; per-vector cosine to its own
    // centroid, ranked ascending within the cluster.
    "centroid_outliers" ->
      s"""WITH $baseSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "", 1)},
         |wc AS (SELECT a.vec_id, a.cluster,
         |              CAST(${dotSql2("a.qe", "c.ce")} AS DOUBLE)
         |                / sqrt(CAST(a.nq AS DOUBLE) * CAST(c.nc AS DOUBLE)) AS cos_c
         |       FROM assigned a JOIN c2 c USING (cluster)),
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_cluster,
         |              max(cos_c) AS max_cos
         |       FROM wc GROUP BY cluster),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cluster
         |            ORDER BY COALESCE(cos_c, -2.0), vec_id) AS INTEGER) AS rk
         |      FROM wc)
         |SELECT r.cluster, r.vec_id, r.cos_c, r.rk, sz.n_cluster, sz.max_cos
         |FROM r JOIN sz ON r.cluster = sz.cluster
         |WHERE r.rk <= 3 ORDER BY r.cluster, r.rk""".stripMargin,

    "embedding_neardup" -> {
      val bandCols = (0 until NdBands).map { b =>
        val bits = (0 until NdBits).map { j =>
          val w = planeWeights(b * NdBits + j).mkString("[", ",", "]")
          s"CASE WHEN CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> qe[i] * ($w)[i])) AS BIGINT) >= 0 THEN ${1L << j} ELSE 0 END"
        }.mkString("\n         + ")
        s"CAST($bits AS BIGINT) AS band$b"
      }.mkString(",\n       ")
      val stacked = (0 until NdBands)
        .map(b => s"SELECT vec_id, qe, nq, $b AS band_id, band$b AS band_key FROM bk")
        .mkString("\n      UNION ALL ")
      s"""WITH $baseSql,
         |var0 AS (
         |  SELECT vec_id,
         |         list_transform(range(1, ${Dim + 1}),
         |           i -> qe[i] + (((vec_id * 131 + (i - 1) * 101) % 601) * 1000 - 300000)) AS qe2
         |  FROM n WHERE vec_id % 17 = 0),
         |var AS (
         |  SELECT -1 - vec_id AS vec_id, qe2 AS qe,
         |         CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |           i -> qe2[i] * qe2[i])) AS BIGINT) AS nq
         |  FROM var0),
         |u AS (SELECT vec_id, qe, nq FROM n
         |      UNION ALL SELECT vec_id, qe, nq FROM var),
         |bk AS (SELECT *,
         |       $bandCols
         |FROM u),
         |stacked AS (
         |      $stacked),
         |pairs AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM stacked x JOIN stacked y
         |    ON x.band_id = y.band_id AND x.band_key = y.band_key
         |   AND x.vec_id < y.vec_id),
         |v AS (
         |  SELECT p.v1, p.v2,
         |         CAST(list_sum(list_transform(range(1, len(a.qe) + 1),
         |           i -> a.qe[i] * b.qe[i])) AS DOUBLE)
         |         / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos
         |  FROM pairs p JOIN u a ON p.v1 = a.vec_id JOIN u b ON p.v2 = b.vec_id)
         |SELECT v1, v2, cos FROM v WHERE cos >= 0.9 ORDER BY v1, v2""".stripMargin
    },

    "kmeans_centroids" ->
      s"""WITH $baseSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |a2 AS ${nearestSql("c1", "", 1)},
         |u2 AS (SELECT cluster, CAST(i - 1 AS INTEGER) AS pos,
         |         CAST(floor(CAST(sum(qe[i]) AS DOUBLE) / count(*)) AS BIGINT) AS c_fx
         |       FROM a2, range(1, ${Dim + 1}) r(i) GROUP BY cluster, pos),
         |counts AS (SELECT cluster, count(*) AS n_members FROM a2 GROUP BY cluster)
         |SELECT u2.cluster, u2.pos, u2.c_fx, counts.n_members
         |FROM u2 JOIN counts USING (cluster) ORDER BY u2.cluster, u2.pos""".stripMargin,

    // X-139: the full two-round training (both rounds via lloydRoundSql
    // — the kmeans/ivf recipe), assignment against the trained c2,
    // md5-priority quota of 4 per cluster.
    "cluster_balanced_sample" ->
      s"""WITH $baseSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |asg AS ${nearestSql("c2", "", 1)},
         |p AS (SELECT vec_id, cluster,
         |        CAST('0x' || substr(md5('graft-cbs' || vec_id), 1, 14) AS BIGINT) AS pri
         |      FROM asg),
         |sz AS (SELECT cluster, count(*) AS n_cluster FROM p GROUP BY cluster),
         |r AS (SELECT cluster, vec_id, pri,
         |        CAST(row_number() OVER (PARTITION BY cluster ORDER BY pri, vec_id) AS INT) AS rk
         |      FROM p)
         |SELECT r.cluster, r.vec_id, sz.n_cluster, r.rk
         |FROM r JOIN sz USING (cluster)
         |WHERE r.rk <= 4 ORDER BY cluster, rk""".stripMargin,

    "label_centroids" ->
      """WITH q AS (SELECT label,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS qe
        |           FROM embeddings)
        |SELECT label, CAST(i - 1 AS INTEGER) AS pos, count(*) AS n_vecs,
        |       CAST(sum(qe[i]) AS BIGINT) AS sum_fx
        |FROM q, range(1, 65) t(i)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    // Same fx quantization; code/reconstruction arithmetic mirrors the
    // Spark side on non-negative integers (// = div there).
    "sq8_error" ->
      """WITH q AS (SELECT vec_id,
        |             list_transform(embedding,
        |               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS qe
        |           FROM embeddings),
        |e AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos, qe[i] AS v
        |      FROM q, range(1, 65) t(i)),
        |b AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY pos),
        |c AS (SELECT e.vec_id, e.v, b.mn, b.mx,
        |             CASE WHEN b.mx > b.mn
        |                  THEN ((e.v - b.mn) * 255) // (b.mx - b.mn)
        |                  ELSE 0 END AS code
        |      FROM e JOIN b USING (pos)),
        |r AS (SELECT vec_id, v, code,
        |             mn + (code * (mx - mn)) // 255 AS recon
        |      FROM c)
        |SELECT vec_id, count(*) AS n_dims,
        |       CAST(sum(abs(v - recon)) AS BIGINT) AS sum_err_fx,
        |       CAST(max(abs(v - recon)) AS BIGINT) AS max_err_fx,
        |       CAST(min(code) AS BIGINT) AS min_code,
        |       CAST(max(code) AS BIGINT) AS max_code,
        |       CAST(sum(abs(v - recon)) AS DOUBLE) / count(*) / 10000000.0 AS mae
        |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Same fx subvector split, exact squared-L2 assignment (ties to
    // the lowest cluster), and floored-IEEE-mean update per subspace;
    // DuckDB list slices are 1-based inclusive.
    "pq_error" -> {
      val sd = Dim / 4
      def distSql(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, ${sd + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      s"""WITH q AS (SELECT vec_id,
         |             list_transform(embedding,
         |               x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS qe
         |           FROM embeddings),
         |sv AS (SELECT vec_id, s.sub, qe[s.sub * $sd + 1 : (s.sub + 1) * $sd] AS sv
         |       FROM q, (SELECT unnest(range(0, 4)) AS sub) s),
         |seeds AS (SELECT sub, vec_id AS cluster, sv AS ce FROM sv WHERE vec_id < 8),
         |a1 AS (SELECT vec_id, sub, sv, cluster, dist FROM (
         |         SELECT v.vec_id, v.sub, v.sv, c.cluster,
         |                ${distSql("v.sv", "c.ce")} AS dist,
         |                row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                                   ORDER BY ${distSql("v.sv", "c.ce")}, c.cluster) AS rk
         |         FROM sv v JOIN seeds c USING (sub)) WHERE rk = 1),
         |u1 AS (SELECT sub, cluster, i.spos,
         |              CAST(floor(CAST(sum(sv[i.spos]) AS DOUBLE) / count(*)) AS BIGINT) AS val
         |       FROM a1, (SELECT unnest(range(1, ${sd + 1})) AS spos) i
         |       GROUP BY sub, cluster, i.spos),
         |c1 AS (SELECT sub, cluster, list(val ORDER BY spos) AS ce
         |       FROM u1 GROUP BY sub, cluster),
         |a2 AS (SELECT vec_id, sub, cluster, dist FROM (
         |         SELECT v.vec_id, v.sub, c.cluster,
         |                ${distSql("v.sv", "c.ce")} AS dist,
         |                row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                                   ORDER BY ${distSql("v.sv", "c.ce")}, c.cluster) AS rk
         |         FROM sv v JOIN c1 c USING (sub)) WHERE rk = 1)
         |SELECT vec_id, sub, CAST(cluster AS BIGINT) AS code, dist AS sse_fx
         |FROM a2 ORDER BY vec_id, sub""".stripMargin
    },

    // Coarse CTEs = ivf_topk's oracle verbatim (same trained index);
    // PQ CTEs = pq_error's oracle with p-prefixed names; the ADC table
    // join and the 4-way lookup sum mirror the Spark side literally.
    "ivfpq_topk" -> {
      val sd = PqSd
      def distSql(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, ${sd + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      s"""WITH $baseSql,
         |c0 AS (SELECT vec_id AS cluster, qe AS ce, nq AS nc FROM n WHERE vec_id < 8),
         |${lloydRoundSql("c0", "a1", "u1", "c1a", "c1")},
         |${lloydRoundSql("c1", "a2", "u2", "c2a", "c2")},
         |assigned AS ${nearestSql("c2", "WHERE v.vec_id >= 10", 1)},
         |probes0 AS ${nearestSql("c2", "WHERE v.vec_id < 10", 2)},
         |probes AS (SELECT vec_id AS q_id, cluster FROM probes0),
         |psv AS (SELECT vec_id, s.sub, qe[s.sub * $sd + 1 : (s.sub + 1) * $sd] AS sv
         |        FROM n, (SELECT unnest(range(0, $PqM)) AS sub) s),
         |pseeds AS (SELECT sub, vec_id AS cluster, sv AS ce FROM psv WHERE vec_id < 8),
         |pa1 AS (SELECT vec_id, sub, sv, cluster FROM (
         |          SELECT v.vec_id, v.sub, v.sv, c.cluster,
         |                 row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                                    ORDER BY ${distSql("v.sv", "c.ce")}, c.cluster) AS rk
         |          FROM psv v JOIN pseeds c USING (sub)) WHERE rk = 1),
         |pu1 AS (SELECT sub, cluster, i.spos,
         |               CAST(floor(CAST(sum(sv[i.spos]) AS DOUBLE) / count(*)) AS BIGINT) AS val
         |        FROM pa1, (SELECT unnest(range(1, ${sd + 1})) AS spos) i
         |        GROUP BY sub, cluster, i.spos),
         |pc1 AS (SELECT sub, cluster, list(val ORDER BY spos) AS ce
         |        FROM pu1 GROUP BY sub, cluster),
         |codes AS (SELECT vec_id, sub, cluster AS code FROM (
         |            SELECT v.vec_id, v.sub, c.cluster,
         |                   row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                                      ORDER BY ${distSql("v.sv", "c.ce")}, c.cluster) AS rk
         |            FROM psv v JOIN pc1 c USING (sub)
         |            WHERE v.vec_id >= 10) WHERE rk = 1),
         |tbl AS (SELECT v.vec_id AS q_id, v.sub, c.cluster AS code,
         |               ${distSql("v.sv", "c.ce")} AS adist
         |        FROM psv v JOIN pc1 c USING (sub) WHERE v.vec_id < 10),
         |cand AS (SELECT p.q_id, a.vec_id, a.cluster
         |         FROM assigned a JOIN probes p USING (cluster)),
         |adc AS (SELECT c.q_id, c.vec_id, c.cluster, CAST(sum(t.adist) AS BIGINT) AS adc_fx
         |        FROM cand c
         |        JOIN codes k ON c.vec_id = k.vec_id
         |        JOIN tbl t ON t.q_id = c.q_id AND t.sub = k.sub AND t.code = k.code
         |        GROUP BY 1, 2, 3),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY adc_fx, vec_id) AS INTEGER) AS rk FROM adc)
         |SELECT q_id, vec_id AS neighbor_id, cluster, rk, adc_fx
         |FROM r WHERE rk <= $LshK ORDER BY q_id, rk""".stripMargin
    },

    // Lowest-id first seed, then three unrolled farthest-point rounds:
    // per round min-squared-L2 to the accumulated seed set (CROSS JOIN
    // over the ≤3-row seed CTE + GROUP BY), argmax via the identical
    // (dmin DESC, vec_id) total order the struct-max encodes.
    "kcenter_seeds" -> {
      def distSql(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      def roundSql(prevSet: String, fN: String, sN: String, gN: String) =
        s"""$fN AS (SELECT v.vec_id, min(${distSql("v.qe", "s.qe")}) AS dmin
           |      FROM b v CROSS JOIN $prevSet s
           |      WHERE v.vec_id NOT IN (SELECT vec_id FROM $prevSet)
           |      GROUP BY v.vec_id
           |      ORDER BY dmin DESC, v.vec_id LIMIT 1),
           |$sN AS (SELECT b.vec_id, b.qe FROM $fN JOIN b USING (vec_id)),
           |$gN AS (SELECT vec_id, qe FROM $prevSet
           |      UNION ALL SELECT vec_id, qe FROM $sN)""".stripMargin
      s"""WITH $baseSql,
         |b AS (SELECT vec_id, qe FROM n),
         |s1 AS (SELECT vec_id, qe FROM b ORDER BY vec_id LIMIT 1),
         |${roundSql("s1", "f2", "s2", "g2")},
         |${roundSql("g2", "f3", "s3", "g3")},
         |${roundSql("g3", "f4", "s4", "g4")}
         |SELECT CAST(1 AS INTEGER) AS seed_rk, vec_id,
         |       CAST(NULL AS BIGINT) AS dist_fx FROM s1
         |UNION ALL SELECT CAST(2 AS INTEGER), vec_id, dmin FROM f2
         |UNION ALL SELECT CAST(3 AS INTEGER), vec_id, dmin FROM f3
         |UNION ALL SELECT CAST(4 AS INTEGER), vec_id, dmin FROM f4
         |ORDER BY seed_rk""".stripMargin
    },

    // Pool window, complete pool-pairwise similarity matrix, and the
    // three unrolled greedy rounds mirror the Spark side; the MMR
    // combination (7·rel − 3·maxsim)/10 is the identical IEEE double
    // expression in both engines (7.0/3.0/10.0 are exactly
    // representable, rel/sim are the proven-bit-identical cosines).
    "mmr_select" -> {
      val mmrSql = "(7.0 * rel - 3.0 * maxsim) / 10.0"
      def roundSql(prevSet: String, cN: String, selN: String, t: Int) =
        s"""$cN AS (SELECT p.q_id, p.vec_id, p.rel, max(s.sim) AS maxsim
           |      FROM pool p
           |      JOIN sims s ON s.q_id = p.q_id AND s.ca = p.vec_id
           |      JOIN $prevSet x ON x.q_id = s.q_id AND x.vec_id = s.cb
           |      WHERE NOT EXISTS (SELECT 1 FROM $prevSet e
           |                        WHERE e.q_id = p.q_id AND e.vec_id = p.vec_id)
           |      GROUP BY 1, 2, 3),
           |$selN AS (SELECT q_id, CAST($t AS INTEGER) AS pick, vec_id, rel, maxsim,
           |                 $mmrSql AS mmr
           |        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           |                ORDER BY $mmrSql DESC, vec_id) AS rk FROM $cN)
           |        WHERE rk = 1)""".stripMargin
      s"""WITH $baseSql,
         |sc AS (SELECT qq.vec_id AS q_id, c.vec_id, c.qe, c.nq,
         |              CAST(${dotSql2("c.qe", "qq.qe")} AS DOUBLE)
         |                / sqrt(CAST(c.nq AS DOUBLE) * CAST(qq.nq AS DOUBLE)) AS rel
         |       FROM n c CROSS JOIN n qq
         |       WHERE c.vec_id >= 10 AND qq.vec_id < 10),
         |pool AS (SELECT * FROM (
         |           SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY rel DESC, vec_id) AS prk FROM sc)
         |         WHERE prk <= $MmrPool),
         |sims AS (SELECT a.q_id, a.vec_id AS ca, b.vec_id AS cb,
         |                CAST(${dotSql2("a.qe", "b.qe")} AS DOUBLE)
         |                  / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS sim
         |         FROM pool a JOIN pool b
         |           ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
         |sel1 AS (SELECT q_id, CAST(1 AS INTEGER) AS pick, vec_id, rel,
         |                CAST(0.0 AS DOUBLE) AS maxsim,
         |                (7.0 * rel - 3.0 * CAST(0.0 AS DOUBLE)) / 10.0 AS mmr
         |         FROM pool WHERE prk = 1),
         |${roundSql("sel1", "m2", "sel2", 2)},
         |s12 AS (SELECT q_id, vec_id FROM sel1
         |        UNION ALL SELECT q_id, vec_id FROM sel2),
         |${roundSql("s12", "m3", "sel3", 3)}
         |SELECT q_id, pick, vec_id AS neighbor_id, rel, maxsim, mmr FROM sel1
         |UNION ALL SELECT q_id, pick, vec_id AS neighbor_id, rel, maxsim, mmr FROM sel2
         |UNION ALL SELECT q_id, pick, vec_id AS neighbor_id, rel, maxsim, mmr FROM sel3
         |ORDER BY q_id, pick""".stripMargin
    },

    // Same 1e4 quantization, Gram sums, and two L∞-normalized power
    // rounds; // and Spark's div both truncate toward zero, so every
    // fixed-point component matches bit-for-bit.
    "embedding_gram_pca" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS ql
        |  FROM embeddings),
        |g AS (SELECT CAST(t1.i - 1 AS BIGINT) AS i, CAST(t2.j - 1 AS BIGINT) AS j,
        |             CAST(sum(ql[t1.i] * ql[t2.j]) AS HUGEINT) AS s
        |      FROM q, generate_series(1, 64) t1(i), generate_series(1, 64) t2(j)
        |      GROUP BY 1, 2),
        |v0 AS (SELECT CAST(j - 1 AS BIGINT) AS j, CAST(1000000 AS HUGEINT) AS v
        |       FROM generate_series(1, 64) t(j)),
        |w1 AS (SELECT i, sum(s * v) AS w FROM g JOIN v0 USING (j) GROUP BY i),
        |m1 AS (SELECT max(abs(w)) AS m FROM w1),
        |v1 AS (SELECT i AS j, w * 1000000 // m AS v FROM w1, m1),
        |w2 AS (SELECT i, sum(s * v) AS w FROM g JOIN v1 USING (j) GROUP BY i),
        |m2 AS (SELECT max(abs(w)) AS m FROM w2),
        |v2 AS (SELECT i AS j, w * 1000000 // m AS v FROM w2, m2)
        |SELECT v2.j AS dim, CAST(v2.v AS BIGINT) AS v_fx,
        |       CAST(m2.m // 1000000 AS BIGINT) AS lambda_fx
        |FROM v2, m2 ORDER BY dim""".stripMargin,
  )
}
