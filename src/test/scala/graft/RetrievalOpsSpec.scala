package graft

/** Independent plain-Scala reference implementations of the retrieval-
  * side selection/serving operators (X-142 MMR, X-143 IVF-PQ ADC),
  * compared EXACTLY against the registered queries at sf0.001 — the
  * IterativeOpsSpec discipline: a third implementation beside the Spark
  * plan and the DuckDB oracle, so a shared misreading of the greedy /
  * table-lookup algorithm can't slip through two engines written to
  * mirror each other. */
class RetrievalOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Quantized embeddings + exact norms, the Similarity fixed-point
    * space: qe = floor(x·1e7), nq = Σ qe². */
  private lazy val emb: Map[Long, Array[Long]] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(x => math.floor(x.toDouble * 1e7).toLong))
      .toMap
  private lazy val nq: Map[Long, Long] =
    emb.view.mapValues(v => v.map(x => x * x).sum).toMap

  private def dot(a: Array[Long], b: Array[Long]): Long =
    (a, b).zipped.map(_ * _).sum
  private def cos(a: Long, b: Long): Double =
    dot(emb(a), emb(b)).toDouble / math.sqrt(nq(a).toDouble * nq(b).toDouble)

  test("mmr_select matches a plain-Scala greedy MMR over the exact pool") {
    val ids = emb.keys.toSeq.sorted
    val qids = ids.filter(_ < 10)
    val cands = ids.filter(_ >= 10)
    val expect = qids.flatMap { q =>
      val rel = cands.map(c => c -> cos(c, q)).toMap
      val pool = cands.sortBy(c => (-rel(c), c)).take(8)
      var sel = Vector.empty[(Long, Double, Double)] // (id, maxsim, mmr)
      for (t <- 1 to 3) {
        val remaining = pool.filterNot(c => sel.exists(_._1 == c))
        val scoredC = remaining.map { c =>
          val ms = if (sel.isEmpty) 0.0
            else sel.map(s => cos(c, s._1)).max
          (c, ms, (7.0 * rel(c) - 3.0 * ms) / 10.0)
        }
        sel :+= scoredC.minBy { case (c, _, m) => (-m, c) }
      }
      sel.zipWithIndex.map { case ((c, ms, m), i) =>
        (q, i + 1, c, rel(c), ms, m)
      }
    }
    val got = SparkEntry.queries("mmr_select")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    got.toSeq shouldEqual expect
    // diversity actually bit: for at least one query the greedy pick
    // order DIVERGES from pure relevance order (otherwise the maxsim
    // term never moved a decision and the test pins nothing)
    val byRel = qids.flatMap { q =>
      val rel = cands.map(c => c -> cos(c, q)).toMap
      cands.sortBy(c => (-rel(c), c)).take(3).zipWithIndex
        .map { case (c, i) => (q, i + 1, c) }
    }.toSet
    assert(expect.map(e => (e._1, e._2, e._3)).toSet != byRel)
  }

  test("kcenter_seeds matches a plain-Scala farthest-point traversal") {
    val ids = emb.keys.toSeq.sorted
    def l2(a: Long, b: Long): Long =
      (emb(a), emb(b)).zipped.map((x, y) => (x - y) * (x - y)).sum
    var seeds = Vector((1, ids.min, None: Option[Long]))
    for (rk <- 2 to 4) {
      val sel = seeds.map(_._2).toSet
      val far = ids.filterNot(sel)
        .map(v => v -> sel.map(s => l2(v, s)).min)
        .minBy { case (v, dmin) => (-dmin, v) }
      seeds :+= ((rk, far._1, Some(far._2)))
    }
    val got = SparkEntry.queries("kcenter_seeds")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    got.toSeq shouldEqual seeds
    // farthest-point actually spreads: selection distances are
    // non-increasing (each pick can only shrink the uncovered radius)
    val dists = seeds.flatMap(_._3)
    dists.zip(dists.tail).foreach { case (a, b) => b should be <= a }
    dists.last should be > 0L
  }

  test("ivfpq_topk matches a plain-Scala coarse-probe + ADC lookup") {
    val ids = emb.keys.toSeq.sorted
    val qids = ids.filter(_ < 10)
    val cands = ids.filter(_ >= 10)

    // ── coarse quantizer: 2 Lloyd rounds from the vec_id<8 seeds over
    //    ALL vectors, cosine assignment (ties to lowest cluster),
    //    floored-IEEE-mean update — kmeans_centroids' recipe ──
    def cosTo(v: Long, ce: Array[Long], nc: Long): Double =
      dot(emb(v), ce).toDouble / math.sqrt(nq(v).toDouble * nc.toDouble)
    def lloydRound(cents: Map[Long, Array[Long]]): Map[Long, Array[Long]] = {
      val withN = cents.view.mapValues(ce => (ce, ce.map(x => x * x).sum)).toMap
      val assigned = ids.map { v =>
        v -> withN.toSeq.map { case (cl, (ce, nc)) => (cl, cosTo(v, ce, nc)) }
          .minBy { case (cl, c) => (-c, cl) }._1
      }
      assigned.groupMap(_._2)(_._1).view.mapValues { members =>
        Array.tabulate(64) { pos =>
          val s = members.map(v => emb(v)(pos)).sum
          math.floor(s.toDouble / members.size.toDouble).toLong
        }
      }.toMap
    }
    val seeds = ids.filter(_ < 8).map(v => v -> emb(v)).toMap
    val coarse = lloydRound(lloydRound(seeds))
    val coarseN = coarse.view.mapValues(ce => ce.map(x => x * x).sum).toMap
    def nearestCoarse(v: Long, k: Int): Seq[Long] =
      coarse.keys.toSeq.map(cl => (cl, cosTo(v, coarse(cl), coarseN(cl))))
        .sortBy { case (cl, c) => (-c, cl) }.take(k).map(_._1)
    val assignedC = cands.map(v => v -> nearestCoarse(v, 1).head).toMap
    val probes = qids.map(q => q -> nearestCoarse(q, 2).toSet).toMap

    // ── PQ codebook: per-subspace seeds (vec_id<8), one squared-L2
    //    argmin assignment over ALL vectors + floored-mean update —
    //    pq_error's recipe ──
    val M = 4; val sd = 16
    def sub(v: Long, m: Int): Array[Long] = emb(v).slice(m * sd, (m + 1) * sd)
    def l2(a: Array[Long], b: Array[Long]): Long =
      (a, b).zipped.map((x, y) => (x - y) * (x - y)).sum
    val codebook: Map[(Int, Long), Array[Long]] = (0 until M).flatMap { m =>
      val sseeds = ids.filter(_ < 8).map(v => v -> sub(v, m)).toMap
      val assigned = ids.map { v =>
        v -> sseeds.toSeq.map { case (cl, ce) => (cl, l2(sub(v, m), ce)) }
          .minBy { case (cl, dst) => (dst, cl) }._1
      }
      assigned.groupMap(_._2)(_._1).map { case (cl, members) =>
        (m, cl) -> Array.tabulate(sd) { pos =>
          val s = members.map(v => sub(v, m)(pos)).sum
          math.floor(s.toDouble / members.size.toDouble).toLong
        }
      }
    }.toMap
    def code(v: Long, m: Int): Long =
      codebook.collect { case ((mm, cl), ce) if mm == m => (cl, l2(sub(v, m), ce)) }
        .toSeq.minBy { case (cl, dst) => (dst, cl) }._1

    // ── ADC: per (query, sub) distance table, candidate distance =
    //    4-way lookup sum; top-3 per query by (adc, id) among the
    //    probed clusters' members ──
    val expect = qids.flatMap { q =>
      val table = (for (m <- 0 until M; cl <- codebook.keys.collect { case (mm, c) if mm == m => c })
        yield (m, cl) -> l2(sub(q, m), codebook((m, cl)))).toMap
      val pool = cands.filter(c => probes(q).contains(assignedC(c)))
        .map(c => (c, assignedC(c), (0 until M).map(m => table((m, code(c, m)))).sum))
      pool.sortBy { case (c, _, adc) => (adc, c) }.take(3).zipWithIndex
        .map { case ((c, cl, adc), i) => (q, c, cl, i + 1, adc) }
    }
    val got = SparkEntry.queries("ivfpq_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    got.toSeq shouldEqual expect
    // the index actually pruned AND compressed: every query's results
    // come from ≤ 2 coarse clusters, and ADC distances are nonnegative
    got.groupBy(_._1).values.foreach(rs => rs.map(_._3).distinct.length should be <= 2)
    got.foreach(r => r._5 should be >= 0L)
  }

  /** The shared coarse quantizer (2 cosine-Lloyd rounds from the
    * vec_id<8 seeds, floored-IEEE-mean update — kmeans_centroids'
    * recipe), factored for the X-165/X-166 tests. */
  private def trainCoarse(): (Map[Long, Array[Long]], Map[Long, Long]) = {
    val ids = emb.keys.toSeq.sorted
    def cosTo(v: Long, ce: Array[Long], nc: Long): Double =
      dot(emb(v), ce).toDouble / math.sqrt(nq(v).toDouble * nc.toDouble)
    def lloydRound(cents: Map[Long, Array[Long]]): Map[Long, Array[Long]] = {
      val withN = cents.view.mapValues(ce => (ce, ce.map(x => x * x).sum)).toMap
      val assigned = ids.map { v =>
        v -> withN.toSeq.map { case (cl, (ce, nc)) => (cl, cosTo(v, ce, nc)) }
          .minBy { case (cl, c) => (-c, cl) }._1
      }
      assigned.groupMap(_._2)(_._1).view.mapValues { members =>
        Array.tabulate(64) { pos =>
          val s = members.map(v => emb(v)(pos)).sum
          math.floor(s.toDouble / members.size.toDouble).toLong
        }
      }.toMap
    }
    val seeds = ids.filter(_ < 8).map(v => v -> emb(v)).toMap
    val coarse = lloydRound(lloydRound(seeds))
    (coarse, coarse.view.mapValues(ce => ce.map(x => x * x).sum).toMap)
  }

  test("ivf_nprobe_curve matches a plain-Scala probe sweep and both axes are monotone") {
    val ids = emb.keys.toSeq.sorted
    val qids = ids.filter(_ < 10)
    val cands = ids.filter(_ >= 10)
    val (coarse, coarseN) = trainCoarse()
    def cosTo(v: Long, cl: Long): Double =
      dot(emb(v), coarse(cl)).toDouble / math.sqrt(nq(v).toDouble * coarseN(cl).toDouble)
    def nearestCoarse(v: Long, k: Int): Seq[Long] =
      coarse.keys.toSeq.map(cl => (cl, cosTo(v, cl)))
        .sortBy { case (cl, c) => (-c, cl) }.take(k).map(_._1)
    val assignedC = cands.map(v => v -> nearestCoarse(v, 1).head).toMap
    val truth = qids.map { q =>
      q -> cands.map(c => (c, cos(c, q)))
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    }.toMap
    val expect = (for (n <- Seq(1, 2, 4); q <- qids) yield {
      val probed = nearestCoarse(q, n).toSet
      val pool = cands.filter(c => probed.contains(assignedC(c)))
      val top = pool.map(c => (c, cos(c, q)))
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
      val hits = (top & truth(q)).size.toLong
      (s"ivf_p$n", q, 3L, hits, hits.toDouble / 3.0, pool.size.toLong)
    }).sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("ivf_nprobe_curve")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    got shouldEqual expect
    // the dial actually turns: per query, widening the probe set can
    // only grow the scanned pool, and (identical tie-breaks on truth
    // and arms) can never evict a true top-3 hit
    val byQ = got.groupBy(_._2).values
    byQ.foreach { rs =>
      val o = rs.sortBy(r => r._1.drop(5).toInt) // p1, p2, p4
      o.map(_._6).sliding(2).foreach { case Seq(a, b) => b should be >= a }
      o.map(_._4).sliding(2).foreach { case Seq(a, b) => b should be >= a }
    }
    // and the trade is visible at this SF: nprobe=1 scans strictly
    // less than nprobe=4 somewhere, while nprobe=4 reaches full recall
    got.filter(_._1 == "ivf_p4").map(_._4).sum should be >
      got.filter(_._1 == "ivf_p1").map(_._4).sum - 1 // p4 ≥ p1 overall
    assert(got.exists(r => r._1 == "ivf_p1") && {
      val p1 = got.filter(_._1 == "ivf_p1").map(_._6).sum
      val p4 = got.filter(_._1 == "ivf_p4").map(_._6).sum
      p1 < p4
    })
  }

  test("hard_negatives matches plain-Scala semi-hard mining and the band binds") {
    val labels: Map[Long, Int] = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ids = emb.keys.toSeq.sorted
    val qids = ids.filter(_ < 10)
    val cands = ids.filter(_ >= 10)
    val expect = qids.flatMap { q =>
      val posMax = cands.filter(c => labels(c) == labels(q))
        .map(c => cos(c, q)).maxOption
      val admissible = cands.filter(c => labels(c) != labels(q))
        .filter(c => posMax.forall(pm => cos(c, q) < pm))
      // pos_max is Option: a query label with no candidate positives
      // legitimately emits NULL pos_max (both engines handle it via
      // isNull) — the test must cover that branch, not NPE on it
      admissible.map(c => (c, cos(c, q))).sortBy { case (c, s) => (-s, c) }
        .take(3).zipWithIndex.map { case ((c, s), i) =>
          (q, labels(q), c, labels(c), i + 1, s, posMax)
        }
    }
    val got = SparkEntry.queries("hard_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getDouble(5),
        Option(r.get(6)).map(_.asInstanceOf[Double]))).toSeq
    got shouldEqual expect
    // the semi-hard band (Schroff et al. §3.2) actually bit: without
    // the pos_max exclusion at least one query's top-3 differs (the
    // excluded negatives are by definition the highest-cosine ones)
    val naive = qids.flatMap { q =>
      cands.filter(c => labels(c) != labels(q))
        .map(c => (c, cos(c, q))).sortBy { case (c, s) => (-s, c) }
        .take(3).map { case (c, _) => (q, c) }
    }.toSet
    naive should not equal got.map(r => (r._1, r._3)).toSet
    // every mined negative respects the margin (when a margin exists)
    got.foreach(r => r._7.foreach(pm => r._6 should be < pm))
  }

  test("ivf_maintenance matches a plain-Scala assignment ledger and the books balance") {
    val ids = emb.keys.toSeq.sorted
    val (coarse, coarseN) = trainCoarse()
    def assign(qe: Array[Long], nqv: Long): Long =
      coarse.keys.toSeq.map { cl =>
        (cl, dot(qe, coarse(cl)).toDouble /
          math.sqrt(nqv.toDouble * coarseN(cl).toDouble))
      }.minBy { case (cl, c) => (-c, cl) }._1
    // the embedding_neardup variant recipe: every 17th vector perturbed
    // in quantized integer space, id ↦ −id−1
    val variants = ids.filter(_ % 17 == 0).map { v =>
      val qe2 = emb(v).zipWithIndex.map { case (x, i) =>
        x + ((v * 131 + i * 101) % 601) * 1000 - 300000
      }
      (-1L - v, qe2, qe2.map(x => x * x).sum)
    }
    val oldN = ids.groupMapReduce(v => assign(emb(v), nq(v)))(_ => 1L)(_ + _)
    val addN = variants.groupMapReduce { case (_, qe2, n2) => assign(qe2, n2) }(_ => 1L)(_ + _)
    val totalN = ids.size.toLong + variants.size.toLong
    val nLists = coarse.size.toLong
    val expect = coarse.keys.toSeq.sorted.map { cl =>
      val o = oldN.getOrElse(cl, 0L); val a = addN.getOrElse(cl, 0L)
      val nn = o + a
      (cl, o, a, nn, nn * 1000000L / totalN, nn * nLists > 2 * totalN)
    }
    val got = SparkEntry.queries("ivf_maintenance")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    got shouldEqual expect
    // the ledger balances: every standing vector and every batch vector
    // lands in exactly one list, and the batch is non-empty
    got.map(_._2).sum shouldEqual ids.size.toLong
    got.map(_._3).sum shouldEqual variants.size.toLong
    variants should not be empty
    // a Lloyd-trained index on this corpus is balanced, so the >2×-mean
    // retrain flag honestly stays down — and the per-list loads confirm
    // it (every list within 2× of the mean share)
    got.foreach { r =>
      r._6 shouldBe false
      r._5 should be <= 2 * (1000000L / nLists)
    }
  }

  test("centroid_outliers matches a plain-Scala bottom-3-per-cluster report") {
    val ids = emb.keys.toSeq.sorted
    val (coarse, coarseN) = trainCoarse()
    def cosTo(v: Long, cl: Long): Double =
      dot(emb(v), coarse(cl)).toDouble / math.sqrt(nq(v).toDouble * coarseN(cl).toDouble)
    val assigned = ids.map { v =>
      v -> coarse.keys.toSeq.map(cl => (cl, cosTo(v, cl)))
        .minBy { case (cl, c) => (-c, cl) }._1
    }
    val expect = assigned.groupMap(_._2)(_._1).toSeq.sortBy(_._1)
      .flatMap { case (cl, members) =>
        val scoredM = members.map(v => (v, cosTo(v, cl)))
        val mx = scoredM.map(_._2).max
        scoredM.sortBy { case (v, c) => (c, v) }.take(3).zipWithIndex
          .map { case ((v, c), i) =>
            (cl, v, c, i + 1, members.size.toLong, mx)
          }
      }
    val got = SparkEntry.queries("centroid_outliers")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getLong(4), r.getDouble(5))).toSeq
    got shouldEqual expect
    // outliers sit strictly inside the cluster's cohesion range
    got.foreach(r => r._3 should be <= r._6)
  }

  test("ann_family embeds each sibling surface byte-for-byte from ONE persisted index") {
    // Column order of the capstone's wide schema: kind=0, cluster=1,
    // vec_id=2, pos=3, c_fx=4, n_members=5, method=6, q_id=7, n_true=8,
    // n_hit=9, recall=10, n_cand=11, cos=12, rk=13, n_cluster=14,
    // max_cos=15, old_n=16, added_n=17, new_n=18, load_ppm=19,
    // retrain_hint=20, near_id=21.
    val fam = SparkEntry.queries("ann_family")(spark, sf).collect()
    def sec(k: String) = fam.filter(_.getString(0) == k)
    def run(q: String) = SparkEntry.queries(q)(spark, sf).collect()

    // every section is non-empty (a vacuously-green embedding pins nothing)
    Seq("centroid", "curve", "outlier", "maint", "sample", "semdedup")
      .foreach(k => withClue(k) { sec(k).length should be > 0 })

    // curve == ivf_nprobe_curve (same trained index ⇒ same arms)
    sec("curve").map(r => (r.getString(6), r.getLong(7), r.getLong(8),
      r.getLong(9), r.getDouble(10), r.getLong(11))).toSet shouldEqual
      run("ivf_nprobe_curve").map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toSet

    // the p2 arm's hit counts == ann_recall's ivf method (same truth)
    sec("curve").filter(_.getString(6) == "ivf_p2")
      .map(r => (r.getLong(7), r.getLong(8), r.getLong(9))).toSet shouldEqual
      run("ann_recall").filter(_.getString(0) == "ivf")
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // outlier == centroid_outliers
    sec("outlier").map(r => (r.getLong(1), r.getLong(2), r.getDouble(12),
      r.getInt(13), r.getLong(14), r.getDouble(15))).toSet shouldEqual
      run("centroid_outliers").map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3), r.getLong(4), r.getDouble(5))).toSet

    // maint == ivf_maintenance
    sec("maint").map(r => (r.getLong(1), r.getLong(16), r.getLong(17),
      r.getLong(18), r.getLong(19), r.getBoolean(20))).toSet shouldEqual
      run("ivf_maintenance").map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet

    // sample == cluster_balanced_sample
    sec("sample").map(r => (r.getLong(1), r.getLong(2), r.getLong(14),
      r.getInt(13))).toSet shouldEqual
      run("cluster_balanced_sample").map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getInt(3))).toSet

    // semdedup == semantic_dedup
    sec("semdedup").map(r => (r.getLong(2), r.getLong(1), r.getLong(21),
      r.getDouble(12))).toSet shouldEqual
      run("semantic_dedup").map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet

    // the persisted centroid table == kmeans_centroids' trained values
    // (round-2 Lloyd update IS c2; n_members differs by design — the
    // capstone reports SERVING-list sizes, the sibling round-2 counts)
    sec("centroid").map(r => (r.getLong(1), r.getInt(3), r.getLong(4)))
      .toSet shouldEqual
      run("kmeans_centroids").map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2))).toSet

    // and the serving-list sizes balance: n_members == maint's old_n
    sec("centroid").map(r => (r.getLong(1), r.getLong(5))).toSet shouldEqual
      sec("maint").map(r => (r.getLong(1), r.getLong(16))).toSet
  }

  /** The shuffle-plus-window top-`n` assignment that nearestClusters'
    * native argmax replaced, kept here as its reference: every
    * (vector, centroid) cosine, ranked per vector by cosine DESC (nulls
    * last), ties to the lowest cluster id, the first `n` kept. */
  private def windowNearest(df: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity._
    val w = Window.partitionBy("vec_id").orderBy(col("c").desc, col("cluster"))
    df.crossJoin(broadcast(cents))
      .withColumn("c", cosFx(dotFx(col("qe"), col("ce")), col("nq"), col("nc")))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") <= n)
      .drop("ce", "nc", "c", "crk")
  }

  test("nearestClusters agrees with the window form at n = 1, 2, 4 on ties, null cosines, hostile vectors and fewer centroids than n") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityQueries.nearestClusters
    // hand-built quantized frames exercising every tiebreak class the
    // derived-k assignment must reproduce from the window form:
    //  - vec 0: strictly nearest one centroid (the plain case)
    //  - vec 1: EXACT cosine tie between two centroids (same direction
    //    scaled) -> lowest cluster id must win on both paths
    //  - vec 2: zero-norm vector -> cosFx NULL for every centroid ->
    //    all-null tie -> lowest cluster id
    //  - vec 3: negative dot with every centroid (max of negatives)
    //  - vec 4: orthogonal to one centroid (cos exactly 0.0)
    val vecs = Seq(
      (0L, Seq(10L, 0L, 0L)),
      (1L, Seq(3L, 3L, 0L)),
      (2L, Seq(0L, 0L, 0L)),
      (3L, Seq(-5L, -7L, -1L)),
      (4L, Seq(0L, 0L, 9L))
    ).toDF("vec_id", "qe")
      .withColumn("nq", expr("aggregate(zip_with(qe, qe, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    val cents = Seq(
      (0L, Seq(1L, 1L, 0L)),   // same direction as vec 1
      (1L, Seq(2L, 2L, 0L)),   // SAME direction again -> exact tie with cluster 0
      (2L, Seq(4L, 0L, 1L)),
      (3L, Seq(0L, 0L, -1L))
    ).toDF("cluster", "ce")
      .withColumn("nc", expr("aggregate(zip_with(ce, ce, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    // (vec_id, cluster) pairs: a vector's top-n SET, so agreement at
    // n = 1, 2, 4 pins the whole rank order up to the 4th place
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def agree(v: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame): Unit =
      Seq(1, 2, 4).foreach { n =>
        withClue(s"n = $n: ") { rows(nearestClusters(v, c, n)) shouldEqual rows(windowNearest(v, c, n)) }
      }
    val win = rows(windowNearest(vecs, cents, 1))
    val map = rows(nearestClusters(vecs, cents, 1))
    map shouldEqual win
    // and both implement the documented tiebreaks
    map.find(_._1 == 1L).get._2 shouldEqual 0L // exact tie -> lowest id
    map.find(_._1 == 2L).get._2 shouldEqual 0L // all-null tie -> lowest id
    agree(vecs, cents)
    // top-2 of the exact tie is both tied centroids; the all-null
    // zero-norm vector takes its n lowest ids
    rows(nearestClusters(vecs, cents, 2)).filter(_._1 == 1L) shouldEqual Seq((1L, 0L), (1L, 1L))
    rows(nearestClusters(vecs, cents, 4)).filter(_._1 == 2L).map(_._2) shouldEqual Seq(0L, 1L, 2L, 3L)
    // fewer centroids than n: every centroid once per vector, no padding
    val two = cents.filter(col("cluster") >= 2L)
    agree(vecs, two)
    rows(nearestClusters(vecs, two, 4)).size shouldEqual 5 * 2
    // no centroids at all: no rows on either path
    agree(vecs, cents.limit(0))
    rows(nearestClusters(vecs, cents.limit(0), 2)) shouldBe empty
    // larger randomized agreement sweep (fixed seed): 200 vectors x 16
    // centroids of small ints, duplicate-direction centroids included
    val rnd = new scala.util.Random(7)
    val rv = Seq.tabulate(200)(i => (i.toLong,
      Seq.fill(8)(rnd.nextInt(7).toLong - 3L))).toDF("vec_id", "qe")
      .withColumn("nq", expr("aggregate(zip_with(qe, qe, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    val baseC = Seq.tabulate(8)(i => (i.toLong,
      Seq.fill(8)(rnd.nextInt(7).toLong - 3L)))
    val rc = (baseC ++ baseC.map { case (id, ce) =>
        (id + 8L, ce.map(_ * 2L)) }) // scaled duplicates -> cosine ties
      .toDF("cluster", "ce")
      .withColumn("nc", expr("aggregate(zip_with(ce, ce, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    rows(nearestClusters(rv, rc, 1)) shouldEqual rows(windowNearest(rv, rc, 1))
    agree(rv, rc)
  }
}
