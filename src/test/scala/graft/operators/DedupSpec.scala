package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import Dedup._
  import SimHashHof.simhash

  private def df(texts: (Int, String)*) = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  test("shingles: distinct word n-grams; short docs yield empty set") {
    import spark.implicits._
    val r = Seq("a b c d", "a b", "a b a b a b").toDF("text")
      .select(shingles(split(col("text"), " "), 3).as("ss"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    r(0) shouldEqual Seq("a b c", "b c d")
    r(1) shouldEqual Seq.empty
    r(2) shouldEqual Seq("a b a", "b a b") // distinct despite repetition
  }

  test("jaccard: integer-set formula") {
    import spark.implicits._
    val r = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y").select(jaccard(col("x"), col("y")).as("j"))
      .collect().head.getDouble(0)
    r shouldEqual 0.5 // 2 common / 4 union
  }

  test("minhash signature is identical for identical sets, mostly equal for near-dups") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w40", "w41") // 1 of 38 shingles differs
    val sig = minhashSigAgg(shingled(df(1 -> base, 2 -> base, 3 -> nearDup))
        .select(col("doc_id"), explode(col("ss")).as("s")))
      .orderBy("doc_id").collect()
    val s1 = (1 to MinHashK).map(sig(0).getLong)
    val s2 = (1 to MinHashK).map(sig(1).getLong)
    val s3 = (1 to MinHashK).map(sig(2).getLong)
    s1 shouldEqual s2
    s1.zip(s3).count { case (a, b) => a == b } should be >= MinHashK / 2
  }

  test("jaccardPairs (prefix-filtered) finds exactly the pairs above threshold") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 28).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ") // high overlap
    val far  = (100 to 130).map(i => s"w$i").mkString(" ")
    val docs = df(1 -> base, 2 -> near, 3 -> far, 4 -> base)
    val pairs = jaccardPairs(docs, t = 0.5).orderBy("d1", "d2").collect()
      .map(r => (r.getAs[Number]("d1").longValue, r.getAs[Number]("d2").longValue,
        r.getAs[Double]("jac")))
    // docs 1,2 share 26 of 30 distinct shingles (jac ≈ 0.87); 1≡4; 3 disjoint
    pairs.map(p => (p._1, p._2)).toSeq shouldEqual Seq((1L, 2L), (1L, 4L), (2L, 4L))
    pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 shouldEqual 1.0
  }

  test("containmentPairs finds the embedded-subset pair Jaccard structurally misses") {
    // doc 1 (12 tokens → 10 shingles) appears verbatim at the head of
    // doc 2 (53 tokens → 51 shingles): containment = 10/10 = 1.0, but
    // Jaccard = 10/51 ≈ 0.20 — invisible at any usable J threshold.
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big   = ((1 to 12).map(i => s"w$i") ++ (100 to 140).map(i => s"z$i")).mkString(" ")
    val far   = (200 to 230).map(i => s"q$i").mkString(" ")
    val docs  = df(1 -> small, 2 -> big, 3 -> far)
    val cont = containmentPairs(docs, t = 0.8).collect()
      .map(r => (r.getAs[Number]("d1").longValue, r.getAs[Number]("d2").longValue,
        r.getAs[Number]("common").longValue, r.getAs[Double]("cont")))
    cont.toSeq shouldEqual Seq((1L, 2L, 10L, 1.0))
    jaccardPairs(docs, t = 0.5).count() shouldEqual 0L
  }

  test("containmentPairs: equal-size pairs survive the smaller-side-probe orientation") {
    // Equal sizes mean EITHER side could be "the smaller"; generation
    // probes only from the lower doc_id and must still find the pair.
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val b = ((1 to 18).map(i => s"w$i") ++ Seq("y1", "y2")).mkString(" ")
    val pairs = containmentPairs(df(1 -> a, 2 -> b), t = 0.8).collect()
      .map(r => (r.getAs[Number]("d1").longValue, r.getAs[Number]("d2").longValue,
        r.getAs[Double]("cont")))
    // common shingles: w1..w16 runs → 16 of 18; cont = 16/18 ≈ 0.889
    pairs.toSeq shouldEqual Seq((1L, 2L, 16.0 / 18.0))
  }

  test("jaccardPairs keeps a pair whose Jaccard is EXACTLY t (t=0.8 ceil-misround regression)") {
    // J = 28/35 = 0.8 exactly and the first-match positional bound is
    // exactly the minimum overlap (28): the double form
    // ceil((na+nb)·0.8/1.8) = ceil(28.000000000000004) = 29 used to
    // prune this pair BEFORE verification — a silently missing
    // duplicate. The ratio-form filter compares 28/35 ≥ t instead.
    val shared = (1 to 30).map(i => s"c$i")
    val a = (Seq("x1", "x2") ++ shared).mkString(" ")           // 30 shingles, 2 unique
    val b = (shared ++ (1 to 5).map(i => s"y$i")).mkString(" ") // 33 shingles, 5 unique
    val pairs = jaccardPairs(df(1 -> a, 2 -> b), t = 0.8).collect()
    pairs.length shouldEqual 1
    pairs.head.getAs[Double]("jac") shouldEqual 0.8
    pairs.head.getAs[Number]("common").intValue shouldEqual 28
  }

  test("containmentPairs keeps a C=0.8 pair whose first shared shingle sits AT the prefix boundary") {
    // pn = 35 → the lossless prefix is 35 − ⌈0.8·35⌉ + 1 = 8, and this
    // doc's 7 rarest shingles are its unique ones, so the first shared
    // shingle sits exactly at rank 8. fl(35·fl(0.8)) = 28.000…004 used
    // to shorten the prefix to 7 (and the positional bound misrounded
    // the same way) — the pair silently vanished from the output.
    val shared = (1 to 30).map(i => s"c$i")
    val a = ((1 to 7).map(i => s"u$i") ++ shared).mkString(" ")  // 35 shingles, 7 unique
    val b = (shared ++ (1 to 12).map(i => s"w$i")).mkString(" ") // 40 shingles, 12 unique
    val pairs = containmentPairs(df(1 -> a, 2 -> b), t = 0.8).collect()
    pairs.length shouldEqual 1
    pairs.head.getAs[Double]("cont") shouldEqual 0.8
    pairs.head.getAs[Number]("common").intValue shouldEqual 28
  }

  test("jaccardPairs: materialized and declarative forms agree row-for-row") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 28).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ")
    val docs = df(1 -> base, 2 -> near, 3 -> base)
    def rows(pairs: org.apache.spark.sql.DataFrame) =
      pairs.orderBy("d1", "d2").collect().map(_.toSeq).toSeq
    rows(jaccardPairs(docs, t = 0.5)) shouldEqual
      rows(jaccardPairsSized(sized(docs), t = 0.5))
  }

  test("connectedComponents labels chains and triangles with the component min") {
    import spark.implicits._
    // chain 1-2-3, triangle 10-11-12 (with redundant edge), pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("d1", "d2")
    val cc = connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldEqual Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
  }

  test("connectedComponents converges in O(log n) rounds on a long chain") {
    import spark.implicits._
    // a 300-link chain has diameter 299: plain min-label propagation
    // needs ~300 rounds; hooking + pointer jumping doubles the covered
    // distance each round (d → 2d+2), so 16 rounds must suffice. Its
    // edges share one coalesced partition, so the local pass labels it;
    // the split variant below runs the rounds
    val n = 300
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val cc = connectedComponents(pairs, maxIters = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    cc.length shouldEqual n
    cc.map(_._2).distinct.toSeq shouldEqual Seq(1L)
  }

  test("connectedComponents on a long chain split over 4 edge partitions: the loop finishes within 16 rounds") {
    import spark.implicits._
    val edges = (1L until 300L).map(i => (i, i + 1))
    val pairs = edges.toDF("d1", "d2").repartition(4)
    val cc = withSplitEdges {
      // with no rounds to run, the local pass alone cannot label the chain
      intercept[IllegalStateException](connectedComponents(pairs, maxIters = 0))
      connectedComponents(pairs, maxIters = 16).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldEqual componentMins(edges)
  }

  test("connectedComponents labels planted families in its local pass, in at most 4 jobs") {
    import spark.implicits._
    // 60 near-dup families of 3: stars around the minimum, triangles and
    // reversed pairs, the shapes a dedup pair graph is made of
    val edges = (0L until 60L).flatMap { f =>
      val b = 10 * f + 1
      f % 3 match {
        case 0 => Seq((b, b + 1), (b + 2, b))
        case 1 => Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
        case _ => Seq((b + 1, b))
      }
    }
    val pairs = edges.toDF("d1", "d2")
    var labels: org.apache.spark.sql.DataFrame = null
    val s = graft.obs.Obs.run(spark, "cc-local") { labels = connectedComponents(pairs) }.orThrow
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldEqual
      componentMins(edges)
    withClue(s"job intervals ${s.jobs}: ") { s.jobs.size should be <= 4 }
  }

  test("simhash: identical for identical docs, different for unrelated docs") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight nine ten"
    val hs = df(1 -> a, 2 -> a, 3 -> b)
      .withColumn("hs", transform(TextAnalysis.tokens(col("text")), t => TextAnalysis.tokenHash(t)))
      .select(col("doc_id"), simhash(col("hs")).as("sh"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    hs(0) shouldEqual hs(1)
    hs(0) should not equal hs(2)
    hs.foreach(h => h should (be >= 0L and be < (1L << SimHashBits)))
  }
}
