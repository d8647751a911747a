package graft.operators

import graft.SparkSpec

class SkewSpec extends SparkSpec {

  test("salted join returns exactly the rows of the plain join") {
    import spark.implicits._
    // heavily skewed fact: one hot key owns 90% of rows
    val fact = ((1 to 900).map(_ => 1L) ++ (1 to 100).map(i => (i % 7 + 2).toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val dim = (1L to 10L).map(k => (k, s"dim$k")).toDF("k", "name")

    val plain = fact.join(dim, Seq("k"))
    val salted = Skew.saltedJoin(fact, dim, "k", buckets = 4)

    salted.count() shouldEqual plain.count()
    salted.columns.toSeq shouldEqual plain.columns.toSeq
    // exact multiset equality via anti-joins both ways
    salted.exceptAll(plain).count() shouldEqual 0
    plain.exceptAll(salted).count() shouldEqual 0
  }

  test("build side is replicated once per salt bucket") {
    import spark.implicits._
    val dim = Seq((1L, "a")).toDF("k", "name")
    val fact = Seq((1L, 0L)).toDF("k", "payload")
    // with 1 fact row only one salt matches: output stays 1 row
    Skew.saltedJoin(fact, dim, "k", buckets = 16).count() shouldEqual 1
  }

  test("a pre-existing __salt column fails fast instead of silently clobbering") {
    import spark.implicits._
    val f = Seq((1L, "x")).toDF("k", "__salt")
    val d = Seq((1L, "v")).toDF("k", "dv")
    an[IllegalArgumentException] should be thrownBy
      Skew.saltedJoin(f, d, "k")
  }
}
