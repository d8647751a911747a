package graft

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators._

/** Property-style tests over generated data (SURVEY §5.3): each
  * property materializes one generated batch into a single DataFrame
  * pass and asserts the invariant over every row — the Spark-friendly
  * shape of forAll (per-sample Spark jobs would be ~1000× slower). */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .collect { case Some(v) => v }.take(n).toSeq

  private val messyString: Gen[String] = for {
    words <- Gen.listOfN(12, Gen.oneOf("alpha", "beta", "x@y.io", "Founded 1998",
      "about us", "tab\there", "  ", "line\nbreak", "π", "end."))
    sep <- Gen.listOfN(12, Gen.oneOf(" ", "  ", "\t", "\n", " \t "))
  } yield words.zip(sep).map { case (w, s) => w + s }.mkString

  test("F-4 normalize is idempotent over messy whitespace") {
    import spark.implicits._
    val df = samples(messyString, 300).toDF("text")
      .select(TextAnalysis.norm(col("text")).as("n1"))
      .withColumn("n2", TextAnalysis.norm(col("n1")))
    df.filter(col("n1") =!= col("n2")).count() shouldEqual 0
  }

  test("F-2 extracted email always re-matches the email pattern") {
    import spark.implicits._
    val pat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+"
    val df = samples(messyString, 300).toDF("text")
      .select(Extraction.extractEmail(col("text")).as("e"))
    df.filter(col("e").isNotNull && !col("e").rlike("^" + pat + "$"))
      .count() shouldEqual 0
  }

  test("T-2 selectLinks emits ≤ k rows per company with non-increasing scores") {
    import spark.implicits._
    val cand: Gen[(String, String, String, String)] = for {
      company <- Gen.oneOf("c1", "c2", "c3")
      page <- Gen.choose(0, 40)
      kw <- Gen.oneOf("about", "investor", "blog", "jobs", "profile")
    } yield (company, s"https://www.$company.example.com", s"/$kw/p$page", s"$kw page $page")
    val df = samples(cand, 400).toDF("company", "website", "href", "anchor_text")
    val out = LinkSelection.selectLinks(df, k = 3)
    out.groupBy("company").count().filter(col("count") > 3).count() shouldEqual 0
    // rk order ⇒ score non-increasing within each company
    val bad = out.as("x").join(out.as("y"),
        col("x.company") === col("y.company") && col("x.rk") < col("y.rk") &&
          col("x.score") < col("y.score"))
    bad.count() shouldEqual 0
  }

  test("K-2 ordered projection always yields exactly the declared columns in order") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val declared = samples(Gen.someOf("id", "s", "extra1", "extra2").map(_.toSeq), 20)
    declared.filter(_.nonEmpty).foreach { cols =>
      Extraction.orderedProjection(base, cols).columns.toSeq shouldEqual cols
    }
  }

  test("shingles: |shingles(toks,3)| ≤ max(0, n−2) and all distinct") {
    import spark.implicits._
    val toksGen = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")))
    val df = samples(toksGen, 300).map(_.mkString(" ")).toDF("text")
      .select(split(col("text"), " ").as("toks"))
      .select(col("toks"), Dedup.shingles(col("toks"), 3).as("ss"))
      .select(functions.size(col("toks")).as("n"),
        functions.size(col("ss")).as("k"),
        functions.size(array_distinct(col("ss"))).as("kd"))
    df.filter(col("k") =!= col("kd")).count() shouldEqual 0
    df.filter(col("k") > greatest(col("n") - 2, lit(0))).count() shouldEqual 0
  }

  test("O-11 mock JSON survives a from_json round-trip for arbitrary strings") {
    import spark.implicits._
    // company names with quotes, backslashes, control chars, unicode —
    // the serialized mock document must parse (PERMISSIVE ⇒ a malformed
    // row would null out) and carry the name back verbatim
    val nasty: Gen[String] = Gen.listOfN(10, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(4)), Gen.oneOf("\"", "\\", "\n", "\t",
        "\u0000", "\u001f", "π", "{", "}", "'"))).map(_.mkString)
    val rows = samples(nasty, 200).zipWithIndex
      .map { case (c, i) => Enrichment.EnrichIn(i.toLong, c, "w", "about") }
    val out = Enrichment.flatten(
      Enrichment.enrichMap(rows.toDS(), MockEnricher).toDF())
      .select(col("company"), col("leadership"))
    out.filter(col("leadership").isNull ||
      col("leadership") =!= concat(col("company"), lit(" team")))
      .count() shouldEqual 0
  }

  // 200 random edges over 80 nodes (dense enough for multi-node
  // components, sparse enough for singleton pairs and chains), with
  // duplicate and reversed edges left in — the operator must not care
  private lazy val randomEdges: Seq[(Long, Long)] = samples(for {
    a <- Gen.choose(1L, 80L); b <- Gen.choose(1L, 80L) if a != b
  } yield (a, b), 200)

  test("connectedComponents matches union-find ground truth on random graphs") {
    import spark.implicits._
    // ground truth: classic union-find over the same edges (test-side
    // only — the operator itself stays fully distributed)
    val truth = componentMins(randomEdges)
    val cc = Dedup.connectedComponents(randomEdges.toDF("d1", "d2")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldEqual truth
  }

  test("connectedComponents matches union-find ground truth on random graphs split over 4 edge partitions") {
    import spark.implicits._
    val pairs = randomEdges.toDF("d1", "d2").repartition(4)
    val cc = withSplitEdges {
      // with no rounds to run, the local pass alone cannot label the graph
      intercept[IllegalStateException](Dedup.connectedComponents(pairs, maxIters = 0))
      Dedup.connectedComponents(pairs).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldEqual componentMins(randomEdges)
  }

  test("jaccardPairs is invariant to the input's physical layout") {
    import spark.implicits._
    // determinism at scale means results can't depend on partitioning;
    // run the same corpus through 1, 3, and 8 partitions
    val base = (1 to 25).map(i => i -> ((1 to 30).map(j => s"w${(i * j) % 40}")).mkString(" "))
    val docs = base.toDF("doc_id", "text")
    def run(parts: Int) =
      Dedup.jaccardPairs(docs.repartition(parts), t = 0.3)
        .orderBy("d1", "d2").collect().map(_.toSeq).toSeq
    val one = run(1)
    run(3) shouldEqual one
    run(8) shouldEqual one
  }

  test("quantize: fixed-point value within one ulp of x·1e7, sign preserved") {
    import spark.implicits._
    val fGen = Gen.choose(-1.0f, 1.0f)
    val df = samples(Gen.listOfN(8, fGen), 200).toDF("a")
      .select(explode(col("a")).as("x"))
      .select(col("x"), element_at(Similarity.quantize(array(col("x"))), 1).as("q"))
      .withColumn("err", col("x").cast("double") * 1e7 - col("q").cast("double"))
    df.filter(col("err") < 0 || col("err") >= 1).count() shouldEqual 0
  }

  test("jaccardPairs matches brute-force Jaccard across a threshold sweep") {
    import spark.implicits._
    // The round-9 ceil-misround class lived exactly at thresholds where
    // n·t lands on an integer (prefix one too short, exactly-t pairs
    // pruned before verification) — so the filter bounds are swept over
    // thresholds that DO hit integer products on this corpus's set
    // sizes (0.5, 0.75, 0.8) and ones that don't (0.3, 0.62, 0.9),
    // each compared against set-arithmetic brute force.
    val docGen: Gen[String] = for {
      n <- Gen.choose(3, 25)
      toks <- Gen.listOfN(n, Gen.choose(0, 24).map(i => s"w$i"))
    } yield toks.mkString(" ")
    val texts = samples(docGen, 40)
    def shingleSet(text: String): Set[String] =
      text.split(" ").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = texts.zipWithIndex.map { case (s, i) => (i + 1) -> shingleSet(s) }
    val df = texts.zipWithIndex.map { case (s, i) => (i + 1) -> s }
      .toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.62, 0.75, 0.8, 0.9)) withClue(s"t=$t: ") {
      val truth = (for {
        (i, a) <- sets; (j, b) <- sets
        if i < j && a.nonEmpty && b.nonEmpty
        common = (a & b).size
        if common.toDouble / (a.size + b.size - common) >= t
      } yield (i.toLong, j.toLong, common.toLong)).toSet
      val got = Dedup.jaccardPairs(df, t = t).collect()
        .map(r => (r.getAs[Number]("d1").longValue,
          r.getAs[Number]("d2").longValue,
          r.getAs[Number]("common").longValue)).toSet
      got shouldEqual truth
    }
  }

  test("containmentPairs matches brute force across a threshold sweep") {
    import spark.implicits._
    // same class as above for the asymmetric prefix×index bounds:
    // C = |A∩B|/min(|A|,|B|) compared at integer-product and
    // non-integer thresholds alike
    val docGen: Gen[String] = for {
      n <- Gen.choose(3, 25)
      toks <- Gen.listOfN(n, Gen.choose(0, 24).map(i => s"w$i"))
    } yield toks.mkString(" ")
    val texts = samples(docGen, 40)
    def shingleSet(text: String): Set[String] =
      text.split(" ").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = texts.zipWithIndex.map { case (s, i) => (i + 1) -> shingleSet(s) }
    val df = texts.zipWithIndex.map { case (s, i) => (i + 1) -> s }
      .toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.5, 0.6, 0.75, 0.8)) withClue(s"t=$t: ") {
      val truth = (for {
        (i, a) <- sets; (j, b) <- sets
        if i < j && a.nonEmpty && b.nonEmpty
        common = (a & b).size
        if common.toDouble / math.min(a.size, b.size) >= t
      } yield (i.toLong, j.toLong, common.toLong)).toSet
      val got = Dedup.containmentPairs(df, t = t).collect()
        .map(r => (r.getAs[Number]("d1").longValue,
          r.getAs[Number]("d2").longValue,
          r.getAs[Number]("common").longValue)).toSet
      got shouldEqual truth
    }
  }

  test("containmentPairs matches brute-force containment on random corpora") {
    import spark.implicits._
    // small token alphabet → dense overlap structure, so the asymmetric
    // prefix filter's every branch (strict-subset, equal-size tie,
    // below-threshold prune) is exercised; brute force is the oracle
    val t = 0.6
    val docGen: Gen[String] = for {
      n <- Gen.choose(3, 25)
      toks <- Gen.listOfN(n, Gen.choose(0, 24).map(i => s"w$i"))
    } yield toks.mkString(" ")
    val texts = samples(docGen, 40)
    def shingleSet(text: String): Set[String] =
      text.split(" ").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = texts.zipWithIndex.map { case (s, i) => (i + 1) -> shingleSet(s) }
    val truth = (for {
      (i, a) <- sets; (j, b) <- sets
      if i < j && a.nonEmpty && b.nonEmpty
      common = (a & b).size
      if common.toDouble / math.min(a.size, b.size) >= t
    } yield (i.toLong, j.toLong, common.toLong,
      common.toDouble / math.min(a.size, b.size))).toSet
    val got = Dedup.containmentPairs(
      texts.zipWithIndex.map { case (s, i) => (i + 1) -> s }.toDF("doc_id", "text"),
      t = t).collect()
      .map(r => (r.getAs[Number]("d1").longValue, r.getAs[Number]("d2").longValue,
        r.getAs[Number]("common").longValue, r.getAs[Double]("cont"))).toSet
    got shouldEqual truth
  }

  test("X-133/135 robots parser matches an in-memory reference on generated files") {
    import spark.implicits._
    // Reference implementation of the DOCUMENTED semantics (RFC 9309
    // group model for *, comment stripping, header runs, empty values
    // are no-rules) in plain Scala — an independent second derivation
    // the column fold must agree with on arbitrary inputs.
    def ref(txt: String): Seq[(Boolean, String)] = {
      var run = false; var star = false
      val out = scala.collection.mutable.ArrayBuffer[(Boolean, String)]()
      for (raw <- txt.replace("\t", " ").split("\r?\n", -1)) {
        val line = raw.replaceAll("#.*", "").trim
        val low = line.toLowerCase
        val value = line.replaceAll("^[^:]*:", "").trim
        val isUa = low.startsWith("user-agent:")
        val isDis = low.startsWith("disallow:")
        val isAllow = low.startsWith("allow:")
        val isNoise = line.isEmpty
        star = if (isUa && run) star || value == "*"
               else if (isUa) value == "*" else star
        if ((isDis || isAllow) && star && value.nonEmpty) out += ((isAllow, value))
        run = if (isNoise) run else isUa
      }
      out.toSeq
    }
    val lineGen: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf("User-agent: *", "User-Agent: googlebot",
        "user-agent:\t*", "USER-AGENT: bot # header comment", "User-agent:*"),
      4 -> (for {
        d <- Gen.oneOf("Disallow", "disallow", "DISALLOW", "Allow", "allow", "ALLOW")
        v <- Gen.oneOf("", "/", "/a/", "/private/", "/private/pub/", "/p q/", "/tie/")
        c <- Gen.oneOf("", " # staff only", "# tight comment")
      } yield s"$d: $v$c"),
      2 -> Gen.oneOf("", "   ", "# full comment line", "stray garbage",
        "Crawl-delay: 10", "Sitemap: https://x/s.xml"))
    val fileGen: Gen[String] = for {
      n <- Gen.choose(0, 18)
      ls <- Gen.listOfN(n, lineGen)
      sep <- Gen.oneOf("\n", "\r\n")
    } yield ls.mkString(sep)
    val files = samples(fileGen, 250)
    val got = files.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "t")
      .select(col("i"), RobotsTxt.groupRules(col("t")).as("r"))
      .collect().map { row =>
        row.getInt(0) -> row.getSeq[org.apache.spark.sql.Row](1)
          .map(r => (r.getBoolean(0), r.getString(1))).toSeq
      }.toMap
    files.zipWithIndex.foreach { case (t, i) =>
      withClue(s"file #$i:\n$t\n") { got(i) shouldEqual ref(t) }
    }
  }

  test("X-132 canonicalize is idempotent over generated messy URLs") {
    import spark.implicits._
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("http", "https", "HTTPS", "Http")
      host <- Gen.oneOf("a.com", "WWW.B.Example.COM", "x-y.z.org")
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      segs <- Gen.listOfN(2, Gen.oneOf("p", "Path", "x1"))
      slash <- Gen.oneOf("", "/")
      params <- Gen.someOf(Seq("page=1", "utm_source=s", "q=2", "fbclid=f", "utm_campaign=c"))
      frag <- Gen.oneOf("", "#top", "#s2")
    } yield {
      val q = if (params.isEmpty) "" else "?" + scala.util.Random.javaRandomToRandom(
        new java.util.Random(42)).shuffle(params.toList).mkString("&")
      s"$scheme://$host$port/${segs.mkString("/")}$slash$q$frag"
    }
    val df = samples(urlGen, 300).toDF("url")
      .select(UrlOps.canonicalize(col("url")).as("c1"))
      .withColumn("c2", UrlOps.canonicalize(col("c1")))
    df.filter(col("c1") =!= col("c2")).count() shouldEqual 0
    // and no canonical form retains what canonicalization removes
    df.filter(col("c1").contains("#") || col("c1").contains("utm_") ||
      col("c1").contains("fbclid")).count() shouldEqual 0
  }
}
