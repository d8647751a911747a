package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

/** Adversarial-corpus fixture generator (round-11 verdict item #1).
  *
  * The driver testdata (seed-42, TESTDATA.md) is benign: a 31-token
  * vocabulary, no empty/NULL/unicode text, no exact value ties at rank
  * boundaries, no > 1 MB documents. Whole wrong-result classes are
  * unreachable on it — the r9 sweep found the cents-digest and
  * threshold-misround bugs only by stepping OFF the planted corpus.
  * This main generates `sf-adv`: the same ten tables, same physical
  * schemas (verified against the parquet footers the driver wrote),
  * but with the corpus the verdict asked for —
  *
  *  - documents: ~10⁵-token Zipf vocabulary (rare-token df 2..8 paths
  *    genuinely populated), empty / whitespace-only / single-token /
  *    NULL text, combining + 4-byte unicode (emoji, CJK ext-B, RTL,
  *    ZWJ, NBSP, zero-width, fullwidth), case-folding traps (ß/İ),
  *    regex metacharacter tokens, two megadocs > 1 MB (wildly
  *    different lengths so the edit-distance length filter prunes any
  *    band-collision pair before the O(len²) DP), dup families (exact
  *    / near / case / whitespace variants), lev-1 source variants and
  *    an empty-string source, sparse 10⁹-range doc_ids next to a dense
  *    block, real lang-ID stopwords (incl the es/fr-shared "la" tie).
  *  - embeddings: dim-64 grid-quantized components (exact ties), zero
  *    vectors (cosine 0/0), exact duplicates, scaled copies (same
  *    direction), ±10⁶ and ±10⁻⁶ magnitudes, one-hot extremes, an
  *    absent label and a singleton label.
  *  - events: burst timestamps with exact ties at hour boundaries,
  *    NULL/0.0/1e9 values, NULL / "{}" / malformed / wrong-typed /
  *    int32-overflow JSON props, 2⁴⁰-range user ids, heavy user skew.
  *  - star schema: non-representable .005 cent boundaries next to
  *    exact .125 ones, tie-heavy prices/dates, zero quantities,
  *    ship<order dates, FK orphans, lev-1 entity names, unicode
  *    grouping keys, duplicate-only-by-case names.
  *
  * Everything stays INSIDE the reference's data contracts (categorical
  * vocab from the driver tables, unique keys, n_chars = code-point
  * length of text, fixed embedding dim, sources a ≤26-value catalog):
  * the goal is Spark≡DuckDB agreement on hostile-but-legal corpora,
  * not schema violations.
  *
  * Determinism: one SplittableRandom(42) per table (algorithm is
  * specified by the JDK, stable across runs/platforms); no wall clock.
  * Output layout mirrors the driver exactly: ONE parquet file per
  * table at <out>/<name>.parquet, timestamps TIMESTAMP_NTZ(micros).
  *
  * Usage: runMain graft.AdvGen [outDir]   (default target/testdata/sf-adv)
  */
object AdvGen {

  // ── documents ──────────────────────────────────────────────────
  private val VocabSize = 100000
  private val UnicodeToks = Vector(
    "🚀", "中文", "é", "é" /* decomposed é */, "ß", "ẞ", "İ", "ı",
    "👨‍👩‍👧‍👦" /* ZWJ family */, "🇺🇸", "𠀀" /* CJK ext B */,
    "עִבְרִית", "اَلْعَرَبِيَّة", "ｆｕｌｌｗｉｄｔｈ", "a.b", "x(y", "q[z", "p+q", "m*n",
    "|pipe", "^caret", "$dollar", "it's", "say\"hi", "back\\slash")
  private val Langs = Vector("en", "de", "es", "fr", "zh")
  private val LangStops = Map(
    "en" -> Vector("the", "a", "of", "and", "to"),
    "es" -> Vector("el", "la", "de", "los", "que"),
    "de" -> Vector("der", "die", "und", "das", "ein"),
    "fr" -> Vector("le", "la", "les", "et", "des"),
    "zh" -> Vector("的", "是", "了", "在", "我"))

  private def zipfTok(r: SplittableRandom): String = {
    val id = math.pow(VocabSize.toDouble, r.nextDouble()).toLong
    if (id % 251 == 0) UnicodeToks(((id / 251) % UnicodeToks.size).toInt)
    else "w" + id
  }

  /** Regular doc body: Zipf tokens + 15% lang-conditioned stopwords. */
  private def docBody(r: SplittableRandom, lang: String, nTok: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nTok) {
      if (i > 0) sb.append(' ')
      if (r.nextInt(100) < 15) {
        val st = LangStops(lang); sb.append(st(r.nextInt(st.size)))
      } else sb.append(zipfTok(r))
      i += 1
    }
    sb.toString
  }

  private def codePoints(s: String): Long =
    s.codePointCount(0, s.length).toLong

  private def buildDocuments(): Seq[(Long, Option[String], String, String, Option[Long])] = {
    val r = new SplittableRandom(42)
    val rows = Vector.newBuilder[(Long, Option[String], String, String)]
    // 26-value source catalog: the driver's 20 + lev-1 variants + "".
    def source(): String = {
      val roll = r.nextInt(100)
      if (roll < 30) "src0"
      else if (roll < 32) "srcA"
      else if (roll < 34) "srcB"            // lev-1 from srcA
      else if (roll < 36) "srç9"            // lev-1 unicode twin of src9
      else if (roll < 38) "src1x"           // lev-1 from src1
      else if (roll < 39) ""                // empty-string source
      else "src" + (1 + r.nextInt(19))
    }
    def lang(): String = {
      val roll = r.nextInt(100)
      if (roll < 40) "en" else Langs(1 + r.nextInt(4))
    }
    // block 1: 1000 regular docs over the 10⁵ vocabulary
    (0 until 1000).foreach { k =>
      val lg = lang()
      rows += ((k.toLong, Some(docBody(r, lg, 20 + r.nextInt(160))), lg, source()))
    }
    // block 2: 40 dup families × 5 variants (exact / near / case / ws)
    (0 until 40).foreach { f =>
      val lg = lang()
      val base = docBody(r, lg, 30 + r.nextInt(60))
      val src = source()
      val variants = Seq(
        base,
        base,                                    // exact duplicate
        base + " xtra" + f,                      // near-dup (one token)
        base.toUpperCase,                        // case variant
        base.replace(" ", "  ").replaceFirst("  ", " \n\t ")) // ws variant
      variants.zipWithIndex.foreach { case (t, v) =>
        rows += ((1000L + f * 5 + v, Some(t), lg, src))
      }
    }
    // block 3: specials (empty / unicode / extraction bait / NULLs)
    val specials: Seq[Option[String]] = Seq(
      Some(""), Some(" "), Some("\n\t  \n"),
      Some("w7"), Some("🚀"), Some("́̀"),
      Some("a" * 10000),                         // one 10k-char token
      Some(Array.fill(1000)("w3").mkString(" ")), // 1000× same token
      Some("!!! ??? ..., ;:"), Some("123 456 789 123 456"),
      Some("a b c"),                   // NBSP separators
      Some("é é é é́"),               // composed vs decomposed
      Some("اَلْعَرَبِيَّةُ עִבְרִית نص"), Some("中文 分词 中文 的 是"),
      Some("👨‍👩‍👧‍👦 🇺🇸 🚀 𠀀 𠀁"),
      Some("it's say\"hi back\\slash 'quoted'"),
      Some("a.b x(y q[z p+q m*n |pipe ^caret $dollar"),
      Some("Founded in 1999, Acme was great. Contact us at info@acme.example. Learn more about us here."),
      Some("<a href=\"https://x.example.com/about\">About Us</a> visit http://y.example.org/p?q=1#frag"),
      Some("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      Some("a\tb\tc"), Some("ß ẞ İ ı"), Some("ｆｕｌｌｗｉｄｔｈ ｔｏｋｅｎｓ"),
      Some("𠀀 𠀁 𠀂"), Some("​zero​width​"),
      Some("  leading and trailing  "),
      None, None, None, None)                    // NULL text
    specials.zipWithIndex.foreach { case (t, i) =>
      rows += ((1200L + i, t, lang(), source()))
    }
    // block 4: megadocs (> 1 MB). Wildly different lengths on purpose:
    // any minhash band collision involving one is killed by the
    // edit-distance length filter before the O(len²) DP runs.
    val mega1 = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < 1100000) { if (i > 0) sb.append(' '); sb.append("m").append(i); i += 1 }
      sb.toString                                // ~150k singleton tokens
    }
    val mega2 = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < 2300000) { if (i > 0) sb.append(' '); sb.append("w").append((i * 7 + 3) % 31); i += 1 }
      sb.toString                                // hot 31-token vocabulary
    }
    rows += ((1300L, Some(mega1), "en", "src1"))
    rows += ((1301L, Some(mega2), "en", "src2"))
    // sparse big-id block: same content classes, ids ~10⁹
    (0 until 60).foreach { k =>
      val lg = lang()
      rows += ((1000000007L + k * 9973L, Some(docBody(r, lg, 10 + r.nextInt(80))), lg, source()))
    }
    rows.result().map { case (id, t, lg, src) =>
      (id, t, lg, src, t.map(codePoints))
    }
  }

  // ── embeddings ─────────────────────────────────────────────────
  private val Dim = 64
  private def buildEmbeddings(): Seq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(4242)
    def grid(): Array[Float] =
      Array.fill(Dim)(((r.nextInt(33) - 16).toFloat) / 16.0f)
    val base = (0 until 300).map { k =>
      // labels 0..9 skewed, label 7 ABSENT, label 9 a singleton
      val lbl = {
        val roll = r.nextInt(100)
        val l = if (roll < 40) 0 else if (roll < 55) 1 else (2 + r.nextInt(7))
        if (l == 7) 8 else l
      }
      (k * 3L, grid(), if (k == 137) 9 else lbl)
    }
    val dups = (0 until 10).map(i => (900L + i * 3, base(i * 7)._2.clone, base(i * 7)._3))
    val zeros = (0 until 10).map(i => (950L + i * 3, Array.fill(Dim)(0.0f), i % 3))
    val scaled = (0 until 10).map { i =>
      (1000L + i * 3, base(i * 11)._2.map(_ * 2.0f), base(i * 11)._3)
    }
    // extreme-but-legal magnitude: ±15.5 sits just inside the enforced
    // fixed-point envelope (Similarity.MaxAbs = 16); components past it
    // are a contract violation quantize_fx rejects at the scan
    // (QuantizeFxSpec pins that failure on a planted ±10⁶ vector)
    val huge = (0 until 10).map { i =>
      (1050L + i * 3, Array.tabulate(Dim)(j => if ((i + j) % 2 == 0) 15.5f else -15.5f), 4)
    }
    val tiny = (0 until 10).map { i =>
      (1100L + i * 3, Array.tabulate(Dim)(j => if ((i + j) % 3 == 0) 1e-6f else 0.0f), 5)
    }
    val oneHot = (0 until 20).map { i =>
      (1150L + i * 3, Array.tabulate(Dim)(j => if (j == i % Dim) 1.0f else 0.0f), i % 2)
    }
    val nearDup = (0 until 20).map { i =>
      val v = base(i * 5)._2.clone; v(i % Dim) += 1.0f / 16.0f
      (1250L + i * 3, v, base(i * 5)._3)
    }
    // sparse big ids
    val bigIds = (0 until 10).map(i => (4000000019L + i * 7919L, grid(), r.nextInt(7)))
    base ++ dups ++ zeros ++ scaled ++ huge ++ tiny ++ oneHot ++ nearDup ++ bigIds
  }

  // ── events ─────────────────────────────────────────────────────
  private val EventTypes = Vector("click", "signup", "error", "view", "purchase")
  private val T0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L // epoch µs

  private def buildEvents(): Seq[(Long, Long, Long, String, Option[Double], Option[String])] = {
    val r = new SplittableRandom(424242)
    val H = 3600L * 1000000L
    (0 until 8000).map { i =>
      val eventId = i * 7L + i % 3
      val ts =
        if (i < 5600) {
          // 200 bursts × 28 events; each burst spans 3 EXACT tie groups
          val burst = i / 28
          T0 + burst * (H / 2) + (i % 3) * 1000000L
        } else if (i < 5700) T0 + ((i - 5600) % 48) * H // exact hour boundaries
        else if (i < 5720) T0                            // 20 at the origin instant
        else T0 + r.nextLong(30L * 24 * H)               // spread over 30 days
      val userId =
        if (r.nextInt(100) < 20) 1L
        else if (r.nextInt(100) < 5) (1L << 40) + i % 5
        else 3L + r.nextInt(498)
      val value: Option[Double] = {
        val roll = r.nextInt(100)
        if (roll < 5) None
        else if (roll < 15) Some(0.0)
        else if (roll < 16) Some(1.0e9 + 0.25)
        else Some(r.nextInt(2000) / 4.0) // grid ⇒ heavy exact ties
      }
      val props: Option[String] = {
        val roll = r.nextInt(100)
        if (roll < 5) None
        else if (roll < 8) Some("{}")
        else if (roll < 10) Some("{k:")                 // malformed
        else if (roll < 12) Some("{\"k\": \"abc\"}")     // wrong type
        else if (roll < 14) Some("{\"k\": 3000000000}")  // int32 overflow
        else if (roll < 16) Some("[1, 2]")               // non-object JSON
        else if (roll < 17) Some("{\"k\": 1.7}")         // non-integer number
        else if (roll < 18) Some("{\"k\": -5}")
        // quoted numeric STRING (r12 advice): json_extract_string strips
        // the quotes, so only the json_type guard keeps DuckDB from
        // casting it to 12 where Spark's from_json nulls a string token
        else if (roll < 19) Some("{\"k\": \"12\"}")
        else Some("{\"k\": " + r.nextInt(100) + "}")
      }
      (eventId, ts, userId, EventTypes(r.nextInt(5)), value, props)
    }
  }

  // ── star schema ────────────────────────────────────────────────
  /** Price grid hitting both representable (.0 .25 .125) and
    * non-representable (.005 .995) cent boundaries, with heavy ties. */
  private def price(r: SplittableRandom): Double = r.nextInt(6) match {
    case 0 => r.nextInt(50) * 100.0 + 0.005   // non-representable boundary
    case 1 => r.nextInt(50) * 100.0 + 0.995
    case 2 => r.nextInt(20) * 1000.125        // exact binary fraction
    case 3 => 0.01
    case 4 => 12345.67                        // one huge tie group
    case _ => (r.nextInt(5000) + 1) / 2.0     // coarse grid ⇒ ties
  }

  private def buildCustomer(): Seq[(Long, String, Int, Double, String)] = {
    val r = new SplittableRandom(7)
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    (0 until 1200).map { k =>
      val key = if (k < 1000) k * 13L + 5 else (1L << 33) + 101L * (k - 1000)
      val name = k % 50 match {
        case 0 => "Acme Corp " + k            // lev-1 neighbor of the next
        case 1 => "Acme Corb " + (k - 1)
        case 2 => "Ünïcode Kunde " + k
        case 3 => "customer#" + k             // case-variant of the default
        case _ => f"Customer#$k%09d"
      }
      val bal = k % 7 match {
        case 0 => 100.005
        case 1 => 250.125
        case 2 => 0.0
        case 3 => -999.99
        case 4 => 9999999999.99
        case _ => (r.nextInt(4000) - 1000) / 4.0
      }
      val nk = if (r.nextInt(100) < 30) 0 else r.nextInt(25)
      (key, name, nk, bal, segs(r.nextInt(5)))
    }
  }

  private def buildSupplier(): Seq[(Long, String, Int, Double)] = {
    val r = new SplittableRandom(11)
    (0 until 80).map { k =>
      val name = k % 20 match {
        case 0 => "Süpplier GmbH " + k
        case 1 => "Supplier#twin"             // exact duplicate names
        case 2 => "Supplier#twin"
        case _ => f"Supplier#$k%09d"
      }
      (k * 9L + 2, name, r.nextInt(25), if (k % 3 == 0) 500.25 else (r.nextInt(2000) - 500) / 4.0)
    }
  }

  private def buildPart(): Seq[(Long, String, String, String, Int, Double)] = {
    val r = new SplittableRandom(13)
    val adjs = Vector("small", "red", "blue", "grün", "large", "dim", "shiny", "old")
    val nouns = Vector("ring", "widget", "bolt", "gear", "Ünit", "cog", "pin", "cap")
    val types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    (0 until 1500).map { k =>
      val brand = "Brand#" + (if (r.nextInt(100) < 30) 1 else 1 + r.nextInt(25))
      (k * 11L + 3, adjs(r.nextInt(8)) + " " + nouns(r.nextInt(8)), brand,
        types(r.nextInt(6)), if (k % 10 == 0) 0 else r.nextInt(51), price(r))
    }
  }

  private val DayUs = 86400L * 1000000L
  private val D0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * DayUs

  private def buildOrders(custKeys: IndexedSeq[Long]): Seq[(Long, Long, String, Double, Long, String)] = {
    val r = new SplittableRandom(17)
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val stats = Vector("F", "O", "P")
    (0 until 10000).map { i =>
      val okey = if (i < 9000) i * 4L + 1 else (1L << 34) + 37L * (i - 9000)
      val ckey =
        if (r.nextInt(100) < 8) custKeys(0)                     // hot customer
        else if (r.nextInt(100) < 5) 999999999999L + r.nextInt(10) // FK orphans
        else custKeys(r.nextInt(custKeys.size))
      val date =
        if (i == 0) 0L                                          // 1970-01-01
        else if (i == 1) java.time.LocalDate.of(2199, 12, 31).toEpochDay * DayUs
        else D0 + r.nextInt(400).toLong * DayUs                 // 400 distinct days ⇒ ties
      (okey, ckey, stats(r.nextInt(3)), price(r), date, prios(r.nextInt(5)))
    }
  }

  private def buildLineitem(orderKeys: IndexedSeq[(Long, Long)], partKeys: IndexedSeq[Long],
                            suppKeys: IndexedSeq[Long]): Seq[(Long, Long, Long, Int, Double, Double, Double, Double, String, String, Long)] = {
    val r = new SplittableRandom(19)
    val rfs = Vector("A", "N", "R")
    val lss = Vector("F", "O")
    orderKeys.flatMap { case (okey, odate) =>
      (1 to 1 + r.nextInt(6)).map { ln =>
        val pkey =
          if (r.nextInt(100) < 5) partKeys(0)                    // hot part
          else partKeys(r.nextInt(partKeys.size))
        val qty = if (r.nextInt(50) == 0) 0.0 else (1 + r.nextInt(50)).toDouble
        val ship = r.nextInt(20) match {
          case 0 => odate                                        // same-day
          case 1 => odate - 5 * DayUs                            // ship < order
          case _ => odate + r.nextInt(121).toLong * DayUs
        }
        (okey, pkey, suppKeys(r.nextInt(suppKeys.size)), ln, qty, price(r),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          rfs(r.nextInt(3)), lss(r.nextInt(2)), ship)
      }
    }
  }

  // ── writer ─────────────────────────────────────────────────────
  /** Driver layout: ONE parquet FILE at <out>/<name>.parquet. */
  private def writeOne(df: DataFrame, out: String, name: String): Unit = {
    val tmp = s"$out/_tmp_$name"
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$out/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.listFiles().foreach(_.delete())
    dir.delete()
    ()
  }

  def generate(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    new java.io.File(out).mkdirs()
    val ntz = (c: String) => timestamp_micros(col(c)).cast("timestamp_ntz")

    writeOne((0 until 5).map(i => (i, Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i)))
      .toDF("r_regionkey", "r_name"), out, "region")
    // nation names: two differing only by case, one unicode, one with
    // a quote — grouping/ordering keys the planted corpus never had
    writeOne((0 until 25).map { n =>
      val name = n match {
        case 21 => "nation_1"
        case 22 => "NÅTION_22"
        case 23 => "NATION'23"
        case _  => "NATION_" + n
      }
      (n, name, n % 5)
    }.toDF("n_nationkey", "n_name", "n_regionkey"), out, "nation")

    val cust = buildCustomer()
    writeOne(cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      out, "customer")
    val supp = buildSupplier()
    writeOne(supp.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), out, "supplier")
    val part = buildPart()
    writeOne(part.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      out, "part")

    val orders = buildOrders(cust.map(_._1).toIndexedSeq)
    writeOne(orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "ts_us", "o_orderpriority")
      .withColumn("o_orderdate", ntz("ts_us"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      out, "orders")

    val li = buildLineitem(orders.map(o => (o._1, o._5)).toIndexedSeq,
      part.map(_._1).toIndexedSeq, supp.map(_._1).toIndexedSeq)
    writeOne(li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ts_us")
      .withColumn("l_shipdate", ntz("ts_us")).drop("ts_us"),
      out, "lineitem")

    writeOne(buildEvents().toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", ntz("ts_us")).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      out, "events")

    writeOne(buildDocuments().toDF("doc_id", "text", "lang", "source", "n_chars"),
      out, "documents")
    // cast: Array[Float] encodes as element-not-null; the driver footer
    // says nullable element — match it bit-for-bit
    writeOne(buildEmbeddings().toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>")),
      out, "embeddings")

    // the generator REWRITES parquet under `out` — drop any relations a
    // prior read memoized for this dir (Tables staleness contract)
    Tables.invalidate(out)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/testdata/sf-adv")
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, out)
    println(s"sf-adv written to $out")
    spark.stop()
  }
}
