package graft.functions

import graft.SparkSpec
import graft.operators.{SimHashHof, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pins the r14 native text expressions ([[NGramsFx]], [[SimHashFx]],
  * [[FingerprintFx]], [[CountInFx]]) to the LITERAL higher-order-
  * function compositions they replaced: same values, same null
  * semantics, on both the codegen and interpreted paths. The
  * compositions are spelled out verbatim here (they no longer exist in
  * main source), so any semantic drift in the native forms fails
  * against the original definition, not against itself. */
class TextFxSpec extends SparkSpec {

  // scalatest Matchers shadows functions.size/filter — qualify them
  private def fSize(c: Column): Column = org.apache.spark.sql.functions.size(c)
  private def fFilter(c: Column, f: Column => Column): Column =
    org.apache.spark.sql.functions.filter(c, f)

  // ── the literal pre-r14 compositions ──────────────────────────────

  /** TextAnalysis.ngrams as it stood through r13: arrays_zip of shifted
    * slices, interpreted concat_ws lambda, outer slice truncation. */
  private def hofNgrams(toks: Column, n: Int): Column = {
    val shifted: Seq[Column] = (toks +: (1 until n).map(k =>
      slice(toks, lit(k + 1), greatest(fSize(toks) - k, lit(0)))))
      .zipWithIndex.map { case (c, k) => c.as(k.toString) }
    slice(
      transform(arrays_zip(shifted: _*),
        s => concat_ws(" ", (0 until n).map(k => s.getField(k.toString)): _*)),
      lit(1), greatest(fSize(toks) - (n - 1), lit(0)))
  }

  /** TextAnalysis.tokenHash — still in main source, embedded here so
    * the compositions below can't drift with it. */
  private def hofTokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 14), 16, 10).cast("long") % TokenHash56.HashMod

  /** simhash query shape through r13: interpreted per-token hashing
    * plus SimHashHof.simhashN's nbits aggregate passes. */
  private def hofSimhash(toks: Column, nbits: Int): Column =
    SimHashHof.simhashN(transform(toks, t => hofTokenHash(t)), nbits)

  /** TextAnalysis.fingerprint as it stood through r13. */
  private def hofFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, t => hofTokenHash(t)),
      lit(0L),
      (h, x) => (h * lit(31L) + x) % lit(TokenHash56.HashMod))

  /** TextAnalysis.occurrences as it stood through r13. */
  private def hofOccurrences(toks: Column, words: Seq[String]): Column =
    fSize(fFilter(toks, t => t.isin(words.map(lit): _*)))

  // ── fixtures ──────────────────────────────────────────────────────

  /** Hostile token arrays: nulls, empties, unicode, repeats, shorts. */
  private def frame(): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector("the", "a", "of", "und", "der", "café", "naïve",
      "", "x", "longtoken-with-dashes", "los", "et")
    val rows: Seq[(Long, Option[Seq[Option[String]]])] =
      Seq(
        1L -> Some(Seq()), // empty
        2L -> Some(Seq(Some("one"))), // shorter than any n > 1
        3L -> Some(Seq(Some("a"), Some("b"))),
        4L -> Some(Seq(Some("the"), Some("the"), Some("of"))), // repeats
        5L -> Some(Seq(Some("a"), None, Some("c"), Some("d"))), // null token
        6L -> Some(Seq(None, None, None)), // all null
        7L -> None, // null array
        8L -> Some(Seq(Some(""), Some(""), Some("x"))) // empty strings
      ) ++ (9L to 40L).map { i =>
        i -> Some(Seq.fill(3 + rnd.nextInt(30))(
          if (rnd.nextInt(12) == 0) None
          else Some(vocab(rnd.nextInt(vocab.size)))))
      }
    rows.toDF("id", "toks")
  }

  private def agreeLong(nat: Column, hof: Column): Unit = {
    val bad = frame()
      .select(col("id"), nat.as("nat"), hof.as("hof"))
      .filter(!(col("nat") <=> col("hof")))
      .collect()
    assert(bad.isEmpty, s"native != composition on ids ${bad.map(_.get(0)).toSeq}")
  }

  // ── ngrams ────────────────────────────────────────────────────────

  test("NGramsFx matches the zip composition for n = 1, 2, 3, 4, 20") {
    for (n <- Seq(1, 2, 3, 4, 20))
      agreeLong(NGramsFx.ngrams_fx(col("toks"), n), hofNgrams(col("toks"), n))
  }

  test("NGramsFx through shingles: distinct set unchanged") {
    agreeLong(array_distinct(NGramsFx.ngrams_fx(col("toks"), 3)),
      array_distinct(hofNgrams(col("toks"), 3)))
  }

  // ── simhash ───────────────────────────────────────────────────────

  test("SimHashFx matches transform+simhashN at 16 and 30 bits") {
    for (nbits <- Seq(16, 30))
      agreeLong(SimHashFx.simhash_fx(col("toks"), nbits),
        hofSimhash(col("toks"), nbits))
  }

  test("SimHashFx: null array yields 0 (the composed form's sum of zeros)") {
    import spark.implicits._
    val out = Seq(Tuple1(1L)).toDF("id")
      .select(SimHashFx.simhash_fx(lit(null).cast("array<string>"), 16).as("s"))
      .collect().head
    out.isNullAt(0) shouldBe false
    out.getLong(0) shouldEqual 0L
  }

  // ── fingerprint ───────────────────────────────────────────────────

  test("FingerprintFx matches the transform+aggregate fold") {
    agreeLong(FingerprintFx.fingerprint_fx(col("toks")), hofFingerprint(col("toks")))
  }

  test("FingerprintFx equals TokenHash56 fold on a known value") {
    import spark.implicits._
    // one token: fingerprint = tokenHash; cross-checks TokenHash56
    // against the engine's conv(substring(md5)) canonical form
    val out = Seq(Tuple1(Seq("café"))).toDF("toks")
      .select(FingerprintFx.fingerprint_fx(col("toks")).as("fp"),
        hofTokenHash(lit("café")).as("th"))
      .collect().head
    out.getLong(0) shouldEqual out.getLong(1)
  }

  // ── occurrences ───────────────────────────────────────────────────

  test("CountInFx matches size(filter(isin)) for every LangProfile") {
    for ((_, ws) <- TextAnalysis.LangProfiles)
      agreeLong(CountInFx.count_in_fx(col("toks"), ws),
        hofOccurrences(col("toks"), ws))
    // a set containing the empty string (fixture rows 8+ carry "")
    agreeLong(CountInFx.count_in_fx(col("toks"), Seq("", "x")),
      hofOccurrences(col("toks"), Seq("", "x")))
  }

  // ── tokenHash ─────────────────────────────────────────────────────

  test("TokenHashFx matches conv(substring(md5)) per exploded token") {
    val bad = frame()
      .select(col("id"), explode_outer(col("toks")).as("t"))
      .select(col("id"),
        TokenHashFx.token_hash_fx(col("t")).as("nat"),
        hofTokenHash(col("t")).as("hof"))
      .filter(!(col("nat") <=> col("hof")))
      .collect()
    assert(bad.isEmpty, s"token_hash_fx != composition on ids ${bad.map(_.get(0)).toSeq}")
  }

  // ── interpreted path ──────────────────────────────────────────────

  test("all four survive interpreted (non-codegen) eval identically") {
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      agreeLong(NGramsFx.ngrams_fx(col("toks"), 3), hofNgrams(col("toks"), 3))
      agreeLong(SimHashFx.simhash_fx(col("toks"), 30), hofSimhash(col("toks"), 30))
      agreeLong(FingerprintFx.fingerprint_fx(col("toks")), hofFingerprint(col("toks")))
      agreeLong(CountInFx.count_in_fx(col("toks"), Seq("the", "a", "of", "and", "to")),
        hofOccurrences(col("toks"), Seq("the", "a", "of", "and", "to")))
      val bad = frame()
        .select(col("id"), explode_outer(col("toks")).as("t"))
        .select(col("id"),
          TokenHashFx.token_hash_fx(col("t")).as("nat"),
          hofTokenHash(col("t")).as("hof"))
        .filter(!(col("nat") <=> col("hof")))
        .collect()
      assert(bad.isEmpty, s"interpreted token_hash_fx != composition: ${bad.map(_.get(0)).toSeq}")
    }
  }
}
