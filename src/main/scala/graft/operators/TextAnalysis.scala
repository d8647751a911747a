package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline:
  * tokenization, language-ID, quality scoring, and document
  * fingerprinting over `documents.text` (extension scope on top of the
  * reference's extraction surface, /root/reference/app.py:205-217; see
  * SURVEY §7.3 M3).
  *
  * Everything here is pure column expressions (whole-stage codegen'd, no
  * UDFs): at 100 TB these run as a narrow map over the scan with the
  * text column pruned to exactly what's read. Cross-engine determinism:
  * token hashes derive from md5 hex (identical in Spark and DuckDB) and
  * all arithmetic is integer or single-expression double.
  */
object TextAnalysis {

  /** Modulus for all token/rolling hashes (fits 31·P + P well inside a
    * long, so the fold below never overflows). */
  val HashMod = 1000000007L

  /** Whitespace-normalized text (F-4) — tokenization assumes single
    * spaces. */
  def norm(text: Column): Column = trim(regexp_replace(text, "\\s+", " "))

  /** Whitespace tokens of already-normalized text. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword segmentation count: letter runs, digit runs, and
    * single punctuation marks each count as one token (the common
    * pre-tokenizer regex shape). UNICODE letter/digit classes — the
    * ASCII-only form counted every accented letter as standalone
    * punctuation ('café' → 2 tokens, 'über' → 3), systematically
    * inflating counts for exactly the es/de/fr corpora LangProfiles
    * targets. \p{L}/\p{N} mean the same thing in Java regex and the
    * oracle's RE2. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Word n-grams of a token array, in order, multiset (frequency
    * analysis needs repeats — [[Dedup.shingles]] wraps this with
    * array_distinct for set semantics). Native fused loop
    * ([[graft.functions.NGramsFx]], r14): the previous `arrays_zip` of
    * shifted slices evaluated its concat lambda interpreted per GRAM —
    * the shingle explode under the whole dedup family paid it per
    * corpus token. Bit-identical to that composition, pinned in
    * TextFxSpec against the literal zip form (null-token skipping,
    * short-array truncation, null input). */
  def ngrams(toks: Column, n: Int): Column =
    graft.functions.NGramsFx.ngrams_fx(toks, n)

  /** One greedy BPE merge application: every occurrence of the
    * adjacent token pair (a, b) becomes the single token `a_b`.
    * Callers must select pairs with a ≠ b (the bpe_merges query's
    * candidate filter): with distinct halves, occurrences can never
    * overlap, so "rewrite ALL marked positions" IS the left-to-right
    * greedy semantics and the merge is one vectorized pass — mark,
    * keep-filter, rewrite — with no sequential state, hence exactly
    * reproducible in the oracle. Built from shifted slices like
    * [[ngrams]]; marks ride a struct zip so each lambda touches only
    * its own variable. */
  def bpeMergeOnce(toks: Column, a: Column, b: Column): Column = {
    val nextTok = concat(
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      array(lit(null).cast("string")))
    // m(i): the pair starts at position i
    val m = zip_with(toks, nextTok, (x, y) =>
      x === a && coalesce(y === b, lit(false)))
    // mPrev(i) = m(i-1): position i was consumed by the previous merge
    val mPrev = concat(array(lit(false)),
      slice(m, lit(1), greatest(size(m) - 1, lit(0))))
    // empty-array guard: arrays_zip pads the empty toks against the
    // 1-element nextTok ([null]), so the unguarded form returned a
    // 1-element [null] array for empty input — a null token that
    // poisons every downstream hash and breaks the "a merge never
    // grows the array" invariant
    when(size(toks) === 0, toks).otherwise(
      transform(
        filter(arrays_zip(toks.as("t"), m.as("m"), mPrev.as("p")),
          e => !e.getField("p")),
        e => when(e.getField("m"), concat(a, lit("_"), b))
          .otherwise(e.getField("t"))))
  }

  /** Deterministic hash-based sampling bucket in [0, 100): stable under
    * reruns and cluster layout, unlike rand() — the only sane way to
    * sample a 100 TB corpus reproducibly. Salt separates independent
    * sampling decisions on the same keys.
    *
    * Known bias, deliberately kept: the draw is 16-bit (4 hex chars)
    * and 65536 % 100 ≠ 0, so buckets 0–35 are overweighted by 1/655
    * (~0.15% relative). The 16-bit md5 draw is a corpus-wide
    * convention mirrored verbatim in every oracle statement and every
    * plain-Scala spec reference (splits, shards, HRW scores, delays);
    * widening it to 14 hex chars (the [[tokenHash]] form, bias ~1e-15)
    * is a three-layer lockstep change best made corpus-wide or not at
    * all. Both engines and all specs agree bit-exactly on the current
    * draw, so the bias skews no cross-engine check — it only makes a
    * nominally-uniform demo draw 0.15% lumpy. */
  def sampleBucket(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 4), 16, 10)
      .cast("long") % 100

  /** Deterministic 56-bit token hash from the md5 hex prefix, reduced
    * mod [[HashMod]]. md5 is bit-identical across engines, which is what
    * makes fingerprints and MinHash oracle-checkable. Native single
    * call ([[graft.functions.TokenHashFx]], r14): same value and null
    * semantics as the conv(substring(md5)) chain (pinned in TextFxSpec)
    * without its per-call hex-string materializations. */
  def tokenHash(t: Column): Column =
    graft.functions.TokenHashFx.token_hash_fx(t)

  /** Rolling polynomial fingerprint of the token sequence:
    * h = fold(tokens, 0, (h, t) => (31·h + hash(t)) mod P). Order-
    * sensitive by design (a permuted document fingerprints differently),
    * computed as a sequential fold over the token array — per-row, so
    * still embarrassingly parallel across rows. */
  def fingerprint(toks: Column): Column =
    graft.functions.FingerprintFx.fingerprint_fx(toks)

  /** Occurrences of any of `words` in the token array (multiset count,
    * not set intersection — 'the the' counts twice). Native single
    * pass ([[graft.functions.CountInFx]], r14): the previous
    * `size(filter(toks, isin))` ran its membership lambda interpreted
    * per token and materialized the survivors array just to count it —
    * langGuess runs four of these per document. Bit-identical to that
    * composition, pinned in the native-expression spec. */
  def occurrences(toks: Column, words: Seq[String]): Column =
    graft.functions.CountInFx.count_in_fx(toks, words)

  /** Tiny stopword profiles per language for the n-gram/stopword
    * language-ID heuristic. Real systems use character n-gram models;
    * the operator shape (score per language → argmax) is the same. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des"))

  /** Language guess: argmax of stopword-profile hits with a fixed
    * priority order for ties; no hits at all → "und" (undetermined). */
  def langGuess(toks: Column): Column = {
    val hits = LangProfiles.map { case (l, ws) => l -> occurrences(toks, ws) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und")) { case ((l, h), els) =>
      when(h > 0 && h === best, lit(l)).otherwise(els)
    }
  }

  /** Heuristic quality score in [0,1]: rewards reasonable length,
    * lexical diversity (type-token ratio), and a natural stopword rate.
    * Single deterministic double expression, mirrored in the oracle. */
  def qualityScore(nTok: Column, nDistinct: Column, stopHits: Column): Column = {
    val lenTerm  = least(nTok.cast("double") / lit(100.0), lit(1.0))
    val ttr      = nDistinct.cast("double") / nTok.cast("double")
    val stopRate = stopHits.cast("double") / nTok.cast("double")
    // nTok = 0 would DIVIDE_BY_ZERO under the session's ANSI default;
    // current callers always pass ≥ 1 (split("") is [""]), but the
    // natural composition with bpeTokenCount (0 for empty text) must
    // degrade to score 0, not kill the job
    when(nTok === 0, lit(0.0)).otherwise(
      lit(0.4) * lenTerm + lit(0.3) * ttr +
        lit(0.3) * (lit(1.0) - abs(stopRate - lit(0.4))))
  }

  /** Grade bands over the quality score. */
  def grade(score: Column): Column =
    when(score >= 0.6, "good").when(score >= 0.35, "fair").otherwise("poor")
}
