package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous-ingest dedup pipeline (X-160): new batch → minhash-banded
  * probe of the STANDING index (X-87) → standing-cluster label
  * assignment (X-157's best-match rule) → updated shard-manifest lines
  * (X-108's digests). The stages are factored here so the registered
  * batch query (`ingest_pipeline`) and the foreachBatch streaming
  * mirror (IngestPipelineSpec) run the SAME code — the micro-batch ≡
  * batch-replay equivalence is a property of these operators, not of
  * two parallel implementations.
  *
  * Scale shape: per batch, only the PROBE side is new work — the
  * standing index artifacts (shingles, band stacks, CC labels) are
  * built once and persisted (at deployment: bucketed tables on
  * band_key / doc_id, zero corpus shuffle per batch); the band join's
  * probe side scales with the batch; every manifest column is
  * MERGEABLE (counts/sums add, XOR xors, the mod-2^56 checksum adds
  * mod, min/max fold), so incremental manifest maintenance is a
  * partial-aggregate merge, never a corpus re-scan.
  *
  * Reference anchor: the reference app re-runs its whole extraction on
  * every upload (`app.py` run loop); this is the engine-side posture
  * that replaces that with standing-index increments.
  */
object Ingest {
  import Dedup._

  /** The X-87/X-157 batch convention: doc_id % 10 == 0 plays the
    * incoming batch, the rest the standing corpus index. */
  def isNew(c: Column): Column = c % 10 === 0

  /** (doc_id, band_id, band_key) stacked 4×4 minhash banding of a
    * shingled frame — the minhash_lsh/minhash_incremental recipe. */
  def bandStack(sh: DataFrame): DataFrame =
    stackedBands(minhashSigAgg(sh.select(col("doc_id"), explode(col("ss")).as("s"))))

  /** Probe a batch's shingled frame against the standing index and
    * assign standing-cluster labels: banded candidates via the
    * asymmetric batch×index equi-join, exact-Jaccard ≥ t verification
    * on candidates only, then [[bestMatch]]. One row per batch doc:
    * (doc_id, cluster, matched). */
  def probeAssign(batchSh: DataFrame, idxSh: DataFrame, idxStack: DataFrame,
      idxLabels: DataFrame, t: Double = 0.5): DataFrame = {
    val bStack = bandStack(batchSh)
    val cand = bStack.as("x").join(idxStack.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("d_new"), col("y.doc_id").as("d_idx"))
      .distinct()
    val probes = cand
      .join(batchSh.select(col("doc_id"), col("ss")).as("a"),
        col("d_new") === col("a.doc_id"))
      .join(idxSh.select(col("doc_id"), col("ss")).as("b"),
        col("d_idx") === col("b.doc_id"))
      .withColumn("jac", jaccard(col("a.ss"), col("b.ss")))
      .filter(col("jac") >= t)
      .select("d_new", "d_idx", "jac")
    bestMatch(batchSh, probes, idxLabels).select("doc_id", "cluster", "matched")
  }

  /** The new×index orientation of a (d1, d2, jac) pair frame that
    * spans both sides of the [[isNew]] split: its straddling pairs as
    * (d_new, d_idx, jac) probe rows. */
  def probeRows(pairs: DataFrame): DataFrame =
    pairs.filter(isNew(col("d1")) =!= isNew(col("d2")))
      .select(
        when(isNew(col("d1")), col("d1")).otherwise(col("d2")).as("d_new"),
        when(isNew(col("d1")), col("d2")).otherwise(col("d1")).as("d_idx"),
        col("jac"))

  /** X-157's best-match rule: each new document (`newDocs`' doc_id)
    * takes the standing label (`idxLabels`' (node, label); an
    * unlabeled index doc is its own label) of its best (d_new, d_idx,
    * jac) probe, ranked by jac desc, then label, then index doc —
    * fully deterministic. A document without probes seeds its own
    * cluster. One row per new doc: (doc_id, cluster, matched, jac). */
  def bestMatch(newDocs: DataFrame, probes: DataFrame,
      idxLabels: DataFrame): DataFrame = {
    val withLabel = probes.join(
        idxLabels.select(col("node").as("d_idx"), col("label")),
        Seq("d_idx"), "left_outer")
      .select(col("d_new"), col("d_idx"), col("jac"),
        coalesce(col("label"), col("d_idx")).as("cand_label"))
    val best = withLabel.withColumn("rk", row_number().over(
        Window.partitionBy("d_new")
          .orderBy(col("jac").desc, col("cand_label"), col("d_idx"))))
      .filter(col("rk") === 1)
      .select(col("d_new").as("doc_id"), col("cand_label"), col("jac"))
    newDocs.select("doc_id").join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cand_label"), col("doc_id")).as("cluster"),
        when(col("cand_label").isNotNull, lit(1)).otherwise(lit(0)).as("matched"),
        col("jac"))
  }

  /** 2^56 — the X-108 checksum modulus (56-bit md5-prefix hashes). */
  val ChecksumMod = 72057594037927936L

  /** X-108's deterministic shard draw, content hash, and token count
    * over a raw documents frame — the per-doc manifest inputs. */
  def manifestMeta(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      expr("CAST(conv(substring(md5(concat('graft-shard', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 4")
        .as("shard"),
      expr("CAST(conv(substring(md5(text), 1, 14), 16, 10) AS BIGINT)").as("dh"),
      size(TextAnalysis.tokens(TextAnalysis.norm(col("text")))).cast("long")
        .as("n_toks"))

  /** Per-(lang, shard) manifest over an assigned frame carrying
    * (doc_id, lang, shard, dh, n_toks, cluster, matched). Every
    * aggregate is mergeable — the property [[mergeManifests]] and the
    * streaming spec rest on.
    *
    * cluster_sum is a CHECKSUM of the assignment (labels are doc ids),
    * so it takes the same mod-2^56 decimal accumulation as `checksum`:
    * a raw BIGINT sum of ~10^10 labels each up to ~10^10 overflows
    * (ANSI throws; legacy wraps) exactly at the corpus sizes this
    * pipeline exists for, and modular reduction keeps the column
    * mergeable ((a+b) mod m = ((a mod m)+(b mod m)) mod m). */
  def manifest(assigned: DataFrame): DataFrame =
    assigned.groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("matched")).as("n_matched"),
        sum(col("n_toks")).as("total_tokens"),
        expr("bit_xor(dh)").as("fingerprint"),
        (sum(col("dh").cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("long").as("checksum"),
        (sum(col("cluster").cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("long").as("cluster_sum"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))

  /** Merge manifest partials (the [[manifest]] schema): the
    * micro-batch path's final fold. Associative + commutative in every
    * column, so any batch slicing replays to the same manifest. */
  def mergeManifests(parts: DataFrame): DataFrame =
    parts.groupBy("lang", "shard")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_matched")).as("n_matched"),
        sum(col("total_tokens")).as("total_tokens"),
        expr("bit_xor(fingerprint)").as("fingerprint"),
        (sum(col("checksum").cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("long").as("checksum"),
        (sum(col("cluster_sum").cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("long").as("cluster_sum"),
        min(col("min_doc")).as("min_doc"), max(col("max_doc")).as("max_doc"))
}
