package graft

import org.apache.spark.sql.SparkSession

/** One place for session-wide configuration so Verify, Bench, and the
  * test session can't drift apart.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` belongs here (not inside a
  * table loader): it must hold before the first parquet footer is read,
  * and setting it lazily from a getter was a hidden global side effect.
  * It is a no-op on testdata generations that write TIMESTAMP(MICROS)
  * — [[graft.Tables.normalizeTs]] absorbs either physical type — but
  * stays set so a nanos-era dataset still loads.
  *
  * Two codegen confs are engine defaults, so that a warm pass compiles
  * no generated class ([[graft.CompileOnceSpec]]; OPERATIONS.md "Codegen
  * cache"):
  *  - `spark.sql.codegen.cache.maxEntries` 1000 (Spark: 100). The cache
  *    is JVM-wide and sized once, by the first session that generates
  *    code. At 100 its LRU eviction dropped classes the next query
  *    needed again: the third pass of dedup_clusters, minhash_lsh and
  *    ivf_topk at sf0.01 compiled 169 classes. Each cached class retains
  *    about 120 KB of heap, so the cap bounds the cache near 120 MB.
  *  - `spark.sql.codegen.useIdInClassName` false. With the id, a class is
  *    named after its whole-stage codegen stage id, which adaptive
  *    execution assigns in planning order, so the same code compiled
  *    again under a new name whenever that order moved.
  * `SPARK_GRAFT_CONF` overrides either like any other conf.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
    // Measurement-only conf overrides (semicolon-separated k=v), e.g.
    // SPARK_GRAFT_CONF="spark.sql.autoBroadcastJoinThreshold=-1" lets
    // ScaleBench pin one PLAN REGIME across a scale decade — an
    // exponent fitted across a broadcast→shuffle-join flip point mixes
    // two regimes and reads super-linear even when each is linear.
    // The driver never sets this; Verify/Bench artifacts run defaults.
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .foldLeft(b) { (bb, kv) =>
        // name the malformed token: a bare `val Array(k, v) = split`
        // threw an opaque MatchError for an entry without '='
        require(kv.contains("="),
          s"SPARK_GRAFT_CONF entry '$kv' is not k=v (semicolon-separated list)")
        val Array(k, v) = kv.split("=", 2)
        require(k.trim.nonEmpty,
          s"SPARK_GRAFT_CONF entry '$kv' has an empty key")
        bb.config(k.trim, v)
      }
  }
}
