package graft

import org.apache.spark.sql.functions._

import graft.obs.{Obs, Sample}
import graft.operators.Scratch

/** Dev tool: isolate the per-element cost of the native fixed-point
  * expressions against their higher-order-function reference forms on
  * a synthetic in-memory corpus big enough that per-row work dominates
  * scheduling (the regime a 100 TB scan is always in — the registered
  * bench's 5k-vector embeddings table can't resolve these constants
  * above run-to-run noise).
  *
  * Usage: runMain graft.MicroBench [nRows] (default 2,000,000 × 64 dims;
  * the token arms run nRows rows of 64 tokens)
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // deterministic synthetic embeddings: 64 floats derived from the id
    // cut so generation is off the clock
    val vecs = Scratch.cut(spark.range(n).select(
      expr("transform(sequence(0, 63), i -> CAST(sin(id * (i + 1)) AS FLOAT))")
        .as("embedding")))

    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Sample = {
      val s = Obs.run(spark, label)(Obs.sink(df)).orThrow
      System.err.println(f"$label%-28s ${s.sec}%8.3f s  cpu ${s.cpuSec}%8.3f s")
      s
    }
    // wall and executor CPU seconds of a timed pair's faster run
    def json(s: Sample): String = s"""{"sec":${s.sec},"cpu_sec":${s.cpuSec}}"""

    val hofQ = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT))")
    val natQ = graft.functions.QuantizeFx.quantize_fx(col("embedding"), 1e7)
    val hofDot = (q: org.apache.spark.sql.Column) =>
      expr("aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (a, x) -> a + x)")
    def run2(label: String, f: => org.apache.spark.sql.DataFrame): Sample =
      Obs.best(time(label)(f), time(label)(f)) // min-of-2, same as Bench

    val tHof = run2("HOF quantize + HOF dot",
      vecs.select(hofQ.as("q")).select(hofDot(col("q")).as("d")))
    val tMix = run2("HOF quantize + native dot",
      vecs.select(hofQ.as("q"))
        .select(graft.functions.DotProductFx.dot_fx(col("q"), col("q")).as("d")))
    val tNat = run2("native quantize + native dot",
      vecs.select(natQ.as("q"))
        .select(graft.functions.DotProductFx.dot_fx(col("q"), col("q")).as("d")))
    // the envelope-enforcing form the similarity family actually runs
    // (Similarity.MaxAbs = 16): prices the r12 branchless max-accumulate
    // check against the unchecked loop at a scale where the constant
    // resolves above noise (the registered 5k-vector bench cannot)
    val envQ = graft.functions.QuantizeFx.quantize_fx(col("embedding"), 1e7, 16.0)
    val tEnv = run2("native quantize+envelope + dot",
      vecs.select(envQ.as("q"))
        .select(graft.functions.DotProductFx.dot_fx(col("q"), col("q")).as("d")))
    System.err.println(f"native/HOF = ${tNat.sec / tHof.sec}%.3f  " +
      f"envelope/native = ${tEnv.sec / tNat.sec}%.3f")

    // ── token kernels: the shingling and text-feature loops of the
    // dedup family (ngrams_fx at the shingle width Dedup.shingled
    // uses, simhash_fx, fingerprint_fx, count_in_fx) over 64 synthetic
    // tokens per row from a 5000-word vocabulary ──
    val toks = Scratch.cut(spark.range(n).select(
      expr("transform(sequence(0, 63), i -> concat('w', CAST((id * 31 + i * 7) % 5000 AS STRING)))")
        .as("toks")))
    val text = Seq(
      "ngrams" -> graft.functions.NGramsFx.ngrams_fx(col("toks"), 3),
      "simhash" -> graft.functions.SimHashFx.simhash_fx(col("toks"), 30),
      "fingerprint" -> graft.functions.FingerprintFx.fingerprint_fx(col("toks")),
      "count_in" -> graft.functions.CountInFx.count_in_fx(col("toks"),
        (0 until 5000 by 7).map(i => s"w$i"))
    ).map { case (name, c) => name -> run2(s"native $name", toks.select(c.as("v"))) }

    // ── argmax assignment (r14): the nearestClusters inner loop at
    // the derived-k regimes — k=8 (every verify SF), k=100 (the 100×
    // ladder), k=1000 (the decade the r13 verdict flagged the flat
    // scan for). HOF = the r13 array_max-over-transform composition;
    // native = graft.functions.ArgMaxCosFx. Same packed-centroid
    // crossJoin shape as the query; centroids are deterministic
    // synthetic quantized vectors, nAsg rows (default n/4). The HOF
    // arms stop at k=100: they run no native code, and at k=1000 they
    // took minutes, most of a run. ──
    import org.apache.spark.sql.functions.{aggregate => fAggregate, _}
    val nAsg = math.max(n / 4, 1L)
    val qv = Scratch.cut(spark.range(nAsg).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), i -> CAST(floor(sin(id * (i + 1)) * 1e7) AS BIGINT))")
          .as("qe"))
      .withColumn("nq", graft.functions.DotProductFx.dot_fx(col("qe"), col("qe"))))
    def hofArgmax(qe: org.apache.spark.sql.Column, nq: org.apache.spark.sql.Column,
        cs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        fAggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
      def cosFx(dot: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
          nb: org.apache.spark.sql.Column) =
        when(na === 0 || nb === 0, lit(null).cast("double"))
          .otherwise(dot.cast("double") / sqrt(na.cast("double") * nb.cast("double")))
      lit(0L) - array_max(transform(cs, c =>
        struct(
          cosFx(hofDot(qe, c.getField("ce")), nq, c.getField("nc")).as("cos"),
          (lit(0L) - c.getField("cluster")).as("negc")))).getField("negc")
    }
    val asg = Seq(8, 100, 1000).map { k =>
      val cents = spark.range(k).select(col("id").as("cluster"),
          expr("transform(sequence(0, 63), i -> CAST(floor(cos(id * (i + 3)) * 1e7) AS BIGINT))")
            .as("ce"))
        .withColumn("nc", graft.functions.DotProductFx.dot_fx(col("ce"), col("ce")))
      val packed = cents.agg(
        collect_list(struct(col("cluster"), col("ce"), col("nc"))).as("cs"))
      val paired = qv.crossJoin(broadcast(packed))
      val tH = Option.when(k <= 100)(run2(s"HOF argmax k=$k",
        paired.select(col("vec_id"), hofArgmax(col("qe"), col("nq"), col("cs")).as("cluster"))))
      val tN = run2(s"native argmax k=$k",
        paired.select(col("vec_id"),
          graft.functions.ArgMaxCosFx.argmax_cos_fx(col("qe"), col("nq"), col("cs"))
            .as("cluster")))
      tH.foreach(h => System.err.println(f"k=$k%-5d native/HOF = ${tN.sec / h.sec}%.3f"))
      (k, tH, tN)
    }
    val asgJson = asg.map { case (k, h, nt) =>
      s""""k$k":{""" + h.map(t => s""""hof":${json(t)},""").getOrElse("") +
        s""""native":${json(nt)}}"""
    }.mkString(",")
    println(s"""{"rows":$n,"hof":${json(tHof)},"mixed":${json(tMix)},"native":${json(tNat)},""" +
      s""""envelope":${json(tEnv)},""" +
      text.map { case (name, t) => s""""$name":${json(t)},""" }.mkString +
      s""""argmax_rows":$nAsg,$asgJson}""")
    spark.stop()
  }
}
