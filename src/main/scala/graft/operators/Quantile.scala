package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group quantiles by two-phase rank selection (X-47/X-53).
  *
  * The naive exact quantile — `row_number()` over
  * `Window.partitionBy(group)` — sorts each group in ONE task, so a
  * low-cardinality report key (5 order priorities) pins parallelism at
  * the group count forever: at 100× the data each task sorts n/5 rows
  * and spills. This operator locates each target rank without ever
  * sorting a whole group:
  *
  *  1. per-group stats (min/max/count): one parallel hash aggregate;
  *  2. histogram: bucket every row into B equal-width value buckets
  *     and count per (group, bucket) — a second parallel hash
  *     aggregate yielding ≤ |groups|·B rows;
  *  3. a running sum over that tiny frame finds, for each target rank,
  *     the single bucket whose cumulative count range covers it;
  *  4. re-scan joined against the ≤ |groups|·|ranks| target buckets
  *     (broadcast by construction) and rank ONLY inside those buckets.
  *
  * Global rank = rows-in-earlier-buckets + rank-within-bucket: exact,
  * because equal-width bucketing is monotone in the value (buckets
  * partition the value domain in order) and the in-bucket ordering
  * extends the same total order (value, then tiebreak). The final
  * window's partitions hold ~n/B rows each — bounded by the bucket
  * width, not the group size — UNLESS the distribution is pathological
  * (one outlier stretches the range so nearly all mass lands in one
  * bucket). For that case a SECOND histogram level runs inside any
  * target bucket whose count exceeds [[Quantile.Level2Threshold]]:
  * re-bucket the bucket's rows over the bucket's ACTUAL value range
  * (min/max of its rows, not the analytic slice — so a
  * concentrated-but-narrow bucket spreads fully) and rank only inside
  * the target sub-bucket, bounding partitions at ~n/B². The gate reads
  * max bucket count off the MATERIALIZED ≤ |groups|·|ranks|-row
  * targets frame (adaptive plan choice, the AQE idea in miniature) —
  * well-shaped data never pays the extra passes or plan nodes.
  * Equal VALUES are the irreducible floor: a bucket
  * whose rows are all one value cannot be histogram-separated on the
  * value, and falls back to the tiebreak-ordered rank over that bucket
  * (selection then only resolves WHICH tied row carries the rank — the
  * value at the rank is already determined). Rank expressions are
  * arbitrary functions of the group count n, so median ((n+1)÷2,
  * (n+2)÷2), p90 (⌈0.9n⌉) and ntile cutoffs all reuse the same
  * selection.
  */
object Quantile {

  /** Buckets per group. 1024 keeps the histogram frame trivially small
    * (|groups|·1024 rows) while bounding final-phase partitions at
    * ~0.1% of a group. */
  val Buckets = 1024

  /** A target bucket holding more rows than this goes through the
    * second histogram level before ranking. 4096 = 4·Buckets: small
    * enough that a spec-sized pathological fixture exercises the path,
    * large enough that a well-shaped bucket (~n/1024 rows) at bench
    * scale never trips it. At 100 TB the constant's exact value only
    * moves the crossover; both branches are sort-free. */
  val Level2Threshold = 4096L

  /** Integer division a ÷ b for non-negative a (row-count domain,
    * exact for a < 2^52 — doubles carry the intermediate). */
  def idiv(a: Column, b: Long): Column =
    floor(a / lit(b.toDouble)).cast("long")

  /** Rows of `df` whose global rank within their `group` — under the
    * total order (`valueCol`, then unique `tiebreakCol`) — equals any
    * of `ranks(n)`, where n is the group's row count. Output keeps all
    * input columns plus `__n` (the group count) and `__grank` (the
    * rank the row was selected at).
    *
    * CONSTRUCTION IS EAGER: the adaptive level gate needs the max
    * target-bucket count, which only exists after the stats/histogram
    * aggregates run — so building the returned DataFrame executes
    * those scans and materializes the steering frame up front (the
    * runtime-statistics trade AQE makes, surfaced at build time).
    * Callers that only want the PLAN (explain sweeps, plan audits)
    * pay those input scans; there is no lazy variant because the plan
    * SHAPE itself depends on the data. */
  def selectRanks(df0: DataFrame, group: String, valueCol: String,
      tiebreakCol: String, ranks: Column => Seq[Column]): DataFrame = {
    val v = col(valueCol)
    // SQL percentile semantics: aggregates ignore NULLs, so null-valued
    // rows are excluded from both the rank domain and the counts.
    // (Leaving them in was silently WRONG, not merely a convention: the
    // stats min/max skip nulls while count(*) included them, and a null
    // bucket expression falls through `least` to the LAST bucket even
    // though the rank order puts nulls FIRST — misaligning every
    // cumulative count in a group that has any null value.)
    val df = df0.filter(v.isNotNull)

    // Phase 1: per-group value range + count. Bounded by group
    // cardinality — broadcast by construction.
    val stats = df.groupBy(group)
      .agg(min(v).as("__lo"), max(v).as("__hi"), count(lit(1)).as("__n"))

    // Monotone equal-width bucket id; one-value groups collapse to
    // bucket 0, the top value is clamped into the last bucket.
    // Bucketing subtracts in DOUBLE: long `v - __lo` overflows when a
    // group's range exceeds Long.MaxValue (ANSI mode throws; legacy
    // mode wraps into non-monotone garbage ranks). The double form
    // loses low bits on wide domains but stays MONOTONE in v — the
    // only property bucketing needs; selection stays exact because
    // buckets merely partition the total order.
    def bucketed(base: DataFrame): DataFrame =
      base.join(broadcast(stats), group)
        .withColumn("__b",
          when(col("__hi") === col("__lo"), lit(0L))
            .otherwise(least(
              floor((v.cast("double") - col("__lo").cast("double")) * lit(Buckets.toDouble) /
                (col("__hi").cast("double") - col("__lo").cast("double"))),
              lit(Buckets - 1L)).cast("long")))

    // Phase 2: (group, bucket) histogram — parallel hash aggregate.
    val hist = bucketed(df).groupBy(col(group), col("__b"))
      .agg(count(lit(1)).as("__c"), first(col("__n")).as("__hn"))

    // Phase 3: locate each rank's bucket on the histogram frame. The
    // per-group window here runs over ≤ Buckets rows per group — the
    // aggregate frame, never the raw rows.
    val wc = Window.partitionBy(group).orderBy("__b")
    val located = hist
      .withColumn("__cum", sum(col("__c")).over(wc))
      .withColumn("__cb", col("__cum") - col("__c"))
      .select(col(group), col("__b"), col("__cb"), col("__cum"),
        explode(array(ranks(col("__hn")): _*)).as("__target"))
      .filter(col("__cb") < col("__target") && col("__target") <= col("__cum"))
    // One row per target bucket, carrying ALL its target ranks: a
    // plain join on (group, bucket) must not duplicate bucket rows
    // when two ranks (median's middle pair) land in the same bucket.
    // __cum rides along (functionally determined by (group, __b)) so
    // the bucket's row count can gate the second histogram level.
    // MATERIALIZED (≤ |groups|·|ranks| rows): cuts the stats/hist
    // lineage out of every downstream plan (phase 4 otherwise
    // re-embeds two more full scans) and makes the gate statistic
    // below a free driver-side read.
    val targets = Scratch.cut(
      located.groupBy(col(group), col("__b"), col("__cb"), col("__cum"))
        .agg(collect_set(col("__target")).as("__targets"))
        .withColumn("__bc", col("__cum") - col("__cb")))

    // Adaptive plan choice off the materialized bounded frame (the
    // Fuzzy fail-fast / AQE pattern — a one-row read of an already-
    // computed ≤ |groups|·|ranks|-row frame, never a corpus action):
    // only a distribution that actually HAS an oversized bucket pays
    // the second level's extra passes; well-shaped data keeps the
    // exact 3-pass plan shape.
    val maxBc = Option(targets.agg(max(col("__bc"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

    def rankIn(base: DataFrame, t: DataFrame): DataFrame = {
      // Phase 4 (direct): rank only inside target buckets. Partitions
      // hold ~n/B rows; global rank = rows before the bucket + rank
      // within it.
      val wf = Window.partitionBy(col(group), col("__b")).orderBy(v, col(tiebreakCol))
      base.join(broadcast(t), Seq(group, "__b"))
        .withColumn("__grank", col("__cb") + row_number().over(wf))
        .filter(array_contains(col("__targets"), col("__grank")))
        .drop("__lo", "__hi", "__b", "__cb", "__cum", "__bc", "__targets")
    }

    if (maxBc <= Level2Threshold) rankIn(bucketed(df), targets)
    else {
      // Deeper histogram levels: an oversized target bucket — the
      // pathological case where an outlier stretched the group range
      // and nearly all mass collapsed into one level-1 bucket — repeats
      // the histogram INSIDE the bucket, over the bucket's ACTUAL value
      // range (min/max of its rows, so a narrow-but-dense bucket
      // spreads across all B sub-buckets), RECURSIVELY: each level
      // re-reads its own max-sub-bucket count off a materialized
      // steering frame and only descends where mass is still
      // concentrated (a doubly-pathological cascade — dense mass plus
      // edge points at every level — would otherwise re-create the
      // single-task sort one level down; the level-2-and-stop shape had
      // exactly that hole). The recursion terminates: a level either
      // splits its bucket's value range or the bucket is all ONE value
      // — the irreducible tie floor, ranked by tiebreak immediately
      // (the selected VALUE is already exact; only which tied row
      // carries the rank remains). MaxLevels caps adversarial geometric
      // cascades; at the cap the residue is ranked as-is. The corpus is
      // scanned ONCE here (target-bucket rows materialized in a single
      // join against ALL targets — the direct branch and the recursion
      // both read that cut); per level, aggregates run only over the
      // surviving oversized-bucket rows, and every steering frame stays
      // ≤ |paths|·B rows — broadcast by construction.
      val outCols = df.columns.map(col) :+ col("__n") :+ col("__grank")
      val joined = Scratch.cut(
        bucketed(df).join(broadcast(targets), Seq(group, "__b")))
      val wf1 = Window.partitionBy(col(group), col("__b"))
        .orderBy(v, col(tiebreakCol))
      val direct = joined.filter(col("__bc") <= Level2Threshold)
        .withColumn("__grank", col("__cb") + row_number().over(wf1))
        .filter(array_contains(col("__targets"), col("__grank")))
        .select(outCols: _*)
      // Loop state: rows of still-oversized buckets, keyed by the PAIR
      // (raw group column, __gk) where __gk is the bucket-id PATH so
      // far — digit runs joined by '/'. The group value rides as its
      // own key column (it is already in df.columns) rather than being
      // folded into the path string: a delimiter-concat over raw group
      // values collides when a group value itself contains the
      // delimiter followed by digits, silently merging two distinct
      // bucket paths and mis-ranking both groups. Digits + '/' alone
      // cannot collide. __base = global rows before this bucket;
      // __ts = the target ranks that fall inside it.
      val gkeys = Seq(group, "__gk")
      val gcols = Seq(col(group), col("__gk"))
      var cur = joined.filter(col("__bc") > Level2Threshold)
        .select((df.columns.map(col) :+ col("__n") :+
          col("__b").cast("string").as("__gk") :+
          col("__cb").as("__base") :+ col("__targets").as("__ts")): _*)
      var done = Seq(direct)
      var level = 0
      val MaxLevels = 6
      while (cur != null && level < MaxLevels) {
        level += 1
        val st = cur.groupBy(gcols: _*).agg(min(v).as("__lo2"), max(v).as("__hi2"))
        val sub = cur.join(broadcast(st), gkeys)
        // tie floor: a one-value bucket cannot be histogram-split;
        // rank it by tiebreak now (value at the rank already exact)
        val wfg = Window.partitionBy(gcols: _*).orderBy(v, col(tiebreakCol))
        done :+= sub.filter(col("__hi2") === col("__lo2"))
          .withColumn("__grank", col("__base") + row_number().over(wfg))
          .filter(array_contains(col("__ts"), col("__grank")))
          .select(outCols: _*)
        val live = sub.filter(col("__hi2") =!= col("__lo2"))
          // double subtraction for the same overflow/monotonicity
          // reasons as the level-1 bucket expression
          .withColumn("__sb", least(
            floor((v.cast("double") - col("__lo2").cast("double")) * lit(Buckets.toDouble) /
              (col("__hi2").cast("double") - col("__lo2").cast("double"))),
            lit(Buckets - 1L)).cast("long"))
        val hist2 = live.groupBy(gcols :+ col("__sb"): _*)
          .agg(count(lit(1)).as("__c2"),
            first(col("__base")).as("__b0"), first(col("__ts")).as("__ts0"))
        val wc2 = Window.partitionBy(gcols: _*).orderBy("__sb")
        val t2 = Scratch.cut(hist2
          .withColumn("__cum2", sum(col("__c2")).over(wc2))
          .withColumn("__cb2", col("__cum2") - col("__c2"))
          .select(gcols ++ Seq(col("__sb"), col("__b0"), col("__cb2"),
            col("__cum2"), explode(col("__ts0")).as("__t")): _*)
          .filter(col("__cb2") < col("__t") - col("__b0") &&
            col("__t") - col("__b0") <= col("__cum2"))
          .groupBy(gcols ++ Seq(col("__sb"), col("__b0"), col("__cb2"), col("__cum2")): _*)
          .agg(collect_set(col("__t")).as("__t2"))
          .withColumn("__bc2", col("__cum2") - col("__cb2")))
        // re-gate THIS level off its own materialized steering frame --
        // the invariant the level-2-and-stop shape lacked
        val maxBc2 = Option(t2.agg(max(col("__bc2"))).first().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val wf2 = Window.partitionBy(gcols :+ col("__sb"): _*)
          .orderBy(v, col(tiebreakCol))
        def rankAll(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = rows
          .withColumn("__grank", col("__b0") + col("__cb2") + row_number().over(wf2))
          .filter(array_contains(col("__t2"), col("__grank")))
          .select(outCols: _*)
        if (maxBc2 <= Level2Threshold || level == MaxLevels) {
          // every sub-bucket small enough (or the adversarial-cascade
          // cap reached: rank the residue as-is, documented above)
          done :+= rankAll(live.join(broadcast(t2), gkeys :+ "__sb"))
          cur = null
        } else {
          val joined2 = Scratch.cut(
            live.join(broadcast(t2), gkeys :+ "__sb"))
          done :+= rankAll(joined2.filter(col("__bc2") <= Level2Threshold))
          cur = joined2.filter(col("__bc2") > Level2Threshold)
            .select((df.columns.map(col) :+ col("__n") :+
              concat_ws("/", col("__gk"), col("__sb")).as("__gk") :+
              (col("__b0") + col("__cb2")).as("__base") :+
              col("__t2").as("__ts")): _*)
        }
      }
      done.reduce(_ unionByName _)
    }
  }

  /** ntile(k) cumulative cutoff ranks: the first (n mod k) tiles hold
    * ⌊n/k⌋+1 rows, the rest ⌊n/k⌋, so tile i ends at rank
    * i·⌊n/k⌋ + min(i, n mod k). A row's tile is then 1 + the number
    * of cutoff-rank rows strictly below it in the total order — which
    * turns ntile into k−1 rank selections plus a broadcast compare,
    * with no per-group sort (see `RelationalQueries.customer_quartiles`). */
  def ntileCutoffs(k: Int)(n: Column): Seq[Column] = {
    val q = idiv(n, k)
    val m = n - q * k
    (1 until k).map(i => lit(i) * q + least(lit(i.toLong), m))
  }
}
