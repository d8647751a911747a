package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Bloom, Exact, Quantile, Relational, Scratch}

/** M2 relational surface: star-schema joins, group-by aggregation,
  * rollup/cube, window functions, semi/anti joins, date functions and set
  * ops over the TPC-H-ish tables (SURVEY §2.4/§2.7, VERDICT item 3).
  *
  * All float aggregates go through [[Exact]] (decimal-exact, order-
  * independent) so the DuckDB hash compare is deterministic. Every query
  * orders by non-null keys (DuckDB sorts NULLS LAST, Spark NULLS FIRST).
  */
object RelationalQueries extends QueryModule {

  /** Bottom-k sample size for order_value_p90_sketch: ≈1.9% rank
    * std err, well under the per-priority group sizes from sf0.01 up
    * (≈3k at sf0.01) so the estimator genuinely runs; shared with the
    * oracle SQL so the two draws can't drift. */
  private val P90SampleK = 256

  def defs: Map[String, Q] = Map(
    // TPC-H Q1 shape: scan-filter-aggregate with partial+final agg; the
    // shipdate filter must reach the parquet scan (PushedFilters).
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.decSum(col("l_quantity")).as("sum_qty"),
          Exact.decSum(col("l_extendedprice")).as("sum_base_price"),
          Exact.revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          Exact.charge(col("l_extendedprice"), col("l_discount"), col("l_tax")).as("sum_charge"),
          Exact.decAvg(col("l_quantity")).as("avg_qty"),
          Exact.decAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Five-table star join, dims broadcast; revenue per region/nation.
    "revenue_by_nation" -> ((s, d) =>
      Relational.starJoin(s, d)
        .groupBy("r_name", "n_name")
        .agg(
          Exact.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("r_name", "n_name")),

    // T-2 generalization: per-group top-k via window (rank of a customer's
    // orders by price) — never a global sort, never groupByKey.
    "top_orders_per_customer" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    }),

    // Date bucketing: monthly order volume + exact revenue.
    "monthly_revenue" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.decSum(col("o_totalprice")).as("total"))
        .orderBy("month")),

    // ROLLUP over region/nation; names coalesced so sort keys are non-null.
    "rollup_region_nation" -> ((s, d) =>
      Relational.starJoin(s, d)
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          Exact.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_items"), col("revenue"))
        .orderBy("region", "nation")),

    // CUBE over two independent order dimensions.
    "cube_status_priority" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"))
        .orderBy("status", "priority")),

    // Anti join: customers with no 1998 orders, by market segment (the
    // unrestricted anti join is empty in this data — every customer has
    // some order — so restrict the right side to keep the check real).
    "cust_no_orders" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o98 = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1998)
      c.join(o98, c("c_custkey") === o98("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // Semi join: orders having at least one high-quantity line item.
    "priority_semi" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val bigLines = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      o.join(bigLines, o("o_orderkey") === bigLines("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Broadcast dim joins on the other fact axes: revenue by part brand.
    "brand_revenue" -> ((s, d) =>
      Relational.partSupplierJoin(s, d)
        .groupBy("p_brand")
        .agg(
          Exact.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          Exact.decSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")),

    // Date part functions: per-ship-year stats incl. weekend share.
    "ship_year_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("n_items"),
          Exact.decSum(col("l_extendedprice")).as("sum_price"),
          sum(when(dayofweek(col("l_shipdate")).isin(1, 7), 1).otherwise(0))
            .as("n_weekend"))
        .orderBy("ship_year")),

    // Set ops: order-cohort retention between 1997 and 1998.
    "order_cohorts" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def custsIn(y: Int) =
        o.filter(year(col("o_orderdate")) === y).select("o_custkey").distinct()
      val both = custsIn(1997).intersect(custsIn(1998))
        .agg(count(lit(1)).as("n_cust")).withColumn("cohort", lit("both"))
      val only97 = custsIn(1997).except(custsIn(1998))
        .agg(count(lit(1)).as("n_cust")).withColumn("cohort", lit("only_1997"))
      val only98 = custsIn(1998).except(custsIn(1997))
        .agg(count(lit(1)).as("n_cust")).withColumn("cohort", lit("only_1998"))
      both.union(only97).union(only98)
        .select("cohort", "n_cust").orderBy("cohort")
    }),

    // Typed Aggregator surface: per-brand top-3 parts by retail price
    // through graft.functions.TopKAggregator (O(k) state per group —
    // the mergeable alternative to sorting each group in a window),
    // exploded back to rows for the oracle compare.
    "brand_topk_agg" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      Tables.part(s, d)
        .groupBy("p_brand")
        .agg(topk(col("p_retailprice"), col("p_partkey")).as("top"))
        .select(col("p_brand"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("p_brand"), (col("pos") + 1).cast("int").as("rk"),
          col("s.id").as("p_partkey"), col("s.score").as("p_retailprice"))
        .orderBy("p_brand", "rk")
    }),

    // SQL entry path + GROUPING SETS (beyond rollup/cube): revenue by
    // returnflag, by linestatus, and overall. Reads the parquet path
    // directly (`parquet.`…``) — registering a temp view here would be
    // a hidden mutation of the shared session catalog. The 'ALL' label
    // comes from grouping(), not coalesce(): coalesce would conflate a
    // genuine NULL data value with the grand-total grouping-set row
    // (safe on non-null TPC-H columns, wrong as a general pattern — and
    // both engines would mis-merge identically, so the oracle couldn't
    // catch it).
    "grouping_sets_revenue" -> ((s, d) =>
      s.sql(
        s"""SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
           |       CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
           |       count(*) AS n_items,
           |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
           |FROM parquet.`$d/lineitem.parquet`
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY rflag, lstatus""".stripMargin)),

    // Exact per-group median via TWO-PHASE rank selection (Quantile):
    // the middle one or two rows by position, averaged with decimal
    // exactness. Interpolating percentile functions differ across
    // engines; rank selection is exact in both. The two-phase shape
    // (histogram locates the rank's bucket, only that bucket is
    // ranked) keeps parallelism data-bound — a plain
    // partitionBy(priority) window would sort n/5 rows per task
    // forever. The oracle mirrors the SEMANTICS with the one-window
    // form, which is fine at oracle scale.
    "median_order_value" -> ((s, d) =>
      Quantile.selectRanks(
        Tables.orders(s, d)
          .select("o_orderpriority", "o_totalprice", "o_orderkey"),
        "o_orderpriority", "o_totalprice", "o_orderkey",
        n => Seq(Quantile.idiv(n + lit(1L), 2), Quantile.idiv(n + lit(2L), 2)))
        .groupBy("o_orderpriority")
        .agg(max(col("__n")).as("n_orders"),
          Exact.decAvg(col("o_totalprice")).as("median_price"))
        .orderBy("o_orderpriority")),

    // Exact p90 by rank selection (percentile_disc semantics): the
    // value AT rank ⌈0.9·n⌉ — no interpolation, no arithmetic, so the
    // result is an actual data value both engines agree on exactly.
    // Same two-phase Quantile selection as the median. The sketch
    // companion (order_value_p90_sketch) shows the fixed-size path
    // for when even bucket-bounded exactness is not worth a re-scan.
    "order_value_p90" -> ((s, d) =>
      Quantile.selectRanks(
        Tables.orders(s, d)
          .select("o_orderpriority", "o_totalprice", "o_orderkey"),
        "o_orderpriority", "o_totalprice", "o_orderkey",
        n => Seq(Quantile.idiv(n * lit(9L) + lit(9L), 10)))
        .select(col("o_orderpriority"), col("__n").as("n_orders"),
          col("o_totalprice").as("p90_price"))
        .orderBy("o_orderpriority")),

    // Exact median absolute deviation per group (X-74): the robust
    // dispersion companion to the X-64 IQR fences (MAD tolerates up to
    // 50% contamination where stddev tolerates none — the screen a
    // quality pipeline runs on crawl-quality scores before trusting
    // z-anything). Two chained two-phase rank selections — median of
    // the values, then median of |value − median| — so no per-group
    // sort ever happens on a raw fact frame (the X-47 discipline,
    // twice). All arithmetic is exact integer CENTS, doubled to dodge
    // the midpoint halving: med2 = 2·median, dev2 = 2·|v − med|,
    // mad4 = 4·MAD; the only IEEE ops are the final two divisions of
    // identical exact integers, bit-equal in both engines.
    "order_value_mad" -> ((s, d) => {
      val midRanks: Column => Seq[Column] =
        n => Seq(Quantile.idiv(n + lit(1L), 2), Quantile.idiv(n + lit(2L), 2))
      // when n is odd the two middle ranks coincide and selectRanks
      // emits the row ONCE — double it so med2/mad4 stay 2×/4× scale
      def twiceIfSingle(s: Column, cnt: Column): Column =
        when(cnt === 1, s * 2).otherwise(s)
      val cents = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          Exact.cents(col("o_totalprice")).as("p_c"),
          col("o_orderkey"))
      // The per-group medians are MATERIALIZED (|groups| rows) before
      // the deviation pass: the second rank selection re-embeds its
      // input lineage several times (two bucketed scans + histogram),
      // and without the cut each re-embedding would re-run the whole
      // first selection — the ivf_topk index-build pattern applied to
      // a statistic instead of centroids.
      val med = Scratch.cut(
        Quantile.selectRanks(cents, "o_orderpriority", "p_c",
            "o_orderkey", midRanks)
          .groupBy("o_orderpriority")
          .agg(max(col("__n")).as("n_orders"),
            twiceIfSingle(sum(col("p_c")), count(lit(1))).as("med2_c")))
      val dev = cents.join(broadcast(med), "o_orderpriority")
        .select(col("o_orderpriority"),
          abs(col("p_c") * 2 - col("med2_c")).as("dev2_c"), col("o_orderkey"))
      val mad = Quantile.selectRanks(dev, "o_orderpriority", "dev2_c",
          "o_orderkey", midRanks)
        .groupBy("o_orderpriority")
        .agg(twiceIfSingle(sum(col("dev2_c")), count(lit(1))).as("mad4_c"))
      med.join(mad, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_orders"),
          (col("med2_c").cast("double") / 200.0).as("median_price"),
          (col("mad4_c").cast("double") / 400.0).as("mad_price"))
        .orderBy("o_orderpriority")
    }),

    // One-pass table profiling (the pre-flight every ingest pipeline
    // runs before trusting a new drop): per-column row/null/distinct
    // counts and min/max, via UNPIVOT (stack) + one aggregation keyed
    // by column name — ONE scan for any number of profiled columns,
    // where the naive per-column loop scans c times. The c× row
    // multiplication from stack collapses in the partial aggregate;
    // the only caveat at 100 TB is the exact countDistinct pair, whose
    // map-side partials still dedup per task (swap for
    // approx_count_distinct when the profile feeds monitoring rather
    // than contracts — the X-55 trade).
    "column_profile" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_totalprice"), col("o_custkey"),
          col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"))
        // orders isn't fanned out globally (its queries shuffle right
        // away), but here the scan feeds stack + the partial distinct
        // aggregate in the SAME stage — on a single-row-group local
        // file that ran 2s of profiling CPU in one task. One tiny
        // 4-column exchange buys full parallelism for the CPU-dense
        // map side.
        .repartition(s.sparkContext.defaultParallelism)
        .selectExpr(
          """stack(4,
            |  'o_totalprice',    CAST(o_totalprice AS DOUBLE), CAST(NULL AS STRING),
            |  'o_custkey',       CAST(o_custkey AS DOUBLE),    CAST(NULL AS STRING),
            |  'o_orderpriority', CAST(NULL AS DOUBLE),         o_orderpriority,
            |  'o_orderdate',     CAST(NULL AS DOUBLE),         o_orderdate_s
            |) AS (col_name, v_num, v_str)""".stripMargin)
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("v_num").isNull && col("v_str").isNull, 1L)
            .otherwise(0L)).as("n_null"),
          // one of the two is all-null per column, so the sum IS the
          // column's distinct count; two single-column distincts keep
          // the Expand multiplier at a constant 2
          (countDistinct(col("v_num")) + countDistinct(col("v_str")))
            .as("n_distinct"),
          min(col("v_num")).as("min_num"), max(col("v_num")).as("max_num"),
          min(col("v_str")).as("min_str"), max(col("v_str")).as("max_str"))
        .orderBy("col_name")),

    // Quantile SKETCH beside the exact rank selection (the X-55
    // side-by-side pattern, completing the sketch family: KMV for
    // cardinality, CMS for frequency, this for quantiles): a
    // deterministic bottom-k-by-md5-priority uniform sample
    // (graft.functions.BottomKSampleAggregator, k = P90SampleK) — ONE
    // hash aggregate whose partial phase collapses every task to ≤k
    // rows, no histogram phase, no target-bucket re-scan — in
    // exchange for a bounded rank error (sample-p90 std err ≈
    // √(0.9·0.1/k) ≈ 1.9% of n at k=256). At 100 TB the sketch is
    // what a monitoring pipeline runs hourly; the exact path is what
    // a billing report runs nightly. The realized error column keeps
    // the trade-off honest. Unlike percentile_approx (opaque summary
    // state, no DuckDB mirror — the shape this query replaced), the
    // sample is fully transparent: DuckDB draws the identical k rows
    // with one window over the same md5 priority, so the sketch IS
    // oracle-checked. The p90-of-sample is read off the ≤k-element
    // array with array_sort — value at rank ⌈0.9·m⌉ is tie-order
    // independent, so sorting values alone suffices.
    "order_value_p90_sketch" -> ((s, d) => {
      import graft.operators.TextAnalysis.tokenHash
      val samp = udaf(new graft.functions.BottomKSampleAggregator(P90SampleK),
        org.apache.spark.sql.Encoders.product[graft.functions.PriRow])
      val exact = Quantile.selectRanks(
          Tables.orders(s, d)
            .select("o_orderpriority", "o_totalprice", "o_orderkey"),
          "o_orderpriority", "o_totalprice", "o_orderkey",
          n => Seq(Quantile.idiv(n * lit(9L) + lit(9L), 10)))
        .select(col("o_orderpriority"), col("__n").as("n_orders"),
          col("o_totalprice").as("exact_p90"))
      val approx = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          tokenHash(concat(lit("graft-p90"), col("o_orderkey").cast("string")))
            .as("pri"),
          col("o_orderkey"), col("o_totalprice"))
        .groupBy("o_orderpriority")
        .agg(samp(col("pri"), col("o_orderkey"), col("o_totalprice")).as("__s"))
        .withColumn("__m", size(col("__s")).cast("long"))
        .withColumn("approx_p90", element_at(
          array_sort(transform(col("__s"), x => x.getField("v"))),
          Quantile.idiv(col("__m") * 9 + lit(9L), 10).cast("int")))
      exact.join(approx, "o_orderpriority")
        .withColumn("rel_err",
          abs(col("approx_p90") - col("exact_p90")) / col("exact_p90"))
        .select("o_orderpriority", "n_orders", "exact_p90", "approx_p90", "rel_err")
        .orderBy("o_orderpriority")
    }),

    // Trailing 7-day revenue: a RANGE-frame window (interval framing,
    // the one window frame shape the suite didn't yet cover) over the
    // DAILY aggregate — the window runs on stratum-cardinality rows
    // (one per date), never the raw orders, which is why the
    // unpartitioned ordering is safe at scale. Sums stay DECIMAL
    // through the frame (order-independent), one double cast at the
    // sink.
    "rolling_revenue_7d" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("rev_dec"))
        .withColumn("day_num",
          datediff(col("day"), lit(java.sql.Date.valueOf("1992-01-01"))))
      val w = Window.orderBy("day_num").rangeBetween(-6, 0)
      daily
        .withColumn("rev_7d_dec", sum(col("rev_dec")).over(w))
        .withColumn("days_in_win", count(lit(1)).over(w))
        .select(col("day"), col("rev_dec").cast("double").as("day_revenue"),
          col("rev_7d_dec").cast("double").as("rev_7d"), col("days_in_win"))
        .orderBy("day")
    }),

    // Account-balance quartiles per market segment, with exact
    // ntile(4) SEMANTICS but no per-segment sort: a plain
    // `ntile(4).over(partitionBy(c_mktsegment))` funnels each segment
    // through one task (the same 5-key scale trap as the old median).
    // Instead the three tile-cutoff ROWS are found by two-phase rank
    // selection, broadcast per segment, and each row's quartile is
    // 1 + the number of cutoff rows strictly below it in the same
    // total order (balance, then custkey) — exact including ntile's
    // uneven-tile tie-splitting, because rank comparisons against the
    // cutoff rows are value comparisons under a total order. The
    // oracle keeps the literal ntile form.
    "customer_quartiles" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select("c_mktsegment", "c_acctbal", "c_custkey")
      val cuts = Quantile.selectRanks(cust, "c_mktsegment", "c_acctbal",
          "c_custkey", Quantile.ntileCutoffs(4))
        .groupBy("c_mktsegment")
        .agg(collect_set(struct(col("c_acctbal").as("bal"),
          col("c_custkey").as("key"))).as("__cuts"))
      cust.join(broadcast(cuts), "c_mktsegment")
        .withColumn("quartile",
          (lit(1) + size(filter(col("__cuts"), b =>
            b("bal") < col("c_acctbal") ||
              (b("bal") === col("c_acctbal") && b("key") < col("c_custkey")))))
            .cast("int"))
        .groupBy("c_mktsegment", "quartile")
        .agg(count(lit(1)).as("n_customers"),
          Exact.decSum(col("c_acctbal")).as("sum_bal"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy("c_mktsegment", "quartile")
    }),

    // Interval-overlap aggregation by SWEEP-LINE: how many orders are
    // "open" (placed but not yet fully shipped) on each day. The naive
    // shapes — exploding each order into one row per open day
    // (O(rows × span)) or a range join of orders against a day axis
    // (O(rows × days) without a range-join rewrite) — both blow up
    // with interval length. The sweep-line emits exactly TWO delta
    // rows per order (+1 at open, −1 the day after close), aggregates
    // them to one row per day, and takes a running sum over that
    // day-cardinality frame: cost is 2 rows per input row plus a
    // window over ≤ |days| rows, independent of interval length. The
    // unpartitioned window is safe for exactly that reason (allowlist
    // gate, PlanAuditSpec). Days with no open/close event are not
    // emitted (the count is constant there); both engines agree.
    // ATTRIBUTION SEMANTICS of n_closed: the −1 delta lands on
    // close_day + 1, so n_closed on day d counts orders whose last
    // ship day was d−1 — i.e. "closures effective at the start of d",
    // the convention that makes the n_open recurrence exact
    // (n_open(d) = n_open(d−1) + n_opened(d) − n_closed(d), with an
    // order still open ON its final ship day). A consumer attributing
    // closures to the close day itself must read n_closed(d+1).
    "open_orders_by_day" -> ((s, d) => {
      val closes = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(max(date_trunc("day", col("l_shipdate"))).as("close_day"))
      val spans = Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_trunc("day", col("o_orderdate")).as("open_day"))
        .join(closes, col("o_orderkey") === col("l_orderkey"))
        // the synthesized shipdates aren't constrained to follow the
        // order date; an order is open at least on its placement day
        .withColumn("close_day", greatest(col("close_day"), col("open_day")))
      val daily = spans
        .select(explode(array(
          struct(col("open_day").as("day"), lit(1L).as("delta")),
          struct((col("close_day") + expr("INTERVAL 1 DAY")).as("day"),
            lit(-1L).as("delta")))).as("e"))
        .select(col("e.day").as("day"), col("e.delta").as("delta"))
        .groupBy("day")
        .agg(sum(col("delta")).as("net"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"),
          sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_closed"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("n_open", sum(col("net")).over(w))
        .select("day", "n_opened", "n_closed", "n_open")
        .orderBy("day")
    }),

    // Right-to-be-forgotten cascade audit (X-91): given an erasure
    // request set (a deterministic 2% of customers via the md5 bucket,
    // standing in for the real request table), count the rows each
    // table would lose following the key cascade customer → orders →
    // lineitem — the impact report a deletion pipeline produces before
    // it mutates anything. The request set propagates through SHUFFLE
    // hash joins keyed on the cascade keys; no broadcast hint, because
    // the plan must not assume the request set is small (2% of a 10⁹
    // customer table is 2×10⁷ rows — AQE may still broadcast a
    // measured-small one at runtime, which is the right division of
    // labor). Each hop's join is pruned by the previous hop's keys, so
    // the lineitem pass only ever sees surviving order keys.
    "erasure_audit" -> ((s, d) => {
      val subjects = Tables.customer(s, d)
        .filter(graft.operators.TextAnalysis
          .sampleBucket(col("c_custkey"), "graft-erase") < 2)
        .select(col("c_custkey"))
      // MATERIALIZED: consumed by its own count AND the lineitem join
      // — without the cut the orders scan + subject join runs twice
      val ordersHit = Scratch.cut(Tables.orders(s, d)
        .join(subjects, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey"))
      val cust = subjects.agg(count(lit(1)).as("n_rows"))
        .withColumn("table_name", lit("customer"))
      val ord = ordersHit.agg(count(lit(1)).as("n_rows"))
        .withColumn("table_name", lit("orders"))
      val li = Tables.lineitem(s, d)
        .join(ordersHit, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("table_name", lit("lineitem"))
      cust.union(ord).union(li)
        .select("table_name", "n_rows")
        .orderBy("table_name")
    }),

    // Z-order layout keys + data-skipping quality (X-86): the
    // file-layout decision that rules 100 TB scan cost. Parquet/Delta
    // skip files by min/max zone maps, so a layout clustered on ONE
    // sort key prunes one predicate dimension perfectly and the other
    // not at all; interleaving the bits of both keys (Morton order)
    // bounds BOTH per-bucket spans at ~√buckets of the domain. This
    // query computes both layouts' bucket spans side by side over
    // (o_custkey, order day): 16-bit normalized coordinates (global
    // bounds = a 1-row broadcast), bit-interleaved z-key, 1024 buckets
    // per layout, and per-bucket min/max spans — the zone-map width a
    // scan planner would consult. Both (layout, bucket) assignments
    // explode from ONE scan pass (the sweep-line trick), so the fact
    // table is read once and shuffled once; all arithmetic is integer
    // bit manipulation, exact in both engines.
    "zorder_layout" -> ((s, d) => {
      val morton = (0 until 16).map(i =>
        s"shiftleft(shiftright(xs, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright(ys, $i) & 1, ${2 * i + 1})")
        .mkString(" + ")
      val o = Tables.orders(s, d).select(col("o_custkey"),
        datediff(col("o_orderdate"),
          lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("day_num"))
      val bounds = o.agg(
        min(col("o_custkey")).as("ck_mn"), max(col("o_custkey")).as("ck_mx"),
        min(col("day_num")).as("d_mn"), max(col("day_num")).as("d_mx"))
      // a constant dimension (a partition-pruned slice, a single-day
      // drop) maps everything to coordinate 0 instead of dividing by 0
      val scaled = o.crossJoin(broadcast(bounds))
        .withColumn("xs", expr("CASE WHEN ck_mx > ck_mn THEN " +
          "(o_custkey - ck_mn) * 65535 div (ck_mx - ck_mn) ELSE 0 END"))
        .withColumn("ys", expr("CASE WHEN d_mx > d_mn THEN " +
          "(day_num - d_mn) * 65535 div (d_mx - d_mn) ELSE 0 END"))
        .withColumn("zkey", expr(morton))
      scaled
        .select(explode(array(
          struct(lit("zorder").as("layout"),
            expr("zkey div 4194304").as("bucket")),
          struct(lit("bydate").as("layout"),
            expr("ys div 64").as("bucket")))).as("lb"),
          col("o_custkey"), col("day_num"))
        .select(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
          col("o_custkey"), col("day_num"))
        .groupBy("layout", "bucket")
        .agg(count(lit(1)).as("n_rows"),
          (max(col("o_custkey")) - min(col("o_custkey"))).as("ck_span"),
          (max(col("day_num")) - min(col("day_num"))).as("day_span"))
        .orderBy("layout", "bucket")
    }),

    // Bloom-filter join pruning (X-66): semi join of the fact table
    // against a brand-filtered part subset, with a 4096-bit columnar
    // bloom filter probed BEFORE the join — the declarative form of
    // runtime row-level filtering. The build is one bit_or aggregation
    // collapsing to ≤128 words folded into a one-row broadcast map; the
    // probe is a narrow filter on the scan (no shuffle); the exact
    // semi join then runs only on survivors, so the result is exact
    // and the per-flag candidate/matched/false-positive counts keep
    // the pruning honest. At 100 TB this is the difference between
    // shuffling every fact row into the join and shuffling ~(sel+fp)
    // of them. Hashing is md5-derived and mirrored bit-exactly in the
    // oracle (the CMS recipe), so even the false-positive counts are
    // oracle-checked.
    "bloom_semi_prune" -> ((s, d) => {
      val keys = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      val bloomDf = Bloom.build(keys, "p_partkey")
      // MATERIALIZED: the bloom-probed scan feeds both the candidate
      // stats and the exact semi join — without the cut the fact scan
      // + probe filter (the pass the query exists to minimize) runs
      // twice under two different exchanges
      val candidates = Scratch.cut(Tables.lineitem(s, d)
        .select("l_returnflag", "l_partkey", "l_extendedprice", "l_discount")
        .crossJoin(broadcast(bloomDf))
        .filter(Bloom.mightContain(col("bloom"), col("l_partkey"))))
      val candStats = candidates.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_candidates"))
      val matched = candidates
        .join(keys, col("l_partkey") === col("p_partkey"), "left_semi")
      val matchedAgg = matched.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_matched"),
          Exact.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      matchedAgg.join(candStats, "l_returnflag")
        .withColumn("n_false_pos", col("n_candidates") - col("n_matched"))
        .select("l_returnflag", "n_candidates", "n_matched", "n_false_pos", "revenue")
        .orderBy("l_returnflag")
    }),

    // Per-group feature standardization (X-70) — the z-score
    // normalization step an ML feature pipeline runs before training,
    // in the shape the plan gates demand: per-segment moments come
    // from ONE parallel hash aggregate (DECIMAL-exact sums, so both
    // engines derive bit-identical doubles), the |segments|-row stats
    // frame is broadcast-joined back, and every row's z is a fixed
    // IEEE expression. A window partitioned on the 5-value segment
    // key over the raw scan — the tempting one-liner — is exactly
    // what the sub-16-key window gate bans: it would pin parallelism
    // at 5 forever. This join-back recipe is the compliant (and at
    // 100 TB, the only viable) form.
    "zscore_features" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val stats = cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          Exact.decSum(col("c_acctbal")).as("s1"),
          Exact.decSumSq(col("c_acctbal")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("std",
          sqrt((col("n") * col("s2") - col("s1") * col("s1")) /
            (col("n") * (col("n") - lit(1L)))))
      cust.join(broadcast(stats), "c_mktsegment")
        .withColumn("z", (col("c_acctbal") - col("mean")) / col("std"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("z"), (abs(col("z")) > 2).as("is_outlier"))
        .orderBy("c_custkey")
    }),

    // IQR outlier detection per report group — the screening rule every
    // ingest pipeline runs on a numeric column before trusting it. Q1
    // and Q3 (percentile_disc semantics: the values AT ranks ⌈n/4⌉ and
    // ⌈3n/4⌉) come from the same two-phase rank selection as the
    // median — never a per-group sort — and the 5-row bounds frame is
    // broadcast back over the fact table for a single counting pass.
    // Fence arithmetic stays DECIMAL end-to-end (q ± 1.5·IQR is exact
    // at 3 decimal places), so the outlier comparisons are
    // engine-exact; doubles appear only in the output projection.
    "price_outliers_iqr" -> ((s, d) => {
      val ords = Tables.orders(s, d)
        .select("o_orderpriority", "o_totalprice", "o_orderkey")
      val q1Rank = (n: Column) => Quantile.idiv(n + lit(3L), 4)
      val q3Rank = (n: Column) => Quantile.idiv(n * lit(3L) + lit(3L), 4)
      val onePointFive = lit(new java.math.BigDecimal("1.5"))
      val bounds = Quantile.selectRanks(ords, "o_orderpriority",
          "o_totalprice", "o_orderkey",
          n => Seq(q1Rank(n), q3Rank(n)))
        .groupBy("o_orderpriority")
        .agg(max(col("__n")).as("n_orders"),
          min(when(col("__grank") === q1Rank(col("__n")),
            col("o_totalprice"))).as("q1d"),
          min(when(col("__grank") === q3Rank(col("__n")),
            col("o_totalprice"))).as("q3d"))
        .withColumn("q1", col("q1d").cast("decimal(12,2)"))
        .withColumn("q3", col("q3d").cast("decimal(12,2)"))
        .withColumn("lo", col("q1") - onePointFive * (col("q3") - col("q1")))
        .withColumn("hi", col("q3") + onePointFive * (col("q3") - col("q1")))
      ords.join(broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(max(col("n_orders")).as("n_orders"),
          max(col("q1")).cast("double").as("q1_price"),
          max(col("q3")).cast("double").as("q3_price"),
          sum(when(col("o_totalprice").cast("decimal(12,2)") < col("lo"),
            1L).otherwise(0L)).as("n_low"),
          sum(when(col("o_totalprice").cast("decimal(12,2)") > col("hi"),
            1L).otherwise(0L)).as("n_high"))
        .orderBy("o_orderpriority")
    }),

    // SCD type-2 dimension build (X-92): each customer's order-priority
    // history compressed to validity intervals — the change-data-capture
    // shape every lakehouse MERGE pipeline maintains (detect change
    // points vs the previous version, close the prior interval, flag
    // the current one). Both windows partition on o_custkey (key
    // cardinality grows with the data — parallelism is data-bound, the
    // opposite of the sub-16-key funnel the plan gate bans), and the
    // change filter preserves the first window's hash partitioning, so
    // the whole history build is ONE exchange. Total order inside a
    // customer is (o_orderdate, o_orderkey) — deterministic under
    // same-day priority flips, which produce zero-length intervals
    // rather than nondeterminism.
    "scd2_dim" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      scd2Changes(s, d)
        .withColumn("valid_from", col("o_orderdate"))
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "o_orderpriority", "version",
          "valid_from", "valid_to", "is_current")
        .orderBy("o_custkey", "version")
    }),

    // Equi-depth histogram build (X-93): the ANALYZE-TABLE statistic a
    // cost-based optimizer stores — 8 equal-row bins of the order-value
    // distribution, each bin's upper boundary being the exact data
    // value AT the ntile cutoff rank (percentile_disc semantics, no
    // interpolation). Runs through the two-phase Quantile selection,
    // so no task ever sorts more than a ~n/1024 bucket; the final
    // bin-numbering window is unpartitioned but runs over the ≤ 8
    // selected rank rows (allowlisted in PlanAuditSpec with that
    // bound). Values are exact integer cents.
    "equidepth_hist" -> ((s, d) => {
      val cents = Tables.orders(s, d)
        .select(lit("all").as("grp"),
          Exact.cents(col("o_totalprice")).as("p_c"),
          col("o_orderkey"))
      val selected = Quantile.selectRanks(cents, "grp", "p_c", "o_orderkey",
        n => Quantile.ntileCutoffs(8)(n) :+ n)
      val w = Window.orderBy("__grank")
      selected
        .withColumn("bin", row_number().over(w).cast("long"))
        .withColumn("lo_rank", coalesce(lag(col("__grank"), 1).over(w), lit(0L)))
        .select(col("bin"), col("__grank").as("hi_rank"),
          (col("__grank") - col("lo_rank")).as("n_rows"),
          col("p_c").as("hi_cents"))
        .orderBy("bin")
    }),

    // Referential-integrity audit (X-94): orphan-row counts for every
    // foreign-key edge of the star schema — the constraint check a
    // 100 TB lakehouse runs after every ingest, because nothing else
    // enforces FKs there. Each edge is a left join from the child key
    // to the DISTINCT parent keys (never assume PK uniqueness of an
    // unconstrained table) + a null count. The nation parent is a
    // 25-row dim (broadcast-hinted); every growing parent
    // (orders/customer/part/supplier) is shuffle-joined — at scale
    // those keysets are far past broadcast range. Child scans read
    // ONLY the key column, so the audit's IO is one column per edge.
    "fk_orphans" -> ((s, d) => {
      def audit(edge: String, child: org.apache.spark.sql.DataFrame, ck: String,
          parent: org.apache.spark.sql.DataFrame, pk: String,
          hintDim: Boolean): org.apache.spark.sql.DataFrame = {
        val p0 = parent.select(col(pk)).distinct()
        val p = if (hintDim) broadcast(p0) else p0
        child.select(col(ck))
          .join(p, col(ck) === col(pk), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphan"))
          .select(lit(edge).as("fk_edge"), col("n_child"), col("n_orphan"))
      }
      val li = Tables.lineitem(s, d)
      audit("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey", hintDim = true)
        .unionByName(audit("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey", hintDim = true))
        .unionByName(audit("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", hintDim = false))
        .unionByName(audit("lineitem->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey", hintDim = false))
        .unionByName(audit("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey", hintDim = false))
        .unionByName(audit("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", hintDim = false))
        .orderBy("fk_edge")
    }),

    // Snapshot diff / CDC class computation (X-97): the MERGE-input a
    // lakehouse computes between two table versions — insert / delete /
    // update / unchanged counts plus the net value delta. The two
    // snapshots are derived here from `orders` by deterministic md5
    // draws (2% inserted-since, 2% deleted-since, 3% value-drifted —
    // the erasure_audit seeding idiom), but the diff itself treats
    // them as INDEPENDENT tables: one full-outer shuffle join on the
    // key, presence + value compare, one aggregate. No hint anywhere —
    // neither snapshot of a 100 TB table is broadcastable. Value
    // compare in exact integer cents.
    "snapshot_diff" -> ((s, d) => {
      val (o, n) = snapshotPair(s, d)
      val old = o.select(col("o_orderkey").as("k_old"),
        col("o_orderstatus").as("st_old"), col("cents").as("c_old"))
      val neu = n.select(col("o_orderkey").as("k_new"),
        col("o_orderstatus").as("st_new"), col("cents").as("c_new"))
      neu.join(old, col("k_new") === col("k_old"), "full_outer")
        .withColumn("change_class",
          when(col("k_old").isNull, "insert")
            .when(col("k_new").isNull, "delete")
            .when(col("c_new") =!= col("c_old") || col("st_new") =!= col("st_old"),
              "update")
            .otherwise("unchanged"))
        .groupBy("change_class")
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(col("c_new"), lit(0L)) - coalesce(col("c_old"), lit(0L)))
            .as("delta_cents"))
        .orderBy("change_class")
    }),

    // k-anonymity audit with one generalization step (X-98): the
    // privacy gate a release pipeline runs before publishing — count
    // quasi-identifier equivalence classes (nation × market segment),
    // keep classes of size ≥ k as-is, and re-aggregate the violating
    // ROWS one rung up the generalization lattice (segment → '*').
    // Pure hash aggregates on data-bound keys; the second aggregate
    // runs only over the violating classes' summary rows (≤ |QI
    // domain|), not the raw table again.
    "k_anonymity" -> ((s, d) => {
      val k = 5L
      val cls = Tables.customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_rows"))
      val ok = cls.filter(col("n_rows") >= k)
        .select(col("nationkey"), col("segment"), col("n_rows"),
          lit(0L).as("level"), lit(true).as("anonymous"))
      val gen = cls.filter(col("n_rows") < k)
        .groupBy("nationkey").agg(sum(col("n_rows")).as("n_rows"))
        .select(col("nationkey"), lit("*").as("segment"), col("n_rows"),
          lit(1L).as("level"), (col("n_rows") >= k).as("anonymous"))
      ok.unionByName(gen).orderBy("level", "nationkey", "segment")
    }),

    // Cohort retention matrix (X-100): customers bucketed by first-
    // order month, activity counted per months-since-cohort — the
    // classic retention triangle. Shape: one distinct (customer,
    // month) aggregate, one per-customer min aggregate, one shuffle
    // join on the customer key (both sides hash-partition on
    // o_custkey, so the exchange is shared), one final aggregate on
    // the stratum-cardinality (cohort, months_since) key. The cohort
    // frame grows with the customer count — never broadcast-hinted.
    "cohort_retention" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("month"))
      val first = o.groupBy("o_custkey").agg(min(col("month")).as("cohort"))
      o.distinct()
        .join(first, "o_custkey")
        .groupBy(col("cohort"),
          months_between(col("month"), col("cohort")).cast("long").as("months_since"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort", "months_since")
    }),

    // Poisson bootstrap (X-102): the distributed bootstrap — classic
    // resampling draws n rows WITH replacement per replicate, which is
    // unshardable (a global multinomial); the at-scale form gives each
    // row an INDEPENDENT Poisson(1) weight per replicate, so every
    // replicate is just a weighted aggregate inside the same single
    // corpus scan. 16 replicates of mean order value: per-row weight
    // from a deterministic md5 draw (16-bit u) through the literal
    // Poisson(1) inverse-CDF thresholds (embedded identically in the
    // oracle — determinism over distributional polish, the MinHash
    // constant discipline), weighted sums in exact cents, mean in 1e6
    // fixed point (non-negative div = floor). Cost: ONE scan, 16× map
    // fan-out, partial agg collapses to ≤16 rows per task before the
    // exchange — replicate count never multiplies shuffle volume.
    "poisson_bootstrap" -> ((s, d) => {
      // cumulative 65536·P(Poisson(1) ≤ k), k = 0..6; ≥ t6 → 7
      val t = Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L, 65530L)
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"),
          Exact.cents(col("o_totalprice")).as("cents"))
        .select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(15))).as("b"))
        .withColumn("u", conv(substring(md5(concat(lit("graft-boot"),
          col("b").cast("string"), lit("-"), col("o_orderkey").cast("string"))),
          1, 4), 16, 10).cast("long"))
        .withColumn("w", t.zipWithIndex.foldRight(lit(7L): org.apache.spark.sql.Column) {
          case ((th, k), rest) => when(col("u") < th, k.toLong).otherwise(rest)
        })
      o.groupBy(col("b").cast("long").as("b"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("cents")).as("sum_cents"))
        .withColumn("mean_fx",
          expr("CAST(CAST(sum_cents AS DECIMAL(28,0)) * 1000000 div n_eff AS BIGINT)"))
        .orderBy("b")
    }),

    // Partition content fingerprints (X-103): an order-independent
    // 56-bit digest per month partition — the primitive that makes
    // snapshot_diff cheap at 100 TB: compare |partitions| fingerprints
    // first, row-diff only the partitions that moved. XOR of per-row
    // md5 hashes is commutative/associative, so the digest is
    // independent of row order AND of how rows are distributed across
    // tasks (any partial aggregation collapses identically); the row
    // hash covers only integer/string renderings (no float formatting
    // — cents as BIGINT) so both engines concat identical bytes. The
    // paired sum-checksum catches the XOR blind spot (a row included
    // twice cancels out of XOR but not out of the sum).
    "partition_fingerprint" -> ((s, d) => {
      val rh = conv(substring(md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Exact.cents(col("o_totalprice")),
        col("o_orderpriority"))), 1, 14), 16, 10).cast("long")
      Tables.orders(s, d)
        .withColumn("part_month", date_trunc("month", col("o_orderdate")))
        .withColumn("rh", rh)
        .groupBy("part_month")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(rh)").as("fingerprint"),
          // modular sum: Σ of 56-bit hashes overflows a BIGINT past
          // ~128 rows/partition, so accumulate in DECIMAL(38,0) and
          // reduce mod 2^56 — still order-independent and still
          // catches XOR's double-inclusion blind spot
          (sum(col("rh").cast("decimal(38,0)")) % lit(72057594037927936L))
            .cast("long").as("checksum"))
        .orderBy("part_month")
    }),

    // Incremental aggregate maintenance (X-104): the view-maintenance
    // algebra every streaming/lakehouse materialization relies on —
    // merge(agg(base), agg(delta)) must equal agg(base ∪ delta) when
    // the aggregate is a commutative monoid (count/sum are; that is
    // WHY incremental pipelines standardize on them and re-derive avg
    // at read time). The engine side maintains: a 5% md5-drawn "late
    // batch" is aggregated separately and merged into the base
    // aggregate by summing partials. The ORACLE side is the direct
    // recompute over everything — the hash match IS the proof the
    // merge algebra is exact (the global_ids specification pattern).
    // Scale shape: the delta aggregate touches only delta-sized data;
    // the merge is |strata| rows.
    "incremental_agg" -> ((s, d) => {
      import graft.operators.TextAnalysis.sampleBucket
      val o = Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate")).as("month"),
          Exact.cents(col("o_totalprice")).as("cents"),
          sampleBucket(col("o_orderkey"), "graft-late").as("bkt"))
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("month").agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"))
      agg(o.filter(col("bkt") >= 5)).unionByName(agg(o.filter(col("bkt") < 5)))
        .groupBy("month")
        .agg(sum(col("n_orders")).as("n_orders"), sum(col("sum_cents")).as("sum_cents"))
        .orderBy("month")
    }),

    // Small-file compaction planning (X-105): the maintenance job every
    // lakehouse table needs — pack many small files into target-sized
    // compaction bins. Planning runs entirely on FILE METADATA (here one
    // stats row per (month, day) "file" — what a table format's manifest
    // stores), never on row data: the frame is |files|-sized, so the
    // per-partition packing window is over an aggregate, not a scan (the
    // low-card-window gate's required shape). Assignment is sequential
    // packing — bin = ⌊rows-before ÷ target⌋ in day order — the
    // deterministic, shardable form of first-fit (true FFD is a
    // sequential greedy loop; cumulative-quotient packing gives the
    // same ≥½-full bins guarantee with one window).
    "compaction_plan" -> ((s, d) => {
      val files = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("part_month"),
          date_trunc("day", col("o_orderdate")).as("file_day"))
        .agg(count(lit(1)).as("n_rows"))
      val before = Window.partitionBy("part_month").orderBy("file_day")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cum_before", coalesce(sum(col("n_rows")).over(before), lit(0L)))
        .withColumn("bin", expr("CAST(cum_before div 128 AS BIGINT)"))
        .drop("cum_before")
        .groupBy("part_month", "bin")
        .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("bin_rows"),
          min(col("file_day")).as("first_day"), max(col("file_day")).as("last_day"))
        .orderBy("part_month", "bin")
    }),

    // CBO join-cardinality estimation (X-106): the Selinger formula
    // |A ⋈ B| ≈ n_A·n_B ÷ max(ndv_A, ndv_B) computed from per-table
    // stats, beside the REALIZED join size and the estimation error —
    // what ANALYZE statistics exist to predict. The realized size is
    // never computed by materializing the join: it is Σ_k cnt_A(k)·
    // cnt_B(k) over the two per-key COUNT frames — aggregate first,
    // join the (much smaller) key-count frames, one more 1-row fold.
    // Arithmetic in DECIMAL(38,0): n_A·n_B overflows BIGINT at real
    // table sizes. The exact countDistinct here is the stats-BUILD
    // cost (one shuffle per table at ANALYZE time, amortized over
    // every plan that reads the stat); X-55's HLL is the sketch form
    // a 100 TB ANALYZE would use. The verification arm (actual +
    // error) is the demonstration the query exists for — a production
    // optimizer consumes only the estimate.
    "join_size_estimate" -> ((s, d) => {
      import org.apache.spark.sql.DataFrame
      // r14 optimization note — examined, deliberately kept in the r13
      // shape. Two restructures were measured: (a) deriving n/ndv from
      // the actual-join's per-key grouped frame (guide §2.3, one
      // aggregation serving both consumers) — no runtime change,
      // because the join pushes isnotnull(k) below its exchange while
      // the stats branch must keep null-key groups (they count toward
      // n), so the subtrees differ and exchange reuse cannot fire;
      // (b) the same with the grouped frame MATERIALIZED — shuffle
      // write halves (32.7 → 16.3 MB at sf0.1) and each side scans
      // once instead of twice, but the eager checkpoint of the
      // ndv-sized frames costs more than it saves at bench scale
      // (2.79 → 3.94 s same-protocol min-of-2). At 100 TB, where the
      // duplicate SCAN dominates, (b) is the right form — revisit when
      // the inputs stop fitting in page cache.
      def stats(df: DataFrame, key: String, pre: String): DataFrame =
        df.agg(count(lit(1)).cast("decimal(38,0)").as(s"n_$pre"),
          countDistinct(col(key)).cast("decimal(38,0)").as(s"ndv_$pre"))
      def actual(a: DataFrame, ka: String, b: DataFrame, kb: String): DataFrame =
        a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("ca"))
          .join(b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cb")), "k")
          .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
            .cast("decimal(38,0)").as("actual"))
      def edge(nm: String, a: DataFrame, ka: String, b: DataFrame, kb: String): DataFrame =
        stats(a, ka, "l").crossJoin(broadcast(stats(b, kb, "r")))
          .crossJoin(broadcast(actual(a, ka, b, kb)))
          .select(lit(nm).as("edge"),
            col("n_l").cast("long").as("n_left"),
            col("n_r").cast("long").as("n_right"),
            greatest(col("ndv_l"), col("ndv_r")).cast("long").as("ndv_key"),
            expr("CAST(n_l * n_r div greatest(ndv_l, ndv_r) AS BIGINT)").as("est_rows"),
            col("actual").cast("long").as("actual_rows"),
            expr("CAST(CASE WHEN actual = 0 THEN NULL ELSE " +
              "abs(n_l * n_r div greatest(ndv_l, ndv_r) - actual) * 1000000 div actual " +
              "END AS BIGINT)").as("err_ppm"))
      edge("lineitem-orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionByName(edge("lineitem-part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(edge("orders-customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy("edge")
    }),

    // ABC / Pareto contribution analysis (X-129): revenue share per
    // nation in exact ppm, cumulative share in contribution order, and
    // the A/B/C class cut at 80% / 95% — the classic "which heads
    // carry the mass" BI screen. One star-join aggregate to the
    // |nations|-row frame (dims broadcast), then windows over that
    // tiny frame (allowlisted at the stratum bound). Shares and the
    // running sum stay exact integer cents/ppm; class boundaries
    // compare integers, so the cut is hash-stable.
    "abc_analysis" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val byNation = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(Exact.cents(col("o_totalprice")))
          .as("cents"))
      val tot = byNation.agg(sum(col("cents")).as("tt"))
      val wOrd = Window.orderBy(col("cents").desc, col("n_name"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byNation.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 div tt AS BIGINT)"))
        .withColumn("cum_cents", sum(col("cents")).over(wOrd))
        .withColumn("cum_ppm", expr("CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000 div tt AS BIGINT)"))
        .withColumn("abc_class",
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C"))
        .select("n_name", "cents", "share_ppm", "cum_ppm", "abc_class")
        .orderBy(col("cents").desc, col("n_name"))
    }),

    // Basket co-occurrence pairs (X-125): top co-purchased part pairs
    // by shared-order count — the candidate generator behind
    // collaborative filtering / market-basket mining. The pair
    // explosion that melts tasks in naive co-occurrence is bounded
    // here by the RIGHT dimension: pairs are generated WITHIN each
    // basket (C(|basket|,2), and baskets are small by schema — ≤7
    // lineitems — where a per-ITEM posting-list self-join would be
    // df², unbounded under item popularity skew). Chained generators
    // (transform + slice, the X-7 discipline) keep every intermediate
    // value O(|basket|); one hash aggregate on the pair key; top-20
    // as TakeOrdered under a total order (count desc, then the pair) —
    // never a global sort.
    "copurchase_pairs" -> ((s, d) => {
      // sort_array(collect_set(...)) ≡ the previous .distinct() +
      // sort_array(collect_list(...)) — same distinct-per-order sorted
      // basket — but in ONE exchange on l_orderkey with map-side
      // partial dedup, where the distinct-then-regroup form paid a
      // second full exchange on (l_orderkey, l_partkey) first (r14,
      // guide §2.4; measured 32.3 → ~17 MB shuffle write at sf0.1).
      val baskets = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      baskets
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"))
          .as("pr"))
        .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .groupBy("p1", "p2")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1"), col("p2"))
        .limit(20)
    }),

    // Largest-remainder budget apportionment (X-126): split a fixed
    // training budget (1M documents) across languages proportionally
    // to corpus mass with Hamilton's method — floor shares first, the
    // leftover seats to the largest remainders — the EXACT-integer
    // allocation a data-mixing pipeline needs (naive rounding of
    // n_l·B/N drifts from the budget; largest-remainder conserves it
    // by construction, asserted by the oracle's total). All frames
    // past the one |langs|-key aggregate are stratum-cardinality; the
    // remainder-rank window runs over that tiny frame (allowlisted).
    "budget_allocation" -> ((s, d) => {
      val B = 1000000L
      val byLang = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("nn"))
      val based = byLang.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"n_docs * $B div nn"))
        .withColumn("rem", expr(s"(n_docs * $B) % nn"))
      val short = based.agg((lit(B) - sum(col("base"))).as("k"))
      based.crossJoin(broadcast(short))
        .withColumn("rrk", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))).cast("long"))
        .withColumn("quota", col("base") + when(col("rrk") <= col("k"), 1L).otherwise(0L))
        .select("lang", "n_docs", "quota")
        .orderBy("lang")
    }),

    // Point-in-time join against the SCD2 dimension (X-124): each
    // order joined to the dimension version VALID AT its order date —
    // the temporal join every warehouse/feature-store read path runs
    // against a type-2 dimension, and the classic trap: written as a
    // range theta-join (valid_from <= ts < valid_to) Spark plans a
    // nested loop. The scale shape is X-17's as-of composition: tag
    // version-change rows and fact rows, ONE shuffle on the customer
    // key, one window pass carrying the latest version forward
    // (ties: highest same-day version wins, = interval semantics with
    // zero-length same-day intervals skipped). Because the dimension
    // here is BUILT from the same order history, the join is
    // self-verifying: n_match counts orders whose as-of priority
    // equals their actual priority (mismatches can only arise from
    // same-day flips, where day granularity genuinely can't order).
    "pit_join" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority"))
      // the dimension IS scd2_dim's change frame (shared build —
      // see scd2Changes)
      val changes = scd2Changes(s, d)
        .select(col("o_custkey"), col("o_orderdate").as("valid_from"),
          col("version"), col("o_orderpriority").as("dim_priority"))
      graft.operators.AsOf.joinPrior(o, changes, "o_custkey",
          "o_orderdate", "valid_from",
          rightVals = Seq("version", "dim_priority"), tiebreak = "version")
        .groupBy(col("asof_version").as("version"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("asof_dim_priority") === col("o_orderpriority"), 1L)
            .otherwise(0L)).as("n_match"))
        .orderBy("version")
    }),

    // Exact CUSUM changepoint statistic (X-121): the cumulative
    // deviation of daily revenue from the global per-order mean — the
    // classic drift detector whose PEAK locates the most likely
    // changepoint (Page '54). Kept integer-exact by never materializing
    // the mean: the deviation prefix Σ(x−μ) = (N·P_t − C_t·S)/N is
    // carried as its NUMERATOR in DECIMAL(38,0) (P_t, C_t = cents/count
    // prefixes; S, N = 1-row totals), so peak selection compares exact
    // integers and only the reported cents column divides. One daily
    // hash aggregate, then windows over the |days|-row frame
    // (allowlisted with that bound) + a 1-row totals broadcast.
    "revenue_cusum" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_t"),
          sum(Exact.cents(col("o_totalprice")))
            .as("s_t"))
      val tot = daily.agg(sum(col("n_t")).cast("decimal(38,0)").as("nn"),
        sum(col("s_t")).cast("decimal(38,0)").as("ss"))
      val wDay = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      daily.crossJoin(broadcast(tot))
        .withColumn("p_t", sum(col("s_t")).over(wDay).cast("decimal(38,0)"))
        .withColumn("c_t", sum(col("n_t")).over(wDay).cast("decimal(38,0)"))
        .withColumn("num", col("nn") * col("p_t") - col("c_t") * col("ss"))
        .withColumn("cusum_cents", expr("CAST(num div nn AS BIGINT)"))
        .withColumn("is_peak", abs(col("num")) === max(abs(col("num"))).over(wAll))
        .select("day", "n_t", "s_t", "cusum_cents", "is_peak")
        .orderBy("day")
    }),

    // Zone-map scan-pruning audit (X-122): given per-partition min/max
    // statistics (the zone maps an Iceberg/Delta manifest stores —
    // |partitions| METADATA rows from one aggregate), how much of the
    // table can each of a set of literal range predicates SKIP without
    // reading data? A partition is scanned iff its [min,max] overlaps
    // the range; everything else is pruned by metadata alone. Probes
    // cover BOTH a clustered dimension (order date — month partitions
    // have narrow date spans, so date ranges prune almost everything)
    // and an unclustered one (price — every partition spans ~the full
    // price domain, so nothing prunes): the measured demonstration of
    // WHY the second predicate key needs X-86's z-ordering. The probe
    // set is a literal VALUES frame crossed against the stats frame —
    // |preds|·|partitions| metadata rows of pure arithmetic.
    "scan_prune_audit" -> ((s, d) => {
      val cents = Exact.cents(col("o_totalprice"))
      val dayN = datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
        .cast("long")
      val stats = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("part_month"))
        .agg(count(lit(1)).as("n_rows"),
          min(dayN).as("lo_day"), max(dayN).as("hi_day"),
          min(cents).as("lo_c"), max(cents).as("hi_c"))
      // day numbers are days since 1992-01-01: Q1'95 = [1096, 1185]
      val preds = s.sql(
        """SELECT * FROM VALUES
          |  ('day_q1_1995',  'day',   CAST(1096 AS BIGINT), CAST(1185 AS BIGINT)),
          |  ('day_one_week', 'day',   CAST(1096 AS BIGINT), CAST(1102 AS BIGINT)),
          |  ('price_mid',    'cents', CAST(10000000 AS BIGINT), CAST(20000000 AS BIGINT)),
          |  ('price_low',    'cents', CAST(0 AS BIGINT), CAST(2000000 AS BIGINT))
          |AS t(pred, dim, p_lo, p_hi)""".stripMargin)
      stats.crossJoin(broadcast(preds))
        .withColumn("scan",
          when(col("dim") === "day",
            col("hi_day") >= col("p_lo") && col("lo_day") <= col("p_hi"))
            .otherwise(col("hi_c") >= col("p_lo") && col("lo_c") <= col("p_hi")))
        .groupBy("pred")
        .agg(count(lit(1)).as("n_partitions"),
          sum(when(!col("scan"), 1L).otherwise(0L)).as("n_pruned"),
          sum(when(!col("scan"), col("n_rows")).otherwise(0L)).as("rows_pruned"),
          sum(col("n_rows")).as("rows_total"))
        .withColumn("pruned_ppm",
          expr("CAST(rows_pruned * 1000000 div rows_total AS BIGINT)"))
        .orderBy("pred")
    }),

    // Winsorized mean (X-119): the robust mean that survives fat tails
    // by CLIPPING at exact per-group p5/p95 (percentile_disc values)
    // instead of dropping rows — the screen a metrics pipeline applies
    // before averaging anything money-shaped. Composition of two
    // existing disciplines: the clip bounds come from ONE two-phase
    // Quantile selection (both ranks in the same pass — never a
    // per-group sort), join back broadcast (|groups| rows by
    // construction), then one clipped aggregate in exact cents. The
    // raw mean ships beside it so the query also REPORTS how much the
    // tails were moving the naive number.
    "winsorized_mean" -> ((s, d) => {
      val cents = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          Exact.cents(col("o_totalprice")).as("p_c"),
          col("o_orderkey"))
      val sel = Quantile.selectRanks(cents, "o_orderpriority", "p_c", "o_orderkey",
        n => Seq(Quantile.idiv(n + lit(19L), 20),
          Quantile.idiv(n * lit(19L) + lit(19L), 20)))
      val bounds = sel.groupBy("o_orderpriority")
        .agg(min(col("p_c")).as("lo_c"), max(col("p_c")).as("hi_c"))
      cents.join(broadcast(bounds), "o_orderpriority")
        .withColumn("w_c", least(greatest(col("p_c"), col("lo_c")), col("hi_c")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          max(col("lo_c")).as("p05_cents"), max(col("hi_c")).as("p95_cents"),
          (sum(col("w_c")).cast("double") / count(lit(1)) / lit(100.0)).as("win_mean"),
          (sum(col("p_c")).cast("double") / count(lit(1)) / lit(100.0)).as("raw_mean"))
        .orderBy("o_orderpriority")
    }),

    // Exact OLS trend slope (X-112): per-priority linear trend of order
    // value over time via the closed-form normal equations — slope =
    // (n·Σxy − Σx·Σy) ÷ (n·Σx² − (Σx)²) — the drift statistic a
    // monitoring pipeline fits per stratum to answer "is this metric
    // trending, and how fast" without any iterative optimizer. ONE
    // hash aggregate over five monoid sums (the incremental_agg
    // algebra — this regression is maintainable by partial merge),
    // then arithmetic on the |groups|-row frame. All sums in
    // DECIMAL(38,0): x = days since 1992-01-01 (≤ ~2.5k), y = exact
    // cents; n·Σxy·10⁶ stays inside 38 digits through ~10¹⁰ rows/group
    // — past that, re-origin x to the group's min day (shrinks Σx
    // terms by orders of magnitude) before widening anything. The
    // slope ships as exact fixed-point µcents/day (both engines
    // truncate integer division toward zero); the only IEEE op is the
    // final display division of identical integers.
    "ols_trend" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val base = Tables.orders(s, d).select(
        col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
          .cast(dec).as("x"),
        Exact.cents(col("o_totalprice"))
          .cast(dec).as("y"))
      base.groupBy("o_orderpriority")
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("o_orderpriority"),
          col("n").cast("long").as("n_orders"),
          expr(s"CAST((n * sxy - sx * sy) * 1000000 div " +
            "nullif(n * sxx - sx * sx, 0) AS BIGINT)").as("slope_fx"),
          expr("CAST(sy div n AS BIGINT)").as("mean_cents"))
        .withColumn("slope_cents_per_day",
          col("slope_fx").cast("double") / 1e6)
        .orderBy("o_orderpriority")
    }),

    // CDC MERGE apply + digest proof (X-113): the consumer of X-97's
    // change classes — reconstruct snapshot v2 from v1 plus the delta
    // (DELETE keys dropped by an anti join, INSERT/UPDATE rows unioned
    // in), then PROVE the reconstruction equals the directly-read v2
    // with per-status row counts, cent sums, and the X-103
    // order-independent XOR fingerprint computed over BOTH sides. The
    // merge is the row-level maintenance path a lakehouse MERGE runs:
    // every join/aggregate keys on the growing order key or the status
    // stratum — no hint anywhere (neither a snapshot nor a delta of a
    // 100 TB table is assumed broadcastable; AQE may still broadcast a
    // measured-small delta at runtime).
    "merge_apply" -> ((s, d) => {
      // snapshots from the ONE shared synthesis (snapshotPair) — this
      // query's documented premise is that it consumes X-97's change
      // classes, which only holds if the two queries can't drift
      val (old, neu) = snapshotPair(s, d)
      // the CDC delta, exactly as a MERGE statement consumes it:
      // upserts carry v2 values; deletes carry only keys. MATERIALIZED:
      // the full-outer join of two fact-sized snapshots is the heaviest
      // shuffle here, and both `upserts` and `touched` consume it —
      // without the cut it executes twice (different parent operators,
      // no exchange reuse).
      val joined = Scratch.cut(
        neu.select(col("o_orderkey").as("k_new"),
          col("o_orderstatus").as("st_new"), col("cents").as("c_new"))
        .join(old.select(col("o_orderkey").as("k_old"),
          col("o_orderstatus").as("st_old"), col("cents").as("c_old")),
          col("k_new") === col("k_old"), "full_outer"))
      val upserts = joined
        .filter(col("k_old").isNull ||
          (col("k_new").isNotNull &&
            (col("c_new") =!= col("c_old") || col("st_new") =!= col("st_old"))))
        .select(col("k_new").as("o_orderkey"), col("st_new").as("o_orderstatus"),
          col("c_new").as("cents"))
      val touched = joined
        .filter(col("k_new").isNull || col("k_old").isNull ||
          col("c_new") =!= col("c_old") || col("st_new") =!= col("st_old"))
        .select(coalesce(col("k_new"), col("k_old")).as("o_orderkey"))
      val merged = old.join(touched, Seq("o_orderkey"), "left_anti")
        .unionByName(upserts)
      def digest(df: org.apache.spark.sql.DataFrame, side: String) = {
        val rh = conv(substring(md5(concat_ws("|",
          col("o_orderkey"), col("cents"))), 1, 14), 16, 10).cast("long")
        df.withColumn("rh", rh).groupBy("o_orderstatus")
          .agg(count(lit(1)).as(s"n_$side"),
            sum(col("cents")).as(s"cents_$side"),
            expr("bit_xor(rh)").as(s"fp_$side"))
      }
      digest(merged, "merged").join(digest(neu, "direct"), "o_orderstatus")
        .withColumn("digests_match",
          col("n_merged") === col("n_direct") &&
          col("cents_merged") === col("cents_direct") &&
          col("fp_merged") === col("fp_direct"))
        .orderBy("o_orderstatus")
    }),
  )

  import Exact._

  /** X-92/X-124 shared SCD2 change-point build: per-customer
    * order-priority change rows under the (o_orderdate, o_orderkey)
    * total order, with 1-based version numbers. ONE definition —
    * scd2_dim compresses it to validity intervals and pit_join
    * re-joins facts against it as-of; a second inline derivation
    * could silently drift (each query hash-matches its own oracle, so
    * the gate can't see cross-query divergence) and would quietly
    * stop testing what scd2_dim actually builds. */
  private def scd2Changes(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("version", row_number().over(w).cast("long"))
  }

  /** X-97/X-113 shared snapshot synthesis: two versions of `orders`
    * derived by deterministic md5 draws (2% inserted-since, 2%
    * deleted-since, 3% value-drifted). ONE definition — snapshot_diff
    * computes the change classes and merge_apply consumes them, which
    * only means anything if both see the SAME snapshots (each query
    * hash-matches its own oracle, so the gate is blind to drift
    * between them). Returns (old, new), both (o_orderkey,
    * o_orderstatus, cents). */
  private def snapshotPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.operators.TextAnalysis.sampleBucket
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      Exact.cents(col("o_totalprice")).as("cents"))
    val old = o.filter(sampleBucket(col("o_orderkey"), "graft-snap-ins") >= 2)
      .withColumn("cents",
        when(sampleBucket(col("o_orderkey"), "graft-snap-upd") < 3,
          col("cents") - 100L).otherwise(col("cents")))
    val neu = o.filter(sampleBucket(col("o_orderkey"), "graft-snap-del") >= 2)
    (old, neu)
  }

  def oracle: Map[String, String] = Map(
    "bloom_semi_prune" -> {
      import Bloom.{sqlKeyHash, sqlBitPos}
      val kh = sqlKeyHash("p_partkey")
      val posUnion = (0 until Bloom.K)
        .map(i => s"SELECT ${sqlBitPos(kh, i)} AS p FROM keys")
        .mkString("\n  UNION ALL ")
      def probe(alias: String, i: Int) = {
        val bp = sqlBitPos("kh", i)
        s"JOIN cells $alias ON $alias.word = $bp // 32 AND " +
          s"($alias.bits & (CAST(1 AS BIGINT) << CAST($bp % 32 AS INT))) != 0"
      }
      s"""WITH keys AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
         |pos AS (
         |  $posUnion),
         |cells AS (
         |  SELECT p // 32 AS word,
         |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
         |  FROM pos GROUP BY 1),
         |l AS (
         |  SELECT l_returnflag, l_partkey, l_extendedprice, l_discount,
         |         ${sqlKeyHash("l_partkey")} AS kh
         |  FROM lineitem),
         |cand AS (
         |  SELECT l.* FROM l
         |  ${probe("c0", 0)}
         |  ${probe("c1", 1)}),
         |cstats AS (SELECT l_returnflag, count(*) AS n_candidates FROM cand GROUP BY 1),
         |m AS (SELECT * FROM cand WHERE l_partkey IN (SELECT p_partkey FROM keys)),
         |magg AS (
         |  SELECT l_returnflag, count(*) AS n_matched,
         |         ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue
         |  FROM m GROUP BY 1)
         |SELECT l_returnflag, n_candidates, n_matched,
         |       n_candidates - n_matched AS n_false_pos, revenue
         |FROM magg JOIN cstats USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },

    // Same md5 request-set draw and key cascade.
    "erasure_audit" ->
      """WITH subj AS (
        |  SELECT c_custkey FROM customer
        |  WHERE CAST('0x' || substr(md5('graft-erase' || c_custkey), 1, 4) AS BIGINT) % 100 < 2),
        |oh AS (SELECT o_orderkey FROM orders JOIN subj ON o_custkey = c_custkey)
        |SELECT * FROM (
        |  SELECT 'customer' AS table_name, count(*) AS n_rows FROM subj
        |  UNION ALL SELECT 'orders', count(*) FROM oh
        |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem JOIN oh ON l_orderkey = o_orderkey)
        |ORDER BY table_name""".stripMargin,

    // Same normalization, interleave, and bucket arithmetic; the bit
    // interleave uses multiplies by 4^i (equal to the shifts there).
    "zorder_layout" -> {
      val morton = (0 until 16).map(i =>
        s"((xs >> $i) & 1) * ${1L << (2 * i)} + ((ys >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      s"""WITH o AS (SELECT o_custkey,
         |             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS day_num
         |           FROM orders),
         |b AS (SELECT min(o_custkey) AS ck_mn, max(o_custkey) AS ck_mx,
         |             min(day_num) AS d_mn, max(day_num) AS d_mx
         |      FROM o),
         |s AS (SELECT o.o_custkey, o.day_num,
         |             CASE WHEN b.ck_mx > b.ck_mn
         |                  THEN ((o.o_custkey - b.ck_mn) * 65535) // (b.ck_mx - b.ck_mn)
         |                  ELSE 0 END AS xs,
         |             CASE WHEN b.d_mx > b.d_mn
         |                  THEN ((o.day_num - b.d_mn) * 65535) // (b.d_mx - b.d_mn)
         |                  ELSE 0 END AS ys
         |      FROM o CROSS JOIN b),
         |z AS (SELECT o_custkey, day_num, ys, $morton AS zkey FROM s),
         |lay AS (
         |  SELECT 'zorder' AS layout, zkey // 4194304 AS bucket, o_custkey, day_num FROM z
         |  UNION ALL
         |  SELECT 'bydate' AS layout, ys // 64 AS bucket, o_custkey, day_num FROM z)
         |SELECT layout, bucket, count(*) AS n_rows,
         |       CAST(max(o_custkey) - min(o_custkey) AS BIGINT) AS ck_span,
         |       CAST(max(day_num) - min(day_num) AS BIGINT) AS day_span
         |FROM lay GROUP BY layout, bucket
         |ORDER BY layout, bucket""".stripMargin
    },

    "zscore_features" ->
      s"""WITH stats AS (
         |  SELECT c_mktsegment, count(*) AS n,
         |         ${sqlDecSum("c_acctbal")} AS s1,
         |         ${sqlDecSumSq("c_acctbal")} AS s2
         |  FROM customer GROUP BY 1),
         |b AS (
         |  SELECT c_mktsegment, s1 / n AS mean,
         |         sqrt((n * s2 - s1 * s1) / (n * (n - 1))) AS std
         |  FROM stats)
         |SELECT c_custkey, c.c_mktsegment, c_acctbal,
         |       (c_acctbal - mean) / std AS z,
         |       abs((c_acctbal - mean) / std) > 2 AS is_outlier
         |FROM customer c JOIN b USING (c_mktsegment)
         |ORDER BY c_custkey""".stripMargin,

    "open_orders_by_day" ->
      """WITH closes AS (
        |  SELECT l_orderkey, max(date_trunc('day', l_shipdate)) AS close_day
        |  FROM lineitem GROUP BY l_orderkey),
        |spans AS (
        |  SELECT date_trunc('day', o.o_orderdate) AS open_day,
        |         greatest(c.close_day, date_trunc('day', o.o_orderdate)) AS close_day
        |  FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey),
        |deltas AS (
        |  SELECT open_day AS day, 1 AS delta FROM spans
        |  UNION ALL
        |  SELECT close_day + INTERVAL 1 DAY AS day, -1 AS delta FROM spans),
        |daily AS (
        |  SELECT day,
        |         CAST(SUM(delta) AS BIGINT) AS net,
        |         CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened,
        |         CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
        |  FROM deltas GROUP BY day)
        |SELECT day, n_opened, n_closed,
        |       CAST(SUM(net) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_open
        |FROM daily ORDER BY day""".stripMargin,

    "price_outliers_iqr" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        |  FROM orders),
        |q AS (
        |  SELECT o_orderpriority, max(n) AS n_orders,
        |         MIN(CASE WHEN rn = (n + 3) // 4 THEN o_totalprice END) AS q1d,
        |         MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN o_totalprice END) AS q3d
        |  FROM r WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
        |  GROUP BY o_orderpriority),
        |b AS (
        |  SELECT o_orderpriority, n_orders,
        |         CAST(q1d AS DECIMAL(12,2)) AS q1, CAST(q3d AS DECIMAL(12,2)) AS q3
        |  FROM q)
        |SELECT o.o_orderpriority, max(b.n_orders) AS n_orders,
        |       CAST(max(b.q1) AS DOUBLE) AS q1_price,
        |       CAST(max(b.q3) AS DOUBLE) AS q3_price,
        |       CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DECIMAL(12,2))
        |           < b.q1 - 1.5 * (b.q3 - b.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DECIMAL(12,2))
        |           > b.q3 + 1.5 * (b.q3 - b.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM orders o JOIN b USING (o_orderpriority)
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,

    "column_profile" ->
      """WITH u AS (
        |  SELECT 'o_totalprice' AS col_name, CAST(o_totalprice AS DOUBLE) AS v_num,
        |         CAST(NULL AS VARCHAR) AS v_str FROM orders
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS DOUBLE), NULL FROM orders
        |  UNION ALL SELECT 'o_orderpriority', NULL, o_orderpriority FROM orders
        |  UNION ALL SELECT 'o_orderdate', NULL, strftime(o_orderdate, '%Y-%m-%d') FROM orders)
        |SELECT col_name, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN v_num IS NULL AND v_str IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |       CAST(count(DISTINCT v_num) + count(DISTINCT v_str) AS BIGINT) AS n_distinct,
        |       min(v_num) AS min_num, max(v_num) AS max_num,
        |       min(v_str) AS min_str, max(v_str) AS max_str
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    "brand_topk_agg" ->
      """WITH r AS (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
        |              ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rk
        |  FROM part)
        |SELECT p_brand, rk, p_partkey, p_retailprice FROM r
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,

    "grouping_sets_revenue" ->
      """SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        |       CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rflag, lstatus""".stripMargin,

    "order_value_p90" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
        |         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        |  FROM orders)
        |SELECT o_orderpriority, n AS n_orders, o_totalprice AS p90_price
        |FROM r WHERE rn = (9 * n + 9) // 10
        |ORDER BY o_orderpriority""".stripMargin,

    // Bottom-k sample mirror: the identical k rows drawn by one window
    // over the same md5 priority; p90-of-sample by (value, key) rank —
    // the VALUE at the rank is tie-order independent, matching the
    // Spark side's value-only array_sort.
    "order_value_p90_sketch" ->
      s"""WITH pri AS (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |         CAST('0x' || substr(md5('graft-p90' || CAST(o_orderkey AS VARCHAR)), 1, 14)
         |           AS BIGINT) % 1000000007 AS pri
         |  FROM orders),
         |samp AS (
         |  SELECT * FROM (
         |    SELECT o_orderpriority, o_orderkey, o_totalprice,
         |           row_number() OVER (PARTITION BY o_orderpriority
         |             ORDER BY pri, o_orderkey) AS rn
         |    FROM pri)
         |  WHERE rn <= $P90SampleK),
         |ap AS (
         |  SELECT o_orderpriority, o_totalprice AS approx_p90 FROM (
         |    SELECT o_orderpriority, o_totalprice,
         |           row_number() OVER (PARTITION BY o_orderpriority
         |             ORDER BY o_totalprice, o_orderkey) AS vr,
         |           count(*) OVER (PARTITION BY o_orderpriority) AS m
         |    FROM samp)
         |  WHERE vr = (9 * m + 9) // 10),
         |ex AS (
         |  SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
         |         o_totalprice AS exact_p90 FROM (
         |    SELECT o_orderpriority, o_totalprice,
         |           row_number() OVER (PARTITION BY o_orderpriority
         |             ORDER BY o_totalprice, o_orderkey) AS rn,
         |           count(*) OVER (PARTITION BY o_orderpriority) AS n
         |    FROM orders)
         |  WHERE rn = (9 * n + 9) // 10)
         |SELECT ex.o_orderpriority, n_orders, exact_p90, approx_p90,
         |       abs(approx_p90 - exact_p90) / exact_p90 AS rel_err
         |FROM ex JOIN ap USING (o_orderpriority)
         |ORDER BY o_orderpriority""".stripMargin,

    "rolling_revenue_7d" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec,
        |         date_diff('day', DATE '1992-01-01', o_orderdate) AS day_num
        |  FROM orders GROUP BY o_orderdate),
        |w AS (
        |  SELECT day, rev_dec,
        |         SUM(rev_dec) OVER (ORDER BY day_num
        |           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rev_7d_dec,
        |         CAST(count(*) OVER (ORDER BY day_num
        |           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_in_win
        |  FROM daily)
        |SELECT day, CAST(rev_dec AS DOUBLE) AS day_revenue,
        |       CAST(rev_7d_dec AS DOUBLE) AS rev_7d, days_in_win
        |FROM w ORDER BY day""".stripMargin,

    "median_order_value" ->
      s"""WITH r AS (
         |  SELECT o_orderpriority, o_totalprice,
         |         CAST(row_number() OVER (PARTITION BY o_orderpriority
         |              ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
         |  FROM orders)
         |SELECT o_orderpriority, max(n) AS n_orders,
         |       ${Exact.sqlDecAvg("o_totalprice")} AS median_price
         |FROM r
         |WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Same doubled-cents trick as the Spark side: med2 = 2·median,
    // dev2 = 2·|v−med|, mad4 = 4·MAD, all exact BIGINT until the two
    // final divisions.
    "order_value_mad" ->
      """WITH c AS (
        |  SELECT o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p_c,
        |         o_orderkey
        |  FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY p_c, o_orderkey) AS rn,
        |             count(*) OVER (PARTITION BY o_orderpriority) AS n
        |      FROM c),
        |m AS (SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
        |             CAST(CASE WHEN count(*) = 1 THEN 2 * sum(p_c) ELSE sum(p_c) END AS BIGINT) AS med2_c
        |      FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |      GROUP BY o_orderpriority),
        |d AS (SELECT c.o_orderpriority, abs(2 * c.p_c - m.med2_c) AS dev2_c, c.o_orderkey
        |      FROM c JOIN m USING (o_orderpriority)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY dev2_c, o_orderkey) AS rn,
        |              count(*) OVER (PARTITION BY o_orderpriority) AS n
        |       FROM d),
        |m2 AS (SELECT o_orderpriority,
        |              CAST(CASE WHEN count(*) = 1 THEN 2 * sum(dev2_c) ELSE sum(dev2_c) END AS BIGINT) AS mad4_c
        |       FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |       GROUP BY o_orderpriority)
        |SELECT m.o_orderpriority, m.n_orders,
        |       CAST(m.med2_c AS DOUBLE) / 200.0 AS median_price,
        |       CAST(m2.mad4_c AS DOUBLE) / 400.0 AS mad_price
        |FROM m JOIN m2 USING (o_orderpriority)
        |ORDER BY m.o_orderpriority""".stripMargin,

    "customer_quartiles" ->
      s"""WITH q AS (
         |  SELECT c_mktsegment, c_acctbal,
         |         CAST(ntile(4) OVER (PARTITION BY c_mktsegment
         |              ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
         |  FROM customer)
         |SELECT c_mktsegment, quartile, count(*) AS n_customers,
         |       ${sqlDecSum("c_acctbal")} AS sum_bal,
         |       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
         |FROM q GROUP BY c_mktsegment, quartile
         |ORDER BY c_mktsegment, quartile""".stripMargin,

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDecSum("l_quantity")} AS sum_qty,
         |  ${sqlDecSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlRevenue("l_extendedprice", "l_discount")} AS sum_disc_price,
         |  ${sqlCharge("l_extendedprice", "l_discount", "l_tax")} AS sum_charge,
         |  ${sqlDecAvg("l_quantity")} AS avg_qty,
         |  ${sqlDecAvg("l_extendedprice")} AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "revenue_by_nation" ->
      s"""SELECT r_name, n_name,
         |  ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "monthly_revenue" ->
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         |  count(*) AS n_orders, ${sqlDecSum("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "rollup_region_nation" ->
      s"""SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
         |  count(*) AS n_items,
         |  ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name) ORDER BY region, nation""".stripMargin,

    "cube_status_priority" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n_orders
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "cust_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1998)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "priority_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "brand_revenue" ->
      s"""SELECT p_brand,
         |  ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue,
         |  ${sqlDecSum("l_quantity")} AS sum_qty, count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "ship_year_stats" ->
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |  count(*) AS n_items, ${sqlDecSum("l_extendedprice")} AS sum_price,
         |  CAST(sum(CASE WHEN dayofweek(l_shipdate) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend
         |FROM lineitem GROUP BY 1 ORDER BY ship_year""".stripMargin,

    "order_cohorts" ->
      """WITH c97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
        |     c98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT 'both' AS cohort, count(*) AS n_cust FROM (SELECT * FROM c97 INTERSECT SELECT * FROM c98)
        |UNION ALL
        |SELECT 'only_1997', count(*) FROM (SELECT * FROM c97 EXCEPT SELECT * FROM c98)
        |UNION ALL
        |SELECT 'only_1998', count(*) FROM (SELECT * FROM c98 EXCEPT SELECT * FROM c97)
        |ORDER BY cohort""".stripMargin,

    // Same change-point detection and interval close; row_number cast
    // to BIGINT to match the Spark long.
    "scd2_dim" ->
      """WITH h AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |              ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |c AS (SELECT * FROM h WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority,
        |       CAST(row_number() OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version,
        |       o_orderdate AS valid_from,
        |       lead(o_orderdate) OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |       lead(o_orderdate) OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
        |FROM c ORDER BY o_custkey, version""".stripMargin,

    // The oracle locates the same ntile cutoff ranks with the one-window
    // form (fine at oracle scale; the engine side is the two-phase
    // selection). Cutoff ranks: i·⌊n/8⌋ + min(i, n mod 8) for i < 8,
    // plus n itself as the top bin's boundary.
    "equidepth_hist" ->
      """WITH c AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p_c,
        |         o_orderkey
        |  FROM orders),
        |r AS (SELECT p_c,
        |             CAST(row_number() OVER (ORDER BY p_c, o_orderkey) AS BIGINT) AS rn,
        |             CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM c),
        |cut AS (SELECT DISTINCT CASE WHEN i = 8 THEN n
        |                             ELSE i * (n // 8) + least(i, n % 8) END AS rn
        |        FROM range(1, 9) t(i), (SELECT max(n) AS n FROM r)),
        |sel AS (SELECT r.rn, r.p_c FROM r JOIN cut USING (rn)),
        |b AS (SELECT rn AS hi_rank, p_c AS hi_cents,
        |             CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS bin,
        |             CAST(coalesce(lag(rn) OVER (ORDER BY rn), 0) AS BIGINT) AS lo_rank
        |      FROM sel)
        |SELECT bin, hi_rank, hi_rank - lo_rank AS n_rows, hi_cents
        |FROM b ORDER BY bin""".stripMargin,

    // Same DISTINCT-parent left joins and null counts per FK edge.
    "fk_orphans" ->
      """SELECT * FROM (
        |  SELECT 'customer->nation' AS fk_edge, count(*) AS n_child,
        |         CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
        |  FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |    ON c_nationkey = p.k
        |  UNION ALL
        |  SELECT 'supplier->nation', count(*),
        |         CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM supplier LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |    ON s_nationkey = p.k
        |  UNION ALL
        |  SELECT 'orders->customer', count(*),
        |         CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        |    ON o_custkey = p.k
        |  UNION ALL
        |  SELECT 'lineitem->orders', count(*),
        |         CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |    ON l_orderkey = p.k
        |  UNION ALL
        |  SELECT 'lineitem->part', count(*),
        |         CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON l_partkey = p.k
        |  UNION ALL
        |  SELECT 'lineitem->supplier', count(*),
        |         CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
        |    ON l_suppkey = p.k)
        |ORDER BY fk_edge""".stripMargin,

    // Same md5 snapshot draws, full-outer presence/value compare, and
    // integer-cents delta.
    "snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |           FROM orders),
        |old AS (SELECT o_orderkey AS k_old, o_orderstatus AS st_old,
        |               CASE WHEN CAST('0x' || substr(md5('graft-snap-upd' || o_orderkey), 1, 4) AS BIGINT) % 100 < 3
        |                    THEN cents - 100 ELSE cents END AS c_old
        |        FROM o
        |        WHERE CAST('0x' || substr(md5('graft-snap-ins' || o_orderkey), 1, 4) AS BIGINT) % 100 >= 2),
        |new AS (SELECT o_orderkey AS k_new, o_orderstatus AS st_new, cents AS c_new
        |        FROM o
        |        WHERE CAST('0x' || substr(md5('graft-snap-del' || o_orderkey), 1, 4) AS BIGINT) % 100 >= 2),
        |j AS (SELECT CASE WHEN k_old IS NULL THEN 'insert'
        |                  WHEN k_new IS NULL THEN 'delete'
        |                  WHEN c_new <> c_old OR st_new <> st_old THEN 'update'
        |                  ELSE 'unchanged' END AS change_class,
        |             coalesce(c_new, 0) - coalesce(c_old, 0) AS delta
        |      FROM new FULL OUTER JOIN old ON k_new = k_old)
        |SELECT change_class, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(delta) AS BIGINT) AS delta_cents
        |FROM j GROUP BY change_class ORDER BY change_class""".stripMargin,

    // Same class counts and one-step generalization of the violators.
    "k_anonymity" ->
      """WITH cls AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS segment,
        |         CAST(count(*) AS BIGINT) AS n_rows
        |  FROM customer GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT nationkey, segment, n_rows, CAST(0 AS BIGINT) AS level,
        |         true AS anonymous
        |  FROM cls WHERE n_rows >= 5
        |  UNION ALL
        |  SELECT nationkey, '*', CAST(sum(n_rows) AS BIGINT), CAST(1 AS BIGINT),
        |         sum(n_rows) >= 5
        |  FROM cls WHERE n_rows < 5 GROUP BY nationkey)
        |ORDER BY level, nationkey, segment""".stripMargin,

    // Same distinct-activity / first-month join; month arithmetic on
    // month-truncated values is exact in both engines.
    "cohort_retention" ->
      """WITH o AS (SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS month
        |           FROM orders),
        |f AS (SELECT o_custkey, min(month) AS cohort FROM o GROUP BY o_custkey)
        |SELECT cohort, CAST(date_diff('month', cohort, month) AS BIGINT) AS months_since,
        |       CAST(count(*) AS BIGINT) AS n_active
        |FROM o JOIN f USING (o_custkey)
        |GROUP BY cohort, months_since ORDER BY cohort, months_since""".stripMargin,

    // Same md5 16-bit draw and literal inverse-CDF thresholds; every
    // // operand is non-negative (floor = truncate there).
    "poisson_bootstrap" ->
      """WITH e AS (
        |  SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |         b
        |  FROM orders, (SELECT unnest(range(0, 16)) AS b) r),
        |u AS (SELECT b, cents,
        |             CAST('0x' || substr(md5('graft-boot' || b || '-' || o_orderkey), 1, 4) AS BIGINT) AS u
        |      FROM e),
        |w AS (SELECT b, cents,
        |             CASE WHEN u < 24109 THEN 0 WHEN u < 48218 THEN 1
        |                  WHEN u < 60273 THEN 2 WHEN u < 64291 THEN 3
        |                  WHEN u < 65296 THEN 4 WHEN u < 65497 THEN 5
        |                  WHEN u < 65530 THEN 6 ELSE 7 END AS w
        |      FROM u)
        |SELECT CAST(b AS BIGINT) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
        |       CAST(sum(w * cents) AS BIGINT) AS sum_cents,
        |       CAST((sum(w * cents) * 1000000) // sum(w) AS BIGINT) AS mean_fx
        |FROM w GROUP BY b ORDER BY b""".stripMargin,

    // Same integer-rendered row bytes, 56-bit md5 prefix, XOR + sum.
    "partition_fingerprint" ->
      """WITH r AS (
        |  SELECT date_trunc('month', o_orderdate) AS part_month,
        |         CAST('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |           o_orderstatus,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT),
        |           o_orderpriority)), 1, 14) AS BIGINT) AS rh
        |  FROM orders)
        |SELECT part_month, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(bit_xor(rh) AS BIGINT) AS fingerprint,
        |       CAST(sum(rh) % 72057594037927936 AS BIGINT) AS checksum
        |FROM r GROUP BY part_month ORDER BY part_month""".stripMargin,

    // The oracle is the direct recompute over base ∪ delta — matching
    // it proves the engine's partial-aggregate merge is exact.
    "incremental_agg" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,

    // Same (month, day) file stats, same cumulative-quotient packing.
    "compaction_plan" ->
      """WITH f AS (
        |  SELECT date_trunc('month', o_orderdate) AS part_month,
        |         date_trunc('day', o_orderdate) AS file_day,
        |         count(*) AS n_rows
        |  FROM orders GROUP BY 1, 2),
        |b AS (
        |  SELECT *, CAST(coalesce(sum(n_rows) OVER (PARTITION BY part_month
        |           ORDER BY file_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) // 128 AS BIGINT) AS bin
        |  FROM f)
        |SELECT part_month, bin, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(n_rows) AS BIGINT) AS bin_rows,
        |       min(file_day) AS first_day, max(file_day) AS last_day
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Selinger estimate from per-table stats; realized size from the
    // per-key count frames (Σ cnt_a·cnt_b), never the joined rows.
    "join_size_estimate" ->
      """WITH s AS (
        |  SELECT 'lineitem-orders' AS edge,
        |         (SELECT count(*) FROM lineitem) AS n_l,
        |         (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_l,
        |         (SELECT count(*) FROM orders) AS n_r,
        |         (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_r,
        |         (SELECT count(*) FROM lineitem a JOIN orders b ON a.l_orderkey = b.o_orderkey) AS actual
        |  UNION ALL
        |  SELECT 'lineitem-part',
        |         (SELECT count(*) FROM lineitem),
        |         (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |         (SELECT count(*) FROM part),
        |         (SELECT count(DISTINCT p_partkey) FROM part),
        |         (SELECT count(*) FROM lineitem a JOIN part b ON a.l_partkey = b.p_partkey)
        |  UNION ALL
        |  SELECT 'orders-customer',
        |         (SELECT count(*) FROM orders),
        |         (SELECT count(DISTINCT o_custkey) FROM orders),
        |         (SELECT count(*) FROM customer),
        |         (SELECT count(DISTINCT c_custkey) FROM customer),
        |         (SELECT count(*) FROM orders a JOIN customer b ON a.o_custkey = b.c_custkey))
        |SELECT edge, CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
        |       CAST(greatest(ndv_l, ndv_r) AS BIGINT) AS ndv_key,
        |       CAST(n_l * n_r // greatest(ndv_l, ndv_r) AS BIGINT) AS est_rows,
        |       CAST(actual AS BIGINT) AS actual_rows,
        |       CAST(CASE WHEN actual = 0 THEN NULL ELSE
        |         abs(n_l * n_r // greatest(ndv_l, ndv_r) - actual) * 1000000 // actual
        |       END AS BIGINT) AS err_ppm
        |FROM s ORDER BY edge""".stripMargin,

    // Same shares, running sum, and integer class cuts.
    "abc_analysis" ->
      """WITH b AS (
        |  SELECT n_name,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |t AS (SELECT CAST(sum(cents) AS HUGEINT) AS tt FROM b),
        |r AS (SELECT n_name, cents,
        |             CAST(CAST(cents AS HUGEINT) * 1000000 // tt AS BIGINT) AS share_ppm,
        |             CAST(CAST(sum(cents) OVER (ORDER BY cents DESC, n_name
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
        |               * 1000000 // tt AS BIGINT) AS cum_ppm
        |      FROM b, t)
        |SELECT n_name, cents, share_ppm, cum_ppm,
        |       CASE WHEN cum_ppm <= 800000 THEN 'A'
        |            WHEN cum_ppm <= 950000 THEN 'B' ELSE 'C' END AS abc_class
        |FROM r ORDER BY cents DESC, n_name""".stripMargin,

    // Same within-basket pair generation via a keyed self-join (fine
    // at oracle scale), identical total order at the cutoff.
    "copurchase_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS p1, c.l_partkey AS p2
        |      FROM b a JOIN b c
        |        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey)
        |SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
        |FROM p GROUP BY p1, p2
        |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin,

    // Same floor shares + largest-remainder top-up; the oracle's
    // conserved total is the method's defining property.
    "budget_allocation" ->
      """WITH l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM l),
        |b AS (SELECT lang, n_docs,
        |             n_docs * 1000000 // nn AS base,
        |             (n_docs * 1000000) % nn AS rem
        |      FROM l, t),
        |k AS (SELECT 1000000 - sum(base) AS kk FROM b),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, lang) AS BIGINT) AS rrk FROM b)
        |SELECT lang, n_docs,
        |       CAST(base + CASE WHEN rrk <= k.kk THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r, k ORDER BY lang""".stripMargin,

    // Interval form of the same join: version intervals from lead(),
    // zero-length same-day intervals fall out of the strict upper
    // bound — identical winners to the as-of window's version tiebreak.
    "pit_join" ->
      """WITH w AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |                  lag(o_orderpriority) OVER win AS prev
        |           FROM orders
        |           WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |c AS (SELECT o_custkey, o_orderdate AS valid_from,
        |             o_orderpriority AS dim_priority,
        |             CAST(row_number() OVER (PARTITION BY o_custkey
        |                  ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version
        |      FROM w WHERE prev IS NULL OR prev <> o_orderpriority),
        |i AS (SELECT *, lead(valid_from) OVER (PARTITION BY o_custkey
        |                  ORDER BY version) AS valid_to FROM c),
        |j AS (SELECT o.o_orderpriority, i.dim_priority, i.version
        |      FROM orders o JOIN i ON o.o_custkey = i.o_custkey
        |       AND o.o_orderdate >= i.valid_from
        |       AND (i.valid_to IS NULL OR o.o_orderdate < i.valid_to))
        |SELECT version, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN o_orderpriority = dim_priority THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |FROM j GROUP BY version ORDER BY version""".stripMargin,

    // Same exact-numerator CUSUM: num = N·P_t − C_t·S in HUGEINT, peak
    // by integer compare, // and div truncate alike.
    "revenue_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_t,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS s_t
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_t) AS HUGEINT) AS nn, CAST(sum(s_t) AS HUGEINT) AS ss FROM daily),
        |c AS (SELECT day, n_t, s_t,
        |             CAST(sum(s_t) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS p_t,
        |             CAST(sum(n_t) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS c_t
        |      FROM daily),
        |x AS (SELECT day, n_t, s_t, nn * p_t - c_t * ss AS num, nn FROM c, t)
        |SELECT day, n_t, s_t, CAST(num // nn AS BIGINT) AS cusum_cents,
        |       abs(num) = max(abs(num)) OVER () AS is_peak
        |FROM x ORDER BY day""".stripMargin,

    // Same zone maps, probe frame, and overlap test.
    "scan_prune_audit" ->
      """WITH s AS (
        |  SELECT date_trunc('month', o_orderdate) AS part_month,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(min(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS lo_day,
        |         CAST(max(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS hi_day,
        |         min(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS lo_c,
        |         max(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS hi_c
        |  FROM orders GROUP BY 1),
        |p AS (SELECT * FROM (VALUES
        |        ('day_q1_1995',  'day',   CAST(1096 AS BIGINT), CAST(1185 AS BIGINT)),
        |        ('day_one_week', 'day',   CAST(1096 AS BIGINT), CAST(1102 AS BIGINT)),
        |        ('price_mid',    'cents', CAST(10000000 AS BIGINT), CAST(20000000 AS BIGINT)),
        |        ('price_low',    'cents', CAST(0 AS BIGINT), CAST(2000000 AS BIGINT))
        |      ) t(pred, dim, p_lo, p_hi)),
        |j AS (SELECT pred, n_rows,
        |             CASE WHEN dim = 'day' THEN hi_day >= p_lo AND lo_day <= p_hi
        |                  ELSE hi_c >= p_lo AND lo_c <= p_hi END AS scan
        |      FROM s, p)
        |SELECT pred, CAST(count(*) AS BIGINT) AS n_partitions,
        |       CAST(sum(CASE WHEN NOT scan THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
        |       CAST(sum(CASE WHEN NOT scan THEN n_rows ELSE 0 END) AS BIGINT) AS rows_pruned,
        |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |       CAST(CAST(sum(CASE WHEN NOT scan THEN n_rows ELSE 0 END) AS HUGEINT) * 1000000
        |            // sum(n_rows) AS BIGINT) AS pruned_ppm
        |FROM j GROUP BY pred ORDER BY pred""".stripMargin,

    // One-window rank selection for the clip bounds (oracle scale),
    // identical clipping and double-division order.
    "winsorized_mean" ->
      """WITH c AS (SELECT o_orderpriority,
        |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p_c,
        |             o_orderkey
        |           FROM orders),
        |r AS (SELECT *,
        |             CAST(row_number() OVER (PARTITION BY o_orderpriority
        |                  ORDER BY p_c, o_orderkey) AS BIGINT) AS rn,
        |             CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        |      FROM c),
        |b AS (SELECT o_orderpriority, min(p_c) AS lo_c, max(p_c) AS hi_c
        |      FROM r WHERE rn = (n + 19) // 20 OR rn = (n * 19 + 19) // 20
        |      GROUP BY 1)
        |SELECT c.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       max(b.lo_c) AS p05_cents, max(b.hi_c) AS p95_cents,
        |       CAST(sum(least(greatest(c.p_c, b.lo_c), b.hi_c)) AS DOUBLE) / count(*) / 100.0 AS win_mean,
        |       CAST(sum(c.p_c) AS DOUBLE) / count(*) / 100.0 AS raw_mean
        |FROM c JOIN b USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same five monoid sums in HUGEINT and the same closed-form slope;
    // // and Spark's div both truncate toward zero, so the signed
    // fixed-point slope is bit-identical.
    "ols_trend" ->
      """WITH b AS (
        |  SELECT o_orderpriority,
        |         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS HUGEINT) AS x,
        |         CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS HUGEINT) AS y
        |  FROM orders),
        |a AS (SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx
        |      FROM b GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
        |       CAST((n * sxy - sx * sy) * 1000000 // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS slope_fx,
        |       CAST(sy // n AS BIGINT) AS mean_cents,
        |       CAST(CAST((n * sxy - sx * sy) * 1000000 // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS DOUBLE) / 1e6 AS slope_cents_per_day
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    // Same snapshot draws, MERGE reconstruction, and double-sided
    // digest; the fingerprint hash is the partition_fingerprint 56-bit
    // md5-prefix idiom over "key|cents".
    "merge_apply" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |           FROM orders),
        |old AS (SELECT o_orderkey, o_orderstatus,
        |               CASE WHEN CAST('0x' || substr(md5('graft-snap-upd' || o_orderkey), 1, 4) AS BIGINT) % 100 < 3
        |                    THEN cents - 100 ELSE cents END AS cents
        |        FROM o
        |        WHERE CAST('0x' || substr(md5('graft-snap-ins' || o_orderkey), 1, 4) AS BIGINT) % 100 >= 2),
        |new AS (SELECT o_orderkey, o_orderstatus, cents FROM o
        |        WHERE CAST('0x' || substr(md5('graft-snap-del' || o_orderkey), 1, 4) AS BIGINT) % 100 >= 2),
        |j AS (SELECT n.o_orderkey AS k_new, n.o_orderstatus AS st_new, n.cents AS c_new,
        |             d.o_orderkey AS k_old, d.o_orderstatus AS st_old, d.cents AS c_old
        |      FROM new n FULL OUTER JOIN old d ON n.o_orderkey = d.o_orderkey),
        |ups AS (SELECT k_new AS o_orderkey, st_new AS o_orderstatus, c_new AS cents FROM j
        |        WHERE k_old IS NULL OR (k_new IS NOT NULL AND (c_new <> c_old OR st_new <> st_old))),
        |touched AS (SELECT coalesce(k_new, k_old) AS o_orderkey FROM j
        |            WHERE k_new IS NULL OR k_old IS NULL OR c_new <> c_old OR st_new <> st_old),
        |merged AS (SELECT * FROM old WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
        |           UNION ALL SELECT * FROM ups),
        |dm AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_merged,
        |              CAST(sum(cents) AS BIGINT) AS cents_merged,
        |              bit_xor(CAST('0x' || substr(md5(o_orderkey || '|' || cents), 1, 14) AS BIGINT)) AS fp_merged
        |       FROM merged GROUP BY 1),
        |dd AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_direct,
        |              CAST(sum(cents) AS BIGINT) AS cents_direct,
        |              bit_xor(CAST('0x' || substr(md5(o_orderkey || '|' || cents), 1, 14) AS BIGINT)) AS fp_direct
        |       FROM new GROUP BY 1)
        |SELECT o_orderstatus, n_merged, cents_merged, fp_merged,
        |       n_direct, cents_direct, fp_direct,
        |       n_merged = n_direct AND cents_merged = cents_direct
        |         AND fp_merged = fp_direct AS digests_match
        |FROM dm JOIN dd USING (o_orderstatus) ORDER BY o_orderstatus""".stripMargin,
  )
}
