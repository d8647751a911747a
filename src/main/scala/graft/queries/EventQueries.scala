package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{Exact, Scratch}

/** Event-stream batch surface: JSON parse/flatten (F-9/F-10 over
  * `events.props`), conditional aggregation (A-1..A-5), time bucketing,
  * gap-based sessionization, and running-progress ratios (SURVEY §2.7,
  * §2.9 batch-equivalent forms; streaming execution itself is covered in
  * graft.streaming + its spec).
  */
object EventQueries extends QueryModule {

  /** Prompt-pinned props schema (the testdata generator writes {"k": int}). */
  val propsSchema: StructType = StructType(Seq(StructField("k", IntegerType)))

  def defs: Map[String, Q] = Map(
    // F-9/F-10: schema'd parse + flatten + compact re-serialization.
    // TOTAL on degenerate props: a NULL or malformed props row parses
    // to a null struct (PERMISSIVE), and the coalesce normalizes that
    // to '{}' exactly like a present-but-k-less object — otherwise a
    // regenerated dataset with one bad row would flip props_norm to
    // NULL here while the oracle emits '{}' (latent hash divergence;
    // the oracle guards its extraction with json_valid for the same
    // reason).
    "json_flatten" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("parsed", from_json(col("props"), propsSchema))
        .select(col("event_id"), col("event_type"),
          col("parsed.k").as("k"),
          coalesce(to_json(col("parsed")), lit("{}")).as("props_norm"))
        .orderBy("event_id")),

    // JSON field aggregation by event type (exact int arithmetic).
    "json_props_agg" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // A-1/A-2 over the stream table: per-type counts + exact value sums.
    "events_by_type" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.decSum(col("value")).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("event_type")),

    // Tumbling-window counts (batch equivalent of the R-3 streaming agg).
    "events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour")),

    // Time-axis gap filling (X-76): the (hour × event_type) grid with
    // explicit zero rows for empty cells — the densification every
    // monitoring/forecasting consumer needs before rates, moving
    // averages, or anomaly deltas mean anything (a missing bucket is
    // silently "no data", a zero row is a measured zero; ~6% of this
    // grid's cells are genuine gaps). Shape: the axis is GENERATED,
    // never scanned — a 1-row min/max bounds aggregate exploded
    // through sequence(), crossed with the |types| distinct frame
    // (both broadcast-bounded strata), then ONE left join against the
    // hourly aggregate. Cost is the aggregate plus |hours|·|types|
    // generated rows, independent of event volume.
    "events_hourly_filled" -> ((s, d) =>
      hourlyGrid(s, d).orderBy("hour", "event_type")),

    // Bucketized interval join (X-90): events within 30 minutes BEFORE
    // each purchase by the same user — the activity-burst feature a
    // fraud/attribution model reads. Spark has no range-join optimizer
    // (a raw `ON a.us BETWEEN b.us - W AND b.us` plans a broadcast
    // nested loop or worse), so the scale-safe shape is BUCKETIZATION:
    // with bucket width = window length W, every qualifying pair is at
    // most one bucket apart, so each probe row emits exactly 2 bucket
    // keys (its own and the previous), the build side emits 1, and the
    // join is a plain equi-join on (user, bucket) with the exact range
    // predicate as a post-filter — candidate volume is 2× the true
    // density, never |A|×|B|. Timestamps compare as exact epoch
    // MICROSECONDS (unix_micros/epoch_us — integer in both engines);
    // a matching pair lands in exactly one of the two emitted buckets,
    // so nothing double-counts. Purchases with a quiet half hour
    // surface with an honest zero via the final left join.
    "event_window_join" -> ((s, d) => {
      val W = 1800000000L // 30 min in µs = the bucket width
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val pb = p.withColumn("bucket",
        explode(array(expr(s"us div $W"), expr(s"us div $W - 1"))))
      val eb = e.select(col("user_id"), col("us").as("e_us"),
        expr(s"us div $W").as("bucket"))
      val c = pb.join(eb, Seq("user_id", "bucket"))
        .filter(col("us") - col("e_us") > 0 && col("us") - col("e_us") <= W)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_prior_30m"),
          min(col("us") - col("e_us")).as("nearest_gap_us"))
      p.join(c, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_prior_30m"), lit(0L)).as("n_prior_30m"),
          col("nearest_gap_us"))
        .orderBy("event_id")
    }),

    // X-27 batch replay: the stream-stream interval join EXECUTED AS
    // REGISTERED STREAMING CODE — EventStream.purchaseClickJoin (dual
    // watermarks + the BETWEEN interval condition) runs verbatim on
    // batch frames (watermarks are a no-op in batch, the plan is the
    // same Catalyst join), emitting every (purchase, click) pair for
    // the same user with the click in the preceding hour. This is the
    // X-58 discipline applied to X-27: the oracle pins the streaming
    // operator's join semantics, while EventStreamSpec pins its
    // state-eviction behavior under real micro-batches. Scale shape:
    // equi-join on user_id (ONE shuffle), interval predicate as the
    // join residual; at stream scale the watermark bounds state — the
    // reason the operator exists.
    "interval_join_replay" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      graft.streaming.EventStream.purchaseClickJoin(purchases, clicks)
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
          col("p_ts"), col("c_ts"))
        .orderBy("p_id", "c_id")
    }),

    // X-24 batch replay: the mapGroupsWithState per-user state machine
    // (StatefulOps.userStates — running count, 30-min-gap session
    // count, exact cents, latest type) run on the batch events frame:
    // in batch mode each key's full slice folds through the SAME
    // transition function the streaming form carries in the state
    // store, so this oracle pins the transition semantics and
    // StatefulOpsSpec pins micro-batch ≡ batch through real streaming
    // execution. One user_id shuffle, O(1) state per user.
    "user_state_machine" -> ((s, d) =>
      graft.streaming.StatefulOps.userStates(Tables.events(s, d))
        .orderBy("user_id")),

    // Trailing-window rate anomalies (X-89): flag hours whose event
    // count sits more than 3σ above the trailing 24-hour baseline,
    // per event type — the alerting rule every ingestion monitor
    // runs. Built on the X-76 zero-filled grid (a missing bucket must
    // depress the baseline as a measured zero, not vanish); baseline
    // moments come from a 24-row trailing ROWS frame over the grid
    // (stratum-cardinality — |hours|·|types| — so the per-type window
    // is exempt from the low-card funnel concern by construction).
    // The 3σ test is INTEGER-EXACT: (x·w − s1)² > 9·(w·s2 − s1²)
    // multiplies the z-test through by w², so no division, sqrt, or
    // float ever enters the flag; DECIMAL(38,0)/HUGEINT carry s2 and
    // the squared terms (Σn² overflows BIGINT once hourly counts pass
    // ~6×10⁸). Upward deviations only (x·w > s1) — rate DROPS are
    // real alerts too but a different rule (often a missing-feed
    // check), kept out so the flag semantics stay crisp.
    "hourly_anomalies" -> ((s, d) => {
      val grid = hourlyGrid(s, d)
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-24, -1)
      grid
        .withColumn("w", count(lit(1)).over(w))
        .withColumn("s1", coalesce(sum(col("n_events")).over(w), lit(0L)))
        .withColumn("s2", coalesce(
          sum(expr("CAST(n_events AS DECIMAL(38,0)) * n_events")).over(w),
          lit(0).cast("decimal(38,0)")))
        .withColumn("is_spike",
          col("w") === 24 &&
            expr("CAST(n_events * w - s1 AS DECIMAL(38,0)) * (n_events * w - s1) " +
              "> 9 * (w * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)") &&
            expr("n_events * w > s1"))
        .select(col("hour"), col("event_type"), col("n_events"),
          col("w").as("baseline_hours"), col("s1").as("baseline_sum"),
          col("is_spike"))
        .orderBy("hour", "event_type")
    }),

    // Statistical moments per event type: mean, sample stddev, and the
    // value↔k correlation — from EXACT decimal moments (Σx, Σx², Σxy),
    // not Spark's stddev_samp/corr, whose double accumulation is
    // partition-order-dependent. The closed-form double formula on top
    // is written with identical structure in the oracle, so both
    // engines produce bit-identical results at any parallelism.
    // Ordered conversion funnel (X-79): view → click-after-view →
    // purchase-after-click per user, with stage counts and
    // conversion rates — the flagship event-analytics workload this
    // module was missing. Sequencing via three STACKED whole-partition
    // window minima over the same user_id partitioning (each stage's
    // cutoff referencing the previous stage's column), so the entire
    // funnel costs ONE exchange on the high-cardinality user key —
    // where the naive per-stage filter+join chain shuffles three
    // times. The final 1-row reduction is a plain aggregate.
    "conversion_funnel" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      val staged = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("tv",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("tc",
          min(when(col("event_type") === "click" && col("ts") > col("tv"),
            col("ts"))).over(w))
        .withColumn("tp",
          min(when(col("event_type") === "purchase" && col("ts") > col("tc"),
            col("ts"))).over(w))
      staged.groupBy("user_id")
        .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"),
          max(col("tp")).as("tp"))
        .agg(count(lit(1)).as("n_users"),
          count(col("tv")).as("n_view"),
          count(col("tc")).as("n_view_click"),
          count(col("tp")).as("n_full_funnel"))
        .withColumn("click_rate",
          when(col("n_view") > 0,
            col("n_view_click").cast("double") / col("n_view").cast("double")))
        .withColumn("purchase_rate",
          when(col("n_view_click") > 0,
            col("n_full_funnel").cast("double") / col("n_view_click").cast("double")))
    }),

    "value_moments" -> ((s, d) => {
      val m = Tables.events(s, d)
        .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
        .filter(col("k").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Exact.decSum(col("value")).as("sx"),
          Exact.decSumSq(col("value")).as("sxx"),
          sum(col("k")).cast("double").as("sy"),
          sum(col("k") * col("k")).cast("double").as("syy"),
          Exact.decSumProd(col("value"), col("k")).as("sxy"))
      val nd = col("n").cast("double")
      m.select(col("event_type"), col("n"),
          (col("sx") / nd).as("mean_value"),
          sqrt((nd * col("sxx") - col("sx") * col("sx")) / (nd * (nd - 1)))
            .as("stddev_value"),
          ((nd * col("sxy") - col("sx") * col("sy")) /
            (sqrt(nd * col("sxx") - col("sx") * col("sx")) *
              sqrt(nd * col("syy") - col("sy") * col("sy"))))
            .as("corr_value_k"))
        .orderBy("event_type")
    }),

    // Relational set ops (distinct from the anti/semi JOIN shapes the
    // star queries cover), over behavioral cohorts: heavy buyers
    // (≥ 15 purchases) EXCEPT / INTERSECT error-prone users (≥ 15
    // errors). Distinct-set semantics, each planning as one aggregated
    // join shuffled on user_id.
    "buyers_not_errorprone" -> ((s, d) =>
      cohort(s, d, "purchase").except(cohort(s, d, "error")).orderBy("user_id")),
    "buyers_and_errorprone" -> ((s, d) =>
      cohort(s, d, "purchase").intersect(cohort(s, d, "error")).orderBy("user_id")),

    // Wide-format reshaping: days × event types as a PIVOT with an
    // explicit value list (an implicit list would need an extra
    // distinct pass over the data and make the output schema
    // data-dependent — both wrong at scale). A day with no events of a
    // type pivots to NULL, which the conditional-sum oracle reproduces.
    "daily_type_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .orderBy("day")),

    // Gap-based sessionization (30 min inactivity ends a session):
    // lag + conditional sum, all window functions — no groupByKey state.
    "user_sessions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum(col("is_new")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // J-2 enrichment join on the event axis: stream-of-events joined to
    // static dimensions (the stream-static join shape; streaming
    // execution of the same join is covered in EventStreamSpec).
    "user_value_by_nation" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      ev.join(broadcast(c), ev("user_id") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.decSum(col("value")).as("sum_value"))
        .orderBy("n_name")
    }),

    // The skew posture exercised on a registered plan (not just the
    // SkewSpec fixture): the event fact joined to the customer dim
    // through the salted equi-join — each fact row carries a random
    // salt in [0,8), the dim is exploded 8×, and the join key becomes
    // (user_id, salt), spreading any hot user over 8 reducers. Row-set
    // identical to the unsalted join (every salt value exists on the
    // dim side), which is exactly what the plain-SQL oracle pins.
    "salted_user_value" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(Tables.events(s, d), dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.decSum(col("value")).as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // The diagnostic that DECIDES the salting above: per-key frequency
    // of the join key with its share of total rows and skew factor
    // (count / mean count). At 100 TB this is one partial-aggregated
    // groupBy plus a global top-k (TakeOrderedAndProject — never a
    // full sort); the single-row totals frame is the only broadcast.
    // A key with skew_x ≫ 1 is the one that pins a reducer in the
    // unsalted join.
    "join_key_skew" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_keys"))
      counts.crossJoin(broadcast(tot))
        .withColumn("share",
          col("cnt").cast("double") / col("total").cast("double"))
        .withColumn("skew_x",
          (col("cnt") * col("n_keys")).cast("double") / col("total").cast("double"))
        .select("user_id", "cnt", "share", "skew_x")
        .orderBy(col("cnt").desc, col("user_id")).limit(10)
    }),

    // As-of join (operators.AsOf): each purchase attributed to the
    // user's most recent click at-or-before it — one shuffle + window,
    // no range-join blowup.
    "purchase_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsOf.joinPrior(purchases, clicks,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightVals = Seq("click_id"), tiebreak = "click_id")
        .orderBy("event_id")
    }),

    // Native session_window sessionization (same operator streams with
    // a watermark — graft.streaming.EventStream.sessionWindows); the
    // oracle reproduces it with lag + cumulative-sum session ids.
    "session_windows" -> ((s, d) =>
      graft.streaming.EventStream
        .sessionWindows(Tables.events(s, d), "30 minutes")
        .orderBy("user_id", "session_start")),

    // Deterministic batch replay of the streaming stateful dedup
    // (EventStream.dedupWithinWatermark / dropDuplicatesWithinWatermark,
    // 1-hour horizon): the steady-state semantics — watermark tracking
    // event time — keep a key's FIRST event, drop repeats while the
    // first event's state is younger than the horizon, and accept the
    // key again once the state has expired. The testdata's event_ids
    // are unique, so duplicates are synthesized deterministically
    // (the derived-input pattern): retransmissions at +2 min and
    // +7 min (inside the horizon → dropped) and +3 h (state long
    // expired → kept). The nearest-prior lag test below equals the
    // keep-if-no-KEPT-occurrence-in-horizon streaming rule because the
    // synthesized offsets never chain across the horizon boundary:
    // every occurrence is either ≪ horizon from its nearest prior or
    // ≫ horizon from all priors. One shuffle on event_id (high
    // cardinality), window partitions are ≤ 4 rows — scale-safe.
    "dedup_within_horizon" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "ts", "event_type")
      def retrans(modK: Int, offset: String, tag: String) =
        ev.filter(col("event_id") % modK === 0)
          .withColumn("ts", col("ts") + expr(s"INTERVAL $offset"))
          .withColumn("src", lit(tag))
      val occ = ev.withColumn("src", lit("orig"))
        .unionByName(retrans(3, "2 minutes", "r2m"))
        .unionByName(retrans(5, "7 minutes", "r7m"))
        .unionByName(retrans(15, "3 hours", "r3h"))
      val w = Window.partitionBy("event_id").orderBy("ts")
      occ.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 1 hour"))
        .select("event_id", "ts", "event_type", "src")
        .orderBy("event_id", "ts")
    }),

    // A-4/A-5: daily running progress ratio over the event stream.
    "running_daily_ratio" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val cum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      daily
        .withColumn("cum_n", sum(col("n")).over(cum))
        .withColumn("ratio",
          col("cum_n").cast("double") / sum(col("n")).over(total).cast("double"))
        .orderBy("day")
    }),

    // Watermark lateness audit (X-127): how much data would each
    // watermark setting DROP on this stream? Arrival order is the
    // ingest sequence (event_id); the watermark at an event's arrival
    // is the running MAX event time seen so far minus the bound, so an
    // event is dropped iff prefixmax(ts) − ts > bound. The prefix max
    // is computed WITHOUT a global sort-window by the global_ids
    // discipline generalized from prefix-SUM to prefix-MAX (any
    // associative monoid works): range-repartition on event_id,
    // partition-local running max, ≤ P per-partition maxima folded by
    // an exclusive prefix over that P-row frame (allowlisted), offsets
    // broadcast back. Three bounds are probed from a literal frame —
    // the measured trade a stream operator reads before choosing its
    // withWatermark argument. The synthetic stream arrives perfectly
    // in event-time order (nothing would ever drop), so a
    // deterministic md5-drawn 10% of events carry planted event-time
    // delays up to 2 h (the embedding_neardup planted-variant idiom) —
    // mirrored in the oracle, and what makes the three bounds separate.
    "lateness_audit" -> ((s, d) => {
      import graft.operators.TextAnalysis.sampleBucket
      val delayUs = when(sampleBucket(col("event_id"), "graft-late-arrival") < 10,
        (expr("CAST(conv(substring(md5(concat('graft-delay', CAST(event_id AS STRING))), 1, 4), 16, 10) AS BIGINT)")
          % 7200L) * 1000000L).otherwise(0L)
      // MATERIALIZED: `ranged` feeds two independent lineages (the
      // per-partition running max and the per-partition offsets), and
      // repartitionByRange samples its boundaries per EXECUTION — two
      // separate executions could assign different pid ranges (AQE
      // re-plan, resample after executor loss), making the pid join
      // between the branches silently wrong. The cut pins ONE pid
      // assignment and halves the scan+md5 work.
      val ranged = Scratch.cut(Tables.events(s, d)
        .select(col("event_id"), (unix_micros(col("ts")) - delayUs).as("us"))
        .repartitionByRange(col("event_id"))
        .withColumn("pid", spark_partition_id().cast("long")))
      val local = ranged.withColumn("lmax",
        max(col("us")).over(Window.partitionBy("pid").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val offsets = ranged.groupBy("pid").agg(max(col("us")).as("pmax"))
        .withColumn("off", max(col("pmax")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select("pid", "off")
      val bounds = s.sql(
        """SELECT * FROM VALUES
          |  ('1_minute',   CAST(60000000 AS BIGINT)),
          |  ('10_minutes', CAST(600000000 AS BIGINT)),
          |  ('1_hour',     CAST(3600000000 AS BIGINT))
          |AS t(bound, bound_us)""".stripMargin)
      local.join(broadcast(offsets), "pid")
        .withColumn("pm", greatest(col("lmax"), coalesce(col("off"), col("lmax"))))
        .crossJoin(broadcast(bounds))
        .groupBy("bound")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("pm") - col("us") > col("bound_us"), 1L).otherwise(0L))
            .as("n_dropped"))
        .withColumn("dropped_ppm",
          expr("CAST(n_dropped * 1000000 div n_events AS BIGINT)"))
        .orderBy("bound")
    }),

    // View→purchase conversion latency (X-123): for every purchase,
    // the delay since the user's latest PRIOR view (X-17's as-of join
    // — one key shuffle + a window pass, never a range-join nested
    // loop), then exact median and p90 of those delays through the
    // two-phase Quantile selection (the global median has a CONSTANT
    // group key — precisely the case where the histogram phases keep
    // parallelism data-bound where one global sort-window would
    // funnel). Delays compare in exact epoch microseconds; the
    // reported seconds are one truncating division both engines share.
    "conversion_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))
      val delays = graft.operators.AsOf.joinPrior(
          purchases, views, "user_id", "p_ts", "v_ts",
          rightVals = Seq("v_ts"), tiebreak = "v_id")
        .filter(col("asof_v_ts").isNotNull)
        .select(lit("all").as("grp"),
          (unix_micros(col("p_ts")) - unix_micros(col("asof_v_ts"))).as("d_us"),
          col("event_id"))
      // delays MATERIALIZED before the rank selection — it re-embeds
      // its input lineage several times, and without the cut it would
      // re-run the as-of join (the order_value_mad discipline).
      // ONE selectRanks call carries all three target ranks (median
      // pair + p90): each call is eager and expensive (stats +
      // histogram aggregates, a targets materialization, the gate
      // read, the final join+window), so the previous two-call shape
      // paid all of that twice against the identical input. Selected
      // rows split by __grank afterwards; a row can serve both roles
      // when the ranks coincide at tiny n (the per-row flags overlap
      // rather than conflict).
      val dmat = Scratch.cut(delays)
      val q = graft.operators.Quantile
      val sel = q.selectRanks(dmat, "grp", "d_us", "event_id",
          n => Seq(q.idiv(n + lit(1L), 2), q.idiv(n + lit(2L), 2),
            q.idiv(n * lit(9L) + lit(9L), 10)))
        .withColumn("is_med",
          col("__grank") === q.idiv(col("__n") + lit(1L), 2) ||
            col("__grank") === q.idiv(col("__n") + lit(2L), 2))
        .withColumn("is_p90",
          col("__grank") === q.idiv(col("__n") * lit(9L) + lit(9L), 10))
      sel.groupBy("grp")
        .agg(max(col("__n")).as("n_conversions"),
          expr("CAST(sum(CASE WHEN is_med THEN d_us END) " +
            "div sum(CASE WHEN is_med THEN 1 END) AS BIGINT)").as("median_us"),
          max(when(col("is_p90"), col("d_us"))).as("p90_us"))
        .select(col("n_conversions"),
          expr("CAST(median_us div 1000000 AS BIGINT)").as("median_s"),
          expr("CAST(p90_us div 1000000 AS BIGINT)").as("p90_s"))
    }),

    // Half-life-decayed engagement (X-120): recency-weighted value per
    // event type with weight 2^(−age_days), truncated at 30 days — the
    // freshness scoring every ranking/engagement pipeline runs, made
    // EXACT by keeping the whole computation in the binary fixed point
    // the decay naturally lives in: w = 1 << (30 − age) (an integer,
    // never pow()/exp()), Σ cents·w in DECIMAL(38,0), one final shift-
    // down division both engines truncate identically. ONE narrow scan
    // + a 1-row reference-date broadcast + one |types|-key aggregate;
    // the 30-day horizon bounds the shift so weights fit a long at any
    // corpus size.
    "decayed_engagement" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        to_date(col("ts")).as("day"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      val ref = ev.agg(max(col("day")).as("ref_day"))
      ev.crossJoin(broadcast(ref))
        .withColumn("age", datediff(col("ref_day"), col("day")))
        .withColumn("w", when(col("age") <= 30,
          expr("shiftleft(1L, CAST(30 - age AS INT))")).otherwise(lit(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_recent"),
          expr("CAST(sum(CAST(cents AS DECIMAL(38,0)) * w) div shiftleft(1L, 30) AS BIGINT)")
            .as("decayed_cents"))
        .orderBy("event_type")
    }),

    // Session transition matrix (X-117): within-session (from → to)
    // event-type counts plus the exact fixed-point row-conditional
    // probability — the first-order Markov model behind next-action
    // prediction and funnel diagnosis. The per-user window reuses the
    // user_sessions discipline (data-bound key, one exchange); session
    // boundaries come from the same lag + 30-minute cutoff, and a
    // transition only counts INSIDE a session (the cross-session pair
    // is exactly what the model must not learn). Everything after the
    // window is a (|types|² ≤ 25)-key aggregate + a |types|-row
    // conditional join — report-scale frames, shuffle-joined anyway
    // (broadcast would also be fine; the join is cheap either way).
    "event_transitions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val steps = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_ts").isNotNull &&
          col("ts") <= col("prev_ts") + expr("INTERVAL 30 MINUTES"))
      val pairs = steps.groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val totals = pairs.groupBy("from_type").agg(sum(col("n_trans")).as("n_from"))
      pairs.join(totals, "from_type")
        .withColumn("p_fx",
          expr("CAST(n_trans * 1000000 div n_from AS BIGINT)"))
        .select("from_type", "to_type", "n_trans", "n_from", "p_fx")
        .orderBy("from_type", "to_type")
    }),
  )

  /** Zero-filled (hour × event_type) grid shared by events_hourly_filled
    * (X-76, the grid IS the deliverable) and hourly_anomalies (X-89,
    * builds its 3σ window on it): a missing bucket is silently "no
    * data", a zero row is a measured zero. The axis is GENERATED, never
    * scanned — a 1-row min/max bounds aggregate exploded through
    * sequence(), crossed with the |types| distinct frame (both
    * broadcast-bounded strata), then ONE left join against the hourly
    * aggregate. Cost is the aggregate plus |hours|·|types| generated
    * rows, independent of event volume. */
  private def hourlyGrid(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
    val counts = ev.groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val axis = ev.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
    val types = ev.select("event_type").distinct()
    axis.crossJoin(broadcast(types))
      .join(counts, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Behavioral cohort shared by the set-op queries: users with ≥ 15
    * events of `eventType` — ONE definition so EXCEPT and INTERSECT
    * can never drift onto different cohort thresholds. */
  private def cohort(s: SparkSession, d: String, eventType: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === eventType)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 15).select("user_id")

  /** The ONE props→k extraction both json oracles splice. The integer-
    * shape regex is the r11 finding: DuckDB TRY_CAST('1.7' AS INTEGER)
    * ROUNDS to 2 while Spark's from_json(IntegerType) nulls any
    * non-integer JSON number — without the guard the two engines
    * diverge on every float-valued k. json_valid screens malformed
    * props first (json_extract on them errors in DuckDB), and
    * TRY_CAST still nulls int32 overflow exactly like Spark.
    *
    * json_type is the r12 advice: json_extract_string STRIPS JSON
    * quoting, so a quoted numeric STRING like {"k":"12"} would pass the
    * regex and yield 12 in DuckDB while Spark's from_json(IntegerType)
    * nulls any non-number JSON token — requiring the raw value to be a
    * JSON integer (BIGINT/UBIGINT; DOUBLE stays excluded per the regex
    * rule above) pins string-typed k to NULL on both engines. */
  private val propsKSql =
    """TRY_CAST(CASE WHEN json_valid(props)
      |    AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
      |    AND regexp_matches(coalesce(json_extract_string(props, '$.k'), ''), '^-?[0-9]+$')
      |  THEN json_extract_string(props, '$.k') END AS INTEGER)""".stripMargin

  def oracle: Map[String, String] = Map(
    // Null case mirrors Spark: to_json omits null struct fields → '{}'
    // (DuckDB's struct_pack would serialize {"k":null} instead).
    // json_valid + TRY_CAST make the extraction TOTAL like Spark's
    // PERMISSIVE from_json: a NULL/malformed props row or a wrong-typed
    // k yields k = NULL (and props_norm '{}') instead of aborting the
    // whole oracle run — the Spark side coalesces to the same '{}'.
    "json_flatten" ->
      s"""WITH p AS (SELECT event_id, event_type, $propsKSql AS k
         |           FROM events)
         |SELECT event_id, event_type, k,
         |       CASE WHEN k IS NULL THEN '{}' ELSE to_json(struct_pack(k := k)) END AS props_norm
         |FROM p ORDER BY event_id""".stripMargin,

    "json_props_agg" ->
      s"""WITH p AS (SELECT event_type, $propsKSql AS k
         |           FROM events)
         |SELECT event_type, count(*) AS n,
         |       CAST(sum(k) AS BIGINT) AS sum_k,
         |       min(k) AS min_k, max(k) AS max_k
         |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_by_type" ->
      s"""SELECT event_type, count(*) AS n_events,
         |       count(DISTINCT user_id) AS n_users,
         |       ${Exact.sqlDecSum("value")} AS sum_value,
         |       min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |       count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,

    "conversion_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |              OVER (PARTITION BY user_id) AS tv FROM e),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
        |              OVER (PARTITION BY user_id) AS tc FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
        |              OVER (PARTITION BY user_id) AS tp FROM s2),
        |u AS (SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
        |      FROM s3 GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |       count(tv) AS n_view,
        |       count(tc) AS n_view_click,
        |       count(tp) AS n_full_funnel,
        |       CASE WHEN count(tv) > 0
        |            THEN CAST(count(tc) AS DOUBLE) / count(tv) END AS click_rate,
        |       CASE WHEN count(tc) > 0
        |            THEN CAST(count(tp) AS DOUBLE) / count(tc) END AS purchase_rate
        |FROM u""".stripMargin,

    "events_hourly_filled" ->
      """WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type
        |           FROM events),
        |counts AS (SELECT hour, event_type, count(*) AS n_events
        |           FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM e),
        |axis AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS TIMESTAMP) AS hour
        |         FROM b),
        |types AS (SELECT DISTINCT event_type FROM e)
        |SELECT a.hour, t.event_type,
        |       CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events
        |FROM axis a CROSS JOIN types t
        |LEFT JOIN counts c ON a.hour = c.hour AND t.event_type = c.event_type
        |ORDER BY a.hour, t.event_type""".stripMargin,

    // Same bucketization; // floor = div truncation on positive epochs.
    "event_window_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |pb AS (SELECT event_id, user_id, us,
        |              unnest([us // 1800000000, us // 1800000000 - 1]) AS bucket
        |       FROM p),
        |eb AS (SELECT user_id, us AS e_us, us // 1800000000 AS bucket FROM e),
        |c AS (SELECT pb.event_id, count(*) AS n_prior,
        |             min(pb.us - eb.e_us) AS nearest
        |      FROM pb JOIN eb ON pb.user_id = eb.user_id AND pb.bucket = eb.bucket
        |      WHERE pb.us - eb.e_us > 0 AND pb.us - eb.e_us <= 1800000000
        |      GROUP BY 1)
        |SELECT p.event_id, p.user_id,
        |       CAST(COALESCE(c.n_prior, 0) AS BIGINT) AS n_prior_30m,
        |       CAST(c.nearest AS BIGINT) AS nearest_gap_us
        |FROM p LEFT JOIN c ON p.event_id = c.event_id
        |ORDER BY p.event_id""".stripMargin,

    // The streaming interval join's exact batch semantics: same-user
    // (purchase, click) pairs with the click in [p_ts − 1h, p_ts].
    "interval_join_replay" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
        |       p.user_id, p.ts AS p_ts, c.ts AS c_ts
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |ORDER BY p_id, c_id""".stripMargin,

    // The state machine's fold unrolled relationally: sessions open on
    // the first event or a strictly->30-min gap over the
    // (ts, event_id) order; cents via the engine-wide DECIMAL(12,2)
    // mirror; latest type by the same order, descending.
    "user_state_machine" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rdesc
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN pts IS NULL
        |                       OR date_diff('millisecond', pts, ts) > 1800000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       CAST(COALESCE(sum(cents), 0) AS BIGINT) AS value_cents,
        |       max(CASE WHEN rdesc = 1 THEN event_type END) AS last_type
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Same grid + trailing frame; HUGEINT carries Σn² and the squared
    // z-test terms DECIMAL(38,0) holds on the Spark side.
    "hourly_anomalies" ->
      """WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type
        |           FROM events),
        |counts AS (SELECT hour, event_type, count(*) AS n_events
        |           FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM e),
        |axis AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS TIMESTAMP) AS hour
        |         FROM b),
        |types AS (SELECT DISTINCT event_type FROM e),
        |grid AS (SELECT a.hour, t.event_type,
        |                CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events
        |         FROM axis a CROSS JOIN types t
        |         LEFT JOIN counts c ON a.hour = c.hour AND t.event_type = c.event_type),
        |wn AS (SELECT hour, event_type, n_events,
        |              CAST(count(*) OVER win AS BIGINT) AS w,
        |              CAST(COALESCE(sum(n_events) OVER win, 0) AS BIGINT) AS s1,
        |              COALESCE(sum(CAST(n_events AS HUGEINT) * n_events) OVER win, 0) AS s2
        |       FROM grid
        |       WINDOW win AS (PARTITION BY event_type ORDER BY hour
        |                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT hour, event_type, n_events, w AS baseline_hours, s1 AS baseline_sum,
        |       (w = 24
        |        AND CAST(n_events * w - s1 AS HUGEINT) * (n_events * w - s1)
        |            > 9 * (w * s2 - CAST(s1 AS HUGEINT) * s1)
        |        AND n_events * w > s1) AS is_spike
        |FROM wn ORDER BY hour, event_type""".stripMargin,

    // k via the shared propsKSql splice: the unguarded
    // json_extract_string ERRORS on malformed props in DuckDB (r11
    // adversarial "{k:" rows) and a bare CAST rounds float k.
    "value_moments" ->
      s"""WITH e AS (SELECT event_type, value,
         |             $propsKSql AS k
         |           FROM events),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |             ${Exact.sqlDecSum("value")} AS sx,
         |             ${Exact.sqlDecSumSq("value")} AS sxx,
         |             CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) AS sy,
         |             CAST(CAST(sum(k * k) AS BIGINT) AS DOUBLE) AS syy,
         |             ${Exact.sqlDecSumProd("value", "k")} AS sxy
         |      FROM e WHERE k IS NOT NULL GROUP BY event_type)
         |SELECT event_type, n,
         |       sx / CAST(n AS DOUBLE) AS mean_value,
         |       sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS stddev_value,
         |       (CAST(n AS DOUBLE) * sxy - sx * sy) /
         |         (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_value_k
         |FROM m ORDER BY event_type""".stripMargin,

    "buyers_not_errorprone" ->
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'
        |           GROUP BY user_id HAVING count(*) >= 15),
        |e AS (SELECT user_id FROM events WHERE event_type = 'error'
        |      GROUP BY user_id HAVING count(*) >= 15)
        |SELECT user_id FROM p EXCEPT SELECT user_id FROM e
        |ORDER BY user_id""".stripMargin,

    "buyers_and_errorprone" ->
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'
        |           GROUP BY user_id HAVING count(*) >= 15),
        |e AS (SELECT user_id FROM events WHERE event_type = 'error'
        |      GROUP BY user_id HAVING count(*) >= 15)
        |SELECT user_id FROM p INTERSECT SELECT user_id FROM e
        |ORDER BY user_id""".stripMargin,

    "daily_type_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // ts truncated to micros (CAST from TIMESTAMP_NS) so the 30-minute
    // gap test and lag ordering run at the same precision as Spark.
    "user_sessions" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |lagged AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev),
        |flagged AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM lagged)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Salting changes partitioning, not semantics: the oracle is the
    // plain unsalted join.
    "salted_user_value" ->
      s"""SELECT c_mktsegment, count(*) AS n_events,
         |       count(DISTINCT user_id) AS n_users,
         |       ${Exact.sqlDecSum("value")} AS sum_value
         |FROM events e
         |JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "join_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c)
        |SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
        |       CAST(cnt AS DOUBLE) / total AS share,
        |       CAST(cnt * n_keys AS DOUBLE) / total AS skew_x
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,

    // Same union+window reconstruction; right (click) rows sort before
    // left (purchase) rows at equal ts via tag, and tb (= click_id)
    // breaks ties among equal-ts clicks. Nullable tb never flips
    // cross-engine null ordering because tag already separates sides.
    "purchase_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |u AS (
        |  SELECT user_id AS k, ts, 0 AS tag, event_id AS tb,
        |         event_id AS click_id, CAST(NULL AS BIGINT) AS pev
        |  FROM ev WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 1, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), event_id
        |  FROM ev WHERE event_type = 'purchase'),
        |w AS (SELECT *, last_value(click_id IGNORE NULLS) OVER (
        |        PARTITION BY k ORDER BY ts, tag, tb
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
        |      FROM u)
        |SELECT pev AS event_id, k AS user_id, ts, asof_click_id
        |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,

    "user_value_by_nation" ->
      s"""SELECT n_name, count(*) AS n_events,
         |       count(DISTINCT user_id) AS n_users,
         |       ${Exact.sqlDecSum("value")} AS sum_value
         |FROM events e
         |JOIN customer c ON e.user_id = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // Spark session_window merges INCLUSIVELY at the boundary: an event
    // at exactly prev_ts + gap extends the session (pinned in
    // EventStreamSpec), so a new session starts only when ts > prev +
    // gap — same `>` as user_sessions. end = last event + gap.
    "dedup_within_horizon" ->
      """WITH occ AS (
        |  SELECT event_id, ts, event_type, 'orig' AS src FROM events
        |  UNION ALL SELECT event_id, ts + INTERVAL 2 MINUTE, event_type, 'r2m'
        |            FROM events WHERE event_id % 3 = 0
        |  UNION ALL SELECT event_id, ts + INTERVAL 7 MINUTE, event_type, 'r7m'
        |            FROM events WHERE event_id % 5 = 0
        |  UNION ALL SELECT event_id, ts + INTERVAL 3 HOUR, event_type, 'r3h'
        |            FROM events WHERE event_id % 15 = 0),
        |lagged AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY event_id ORDER BY ts) AS prev_ts
        |  FROM occ)
        |SELECT event_id, ts, event_type, src FROM lagged
        |WHERE prev_ts IS NULL OR ts > prev_ts + INTERVAL 1 HOUR
        |ORDER BY event_id, ts""".stripMargin,

    "session_windows" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |lagged AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM ev),
        |flagged AS (
        |  SELECT user_id, ts,
        |         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM lagged),
        |sess AS (
        |  SELECT user_id, ts,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       count(*) AS n_events
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,

    "running_daily_ratio" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n,
        |       CAST(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |       CAST(CAST(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |            / CAST(sum(n) OVER () AS DOUBLE) AS DOUBLE) AS ratio
        |FROM daily ORDER BY day""".stripMargin,

    // One-window global prefix max at oracle scale; identical planted
    // delays, bounds frame, and drop rule.
    "lateness_audit" ->
      """WITH e AS (SELECT event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP))
        |               - CASE WHEN CAST('0x' || substr(md5('graft-late-arrival' || event_id), 1, 4) AS BIGINT) % 100 < 10
        |                      THEN (CAST('0x' || substr(md5('graft-delay' || event_id), 1, 4) AS BIGINT) % 7200) * 1000000
        |                      ELSE 0 END AS us
        |           FROM events),
        |p AS (SELECT event_id, us,
        |             max(us) OVER (ORDER BY event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm
        |      FROM e),
        |b AS (SELECT * FROM (VALUES
        |        ('1_minute',   CAST(60000000 AS BIGINT)),
        |        ('10_minutes', CAST(600000000 AS BIGINT)),
        |        ('1_hour',     CAST(3600000000 AS BIGINT))) t(bound, bound_us))
        |SELECT bound, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN pm - us > bound_us THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |       CAST(CAST(sum(CASE WHEN pm - us > bound_us THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
        |            // count(*) AS BIGINT) AS dropped_ppm
        |FROM p, b GROUP BY bound ORDER BY bound""".stripMargin,

    // DuckDB's native ASOF JOIN is the same backward-join semantics as
    // the engine's tagged-union window; one-window rank selection for
    // the quantiles at oracle scale.
    "conversion_latency" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |           FROM events),
        |v AS (SELECT user_id, ts AS v_ts FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS p_ts, event_id FROM e WHERE event_type = 'purchase'),
        |d AS (SELECT epoch_us(p.p_ts) - epoch_us(v.v_ts) AS d_us, p.event_id
        |      FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.v_ts <= p.p_ts),
        |r AS (SELECT d_us,
        |             CAST(row_number() OVER (ORDER BY d_us, event_id) AS BIGINT) AS rn,
        |             CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM d),
        |med AS (SELECT max(n) AS n_conversions,
        |               CAST(sum(d_us) // count(*) AS BIGINT) AS median_us
        |        FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
        |p90 AS (SELECT d_us AS p90_us FROM r WHERE rn = (n * 9 + 9) // 10)
        |SELECT n_conversions, CAST(median_us // 1000000 AS BIGINT) AS median_s,
        |       CAST(p90_us // 1000000 AS BIGINT) AS p90_s
        |FROM med, p90""".stripMargin,

    // Same shifted-integer weights and truncating shift-down division.
    "decayed_engagement" ->
      """WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT max(day) AS ref_day FROM e),
        |w AS (SELECT event_type, cents,
        |             CASE WHEN date_diff('day', day, ref_day) <= 30
        |                  THEN CAST(1 AS BIGINT) << CAST(30 - date_diff('day', day, ref_day) AS INTEGER)
        |                  ELSE 0 END AS w
        |      FROM e, r)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
        |       CAST(sum(CAST(cents AS HUGEINT) * w) // (CAST(1 AS BIGINT) << 30) AS BIGINT) AS decayed_cents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same per-user lag, in-session cutoff, and fixed-point
    // conditional probabilities.
    "event_transitions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |           FROM events),
        |s AS (SELECT user_id, ts, event_type,
        |             lag(ts) OVER w AS prev_ts,
        |             lag(event_type) OVER w AS prev_type
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT prev_type AS from_type, event_type AS to_type,
        |             CAST(count(*) AS BIGINT) AS n_trans
        |      FROM s
        |      WHERE prev_ts IS NOT NULL AND ts <= prev_ts + INTERVAL 30 MINUTE
        |      GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |      FROM p GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.n_trans, t.n_from,
        |       CAST(CAST(p.n_trans AS HUGEINT) * 1000000 // t.n_from AS BIGINT) AS p_fx
        |FROM p JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
  )
}
