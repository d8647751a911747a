#!/usr/bin/env python3
"""Per-query bench trend guard: compare two BENCH_r*.json artifacts and
flag regressions, so round-over-round slowdowns surface without a judge
re-run.

Usage: python3 scripts/bench_trend.py <old_bench.json> <new_bench.json>
       python3 scripts/bench_trend.py            # newest two in repo root

A query is flagged when new >= THRESH x old AND the absolute delta
exceeds ABS_FLOOR (sub-100ms wobble on cheap queries is noise, not
regression). New/removed queries are listed informationally. Exit code
1 when any regression is flagged, so the round notes can't forget it.
"""
import glob
import json
import os
import re
import sys

THRESH = 1.5
ABS_FLOOR = 0.1  # seconds
# Shuffle-budget gate (r13): a query whose shuffle WRITE grew >= THRESH x
# with an absolute delta past this floor is flagged even when its wall
# time hides in machine noise. The floor absorbs AQE coalesce wobble on
# small frames (and, in artifacts before Bench attributed shuffle by job
# group, listener-posting bleed between adjacent queries).
SHUF_ABS_FLOOR_MB = 16.0

# The two FROZEN cohorts whose totals BASELINE.md tracks across rounds:
# headline-75 (the round-5 suite) and heavy-20 (the 20 most expensive
# queries of BENCH_r8_final.json, adopted round 9). Reported whenever an
# artifact contains per-query data for every member.
HEADLINE_75 = set("""ann_lsh_bucket approx_distinct_tokens bigram_counts
bm25_score brand_revenue brand_topk_agg buyers_and_errorprone
buyers_not_errorprone cube_status_priority cust_no_orders customer_quartiles
daily_type_pivot decontaminate dedup_clusters doc_fingerprint doc_lm_score
embedding_neardup enrich_flatten events_by_type events_hourly exact_dedup
extract_stats fuzzy_source_match grouping_sets_revenue ivf_topk json_flatten
json_props_agg kmeans_centroids knn_cosine label_centroids lang_confusion
lead_extract leadsight_pipeline link_pagerank link_scan link_topk media_stats
median_order_value minhash_lsh monthly_revenue ngram_jaccard order_cohorts
order_value_p90 ordered_projection pii_scrub present_format priority_semi
prompt_render purchase_attribution q1_pricing_summary repetition_stats
revenue_by_nation rolling_revenue_7d rollup_region_nation running_daily_ratio
salted_user_value sequence_pack sequence_pack_global session_windows
ship_year_stats simhash simhash_neardup stratified_sample substring_dup_spans
text_quality tf_topk token_counts token_stats top_orders_per_customer
training_subset truncate_preview url_host user_sessions user_value_by_nation
value_moments""".split())
HEAVY_20 = set("""dedup_method_matrix tf_cosine_pairs dedup_artifacts
dedup_assign training_subset dedup_weight leakage_split lsh_recall
dedup_clusters ngram_jaccard containment_dup ann_recall order_value_mad
ivfpq_topk link_hits semantic_dedup join_size_estimate bloom_semi_prune
kcore_peel copurchase_pairs""".split())


def cohort_total(queries, cohort):
    vals = [queries.get(n) for n in cohort]
    if any(v is None or v < 0 for v in vals):
        return None
    return sum(vals)


# Bench line dispatch is by the `metric` field (BASELINE.md): a plain
# run prints per_query / per_query_shuffle, a merged min-of-N artifact
# adds their _minN forms. Any other metric (machine is read below,
# per_query_split and later additions) never feeds the comparison.
PER_QUERY = re.compile(r"per_query(_min\d+)?$")
PER_QUERY_SHUFFLE = re.compile(r"per_query_shuffle(_min\d+)?$")


def _merge(lines):
    """Fold parseable bench-JSON lines into one record: the per-query
    map from the per_query line, total/counters from the total line
    (since r7 Bench prints them on TWO stdout lines so the driver's
    2000-char tail capture can't lose the total), and — when present
    (r13+) — the per-query shuffle map under key 'shuffle'."""
    per_query, total, shuffle, machine = None, None, None, None
    for line in lines:
        try:
            j = json.loads(line)
        except json.JSONDecodeError:
            continue  # head-truncated capture of a long line
        if not isinstance(j, dict):
            continue
        metric = str(j.get("metric", ""))
        if metric == "machine":
            machine = j  # r14+: loadavg/MemAvailable at start+end
        elif PER_QUERY_SHUFFLE.match(metric):
            # last one wins, same as the wall-time convention below
            shuffle = j["queries"]
        elif PER_QUERY.match(metric) or (metric == "total" and "queries" in j):
            # LAST wins, so a merged artifact's min-of-N record is what
            # gets compared; before r7 the total line itself carried the
            # per-query map
            per_query = j
        elif metric == "total":
            total = j
    if per_query is not None and shuffle is not None:
        per_query = dict(per_query)
        per_query["shuffle"] = shuffle
    if per_query is None and total is None:
        return None
    if per_query is None:
        # 2000-char driver tail cut the per-query line's head: the
        # per-query data is gone, but the bounded total line survived —
        # keep the round-over-round total comparison alive
        print("note: per-query line truncated in capture; totals only",
              file=sys.stderr)
        merged = dict(total)
        merged["queries"] = {}
        return merged
    if total is not None:
        merged = dict(total)
        merged["queries"] = per_query["queries"]
        if "shuffle" in per_query:
            merged["shuffle"] = per_query["shuffle"]
        if machine is not None:
            merged["machine"] = machine
        return merged
    if machine is not None:
        per_query = dict(per_query)
        per_query["machine"] = machine
    return per_query


def load(path):
    """Accept Bench's raw stdout capture (one line pre-r7, two lines
    since), a bare bench JSON object, or a driver-side artifact (whose
    'parsed' field — or failing that its 'tail' capture — carries the
    bench lines)."""
    with open(path) as f:
        text = f.read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        # raw multi-line capture: fold the bench lines directly
        d = _merge(text.splitlines())
        if d is None:
            raise SystemExit(f"{path} is neither JSON nor a raw Bench capture")
        return d
    if "queries" in d:
        return d
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        return d["parsed"]
    # driver artifact: scan the tail for every '{"metric"' candidate and
    # fold per-query + total exactly like a raw capture
    tail = d.get("tail", "")
    lines = [tail[i:].splitlines()[0]
             for i in [m.start() for m in re.finditer(r'\{"metric"', tail)]]
    merged = _merge(lines)
    if merged is not None:
        return merged
    raise SystemExit(f"no bench JSON with a 'queries' map found in {path} "
                     "(truncated driver tail? use the committed "
                     "BENCH_r*_builder.json for per-query data)")


def main():
    if len(sys.argv) >= 3:
        old_p, new_p = sys.argv[1], sys.argv[2]
    else:
        rounds = sorted(glob.glob("BENCH_r*.json"),
                        key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
        if len(rounds) < 2:
            raise SystemExit("need two BENCH_r*.json files (or pass paths)")
        old_p, new_p = rounds[-2], rounds[-1]
    old, new = load(old_p), load(new_p)
    oq, nq = old["queries"], new["queries"]

    flagged, improved = [], []
    for name in sorted(set(oq) & set(nq)):
        a, b = oq[name], nq[name]
        if a <= 0 or b <= 0:
            continue  # failed marker
        if b >= a * THRESH and b - a >= ABS_FLOOR:
            flagged.append((name, a, b, b / a))
        elif a >= b * THRESH and a - b >= ABS_FLOOR:
            improved.append((name, a, b, b / a))

    # Shuffle-budget gate (r13): compare per-query shuffle WRITE MB when
    # both artifacts carry the r13+ shuffle line. Old artifacts without
    # it skip the gate with a note (never a silent pass-through of a
    # missing signal as "flat").
    os_, ns_ = old.get("shuffle"), new.get("shuffle")
    shuf_flagged = []
    if os_ is not None and ns_ is not None:
        for name in sorted(set(os_) & set(ns_)):
            a, b = os_[name].get("w", 0.0), ns_[name].get("w", 0.0)
            if b >= a * THRESH and b - a >= SHUF_ABS_FLOOR_MB:
                shuf_flagged.append((name, a, b, b / max(a, 0.01)))
    else:
        print("note: shuffle gate skipped (per_query_shuffle line missing "
              "in one artifact — pre-r13 capture)", file=sys.stderr)

    print(f"old: {os.path.basename(old_p)} total={old.get('value')}s "
          f"({len(oq)} queries)")
    print(f"new: {os.path.basename(new_p)} total={new.get('value')}s "
          f"({len(nq)} queries)")
    # machine-state line beside totals (r14; absent in pre-r14 artifacts)
    for label, rec in (("old", old), ("new", new)):
        m = rec.get("machine")
        if m:
            print(f"  machine {label}: start={json.dumps(m.get('start'))} "
                  f"end={json.dumps(m.get('end'))}")
    for label, cohort in (("headline-75", HEADLINE_75), ("heavy-20", HEAVY_20)):
        a, b = cohort_total(oq, cohort), cohort_total(nq, cohort)
        fa = f"{a:.1f}s" if a is not None else "n/a"
        fb = f"{b:.1f}s" if b is not None else "n/a"
        print(f"  cohort {label}: {fa} -> {fb}")
    for name in sorted(set(nq) - set(oq)):
        print(f"  NEW      {name}: {nq[name]:.3f}s")
    for name in sorted(set(oq) - set(nq)):
        print(f"  REMOVED  {name} (was {oq[name]:.3f}s)")
    for name, a, b, r in sorted(improved, key=lambda x: x[3]):
        print(f"  faster   {name}: {a:.3f}s -> {b:.3f}s ({r:.2f}x)")
    bad = False
    if flagged:
        bad = True
        print(f"\n== {len(flagged)} REGRESSION(S) >= {THRESH}x ==")
        for name, a, b, r in sorted(flagged, key=lambda x: -x[3]):
            print(f"  REGRESSED {name}: {a:.3f}s -> {b:.3f}s ({r:.2f}x)")
    if shuf_flagged:
        bad = True
        print(f"\n== {len(shuf_flagged)} SHUFFLE REGRESSION(S) >= {THRESH}x "
              f"(abs floor {SHUF_ABS_FLOOR_MB:.0f}MB) ==")
        for name, a, b, r in sorted(shuf_flagged, key=lambda x: -x[3]):
            print(f"  SHUFFLE   {name}: {a:.1f}MB -> {b:.1f}MB ({r:.2f}x)")
    if bad:
        sys.exit(1)
    print(f"\n== no per-query regression >= {THRESH}x (abs floor {ABS_FLOOR}s; "
          f"shuffle floor {SHUF_ABS_FLOOR_MB:.0f}MB) ==")


if __name__ == "__main__":
    main()
