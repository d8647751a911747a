#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload catalog_sf01 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny, both modes

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM side from source (sbt, offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. Inputs are generated
from --seed under perfbench/.work; the engine only sees those files and the
site farm's loopback URLs. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. A human summary, the machine
record and the per-layer self times go to stderr. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402

T_START = time.time()
RUN_LIMIT_S = 160          # the JVM's share of the 180 s a built run may take

# ── workloads ───────────────────────────────────────────────────────────

# Frozen catalog: short relational, event, link, doc and text queries that
# each finish in well under a second at sf0.1 on four cores, so driver-side
# planning and construction are a large share of their wall time.
CATALOG = """
brand_topk_agg buyers_and_errorprone events_by_type running_daily_ratio
link_scan url_host exact_dedup token_counts stratified_sample prompt_render
""".split()

# Dedup and ANN: shingling + MinHash/LSH, AllPairs/PPJoin, containment,
# connected components, centroid assignment.
CURATION = """
minhash_lsh dedup_clusters ivf_topk
""".split()

SIZES = {
    # name: (catalog scale | curation docs, vecs | crawl hosts)
    "full": {"catalog_sf01": 0.1, "curation_corpus": (1500, 2000), "leadsight_crawl": 16},
    "smoke": {"catalog_sf01": 0.01, "curation_corpus": (1500, 1000), "leadsight_crawl": 6},
}
SMOKE_CATALOG = ["brand_topk_agg", "events_by_type", "link_scan", "token_counts", "exact_dedup"]
CATALOG_DATA_SEED = 20240101
SETUPS = 2
# passes the window holds at least, whatever --seconds says: each query's
# latency is its median over the passes, so a pass slowed by a JIT burst or
# a busy neighbour does not set it (curation keeps JIT-compiling generated
# code pass after pass, and one query in a pass can be 30% off its median).
# More passes would not fit the time all runs of a comparison have.
MIN_PASSES = {"catalog_sf01": 5, "curation_corpus": 3, "leadsight_crawl": 2}
LLM_LATENCY_MS = 150

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("query_p50_s", "s"),
    ("query_p90_s", "s"), ("peak_rss_mb", "MB"), ("retained_mb", "MB"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ── machine record ──────────────────────────────────────────────────────

def _read(p):
    try:
        with open(p) as f:
            return f.read()
    except OSError:
        return ""


def machine():
    mem = next((int(l.split()[1]) // 1024 for l in _read("/proc/meminfo").splitlines()
                if l.startswith("MemAvailable:")), -1)
    # CPU time the hypervisor gave other guests while this one had work
    # (the 8th field of /proc/stat's cpu line): a run on a busy host shows it
    cpu = (_read("/proc/stat").splitlines() or [""])[0].split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else -1.0
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": _read("/proc/loadavg").split()[:3],
            "mem_available_mb": mem, "steal_s": steal}


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + source_hash()[:16]


# ── build ───────────────────────────────────────────────────────────────

def _sources():
    pats = ["src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    return sorted(p for pat in pats for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                  if os.path.isfile(p))


_HASH = None


def source_hash():
    global _HASH
    if _HASH is None:
        h = hashlib.sha1()
        for p in _sources():
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
        _HASH = h.hexdigest()
    return _HASH


def build():
    """Compile engine + benchmark once per source tree; return the classpath."""
    cache = os.path.join(HERE, ".build", f"classpath-{source_hash()[:16]}.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building engine + benchmark (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840,
                       stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l and ":" in l]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:], p.stderr[-2000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ── inputs ──────────────────────────────────────────────────────────────

def _cached_dir(name, make):
    d = os.path.join(WORK, "data", name)
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        make(d)
        open(os.path.join(d, ".done"), "w").close()
    os.utime(d)
    return d


def _prune(prefix, keep):
    ds = sorted(glob.glob(os.path.join(WORK, "data", prefix + "*")), key=os.path.getmtime)
    for d in ds[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


# ── correctness ─────────────────────────────────────────────────────────

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _same(s, d):
    s, d = _norm(s), _norm(d)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            eq = (sv.isna() & dv.isna()) | (sv == dv)
        except Exception:
            eq = sv.astype(str) == dv.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: {sv[i]!r} vs {dv[i]!r}"
    return None


def check_queries(check_dir, data_dir, queries, oracle_key):
    """Spark's warm-pass results against DuckDB answers of the oracle SQL on
    the same files; answers are cached per (workload, seed)."""
    import duckdb
    import pandas as pd
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(WORK, "oracle", oracle_key)
    os.makedirs(cache, exist_ok=True)
    con = None
    wrong = {}
    for name in queries:
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            wrong[name] = "no output"
            continue
        if name not in oracle:
            wrong[name] = "no oracle"
            continue
        ans = os.path.join(cache, name + ".pkl")
        if os.path.exists(ans):
            duck = pd.read_pickle(ans)
        else:
            if con is None:
                con = duckdb.connect()
                con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
                for t in TABLES:
                    p = os.path.join(data_dir, t + ".parquet")
                    if os.path.exists(p):
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            duck = con.sql(oracle[name]).df()
            duck.to_pickle(ans)
        spark = pd.concat([pd.read_parquet(p) for p in files])
        diff = _same(spark, duck)
        if diff:
            wrong[name] = diff
    return wrong


def check_crawl(out_xlsx, truth):
    """Each company once, in input order, with the planted values; the
    enrichment columns filled exactly where an about sentence was found."""
    rows = gen.read_xlsx(out_xlsx)
    wrong = {}
    for i, exp in enumerate(truth):
        got = rows[i] if i < len(rows) else None
        if got is None:
            wrong[exp["Company Name"]] = "missing"
            continue
        for k, v in exp.items():
            if got.get(k) != v and not (k == "Website" and got.get(k, "").rstrip("/") == v.rstrip("/")):
                wrong[exp["Company Name"]] = f"{k}: {got.get(k)!r} vs {v!r}"
                break
        else:
            lead = f"{exp['Company Name']} team" if exp["About Us"] else None
            if got.get("leadership") != lead:
                wrong[exp["Company Name"]] = f"leadership: {got.get('leadership')!r} vs {lead!r}"
    if len(rows) != len(truth):
        wrong["<rows>"] = f"{len(rows)} rows vs {len(truth)}"
    return wrong


# ── run ─────────────────────────────────────────────────────────────────

# A fixed heap and young generation keep peak RSS from following G1's
# adaptive heap sizing from run to run (the heap is committed, not touched,
# so RSS still counts only what the run uses); a fixed set of JIT compiler
# threads keeps their CPU (subtracted from cpu_s) from leaving with a
# retired thread.
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-Xmn256m", "-XX:-UseDynamicNumberOfCompilerThreads"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, plan, run_dir):
    plan_path = os.path.join(run_dir, "plan.json")
    res_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f, indent=1)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={plan['tmp_dir']}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", plan_path, res_path]
    budget = max(10.0, RUN_LIMIT_S - (time.time() - T_START))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"[perfbench] JVM exceeded {budget:.0f} s; see {run_dir}/jvm.log")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-3000:])
        raise SystemExit(f"[perfbench] JVM failed with code {p.returncode}")
    with open(res_path) as f:
        return json.load(f)


def quantile(vals, q):
    vals = sorted(vals)
    if len(vals) == 1:
        return vals[0]
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def latency_quantiles(passes):
    """query_p50_s and query_p90_s: quantiles over the queries of each
    query's median time across the passes. A workload of one query (the
    crawl) has only its passes to spread over, so those are the samples."""
    by_query = {}
    for p in passes:
        for name, s in p["queries"]:
            by_query.setdefault(name, []).append(s)
    if len(by_query) == 1:
        samples = next(iter(by_query.values()))
    else:
        samples = [statistics.median(v) for v in by_query.values()]
    return quantile(samples, 0.5), quantile(samples, 0.9)


def run(workload, seed, seconds, trace, size):
    m0 = machine()
    cp = build()
    global T_START
    T_START = time.time()          # the 180 s budget starts once the build exists
    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "check"):
        os.makedirs(os.path.join(run_dir, sub))
    plan = {"workload": workload, "seconds": seconds, "trace": trace, "setups": SETUPS,
            "min_passes": MIN_PASSES[workload],
            "cpus": str(m0["nproc"]), "run_id": f"{workload}-{seed}-{trace}",
            "work_dir": run_dir, "tmp_dir": os.path.join(run_dir, "tmp"),
            "local_dir": os.path.join(run_dir, "local"),
            "check_dir": os.path.join(run_dir, "check"),
            "trace_path": os.path.join(run_dir, "spans.jsonl")}
    scale = SIZES[size][workload]
    the_farm = truth = None
    try:
        if workload == "catalog_sf01":
            names = SMOKE_CATALOG if size == "smoke" else CATALOG
            data = _cached_dir(f"catalog-{scale}-{CATALOG_DATA_SEED}",
                               lambda d: gen.catalog_tables(d, CATALOG_DATA_SEED, scale))
            plan.update(data_dir=data, queries=gen.catalog_order(names, seed))
            oracle_key = f"catalog-{scale}-{CATALOG_DATA_SEED}"
        elif workload == "curation_corpus":
            names = CURATION
            docs, vecs = scale
            data = _cached_dir(f"curation-{docs}-{vecs}-{seed}",
                               lambda d: gen.curation_corpus(d, seed, docs, vecs))
            _prune("curation-", 4)
            plan.update(data_dir=data, queries=names)
            oracle_key = f"curation-{docs}-{vecs}-{seed}"
        else:
            import farm
            hosts = gen.crawl_spec(seed, scale)
            the_farm = farm.Farm(hosts, LLM_LATENCY_MS).start()
            truth = gen.crawl_truth(hosts, the_farm.bases)
            xlsx = os.path.join(run_dir, "companies.xlsx")
            gen.write_xlsx(xlsx, ["company", "website"],
                           [[h["name"], b + "/"] for h, b in zip(hosts, the_farm.bases)])
            plan.update(companies_xlsx=xlsx, output_xlsx=os.path.join(run_dir, "output.xlsx"),
                        llm_url=the_farm.llm_url, farm_ctl=the_farm.ctl_url,
                        fetch_timeout_ms="5000")
        t_jvm = time.time()
        res = run_jvm(cp, plan, run_dir)
        t_jvm = time.time() - t_jvm
    finally:
        if the_farm is not None:
            the_farm.stop()

    # correctness, outside the timed window
    t_check = time.time()
    passes = res["passes"]
    if workload == "leadsight_crawl":
        wrong = check_crawl(plan["output_xlsx"], truth)
        for v in the_farm.counters.violations:
            wrong["robots:" + v] = "disallowed URL requested"
        wrong.update(res["warm_failed"])
        if any(p["steps"]["rows_written"] != len(truth) for p in passes):
            wrong["<passes>"] = "a pass wrote a row count other than the company count"
        bad_units = len(wrong)
    else:
        wrong = dict(res["warm_failed"])
        wrong.update({k: v for k, v in check_queries(plan["check_dir"], plan["data_dir"],
                                                     plan["queries"], oracle_key).items()
                      if k not in wrong})
        bad_units = len(wrong)
    attempted = sum(p["attempted"] for p in passes)
    failed = 0
    for p in passes:
        if workload == "leadsight_crawl":
            failed += min(p["attempted"], bad_units + len(p["failed"]))
        else:
            failed += len(set(p["failed"]) | set(wrong))
    failed = min(failed, attempted)

    t_check = time.time() - t_check

    # metrics
    companies = passes[0].get("steps", {}).get("companies", 0)
    walls = [p["wall_s"] for p in passes]
    summary = {"fail_ratio": failed / attempted, "jvm_run_s": t_jvm, "check_s": t_check}
    if trace == 0:
        qs = [s for p in passes for _, s in p["queries"]]
        p50, p90 = latency_quantiles(passes)
        ret = res["retained"]
        metrics = {
            "setup_s": statistics.median(res["setups_s"]),
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median([p["cpu_s"] for p in passes]),
            "query_p50_s": p50,
            "query_p90_s": p90,
            "peak_rss_mb": res["peak_rss_mb"],
            "retained_mb": ret["heap_mb"] + ret["blocks_mb"] + ret["disk_mb"],
        }
        units = dict(END_TO_END)
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        summary.update(metrics)
        summary.update({f"retained.{k}": v for k, v in ret.items()})
        summary["passes"] = len(passes)
        summary["query_samples"] = len(qs)
        if companies:
            summary["companies_per_s"] = companies / metrics["wall_s"]
    else:
        lay = dict(res["layers"])
        plain, traced = walls
        lay["trace.overhead_s"] = traced - plain
        lay["trace.wall_s"] = traced
        lay["trace.spans"] = res["spans"]
        lay["plans.plan_share"] = lay.get("plans.plan_s", 0.0) / traced
        lay["fail_ratio"] = failed / attempted
        if companies:
            lay["crawl.companies_per_s"] = companies / traced
        out = {}
        for name, unit in PER_LAYER:
            out[name] = {"value": float(lay.get(name, 0.0)), "unit": unit}
        summary.update({"trace.overhead_s": lay["trace.overhead_s"],
                        "plans.plan_share": lay["plans.plan_share"]})
        log("[perfbench] self time per span (s):")
        for k, v in sorted(res["self_s"].items(), key=lambda kv: -kv[1]):
            log(f"    {k:34s} {v:9.4f}")
        log(f"[perfbench] spans: {plan['trace_path']}")

    m1 = machine()
    record = {"workload": workload, "seed": seed, "trace": trace, "size": size,
              "commit": commit(), "start": m0, "end": m1, "wrong": wrong, "summary": summary}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"[perfbench] machine: nproc={m0['nproc']} loadavg {' '.join(m0['loadavg'])} -> "
        f"{' '.join(m1['loadavg'])} MemAvailable {m0['mem_available_mb']} -> "
        f"{m1['mem_available_mb']} MB steal {m1['steal_s'] - m0['steal_s']:.2f} s "
        f"commit {record['commit']}")
    for k, v in summary.items():
        log(f"[perfbench] {workload} {k} = {v}")
    for k, v in list(wrong.items())[:20]:
        log(f"[perfbench] WRONG {k}: {v}")
    for sub in ("tmp", "local", "check", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    _prune_runs()
    return {"correct": not wrong and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


def _prune_runs(keep=40):
    rs = sorted(glob.glob(os.path.join(WORK, "runs", "*")), key=os.path.getmtime)
    for d in rs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


PER_LAYER = [
    ("tables.scan_s", "s"), ("tables.rows", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.plan_s", "s"), ("plans.plan_share", "ratio"), ("plans.exchanges", "count"),
    ("plans.smj", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_s", "s"), ("exec.task_run_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_share", "ratio"), ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.peak_task_mem_mb", "MB"), ("exec.rows_out", "count"),
    ("operators.shingled_s", "s"), ("operators.minhash_sig_s", "s"),
    ("operators.jaccard_pairs_s", "s"), ("operators.candidate_pairs", "count"),
    ("operators.pair_yield", "ratio"), ("operators.cc_s", "s"), ("operators.assign_s", "s"),
    ("functions.tokenhash_s", "s"), ("functions.quantize_s", "s"),
    ("sources.web.home_fetch_s", "s"), ("sources.web.sub_fetch_s", "s"),
    ("sources.web.requests", "count"), ("sources.web.dup_requests", "count"),
    ("sources.web.useful_ratio", "ratio"), ("sources.web.inflight_max", "count"),
    ("sources.web.robots_requests", "count"), ("sources.web.robots_blocked", "count"),
    ("sources.web.status_4xx", "count"), ("sources.web.transport_errors", "count"),
    ("sources.web.wait_share", "ratio"),
    ("operators.links.select_s", "s"), ("operators.links.candidates", "count"),
    ("operators.extract.s", "s"), ("operators.extract.null_fields", "count"),
    ("operators.enrich.s", "s"), ("operators.enrich.calls", "count"),
    ("operators.enrich.null_rows", "count"), ("operators.enrich.inflight_max", "count"),
    ("sources.xlsx.read_s", "s"), ("sources.xlsx.write_s", "s"),
    ("crawl.companies_per_s", "1/s"), ("fail_ratio", "ratio"),
    ("jvm.jit_s", "s"), ("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("trace.spans", "count"),
]

WORKLOADS = ["catalog_sf01", "curation_corpus", "leadsight_crawl"]


def smoke():
    """Every workload at its smoke size in both modes: every named metric
    present and finite, and no failure on the query workloads."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for w in WORKLOADS:
        for trace, names in ((0, [m["name"] for m in bench["end_to_end"]]),
                             (1, [m["name"] for m in bench["per_layer"]])):
            global T_START
            T_START = time.time()
            r = run(w, 1, 1, trace, "smoke")
            missing = [n for n in names if n not in r["metrics"]
                       or not isinstance(r["metrics"][n]["value"], (int, float))]
            if trace == 1:
                spans_path = glob.glob(os.path.join(WORK, "runs", f"{w}-s1-t1-{os.getpid()}", "spans.jsonl"))
                with open(spans_path[0]) as f:
                    span_names = {json.loads(l)["name"] for l in f if l.strip()}
                need = ({"crawl.pass", "sources.xlsx.read_s", "sources.web.home_fetch_s",
                         "operators.links.select_s", "sources.web.sub_fetch_s", "operators.extract.s",
                         "operators.enrich.s", "sources.xlsx.write_s"} if w == "leadsight_crawl"
                        else {"pass", "query", "queries.build", "plans+exec", "functions.quantize_s",
                              "operators.assign_s"})
                need |= {"probes", "operators.shingled_s", "operators.minhash_sig_s",
                         "operators.jaccard_pairs_s", "operators.cc_s", "functions.tokenhash_s"}
                missing += sorted(f"span:{n}" for n in need - span_names)
            bad = missing or (w != "leadsight_crawl" and r["failed"] > 0)
            ok &= not bad
            log(f"[smoke] {w} trace={trace}: {'FAIL' if bad else 'ok'} "
                f"failed={r['failed']}/{r['attempted']} missing={missing}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes; all workloads; assert metrics")
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(HERE, "build.sbt"))):
        log("[perfbench] engine sources not found next to perfbench/; run from a full checkout")
        sys.exit(2)
    if a.smoke:
        sys.exit(0 if smoke() else 1)
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace, "full")), flush=True)


if __name__ == "__main__":
    main()
