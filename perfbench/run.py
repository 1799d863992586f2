#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]

Run from the root of a source checkout. The first run builds the program
and the benchmark harness from source (sbt, into perfbench/jvm/target)
and writes the corpus (perfbench/corpus.py: the rows of the sf0.1 test
corpus); later runs reuse both. Every run starts its own JVM on
local[nproc] with its own artifact root, temp dir and Spark local dirs,
times the workload's ops on their full output, checks each distinct op's
output against the DuckDB oracle and prints one JSON object as its last
stdout line. It exits non-zero if any op threw, mismatched the oracle or
changed its row count, or if an artifact was built after set-up.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
JVM_DIR = HERE / "jvm"
RUN_TIMEOUT_S = 165
sys.path.insert(0, str(HERE))
CORPUS_SEED = 42
CORPUS_SF = 0.1
WARM_SF = 0.002  # the warm-up copy: 2% of the corpus

# The four-table refresh, in the pipeline's load order (Pipeline.LoadOrder).
REFRESH = ["pipeline_customers_e2e", "pipeline_products_e2e",
           "pipeline_stores_e2e", "pipeline_sales_e2e"]

# Read-only interactive queries: every 7th (by name) of RetailQueries and
# ExtQueriesAnalytics once writers (sink_*, scan_*, control_log_sink,
# incremental_watermark_load, merge_upsert_customers) and source_precheck
# (no oracle) are left out, plus every other ANN/top-k serving query of
# ExtQueriesSimilarity.
MIX = ["agg_count_rows", "analytics_cohort_retention",
       "analytics_moving_window", "analytics_rfm_scores",
       "attribution_first_touch", "derive_full_name", "detect_full_row_dups",
       "events_from_json_struct", "filter_metadata_active",
       "join_range_bucketed", "project_contract", "sketch_cms_error",
       "window_ewma_hourly", "window_tumbling",
       "sim_bruteforce_topk", "sim_int8_rerank_topk", "sim_ivf_topk",
       "sim_lsh_ann", "sim_mips_topk"]

# Six of the sixteen stream_* queries, the number that fits the run
# budget (see README.md): stateful dedup, a stateful session, a
# stream-static join, a windowed top-k, an upsert sink and the
# near-duplicate gate, which attaches the minhash signature artifact.
# They run in this fixed order: the first stream op of a session stages
# the events source, so a seeded order moves that cost between ops.
STREAMS = ["stream_dedup", "stream_enrich_dim", "stream_neardup_gate",
           "stream_session_stateful", "stream_trending_topk",
           "stream_warehouse_upsert"]

CURATION = ["corpus_curation_e2e", "corpus_curation_v2", "corpus_curation_v3",
            "corpus_curation_v4"]

# name -> (op list, seeded order?, set-up kind, unit of work).
# BENCHMARK.json measures warehouse_refresh and stream_replay; the other
# two run on request (--workload, --all).
WORKLOADS = {
    "warehouse_refresh": (REFRESH, False, "warm", "rows"),
    "stream_replay": (STREAMS, False, "stream", "streams"),
    "query_mix": (MIX, True, "construct", "queries"),
    "curation_batch": (CURATION, True, "curation", "docs"),
}
DOCS = 5000  # documents each curation chain reads
CYCLES = 50

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [JVM_DIR / "build.sbt", JVM_DIR / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", JVM_DIR / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the harness once per source state; returns
    the runtime classpath."""
    stamp = WORK / "build.stamp"
    cp_file = JVM_DIR / "target" / "runtime-classpath.txt"
    want = source_hash()
    if stamp.exists() and stamp.read_text() == want and cp_file.exists():
        return cp_file.read_text().strip()
    log("building program + harness from source (sbt)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"], cwd=JVM_DIR,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0 or not cp_file.exists():
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp.write_text(want)
    log(f"built in {time.time() - t0:.0f}s")
    return cp_file.read_text().strip()


def corpus():
    """The corpus and its warm-up copy, written once per generator
    version."""
    import corpus as gen
    ver = hashlib.sha256((HERE / "corpus.py").read_bytes()).hexdigest()[:12]
    d = WORK / f"corpus-{ver}-{CORPUS_SEED}"
    fp_file = d / "_fingerprint"
    if not fp_file.exists():
        log("writing corpus")
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d / "warm", CORPUS_SEED, WARM_SF)
        gen.write(d, CORPUS_SEED, CORPUS_SF)
        fp_file.write_text(gen.fingerprint(d))
    return d, fp_file.read_text()


def op_cycles(workload, seed):
    ops, shuffled, _, _ = WORKLOADS[workload]
    rng = random.Random(seed)
    out = []
    for _ in range(CYCLES):
        c = list(ops)
        if shuffled:
            rng.shuffle(c)
        out.append(c)
    return out


def java_cmd(cp, tmp, main, *args):
    """The benchmark JVM: Spark's module opens, the throughput collector
    (its concurrent collector's threads would compete with four executor
    threads) and a fixed 3 GB heap."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
            ["-XX:+UseParallelGC", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def run_jvm(cp, corpus_dir, cycles, seconds, trace, setup, run_dir,
            deadline):
    run_dir.mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    (run_dir / "local").mkdir()
    ops_file = run_dir / "ops.txt"
    ops_file.write_text("\n".join(" ".join(c) for c in cycles) + "\n")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    cmd = java_cmd(cp, run_dir / "tmp", "perfbench.Main",
                   "--corpus", corpus_dir, "--warm-corpus",
                   corpus_dir / "warm", "--ops", ops_file,
                   "--seconds", seconds, "--trace", trace,
                   "--setup", setup, "--out", run_dir)
    with open(run_dir / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("run exceeded its time limit")
        finally:  # also when this process is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    res = run_dir / "result.json"
    if p.returncode != 0 or not res.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"JVM run failed (exit {p.returncode})")
    return json.loads(res.read_text())


def latencies(workload, ops):
    """Per-op wall times; for warehouse_refresh the unit is a whole
    four-table refresh."""
    if workload == "warehouse_refresh":
        return [sum(o["wall_s"] for o in ops if o["cycle"] == c)
                for c in sorted({o["cycle"] for o in ops})]
    return [o["wall_s"] for o in ops]


def quantile(xs, q):
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def figures(workload, ops):
    """(p50 latency, work per second of op time) of a set of ops."""
    walls = latencies(workload, ops)
    unit = WORKLOADS[workload][3]
    # refresh: the source rows the pipelines' EXTRACT stages read
    work = {"rows": sum(o["source_rows"] or 0 for o in ops),
            "docs": DOCS * len(ops)}.get(unit, len(ops))
    return statistics.median(walls), work / sum(o["wall_s"] for o in ops)


def summarize(workload, res, corpus_dir, corpus_fp, run_dir):
    import oracle
    every = res["ops"]
    # a traced run also times an overhead pair of every op; its figures
    # here are those of the first, traced execution
    ops = [o for o in every if o["mode"] in ("plain", "traced")]
    oracle_sql = json.loads((run_dir / "oracle_sql.json").read_text())
    verdict = oracle.check(ROOT, corpus_dir, corpus_fp, run_dir / "verify",
                           oracle_sql, list(res["verified_rows"]),
                           WORK / "oracle_cache")
    failed = []
    for o in every:
        why = o["error"] or verdict.get(o["name"])
        if why:
            failed.append((o["name"], why))
    if res["artifact_builds_timed"]:
        failed.append(("artifact.builds_timed",
                       f"{res['artifact_builds_timed']} artifact build(s) "
                       "after set-up"))
    p50, rate = figures(workload, ops)
    walls = latencies(workload, ops)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "p50_s": (p50, "s"),
        "throughput": (rate, "1/s"),
    }
    info = {"unit_of_work": WORKLOADS[workload][3], "samples": len(walls),
            "cycles": res["cycles"], "setup_parts": res["setup_parts"],
            "peak_rss_mb": res["peak_rss_mb"],
            "op_walls": [[o["name"], round(o["wall_s"], 3)] for o in ops],
            "failed_frac": len(failed) / len(every),
            "failed_ops": failed[:20]}
    # the highest quantile with at least ten samples beyond it
    if len(walls) > 20:
        q = (len(walls) - 10) / len(walls)
        info["tail_s"] = quantile(walls, q)
        info["tail_quantile"] = round(q, 4)
    return e2e, failed, info


# The workload-specific names of the end-to-end figures.
NAMED = {
    "warehouse_refresh": {"p50_s": "refresh_p50_s",
                          "throughput": "refresh_rows_per_s"},
    "query_mix": {"p50_s": "query_p50_s", "tail_s": "query_tail_s",
                  "throughput": "queries_per_s"},
    "curation_batch": {"p50_s": "curation_p50_s",
                       "throughput": "curation_docs_per_s"},
    "stream_replay": {"p50_s": "stream_p50_s", "tail_s": "stream_tail_s",
                      "throughput": "streams_per_s"},
}


def one(workload, seed, seconds, trace):
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cp = build()
    corpus_dir, corpus_fp = corpus()
    deadline = time.time() + RUN_TIMEOUT_S
    cycles = op_cycles(workload, seed)
    setup = WORKLOADS[workload][2]
    stamp = source_hash()
    run_dir = WORK / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_jvm(cp, corpus_dir, cycles, seconds, trace, setup, run_dir,
                      deadline)
        res["checked"] = summarize(workload, res, corpus_dir, corpus_fp,
                                   run_dir)
        if trace:
            keep = WORK / "traces"
            keep.mkdir(parents=True, exist_ok=True)
            shutil.copy(run_dir / "spans.json",
                        keep / f"{workload}-{seed}-spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e, failed, info = res["checked"]
    info.update(seed=seed, nproc=res["nproc"], heap_max_mb=res["heap_max_mb"],
                spark_version=res["spark_version"], source=stamp,
                git_head=git_head(), confs=res["confs"])
    print(json.dumps({"workload": workload, "run": info}), flush=True)
    names = NAMED[workload]
    for k, (v, u) in e2e.items():
        print(f"{names.get(k, k)} {v:.6g} {u}", flush=True)
    if "tail_s" in info:
        print(f"{names.get('tail_s', 'tail_s')} {info['tail_s']:.6g} s "
              f"(p{100 * info['tail_quantile']:.1f})", flush=True)
    print(f"failed_frac {info['failed_frac']:.6g} ratio", flush=True)
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in res["layers"].items()}
        metrics["jvm.peak_rss_mb"] = {"value": res["peak_rss_mb"],
                                      "unit": "MB"}
        # the overhead pair: each op once more untraced and traced, the
        # order alternating from op to op
        base, _ = figures(workload, [o for o in res["ops"]
                                     if o["mode"] == "pair_plain"])
        p50, _ = figures(workload, [o for o in res["ops"]
                                    if o["mode"] == "pair_traced"])
        metrics["trace.overhead_s"] = {"value": p50 - base, "unit": "s"}
        metrics["trace.overhead_frac"] = {"value": p50 / base - 1,
                                          "unit": "ratio"}
        print(f"trace_overhead {p50 - base:+.4g} s "
              f"({100 * (p50 / base - 1):+.2f}% of untraced p50 "
              f"{base:.4g} s)", flush=True)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    attempted = len(res["ops"])
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}), flush=True)
    return 0 if not failed else 1


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ns_per_row", "ns"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_amp", "ratio")):
        if tail.endswith(suffix):
            return unit
    return "count"


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except Exception:
        return None


def count_vs_noop(reps=3):
    """Records .count() vs noop medians for every op the workloads draw."""
    cp = build()
    corpus_dir, _ = corpus()
    ops = list(dict.fromkeys(op for w in WORKLOADS.values() for op in w[0]))
    out = WORK / "count_vs_noop.json"
    tmp = WORK / "count_vs_noop_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = java_cmd(cp, tmp, "perfbench.CountVsNoop", corpus_dir, reps, out,
                   *ops)
    subprocess.run(cmd, check=True)
    d = json.loads(out.read_text())
    d = {k: d.pop(k) for k in ("what", "reps", "nproc", "spark_version")} | d
    (HERE / "count_vs_noop.json").write_text(json.dumps(d, indent=1) + "\n")
    return 0


def main():
    # on SIGTERM, unwind so that the JVM a run started is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true",
                    help="run every workload once, untraced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--count-vs-noop", action="store_true",
                    help="re-record perfbench/count_vs_noop.json")
    a = ap.parse_args()
    for need in (ROOT / "src" / "main" / "scala", ROOT / "tools" /
                 "check_oracle.py", JVM_DIR / "build.sbt"):
        if not need.exists():
            raise SystemExit(f"not a graft source checkout: {need} missing")
    if a.count_vs_noop:
        return count_vs_noop()
    if a.all:
        codes = [one(w, a.seed, a.seconds, a.trace) for w in WORKLOADS]
        return max(codes)
    if not a.workload:
        ap.error("--workload or --all is required")
    return one(a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    sys.exit(main())
