"""graft's benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload <sf01-mix|scale10x|pipelines>
                             --seed N --seconds S --trace <0|1>

Run from the root of a checkout. The first run compiles the library and
the benchmark (`perfbench/build.py`); each run then generates its inputs
from the seed, drives the library through its public entry points in one
driver JVM (`local[N]`, N = the host's cores), checks the outputs and
prints a human-readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of the traced run (and its tracing overhead against the untraced
runs of the same sources recorded in the same build directory). Every
run's full result, stamped with the host and source identity, is kept under
`<build dir>/results`; `perfbench/compare.py` compares two of them.
perfbench/README.md documents workloads, metrics and layers.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

# sf01-mix: a fixed, stratified subset of SparkEntry.queries at sf0.1:
# seven families, four Dist.sizeDispatch sites (mutual information,
# Cramér's V, PSI, winsorize) and two of the slowest queries of the
# round-21 sweep (rollup, shingle Jaccard).
SF01_MIX = ["q_mutual_information", "q_cramers_v", "q_psi", "q_winsorize", "q_agg_rollup",
            "q_dedup_shingle_jaccard", "q_sessionize", "q_json_extract"]

# scale10x: heavy similarity, graph, sort and write queries on the 10x corpus.
SCALE10X = ["q_entity_resolution", "q_pagerank", "q_global_sort", "q_csv_roundtrip"]

WORKLOADS = {
    "sf01-mix": dict(scale=0.1, replicas=1, queries=SF01_MIX),
    "scale10x": dict(scale=0.02, replicas=10, queries=SCALE10X),
    "pipelines": dict(),
}

END_TO_END_UNITS = {"setup_s": "s", "mix_cpu_s": "s"}


def p99(values):
    """Nearest-rank p99 and the count of values beyond it (with 1000 or
    more values at least ten lie beyond; with under 100 it is the largest)."""
    s = sorted(values)
    rank = -(-99 * len(s) // 100)
    return s[rank - 1], len(s) - rank


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM timed out after {timeout} s")
        finally:
            # on a timeout, an error or SIGTERM the JVM is stopped too
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as log:
            tail = log.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    cp, source_sha = build.build()
    bdir = build.build_dir()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(bdir, "runs", run_id)
    data, dump, tmp = (os.path.join(work, d) for d in ("data", "dump", "tmp"))
    for d in (data, dump, tmp):
        os.makedirs(d, exist_ok=True)
    results_dir = os.path.join(bdir, "results")
    os.makedirs(results_dir, exist_ok=True)
    result_path = os.path.join(work, "jvm_result.json")
    trace_path = os.path.join(results_dir, f"trace-{run_id}.json")

    try:
        t_start = time.time()
        if "scale" in wl:
            gen.generate(data, a.seed, wl["scale"], wl["replicas"])
        args = ["--workload", a.workload, "--data", data, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", result_path, "--trace-out", trace_path, "--dump", dump]
        if "queries" in wl:
            args += ["--queries", ",".join(wl["queries"])]
        run_jvm(build.java_command(cp, tmp, args),
                os.path.join(work, "jvm.log"), timeout=150)
        with open(result_path) as fh:
            r = json.load(fh)
        failures = list(r["failures"])
        checks = r.get("checks", {})
        passes = len(r["passes"])
        if "queries" in wl:
            import oracle  # reads the repository's tools/parity.py
            with open(os.path.join(dump, "oracle_sql.json")) as fh:
                sql = json.load(fh)
            for q, (ok, detail, _rows) in oracle.check(dump, data, wl["queries"], sql).items():
                checks[q] = detail
                if not ok:
                    failures.append({"op": f"check {q}", "error": detail})
        attempted = max(1, r["attempted"])
        if "queries" in wl:
            # a timed query that threw left no sample; one whose output
            # check failed counts as failed in every pass
            bad = {f["op"].removeprefix("check ") for f in failures}
            failed = attempted - sum(1 for q in r["op_names"] if q not in bad)
        else:
            failed = min(attempted, len(failures))
        setup_s = r["first_call_ms"] / 1000.0 - t_start
        ops = sorted(r["op_s"]) or [None]
        op_tail, beyond = p99(ops) if ops[0] is not None else (None, 0)
        metrics = {"setup_s": setup_s, "mix_cpu_s": statistics.fmean(r["passes_cpu"])}
        op_p50 = statistics.median(ops) if ops[0] is not None else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stamp = dict(r["stamp"], seed=a.seed, git_commit=git_commit(),
                 source_sha256=source_sha, workload=a.workload, trace=a.trace,
                 seconds=a.seconds)
    named = dict(r["named"], failed_frac=failed / attempted)
    if "queries" in wl:
        named["query_s.p50"] = op_p50
        named["query_s.tail"] = op_tail
    elif op_tail is not None:
        named["serve_us.p50"] = op_p50 * 1e6
        named["serve_us.p99"] = op_tail * 1e6
    full = {"stamp": stamp, "metrics": metrics, "named": named, "checks": checks,
            "failures": failures, "attempted": attempted, "failed": failed,
            "passes": r["passes"], "passes_cpu": r["passes_cpu"],
            "ops": list(zip(r.get("op_names", []), r["op_s"], r.get("op_cpu_s", []))),
            "per_layer": r.get("per_layer"),
            "per_layer_base": r.get("per_layer_base")}

    # ------------------------------------------------------------- report
    print(f"host: nproc={stamp['nproc']} local[{stamp['local_n']}] spark {stamp['spark']} "
          f"scala {stamp['scala']} jdk {stamp['jdk']} seed {a.seed} "
          f"commit {stamp['git_commit'] or 'n/a'} sources {source_sha[:12]}")
    print(f"workload {a.workload}: {passes} pass(es), {attempted} operations, "
          f"{failed} failed")
    for f in failures:
        print(f"  FAILED {f['op']}: {f['error']}"[:400])
    units = {"mix_s": "s", "fit_s": "s", "apply_rows_per_s": "rows/s",
             "serve_us.p50": "us", "serve_us.p99": "us", "query_s.p50": "s",
             "query_s.tail": "s", "failed_frac": "ratio"}
    notes = {"query_s.tail": f"  (p99 of {len(ops)} queries, {beyond} beyond)",
             "serve_us.p99": f"  ({len(ops)} served datums, {beyond} beyond)"}
    def show(v):
        return "n/a" if v is None else f"{v:.6g}"
    for k, v in named.items():
        print(f"  {k} = {show(v)} {units[k]}{notes.get(k, '')}")
    for k, v in metrics.items():
        print(f"  {k} = {show(v)} {END_TO_END_UNITS[k]}")

    if a.trace:
        per_layer = dict(r["per_layer"])
        for name in LAYER_METRICS:
            per_layer.setdefault(name, 0.0)
        untraced = []
        for fn in os.listdir(results_dir):
            if fn.startswith(f"result-{a.workload}-") and "-t0-" in fn:
                with open(os.path.join(results_dir, fn)) as fh:
                    other = json.load(fh)
                if other["stamp"]["source_sha256"] == source_sha:
                    untraced.append(other)
        if untraced:
            ov = {k: get(full) / statistics.median(get(o) for o in untraced)
                  for k, get in (("mix_s", lambda x: x["named"]["mix_s"]),
                                 ("mix_cpu_s", lambda x: x["metrics"]["mix_cpu_s"]))}
            full["trace_overhead"] = dict(ov, untraced_runs=len(untraced))
            print(f"  tracing overhead: traced / untraced median: mix_s {ov['mix_s']:.3f}, "
                  f"mix_cpu_s {ov['mix_cpu_s']:.3f} ({len(untraced)} untraced runs)")
        else:
            print("  tracing overhead: n/a (no untraced run of these sources recorded "
                  "in this build directory)")
        for k in sorted(per_layer):
            print(f"  {k} = {show(per_layer[k])}")
        out_metrics = {k: {"value": per_layer[k], "unit": LAYER_METRICS[k]}
                       for k in LAYER_METRICS}
    else:
        out_metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

    with open(os.path.join(results_dir, f"result-{run_id}.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    correct = failed == 0 and all(m["value"] is not None for m in out_metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


def _layer_metrics():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _terminate(signum, frame):
    sys.exit(f"perfbench: stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        LAYER_METRICS = _layer_metrics()
        main()
    except (build.BuildError, RuntimeError, FileNotFoundError, KeyError) as e:
        sys.exit(f"perfbench: {type(e).__name__}: {e}")
