#!/usr/bin/env python3
"""The repository benchmark: one workload of registry queries in one JVM.

    python3 benchmark/run.py --workload relational --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds the program and the harness if needed (`build.py`), runs the harness
on the committed sf0.01 tables (`benchmark/data/sf0.01`), checks every
query's output against its DuckDB oracle with `tools/check.py`, and prints
two JSON lines per workload: the run's diagnostics (seed, query orders,
per-query medians, host context, calibration, oracle verdicts), then the
result, whose `metrics` are the end-to-end metrics of BENCHMARK.json
(`--trace 0`) or its per-layer metrics (`--trace 1`). A traced run also
writes its spans to `.bench_build/runs/<workload>-<seed>-trace/spans.json`.
The process exits non-zero, without a result, if the build or the harness
fails.
"""
import argparse
import json
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
DATA = ROOT / "benchmark" / "data" / "sf0.01"
CHECK = ROOT / "tools" / "check.py"
DEADLINE_S = 170  # one workload, after the build, must end within 180 s

# Why each workload was chosen: benchmark/README.md.
WORKLOADS = {
    "relational": ["q01_pricing_summary", "q13_count_distinct", "q117_waiting_orders",
                   "q120_hll_distinct"],
    "ingest": ["q182_stream_cms", "q176_incremental_index_dedup"],
}

# The parallel collector: with G1, some runs spent twice the CPU per query
# (its concurrent threads) and total_s split into two clusters 25 % apart.
JAVA_OPTS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write(f"benchmark: {msg}\n")
    sys.exit(1)


def remaining(start):
    left = DEADLINE_S - (time.time() - start)
    if left <= 0:
        fail("out of time")
    return left


def oracle_check(out, names, start):
    """Verdict per query from tools/check.py; a query it does not report
    (no oracle entry) counts as failed."""
    res = subprocess.run(
        [sys.executable, str(CHECK), str(DATA), str(out)] + names,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=remaining(start))
    verdict = {n: "FAIL: not checked" for n in names}
    for line in res.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = "PASS" if m.group(1) == "PASS" else line
    return verdict


def run_workload(workload, seed, seconds, trace, spec):
    classpath = build.build()
    start = time.time()
    names = WORKLOADS[workload]
    out = build.BUILD / "runs" / f"{workload}-{seed}-{'trace' if trace else 'e2e'}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    # every file the program writes lands under `out`
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={out / 'tmp'}",
           f"-Dderby.system.home={out / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={out / 'warehouse'}",
           "-cp", classpath, "graftbench.Harness", str(DATA), str(out),
           str(seed), str(seconds), str(trace)] + names
    with open(out / "harness.log", "w") as log:
        launch_s = time.time()
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=remaining(start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {out / 'harness.log'}")
    if code != 0:
        fail(f"harness exited with {code}; see {out / 'harness.log'}")
    run = json.loads((out / "run.json").read_text())

    verdict = oracle_check(out / "oracle", names, start)
    thrown = [e for e in run["execs"] if e["error"]]
    check_pass = next(p["pass"] for p in run["passes"] if p["phase"] == "check")
    # a query that threw in the check pass has no output to check: count it once
    failed = len(thrown) + sum(
        1 for n, v in verdict.items() if v != "PASS" and not any(
            e["pass"] == check_pass and e["query"] == n for e in thrown))
    attempted = len(run["execs"])

    e2e = metrics.end_to_end(run, launch_s)
    if trace:
        spans = metrics.build_spans(run)
        layer = metrics.per_layer(run, spans)
        layer.update(metrics.tracing_overhead(run))
        layer["host.calib_s"] = run["calib_s"]
        (out / "spans.json").write_text(json.dumps(spans))
        wanted = spec["per_layer"]
        values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
        # modules without a metric of their own in BENCHMARK.json
        for kind in ("jobs", "task_s"):
            values[f"site.other.{kind}"] = sum(
                v for k, v in layer.items()
                if k.startswith("site.") and k.endswith("." + kind) and k not in values)
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in wanted}

    diagnostics = {
        "workload": workload, "seed": seed, "trace": trace,
        "order": {p["pass"]: p["order"] for p in run["passes"]},
        "nproc": run["nproc"], "max_heap_mb": run["max_heap_mb"],
        "run_context": run["run_context"], "host.calib_s": run["calib_s"],
        "setup_parts_s": {
            "jvm_start": run["jvm_start_ms"] / metrics.MS - launch_s,
            "session": (run["session_ready_ms"] - run["jvm_start_ms"]) / metrics.MS,
            "cold_pass": (run["setup_end_ms"] - run["session_ready_ms"]) / metrics.MS},
        "window_passes": sum(1 for p in run["passes"] if p["phase"] == "window"),
        "per_query_median_s": metrics.per_query_medians(
            metrics.window_execs(run, traced=False)),
        "end_to_end": e2e, "fail_frac": failed / attempted, "oracle": verdict,
        "errors": [f"{e['query']} (pass {e['pass']}): {e['error']}" for e in thrown],
    }
    (out / "diagnostics.json").write_text(json.dumps(diagnostics, indent=1))
    units = {m["name"]: m["unit"] for m in wanted}
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return diagnostics, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not DATA.is_dir() or not CHECK.is_file():
        fail("benchmark data or tools/check.py missing")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    for w in workloads:
        diagnostics, result = run_workload(w, args.seed, args.seconds, args.trace, spec)
        print(json.dumps(diagnostics))
        if args.workload == "all":
            result = {"workload": w, **result}
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
