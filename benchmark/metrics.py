"""Metric arithmetic of the benchmark.

`Harness.scala` writes one run record (`run.json`): the query executions of
every pass with their build/exec boundaries, and, for traced passes, the raw
listener events (jobs, stages with summed task metrics, RDD block updates,
Catalyst phases, streaming progress). This module turns a record into the
end-to-end metrics, the spans and the per-layer metrics. Times in the record
are epoch milliseconds; metrics are in seconds unless named otherwise.
"""
import math
import statistics
from collections import defaultdict

MS = 1000.0


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_query_medians(execs):
    """Median wall seconds per query over the given executions."""
    walls = defaultdict(list)
    for e in execs:
        walls[e["query"]].append((e["end_ms"] - e["start_ms"]) / MS)
    return {q: statistics.median(ts) for q, ts in walls.items()}


def window_execs(run, traced):
    """Executions of the timed window (not the cold or warm-up passes)."""
    window = {p["pass"] for p in run["passes"] if p["phase"] == "window"}
    return [e for e in run["execs"] if e["pass"] in window and e["traced"] == traced]


def end_to_end(run, launch_s):
    """End-to-end metrics from the untraced passes of the window."""
    execs = window_execs(run, traced=False)
    med = per_query_medians(execs)
    cpu = defaultdict(float)
    for e in execs:
        cpu[e["pass"]] += e["cpu_s"]
    return {
        "total_s": sum(med.values()),
        "geomean_s": geomean(med.values()),
        "cpu_s": statistics.median(cpu.values()),
        "setup_s": run["setup_end_ms"] / MS - launch_s,
        "heap_retained_mb": run["heap_retained_mb"],
    }


def build_spans(run):
    """Spans of the traced passes: pass > query > {build, exec} > job > stage,
    plus `batch` (streaming progress) and `phase` (Catalyst) spans under
    their query. Events are attributed to the query whose interval holds
    their start, since the queries of a pass run one after another. Each
    span carries its query's id (`qid`) and its self time."""
    spans = []
    queries = []
    for p in run["passes"]:
        if not p["traced"]:
            continue
        pid = f"p{p['pass']}"
        spans.append(dict(id=pid, parent=None, qid=None, name="pass",
                          start=p["start_ms"], end=p["end_ms"]))
        execs = sorted((e for e in run["execs"] if e["pass"] == p["pass"]),
                       key=lambda e: e["start_ms"])
        for i, e in enumerate(execs):
            qid = f"{pid}.q{i}"
            q = dict(id=qid, parent=pid, qid=qid, name="query", query=e["query"],
                     start=e["start_ms"], end=e["end_ms"], build_end=e["build_end_ms"])
            spans.append(q)
            spans.append(dict(id=qid + ".build", parent=qid, qid=qid, name="build",
                              start=e["start_ms"], end=e["build_end_ms"]))
            spans.append(dict(id=qid + ".exec", parent=qid, qid=qid, name="exec",
                              start=e["build_end_ms"], end=e["end_ms"]))
            queries.append(q)

    def owner(t):
        # listener times are whole milliseconds: allow 1 ms either side
        for q in queries:
            if q["start"] - 1 <= t <= q["end"] + 1:
                return q
        return None

    ev = defaultdict(list)
    for x in run["events"]:
        ev[x["ev"]].append(x)
    job_end = {x["job"]: x["t"] for x in ev["job_end"]}
    stage_job = {}
    for x in sorted(ev["job_start"], key=lambda x: x["job"]):
        q = owner(x["t"])
        if q is None:
            continue
        for s in x["stages"]:
            stage_job.setdefault(s, f"j{x['job']}")
        part = "build" if x["t"] < q["build_end"] else "exec"
        spans.append(dict(id=f"j{x['job']}", parent=f"{q['id']}.{part}",
                          qid=q["id"], name="job", site=x["site"], start=x["t"],
                          end=job_end.get(x["job"], q["end"])))
    by_id = {s["id"]: s for s in spans}
    for x in ev["stage"]:
        job = by_id.get(stage_job.get(x["stage"]))
        if job is None or x["start"] is None:
            continue
        spans.append(dict(x, id=f"s{x['stage']}.{x['attempt']}", parent=job["id"],
                          qid=job["qid"], name="stage", site=job["site"],
                          start=x["start"],
                          end=x["end"] if x["end"] is not None else x["start"]))
    for kind in ("batch", "phase"):
        for i, x in enumerate(ev[kind]):
            q = owner(x["start"])
            if q is not None:
                spans.append(dict(x, id=f"{kind[:2]}{i}.{q['id']}", parent=q["id"],
                                  qid=q["id"], name=kind))

    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    for s in spans:
        # batch and phase spans overlap the build/exec spans they run in,
        # so a query's self time counts only build and exec
        kids = [c for c in children[s["id"]] if c["name"] not in ("batch", "phase")]
        s["self_ms"] = self_time(s, kids)
    return spans


def straggler_s(durations):
    """Slowest task minus the median task of one stage."""
    return max(durations) - statistics.median(durations) if durations else 0.0


def per_layer(run, spans):
    """Per-layer metrics, per traced pass."""
    n = sum(1 for p in run["passes"] if p["traced"])
    kinds = defaultdict(list)
    for s in spans:
        kinds[s["name"]].append(s)
    jobs_of = defaultdict(list)
    for j in kinds["job"]:
        jobs_of[j["qid"]].append((j["start"], j["end"]))

    def total(name, field):
        return sum(s[field] for s in kinds[name])

    def secs(name):
        return sum(s["end"] - s["start"] for s in kinds[name]) / MS

    covered = sum(union_length(jobs_of[q["id"]], q["start"], q["end"])
                  for q in kinds["query"]) / MS
    task_s = total("stage", "run_s")
    phase = defaultdict(float)
    for s in kinds["phase"]:
        phase[s["phase"]] += (s["end"] - s["start"]) / MS
    blocks = [x for x in run["events"] if x["ev"] == "block"]
    batches = kinds["batch"]
    traced = [p for p in run["passes"] if p["traced"]]
    m = {
        "query.build_s": secs("build"),
        "query.exec_s": secs("exec"),
        "driver.serial_s": secs("query") - covered,
        "driver.jobs": len(kinds["job"]),
        "driver.stages": len(kinds["stage"]),
        "driver.tasks": total("stage", "tasks"),
        "catalyst.analysis_s": phase["analysis"],
        "catalyst.optimize_s": phase["optimization"],
        "catalyst.plan_s": phase["planning"],
        "exec.task_s": task_s,
        "exec.cpu_s": total("stage", "cpu_s"),
        "exec.gc_s": total("stage", "gc_s"),
        "exec.straggler_s": sum(straggler_s(s["task_durations"])
                                for s in kinds["stage"]),
        "scan.rows": total("stage", "scan_rows"),
        "scan.mb": total("stage", "scan_mb"),
        "scan.tasks": total("stage", "scan_tasks"),
        "shuffle.write_mb": total("stage", "shuffle_write_mb"),
        "shuffle.read_mb": total("stage", "shuffle_read_mb"),
        "shuffle.fetch_wait_s": total("stage", "fetch_wait_s"),
        "spill.mb": total("stage", "spill_mb"),
        "materialize.blocks": len(blocks),
        "materialize.mb": sum(b["mb"] for b in blocks),
        "write.mb": total("stage", "write_mb"),
        "write.records": total("stage", "write_records"),
        "stream.batches": len(batches),
        "stream.input_rows": total("batch", "input_rows"),
        "stream.trigger_s": total("batch", "trigger_s"),
        "stream.plan_s": total("batch", "plan_s"),
        "stream.addbatch_s": total("batch", "addbatch_s"),
        "stream.commit_s": total("batch", "commit_s"),
        "state.commit_s": total("batch", "state_commit_s"),
    }
    m = {k: v / n for k, v in m.items()}
    # ratios and maxima are not per-pass sums
    m["exec.util"] = task_s / (run["nproc"] * covered) if covered else 0.0
    m["state.rows_max"] = max((b["state_rows"] for b in batches), default=0)
    m["state.mem_mb_max"] = max((b["state_mb"] for b in batches), default=0.0)
    m["storage.retained_mb"] = statistics.mean(
        p["storage_retained_mb"] for p in traced)
    for j in kinds["job"]:
        key = f"site.{j['site']}.jobs"
        m[key] = m.get(key, 0.0) + 1.0 / n
    for s in kinds["stage"]:
        key = f"site.{s['site']}.task_s"
        m[key] = m.get(key, 0.0) + s["run_s"] / n
    return m


def tracing_overhead(run):
    """Traced vs untraced total_s, from the alternating passes of one run."""
    untraced = sum(per_query_medians(window_execs(run, traced=False)).values())
    traced = sum(per_query_medians(window_execs(run, traced=True)).values())
    return {"trace.untraced_total_s": untraced, "trace.traced_total_s": traced,
            "trace.overhead": traced / untraced - 1}
