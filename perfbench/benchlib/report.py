"""Turn the harness's raw report into the benchmark's result line.

`reduce` returns (result, detail): result is the last stdout line
({"correct", "attempted", "failed", "metrics"}), detail goes on the line
before it (counts, sample sizes and any failure by name).

Every workload reports every metric. A per-layer metric of a layer the
workload does not exercise (a sink on a batch workload, Catalyst phases
of the stream's micro-batches) reads 0, which is what that layer
measured in the run.
"""
import os
import subprocess
import sys

from .metrics import count_failures, median, pass_layers, percentile, subtree, work_counters

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}

PASS_METRICS = {
    "construct_s": "s", "construct_jobs": "count", "memo_builds": "count",
    "memo_scans": "count", "analysis_s": "s", "optimization_s": "s", "planning_s": "s",
    "exec_s": "s", "unattributed_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "single_task_stage_share": "ratio", "stage_p50_ms": "ms",
    "task_occupancy": "ratio", "task_cpu_s": "s", "gc_s": "s", "input_mb": "MB",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
}
STREAM_PHASE_METRICS = {
    "latest_offset_ms_p50": "latestOffset", "get_batch_ms_p50": "getBatch",
    "query_planning_ms_p50": "queryPlanning", "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets", "add_batch_ms_p50": "addBatch",
}


def layer_units():
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    units = {}
    for p in ("cold", "warm"):
        for k, u in PASS_METRICS.items():
            units[f"{p}.{k}"] = u
    units.update({"warm.query_p50_ms": "ms", "warm.query_p75_ms": "ms", "memo_reuse_ratio": "ratio",
                  "cached_mb_end": "MB", "fail_ratio": "ratio",
                  "trace_overhead_share": "ratio", "replay_events_per_s": "ev/s",
                  "tail_delivered_p50_ms": "ms"})
    for q in ("routed", "twopc"):
        for k in STREAM_PHASE_METRICS:
            units[f"{q}.{k}"] = "ms"
        units.update({f"{q}.batches": "count", f"{q}.events_per_batch_p50": "count",
                      f"{q}.write_amp": "ratio", f"{q}.tail_p50_ms": "ms"})
    units.update({"routed.sink_write_ms_p50": "ms", "twopc.stage_ms_p50": "ms",
                  "twopc.decide_ms_p50": "ms", "twopc.commit_ms_p50": "ms",
                  "source.backlog_files_max": "count", "generator.late_ms_max": "ms"})
    return units


def _metrics(values, units):
    missing = set(units) - set(values)
    if missing:
        raise ValueError(f"metrics not computed: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def _setup_s(raw):
    """Splitting the stream feed, JVM launch to `main`, and the run's one
    set-up in that JVM."""
    return (raw["feed_stage_s"] + (raw["main_entry_ms"] - raw["spawn_ms"]) / 1e3
            + raw["setup_s"])


def _zero_stream(values):
    for k in layer_units():
        if k.split(".")[0] in ("routed", "twopc", "source", "generator") \
                or k in ("replay_events_per_s", "tail_delivered_p50_ms"):
            values.setdefault(k, 0.0)


def reduce(job, raw, root):
    if job["kind"] == "batch":
        return reduce_batch(job, raw, root)
    return reduce_stream(job, raw)


# ── batch ────────────────────────────────────────────────────────────

def oracle_verdicts(root, data_dir, out_dir):
    """name -> None when the query's output matches the DuckDB oracle,
    else the reason, for every query in out_dir/oracle_sql.json. The
    compare is tools/verify_local.py's, run as it is."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "verify_local.py"),
                        data_dir, out_dir], cwd=root, capture_output=True, text=True,
                       timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            verdicts[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdicts[name] = why
    if not any(line.startswith("== ") for line in p.stdout.splitlines()) or p.returncode not in (0, 1):
        raise RuntimeError(f"verify_local.py exited {p.returncode} without a summary:\n"
                           f"{p.stdout[-1500:]}{p.stderr[-1500:]}")
    return verdicts


def batch_pass_layers(raw, p, cpus):
    """Per-layer numbers for one traced batch pass. The work counters
    take every job submitted in the pass, inside op construction as
    well as inside `collect()`; construct_jobs is the first kind."""
    spans = raw["spans"]
    pass_span = next(s for s in spans if s["name"] == "pass"
                     and p["start_ms"] <= s["start_ms"] <= p["end_ms"])
    out = pass_layers(spans, pass_span)
    under = subtree(spans, pass_span["id"])
    construct = [(s["start_ms"], s["end_ms"]) for s in under if s["name"] == "construct"]
    sched = raw.get("scheduler") or {}
    out["construct_jobs"] = sum(any(a <= j["submit_ms"] <= b for a, b in construct)
                                for j in sched.get("jobs", []))
    # jobs run inside construct and execute spans, so tasks can only keep
    # the cores busy for that long
    out.update(work_counters(sched, [(p["start_ms"], p["end_ms"])], cpus,
                             out["construct_s"] + out["exec_s"]))
    out["memo_builds"] = p["memo_builds"]
    out["memo_scans"] = sum(q["memo_scans"] for q in p["queries"])
    return out


def reduce_batch(job, raw, root):
    passes = raw["passes"]
    cold, warms = passes[0], passes[1:]
    last_errors = {q["name"] for q in passes[-1]["queries"] if q["error"]}
    verdicts = oracle_verdicts(root, job["data_dir"], os.path.join(job["work_dir"], "out"))
    wrong = {n: v for n, v in verdicts.items() if v and n not in last_errors}
    executions = [(q["name"], q["error"]) for p in passes for q in p["queries"]]
    attempted, failed, failed_names = count_failures(executions, wrong)
    wall = lambda p: (p["end_ms"] - p["start_ms"]) / 1e3  # noqa: E731
    lat = lambda ps: [q["end_ms"] - q["start_ms"] for p in ps for q in p["queries"]]  # noqa: E731
    untraced = [p for p in warms if not p["traced"]]
    per_query = lambda ps: {n: round(median([q["end_ms"] - q["start_ms"] for p in ps  # noqa: E731
                                             for q in p["queries"] if q["name"] == n]), 1)
                            for n in sorted(job["queries"])}
    detail = {"queries": len(job["queries"]), "oracled": len(verdicts),
              "cold_ms": per_query([cold]), "warm_ms": per_query(untraced or warms),
              "warm_passes": len(warms), "pass_s": [round(wall(p), 3) for p in passes],
              "failed_queries": failed_names,
              "wrong": wrong, "errors": sorted({f"{n}: {e}" for n, e in executions if e})}
    if not job["trace"]:
        values = {"setup_s": _setup_s(raw), "cold_s": wall(cold),
                  "warm_s": sum(wall(p) for p in warms)}
        metrics = _metrics(values, E2E_UNITS)
    else:
        traced = [p for p in warms if p["traced"]]
        cold_l = batch_pass_layers(raw, cold, job["cpus"])
        warm_ls = [batch_pass_layers(raw, p, job["cpus"]) for p in traced]
        values = {f"cold.{k}": v for k, v in cold_l.items()}
        values.update({f"warm.{k}": median([w[k] for w in warm_ls]) for k in cold_l})
        values["warm.query_p50_ms"] = median(detail["warm_ms"].values())
        # over every warm pass: 8 passes of 5 queries leave 10 samples beyond p75
        samples = lat(warms)
        values["warm.query_p75_ms"] = percentile(samples, 0.75)
        detail["warm_query_samples"] = len(samples)
        values["memo_reuse_ratio"] = (values["warm.memo_scans"] / values["cold.memo_builds"]
                                      if values["cold.memo_builds"] else 0.0)
        values["cached_mb_end"] = raw["cached_mb_end"]
        values["fail_ratio"] = failed / attempted
        values["trace_overhead_share"] = (median([wall(p) for p in traced])
                                          / median([wall(p) for p in untraced]) - 1)
        _zero_stream(values)
        detail["unattributed_s"] = {"cold": values["cold.unattributed_s"],
                                    "warm": values["warm.unattributed_s"]}
        metrics = _metrics(values, layer_units())
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, detail


# ── stream ───────────────────────────────────────────────────────────

def reduce_stream(job, raw):
    check = raw["check"]
    per_file = raw["events_per_file"]
    calls = raw["calls"]
    end = {"routed": {}, "twopc": {}}
    for c in calls:
        if c["query"] == "routed":
            b = end["routed"]
            b[c["batch"]] = max(b.get(c["batch"], 0.0), c["end_ms"])
        elif c["step"] == "commit":
            end["twopc"][c["batch"]] = c["end_ms"]
    batch_of = {q: {f: b["batch"] for b in bs for f in b["files"]}
                for q, bs in raw["batches"].items()}
    phases = {}
    for p in raw["phases"]:
        phases.setdefault(p["phase"], []).append(p)

    def drained_at(p):
        return max(end[q][batch_of[q][f]] for q in end for f in p["files"])

    def phase_s(name):
        """Total drain time of the phases called `name`."""
        return sum((drained_at(p) - p["start_ms"]) / 1e3 for p in phases[name])

    cold, tail = phases["cold"][0], phases["tail"][0]

    due = {s["file"]: s["due_ms"] for s in raw["schedule"]}
    tail_lat = {q: [end[q][batch_of[q][f]] - due[f] for f in tail["files"]] for q in end}
    # a tail file is delivered once both subscribers have committed it
    tail_delivered = [max(ms) for ms in zip(*tail_lat.values())]
    detail = {"batches": {q: len(v) for q, v in raw["batches"].items()},
              "tail_files": len(tail["files"]),
              "tail_delivered_ms": [round(x, 1) for x in tail_delivered],
              "warm_s": [round((drained_at(p) - p["start_ms"]) / 1e3, 3) for p in phases["warm"]],
              "problems": check["problems"]}
    attempted, failed = check["attempted"], check["failed"]
    correct = failed == 0 and not check["problems"]
    if not job["trace"]:
        values = {"setup_s": _setup_s(raw), "cold_s": phase_s("cold"), "warm_s": phase_s("warm")}
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": _metrics(values, E2E_UNITS)}, detail

    cpus = job["cpus"]
    construct = raw["construct_ms"]
    windows = {"cold": (cold["start_ms"], drained_at(cold)),
               "warm": (phases["warm"][0]["start_ms"], drained_at(tail))}
    values = {}
    sched = raw.get("scheduler") or {}
    for p, (a, b) in windows.items():
        busy = (b - a) / 1e3
        layer = {k: 0.0 for k in PASS_METRICS}
        layer.update(work_counters(raw.get("scheduler"), [(a, b)], cpus, busy))
        layer["exec_s"] = busy
        if p == "cold":
            layer["construct_s"] = (construct[1] - construct[0]) / 1e3
            layer["construct_jobs"] = sum(construct[0] <= j["submit_ms"] <= construct[1]
                                          for j in sched.get("jobs", []))
        else:
            layer["memo_builds"] = raw["memo_builds_end"]
        values.update({f"{p}.{k}": v for k, v in layer.items()})
    values["memo_reuse_ratio"] = 0.0
    values["cached_mb_end"] = raw["cached_mb_end"]
    values["fail_ratio"] = failed / attempted if attempted else 1.0
    values["trace_overhead_share"] = phase_s("warm") / phase_s("warm_untraced") - 1
    values["warm.query_p50_ms"] = values["warm.query_p75_ms"] = 0.0
    values["tail_delivered_p50_ms"] = median(tail_delivered)
    values["replay_events_per_s"] = (sum(len(p["files"]) for p in phases["warm"]) * per_file
                                     / phase_s("warm"))
    tail_start = tail["start_ms"]
    for q, recs in raw["progress"].items():
        live = [r for r in recs if r["rows"] > 0]
        in_tail = [r for r in live if r["start_ms"] >= tail_start]
        for k, phase in STREAM_PHASE_METRICS.items():
            values[f"{q}.{k}"] = median([r["duration_ms"].get(phase, 0) for r in in_tail])
        values[f"{q}.batches"] = len(live)
        values[f"{q}.events_per_batch_p50"] = median([r["rows"] for r in live])
        values[f"{q}.tail_p50_ms"] = median(tail_lat[q])
        values[f"{q}.write_amp"] = raw["bytes"][q] / raw["bytes"]["feed"]
    tail_calls = [c for c in calls if c["start_ms"] >= tail_start]

    def step_p50(query, pred):
        return median([c["end_ms"] - c["start_ms"] for c in tail_calls
                       if c["query"] == query and pred(c["step"])])
    values["routed.sink_write_ms_p50"] = step_p50("routed", lambda s: s.startswith("sink."))
    for step in ("stage", "decide", "commit"):
        values[f"twopc.{step}_ms_p50"] = step_p50("twopc", lambda s, st=step: s == st)
    values["source.backlog_files_max"] = max(s["backlog_files"] for s in raw["schedule"])
    values["generator.late_ms_max"] = max(s["moved_ms"] - s["due_ms"] for s in raw["schedule"])
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": _metrics(values, layer_units())}, detail
