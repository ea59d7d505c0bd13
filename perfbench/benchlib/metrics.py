"""Reductions from the harness's raw report to named metrics.

Everything here is pure arithmetic over the report, so the self-tests
can pin it without a JVM.
"""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """The q-quantile (0 < q < 1) of `values`, linearly interpolated.

    A percentile above the median is only reported when at least
    `min_beyond` samples lie beyond it, i.e. len(values) * (1 - q) >=
    min_beyond; otherwise this raises ValueError instead of returning a
    number that one or two samples decide. The median itself is always
    reported, with its sample count beside it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0 or (q > 0.5 and n * (1 - q) < min_beyond - 1e-9):
        raise ValueError(f"p{q * 100:g} needs {math.ceil(min_beyond / (1 - q))} samples, has {n}")
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def _covered(intervals, start, end):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def self_times(spans):
    """span id -> self time in ms: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - _covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def subtree(spans, root_id):
    """Spans under `root_id` (excluding it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


# harness span name -> layer; Catalyst phases the tracker timed count
# toward the same layer as the harness span that forces them
BATCH_LAYERS = {
    "construct": "construct_s",
    "analyze": "analysis_s", "catalyst.analysis": "analysis_s",
    "optimize": "optimization_s", "catalyst.optimization": "optimization_s",
    "plan": "planning_s", "catalyst.planning": "planning_s",
    "execute": "exec_s",
    "pass": "unattributed_s", "query": "unattributed_s",
}


def pass_layers(spans, pass_span):
    """Self time per layer, in seconds, for one traced batch pass. The
    layers sum to the pass's wall time: whatever no layer span covers is
    the `unattributed_s` remainder (the pass and query spans' self time).
    """
    own = [pass_span] + subtree(spans, pass_span["id"])
    st = self_times(own)
    out = {name: 0.0 for name in set(BATCH_LAYERS.values())}
    for s in own:
        layer = BATCH_LAYERS.get(s["name"])
        if layer is None:
            raise ValueError(f"span {s['name']!r} belongs to no layer")
        out[layer] += st[s["id"]] / 1e3
    return out


def work_counters(sched, windows, cpus, busy_s):
    """Scheduler and task-work counters of every job submitted inside
    `windows` ([(start_ms, end_ms)]), from the listener's raw records.
    Occupancy is task run time over busy_s x cores."""
    sched = sched or {}
    jobs = [j for j in sched.get("jobs", []) if any(a <= j["submit_ms"] <= b for a, b in windows)]
    stage_ids = {s for j in jobs for s in j["stages"]}
    # a stage with no finished task was skipped (its shuffle output reused)
    stages = [s for s in sched.get("stages", []) if s["stage"] in stage_ids and s["tasks"] > 0]
    durations = [s["complete_ms"] - s["submit_ms"] for s in stages]
    run_ms = sum(s["run_ms"] for s in stages)
    return {
        "jobs": len(jobs), "stages": len(stages), "tasks": sum(s["tasks"] for s in stages),
        "single_task_stage_share": (sum(s["num_tasks"] == 1 for s in stages) / len(stages)
                                    if stages else 0.0),
        "stage_p50_ms": median(durations) if durations else 0.0,
        "task_occupancy": run_ms / 1e3 / (busy_s * cpus) if busy_s > 0 else 0.0,
        "task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "input_mb": sum(s["input_bytes"] for s in stages) / 1e6,
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
    }


def count_failures(executions, wrong):
    """(attempted, failed, names): every execution is attempted; one
    that raised fails, and so does each query whose checked output was
    wrong. `executions` is a list of (name, error-or-None)."""
    attempted = len(executions)
    failed_names = [n for n, err in executions if err]
    failed_names += sorted(wrong)
    return attempted, len(failed_names), sorted(set(failed_names))
