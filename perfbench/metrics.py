"""Turns one run's raw records into metrics.

Pure functions over the JSON the benchmark JVM writes (see
src/graftbench/Main.scala): latency percentiles, span self time, and
the Spark job/stage/task roll-ups of the traced run.
"""
import math
import statistics

# span row: [id, op, name, parent, start_ms, end_ms]
ID, OP, NAME, PARENT, START, END = range(6)
# task row: [stage, launch, finish, run_ms, cpu_ns, gc_ms, shuffle_write, shuffle_read, spill]


def tail_percentile(values, beyond=10):
    """The highest whole percentile (50..99) with at least `beyond`
    samples above it, and its nearest-rank value: (p, value, n).
    None when fewer than 2*beyond samples exist (not even p50 qualifies).
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n
    return None


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """span id -> its duration minus the part its children cover
    (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[PARENT], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c[START], s[START]), min(c[END], s[END]))
                 for c in kids.get(s[ID], []) if c[END] > s[START] and c[START] < s[END]]
        out[s[ID]] = (s[END] - s[START]) - union_ms(cover)
    return out


def layer_rollup(spans):
    """Self ms summed per span path ("query.term/exec", "indexstore.save"),
    with call counts."""
    by_id = {s[ID]: s for s in spans}
    st = self_times(spans)
    roll = {}
    for s in spans:
        path = s[NAME] if s[PARENT] == 0 else by_id[s[PARENT]][NAME] + "/" + s[NAME]
        r = roll.setdefault(path, {"calls": 0, "self_ms": 0.0})
        r["calls"] += 1
        r["self_ms"] += st[s[ID]]
    return roll


def spark_rollup(raw, span_ids=None):
    """Job/stage/task totals over the jobs attributed to `span_ids` (all
    traced spans when None). Skipped stages never run and are not counted."""
    traced = {s[ID] for s in raw["spans"]} if span_ids is None else set(span_ids)
    jobs = [j for j in raw["jobs"] if j[1] in traced]
    stage_ids = {sid for j in jobs for sid in j[4]}
    stages = [s for s in raw["stages"] if s[0] in stage_ids]
    ran = {(s[0]) for s in stages}
    tasks = [t for t in raw["tasks"] if t[0] in ran]
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[0], []).append(t)
    wait_ms = 0.0
    for s in stages:
        ts = by_stage.get(s[0], [])
        if ts and s[2] >= 0:  # -1: submission time unknown
            wait_ms += max(0, min(t[1] for t in ts) - s[2])
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(), key=lambda ts: sum(t[3] for t in ts))
        runs = [max(t[3], 1) for t in heavy]
        skew = max(runs) / statistics.median(runs)
    run_s = sum(t[3] for t in tasks) / 1e3
    return {
        "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
        "task_run_s": run_s,
        "task_cpu_s": sum(t[4] for t in tasks) / 1e9,
        "gc_s": sum(t[5] for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t[6] for t in tasks),
        "shuffle_read_bytes": sum(t[7] for t in tasks),
        "spill_bytes": sum(t[8] for t in tasks),
        "stage_wait_s": wait_ms / 1e3,
        "task_skew": skew,
    }


def ops(spans):
    """Root spans (one per operation)."""
    return [s for s in spans if s[PARENT] == 0]


def op_phases(spans, raw, prefix=""):
    """Per DataFrame operator call (a root span with build/plan/exec
    children, named with `prefix`): mean self ms of each phase, eager jobs
    in `build`, jobs and stages per call, and exec ms per stage."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s[PARENT], []).append(s)
    st = self_times(spans)
    calls = [s for s in ops(spans) if s[NAME].startswith(prefix)
             and {c[NAME] for c in by_parent.get(s[ID], [])} >= {"build", "plan", "exec"}]
    if not calls:
        return None
    phase = {p: [] for p in ("build", "plan", "exec")}
    jobs_of = {}
    for j in raw["jobs"]:
        jobs_of.setdefault(j[1], []).append(j)
    stages_ran = {s[0] for s in raw["stages"]}
    eager = exec_stages = n_jobs = n_stages = 0
    for c in calls:
        ids = [c[ID]]
        for k in by_parent[c[ID]]:
            phase[k[NAME]].append(st[k[ID]])
            ids.append(k[ID])
            if k[NAME] == "build":
                eager += len(jobs_of.get(k[ID], []))
            if k[NAME] == "exec":
                exec_stages += sum(1 for j in jobs_of.get(k[ID], []) for sid in j[4] if sid in stages_ran)
        js = [j for i in ids for j in jobs_of.get(i, [])]
        n_jobs += len(js)
        n_stages += sum(1 for j in js for sid in j[4] if sid in stages_ran)
    n = len(calls)
    return {
        "calls": n,
        "build_ms": sum(phase["build"]) / n,
        "plan_ms": sum(phase["plan"]) / n,
        "exec_ms": sum(phase["exec"]) / n,
        "eager_jobs_per_op": eager / n,
        "jobs_per_op": n_jobs / n,
        "stages_per_op": n_stages / n,
        "ms_per_stage": sum(phase["exec"]) / max(1, exec_stages),
    }
