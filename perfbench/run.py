#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload {search,dedup,analytics}
                           --seed N --seconds S --trace {0,1}

Builds graft and the benchmark from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs
one JVM with Spark at local[nproc] that sets up, runs the workload's
closed loop for S seconds and checks every timed output, then prints a
report line and, last, the result line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics. With --trace 1
they are the per-layer metrics of a traced run (spans around every call
plus a SparkListener). Its op_p50_ms against the median op_p50_ms of the
untraced runs of the same build kept in .bench_build/results/ gives the
tracing overhead; without such runs, an untraced JVM runs first on the same
inputs as the baseline. Work files live under .bench_build/ and are
removed after the run; the full report is kept in .bench_build/results/.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

SETUPS = 3
XMX = "3g"
DEADLINE_S = 170
POOL = os.path.join(HERE, "data", "sf01_pool")
KEYS = os.path.join(HERE, "analytics_keys.txt")

# input sizes per workload
GENERATORS = {
    "search": lambda seed, d: gen.search_inputs(seed, d, n_base=3000, n_steps=40,
                                                new_per_step=200, updates_per_step=50,
                                                takedowns_per_step=40, n_queries=8),
    "dedup": lambda seed, d: gen.templated_corpus(seed, d, n_docs=400, exact_families=20,
                                                  exact_copies=2, near_families=40,
                                                  near_copies=2),
    "analytics": lambda seed, d: gen.sf_subsample(seed, POOL, d),
}

# the request each workload's op_p50_ms times
MAIN_SAMPLE = {"search": "query_ms", "dedup": "pass_ms", "analytics": "pass_ms"}

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.busy_frac": "ratio", "spark.stage_wait_s": "s", "spark.task_skew": "ratio",
    "op.build_ms": "ms", "op.plan_ms": "ms", "op.exec_ms": "ms",
    "op.eager_jobs_per_op": "count", "op.jobs_per_op": "count", "op.stages_per_op": "count",
    "op.ms_per_stage": "ms",
    "setup.session_s": "s", "setup.generate_s": "s", "setup.probe_s": "s",
    "trace.overhead_pct": "%",
}

JVM_OPTS = [o for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def nproc():
    return len(os.sched_getaffinity(0))


def code_version():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(workload, raw, gen_s, props, n_keys):
    s, v = raw["samples"], raw["values"]
    main = s[MAIN_SAMPLE[workload]]
    p50 = statistics.median(main)
    if workload == "search":  # docs written per second of store writes: base build + churn
        items = (props["docs"] + v["churn.docs_landed"]) / (
            (s["build_ms"][0] + v["churn.maintenance_ms"]) / 1e3)
    elif workload == "dedup":  # docs through the funnel per second of pass
        items = v["dedup.docs"] / (p50 / 1e3)
    else:  # gate keys per second of board pass
        items = n_keys / (p50 / 1e3)
    return {
        "setup_s": statistics.median(a + b + c for a, b, c in
                                     zip(raw["session_s"], gen_s, raw["probe_s"])),
        "op_p50_ms": p50,
        "items_per_s": items,
    }


def per_layer(workload, raw, gen_s, untraced_ms):
    spans = raw["spans"]
    roots = M.ops(spans)
    sp = M.spark_rollup(raw)
    wall_s = M.union_ms([(r[M.START], r[M.END]) for r in roots]) / 1e3
    ph = M.op_phases(spans, raw)
    s = raw["samples"]
    key = MAIN_SAMPLE[workload]
    out = {"spark." + k: sp[k] for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                                         "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                                         "stage_wait_s", "task_skew")}
    out["spark.busy_frac"] = sp["task_run_s"] / (wall_s * raw["values"]["context"]["cores"])
    out.update({"op." + k: ph[k] for k in ("build_ms", "plan_ms", "exec_ms", "eager_jobs_per_op",
                                           "jobs_per_op", "stages_per_op", "ms_per_stage")})
    out["setup.session_s"] = statistics.median(raw["session_s"])
    out["setup.generate_s"] = statistics.median(gen_s)
    out["setup.probe_s"] = statistics.median(raw["probe_s"])
    out["trace.overhead_pct"] = 100 * (statistics.median(s[key]) / untraced_ms - 1)
    return out


def _p(samples, name):
    xs = samples.get(name, [])
    if not xs:
        return None
    t = M.tail_percentile(xs)
    out = {"p50": statistics.median(xs), "n": len(xs)}
    if t:
        out["p%d" % t[0]] = t[1]
    return out


def workload_report(workload, raw, props, e2e):
    """The workload's own metrics under the names the README uses, with
    sample counts."""
    s, v = raw["samples"], raw["values"]
    r = {}
    if workload == "search":
        r["index_build_docs_per_s"] = props["docs"] / (s["build_ms"][0] / 1e3)
        r["ingest_docs_per_s"] = v["churn.docs_landed"] / (v["churn.maintenance_ms"] / 1e3)
        for k in ["query_ms", "churn_query_ms", "land_ms", "takedown_ms", "open_ms"] + [
                "query.%s_ms" % sh for sh in gen.SERVE_SHAPES]:
            r[k] = _p(s, k)
        r["store_bytes_per_input_byte"] = v["indexstore.base_bytes"] / props["bytes"]
    elif workload == "dedup":
        r["dedup_docs_per_s"] = e2e["items_per_s"] if e2e else None
        r["dedup_recall"] = v["dedup.recall"]
        for k in ("clean", "minhash_lsh", "cosine", "triangles"):
            r[k + "_ms"] = _p(s, k + ".ms")
    else:
        r["board_pass_s"] = statistics.median(s["pass_ms"]) / 1e3
        r["keys_ms"] = {k[4:-3]: statistics.median(x) for k, x in s.items()
                        if k.startswith("key.") and k.endswith(".ms")}
    r["values"] = {k: x for k, x in v.items()
                   if k not in ("context", "board.oracle", "board.out")}
    return r


def layer_report(raw):
    """Self time and Spark totals per span path (the traced run's layer
    breakdown): e.g. indexstore.save, query.term/exec, index.cosine."""
    spans = raw["spans"]
    roll = M.layer_rollup(spans)
    children = {}
    for s in spans:
        children.setdefault(s[M.PARENT], []).append(s[M.ID])
    by_root = {}
    for r in M.ops(spans):
        ids, stack = [], [r[M.ID]]
        while stack:
            i = stack.pop()
            ids.append(i)
            stack += children.get(i, [])
        by_root.setdefault(r[M.NAME], []).extend(ids)
    for name, ids in by_root.items():
        roll[name]["spark"] = M.spark_rollup(raw, ids)
    return roll


def untraced_baseline(res_dir, workload, stamp):
    """Median op_p50_ms of the untraced runs of this build kept in `res_dir`."""
    vals = []
    for f in glob.glob(os.path.join(res_dir, workload + "-*-t0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("build") == stamp and r["end_to_end"]:
            vals.append(r["end_to_end"]["op_p50_ms"])
    return statistics.median(vals) if vals else None


def run_jvm(a, trace, cp, inp, run_dir, t_start):
    """One benchmark JVM; returns its raw record, or None when it failed."""
    raw_path = os.path.join(run_dir, "raw%d.json" % trace)
    tmp = os.path.join(run_dir, "tmp%d" % trace)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + XMX, "-Djava.io.tmpdir=" + tmp] + JVM_OPTS + [
        "-cp", os.pathsep.join(cp), "graftbench.Main", "--workload", a.workload,
        "--input", inp, "--work", os.path.join(run_dir, "work%d" % trace),
        "--seconds", str(a.seconds), "--trace", str(trace), "--cores", str(nproc()),
        "--setups", str(SETUPS), "--out", raw_path, "--keys", KEYS]
    log = os.path.join(run_dir, "jvm%d.log" % trace)
    try:
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT,
                                timeout=max(30, DEADLINE_S - (time.time() - t_start))).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not os.path.exists(raw_path):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        print("perfbench: benchmark JVM failed (%s)" % rc, file=sys.stderr)
        return None
    with open(raw_path) as fh:
        return json.load(fh)


def named_layers(workload, raw, roll):
    """The traced run's layer metrics under the names of the layer map in
    perfbench/README.md (the ones a workload exercises)."""
    spans, v = raw["spans"], raw["values"]
    out = {}

    def mean_ms(name):
        r = roll.get(name)
        return r and (r["self_ms"] + sum(roll[k]["self_ms"] for k in roll
                                         if k.startswith(name + "/"))) / r["calls"]

    def spark(name, *keys):
        sp = roll.get(name, {}).get("spark", {})
        for k in keys:
            out["%s.%s" % (name, k)] = sp.get(k)
    if workload == "search":
        for sh in gen.SERVE_SHAPES:
            ph = M.op_phases(spans, raw, "query.%s" % sh) or {}
            for k in ("build_ms", "plan_ms", "exec_ms"):
                out["query.%s.%s" % (sh, k)] = ph.get(k)
        ph = M.op_phases(spans, raw, "query.")
        out["query.jobs_per_query"] = ph["jobs_per_op"]
        out["query.stages_per_query"] = ph["stages_per_op"]
        out["query.eager_jobs_per_query"] = ph["eager_jobs_per_op"]
        for k in ("query.rows_per_query", "query.pruned_frac", "indexstore.segments_max",
                  "indexstore.tombstone_batches_max", "indexstore.bytes", "indexstore.files",
                  "indexstore.write_amp"):
            out[k] = v.get(k)
        for k in ("land", "stats", "takedown", "open"):
            out["indexstore.%s_ms" % k] = mean_ms("indexstore." + k)
    elif workload == "dedup":
        for k in ("pipeline.clean", "dedup.minhash_lsh", "index.cosine", "dedup.triangles"):
            out[k + "_s"] = mean_ms(k) / 1e3
        spark("index.cosine", "task_skew", "tasks", "shuffle_write_bytes", "task_cpu_s")
        spark("dedup.triangles", "task_cpu_s")
        for k in ("dedup.candidate_pairs", "dedup.pair_precision", "dedup.cosine_regime",
                  "dedup.recall", "dedup.triangles"):
            out[k] = v.get(k)
    else:
        ph = M.op_phases(spans, raw, "board.")
        passes = len(raw["samples"]["pass_ms"])
        keys = ph["calls"] / passes
        for k in ("build", "plan", "exec"):
            out["board.%s_s" % k] = ph[k + "_ms"] * keys / 1e3
        out["board.jobs"] = ph["jobs_per_op"] * keys
        out["board.stages"] = ph["stages_per_op"] * keys
        out["board.eager_jobs"] = ph["eager_jobs_per_op"] * keys
        out["board.ms_per_stage"] = ph["ms_per_stage"]
    out["spark.spill_bytes"] = M.spark_rollup(raw)["spill_bytes"]
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    t_start = time.time()
    try:
        cp = build.build()
    except (OSError, RuntimeError) as e:
        print("perfbench: cannot build graft: %s" % e, file=sys.stderr)
        return 2
    tag = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    run_dir = os.path.join(ROOT, ".bench_build", "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    gen_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        props = GENERATORS[a.workload](a.seed, inp)
        gen_s.append(time.perf_counter() - t0)
    res_dir = os.path.join(ROOT, ".bench_build", "results")
    baseline = untraced_baseline(res_dir, a.workload, build.stamp()) if a.trace else None
    traces = (0,) if not a.trace else (1,) if baseline else (0, 1)
    raws = [run_jvm(a, trace, cp, inp, run_dir, t_start) for trace in traces]
    if None in raws:
        return 1
    raw = raws[-1]
    if a.trace and baseline is None:
        baseline = statistics.median(raws[0]["samples"][MAIN_SAMPLE[a.workload]])
    attempted = sum(r["attempted"] for r in raws)
    failures = [f for r in raws for f in r["failures"]]
    v = raw["values"]
    n_keys = len(v.get("board.oracle", {}))
    for r in raws if a.workload == "analytics" else ():
        import oracle  # DuckDB and pandas load only for this workload
        rv = r["values"]
        at, fl = oracle.check(inp, rv["board.out"], rv["board.oracle"])
        attempted, failures = attempted + at, failures + fl
    e2e = end_to_end(a.workload, raw, gen_s, props, n_keys) if not a.trace else None
    layers = per_layer(a.workload, raw, gen_s, baseline) if a.trace else None
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "build": build.stamp(), "untraced_baseline_ms": baseline,
        "context": dict(v["context"], nproc=nproc(), xmx=XMX, code=code_version(),
                        source_sha256=build.source_digest(), input=props),
        "setup": {"session_s": raw["session_s"], "generate_s": gen_s, "probe_s": raw["probe_s"]},
        "ops_failed_frac": len(failures) / max(1, attempted),
        "failures": failures[:20],
        "end_to_end": e2e, "per_layer": layers,
        "workload_metrics": workload_report(a.workload, raw, props, e2e),
    }
    if a.trace:
        report["layers"] = layer_report(raw)
        report["named_layers"] = named_layers(a.workload, raw, report["layers"])
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, tag + ".json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    units, vals = (PER_LAYER, layers) if a.trace else (END_TO_END, e2e)
    print(json.dumps(report, default=str))
    print("perfbench: %s finished in %.1f s" % (tag, time.time() - t_start), file=sys.stderr)
    print(json.dumps({
        "correct": not failures, "attempted": max(1, attempted), "failed": len(failures),
        "metrics": {k: {"value": vals[k], "unit": u} for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
