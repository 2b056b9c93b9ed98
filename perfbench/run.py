#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload graph_motif --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (first run only), writes
the workload's seeded inputs and their DuckDB references, then starts
one JVM that sets up a Spark session through graft.core.Graft.session
and drives the workload's operations one after another for --seconds.
Every output is checked against its reference. Prints each metric by
name and unit, then, as the last line, one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
All files go under perfbench/.work.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 175  # a run must exit within 180 s once built

FUNCTIONS = (
    "graph.EdgeGraph.connectedComponents", "graph.EdgeGraph.shortestPaths",
    "graph.EdgeGraph.labelPropagation", "graph.EdgeGraph.kCore",
    "graph.EdgeGraph.stronglyConnected",
    "graph.MotifQuery.sharedNeighbors", "graph.MotifQuery.sharedNeighborsSketch",
    "graph.MotifQuery.find",
    "align.AlignmentStore.slice", "align.AlignmentStore.slice2hopMerged",
    "align.AlignmentStore.persist", "align.AlignmentStore.load",
    "operators.IntervalJoin.shuffledIndexJoin", "operators.Coverage.stats",
)
QUANTITIES = (("p50_s", "s"), ("build_s", "s"), ("eager_jobs", "count"), ("jobs", "count"),
              ("tasks", "count"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"))
LAYER_EXTRAS = (
    ("align.AlignmentStore.slice.indexed_ratio", "ratio"),
    ("align.AlignmentStore.persist.write_mb_per_s", "MB/s"),
    ("spark.sched_delay_s_per_op", "s/op"), ("spark.spill_mb_per_op", "MB/op"),
    ("spark.result_ser_s_per_op", "s/op"), ("jvm.gc_s_per_op", "s/op"),
    ("jvm.jit_compile_s", "s"), ("jvm.code_cache_mb", "MB"),
    ("core.Graft.session_s", "s"), ("trace.overhead_pct", "%"),
)
END_TO_END = (("setup_s", "s"), ("ops_per_s", "op/s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("cpu_s_per_op", "s"), ("rss_peak_mb", "MB"),
              ("error_rate", "ratio"))
# Printed but left out of the result line: error_rate is 0 on a healthy
# run (attempted and failed carry it there); latency_tail_s needs 20 or
# more operations, more than a graph_motif run has; latency_p50_s (the
# median falls in the gap between two operation types) and rss_peak_mb
# (G1 heap sizing) swing by a quarter between identical runs, too much to
# gate on.
RESULT_E2E = ("setup_s", "ops_per_s", "cpu_s_per_op")


def per_layer_names():
    return [(f"{f}.{q}", u) for f in FUNCTIONS for q, u in QUANTITIES] + list(LAYER_EXTRAS)


# --- statistics -------------------------------------------------------------

def beyond(n, pct):
    """Samples ranked above the nearest-rank `pct` percentile of n."""
    return n - math.ceil(pct / 100.0 * n)


def tail_percentile(n):
    """The highest ladder percentile with at least 10 samples beyond it."""
    ok = [p for p in workloads.LADDER if beyond(n, p) >= 10]
    return max(ok) if ok else None


def nearest_rank(values, pct):
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def check(records, var, refs):
    """Failures among operation records: an exception, or a row count or
    hash that differs from the variant's reference."""
    bad = []
    for r in records:
        ref = refs[var[r["v"]].get("ref", r["v"])]
        if "err" in r:
            bad.append({"v": r["v"], "error": r["err"]})
        elif [r["rows"], r["hash"]] != ref:
            bad.append({"v": r["v"], "got": [r["rows"], r["hash"]], "want": ref})
    return bad


# --- build ------------------------------------------------------------------

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine and harness unless the sources are unchanged since
    the last build; return (classpath, engine JVM flags)."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(LAUNCH, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, check=True,
                       timeout=850, stdin=subprocess.DEVNULL)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    read = lambda n: [x for x in open(os.path.join(LAUNCH, n)).read().splitlines() if x]
    return read("classpath.txt"), read("jvm_opts.txt")


# --- inputs -----------------------------------------------------------------

def prepare(workload, seed):
    """Generated inputs, variants and references, cached per seed and
    generator version."""
    ver = hashlib.sha256(b"".join(open(os.path.join(HERE, f), "rb").read()
                                  for f in ("gen.py", "workloads.py"))).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{workload}-s{seed}-{ver}")
    refs_path = os.path.join(d, "refs.json")
    if not os.path.exists(refs_path):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        args = gen.generate(workload, seed, tmp)
        var = workloads.variants(workload, args)
        with open(os.path.join(tmp, "refs.json"), "w") as f:
            json.dump(workloads.references(workload, tmp, var), f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "args.json")) as f:
        meta = json.load(f)
    with open(refs_path) as f:
        refs = json.load(f)
    return d, meta, workloads.variants(workload, meta["args"]), refs


# --- metrics ----------------------------------------------------------------

def end_to_end(res, failures):
    recs = res["records"]
    lat = [r["t"] for r in recs]
    pct = tail_percentile(len(lat))
    return {
        "setup_s": res["setup"]["total_s"],
        "ops_per_s": len(recs) / res["loop_s"],
        "latency_p50_s": nearest_rank(lat, 50.0),
        "latency_tail_s": nearest_rank(lat, pct) if pct else None,
        "cpu_s_per_op": res["cpu_s"] / len(recs),
        "rss_peak_mb": res["rss_peak_mb"],
        "error_rate": len(failures) / len(recs),
    }


def self_times(spans):
    """Each span's duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_s"]), min(b, s["end_s"])
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        s["self_s"] = s["end_s"] - s["start_s"] - covered
    return spans


def per_layer(res, spans):
    m = {}
    traced_ops = [s for s in spans if s["kind"] == "op"]
    n_ops = max(1, len(traced_ops))
    runs = {(s["op"], s["name"]): s for s in spans if s["kind"] == "run"}
    dur = lambda s: s["end_s"] - s["start_s"]
    for fn in FUNCTIONS:
        calls = [(b, runs.get((b["op"], b["name"]))) for b in spans
                 if b["kind"] == "build" and b["name"] == fn]
        both = lambda f: [f(b) + (f(r) if r else 0) for b, r in calls]
        vals = {
            "p50_s": both(dur), "build_s": [dur(b) for b, _ in calls],
            "eager_jobs": [b["jobs"] for b, _ in calls], "jobs": both(lambda s: s["jobs"]),
            "tasks": both(lambda s: s["tasks"]),
            "task_cpu_s": [x / 1e9 for x in both(lambda s: s["task_cpu_ns"])],
            "shuffle_mb": [x / 1e6 for x in both(lambda s: s["shuffle_write_b"])],
        }
        for q, _ in QUANTITIES:
            xs = vals[q]
            m[f"{fn}.{q}"] = 0.0 if not xs else (
                statistics.median(xs) if q.endswith("_s") and q != "task_cpu_s"
                else statistics.fmean(xs))
    slices = [s for s in spans if s["kind"] == "run" and "indexed" in s]
    m["align.AlignmentStore.slice.indexed_ratio"] = (
        sum(s["indexed"] for s in slices) / len(slices) if slices else 0.0)
    persists = [s for s in spans if s["name"] == "align.AlignmentStore.persist"]
    m["align.AlignmentStore.persist.write_mb_per_s"] = (
        sum(s["bytes"] for s in persists) / 1e6 / sum(dur(s) for s in persists)
        if persists else 0.0)
    per_op = lambda f: sum(s[f] for s in spans if s["kind"] != "op") / n_ops
    m["spark.sched_delay_s_per_op"] = per_op("sched_delay_ms") / 1e3
    m["spark.spill_mb_per_op"] = per_op("spill_b") / 1e6
    m["spark.result_ser_s_per_op"] = per_op("result_ser_ms") / 1e3
    m["jvm.gc_s_per_op"] = sum(s["gc_ms"] for s in traced_ops) / 1e3 / n_ops
    m["jvm.jit_compile_s"] = res["jit_compile_s"]
    m["jvm.code_cache_mb"] = res["code_cache_mb"]
    m["core.Graft.session_s"] = res["setup"]["session_s"]
    m["trace.overhead_pct"] = overhead_pct(res["records"])
    return m


def overhead_pct(records):
    """Traced versus untraced latency of the same operations. A traced
    run repeats each cycle's variants in the next cycle and alternates
    the traced half, so every operation is measured both ways. The mean
    log ratio over the pairs cancels warm-up between the two cycles, which
    slows the traced side of half the pairs and the untraced side of the
    other half."""
    pairs = {}
    for r in records:
        pairs.setdefault((r["cycle"] // 2, r["pos"], r["v"]), {})[r["traced"]] = r["t"]
    logs = [math.log(p[True] / p[False]) for p in pairs.values() if len(p) == 2]
    return (math.exp(statistics.fmean(logs)) - 1.0) * 100.0 if logs else 0.0


# --- run --------------------------------------------------------------------

def launch(cp, jvm_opts, plan, rundir, deadline):
    plan_path = os.path.join(rundir, "plan.json")
    out_path = os.path.join(rundir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData keeps the JVM from writing hsperfdata outside the checkout
    cmd = [java, *jvm_opts, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.graft.checkpointDir={os.path.join(rundir, 'ckpt')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(rundir, 'warehouse')}",
           "-cp", os.pathsep.join(cp), "graftbench.Main", plan_path, out_path]
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=rundir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("benchmark JVM did not finish in time")
    if code != 0:
        with open(os.path.join(rundir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")
    with open(out_path) as f:
        res = json.load(f)
    spans = []
    if os.path.exists(out_path + ".spans.json"):
        with open(out_path + ".spans.json") as f:
            spans = json.load(f)
    return res, spans


def main(argv=None):
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the graft engine.")
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        print(f"engine sources not found next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    cp, jvm_opts = build()
    deadline = time.monotonic() + DEADLINE_S
    inputs, meta, var, refs = prepare(a.workload, a.seed)
    cyc = workloads.cycles(a.workload, a.seed, var)
    files = sorted(f for f in os.listdir(inputs) if f.endswith(".parquet"))
    rundir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    plan = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": bool(a.trace), "inputs": inputs, "files": files,
            "work": rundir, "variants": var, "cycles": cyc,
            "setup": workloads.setup_pass(a.workload, var)}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-trace{a.trace}")
    try:
        res, spans = launch(cp, jvm_opts, plan, rundir, deadline)
    except (RuntimeError, OSError) as e:
        print(e, file=sys.stderr)
        return 1
    finally:
        if os.path.exists(os.path.join(rundir, "jvm.log")):
            shutil.copy(os.path.join(rundir, "jvm.log"), stem + ".jvm.log")
        shutil.rmtree(rundir, ignore_errors=True)

    failures = check(res["records"], var, refs)
    setup_failures = check(res["setup_records"], var, refs)
    e2e = end_to_end(res, failures)
    n = len(res["records"])
    pct = tail_percentile(n)
    stage_match = True
    if a.trace:
        layer = per_layer(res, self_times(spans))
        shown, units = layer, dict(per_layer_names())
        lt = res["listener"]
        # the listener's task sums must add up to its stage totals, or
        # the per-layer attribution lost or double-counted tasks
        stage_match = (lt["stage_tasks"] == lt["totals"]["tasks"]
                       and lt["stage_cpu_ns"] == lt["totals"]["task_cpu_ns"])
    else:
        shown, units = e2e, dict(END_TO_END)
    names = [k for k, _ in per_layer_names()] if a.trace else RESULT_E2E
    result = {
        "correct": not failures and not setup_failures and stage_match,
        "attempted": n, "failed": len(failures),
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in names},
    }

    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "sizes": meta["sizes"], "variants": var, "env": res["env"],
                "setup": res["setup"],
                "tail_percentile": pct, "samples": n, "cycles": res["cycles"],
                "end_to_end": e2e,
                "failures": failures, "setup_failures": setup_failures,
                "wall_s": time.monotonic() - start}
    if a.trace:
        artifact.update(per_layer=layer, listener=res["listener"], stage_sums_match=stage_match)
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1)

    env = res["env"]
    print(f"# {a.workload} seed={a.seed} nproc={env['nproc']} heap={env['max_heap_mb']}MB "
          f"spark={env['spark_version']} java={env['java_version']} "
          f"ops={n} cycles={res['cycles']} tail="
          + (f"p{pct:g} ({beyond(n, pct)} beyond)" if pct else "n/a (fewer than 20 ops)"))
    for f in failures + setup_failures:
        print("# FAILED", json.dumps(f))
    if a.trace:
        print(f"# trace: stage sums match listener totals: {stage_match}; "
              f"tasks outside traced spans: {lt['unattributed']['tasks']}")
    for k, v in shown.items():
        print(f"{k} = {'n/a' if v is None else format(v, '.6g')} {units[k]}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
