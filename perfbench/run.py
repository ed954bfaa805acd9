#!/usr/bin/env python3
"""The carmenspark benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload fwd_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program from source (first run
only), generates the workload's inputs from the seed (cached per workload
and seed), runs the workload in a fresh JVM, checks the outputs against the
oracles and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. The line before it is a
report with the inputs' measured properties, the latency sample count and
tail percentile, and the check results. `--workload all` runs every
workload, each in its own JVM, printing each one's lines as it finishes.

BENCHMARK.json lists fwd_bulk and rev_bulk. fwd_job and api_small run the
same way by hand; the layers they exercise are also measured in the bulk
workloads' traced runs.

Everything the run writes goes under `.bench_build/` in the repository.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
WORKLOADS = ["fwd_bulk", "rev_bulk", "fwd_job", "api_small"]
RUN_LIMIT_S = 170          # a run must end within 180 s

# Per-layer metrics, grouped by the layers that produce them.
FORWARD = ["core.text.tokenize_ns", "ops.windows.self_s", "ops.windows.rows",
           "ops.mentions.self_s", "ops.mentions.rows", "ops.mentions.hit_ratio",
           "ops.coalesce.self_s", "ops.coalesce.rows", "ops.coalesce.shuffle_mb",
           "ops.rank.self_s", "ops.rank.rows", "ops.rank.shuffle_mb", "api.forward.self_s"]
REVERSE = ["core.geo.pip_ns", "core.cellmath.cell_ns", "index.cover.entries",
           "index.cover.build_s", "ops.pip.candidates", "ops.pip.hits", "ops.pip.hit_ratio",
           "ops.context.self_s", "ops.context.shuffle_mb", "ops.knn.self_s", "ops.knn.rounds",
           "ops.knn.residual_rows", "ops.knn.probe_rows", "ops.knn.busy_frac",
           "api.reverse.self_s"]
JOB = ["index.grid.build_s", "index.grid.rows", "index.prefilter.pass_ratio",
       "ops.fwd_indexed.self_s", "ops.fwd_indexed.shuffle_mb", "pipeline.range.write_s",
       "pipeline.range.max_s", "pipeline.write_mb", "pipeline.ranges"]
API = ["plans.plan_ms", "api.exec_ms"]
CALLS = {k: [f"api_{k}.jobs_per_call", f"api_{k}.stages_per_call", f"api_{k}.tasks_per_call"]
         for k in ("fwd", "rev")}


def totals(w):
    return [f"{w}.busy_frac", f"{w}.spill_mb", f"{w}.jobs", f"{w}.tasks", "trace_overhead_frac"]


# What each workload's traced run measures. A bulk workload's trace also
# measures, once, every layer it bypasses, over small side inputs: the
# other bulk workload's stages, the indexed job and small API calls of both
# kinds. Only the other workload's Spark totals read 0 there.
EVERY_LAYER = FORWARD + REVERSE + JOB + API + CALLS["fwd"] + CALLS["rev"]
LAYERS = {
    "fwd_bulk": EVERY_LAYER + totals("fwd_bulk"),
    "rev_bulk": EVERY_LAYER + totals("rev_bulk"),
    "fwd_job": FORWARD[:3] + JOB + totals("fwd_job"),
    "api_small": API + CALLS["fwd"] + CALLS["rev"] + totals("api_small"),
}

# JDK 17 module openings Spark needs outside spark-submit (the same list
# as the program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(workload, seed, seconds, trace, data, work):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    # a fixed, pre-touched heap: heap growth and GC timing are not run luck
    return ["java", *opts, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.awt.headless=true",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.PerfBench",
            "--workload", workload, "--data", data, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores()), "--seed", str(seed)]


def run_jvm(cmd, work, deadline):
    """Runs the JVM; kills it (and waits for it) at the deadline."""
    log_path = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(work, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout", log_path
    return rc, log_path


def log_tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def end_to_end(result):
    secs = result["op_s"]
    items = result["op_items"]
    tail_s, pct, n = stats.tail(secs)
    metrics = {
        "setup_s": result["setup_s"],
        "items_per_s": stats.median(stats.later_half([i / s for i, s in zip(items, secs)])),
        "retained_mb": result["retained_mb"],
    }
    # latencies are reported beside the metrics: in the bulk workloads every
    # operation has the same item count, so they repeat items_per_s
    detail = {"ops": n, "op_s": secs, "op_p50_ms": stats.median(secs) * 1000.0,
              "op_tail_ms": tail_s * 1000.0, "tail_percentile": pct}
    kinds = {}
    for k, s in zip(result.get("op_kind", []), secs):
        kinds.setdefault(k.split(":")[0], []).append(s * 1000.0)
    if len(kinds) > 1:
        for k, ms in sorted(kinds.items()):
            t, p, m = stats.tail(ms)
            detail[k] = {"calls": m, "p50_ms": stats.median(ms), "tail_ms": t,
                         "tail_percentile": p}
    return metrics, detail


def per_layer(workload, result, names):
    """Values of the named metrics (0 for bypassed layers), the measured
    ones that are missing, and measured ones BENCHMARK.json does not name."""
    got = result.get("per_layer", {})
    measured = set(LAYERS[workload])
    missing = sorted((measured & set(names)) - set(got))
    metrics = {n: float(got[n]) if n in measured and n in got else 0.0 for n in names}
    extra = {k: v for k, v in got.items() if k not in names}
    return metrics, missing, extra


def run_one(workload, seed, seconds, trace):
    t_start = time.time()
    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    names = [m["name"] for m in (bench["per_layer"] if trace else bench["end_to_end"])]
    build.build()
    data, inputs = gen.ensure(workload, seed, os.path.join(OUT, "data"))
    work = os.path.join(OUT, "runs", f"{workload}-s{seed}-t{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    expected = check.write_expected(workload, data, build.ORACLE, work)
    cmd = jvm_cmd(workload, seed, seconds, trace, data, work)
    rc, log_path = run_jvm(cmd, work, t_start + RUN_LIMIT_S - 15)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        # the run counts as failed operations; no metric is reported
        print(f"{workload}: JVM exit {rc}\n{log_tail(log_path)}", file=sys.stderr)
        report = {"workload": workload, "seed": seed, "jvm_exit": str(rc), "inputs": inputs}
        return report, {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    with open(result_path) as f:
        result = json.load(f)
    attempted = int(result["attempted"])
    failed = int(result["failed"])
    mismatch = result["mismatch"]
    report = {"workload": workload, "seed": seed, "inputs": inputs, "info": result["info"],
              "expected_rows": expected, "planted_row_caught": result["planted_row_caught"],
              "errors": result["errors"][:5]}
    if mismatch:
        try:
            report["mismatch"] = check.diagnose(work, mismatch) if "dir" in mismatch else mismatch
        except Exception as e:  # the diagnosis is a report detail, never a result
            report["mismatch"] = {"diagnosis_failed": str(e)}
    if trace:
        values, missing, extra = per_layer(workload, result, names)
        report["other_layers"] = extra
        report.update({k: result[k] for k in ("untraced_wall_s", "traced_wall_s",
                                              "stage_self_s", "root_self_s")})
        if missing:
            report["missing_layers"] = missing
    elif not result["op_s"]:
        # no operation succeeded: the metrics are missing, never banked as 0
        return report, {"correct": False, "attempted": attempted, "failed": failed,
                        "metrics": {}}
    else:
        values, detail = end_to_end(result)
        report.update(detail)
        missing = []
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    correct = failed == 0 and not missing and result["planted_row_caught"]
    return report, {"correct": correct, "attempted": attempted, "failed": failed,
                    "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"cannot build the program: {e}", file=sys.stderr)
        return 2
    rc = 0
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        report, line = run_one(w, a.seed, a.seconds, bool(a.trace))
        print(json.dumps({"report": report}, default=str), flush=True)
        print(json.dumps(line), flush=True)
        if not line["metrics"]:
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
