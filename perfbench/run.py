#!/usr/bin/env python3
"""Layered benchmark of graft. Runs one workload at one seed:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (all closed loop, one client thread, one JVM at local[N] with
N = min(2, nproc) and N shuffle partitions, so N never exceeds nproc):

- hydro_bulk: the reference hydro dataflow at volume — synthetic source
  -> toFeatures -> mergeSites -> streamed JSON lines; one op per pass.
- query_mix: registered graft queries in a seed-permuted order, each
  result checked against a DuckDB-oracle fingerprint (oracle.json).

With --trace 0 the last stdout line carries the end-to-end metrics;
with --trace 1 it carries the per-layer metrics, and one line per op
before it gives that op's layer breakdown. Builds graft from source on
first use (see build.py); all files go under .bench_build/ and
.bench_work/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 160
# Two task slots: the spare processors keep the driver thread, JIT and GC
# from contending with tasks. On a 4-processor VM, interleaved hydro_bulk
# runs spread 0.08 of the median at local[2] and 0.20 at local[4], and the
# driver-bound query mix ran no faster at local[4].
MAX_CPUS = 2

HYDRO_BULK_SITES = 100_000
# untimed passes after the cold set-up pass: op times and CPU seconds
# still fall over the next few (JIT)
WARMUP_PASSES = {"hydro_bulk": 3, "query_mix": 2}
QUERIES = [
    # small relational queries: partition and job fixed cost
    "q01_agg_pricing", "q02_filter_project", "q04_join_topk", "q08_semi_join",
    "q11_setops", "q13_conditional_merge", "q15_date_funcs", "q17_json_extract",
    "q23_fingerprint",
    # planning-bound: a bootstrap fanned out over replicates
    "q217_quality_bootstrap",
    # iterative chain: one job and one checkpoint per round
    "q256_stationary",
    # shuffle-heavy; MinHash/OPH banding
    "q53_count_distinct", "q243_neardup_oph",
    # driver-side fold
    "q221_ewma_rates"]

END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "items_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB", "retained_mb": "MB"}
PER_LAYER = {
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count", "catalyst.rule_runs": "count",
    "catalyst.rule_effective_ratio": "ratio",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "ops.build_s": "s", "ops.build_jobs": "count",
    "scheduler.jobs": "count", "scheduler.job_union_s": "s", "scheduler.job_self_s": "s",
    "scheduler.stages": "count", "scheduler.tasks": "count", "scheduler.task_overhead_s": "s",
    "driver.residue_s": "s", "blockmgr.persisted_rdds": "count",
    "sources.rows_in": "count", "sources.scan_s": "s",
    "pipeline.features_s": "s", "pipeline.merge_s": "s", "pipeline.sink_s": "s",
    "executor.stage_s": "s", "executor.run_s": "s", "executor.cpu_s": "s",
    "executor.deser_s": "s", "executor.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "sink.written_mb": "MB", "sink.records": "count",
    "driver.result_mb": "MB", "jvm.gc_s": "s",
    "trace.run_s": "s", "trace.barrier_timeouts": "count"}
# per-op layer figures read from the listener's task counters
TASK_COUNTERS = [
    "executor.run_s", "executor.cpu_s", "executor.deser_s", "executor.gc_s",
    "scheduler.task_overhead_s", "sources.rows_in", "shuffle.write_mb",
    "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "sink.written_mb", "sink.records", "driver.result_mb"]
OP_COUNTERS = ["codegen.compiles", "codegen.compile_s", "jvm.gc_s",
               "blockmgr.persisted_rdds"]


def cpus():
    return min(MAX_CPUS, os.cpu_count() or 1)


def table_dir():
    """The fixed query_mix tables, generated once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, f"tables-{tag}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d)
        open(os.path.join(d, "done"), "w").close()
    return d


def java_cmd(classes, main, args, work):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in build.JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # The serial collector sizes the heap by the live data and runs no
    # concurrent threads: on a 4-processor VM it brought query_mix's
    # run-to-run spread from 0.16-0.28 (G1) to 0.05-0.12.
    return (["java", "-Xmx2g", "-XX:+UseSerialGC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opens +
            ["-cp", f"{classes}{os.pathsep}{jars}", main] + args)


def launch(cmd, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {timeout:.0f} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {rc}:\n{tail}")


def op_layers(op):
    """Per-layer self times (s) and counters of one traced op."""
    ev = op["events"]
    start, end = op["start_ms"], op["end_ms"]
    spans = {"ops.build": [(start, op["build_end_ms"])],
             "scheduler.job_self": [(s, e if e >= 0 else end) for s, e in ev["jobs"]],
             "executor.stage": [tuple(x) for x in ev["stages"]]}
    for q in ev["qes"]:
        for phase, (s, e) in q["phases"].items():
            if phase in ("analysis", "optimization", "planning"):
                spans.setdefault(f"catalyst.{phase}", []).append((s, e))
    self_ms = stats.self_times(spans, start, end)
    out = {("scheduler.job_self_s" if k == "scheduler.job_self" else
            "executor.stage_s" if k == "executor.stage" else k + "_s"): v / 1e3
           for k, v in self_ms.items()}
    out["scheduler.job_union_s"] = stats.length(stats.clip(spans["scheduler.job_self"], start, end)) / 1e3
    out["scheduler.jobs"] = len(ev["jobs"])
    out["ops.build_jobs"] = sum(1 for s, _ in ev["jobs"] if s <= op["build_end_ms"])
    out["scheduler.stages"] = ev["stage_count"]
    out["scheduler.tasks"] = ev["tasks"]
    out["catalyst.executions"] = len(ev["qes"])
    out["catalyst.rule_runs"] = sum(q["rule_runs"] for q in ev["qes"])
    out["_rule_effective"] = sum(q["rule_effective"] for q in ev["qes"])
    for k in TASK_COUNTERS:
        out[k] = ev["task_counters"].get(k, 0.0)
    for k in OP_COUNTERS:
        out[k] = op["counters"][k]
    accounted = sum(out[k] for k in ("ops.build_s", "catalyst.analysis_s",
                                     "catalyst.optimization_s", "catalyst.planning_s",
                                     "scheduler.job_self_s", "executor.stage_s",
                                     "driver.residue_s"))
    wall = (end - start) / 1e3
    if abs(accounted - wall) > 1e-6 or min(out[k] for k in out if k.endswith("_s")) < 0:
        raise RuntimeError(f"layer accounting broken for {op['id']}: {accounted} vs {wall}")
    return out


def check_results(ops, oracle, work):
    """Fail query ops whose result does not equal the oracle's answer.

    Each op names the digest of its rows; the JVM wrote every distinct
    result once, under results/<name>/<digest>."""
    import duckdb
    import fingerprint
    con = duckdb.connect()
    prints = {}
    for op in ops:
        want = oracle.get(op["name"])
        if want is None or not op["ok"]:
            continue
        key = (op["name"], op["result"])
        if key not in prints:
            prints[key] = fingerprint.of_parquet(
                con, os.path.join(work, "results", op["name"], op["result"]))
        if prints[key] != want:
            op["ok"] = False
            op["error"] = f"result {prints[key]} != oracle {want}"


def per_op_median_sum(by_pass, key):
    """Sum over a pass's ops of each op's median across passes: one
    slow pass, or one slow op in it, does not move the figure."""
    per_name = {}
    for ops in by_pass:
        for op in ops:
            per_name.setdefault(op["name"], []).append(op[key])
    return sum(stats.median(v) for v in per_name.values())


def metrics(res, traced):
    timed = [op for op in res["ops"] if op["phase"] == "timed"]
    passes = sorted({op["pass"] for op in timed})
    by_pass = [[op for op in timed if op["pass"] == p] for p in passes]
    run_s = per_op_median_sum(by_pass, "wall_s")
    if not traced:
        walls = [op["wall_s"] for op in timed]
        p_tail = stats.tail_percentile(res["min_passes"] * len(by_pass[0]))
        return {
            "setup_s": res["setup_s"],
            "run_s": run_s,
            "op_p50_s": stats.median(walls),
            "op_tail_s": stats.percentile(walls, p_tail),
            "items_per_s": res["items_per_pass"] / run_s,
            "cpu_s": per_op_median_sum(by_pass, "cpu_s"),
            "peak_rss_mb": res["peak_rss_mb"],
            "retained_mb": stats.median(res["live_heap_mb"]) + res["nonheap_peak_mb"],
        }, {"op_tail_percentile": p_tail, "ops_timed": len(walls)}
    per_op = []
    totals = dict.fromkeys(PER_LAYER, 0.0)
    for op in timed:
        layers = op_layers(op)
        runs = layers["catalyst.rule_runs"]
        per_op.append({"op": op["id"], "name": op["name"], "pass": op["pass"],
                       "wall_s": op["wall_s"],
                       **{k: v for k, v in layers.items() if not k.startswith("_")},
                       "catalyst.rule_effective_ratio":
                           layers["_rule_effective"] / runs if runs else 0.0})
        for k, v in layers.items():
            totals[k] = totals.get(k, 0.0) + v
    n = len(by_pass)
    out = {k: totals[k] / n for k in PER_LAYER}
    runs = totals["catalyst.rule_runs"]
    out["catalyst.rule_effective_ratio"] = totals["_rule_effective"] / runs if runs else 0.0
    for k, v in res["probes"].items():
        out[k] = v
    out["trace.run_s"] = run_s
    out["trace.barrier_timeouts"] = float(len(res["barrier_timeouts"]) +
                                          (0 if res["final_barrier_ok"] else 1))
    return out, {"per_op": per_op}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args(argv)

    load_start = os.getloadavg()
    classes, src_stamp = build.build()
    n = cpus()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(n), "--warmup", str(WARMUP_PASSES[a.workload]),
            "--work", work,
            "--out", os.path.join(work, "result.json")]
    oracle = {}
    if a.workload == "hydro_bulk":
        args += ["--sites", str(HYDRO_BULK_SITES)]
    else:
        with open(os.path.join(HERE, "oracle.json")) as f:
            oracle = json.load(f)
        missing = [q for q in QUERIES if q not in oracle]
        if missing:
            sys.exit(f"no oracle fingerprint for {missing}; run perfbench/make_oracle.py")
        args += ["--tables", table_dir(), "--queries", ",".join(QUERIES)]

    launch(java_cmd(classes, "graftbench.Main", args, work), work, JVM_TIMEOUT_S)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    check_results(res["ops"], oracle, work)

    values, extra = metrics(res, a.trace == 1)
    attempted = len(res["ops"])
    failed = sum(1 for op in res["ops"] if not op["ok"])
    detail = {
        "workload": a.workload, "seed": a.seed, "traced": a.trace == 1,
        "source_stamp": src_stamp, "cpus": n, "nproc": os.cpu_count(),
        "loadavg_start": list(load_start), "loadavg_end": list(os.getloadavg()),
        "proc_cpu_s": res["proc_cpu_s"], "proc_wall_s": res["proc_wall_s"],
        "passes": res["passes"],
        "live_heap_mb": res["live_heap_mb"], "nonheap_peak_mb": res["nonheap_peak_mb"],
        "fail_ratio": stats.fail_ratio(failed, attempted),
        "failures": [f"{op['name']}: {op['error']}" for op in res["ops"] if not op["ok"]][:20],
        "barrier_timeouts": res["barrier_timeouts"],
        **{k: v for k, v in extra.items() if k != "per_op"},
    }
    for row in extra.get("per_op", []):
        print(json.dumps({"op_layers": row}))
    print(json.dumps({"detail": detail}))
    units = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0 and not res["barrier_timeouts"] and res["final_barrier_ok"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        sys.exit(f"benchmark failed: {e}")
