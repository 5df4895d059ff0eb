#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload short_sql --seed 1 --seconds 28 --trace 0

Builds the project and the harness (perfbench/build.py), launches one JVM
directly on the class path (no sbt), runs the workload's queries in a
closed loop on a local[cores] session, checks every query's output against
its DuckDB oracle outside the timed window, and prints one JSON line as the
last line of stdout. `--trace 0` reports the end-to-end metrics; `--trace 1`
runs alternate untraced and traced passes and reports the per-layer metrics
(perfbench/README.md has the table) and the tracing overhead.

The full record of each run (conditions, samples, failures, per-query
medians, layer metrics) is written to
$CARGO_TARGET_DIR/perfbench/runs/<workload>-s<seed>-t<trace>-<time>/record.json
(default .bench_build/...); traced runs also write spans.json there.

Options beyond the four above: --cores N (1..nproc, default nproc),
--scale sf0.01|sf0.001 (default sf0.01), and --corrupt-oracle QUERY, which
perturbs one expected result so the check can be shown to fail.
"""
import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

SCALES = ("sf0.01", "sf0.001")
JVM_TIMEOUT_S = 150

# Each list is fixed; the seed only picks the query each pass starts with
# (every pass runs the list as one cycle from there).
# Every query has a DuckDB oracle. Sized so one pass takes about 10 s on a
# 4-core host at sf0.01 (README.md, "Workloads").
WORKLOADS = {
    "short_sql": [
        "q01_filter_project", "q02_scalar_agg", "q03_group_agg",
        "q04_inner_join", "q05_star_join", "q06_outer_joins", "q07_semi_anti",
        "q09_sort_fetch", "q10_topk", "q11_union_all", "q12_value_counts",
        "q13_unpivot", "q14_strings", "q15_temporal_date", "q16_math",
        "q17_conditional", "q18_casts", "q19_ranking", "q20_cumulative",
        "q21_asof_join", "q21b_asof_exec", "q21c_asof_forward",
        "q22_window_agg", "q23b_pivot",
    ],
    "iterative_pipelines": [
        "graph_pagerank", "dedup_cc", "dedup_ppjoin", "pipeline_bpe",
        "ann_kmeans", "dedup_winnow", "pipeline_e2e",
        "dedup_minhash_lsh",
    ],
}

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "latency_geomean_s": "s",
    "throughput_qpm": "queries/min",
    "heap_live_peak_mb": "MB",
}

# per-layer metric -> (unit, key in the harness's per-query record)
LAYER_SUMS = {
    "Tables.input_mb": ("MB", "input_mb"),
    "Tables.input_rows": ("count", "input_rows"),
    "Tables.scan_tasks": ("count", "scan_tasks"),
    "queries.build_s": ("s", "build_s"),
    "queries.build_jobs": ("count", "build_jobs"),
    "pipeline.checkpoint_jobs": ("count", "checkpoint_jobs"),
    "plans.plan_s": ("s", "plan_s"),
    "plans.analysis_s": ("s", "analysis_s"),
    "plans.optimization_s": ("s", "optimization_s"),
    "plans.planning_s": ("s", "planning_s"),
    "exec.exec_s": ("s", "exec_s"),
    "exec.jobs": ("count", "jobs"),
    "exec.stages": ("count", "stages"),
    "exec.tasks": ("count", "tasks"),
    "exec.task_run_s": ("s", "task_run_s"),
    "exec.task_cpu_s": ("s", "task_cpu_s"),
    "exec.gc_s": ("s", "gc_s"),
    "exec.idle_s": ("s", "idle_s"),
    "exec.task_wait_s": ("s", "task_wait_s"),
    "exec.shuffle_read_mb": ("MB", "shuffle_read_mb"),
    "exec.shuffle_write_mb": ("MB", "shuffle_write_mb"),
    "exec.spill_mb": ("MB", "spill_mb"),
}
LAYER_UNITS = {
    "GraftSession.start_s": "s",
    "GraftSession.warm_pass_s": "s",
    "Tables.load_ms": "ms",
    **{k: u for k, (u, _) in LAYER_SUMS.items()},
    "exec.core_busy_frac": "ratio",
    "exec.skew_max": "ratio",
    "sources.ipc_write_s": "s",
    "sources.ipc_read_s": "s",
    "io.bytes_written_mb": "MB",
    "io.write_amp": "ratio",
    "trace.overhead_frac": "ratio",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# The client compiler only: with C2, compiling Spark's generated code kept
# two of four cores busy through the timed passes and made the first timed
# pass 15-25% slower than the second. C1's code cache is 48 MB by default;
# when it fills, methods fall back to the interpreter, so it is enlarged.
# 16 MB G1 regions keep Spark's megabyte buffers from being humongous
# objects, each of which started a concurrent marking cycle.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
             "-XX:+UseG1GC", "-XX:G1HeapRegionSize=16m"]


def nproc():
    return len(os.sched_getaffinity(0))


class UsageError(Exception):
    pass


class Parser(argparse.ArgumentParser):
    def error(self, message):
        raise UsageError(message)


def parse_args(argv):
    p = Parser(prog="perfbench/run.py", description="graft benchmark (one run)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True)
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", required=True)
    p.add_argument("--cores")
    p.add_argument("--scale", default="sf0.01")
    p.add_argument("--corrupt-oracle")
    a = p.parse_args(argv)

    def integer(name, text, lo, hi):
        try:
            v = int(text)
        except (TypeError, ValueError):
            raise UsageError(f"--{name} must be an integer, got {text!r}")
        if not lo <= v <= hi:
            raise UsageError(f"--{name} must be in [{lo}, {hi}], got {v}")
        return v

    if a.workload not in WORKLOADS:
        raise UsageError(f"--workload must be one of {', '.join(WORKLOADS)}")
    a.seed = integer("seed", a.seed, -(2 ** 63), 2 ** 63 - 1)
    a.seconds = integer("seconds", a.seconds, 1, 120)
    if a.trace not in ("0", "1"):
        raise UsageError("--trace must be 0 or 1")
    a.trace = a.trace == "1"
    a.cores = integer("cores", a.cores if a.cores is not None else nproc(), 1, nproc())
    if a.scale not in SCALES:
        raise UsageError(f"--scale must be one of {', '.join(SCALES)}")
    if a.corrupt_oracle is not None and a.corrupt_oracle not in WORKLOADS[a.workload]:
        raise UsageError("--corrupt-oracle must name a query of the workload")
    return a


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, run_dir):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", *JVM_FLAGS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(classes), "graftbench.Main",
           "--queries", ",".join(WORKLOADS[args.workload]),
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "1" if args.trace else "0", "--cores", str(args.cores),
           "--data", str(HERE / "data" / args.scale), "--out", str(run_dir)]
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    return json.loads((run_dir / "run.json").read_text())


def check_outputs(rec, run_dir, args):
    """Query name -> None (matches the oracle) or the reason it does not."""
    import oracle
    orc = oracle.Oracle(HERE / "data" / args.scale, build.build_root() / "oracle")
    verdict = {}
    for q in rec["queries"]:
        for step in ("warm", "written"):
            if not rec[step][q]["ok"]:
                verdict[q] = f"threw in the {step} pass: {rec[step][q]['error']}"
                break
        if q in verdict:
            continue
        try:
            want = orc.expected(rec["oracle"][q])
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[q] = f"oracle error: {e}"
            continue
        if q == args.corrupt_oracle:
            want = dict(want, rows=[("corrupted",)] + list(want["rows"]))
        verdict[q] = oracle.compare(oracle.actual(run_dir / "results" / q), want)
    return verdict


def e2e_metrics(rec, samples):
    times = sorted(s["seconds"] for s in samples)
    n = len(times)
    # the highest percentile with at least ten samples beyond it, i.e. the
    # 11th-largest sample; below 21 samples that is not above the median,
    # so the maximum is reported instead (tail_samples_beyond = 0)
    beyond = 10 if n >= 21 else 0
    tail = times[n - 1 - beyond]
    per_query = {}
    for s in samples:
        per_query.setdefault(s["query"], []).append(s["seconds"])
    medians = {q: statistics.median(v) for q, v in per_query.items()}
    geo = math.exp(statistics.fmean(math.log(max(m, 1e-9)) for m in medians.values()))
    # timed wall time: whole passes, or in a traced run (where half of each
    # pass is traced) the untraced queries' own times
    if len(samples) == len(rec["samples"]):
        wall = sum(p["wall_s"] for p in rec["passes"])
    else:
        wall = sum(s["seconds"] for s in samples)
    metrics = {
        "setup_s": rec["setup"]["setup_s"],
        "latency_p50_s": statistics.median(times),
        "latency_tail_s": tail,
        "latency_geomean_s": geo,
        "throughput_qpm": n / (wall / 60.0),
        "heap_live_peak_mb": max(rec["heap_live_mb"]),
    }
    extra = {"samples": n, "tail_samples_beyond": beyond,
             "tail_percentile": 100.0 * (n - beyond) / n,
             "per_query_median_s": medians}
    return metrics, extra


def layer_metrics(rec, cores):
    lq = rec["layer_queries"]
    passes = len(lq) / len(rec["queries"])  # traced samples, in passes
    tot = lambda k: sum(x["metrics"].get(k, 0.0) for x in lq)  # noqa: E731
    m = {name: tot(key) / passes for name, (_, key) in LAYER_SUMS.items()}
    wall = tot("wall_s")
    m["exec.core_busy_frac"] = tot("task_run_s") / (wall * cores) if wall > 0 else 0.0
    m["exec.skew_max"] = max([x["metrics"].get("skew_max", 1.0) for x in lq] + [1.0])
    d = rec["direct"]
    m.update({
        "GraftSession.start_s": rec["setup"]["session_start_s"],
        "GraftSession.warm_pass_s": rec["setup"]["warm_pass_s"],
        "Tables.load_ms": d["tables_load_ms"],
        "sources.ipc_write_s": d["ipc_write_s"],
        "sources.ipc_read_s": d["ipc_read_s"],
        "io.bytes_written_mb": d["bytes_written_mb"],
        "io.write_amp": d["write_amp"],
        "trace.overhead_frac": tracing_overhead(rec),
    })
    return m


def tracing_overhead(rec):
    """Traced over untraced query time, minus 1, over the queries timed both
    ways (per query, the mean of each kind)."""
    by = {}
    for s in rec["samples"]:
        if s["ok"]:
            by.setdefault(s["query"], {True: [], False: []})[s["traced"]].append(s["seconds"])
    both = [v for v in by.values() if v[True] and v[False]]
    traced = sum(statistics.fmean(v[True]) for v in both)
    untraced = sum(statistics.fmean(v[False]) for v in both)
    return traced / untraced - 1.0 if untraced > 0 else 0.0


def main(argv):
    try:
        args = parse_args(argv)
    except UsageError as e:
        print(f"usage error: {e}\n", file=sys.stderr)
        print(__doc__, file=sys.stderr)
        return 2
    started = time.time()
    load_start = loadavg()
    try:
        classes, digest = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(started))
    run_dir = build.build_root() / "runs" / (
        f"{args.workload}-s{args.seed}-t{int(args.trace)}-{stamp}-{os.getpid()}")
    run_dir.mkdir(parents=True)
    try:
        rec = run_jvm(classes, args, run_dir)
    except (RuntimeError, OSError, ValueError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1

    verdict = check_outputs(rec, run_dir, args)
    wrong = {q: why for q, why in verdict.items() if why is not None}
    timed = rec["samples"] if args.trace else [s for s in rec["samples"] if not s["traced"]]
    failed = [s for s in timed if not s["ok"] or s["query"] in wrong]
    ok = [s for s in timed if s["ok"]]
    if not ok:
        print("[perfbench] no query completed in the timed passes", file=sys.stderr)
        return 1

    e2e, extra = e2e_metrics(rec, [s for s in ok if not s["traced"]] or ok)
    layers = layer_metrics(rec, args.cores) if args.trace else None
    values, units = (layers, LAYER_UNITS) if args.trace else (e2e, E2E)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "scale": args.scale,
        "conditions": {
            "nproc": nproc(), "cores": args.cores,
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "git_commit": git_commit(), "source_digest": digest,
            "python": platform.python_version(), **rec["conditions"],
        },
        "attempted": len(timed), "failed": len(failed),
        "fail_frac": len(failed) / len(timed),
        "wrong_outputs": wrong,
        "threw": sorted({s["query"] for s in timed if not s["ok"]}),
        "end_to_end": e2e, "end_to_end_detail": extra,
        "per_layer": layers,
        "passes": rec["passes"],
        "samples": rec["samples"],
        "heap_live_mb": rec["heap_live_mb"],
        "layer_queries": rec.get("layer_queries"),
    }
    (run_dir / "record.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(run_dir / "results", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)

    print(f"[perfbench] {args.workload} seed={args.seed} trace={int(args.trace)} "
          f"cores={args.cores} attempted={len(timed)} failed={len(failed)} "
          f"fail_frac={record['fail_frac']:.4f} record={run_dir / 'record.json'}",
          file=sys.stderr)
    for q, why in sorted(wrong.items()):
        print(f"[perfbench] WRONG {q}: {why}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"[perfbench]   {k:28s} {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": not wrong and not failed, "attempted": len(timed),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
