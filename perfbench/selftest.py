#!/usr/bin/env python3
"""Self-test of the benchmark itself, at sf0.001 (about two minutes).

    python3 perfbench/selftest.py

Checks that
  - bad arguments are refused with a usage message and exit code 2;
  - the oracle check is not vacuous: with one expected result corrupted,
    the run reports fail_frac > 0 and correct = false;
  - one traced run of each workload reports every per-layer metric of
    BENCHMARK.json, finite and with its unit, and every end-to-end metric
    in its record; exec.skew_max >= 1; every span but a query has a parent;
  - queries.build_jobs is larger for graph_pagerank than for
    q01_filter_project.
"""
import json
import math
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
RUN = [sys.executable, str(HERE / "run.py")]


def run(*args):
    p = subprocess.run(RUN + list(args), stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


def traced(workload, *extra):
    code, out, err = run("--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", "1", "--scale", "sf0.001", *extra)
    assert code == 0, f"{workload}: exit {code}\n{err[-3000:]}"
    last = json.loads(out.strip().splitlines()[-1])
    m = re.search(r"record=(\S+)", err)
    assert m, "no record path on stderr"
    return last, json.loads(Path(m.group(1)).read_text()), Path(m.group(1)).parent


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    failures = []

    def check(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            failures.append(what)

    for bad in (["--workload", "nope", "--seed", "1", "--seconds", "5", "--trace", "0"],
                ["--workload", "short_sql", "--seed", "x", "--seconds", "5", "--trace", "0"],
                ["--workload", "short_sql", "--seed", "1", "--seconds", "5", "--trace", "2"],
                ["--workload", "short_sql", "--seed", "1", "--seconds", "5", "--trace", "0",
                 "--cores", "0"],
                ["--workload", "short_sql", "--seed", "1", "--seconds", "5", "--trace", "0",
                 "--cores", "100000"]):
        code, out, err = run(*bad)
        check(code == 2 and not out and "usage" in err, f"refused: {' '.join(bad)}")

    build_jobs = {}
    for w in [x["name"] for x in spec["workloads"]]:
        extra = ["--corrupt-oracle", "q01_filter_project"] if w == "short_sql" else []
        last, rec, run_dir = traced(w, *extra)
        if extra:
            check(rec["fail_frac"] > 0 and not last["correct"]
                  and "q01_filter_project" in rec["wrong_outputs"],
                  f"{w}: a corrupted expected result gives fail_frac > 0")
        else:
            check(last["correct"] and rec["fail_frac"] == 0, f"{w}: outputs match the oracle")
        m = last["metrics"]
        for spec_m in spec["per_layer"]:
            v = m.get(spec_m["name"])
            check(v is not None and v["unit"] == spec_m["unit"]
                  and isinstance(v["value"], (int, float)) and math.isfinite(v["value"]),
                  f"{w}: {spec_m['name']} present, finite, unit {spec_m['unit']}")
        for spec_m in spec["end_to_end"]:
            v = rec["end_to_end"].get(spec_m["name"])
            check(v is not None and math.isfinite(v) and v > 0,
                  f"{w}: end-to-end {spec_m['name']} in the record")
        check(m["exec.skew_max"]["value"] >= 1, f"{w}: exec.skew_max >= 1")
        spans = json.loads((run_dir / "spans.json").read_text())
        check(spans and all(s["parent"] for s in spans if s["kind"] != "query"),
              f"{w}: {len(spans)} spans, all non-query spans parented")
        for x in rec["layer_queries"]:
            build_jobs[x["query"]] = x["metrics"]["build_jobs"]

    check(build_jobs.get("graph_pagerank", 0) > build_jobs.get("q01_filter_project", 1e9),
          f"build_jobs graph_pagerank {build_jobs.get('graph_pagerank')} > "
          f"q01_filter_project {build_jobs.get('q01_filter_project')}")
    print(f"\n{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
