#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per (metric, workload).

    python3 perfbench/compare.py BASE CANDIDATE [--layers] [--json]

BASE and CANDIDATE are each a directory searched recursively for the
record.json files perfbench/run.py writes (or a single record.json). Runs
are grouped by workload; trace-0 records give the end-to-end metrics,
trace-1 records the per-layer ones (with --layers).

For every pair the tool prints each side's median and quartiles, the
spread (interquartile distance over the median), the change of the
median, the paired win rate, and a verdict:

  unresolved     either side's spread is wider than the metric's bound,
                 and not every candidate run beats every base run
  worse          the candidate median is worse by more than the bound
  better         the candidate wins at least 9 of 10 pairs (ties count for
                 neither side) and its median moved by more than the base
                 spread; or, when unresolved by spread, every candidate run
                 beats every base run
  within bound   none of the above

Pairs are matched by seed, else by run order. Bounds and directions come
from BENCHMARK.json; per-layer metrics have no bound, so they get no
verdict. Exits 1 when any verdict is `worse`, else 0.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WIN_SHARE = 0.9


def load_spec():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    return e2e, layers


def load_runs(path):
    p = Path(path)
    files = [p] if p.is_file() else sorted(p.rglob("record.json"))
    if not files:
        raise SystemExit(f"no record.json under {path}")
    return [json.loads(f.read_text()) for f in files]


def series(runs, workload, metric, traced):
    out = []
    for r in runs:
        if r["workload"] != workload or bool(r["trace"]) != traced:
            continue
        vals = r["per_layer"] if traced else r["end_to_end"]
        if metric in vals:
            out.append((r["seed"], vals[metric]))
    return out


def summary(vals):
    q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
    med = statistics.median(vals)
    return {"median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / abs(med) if med else 0.0, "n": len(vals)}


def pairs(base, cand):
    bs, cs = dict(base), dict(cand)
    common = [s for s in bs if s in cs]
    if common:
        return [(bs[s], cs[s]) for s in common]
    return list(zip([v for _, v in base], [v for _, v in cand]))


def judge(base, cand, better, bound):
    b, c = summary([v for _, v in base]), summary([v for _, v in cand])
    sign = 1.0 if better == "lower" else -1.0
    beats = lambda x, y: sign * (y - x) > 0  # noqa: E731  (x beats y)
    ps = pairs(base, cand)
    wins = sum(1 for x, y in ps if beats(y, x))
    losses = sum(1 for x, y in ps if beats(x, y))
    change = (c["median"] - b["median"]) / abs(b["median"]) if b["median"] else 0.0
    worse_by = sign * change
    all_better = all(beats(y, x) for _, y in cand for _, x in base)
    if bound is None:
        verdict = "-"
    elif max(b["spread"], c["spread"]) > bound:
        verdict = "better" if all_better else "unresolved"
    elif worse_by > bound:
        verdict = "worse"
    elif wins >= WIN_SHARE * len(ps) and -worse_by > b["spread"]:
        verdict = "better"
    else:
        verdict = "within bound"
    return {"base": b, "candidate": c, "change": change, "pairs": len(ps),
            "wins": wins, "losses": losses, "bound": bound, "verdict": verdict}


def main(argv):
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("base")
    ap.add_argument("candidate")
    ap.add_argument("--layers", action="store_true", help="also compare per-layer metrics")
    ap.add_argument("--json", action="store_true", help="print JSON instead of a table")
    a = ap.parse_args(argv)
    e2e, layers = load_spec()
    base, cand = load_runs(a.base), load_runs(a.candidate)
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in cand})
    rows = []
    for traced, specs in [(False, e2e)] + ([(True, layers)] if a.layers else []):
        for w in workloads:
            for name, m in specs.items():
                bs, cs = series(base, w, name, traced), series(cand, w, name, traced)
                if bs and cs:
                    rows.append({"workload": w, "metric": name, "unit": m["unit"],
                                 **judge(bs, cs, m["better"], m.get("bound"))})
    if a.json:
        print(json.dumps(rows, indent=1))
    else:
        print(f"{'workload':20s} {'metric':26s} {'base median [q1,q3]':>30s} "
              f"{'cand median [q1,q3]':>30s} {'change':>8s} {'wins':>6s}  verdict")
        for r in rows:
            b, c = r["base"], r["candidate"]
            fmt = lambda s: f"{s['median']:.4g} [{s['q1']:.4g},{s['q3']:.4g}]"  # noqa: E731
            print(f"{r['workload']:20s} {r['metric']:26s} {fmt(b):>30s} {fmt(c):>30s} "
                  f"{100 * r['change']:+7.1f}% {r['wins']:>2d}/{r['pairs']:<3d}  {r['verdict']}"
                  + (f" (spread {b['spread']:.3f}/{c['spread']:.3f}, bound {r['bound']})"
                     if r["verdict"] == "unresolved" else ""))
    return 1 if any(r["verdict"] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
