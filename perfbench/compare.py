#!/usr/bin/env python3
"""Collect benchmark runs and compare a parent checkout with a change.

Collect (from the root of a checkout; appends one JSON line per run):

    python3 perfbench/compare.py collect --out change.jsonl \\
        [--workloads query_mix,pipelines_cold] [--seeds 1-10] [--trace 0,1]

Summarise one side, or compare two:

    python3 perfbench/compare.py report change.jsonl
    python3 perfbench/compare.py report parent.jsonl change.jsonl

For every workload and end-to-end metric the report gives each side's
median and quartiles, the spread (interquartile range over median), the
share of seed-matched pairs the change won, and a verdict:

- `unresolved`  a side's spread exceeds the metric's bound, so the runs
                cannot tell a change of that size from noise;
- `REGRESSION`  the change's median is worse by more than the bound;
- `improved`    better by more than both spreads, and most pairs won;
- `same`        otherwise.

For traced runs it then lists the per-layer metrics whose medians moved,
largest relative move first, e.g. `construct.s +0.9 s`, `construct.jobs
+2 count`: where in the engine a change landed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a):
    spec = load_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    for trace in [int(t) for t in a.trace.split(",")]:
        for w in workloads:
            for seed in seeds_of(a.seeds):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                       "--trace", str(trace)]
                r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                rec = {"workload": w, "seed": seed, "trace": trace, "exit": r.returncode,
                       "result": json.loads(lines[-1]) if lines else None}
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(f"{w} seed={seed} trace={trace} exit={r.returncode}", file=sys.stderr)


def load(path):
    """{(workload, trace): {seed: metrics dict}} of the correct runs."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            res = rec.get("result")
            if not res or not res.get("correct"):
                print(f"{path}: {rec['workload']} seed {rec['seed']} not correct; skipped",
                      file=sys.stderr)
                continue
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            runs.setdefault((rec["workload"], rec["trace"]), {})[rec["seed"]] = vals
    return runs


def stats(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0], 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def fmt(x):
    return f"{x:.4g}"


def report(a):
    spec = load_spec()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    sides = [load(p) for p in a.files]
    keys = sorted({k for s in sides for k in s})
    for workload, trace in keys:
        if trace:
            continue
        print(f"\n== {workload}")
        for name, m in e2e.items():
            cols = []
            vals = []
            for s in sides:
                xs = [r[name] for r in s.get((workload, 0), {}).values() if name in r]
                vals.append(xs)
                if xs:
                    med, q1, q3, spread = stats(xs)
                    cols.append(f"{fmt(med)} [{fmt(q1)}..{fmt(q3)}] spread {spread:.1%} n={len(xs)}")
                else:
                    cols.append("-")
            line = f"  {name:<14} {m['unit']:<3} " + "  |  ".join(cols)
            if len(sides) == 2 and all(vals):
                line += "  " + verdict(m, sides, workload, name)
            print(line)
    if len(sides) == 2:
        for workload, trace in keys:
            if trace:
                print(f"\n== {workload} per-layer moves (traced runs)")
                layer_moves(sides, workload, layer_units)


def verdict(m, sides, workload, name):
    pa, pb = (s[(workload, 0)] for s in sides)
    xa = [r[name] for r in pa.values()]
    xb = [r[name] for r in pb.values()]
    ma, _, _, sa = stats(xa)
    mb, _, _, sb = stats(xb)
    sign = 1 if m["better"] == "lower" else -1
    worse = sign * (mb - ma) / ma
    common = sorted(set(pa) & set(pb))
    won = [sign * (pb[s][name] - pa[s][name]) < 0 for s in common]
    share = sum(won) / len(won) if won else float("nan")
    if max(sa, sb) > m["bound"]:
        v = "unresolved"
    elif worse > m["bound"]:
        v = "REGRESSION"
    elif -worse > max(sa, sb) and share >= 0.7:
        v = "improved"
    else:
        v = "same"
    return f"=> {'+' if mb >= ma else ''}{(mb - ma) / ma:.1%} won {share:.0%} {v}"


def layer_moves(sides, workload, units):
    pa, pb = (s.get((workload, 1), {}) for s in sides)
    if not pa or not pb:
        print("  (no traced runs on both sides)")
        return
    moves = []
    for name in units:
        xa = [r.get(name, 0.0) for r in pa.values()]
        xb = [r.get(name, 0.0) for r in pb.values()]
        ma, mb = statistics.median(xa), statistics.median(xb)
        if ma == mb:
            continue
        rel = (mb - ma) / abs(ma) if ma else float("inf")
        moves.append((abs(rel), name, ma, mb))
    for rel, name, ma, mb in sorted(moves, reverse=True):
        if rel < 0.05:
            break
        print(f"  {name:<32} {mb - ma:+.4g} {units[name]:<6} ({fmt(ma)} -> {fmt(mb)})")


def main():
    ap = argparse.ArgumentParser(description="collect or compare benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workloads", default="")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", default="0")
    r = sub.add_parser("report")
    r.add_argument("files", nargs="+")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
    elif len(a.files) > 2:
        ap.error("report takes one or two files")
    else:
        report(a)


if __name__ == "__main__":
    main()
