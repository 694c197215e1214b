#!/usr/bin/env python3
"""Collect benchmark runs and compare two sets of them.

    python3 perfbench/compare.py run  --out DIR [--seeds 1-10] [--workloads a,b] [--trace]
    python3 perfbench/compare.py show DIR
    python3 perfbench/compare.py diff BASE_DIR NEW_DIR

`run` executes perfbench/run.py once per workload and seed (from the
repository root) and stores each run's standard output as
DIR/<workload>-s<seed>-t<trace>.txt. `--trace` adds one traced run per
workload on the first seed.

`show` prints, per workload and end-to-end metric, the median, the
quartiles and the spread (quartile distance as a share of the median),
and whether the spread is within the metric's bound from BENCHMARK.json.

`diff` prints the same for both sets side by side with a verdict per
workload and metric: `worse` when the new median is worse than the base
median by more than the bound, `better` when it is better by more than
the base set's own spread and the bound, `unresolved` when either set's
spread exceeds the bound, else `same`. Each workload's deltas are then
classified from the traced runs' Spark counters: `counters changed` when
the work counts (jobs, stages, tasks, per-op jobs) or the byte counters
(beyond 2%) differ, else `wall only` - a wall delta with identical
counters is host noise, not a result.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_PREFIXES = ("spark.jobs", "spark.stages", "spark.tasks")
BYTE_COUNTERS = ("spark.input_bytes", "spark.output_bytes",
                 "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                 "spark.spill_bytes")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_run(args):
    s = spec()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    seeds = seeds_of(args.seeds)
    os.makedirs(args.out, exist_ok=True)
    jobs = [(w, seed, 0) for w in names for seed in seeds]
    if args.trace:
        jobs += [(w, seeds[0], 1) for w in names]
    for w, seed, trace in jobs:
        path = os.path.join(args.out, f"{w}-s{seed}-t{trace}.txt")
        cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
               "--seed", str(seed), "--seconds", str(s["run_seconds"]), "--trace", str(trace)]
        with open(path, "w") as f:
            code = subprocess.call(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
        print(f"{w} seed={seed} trace={trace} exit={code} -> {path}", flush=True)


def load(d):
    """{(workload, trace): [result dict]} from a directory of run outputs."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(d, "*.txt"))):
        with open(path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        heads = [l for l in lines if l.startswith("# ") and " seed=" in l]
        if not lines or not lines[-1].startswith("{") or not heads:
            print(f"skip {path}: no result line", file=sys.stderr)
            continue
        head = heads[0].split()
        workload = head[1]
        trace = "trace=True" in head or "trace=1" in head
        result = json.loads(lines[-1])
        result["path"] = path
        runs.setdefault((workload, trace), []).append(result)
    return runs


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def e2e_table(runs, metrics):
    out = {}
    for (w, trace), rs in runs.items():
        if trace:
            continue
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in rs if m["name"] in r["metrics"]]
            if vals:
                out[(w, m["name"])] = (summary(vals), len(vals),
                                       sum(1 for r in rs if not r["correct"]))
    return out


def cmd_show(args):
    metrics = spec()["end_to_end"]
    bound = {m["name"]: m["bound"] for m in metrics}
    table = e2e_table(load(args.dir), metrics)
    print(f"{'workload':<14} {'metric':<22} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for (w, name), ((med, q1, q3, spread), n, bad) in sorted(table.items()):
        flag = "ok" if spread <= bound[name] else "WIDE"
        print(f"{w:<14} {name:<22} {n:>3} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} "
              f"{spread:>7.3f} {bound[name]:>6.2f} {flag}" + (f"  failed_runs={bad}" if bad else ""))


def counters(rs):
    """Median of each counter over a set's traced runs."""
    names = {k for r in rs for k in r["metrics"]
             if k.startswith(COUNT_PREFIXES) or k in BYTE_COUNTERS}
    return {k: statistics.median(r["metrics"][k]["value"] for r in rs if k in r["metrics"])
            for k in names}


def classify(base, new):
    changed = []
    for k in sorted(set(base) | set(new)):
        a, b = base.get(k, 0.0), new.get(k, 0.0)
        if k in BYTE_COUNTERS:
            if abs(b - a) > 0.02 * max(abs(a), 1.0):
                changed.append(f"{k} {a:.0f}->{b:.0f}")
        elif a != b:
            changed.append(f"{k} {a:g}->{b:g}")
    return changed


def cmd_diff(args):
    metrics = spec()["end_to_end"]
    meta = {m["name"]: m for m in metrics}
    base_runs, new_runs = load(args.base), load(args.new)
    base, new = e2e_table(base_runs, metrics), e2e_table(new_runs, metrics)
    print(f"{'workload':<14} {'metric':<22} {'base median [q1,q3]':>34} "
          f"{'new median [q1,q3]':>34} {'delta':>8} verdict")
    for key in sorted(set(base) & set(new)):
        w, name = key
        (bm, bq1, bq3, bs), _, _ = base[key]
        (nm, nq1, nq3, ns), _, _ = new[key]
        m = meta[name]
        sign = 1 if m["better"] == "lower" else -1
        worse_by = sign * (nm - bm) / bm if bm else 0.0
        if bs > m["bound"] or ns > m["bound"]:
            verdict = "unresolved"
        elif worse_by > m["bound"]:
            verdict = "worse"
        elif -worse_by > max(bs, m["bound"]):
            verdict = "better"
        else:
            verdict = "same"
        print(f"{w:<14} {name:<22} {bm:>12.4f} [{bq1:>9.4f},{bq3:>9.4f}] "
              f"{nm:>12.4f} [{nq1:>9.4f},{nq3:>9.4f}] {nm / bm - 1 if bm else 0:>+8.3f} {verdict}")
    for w in sorted({k[0] for k in base_runs} & {k[0] for k in new_runs}):
        bt, nt = base_runs.get((w, True)), new_runs.get((w, True))
        if not bt or not nt:
            print(f"{w}: no traced runs in both sets, deltas not classified")
            continue
        changed = classify(counters(bt), counters(nt))
        label = "counters changed" if changed else "wall only"
        print(f"{w}: {label}" + ("".join(f"\n  {c}" for c in changed)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads")
    r.add_argument("--trace", action="store_true")
    r.set_defaults(fn=cmd_run)
    s = sub.add_parser("show")
    s.add_argument("dir")
    s.set_defaults(fn=cmd_show)
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    d.set_defaults(fn=cmd_diff)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
