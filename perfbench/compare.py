"""Sets of benchmark runs: make them, check their spread, compare two.

    python3 perfbench/compare.py sweep OUT.jsonl --seeds 1-10 [--workloads a,b] [--trace 0]
    python3 perfbench/compare.py spread RUNS.jsonl
    python3 perfbench/compare.py diff PARENT.jsonl CHANGE.jsonl

`sweep` runs run.py once per workload and seed and appends one line per run.
`spread` prints, per workload and end-to-end metric, the median, the
quartiles and their distance as a share of the median, against the bound.
`diff` flags every pairing of workload and end-to-end metric whose median
in CHANGE is worse than in PARENT by more than the bound, and calls a
pairing `unresolved` when either side spreads wider than the bound, unless
every CHANGE run beats every PARENT run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            runs.setdefault(r["workload"], []).append(r)
    return runs


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def sweep(args):
    spec = bench_spec()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    for seed in seeds(args.seeds):
        for w in names:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                     str(spec["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"sweep: {w} seed {seed} exited with {p.returncode}")
            r = dict(json.loads(lines[-1]), workload=w, seed=seed)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(r) + "\n")
            print(w, seed, "failed" if r["failed"] else "ok",
                  {k: round(v["value"], 4) for k, v in r["metrics"].items()}, flush=True)


def show_spread(args):
    spec = bench_spec()
    runs = load(args.runs)
    for w, rs in sorted(runs.items()):
        for m in spec["end_to_end"]:
            xs = values(rs, m["name"])
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            s = spread(xs)
            flag = "" if s <= m["bound"] / 3 else ("  > bound/3" if s <= m["bound"] else "  > BOUND")
            print(f"{w:20s} {m['name']:20s} n={len(xs):2d} median={med:.6g} "
                  f"q1={q1:.6g} q3={q3:.6g} spread={s:.3f} bound={m['bound']}{flag}")


def verdict(parent, change, better, bound):
    """'ok', 'REGRESSION' or 'unresolved' for one workload and metric."""
    sign = 1 if better == "lower" else -1
    if all(sign * c < sign * p for c in change for p in parent):
        return "ok"
    if max(spread(parent), spread(change)) > bound:
        return "unresolved"
    pm, cm = statistics.median(parent), statistics.median(change)
    worse = sign * (cm - pm) / pm
    return "REGRESSION" if worse > bound else "ok"


def diff(args):
    spec = bench_spec()
    a, b = load(args.parent), load(args.change)
    bad = 0
    for w in sorted(set(a) | set(b)):
        for m in spec["end_to_end"]:
            pa, ch = values(a.get(w, []), m["name"]), values(b.get(w, []), m["name"])
            if len(pa) < 2 or len(ch) < 2:
                print(f"{w:20s} {m['name']:20s} missing runs")
                bad += 1
                continue
            v = verdict(pa, ch, m["better"], m["bound"])
            bad += v != "ok"
            (p1, pm, p3), (c1, cm, c3) = quartiles(pa), quartiles(ch)
            print(f"{w:20s} {m['name']:20s} parent {pm:.6g} [{p1:.6g}, {p3:.6g}]  "
                  f"change {cm:.6g} [{c1:.6g}, {c3:.6g}]  {(cm - pm) / pm:+.3f}  {v}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("out")
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--workloads")
    s.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("spread")
    p.add_argument("runs")
    d = sub.add_parser("diff")
    d.add_argument("parent")
    d.add_argument("change")
    args = ap.parse_args()
    if args.cmd == "sweep":
        sweep(args)
    elif args.cmd == "spread":
        show_spread(args)
    else:
        sys.exit(diff(args))


if __name__ == "__main__":
    main()
