#!/usr/bin/env python3
"""Result sets of the benchmark: collect, summarise, compare, and check
that the deterministic counters repeat. Run from the root of a checkout.

  series       run workloads over a range of seeds, saving each result
               python3 perfbench/compare.py series --out DIR --seeds 1-10
  spread       medians, quartiles and spread of each metric of one set
               python3 perfbench/compare.py spread DIR
  compare      parent set against change set, one verdict per workload
               and end-to-end metric, plus the per-layer deltas
               python3 perfbench/compare.py compare PARENT_DIR CHANGE_DIR
  determinism  two traced runs of one seed must give identical counters
               python3 perfbench/compare.py determinism --seed 7
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def load(dir_, trace):
    """{workload: {seed: saved result}} for one trace mode."""
    out = {}
    for f in sorted(glob.glob(os.path.join(dir_, f"*-t{trace}.json"))):
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r["workload"], {})[r["seed"]] = r
    return out


def run_one(workload, seed, trace, save):
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(bench_spec()["run_seconds"]),
                        "--trace", str(trace),
                        "--save", save],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    took = time.time() - t
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    with open(os.path.join(save, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": workload, "seed": seed,
                             "trace": trace, "exit": r.returncode,
                             "run_s": took}) + "\n")
    return r.returncode, last, took, r.stderr


def cmd_series(a):
    spec = bench_spec()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    for seed in seeds_of(a.seeds):
        for w in workloads:
            code, last, took, err = run_one(w, seed, a.trace, a.out)
            print(f"{w} seed={seed} exit={code} {took:.1f}s {last}",
                  flush=True)
            if code != 0:
                sys.stderr.write(err[-2000:])


def cmd_spread(a):
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for w, runs in load(a.dir, 0).items():
        print(f"{w}: {len(runs)} runs, correct in "
              f"{sum(r['correct'] for r in runs.values())}")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs.values()]
            q1, med, q3 = quartiles(vals)
            sp = (q3 - q1) / med if med else float("inf")
            flag = "" if sp <= bound / 3 else (
                "  above bound/3" if sp <= bound else "  ABOVE BOUND")
            # the spread of set-up time is shown but not held to its bound:
            # only its median is compared between result sets
            if m == "setup_s":
                flag += "  (not gated)"
            else:
                worst = max(worst, sp / bound)
            print(f"  {m:<14} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
                  f"spread {sp:.4f} (bound {bound}){flag}")
    runs = []
    path = os.path.join(a.dir, "runs.jsonl")
    if os.path.exists(path):
        with open(path) as fh:
            runs = [json.loads(l) for l in fh if l.strip()]
    for w, t in sorted({(r["workload"], r["trace"]) for r in runs}):
        ts = [r["run_s"] for r in runs
              if r["workload"] == w and r["trace"] == t]
        print(f"  run time {w} --trace {t}: median "
              f"{statistics.median(ts):.1f}s max {max(ts):.1f}s over "
              f"{len(ts)} runs")
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")


def verdict(parent, change, better, bound):
    """Improved only when the change wins at least nine tenths of the
    seed-paired runs and the medians differ by more than the parent's
    quartile spread; worse when the change's median is worse by more than
    the bound; unresolved when the spread is wider than the bound and not
    every change run beats every parent run."""
    sign = 1.0 if better == "lower" else -1.0
    seeds = sorted(set(parent) & set(change))
    if seeds:
        pv = [parent[s] for s in seeds]
        cv = [change[s] for s in seeds]
    else:  # two sets of different seeds: pair them in seed order
        pv = [parent[s] for s in sorted(parent)]
        cv = [change[s] for s in sorted(change)]
        seeds = list(range(min(len(pv), len(cv))))
        pv, cv = pv[:len(seeds)], cv[:len(seeds)]
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    wins = sum(1 for p, c in zip(pv, cv) if sign * (p - c) > 0)
    spread = max((p3 - p1) / pm, (c3 - c1) / cm) if pm and cm else 0.0
    all_better = all(sign * (p - c) > 0 for p in pv for c in cv)
    rel = sign * (cm - pm) / pm if pm else 0.0
    if wins >= 0.9 * len(seeds) and abs(cm - pm) > (p3 - p1):
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif rel > bound:
        v = "worse"
    else:
        v = "unchanged"
    return v, (p1, pm, p3), (c1, cm, c3), rel, wins, len(seeds)


def cmd_compare(a):
    spec = bench_spec()
    parent, change = load(a.parent, 0), load(a.change, 0)
    for w in sorted(set(parent) & set(change)):
        print(f"{w}")
        for m in spec["end_to_end"]:
            p = {s: r["metrics"][m["name"]]["value"]
                 for s, r in parent[w].items()}
            c = {s: r["metrics"][m["name"]]["value"]
                 for s, r in change[w].items()}
            v, pq, cq, rel, wins, n = verdict(p, c, m["better"], m["bound"])
            print(f"  {m['name']:<14} {v:<10} parent {pq[1]:.6g} "
                  f"[{pq[0]:.6g}, {pq[2]:.6g}]  change {cq[1]:.6g} "
                  f"[{cq[0]:.6g}, {cq[2]:.6g}]  worse by {rel:+.2%}  "
                  f"change wins {wins}/{n}")
        # the printed latencies have no bound: medians and quartiles only
        gated = {m["name"] for m in spec["end_to_end"]}
        extra = sorted({k for r in parent[w].values()
                        for k in r["all_metrics"]} - gated)
        for k in extra:
            pq = quartiles([r["all_metrics"][k] for r in parent[w].values()])
            cq = quartiles([r["all_metrics"][k] for r in change[w].values()])
            print(f"  {k:<14} {'(no gate)':<10} parent {pq[1]:.6g} "
                  f"[{pq[0]:.6g}, {pq[2]:.6g}]  change {cq[1]:.6g} "
                  f"[{cq[0]:.6g}, {cq[2]:.6g}]  "
                  f"{(cq[1] - pq[1]) / pq[1]:+.2%}")
    tp, tc = load(a.parent, 1), load(a.change, 1)
    for w in sorted(set(tp) & set(tc)):
        print(f"{w} per-layer (traced runs, median over seeds)")
        keys = sorted({k for r in tp[w].values() for k in r["all_metrics"]})
        for k in keys:
            pv = [r["all_metrics"][k] for r in tp[w].values()
                  if k in r["all_metrics"]]
            cv = [r["all_metrics"][k] for r in tc[w].values()
                  if k in r["all_metrics"]]
            if not pv or not cv:
                continue
            pm, cm = statistics.median(pv), statistics.median(cv)
            d = f"{(cm - pm) / pm:+.2%}" if pm else "n/a"
            print(f"  {k:<26} {pm:.6g} -> {cm:.6g}  ({d})")


def cmd_determinism(a):
    spec = bench_spec()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    out = os.path.join(os.getcwd(), ".bench_build", "determinism")
    bad = 0
    for w in workloads:
        counters = []
        for i in range(2):
            d = os.path.join(out, f"run{i}")
            os.makedirs(d, exist_ok=True)
            code, _, _, err = run_one(w, a.seed, 1, d)
            if code != 0:
                sys.stderr.write(err[-2000:])
                sys.exit(code)
            with open(os.path.join(d, f"{w}-s{a.seed}-t1.json")) as fh:
                counters.append(json.load(fh)["all_metrics"])
        diff = [k for k in layers.DETERMINISTIC
                if counters[0].get(k) != counters[1].get(k)]
        bad += len(diff)
        shown = ", ".join(f"{k}={counters[0].get(k)}"
                          for k in layers.DETERMINISTIC)
        print(f"{w}: {'identical' if not diff else 'DIFFERENT'} ({shown})")
        for k in diff:
            print(f"  {k}: {counters[0].get(k)} vs {counters[1].get(k)}")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("series")
    s.add_argument("--out", required=True)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--workload", action="append", choices=list(gen.GENERATORS))
    s.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s.set_defaults(fn=cmd_series)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    s.set_defaults(fn=cmd_spread)
    s = sub.add_parser("compare")
    s.add_argument("parent")
    s.add_argument("change")
    s.set_defaults(fn=cmd_compare)
    s = sub.add_parser("determinism")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--workload", action="append",
                   choices=list(gen.GENERATORS))
    s.set_defaults(fn=cmd_determinism)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
