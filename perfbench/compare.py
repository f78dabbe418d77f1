#!/usr/bin/env python3
"""Run sets of the benchmark and compare them.

    python3 perfbench/compare.py sweep <out.jsonl> <workload,...> <seeds> [trace]
        Run perfbench/run.py once per (workload, seed) — seeds as `1-10`
        or `1,5,9` — and append one record per run to out.jsonl.
    python3 perfbench/compare.py spread <runs.jsonl>
        Per workload and metric: median, quartiles and the spread
        (quartile distance over the median) against the metric's bound.
    python3 perfbench/compare.py overhead <untraced.jsonl> <traced.jsonl>
        Per workload: the median of every figure in the runs' summary
        lines, untraced and traced, and the traced excess.
    python3 perfbench/compare.py diff <base.jsonl> <new.jsonl>
        One row per workload and metric: both sides' median and quartiles,
        the share of seed-paired runs the new side wins (ties count for
        neither), and a verdict: `regressed` when the new median is worse
        than the base median by more than the bound, `unresolved` when
        either side's spread exceeds the bound (unless every new run beats
        every base run), else `ok`.

Run from the repository root. Bounds and directions come from
BENCHMARK.json; per-layer metrics have no bound and get no verdict.
"""
import json
import statistics
import subprocess
import sys
import time


def spec():
    with open("BENCHMARK.json") as fh:
        s = json.load(fh)
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}, s


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def seeds(arg):
    if "-" in arg:
        lo, hi = arg.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in arg.split(",")]


def sweep(out, workloads, seed_arg, trace="0"):
    _, s = spec()
    for w in workloads.split(","):
        for seed in seeds(seed_arg):
            t0 = time.time()
            r = subprocess.run(
                ["python3", "perfbench/run.py", "--workload", w, "--seed",
                 str(seed), "--seconds", str(s["run_seconds"]),
                 "--trace", trace], stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "trace": int(trace),
                   "rc": r.returncode, "wall_s": time.time() - t0,
                   "figures": figures(lines[-2] if len(lines) > 1 else ""),
                   "result": json.loads(lines[-1]) if lines else None}
            with open(out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"{w} seed={seed} rc={r.returncode} "
                  f"wall={rec['wall_s']:.1f}s", flush=True)


def figures(line):
    """`name=value unit` pairs of a run's summary line."""
    out = {}
    for part in line.split(": ", 1)[-1].split(", "):
        if "=" in part:
            k, v = part.split("=", 1)
            out[k] = float(v.split()[0])
    return out


def overhead(untraced_path, traced_path):
    plain = by_workload(load(untraced_path))
    traced = by_workload(load(traced_path))
    for w in sorted(set(plain) & set(traced)):
        print(f"\n{w}: {len(plain[w])} untraced, {len(traced[w])} traced")
        for k in sorted(plain[w][0]["figures"]):
            a = statistics.median(r["figures"][k] for r in plain[w])
            b = statistics.median(r["figures"][k] for r in traced[w]
                                  if k in r["figures"])
            rel = (b - a) / a if a else float("nan")
            print(f"  {k:40s} untraced {a:12.6g}  traced {b:12.6g}  "
                  f"excess {rel:+7.1%}")


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def by_workload(runs):
    out = {}
    for r in runs:
        if r["result"] is not None:
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if metric in r["result"]["metrics"]]


def spread_report(path):
    metrics, _ = spec()
    for w, runs in sorted(by_workload(load(path)).items()):
        ok = sum(1 for r in runs if r["result"]["correct"])
        print(f"\n{w}: {len(runs)} runs, {ok} correct, wall "
              f"{statistics.median([r['wall_s'] for r in runs]):.1f}s median")
        names = sorted(runs[0]["result"]["metrics"])
        for m in names:
            v = values(runs, m)
            q1, q2, q3 = quartiles(v)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            bound = metrics.get(m, {}).get("bound")
            flag = "" if bound is None else (
                "  OK" if spread <= bound / 3 else
                "  within bound" if spread <= bound else "  OVER BOUND")
            print(f"  {m:40s} median {q2:12.6g}  q1 {q1:12.6g}  "
                  f"q3 {q3:12.6g}  spread {spread:7.2%}"
                  + ("" if bound is None else f"  bound {bound:.0%}") + flag)


def diff(base_path, new_path):
    metrics, _ = spec()
    base, new = by_workload(load(base_path)), by_workload(load(new_path))
    for w in sorted(set(base) & set(new)):
        print(f"\n{w}: base {len(base[w])} runs, new {len(new[w])} runs")
        for m in sorted(base[w][0]["result"]["metrics"]):
            b, n = values(base[w], m), values(new[w], m)
            if not b or not n:
                continue
            lower = metrics.get(m, {}).get("better", "lower") == "lower"
            bq, nq = quartiles(b), quartiles(n)
            paired = {r["seed"]: r["result"]["metrics"][m]["value"]
                      for r in base[w]}
            pairs = [(paired[r["seed"]], r["result"]["metrics"][m]["value"])
                     for r in new[w] if r["seed"] in paired]
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            won = wins / len(pairs) if pairs else float("nan")
            bound = metrics.get(m, {}).get("bound")
            verdict = ""
            if bound is not None:
                worse = (nq[1] - bq[1]) / bq[1] * (1 if lower else -1)
                spread = max((q[2] - q[0]) / q[1] for q in (bq, nq))
                all_better = (max(n) < min(b)) if lower else (min(n) > max(b))
                if worse > bound:
                    verdict = "regressed"
                elif spread > bound and not all_better:
                    verdict = "unresolved"
                else:
                    verdict = "ok"
            print(f"  {m:40s} base {bq[1]:10.5g} [{bq[0]:.5g}, {bq[2]:.5g}]"
                  f"  new {nq[1]:10.5g} [{nq[0]:.5g}, {nq[2]:.5g}]"
                  f"  won {won:5.0%} of {len(pairs)}  {verdict}")


def main(argv):
    if len(argv) >= 4 and argv[0] == "sweep":
        sweep(*argv[1:5])
    elif len(argv) == 2 and argv[0] == "spread":
        spread_report(argv[1])
    elif len(argv) == 3 and argv[0] == "overhead":
        overhead(argv[1], argv[2])
    elif len(argv) == 3 and argv[0] == "diff":
        diff(argv[1], argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
