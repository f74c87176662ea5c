#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    # ten runs of one workload, one JSON result per line
    python3 perfbench/compare.py collect --workload tail_mix --seeds 1-10 --out a.jsonl
    # spread of each metric within one set
    python3 perfbench/compare.py spread a.jsonl
    # base set vs candidate set, with an optional retry of the candidate
    python3 perfbench/compare.py diff a.jsonl b.jsonl [--retry c.jsonl]
    # cost of tracing: an untraced set vs a traced set of the same code
    python3 perfbench/compare.py overhead a.jsonl a_traced.jsonl

`diff` reports, per metric, each set's median and quartiles and a verdict
under the bound BENCHMARK.json fixes for it:

- `regression`: the candidate's median is worse than the base's by more
  than the bound, and so is the retry's when one is given (a regression
  counts only if it reproduces);
- `unresolved`: the median moved by more than the bound but a set's own
  spread (quartile distance over median) is wider than the bound, so the
  move cannot be told from noise, or the retry did not reproduce it;
- `better` / `same`: otherwise.

Exit status is 1 when any metric is a regression or a run was incorrect.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}, spec


def load(path):
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    if not runs:
        sys.exit(f"{path}: no runs")
    return runs


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def series(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def worse_by(base, cand, better):
    """Share of `base` by which `cand` is worse (negative when better)."""
    return (cand - base) / base if better == "lower" else (base - cand) / base


def cmd_collect(a):
    lo, _, hi = a.seeds.partition("-")
    _, spec = bounds()
    with open(a.out, "a") as out:
        for seed in range(int(lo), int(hi or lo) + 1):
            p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                                "--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(a.seconds or spec["run_seconds"]),
                                "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line.startswith("{"):
                sys.exit(f"seed {seed}: run failed (exit {p.returncode})")
            out.write(line + "\n")
            out.flush()
            print(f"seed {seed}: {line}", file=sys.stderr)


def cmd_spread(a):
    runs = load(a.runs)
    e2e, _ = bounds()
    print(f"{len(runs)} runs, {sum(not r['correct'] for r in runs)} incorrect")
    for name in runs[0]["metrics"]:
        s = stats(series(runs, name))
        bound = e2e.get(name, {}).get("bound")
        flag = "" if bound is None else ("  within a third of bound" if s["spread"] < bound / 3
                                         else "  within bound" if s["spread"] <= bound else "  WIDER THAN BOUND")
        print(f"{name:26s} median {s['median']:.6g}  q1 {s['q1']:.6g}  q3 {s['q3']:.6g}  "
              f"spread {s['spread']:.3f}" + (f" (bound {bound})" if bound is not None else "") + flag)


def cmd_diff(a):
    base, cand = load(a.base), load(a.cand)
    retry = load(a.retry) if a.retry else None
    e2e, _ = bounds()
    bad = any(not r["correct"] for r in cand + (retry or []))
    if bad:
        print("candidate has incorrect runs")
    print(f"{'metric':20s} {'base median [q1, q3]':34s} {'cand median [q1, q3]':34s} {'worse by':>9s}  verdict")
    for name, m in e2e.items():
        b, c = stats(series(base, name)), stats(series(cand, name))
        w = worse_by(b["median"], c["median"], m["better"])
        noisy = max(b["spread"], c["spread"]) > m["bound"]
        if w > m["bound"]:
            repro = retry is None or worse_by(b["median"], stats(series(retry, name))["median"],
                                              m["better"]) > m["bound"]
            cvals, bvals = series(cand, name), series(base, name)
            separated = (min(cvals) > max(bvals)) if m["better"] == "lower" else (max(cvals) < min(bvals))
            verdict = "regression" if repro and (not noisy or separated) else "unresolved"
        elif w < -m["bound"]:
            verdict = "better"
        else:
            verdict = "same"
        bad |= verdict == "regression"
        print(f"{name:20s} {b['median']:10.5g} [{b['q1']:.5g}, {b['q3']:.5g}]".ljust(56)
              + f"{c['median']:10.5g} [{c['q1']:.5g}, {c['q3']:.5g}]".ljust(35)
              + f"{w:+9.3f}  {verdict}")
    sys.exit(1 if bad else 0)


def cmd_overhead(a):
    plain, traced = load(a.untraced), load(a.traced)
    u = statistics.median(series(plain, "op_p50_s"))
    t = statistics.median(series(traced, "trace.op_p50_s"))
    print(f"op_p50_s untraced {u:.6g} s, traced {t:.6g} s: tracing adds {100 * (t - u) / u:+.1f}%")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="N or N-M")
    c.add_argument("--out", required=True)
    c.add_argument("--seconds", type=float)
    c.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("cand")
    d.add_argument("--retry")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    a = ap.parse_args()
    {"collect": cmd_collect, "spread": cmd_spread, "diff": cmd_diff, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
