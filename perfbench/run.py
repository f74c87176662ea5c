#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail_mix --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the program
and the driver with sbt and generates the query tables; later runs reuse
both from the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`). Each run starts one JVM (`local[N]`, N = CPU count),
times the workload in a closed loop with one client thread, checks every
output, and prints one JSON object as the last line of standard output.
A human-readable summary goes to standard error. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import fraud
import oracle
import tables

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DRIVER = os.path.join(BENCH, "driver")

# Per workload: the mode and inputs perfbench.Driver runs; `pass_s`, the typical length of one
# pass over the queries (mix) or one campaign of days (fraud) on 4 cores,
# which turns --seconds into a fixed number of passes; and the percentile
# where the tail starts, the highest with at least ten samples beyond it in
# a run (a fraud run has fewer than twenty days, so its tail is the slowest
# quarter). The tail is reported as the mean of the samples beyond it: a
# single order statistic there falls between two queries' clusters of
# times and jumps from run to run.
WORKLOADS = {
    "tail_mix": dict(mode="mix", queries="tail_mix.txt", pass_s=4, tail_pct=80),
    "fraud_daily": dict(mode="fraud", days=8, txns_per_day=60_000, pass_s=20, tail_pct=75),
}
MIX_SF, MIX_TABLE_SEED = 0.1, 42
RUN_LIMIT_S = 170   # a run never outlives this, whatever happens inside
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """Hash of the names and contents of the given files and directory trees."""
    h = hashlib.sha1()
    for top in paths:
        walk = sorted(os.walk(top)) if os.path.isdir(top) else [("", [], [top])]
        for d, _, files in walk:
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(out):
    """Compiles graft and the driver once per source state; returns the
    driver's runtime classpath."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
               os.path.join(DRIVER, "src"), os.path.join(DRIVER, "build.sbt")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        sys.exit(f"perfbench: graft sources not found ({', '.join(missing)}); "
                 "run from the root of a graft checkout")
    stamp = tree_hash(sources)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building graft and the benchmark driver with sbt")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=DRIVER, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def mix_tables(out):
    """The query tables, generated once per generator version."""
    stamp = hashlib.sha1(open(tables.__file__, "rb").read()).hexdigest() + f"{MIX_SF}/{MIX_TABLE_SEED}"
    d = os.path.join(out, "tables")
    stamp_file = os.path.join(d, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        tables.generate(d, MIX_SF, MIX_TABLE_SEED)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return d


def read_queries(name):
    with open(os.path.join(BENCH, "queries", name)) as f:
        return [l.split("#")[0].strip() for l in f if l.split("#")[0].strip()]


def jvm(cp, work, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [a for m in JVM_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Driver"] + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("driver JVM ran out of time")
    report = os.path.join(work, "report.json")
    if p.returncode != 0 or not os.path.exists(report):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        raise RuntimeError(f"driver JVM exited with {p.returncode}:\n{tail}")
    with open(report) as f:
        r = json.load(f)
    os.remove(report)
    return r


def tail_samples(xs, pct):
    """The samples beyond the pct-th percentile: the slowest
    ceil(len * (100 - pct) / 100), at least one."""
    return sorted(xs)[-max(1, -(-len(xs) * (100 - pct) // 100)):]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def children(report):
    """Child spans by (op id, kind)."""
    kids = {}
    for s in report["spans"]:
        if s["parent"]:
            kids.setdefault((s["op"], s["kind"]), []).append(s)
    return kids


def layer_metrics(report, kids):
    """Per-layer metrics: means per operation over the traced spans."""
    tops = [s for s in report["spans"] if s["parent"] == 0]

    def phase(kind, field="seconds"):
        return mean([sum(k[field] for k in kids.get((t["op"], kind), [])) for t in tops])

    m = {"entry.construct_s": phase("construct"), "entry.construct_jobs": phase("construct", "jobs"),
         "plans.plan_s": phase("plan"), "exec.run_s": phase("exec"),
         "cache.pinned_bytes": mean([t["pinned_bytes"] for t in tops]),
         "cache.stored_bytes": mean(report["stored_bytes"])}
    for f in ("driver_only_s", "jobs", "stages", "tasks", "broadcast_jobs", "task_run_s",
              "task_cpu_s", "task_gc_s", "task_wait_s", "failed_tasks", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{f}"] = mean([t[f] for t in tops])
    return m


def fraud_layers(report, kids, day_rows):
    """fraud_daily's own layers, reported in the summary."""
    ops = report["ops"]

    def per_day(*kinds):
        return [sum(k["seconds"] for kind in kinds for k in kids.get((o["id"], kind), [])) for o in ops]
    pub, daily = per_day("publish"), per_day("run_daily")
    out = {"sources.publish_s": statistics.median(pub),
           "etl.run_daily_s": statistics.median(d - p for d, p in zip(daily, pub)),
           "mart_read_p50_s": statistics.median(per_day("construct", "plan", "exec")),
           "txn_rows_per_s": sum(day_rows[int(o["name"][4:])] for o in ops)
           / sum(o["seconds"] for o in ops)}
    if report["states"]:
        last = max(report["states"], key=lambda s: s["day"])
        out.update({"sources.mart_files": last["mart_files"], "sources.mart_bytes": last["mart_bytes"],
                    "etl.history_rows": last["history_rows"], "fraud.mart_rows": last["mart_rows"]})
    return out


def run(args):
    spec = WORKLOADS[args.workload]
    out = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench")
    deadline = time.time() + RUN_LIMIT_S
    cp = build(out)
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)  # a fresh build gets its own budget
    work = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jargs = dict(mode=spec["mode"], work=work, cpus=os.cpu_count() or 1, seed=args.seed,
                 trace=args.trace,
                 passes=max(1, round(args.seconds / spec["pass_s"])))
    if spec["mode"] == "mix":
        data = mix_tables(out)
        queries = read_queries(spec["queries"])
        jargs.update(data=data, queries=",".join(queries))
    else:
        drops = os.path.join(work, "drops")
        day_rows = fraud.generate(drops, args.seed, spec["days"], spec["txns_per_day"])
        jargs.update(drops=drops)
    try:
        t0 = time.time()
        report = jvm(cp, work, jargs, deadline)
        t1 = time.time()
        check_dir = os.path.join(work, "check")
        if spec["mode"] == "mix":
            wrong = oracle.check(data, check_dir, os.path.join(out, "oracle-cache"), queries)
        else:
            wrong = fraud.check_run(drops, check_dir, spec["days"])
        log(f"driver JVM {t1 - t0:.1f} s, output check {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in sorted(wrong.items()):
        log(f"WRONG {k}: {v}")

    ops = report["ops"]
    for o in ops:
        if o["error"]:
            log(f"FAILED {o['name']}: {o['error']}")
    failed = [o for o in ops if o["error"] or o["name"] in wrong]
    by_name = {}
    for o in ops:
        if o not in failed:
            by_name.setdefault(o["name"], []).append(o["seconds"])
    times = [t for xs in by_name.values() for t in xs] or [float("nan")]
    tail = tail_samples(times, spec["tail_pct"])
    failed_ratio = len(failed) / len(ops)
    metrics = {
        "setup_s": statistics.median(report["setup_s"]),
        # each operation's median over the passes, then the median operation
        "op_p50_s": statistics.median([statistics.median(xs) for xs in by_name.values()] or times),
        "op_tail_s": statistics.mean(tail),
        "ops_per_s": (len(ops) - len(failed)) / report["window_s"],
        "retained_heap_mb": report["retained_heap_mb"],
        "ok_ratio": 1.0 - failed_ratio,
    }
    log(f"{args.workload} seed={args.seed}: {len(ops)} ops in {report['window_s']:.1f} s, "
        f"tail = mean of the {len(tail)} of {len(times)} samples beyond p{spec['tail_pct']}, "
        f"failed_ratio={failed_ratio:.4f}, "
        f"setups={[round(x, 3) for x in report['setup_s']]}")
    kids = children(report)
    if args.trace:
        metrics = dict(layer_metrics(report, kids), **{"trace.op_p50_s": metrics["op_p50_s"]})
    extra = fraud_layers(report, kids, day_rows) if spec["mode"] == "fraud" else {}
    for n, xs in sorted(by_name.items(), key=lambda kv: -statistics.median(kv[1])):
        log(f"  op {n:26s} median {statistics.median(xs):.3f} s over {len(xs)}")
    for k, v in list(metrics.items()) + list(extra.items()):
        log(f"  {k:28s} {v:.6g}")
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
