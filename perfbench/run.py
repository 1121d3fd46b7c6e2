"""graft benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload {queries,nightly} \\
        --seed N --seconds S --trace {0,1}

Builds graft from source (build.py), writes the seeded inputs (gen.py,
cached by seed under .bench_build/inputs), runs perfbench.Harness, checks
every output against references.json and prints one JSON line as the last
line of standard output: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See README.md.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# medallion_cut is not a benchmark workload: it reproduces the medallion's
# incremental-night defect (README.md) and fails on every seed
WORKLOADS = ("queries", "nightly", "medallion_cut")
SF = 0.01            # scale factor of the measured inputs
WARM_SF = 0.001      # scale factor of the warm-up inputs
RUN_TIMEOUT_S = 170  # the harness JVM is killed after this
FAILED_S = 1e9       # reported for a percentile that lands on a failed call
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB", "disk_mb": "MB"}
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def heap():
    """The Tier-1 heap: half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cut_date(orders, seed):
    """Night-1 cut: a day drawn uniformly from the o_orderdate range of
    `orders`, not steered to a year boundary."""
    span = pc.min_max(orders["o_orderdate"])
    lo, hi = (span[k].as_py().date() for k in ("min", "max"))
    rng = np.random.default_rng([seed, 7])
    return lo + datetime.timedelta(days=int(rng.integers(0, (hi - lo).days)))


def cut_doc(docs, seed):
    """Corpus night-1 cut: a `doc_id` drawn uniformly from the middle fifth
    of the `doc_id` range. Night 1's artifact version stays on disk beside
    night 2's, so the bytes a run leaves grow with the cut: a cut anywhere
    in the range spread `disk_mb` by 0.26 (quartile distance over median)
    over five seeds."""
    span = pc.min_max(docs["doc_id"])
    lo, hi = span["min"].as_py(), span["max"].as_py()
    rng = np.random.default_rng([seed, 11])
    return int(rng.integers(lo + (hi - lo) * 2 // 5, lo + (hi - lo) * 3 // 5 + 1))


def inputs(sf, seed):
    """Seeded inputs at `sf`, written once per (sf, seed) and cached.
    `night1/` holds the night-1 tables: the medallion's bronze tables with
    `orders` cut at a seeded date, and `documents` cut at a seeded id."""
    d = os.path.join(BUILD_DIR, "inputs", f"sf{sf}", f"seed{seed}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tables = gen.seeded_tables(sf, seed)
    gen.write(tables, tmp)
    orders = tables["orders"]
    cut = pa.scalar(datetime.datetime.combine(cut_date(orders, seed), datetime.time()),
                    pa.timestamp("us"))
    docs = tables["documents"]
    gen.write({"orders": orders.filter(pc.less_equal(orders["o_orderdate"], cut)),
               "customer": tables["customer"], "part": tables["part"],
               "documents": docs.filter(pc.less_equal(docs["doc_id"], cut_doc(docs, seed)))},
              os.path.join(tmp, "night1"))
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def run_harness(cp, workload, seed, seconds, trace, rundir, **extra):
    """Run the harness JVM to completion; return its result dict."""
    inp = inputs(SF, seed)
    out, tmp, local = (os.path.join(rundir, d) for d in ("out", "tmp", "local"))
    for d in (out, tmp, local):
        os.makedirs(d)
    result = os.path.join(rundir, "result.json")
    os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": len(os.sched_getaffinity(0)), "input": inp,
            "warm": inputs(WARM_SF, 0),
            "out": out, "result": result,
            "spans": os.path.join(BUILD_DIR, "traces", f"{workload}-seed{seed}.spans.jsonl"),
            **extra}
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn256m", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(rundir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(result) as f:
        return json.load(f)


def percentile(xs, q):
    """Nearest-rank percentile; a failed call is +inf."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


def check_ops(ops, refs):
    """(op name, reason) for every op that failed."""
    bad = []
    for o in ops:
        if o["error"]:
            bad.append((o["name"], o["error"]))
        elif o["ok"] is not None:
            if not o["ok"]:
                bad.append((o["name"], "invariant does not hold"))
        elif o["name"] not in refs:
            bad.append((o["name"], "no reference digest"))
        elif o["digest"] != refs[o["name"]]:
            bad.append((o["name"], f"digest {o['digest']} != reference {refs[o['name']]}"))
    return bad


def call_p50(res):
    """Median latency of the calls into graft; a failed call is +inf."""
    p50 = percentile([float(s["s"]) for p in res["passes"] for s in p["samples"]], 50)
    return p50 if p50 != float("inf") else FAILED_S


def end_to_end(res):
    return {"wall_s": statistics.median(p["wall_s"] for p in res["passes"]),
            "setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
            "disk_mb": res["disk_mb"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build.build(BUILD_DIR)
    with open(os.path.join(HERE, "references.json")) as f:
        refs = json.load(f)["nightly" if a.workload == "medallion_cut" else a.workload]
    rundir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        res = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    ops = [o for p in res["passes"] for o in p["ops"]]
    bad = check_ops(ops, refs)
    for name, why in bad:
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    if a.trace:
        layer = {**res["layer"], "calls.p50_s": call_p50(res),
                 "traced.wall_s": end_to_end(res)["wall_s"]}
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(res).items()}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "calib_before_s": res["calib_before_s"], "calib_after_s": res["calib_after_s"],
              "timeline": res["timeline"], "passes": res["passes"], "failed_ops": bad,
              "metrics": metrics}
    save_record(record)
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": metrics}))


def unit_of(metric):
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_frac"):
        return "ratio"
    return "count"


def save_record(record):
    """Keep the run's full record; a traced run also reports its tracing
    overhead against the untraced record of the same workload and seed."""
    d = os.path.join(BUILD_DIR, "records")
    os.makedirs(d, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}"
    if record["trace"]:
        try:
            with open(os.path.join(d, f"{name}-trace0.json")) as f:
                untraced = json.load(f)["metrics"]["wall_s"]["value"]
            over = record["metrics"]["traced.wall_s"]["value"] - untraced
            record["trace_overhead_s"] = over
            print(f"perfbench: tracing overhead {over:+.3f} s "
                  f"(traced wall_s minus untraced wall_s, seed {record['seed']})",
                  file=sys.stderr)
        except (OSError, KeyError, ValueError):
            pass
    with open(os.path.join(d, f"{name}-trace{record['trace']}.json"), "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
