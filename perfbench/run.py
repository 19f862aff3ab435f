"""One benchmark run: build, make the seeded inputs, run one workload in one
JVM, check its outputs, print the metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170
# each workload's input sizes and warm-up; see perfbench/README.md
WORKLOADS = {
    "etl_backfill": dict(symbols=500, days=250, history_days=250, warmup_days=40),
    "etl_daily": dict(symbols=500, days=220, history_days=5, warmup_ops=4),
    "curate": dict(docs=10000, exact_every=50, eval_every=500, merge_docs=500, merges=32,
                   warmup_docs=1000),
    "search": dict(docs=10000, vectors=100000, queries=8, warmup_ops=4),
}
DATA_KEYS = {"symbols", "days", "docs", "exact_every", "eval_every", "merge_docs", "merges",
             "vectors", "queries"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def data_dir(workload, seed, params):
    key = json.dumps({k: v for k, v in sorted(params.items()) if k in DATA_KEYS})
    tag = hashlib.sha256(key.encode()).hexdigest()[:10]
    return os.path.join(build.BUILD, "data", f"{workload}-{seed}-{tag}")


def harness(classes, work, flags, params, log, budget_s):
    """Run the harness JVM; its exit code, or None when it outlived the budget."""
    # no hsperfdata file: a run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Harness", "--nproc", str(nproc()), "--work", work]
    for k, v in flags.items():
        cmd += [f"--{k}", str(v)]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    with open(log, "a") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    # a terminated run still stops its JVM (the `finally` in `harness`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.ensure()
    started = time.monotonic()
    params = WORKLOADS[args.workload]
    data = data_dir(args.workload, args.seed, params)
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out, log = os.path.join(work, "harness.json"), os.path.join(build.BUILD, "last-run.log")
    open(log, "w").close()
    try:
        if not os.path.exists(os.path.join(data, "_DONE")):
            shutil.rmtree(data, ignore_errors=True)
            if args.workload.startswith("etl"):
                inputs.write_etl(data, args.seed, params["symbols"], params["days"])
            elif args.workload == "search":
                inputs.write_search(data, args.seed, params["docs"], params["vectors"],
                                    params["queries"])
            else:
                budget = DEADLINE_S - (time.monotonic() - started)
                code = harness(classes, work, {"generate": 1, "workload": args.workload,
                                               "seed": args.seed, "data": data},
                               params, log, budget)
                if code != 0:
                    sys.stderr.write(f"input generation failed (exit {code}); see {log}\n")
                    sys.exit(1)
        budget = DEADLINE_S - (time.monotonic() - started)
        flags = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "data": data, "out": out}
        code = harness(classes, work, flags, params, log, budget)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(f"harness failed (exit {code}); see {log}\n")
            sys.exit(1)
        shutil.copy(out, os.path.join(build.BUILD, "last-run.json"))
        with open(out) as fh:
            run = json.load(fh)
        if run.get("fatal"):
            sys.stderr.write("harness: " + "; ".join(run["errors"]) + "\n")
            sys.exit(1)
        results = [(c["name"], c["ok"], c["detail"]) for c in run["checks"]]
        ratios = {}  # per-layer ratios measured outside the harness
        if args.workload.startswith("etl"):
            results += checks.etl(data, run["extra"])
            extra = run["extra"]
            ratios["sinks.warehouse_bytes_per_row"] = \
                extra["warehouse_bytes"] / extra["verify"]["total_rows"]
        elif args.workload == "search":
            found, recall = checks.search(data, run["extra"])
            results += found
            ratios["ops.knn_ivf_recall_at_10"] = recall
            ratios["ops.ivf_probe_fraction"] = metrics.median(run["extra"]["candidate_fraction"])
        elif args.workload == "curate":
            counts = run["extra"]["results"][0]["counts"]
            ratios["curate.keep_ratio"] = counts[-1] / counts[0]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in results:
        if not ok:
            sys.stderr.write(f"check failed: {name}: {detail}\n")
    for e in run["errors"]:
        sys.stderr.write(f"error: {e}\n")
    failed = run["failed_ops"] + sum(1 for _, ok, _ in results if not ok)
    attempted = len(run["ops"]) + len(results)

    env = (f"{args.workload} seed={args.seed} trace={args.trace}: master=local[{run['nproc']}] "
           f"shuffle_partitions={run['nproc']} heap={HEAP} spark={run['spark_version']}; "
           f"{len(run['ops'])} ops")
    if args.trace:
        units = dict(metrics.per_layer_names(sorted(set(metrics.GATED) | {args.workload})))
        values = metrics.per_layer(args.workload, run, nproc(), ratios, list(units))
        print(env)
    else:
        values, (tail, pct, n) = metrics.end_to_end(run)
        units = dict(metrics.END_TO_END)
        print(f"{env}; op_s tail {tail:.4f} s (p{pct:.1f} of {n} samples)")
    assert all(metrics.check_name(n) for n in values)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}))


if __name__ == "__main__":
    main()
