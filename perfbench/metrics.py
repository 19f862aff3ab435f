"""Turns the harness's raw records into the benchmark's metrics.

Pure functions only (no I/O), so they are unit-tested on their own
(`python3 -m unittest discover -s perfbench -p 'test_*.py'`).
"""
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# the workloads BENCHMARK.json declares; the others are run by hand
GATED = ["etl_daily", "search"]
END_TO_END = [("setup_s", "s"), ("op_s.p50", "s")]

# the spans of each workload's decomposed pass
SPANS = {
    "etl_backfill": ["sources.fetch", "etl.clean", "etl.enrich", "etl.stage_csv",
                     "sinks.append", "sinks.verify"],
    "curate": ["ops.exact_dedup", "ops.near_dedup", "ops.decontaminate", "ops.quality",
               "ops.split_pack", "ops.bpe_encode", "sinks.shard_write", "sinks.shard_verify"],
    "search": ["ops.ivf_assign", "ops.knn_exact", "ops.knn_ivf", "ops.bm25"],
}
SPANS["etl_daily"] = SPANS["etl_backfill"]
SPAN_COUNTERS = [("wall_s", "s"), ("jobs", "count"), ("task_s", "s"), ("driver_s", "s"),
                 ("shuffle_write_mb", "MB")]
TOTALS = [("total.jobs", "count"), ("total.tasks", "count"), ("total.failed_tasks", "count"),
          ("total.spill_mb", "MB"), ("total.gc_s", "s"), ("total.input_mb", "MB"),
          ("total.output_mb", "MB"), ("total.storage_peak_mb", "MB"),
          ("total.slot_util", "ratio"), ("total.driver_s", "s"), ("jvm.peak_rss_mb", "MB")]
# ratios, with the workloads they apply to (None: every workload)
RATIOS = [("pipeline.composed_over_parts", "ratio", None),
          ("trace.overhead_ratio", "ratio", None),
          ("sinks.bytes_written_per_row", "B", {"etl_backfill", "etl_daily", "curate"}),
          ("sinks.warehouse_bytes_per_row", "B", {"etl_backfill", "etl_daily"}),
          ("curate.keep_ratio", "ratio", {"curate"}),
          ("functions.cosine_rows_per_s", "1/s", {"search"}),
          ("ops.ivf_probe_fraction", "ratio", {"search"}),
          ("ops.knn_ivf_recall_at_10", "ratio", {"search"})]
MB = 1024.0 * 1024.0


def check_name(name):
    """True when `name` is a valid metric name: a letter or digit, then at
    most 63 of letters, digits, `_`, `.` and `-`."""
    return bool(NAME.match(name))


def per_layer_names(workloads):
    """(name, unit) of every per-layer metric of the given workloads."""
    spans = []
    for w in workloads:
        spans += [s for s in SPANS[w] if s not in spans]
    names = [(f"{s}.{c}", u) for s in spans for c, u in SPAN_COUNTERS] + TOTALS
    return names + [(n, u) for n, u, ws in RATIOS if ws is None or ws & set(workloads)]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    k-th smallest has n - k samples beyond it, so the tail is the
    (n - 10)-th smallest, at percentile 100 (n - 10) / n. Below 20 samples
    that percentile falls under the median and is no tail at all; such
    runs report their maximum (percentile 100), which has no samples
    beyond it and is noisier.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals):
    """Total length covered by half-open intervals [start, end)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_time(start, end, jobs):
    """Time in [start, end) during which no Spark job was running: the span
    minus the union of its job intervals clipped to the span."""
    clipped = [(max(s, start), min(e, end)) for s, e in jobs]
    return (end - start) - union_length(clipped)


def end_to_end(run):
    """setup_s and op_s.p50 of an untraced run, and its tail as
    (value, percentile, samples) for the report line."""
    walls = [o["wall_s"] for o in run["ops"] if not o.get("failed")]
    return {
        "setup_s": run["session_s"] + median(run["prepare_s"]) + run["warmup_s"],
        "op_s.p50": median(walls),
    }, tail(walls)


def span_table(trace):
    """Per (op, span): wall, jobs, task seconds, driver seconds, shuffle
    write, and the op's task totals."""
    jobs_by = {}
    for j in trace["jobs"]:
        if "end_ms" in j:
            jobs_by.setdefault((j["op"], j["span"]), []).append((j["start_ms"], j["end_ms"]))
    tasks_by = {(t["op"], t["span"]): t for t in trace["tasks"]}
    table = {}
    for sp in trace["spans"]:
        key = (sp["op"], sp["span"])
        row = table.setdefault(key, {"wall_s": 0.0, "driver_s": 0.0})
        row["wall_s"] += sp["wall_s"]
        row["driver_s"] += driver_time(sp["start_ms"], sp["end_ms"],
                                       jobs_by.get(key, [])) / 1000.0
    for key, row in table.items():
        t = tasks_by.get(key, {})
        row["jobs"] = len(jobs_by.get(key, []))
        row["task_s"] = t.get("run_ms", 0) / 1000.0
        row["shuffle_write_mb"] = t.get("shuffle_write_bytes", 0) / MB
    return table, jobs_by, tasks_by


def per_layer(workload, run, nproc, extra_ratios, names):
    """The per-layer metrics `names` of a traced run; spans and ratios that
    do not apply to the workload read 0."""
    trace = run["trace"]
    ok_ops = [o for o in run["ops"] if not o.get("failed")]
    dec = [o["i"] for o in ok_ops if o["mode"] == "decomposed"]
    table, jobs_by, tasks_by = span_table(trace)
    out = {name: 0.0 for name in names}

    for s in SPANS[workload]:
        for c, _ in SPAN_COUNTERS:
            out[f"{s}.{c}"] = median([table.get((i, s), {}).get(c, 0.0) for i in dec])

    def op_sum(i, field):
        return sum(t.get(field, 0) for (op, _), t in tasks_by.items() if op == i)

    walls = {i: sum(r["wall_s"] for (op, _), r in table.items() if op == i) for i in dec}
    task_s = {i: op_sum(i, "run_ms") / 1000.0 for i in dec}
    out["total.jobs"] = median([sum(len(v) for (op, _), v in jobs_by.items() if op == i)
                                for i in dec])
    out["total.tasks"] = median([op_sum(i, "tasks") for i in dec])
    out["total.failed_tasks"] = median([op_sum(i, "failed") for i in dec])
    out["total.spill_mb"] = median([op_sum(i, "spill_bytes") / MB for i in dec])
    out["total.gc_s"] = median([op_sum(i, "gc_ms") / 1000.0 for i in dec])
    out["total.input_mb"] = median([op_sum(i, "input_bytes") / MB for i in dec])
    out["total.output_mb"] = median([op_sum(i, "output_bytes") / MB for i in dec])
    out["total.storage_peak_mb"] = trace["storage_peak_bytes"] / MB
    out["total.slot_util"] = median([task_s[i] / (walls[i] * nproc) for i in dec if walls[i]])
    out["total.driver_s"] = median([sum(r["driver_s"] for (op, _), r in table.items() if op == i)
                                    for i in dec])
    out["jvm.peak_rss_mb"] = run["peak_rss_bytes"] / MB

    by_op = {o["i"]: o for o in ok_ops}
    sink, rows = {"etl_backfill": ("sinks.append", "items"),
                  "etl_daily": ("sinks.append", "items"),
                  "curate": ("sinks.shard_write", "shard_rows")}.get(workload, (None, None))
    if sink:
        out["sinks.bytes_written_per_row"] = median(
            [tasks_by.get((i, sink), {}).get("output_bytes", 0) / by_op[i][rows]
             for i in dec if by_op[i][rows]])
    if workload == "search":
        out["functions.cosine_rows_per_s"] = median(
            [by_op[i]["vectors"] / table[(i, "ops.knn_exact")]["task_s"]
             for i in dec if table.get((i, "ops.knn_exact"), {}).get("task_s")])

    composed = [o["wall_s"] for o in ok_ops if o["mode"] == "traced"]
    untraced = [o["wall_s"] for o in ok_ops if o["mode"] == "untraced"]
    out["pipeline.composed_over_parts"] = median(composed) / median(list(walls.values()))
    out["trace.overhead_ratio"] = median(composed) / median(untraced)
    out.update(extra_ratios)
    return {n: out[n] for n in names}
