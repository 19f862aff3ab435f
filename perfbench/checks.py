"""Output checks that recompute the engine's results outside Spark.

Each check returns (name, ok, detail). ETL results are recomputed with
DuckDB from the generated bars; exact search results with a numpy brute
force over the generated embeddings.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _bars_sql(data_dir, valid):
    names = ",".join("'" + s + "'" for s in valid)
    bars = os.path.join(data_dir, "bars.parquet")
    return f"(SELECT * FROM read_parquet('{bars}') WHERE Symbol IN ({names}))"


def _expected_load(con, bars, start, end):
    """Rows and Close_Change checksum of one load window: the lag restarts
    at the window's first day, as in a pipeline run over that window."""
    return con.execute(f"""
        WITH w AS (SELECT Symbol, Date, Close FROM {bars}
                   WHERE Date BETWEEN DATE '{start}' AND DATE '{end}'),
             c AS (SELECT coalesce(Close - lag(Close) OVER (PARTITION BY Symbol ORDER BY Date),
                                   0) AS change FROM w)
        SELECT count(*), coalesce(sum(CAST(round(change * 10000) AS BIGINT)), 0)
        FROM c""").fetchone()


def etl(data_dir, extra):
    with open(os.path.join(data_dir, "meta.json")) as fh:
        valid = json.load(fh)["valid"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bars = _bars_sql(data_dir, valid)
    results = []
    wh = extra["warehouse"]
    rows, checksum, bad = 0, 0, []
    kept = [l for l in extra["loads"] if l["warehouse"] == wh]
    for load in extra["loads"]:
        n, cs = _expected_load(con, bars, load["start"], load["end"])
        if n != load["loaded"]:
            bad.append(f"op {load['op']}: loaded {load['loaded']}, expected {n}")
        if load in kept:
            rows, checksum = rows + n, checksum + cs
    results.append(("etl.loaded_rows_per_run", not bad, "; ".join(bad) or
                    f"{len(extra['loads'])} runs"))

    expected = {"total_rows": rows, "unique_symbols": len(valid),
                "earliest_date": min(l["start"] for l in kept),
                "latest_date": max(l["end"] for l in kept)}
    results.append(("etl.verify_aggregate", extra["verify"] == expected,
                    f"engine {extra['verify']} duckdb {expected}"))
    got = con.execute(f"""
        SELECT count(*), count(DISTINCT Symbol), CAST(min(Date) AS VARCHAR),
               CAST(max(Date) AS VARCHAR),
               sum(CAST(round(Close_Change * 10000) AS BIGINT))
        FROM read_parquet('{wh}/**/*.parquet', hive_partitioning = true)""").fetchone()
    on_disk = (rows, len(valid), expected["earliest_date"], expected["latest_date"], checksum)
    results.append(("etl.warehouse_matches_duckdb", tuple(got) == on_disk,
                    f"warehouse {tuple(got)} duckdb {on_disk}"))
    results.append(("etl.close_change_checksum", extra["close_change_checksum"] == checksum,
                    f"engine {extra['close_change_checksum']} duckdb {checksum}"))
    con.close()
    return results


def search(data_dir, extra):
    """Exact top-10 against a brute force, and IVF recall against exact."""
    table = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = table.column("vec_id").to_numpy()
    vecs = table.column("embedding").combine_chunks().flatten().to_numpy()
    vecs = vecs.reshape(len(ids), -1).astype(np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    by_kind = {(r["kind"], r["query"]): r["rows"] for r in extra["results"]}
    bad, recalls = [], []
    for q, query in enumerate(extra["queries"]):
        if ("exact", q) not in by_kind:
            continue
        qv = np.asarray(query, dtype=np.float32).astype(np.float64)
        cos = vecs @ qv / (norms * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))[:10]
        want = [int(i) for i in ids[order]]
        got = [int(r.split(":")[0]) for r in by_kind[("exact", q)]]
        if got != want:
            # float32 kernels may reorder near-ties; differing ids must tie
            pos = {int(i): k for k, i in enumerate(ids)}
            edge = cos[order[-1]]
            if any(abs(cos[pos[i]] - edge) > 1e-5 for i in set(got) ^ set(want)) or \
                    len(got) != len(want):
                bad.append(f"query {q}: engine {got} brute force {want}")
        if ("ivf", q) in by_kind:
            hits = {int(r.split(":")[0]) for r in by_kind[("ivf", q)]}
            recalls.append(len(hits & set(got)) / 10.0)
    results = [("search.exact_matches_brute_force", not bad and bool(recalls),
                "; ".join(bad) or f"{len(recalls)} queries")]
    return results, (sum(recalls) / len(recalls) if recalls else 0.0)
