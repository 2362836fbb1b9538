"""The ``batch-heavy`` workload: one pass over eight declared queries
from ``registry.all_queries``, each forced with a noop write.

The data is the fixed sf0.01 table set in ``perfbench/data`` (the
generator's seed 42); the benchmark seed permutes the query order.
Results are checked on the warm-up pass, which collects every query:
six against their DuckDB oracle SQL and two against the result hashes
pinned in ``tests/golden_hashes.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from kinesis_handler_spark.deploy import ensure_shipped
from kinesis_handler_spark.registry import QUERIES, all_queries
from tools.check_oracle import (
    _rows_to_multiset,
    duckdb_type_violations,
    spark_type_violations,
)

from probes import median

QUERY_SET = (
    "graph_pagerank",
    "text_langid_classifier",
    "graph_triangle_count",
    "dedup_pipeline_scale",
    "agg_groupby_pricing",
    "dedup_span_exact",
    "join_nation_volume",
    "window_ewma_dyadic",
)
WARM_THREADS = 4
PASS_S = 18.0  # one timed pass on a 4-core host
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _multiset(cols, rows):
    return _rows_to_multiset(rows, [cols.index(c) for c in sorted(cols)])


def check_result(con, name: str, sdf, rows, golden: dict) -> list[str]:
    """Oracle-backed queries must equal DuckDB's answer type-strictly
    (the ``tools/check_oracle.py`` rules); the rest must match their
    pinned hash (the ``tools/make_golden.py`` record)."""
    cols = sdf.columns
    oracle = QUERIES[name].oracle
    if oracle is None:
        pin = golden.get(name)
        if pin is None:
            return [f"{name}: no oracle and no pinned hash"]
        digest = hashlib.sha256(
            ("\n".join(sorted(cols)) + "\n---\n" + "\n".join(_multiset(cols, rows))).encode()
        ).hexdigest()
        if (sorted(cols), len(rows), digest) != (pin["columns"], pin["rows"], pin["sha256"]):
            return [f"{name}: result hash {digest[:12]} ({len(rows)} rows) != pinned "
                    f"{pin['sha256'][:12]} ({pin['rows']} rows)"]
        return []
    bad = spark_type_violations(sdf) + duckdb_type_violations(con, oracle)
    if bad:
        return [f"{name}: type violation {bad}"]
    cur = con.execute(oracle)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    if sorted(cols) != sorted(d_cols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(d_cols)}"]
    if _multiset(cols, rows) != _multiset(d_cols, d_rows):
        return [f"{name}: {len(rows)} rows differ from the oracle's {len(d_rows)}"]
    return []


def _duckdb(data_dir: str):
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    return con


def run(ctx) -> dict:
    order = list(QUERY_SET)
    random.Random(ctx.seed).shuffle(order)
    with open(os.path.join(ctx.root, "tests", "golden_hashes.json")) as fh:
        golden = json.load(fh)["queries"]
    ctx.start_session()
    queries = all_queries()

    # Warm-up pass: collect each result (cold cost lands in setup_s) and
    # keep it for the checks, which run after the pass.
    results, warm, problems, failed_warm = {}, {}, [], 0

    def collect(name):
        with ctx.tracer.span(f"queries.{name}", phase="warm") as s:
            sdf = queries[name](ctx.spark, DATA_DIR)
            rows = [tuple(r) for r in sdf.collect()]
        return sdf, rows, s.seconds

    t_warm = time.time()
    # deploy.ensure_shipped builds its archive under a per-process temp
    # name, so concurrent first calls race on it; ship once up front.
    ensure_shipped(ctx.spark)
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        futures = {name: pool.submit(collect, name) for name in order}
        for name, f in futures.items():
            try:
                sdf, rows, warm[name] = f.result()
                results[name] = (sdf, rows)
            except Exception as exc:
                problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                failed_warm += 1
    warm_s = time.time() - t_warm

    def one_pass(parent=None) -> dict:
        rec = {"queries": {}, "failed": 0}
        for name in order:
            with ctx.tracer.span(f"queries.{name}", parent) as s:
                try:
                    queries[name](ctx.spark, DATA_DIR).write.format("noop").mode(
                        "overwrite").save()
                except Exception as exc:
                    problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    rec["failed"] += 1
            rec["queries"][name] = s.seconds
        rec["pass_s"] = sum(rec["queries"].values())
        return rec

    timed = ctx.timed(one_pass, PASS_S)
    layers = {}
    if ctx.traced:
        with ctx.tracer.span("sources.scan") as scan:
            for f in sorted(os.listdir(DATA_DIR)):
                ctx.spark.read.parquet(os.path.join(DATA_DIR, f)).write.format(
                    "noop").mode("overwrite").save()
        layers["sources.scan_s"] = scan.seconds
    for name in QUERY_SET:
        layers[f"queries.{name}_s"] = median(r["queries"][name] for r in timed)

    con = _duckdb(DATA_DIR)
    for name, (sdf, rows) in results.items():
        problems += check_result(con, name, sdf, rows, golden)
    con.close()

    pass_s = median(r["pass_s"] for r in timed)
    return {
        "setup_extra_s": warm_s,
        "throughput": len(order) / pass_s,
        "latency_ms": pass_s * 1000,
        "items": len(order) * len(timed),
        "attempted": len(order) * (len(timed) + 1),
        "failed": failed_warm + sum(r["failed"] for r in timed),
        "problems": problems,
        "layers": layers,
        "info": {"order": order, "passes": len(timed), "data": "sf0.01",
                 "warm_s": {k: round(v, 3) for k, v in warm.items()},
                 "pass_s": [round(r["pass_s"], 3) for r in timed],
                 "timed_s": [{k: round(v, 2) for k, v in r["queries"].items()} for r in timed]},
    }
