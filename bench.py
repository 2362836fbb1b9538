"""Per-round benchmark: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query wall-clock seconds.

Execution is forced with a noop datasource write (full pipeline runs,
nothing collected to the driver) — the honest way to time a distributed
plan.

Stdout layout (the driver records only the LAST 2000 chars of stdout —
rounds 2-5 proved a 155-entry named map, ~4 KB, never survives that
window; ``BENCH_r05.json`` parsed null with only 72/155 timings visible):

* line 1: the full verbose artifact with the named ``queries`` map —
  human-readable, truncated in the driver capture, durable in
  ``BENCH_LOCAL.json``.
* LAST line: a compact (<1.5 KB) self-contained JSON that always fits
  the 2000-char tail whole, so the driver's parse succeeds.  Per-query
  timings ride as ``qvals``, an array aligned index-for-index with
  ``sorted(timings)`` = ``sorted(set(all queries) - set(qerr))`` —
  names are deterministic from the registry, so
  ``dict(zip(sorted_names, qvals))`` reconstructs the full map
  (``tools/expand_bench.py`` does exactly that).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from kinesis_handler_spark.registry import all_queries  # noqa: E402
from kinesis_handler_spark.session import get_spark  # noqa: E402


def calibration_probe(spark) -> dict:
    """Fixed-work host-speed probe (r9 verdict ask #6): the same JVM
    runs (a) a pure-CPU whole-stage-codegen loop over a constant
    ``range`` — no input data, no shuffle — and (b) one canonical
    1-shuffle aggregation on a constant frame.  Work is IDENTICAL every
    run on every host, so the ratio of two artifacts' ``calib`` numbers
    IS the host-speed ratio: drift normalization becomes arithmetic
    (``value * (ref_calib / my_calib)``) instead of per-query
    forensics.  min-of-3 like the query timings; ~3 s total."""
    import pyspark.sql.functions as F

    def timed(thunk) -> tuple[float, float]:
        """(min, mean) of 3 — min is the quiet-slice floor (matches the
        query timings' statistic); mean tracks SUSTAINED load, which a
        min can miss entirely on a bursty box (r10 measured cpu min
        0.26 s while streaming throughput sat 7× below its calm band —
        the same session's mean exposed the contention)."""
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            thunk()
            ts.append(time.perf_counter() - t0)
        return round(min(ts), 3), round(sum(ts) / len(ts), 3)

    cpu, cpu_mean = timed(
        # sum of the hash's high 32 bits: 2^29 × |2^31| ≤ 2^60 keeps the
        # ANSI bigint sum overflow-free while still forcing every hash
        lambda: spark.range(0, 1 << 29, 1, 32)
        .select(F.sum(F.shiftright(F.xxhash64("id"), 32)).alias("s"))
        .write.format("noop").mode("overwrite").save()
    )
    shuffle, shuffle_mean = timed(
        lambda: spark.range(0, 1 << 22, 1, 32)
        .groupBy(F.pmod(F.col("id"), F.lit(1 << 18)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    return {
        "cpu_sec": cpu,
        "cpu_mean": cpu_mean,
        "shuffle_sec": shuffle,
        "shuffle_mean": shuffle_mean,
    }


def run_bench(sf_dir: str) -> dict:
    spark = get_spark("kinesis-handler-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    # Warm the JVM + parquet footer caches with the flagship query so
    # per-query numbers measure the plan, not first-run JIT.
    try:
        qs["agg_groupby_pricing"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:  # noqa: BLE001 - warm-up only; real run is isolated below
        pass
    # Warm the Python/Arrow worker pool too — otherwise the first
    # pandas-UDF query is charged ~6 s of one-time worker spin-up.
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id LONG"
    ).write.format("noop").mode("overwrite").save()
    # Calibrate host speed at run START and END: the r7-r9 rounds each
    # burned adjudication time proving "same commit, 138 s early vs
    # 216 s late" was host drift; bracketing probes make intra-run
    # drift visible in the artifact itself.
    calib_start = calibration_probe(spark)
    # min of N runs per query: measures the plan, not GC/scheduler noise
    # (single-run totals on this box swing ±30%, heavy queries ±2×).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(qs):
        # Per-query isolation: one broken query must never zero the whole
        # round's perf artifact — record its error and keep timing the rest.
        best = float("inf")
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 - per-query fault boundary
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        timings[name] = round(best, 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_declared_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "calib": {"start": calib_start, "end": calibration_probe(spark)},
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
        out["error_count"] = len(errors)
    return out


def compact_line(result: dict) -> str:
    """The driver-facing summary: complete JSON guaranteed to fit whole
    inside a 2000-char stdout tail.  ``qvals[i]`` is the timing of the
    i-th name in ``sorted(timings)`` (all queries minus ``qerr``).
    ``qfp`` fingerprints the sorted timed-name list so an equal-count
    registry change (rename, or one query added + one removed) is a
    hard expand-time error instead of silently misattributing every
    timing after the first divergent name (ADVICE r6)."""
    import hashlib

    timings = result["queries"]
    timed = sorted(timings)
    out = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "n_queries": len(timings),
        "qkeys": "sorted(all_queries)-qerr; expand: tools/expand_bench.py",
        "qfp": hashlib.sha256(",".join(timed).encode()).hexdigest()[:8],
        # compact line carries only the min-statistic calib (byte budget);
        # the full artifact keeps the means too
        "calib": {
            k: {"cpu_sec": v["cpu_sec"], "shuffle_sec": v["shuffle_sec"]}
            for k, v in result["calib"].items()
        }
        if result.get("calib")
        else None,
        "qvals": [timings[n] for n in timed],
        "qerr": sorted(result.get("errors", {})),
    }
    return json.dumps(out, separators=(",", ":"))


def default_artifact(sf) -> str:
    """Artifact filename derived from the ACTUAL scale factor, so a run at
    sf1.0 can never clobber the sf0.1 baseline (r7 verdict item 5):
    sf0.1 (the driver's per-round default) keeps the historical
    ``BENCH_LOCAL.json`` name; any other sf writes ``BENCH_SF<sf>.json``
    with a trailing ``.0`` dropped (sf1.0 -> BENCH_SF1.json)."""
    label = str(sf)
    if label == "0.1":
        return "BENCH_LOCAL.json"
    if label.endswith(".0"):
        label = label[:-2]
    return f"BENCH_SF{label}.json"


if __name__ == "__main__":
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    result = run_bench(sf_dir)
    # Persist the full artifact locally: the driver captures only the tail
    # of stdout, which truncated round 4's record at 73/126 queries. The
    # repo copy is the durable per-query baseline.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(_REPO_DIR, default_artifact(result["sf"])),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # stdout lines below are still the primary contract
    print(json.dumps(result))
    print(compact_line(result))
