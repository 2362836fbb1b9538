"""Streaming-operator throughput: the NB quality gate
(``streaming/quality.py``) and the incremental ANN
(``streaming/ann.py``), each drained as an availableNow stream.  Prints
one JSON line per operator, each with the host-speed ``calib`` bracket
from ``bench.calibration_probe``:

    {"metric": "quality_gate_docs_per_sec", "value": N, ...}
    {"metric": "ann_queries_per_sec", "value": N, ...}

Routing-engine throughput (``RoutingEngine.run_stream`` and
``process_ordered``) is measured by ``perfbench/run.py --workload
route-backlog`` and ``--workload route-python``.

    PYTHONPATH=. python tools/bench_streaming.py [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from kinesis_handler_spark.session import get_spark  # noqa: E402


def main(n_docs: int) -> None:
    from bench import calibration_probe

    spark = get_spark("streaming-bench")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="streaming-bench-")
    try:
        # Fixed-work host-speed probe: lets a reader normalize this
        # host's reading against any other run's calib.
        calib = calibration_probe(spark)
        for rec in (bench_quality_gate(spark, work, n_docs), bench_ann(spark, work)):
            rec["calib"] = calib
            print(json.dumps(rec))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_quality_gate(spark, work: str, n_docs: int) -> dict:
    """r11 additions' throughput (r11 verdict ask #7a): docs/sec
    through the streaming NB quality gate (streaming/quality.py) —
    persisted-model load, one tokenize pass, broadcast score join,
    accept/quarantine dual sink.  Docs are synthetic 30-word texts
    whose stopword density alternates across the accept threshold, so
    both sinks receive rows.  Model training runs once, untimed (the
    persisted-artifact contract)."""
    from pyspark.sql import functions as F

    from kinesis_handler_spark.streaming.quality import (
        quality_stream,
        train_quality_model,
    )

    src = os.path.join(work, "q_src")
    os.makedirs(src, exist_ok=True)
    filler = " ".join(f"w{i}" for i in range(26))
    files = 16
    per_file = n_docs // files
    did = 0
    for f in range(files):
        with open(os.path.join(src, f"docs-{f:04d}.json"), "w") as fh:
            for _ in range(per_file):
                head = "the a the a" if did % 2 else "x1 x2 x3 x4"
                fh.write(json.dumps(
                    {"doc_id": did, "text": f"{head} {filler}"}
                ) + "\n")
                did += 1
    docs = spark.read.schema("doc_id bigint, text string").json(src)
    model = os.path.join(work, "q_model")
    train_quality_model(docs, model)

    acc, quar = os.path.join(work, "q_acc"), os.path.join(work, "q_quar")
    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    t0 = time.perf_counter()
    quality_stream(
        stream, model, acc, quar, os.path.join(work, "q_ck")
    ).awaitTermination()
    elapsed = time.perf_counter() - t0
    n_acc = spark.read.parquet(acc).count()
    n_quar = spark.read.parquet(quar).count()
    assert n_acc + n_quar == did and n_acc and n_quar, (n_acc, n_quar)
    return {
        "metric": "quality_gate_docs_per_sec",
        "value": round(did / elapsed),
        "unit": "docs/sec",
        "n_docs": did,
        "accepted": n_acc,
        "quarantined": n_quar,
        "elapsed_sec": round(elapsed, 2),
    }


def bench_ann(
    spark, work: str, n_corpus: int = 40_000, n_queries: int = 10_000,
    dim: int = 64,
) -> dict:
    """r11 additions' throughput (r11 verdict ask #7b): query-vectors/
    sec through the streaming incremental ANN (streaming/ann.py) —
    stored-quantizer cell assignment (broadcast GEMM), cogrouped exact
    re-rank against the probed inverted lists, top-k sink, then
    frozen-quantizer add.  Index seeding (train + assign over the
    corpus) runs once, untimed (the persisted-index contract).
    Vectors are deterministic integer lattice points (no RNG — the
    repo-wide seedless-determinism rule)."""
    from pyspark.sql import functions as F

    from kinesis_handler_spark.streaming.ann import (
        ann_stream,
        init_ann_index,
        read_neighbors,
    )

    def lattice(df, id_col):
        # qvec[j] = 1 + ((id*(j+7)) % 97): deterministic, full-rank-ish
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"j -> CAST(1 + pmod({id_col} * (j + 7), 97) AS BIGINT))"
            ).alias("qvec"),
        )

    idx = os.path.join(work, "ann_idx")
    nbr = os.path.join(work, "ann_nbr")
    init_ann_index(lattice(spark.range(n_corpus), "id"), idx)

    src = os.path.join(work, "ann_src")
    os.makedirs(src, exist_ok=True)
    (
        lattice(
            spark.range(n_corpus, n_corpus + n_queries).withColumn(
                "id", F.col("id")
            ),
            "id",
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(src)
    )
    stream = spark.readStream.schema(
        "vec_id bigint, qvec array<bigint>"
    ).parquet(src)
    t0 = time.perf_counter()
    ann_stream(
        stream, idx, nbr, os.path.join(work, "ann_ck")
    ).awaitTermination()
    elapsed = time.perf_counter() - t0
    n_answered = read_neighbors(spark, nbr).select("q_id").distinct().count()
    assert n_answered == n_queries, n_answered
    return {
        "metric": "ann_queries_per_sec",
        "value": round(n_queries / elapsed),
        "unit": "queries/sec",
        "n_queries": n_queries,
        "index_size": n_corpus,
        "dim": dim,
        "elapsed_sec": round(elapsed, 2),
    }


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 100_000)
