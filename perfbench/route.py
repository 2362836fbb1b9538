"""The two routing workloads: ``route-backlog`` and ``route-python``.

Each drives ``RoutingEngine.run_stream`` over the file source from
``io.sources`` with ``io.sinks.ParquetChannelSinks`` wrapped so every
sink call is timed, then reads the sink output back and checks it
against the generator's ground truth.
"""

from __future__ import annotations

import os
import re
import time
from collections import Counter

from pyspark.sql import Window
from pyspark.sql import functions as F

from kinesis_handler_spark.io.sinks import ParquetChannelSinks
from kinesis_handler_spark.io.sources import envelope_json_stream
from kinesis_handler_spark.routing import RoutingEngine
from kinesis_handler_spark.routing.engine import ENVELOPE_SCHEMA
from kinesis_handler_spark.streaming.observability import attach_metrics_listener

import gen
from probes import median, triggers

# Input sizes, fixed so every host drains the same work.  The backlog
# gives two triggers of eight shard files each.  ``pass_s`` is a pass's time on a 4-core host (Context.timed).
BACKLOG = {"records": 64_000, "shards": 16, "files_per_trigger": 8, "pass_s": 4.5}
PYTHON = {"records": 16_000, "shards": 8, "files_per_trigger": 4, "pass_s": 8.0}
TINY_DIVISOR = 16
# Measured at 4 cores: the first drain takes ~16 s, the second ~6 s, the
# third ~4.6 s and later ones 4.3-4.6 s; two passes leave the timed ones
# near steady within the run budget.
WARM_PASSES = 2
COMPILE_REPEATS = 5
ORDERED_SCHEMA = "partitionKey STRING, sequenceNumber STRING, pos LONG, payload_len LONG"


def _identity(df):
    return df


def build_engine(schemas) -> RoutingEngine:
    envelope, data = schemas
    engine = RoutingEngine(envelope)
    for doc in data:
        engine.register(doc, _identity)
    return engine


def compile_engine(ctx, schemas) -> tuple[RoutingEngine, float]:
    """Build the engine ``COMPILE_REPEATS`` times (construction compiles
    the envelope, ``register`` each data schema); median seconds."""
    secs = []
    for _ in range(COMPILE_REPEATS):
        with ctx.tracer.span("schema_compiler.compile") as s:
            engine = build_engine(schemas)
        secs.append(s.seconds)
    return engine, median(secs)


def sanitize(schema_id: str) -> str:
    """The sink's directory name for a schema id (io.sinks layout)."""
    return re.sub(r"[^A-Za-z0-9._-]", "_", schema_id)


class TimedSinks:
    """``ParquetChannelSinks`` with every call timed.  A second call for
    the same channel and batch id means the batch was replayed.
    ``drop_one`` makes the first routed call lose one row (self-test of
    the output check); ``probe`` runs while a batch is live."""

    def __init__(self, base: str, drop_one: bool = False, probe=None):
        self.inner = ParquetChannelSinks(base)
        self.calls: list[tuple[str, int, float, float]] = []
        self.seen: set = set()
        self.replayed = 0
        self.drop_one = drop_one
        self.probe = probe
        self.samples: list[float] = []

    def _call(self, channel, key, batch_id, write):
        if (key, batch_id) in self.seen:
            self.replayed += 1
        self.seen.add((key, batch_id))
        t0 = time.time()
        write()
        self.calls.append((channel, batch_id, t0, time.time()))

    def routed(self, sid, df, batch_id):
        if self.drop_one:
            df, self.drop_one = df.orderBy("sequenceNumber").offset(1), False
        self._call("routed", sid, batch_id, lambda: self.inner.routed(sid, df, batch_id))

    def dead_letter(self, df, batch_id):
        self._call("dead_letter", "dl", batch_id,
                   lambda: self.inner.dead_letter(df, batch_id))
        if self.probe is not None:
            # routed sinks ran first, so the enriched frame is cached now
            self.samples.append(self.probe())

    def unknown(self, df, batch_id):
        self._call("unknown", "unk", batch_id, lambda: self.inner.unknown(df, batch_id))

    def seconds(self, channel) -> float:
        return sum(t1 - t0 for c, _, t0, t1 in self.calls if c == channel)


def _parquet_files(path: str):
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(root, f)


def output_size(base: str) -> tuple[int, float]:
    files = list(_parquet_files(base))
    return len(files), sum(os.path.getsize(f) for f in files) / (1 << 20)


def read_channels(spark, bases: list[str]) -> Counter:
    """Rows written per (pass, channel, key, batch id) across
    the sink output of every pass, one Spark job per channel.  ``key`` is
    the schema directory for routed rows and the reason for dead
    letters."""
    out: Counter = Counter()
    for channel in ("routed", "dead_letter", "unknown"):
        paths = [f"{b}/{channel}" for b in bases
                 if next(_parquet_files(f"{b}/{channel}"), None)]
        if not paths:
            continue
        df = spark.read.option("recursiveFileLookup", "true").parquet(*paths)
        path = F.input_file_name()
        key = {
            "routed": F.regexp_extract(path, r"/routed/([^/]+)/batch_id=", 1),
            "dead_letter": F.col("reason"),
            "unknown": F.lit(""),
        }[channel]
        cols = [
            F.regexp_extract(path, r"/p(\d+)/out/", 1).cast("int").alias("pass"),
            key.alias("key"),
            F.regexp_extract(path, r"/batch_id=(\d+)/", 1).cast("int").alias("batch"),
        ]
        for r in df.select(*cols).groupBy("pass", "key", "batch").count().collect():
            out[(r["pass"], channel, r["key"], r["batch"])] += r["count"]
    return out


def truth_check(counts: Counter, truth: gen.Truth, label: str) -> list[str]:
    """Compare one pass's channel counts with the generator's truth;
    returns the mismatches."""
    got = Counter()
    for (_, channel, key, _), n in counts.items():
        got[(channel, key)] += n
    want = Counter({("unknown", ""): truth.unknown})
    for sid, n in truth.routed.items():
        want[("routed", sanitize(sid))] = n
    for reason, n in truth.dead_letter.items():
        want[("dead_letter", reason)] = n
    return [f"{label}: {ch}/{k or '-'} got {got[(ch, k)]} want {want[(ch, k)]}"
            for ch, k in sorted(set(got) | set(want)) if got[(ch, k)] != want[(ch, k)]]


def _listener_check(listener, expected: int) -> list[str]:
    """Progress events reach the listener asynchronously; wait for them."""
    deadline = time.time() + 15
    while listener.total_input_rows() < expected and time.time() < deadline:
        time.sleep(0.2)
    got = listener.total_input_rows()
    return [] if got == expected else [
        f"listener total_input_rows {got} want {expected}"]


class Drainer:
    """Drains one backlog directory through ``run_stream``, each pass
    into its own checkpoint and output directory."""

    def __init__(self, ctx, engine, src, files_per_trigger):
        self.ctx, self.engine, self.src = ctx, engine, src
        self.files_per_trigger = files_per_trigger
        self.passes: list[dict] = []

    def drain(self, parent=None) -> dict:
        ctx = self.ctx
        i = len(self.passes)
        base = os.path.join(ctx.work, f"p{i:03d}")
        probe = ctx.status.cached_mb if ctx.traced else None
        sinks = TimedSinks(os.path.join(base, "out"), drop_one=ctx.drop_one and i == 0,
                           probe=probe)
        stream = envelope_json_stream(ctx.spark, self.src,
                                      max_files_per_trigger=self.files_per_trigger)
        rec = {"base": os.path.join(base, "out"), "sinks": sinks, "error": None}
        with ctx.tracer.span("stream.drain", parent, pass_index=i) as s:
            query = self.engine.run_stream(
                stream, checkpoint_dir=os.path.join(base, "ck"),
                routed_sink=sinks.routed, dead_letter_sink=sinks.dead_letter,
                unknown_sink=sinks.unknown)
            try:
                query.awaitTermination()
            except Exception as exc:  # the failed drain is counted, not raised
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec.update(start=s.start, end=s.end, seconds=s.seconds, triggers=triggers(query))
        trace_triggers(ctx.tracer, s.id, rec["triggers"], sinks)
        self.passes.append(rec)
        return rec


def trace_triggers(tracer, parent, trigs, sinks) -> None:
    """Trigger spans from progress events, with each sink call as a
    child of the trigger that ran it (matched by batch id)."""
    if not tracer.enabled:
        return
    by_batch = {}
    for t in trigs:
        by_batch[t.batch_id] = tracer.add("stream.trigger", t.start, t.end, parent,
                                          batch_id=t.batch_id, rows=t.rows)
    for channel, batch_id, t0, t1 in sinks.calls:
        if batch_id in by_batch:
            tracer.add(f"sinks.{channel}", t0, t1, by_batch[batch_id], batch_id=batch_id)


def trigger_layers(trigs) -> dict:
    ms = lambda key: median(t.ms.get(key, 0.0) for t in trigs)  # noqa: E731
    return {
        "stream.trigger_ms_p50": ms("triggerExecution"),
        "stream.add_batch_ms_p50": ms("addBatch"),
        "stream.wal_commit_ms_p50": ms("walCommit"),
        "stream.commit_offsets_ms_p50": ms("commitOffsets"),
        "stream.overhead_ms_p50": median(
            t.ms.get("triggerExecution", 0) - t.ms.get("addBatch", 0) for t in trigs),
        "sources.latest_offset_ms": ms("latestOffset"),
        "sources.get_batch_ms": ms("getBatch"),
        "sources.records_per_trigger": median(t.rows for t in trigs),
    }


def weighted_median(pairs) -> float:
    """Median of values given as (value, count) pairs."""
    pairs = sorted(pairs)
    total = sum(n for _, n in pairs)
    acc = 0
    for value, n in pairs:
        acc += n
        if acc * 2 >= total:
            return value
    return 0.0


def static_probes(ctx, engine, src) -> dict:
    """Source scan and one enrich pass over the whole input as a static
    frame; traced runs only, after the timed window."""
    records = ctx.spark.read.schema(ENVELOPE_SCHEMA).json(src)
    with ctx.tracer.span("sources.scan") as scan:
        records.write.format("noop").mode("overwrite").save()
    with ctx.tracer.span("engine.enrich") as enrich:
        result = engine.process_batch(records, cache=True)
        result.materialize()
    result.unpersist()
    return {"sources.scan_s": scan.seconds, "engine.enrich_s": enrich.seconds}


def _drain_workload(ctx, schemas, size, mix, ordered: bool) -> dict:
    """Backlog drains (and, for ``route-python``, an ordered pass over the
    same records): one warm-up pass, then the timed passes."""
    src = os.path.join(ctx.work, "src")
    records = size["records"] // (TINY_DIVISOR if ctx.tiny else 1)
    truth = gen.write_backlog(src, ctx.seed, records, size["shards"], mix)
    ctx.start_session()
    listener = attach_metrics_listener(ctx.spark)
    engine, compile_s = compile_engine(ctx, schemas)
    drainer = Drainer(ctx, engine, src, size["files_per_trigger"])

    def one_pass(parent=None) -> dict:
        rec = drainer.drain(parent)
        if ordered:
            rec["ordered"] = os.path.join(os.path.dirname(rec["base"]), "ordered")
            with ctx.tracer.span("engine.ordered", parent) as s:
                ordered_pass(ctx.spark, src, rec["ordered"])
            rec["ordered_s"] = s.seconds
        rec["pass_s"] = rec["seconds"] + rec.get("ordered_s", 0.0)
        return rec

    warm = ctx.warm(one_pass, WARM_PASSES)
    timed = ctx.timed(one_pass, size["pass_s"])
    t_checks = time.time()
    layers = {}
    if ctx.traced:
        layers.update(static_probes(ctx, engine, src))

    n = truth.records
    trigs = [t for rec in timed for t in rec["triggers"]]
    # per record: drain start to the end of the trigger that committed it;
    # the median record of each pass, then the median over passes
    lat = [weighted_median(((t.end - rec["start"]) * 1000, t.rows) for t in rec["triggers"])
           for rec in timed]
    sinks_layers = {}
    for ch in ("routed", "dead_letter", "unknown"):
        sinks_layers[f"sinks.{ch}_s"] = median(r["sinks"].seconds(ch) for r in timed)
    sizes = [output_size(r["base"]) for r in timed]
    layers.update(trigger_layers(trigs), **sinks_layers)
    layers.update({
        "schema_compiler.compile_ms": compile_s * 1000,
        "stream.triggers": median(len(r["triggers"]) for r in timed),
        "sinks.files": median(f for f, _ in sizes),
        "sinks.mb": median(mb for _, mb in sizes),
        "engine.ordered_s": median(r.get("ordered_s", 0.0) for r in timed),
        "engine.cache_mb": median(x for r in timed for x in r["sinks"].samples),
    })

    # correctness, outside the timed window
    problems = []
    counts = read_channels(ctx.spark, [r["base"] for r in drainer.passes])
    for i, rec in enumerate(drainer.passes):
        if rec["error"]:
            problems.append(f"pass {i}: {rec['error']}")
        mine = Counter({k: v for k, v in counts.items() if k[0] == i})
        problems += truth_check(mine, truth, f"pass {i}")
        if ordered:
            problems += check_ordered(ctx.spark, rec["ordered"], n)
    problems += _listener_check(listener, n * len(drainer.passes))
    ctx.spark.streams.removeListener(listener)

    failed = sum(bool(r["error"]) + r["sinks"].replayed for r in timed)
    return {
        "setup_extra_s": compile_s,
        "throughput": median(n / r["pass_s"] for r in timed),
        "latency_ms": median(lat),
        "items": n * len(timed),
        "attempted": max(len(trigs), 1) + (len(timed) if ordered else 0),
        "failed": failed,
        "problems": problems,
        "layers": layers,
        "info": {"truth": truth.as_dict(), "passes": len(timed),
                 "pass_s": [round(r["pass_s"], 3) for r in timed],
                 "warm_pass_s": [round(r["pass_s"], 3) for r in warm],
                 "check_s": round(time.time() - t_checks, 3)},
    }


def backlog(ctx) -> dict:
    return _drain_workload(ctx, gen.fast_schemas(), BACKLOG, gen.BACKLOG_MIX, ordered=False)


def python_tier(ctx) -> dict:
    return _drain_workload(ctx, gen.python_schemas(), PYTHON, gen.PYTHON_MIX, ordered=True)


def ordered_pass(spark, src: str, out: str) -> None:
    """``process_ordered`` over the backlog as a static frame; the
    per-key function numbers each key's records in the order it sees
    them, which ``check_ordered`` compares with sequence order."""

    def number(pdf):  # nested, so it is pickled by value for the workers
        res = pdf[["partitionKey", "sequenceNumber"]].copy()
        res["pos"] = range(len(pdf))
        res["payload_len"] = pdf["data"].fillna("").str.len()
        return res

    records = spark.read.schema(ENVELOPE_SCHEMA).json(src)
    (RoutingEngine.process_ordered(records, number, ORDERED_SCHEMA)
     .write.mode("overwrite").parquet(out))


def check_ordered(spark, out: str, n: int) -> list[str]:
    """Every key's positions must follow numeric sequenceNumber order."""
    w = Window.partitionBy("partitionKey").orderBy(
        F.col("sequenceNumber").cast("decimal(38,0)"))
    row = (spark.read.parquet(out)
           .withColumn("rank", F.row_number().over(w) - 1)
           .agg(F.count(F.lit(1)).alias("rows"),
                F.sum((F.col("rank") != F.col("pos")).cast("int")).alias("misordered"))
           .first())
    problems = []
    if row["rows"] != n:
        problems.append(f"ordered: {row['rows']} rows want {n}")
    if row["misordered"]:
        problems.append(f"ordered: {row['misordered']} rows out of sequence order")
    return problems

