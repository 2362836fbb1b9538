"""Benchmark of the routing engine and the declared batch queries.

    python3 perfbench/run.py --workload route-backlog --seed 1 --seconds 15 --trace 0

Run from the repository root.  Workloads: route-backlog and batch-heavy
(BENCHMARK.json), route-python (by hand); see perfbench/README.md.
The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Lines before it carry the host record, the checks and,
when traced, span self times and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

from probes import ProcessTree, SparkStatus, Tracer, cpu_probe_ms, cpu_ticks, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))  # what `nproc` reports
# The first two are BENCHMARK.json's; route-python runs by hand (README).
WORKLOADS = ("route-backlog", "batch-heavy", "route-python")
DRIVER_MEM = "3g"
STATUS_SETTLE_S = 1.0


class Context:
    """What a workload needs: the session, its scratch directory, the
    tracer, and the timed-window bookkeeping shared by every workload."""

    def __init__(self, args, work: str, tracer, tree) -> None:
        self.root = ROOT
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.drop_one, self.tiny = args.drop_one, args.tiny
        self.work, self.tracer, self.tree = work, tracer, tree
        self.spark = self.status = None
        self.session_s = self.warm_s = 0.0
        self.window: dict = {}
        self.calib: list | None = None  # calibration bracket, traced runs

    def start_session(self) -> None:
        from kinesis_handler_spark.session import get_spark

        with self.tracer.span("session") as s:
            self.spark = get_spark("perfbench", cpus=NPROC)
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = s.seconds
        if self.traced:
            from bench import calibration_probe

            self.status = SparkStatus(self.spark)
            with self.tracer.span("harness.calib"):
                self.calib = [calibration_probe(self.spark)]

    def warm(self, one_pass, passes: int) -> list:
        """Untimed passes of the workload's own shape; their cold cost
        is part of ``setup_s``."""
        with self.tracer.span("warm") as s:
            recs = [one_pass(s.id) for _ in range(passes)]
        self.warm_s = s.seconds
        return recs

    def _open_window(self) -> None:
        # Start from a collected heap and reset each process's peak RSS,
        # so peak_rss_mb covers the timed window, not the warm-up.
        self.spark.sparkContext._jvm.java.lang.System.gc()
        self.tree.reset_peaks()
        self.window = {"start": time.time(), "proc0": self.tree.sample()}
        if self.traced:
            self.window["mark"] = self.status.mark()

    def _close_window(self) -> None:
        self.window.update(end=time.time(), proc1=self.tree.sample())
        if self.traced:
            time.sleep(STATUS_SETTLE_S)  # the status store trails the jobs
            self.window["spark"] = self.status.since(self.window["mark"])

    def timed(self, one_pass, nominal_s: float) -> list[dict]:
        """``seconds / nominal_s`` passes (at least one), where
        ``nominal_s`` is the workload's pass time on a 4-core host: a
        fixed count, so every run measures the same work."""
        self._open_window()
        passes = []
        with self.tracer.span("timed") as s:
            for _ in range(max(1, round(self.seconds / nominal_s))):
                passes.append(one_pass(s.id))
        self._close_window()
        return passes


def _set_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    the run's scratch directory, and give the JVM a heap that fits a
    shared host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: the JVM's perf-data file would go to /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_spark(ctx) -> None:
    """Stop the session, then the JVM, and wait for every process the
    run started to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while ctx.tree.pids() and time.time() < deadline:
        time.sleep(0.2)
    for pid in ctx.tree.pids():
        os.kill(pid, 9)


def metrics_of(spec: dict, ctx, res: dict) -> tuple[dict, dict]:
    """End-to-end and per-layer values from a workload's result."""
    w = ctx.window
    cpu = lambda s: s["cpu_jvm_s"] + s["cpu_python_s"]  # noqa: E731
    e2e = {
        "setup_s": ctx.session_s + ctx.warm_s + res["setup_extra_s"],
        "throughput": res["throughput"],
        "latency_p50_ms": res["latency_ms"],
        "cpu_ms_per_item": (cpu(w["proc1"]) - cpu(w["proc0"])) * 1000 / max(res["items"], 1),
        "peak_rss_mb": w["proc1"]["peak_rss_mb"],
    }
    layers = {m["name"]: 0.0 for m in spec["per_layer"]}
    layers.update(res["layers"])
    passes = max(res["info"].get("passes", 1), 1)
    layers["python_worker.cpu_s"] = (
        w["proc1"]["cpu_python_s"] - w["proc0"]["cpu_python_s"]) / passes
    if ctx.traced:
        spark = w["spark"]
        for k in ("executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                  "spill_mb", "tasks", "jobs"):
            layers[f"spark.{k}"] = spark[k] / passes
        layers["schema_compiler.python_rows"] = spark["python_rows"] / passes
        layers["schema_compiler.python_mb_sent"] = spark["python_mb_sent"] / passes
        if layers.get("stream.triggers"):
            layers["engine.jobs_per_trigger"] = (
                spark["jobs"] / passes / layers["stream.triggers"])
        calib = ctx.calib
        layers["harness.calib_cpu_s"] = sum(c["cpu_sec"] for c in calib) / len(calib)
        layers["harness.calib_shuffle_s"] = sum(c["shuffle_sec"] for c in calib) / len(calib)
    return e2e, layers


def _shape(args) -> dict:
    """What makes two runs of a workload measure the same work."""
    return {"seconds": args.seconds, "tiny": args.tiny}


def _overhead(spec, args, traced_e2e: dict) -> dict | None:
    """Traced minus untraced end-to-end values, against the median of the
    untraced runs of this workload and shape already recorded in this
    checkout."""
    path = os.path.join(WORK, "results", f"{args.workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        runs = [json.loads(line) for line in fh]
    runs = [r["metrics"] for r in runs if r.get("shape") == _shape(args)]
    if not runs:
        return None
    out = {m["name"]: round(traced_e2e[m["name"]] - median(r[m["name"]] for r in runs), 4)
           for m in spec["end_to_end"]}
    out["untraced_runs"] = len(runs)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drop-one", action="store_true",
                    help="make a wrapped sink drop one row (self-test of the checks)")
    ap.add_argument("--tiny", action="store_true",
                    help="routing inputs at 1/16 size (self-test)")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "kinesis_handler_spark")) or not os.path.exists(
            spec_path):
        print("perfbench: run from a checkout of the repository "
              "(kinesis_handler_spark/ and BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _set_environment(work)
    import batch
    import route

    workloads = {"route-backlog": route.backlog, "batch-heavy": batch.run,
                 "route-python": route.python_tier}
    ctx = Context(args, work, Tracer(bool(args.trace)), ProcessTree())
    probe_ms, ticks0 = [cpu_probe_ms()], cpu_ticks()
    try:
        res = workloads[args.workload](ctx)
        if ctx.traced:
            from bench import calibration_probe

            with ctx.tracer.span("harness.calib"):
                ctx.calib.append(calibration_probe(ctx.spark))
        e2e, layers = metrics_of(spec, ctx, res)
    finally:
        _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    probe_ms.append(cpu_probe_ms())

    import pyspark

    # cpu_probe_ms: the start/end host-speed bracket of every run;
    # steal_pct: share of CPU time the hypervisor took during the run
    host = {"nproc": NPROC, "master": f"local[{NPROC}]",
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "cpu_probe_ms": [round(x, 2) for x in probe_ms],
            "steal_pct": round(100 * (ticks1[0] - ticks0[0])
                               / max(ticks1[1] - ticks0[1], 1), 2),
            "calib": ctx.calib}
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "session_s": round(ctx.session_s, 3), "processes": ctx.window["proc1"],
                      **res["info"]}))
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")
    correct = not res["problems"] and res["failed"] == 0
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    if ctx.traced:
        trace_path = os.path.join(WORK, "results", f"trace-{args.workload}-s{args.seed}.json")
        ctx.tracer.dump(trace_path)
        print(json.dumps({"self_s": ctx.tracer.self_times(), "spans": trace_path}))
        print(json.dumps({"layers": {k: round(v, 4) for k, v in sorted(layers.items())}}))
        print(json.dumps({"end_to_end_traced": e2e,
                          "tracing_overhead": _overhead(spec, args, e2e)}))
    elif correct and not args.drop_one:
        # untraced baselines for the tracing overhead; a run with a
        # dropped row is never one
        with open(os.path.join(WORK, "results", f"{args.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "shape": _shape(args), "host": host,
                                 "metrics": e2e}) + "\n")

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in chosen},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
