"""Measurements taken from outside the program: the process tree in
``/proc``, Spark's monitoring REST API, streaming progress events, and
spans recorded around calls into the program's modules."""

from __future__ import annotations

import calendar
import json
import os
import re
import statistics
import time
import urllib.request
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
SQL_PAGE = 100_000  # the SQL endpoint returns 20 executions unless asked for more


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


class ProcessTree:
    """The Spark JVM and its Python workers: every descendant of this
    process.  This process itself is left out because it hosts the
    benchmark's generator and checks."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], list(kids.get(self.root, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def reset_peaks(self) -> None:
        """Reset VmHWM to the current RSS (``clear_refs`` value 5)."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                continue  # exited meanwhile

    def sample(self) -> dict:
        """CPU seconds (own plus reaped children) split into JVM and
        Python workers, and the sum of per-process peak RSS in MB."""
        cpu = {"jvm": 0.0, "python": 0.0}
        hwm = {"jvm": 0.0, "python": 0.0}
        procs = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{pid}/status") as fh:
                    status = fh.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            f = stat[stat.rindex(")") + 2:].split()
            secs = sum(int(x) for x in f[11:15]) / _TICK
            kind = "python" if comm.startswith("python") else "jvm"
            cpu[kind] += secs
            procs += kind == "python"
            m = re.search(r"^VmHWM:\s+(\d+)", status, re.M)
            if m:
                hwm[kind] += int(m.group(1)) / 1024  # kB
        return {"cpu_jvm_s": cpu["jvm"], "cpu_python_s": cpu["python"],
                "peak_rss_mb": hwm["jvm"] + hwm["python"], "jvm_peak_rss_mb": hwm["jvm"],
                "python_procs": procs}


CPU_PROBE_N = 1_000_000
CPU_PROBE_REPEATS = 5


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop in this process, in ms:
    the host's per-core speed at this moment.  Taken at the start and
    end of every run, outside the timed window, so a run on a slowed
    host can be told from a slower program."""
    times = []
    for _ in range(CPU_PROBE_REPEATS):
        t0 = time.perf_counter()
        sum(i * i for i in range(CPU_PROBE_N))
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from ``/proc/stat``; steal is time
    the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f[:8])


class SparkStatus:
    """Spark's monitoring REST API on the driver UI (localhost only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def mark(self) -> dict:
        """Highest job / stage / SQL execution ids and executor GC so
        far; ``since`` sums what came after."""
        jobs = self.get("/jobs")
        stages = self.get("/stages")
        sql = self.get(f"/sql?details=false&length={SQL_PAGE}")
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s["stageId"] for s in stages), default=-1),
            "sql": max((q["id"] for q in sql), default=-1),
            "gc_ms": sum(e.get("totalGCTime", 0) for e in self.get("/executors")),
        }

    def since(self, mark: dict) -> dict:
        jobs = [j for j in self.get("/jobs") if j["jobId"] > mark["job"]]
        stages = [s for s in self.get("/stages") if s["stageId"] > mark["stage"]]
        sql = [q for q in self.get(f"/sql?details=true&planDescription=false&length={SQL_PAGE}")
               if q["id"] > mark["sql"]]
        mb = 1 / (1 << 20)
        py_rows = py_sent = 0.0
        for q in sql:
            for node in q.get("nodes", []):
                if node.get("nodeName") != "ArrowEvalPython":
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        py_rows += _metric_total(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        py_sent += _metric_total(m["value"]) * mb
        return {
            "jobs": len(jobs),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) * mb,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) * mb,
            "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                            for s in stages) * mb,
            "gc_s": (sum(e.get("totalGCTime", 0) for e in self.get("/executors"))
                     - mark["gc_ms"]) / 1000,
            "python_rows": py_rows,
            "python_mb_sent": py_sent,
        }

    def cached_mb(self) -> float:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self.get("/storage/rdd")) / (1 << 20)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(text: str) -> float:
    """A SQL metric as the UI renders it: ``"1,234"``, ``"3.2 MiB"`` or
    ``"total (min, med, max ...)\\n3.2 MiB (...)"``; the total is the
    first number on the last line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


@dataclass
class Trigger:
    """One micro-batch as ``StreamingQuery.recentProgress`` reports it."""

    batch_id: int
    start: float  # epoch seconds
    rows: int
    ms: dict

    @property
    def end(self) -> float:
        return self.start + self.ms.get("triggerExecution", 0) / 1000


def triggers(query) -> list[Trigger]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        ts = d["timestamp"]
        start = calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
        start += float("0" + ts[19:].rstrip("Z"))
        out.append(Trigger(d["batchId"], start, int(d["numInputRows"]),
                           {k: float(v) for k, v in d["durationMs"].items()}))
    # progress for an empty poll carries no batch; keep triggers that ran one
    return [t for t in out if "addBatch" in t.ms]


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written as JSON once the run ends.  A
    disabled tracer records nothing; ``span`` still runs the body."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def span(self, name, parent=None, **attrs):
        return _SpanCtx(self, name, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its children cover, in seconds."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "self_s": self.self_times()}, fh)


class _SpanCtx:
    def __init__(self, tracer, name, parent, attrs):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id = None

    def __enter__(self):
        self.start = time.time()
        self.id = self.tracer.add(self.name, self.start, self.start, self.parent,
                                  **self.attrs)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.id is not None:
            self.tracer.spans[self.id].end = self.end
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start
