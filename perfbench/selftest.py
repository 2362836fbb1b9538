"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks that every metric of BENCHMARK.json is printed with its unit in
both modes, that the Python-tier counter reads 0 on route-backlog and
is nonzero on route-python, that the tracing overhead is taken against
untraced runs of the same size, that the output check fails a run whose
wrapped sink drops one row, and that a directory holding only the
benchmark (no program) exits non-zero without printing a result.
Takes about six minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args, cwd=ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7",
         "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        raise AssertionError(f"result keys {sorted(res)}")
    return res


def expect_metrics(res: dict, metrics: list[dict], positive: bool) -> None:
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in metrics}
    if got != want:
        raise AssertionError(f"metric names/units differ: {set(got.items()) ^ set(want.items())}")
    if positive:
        zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
        if zero:
            raise AssertionError(f"end-to-end metrics not positive: {zero}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]

    for w in workloads:
        code, lines = run("--workload", w, "--trace", "0", "--tiny")
        res = result(lines)
        if code or not res["correct"] or res["failed"]:
            raise AssertionError(f"{w}: untraced run failed:\n" + "\n".join(lines))
        expect_metrics(res, spec["end_to_end"], positive=True)
        print(f"ok  {w}: end-to-end metrics and units")

    for w, python_rows_zero in (("route-backlog", True), ("route-python", False)):
        code, lines = run("--workload", w, "--trace", "1", "--tiny")
        res = result(lines)
        if code or not res["correct"]:
            raise AssertionError(f"{w}: traced run failed:\n" + "\n".join(lines))
        expect_metrics(res, spec["per_layer"], positive=False)
        rows = res["metrics"]["schema_compiler.python_rows"]["value"]
        if (rows == 0) != python_rows_zero:
            raise AssertionError(f"{w}: schema_compiler.python_rows = {rows}")
        overhead = next((json.loads(line)["tracing_overhead"] for line in lines
                         if '"tracing_overhead"' in line), "missing")
        # route-backlog ran untraced at this size above, so it has a baseline
        if overhead == "missing" or (w in workloads and not isinstance(overhead, dict)):
            raise AssertionError(f"{w}: tracing overhead {overhead}")
        print(f"ok  {w}: per-layer metrics, python_rows = {rows:g}")

    code, lines = run("--workload", "route-backlog", "--trace", "0", "--tiny", "--drop-one")
    res = result(lines)
    if code == 0 or res["correct"] or not any("routed/" in line for line in lines
                                              if line.startswith("CHECK FAILED")):
        raise AssertionError("a sink that drops one row passed the output check:\n"
                             + "\n".join(lines))
    print("ok  a wrapped sink dropping one row fails the run")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run("--workload", workloads[0], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or lines:
        raise AssertionError(f"benchmark without the program: exit {code}, stdout {lines}")
    print("ok  without the program the benchmark exits non-zero and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
