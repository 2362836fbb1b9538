"""Bench stdout contract: the driver records only the LAST 2000 chars of
bench.py stdout (BENCH_r2..r5 all show a 2000-char ``tail``), so the
final printed line must be a COMPLETE JSON document comfortably under
that window, and it must round-trip back to the full named per-query
map via tools/expand_bench.py."""

from __future__ import annotations

import json

from bench import compact_line
from kinesis_handler_spark.registry import all_queries
from tools.expand_bench import expand

# Worst-case-ish per-query seconds: full 3-decimal precision, two digits
# before the point (no current query exceeds 5 s at sf0.1).
_FAKE_SECONDS = 12.345


def _fake_result(error_names=()):
    names = sorted(all_queries())
    timings = {n: _FAKE_SECONDS for n in names if n not in set(error_names)}
    out = {
        "metric": "total_declared_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "calib": {
            "start": {"cpu_sec": 12.345, "cpu_mean": 12.345,
                      "shuffle_sec": 12.345, "shuffle_mean": 12.345},
            "end": {"cpu_sec": 12.345, "cpu_mean": 12.345,
                    "shuffle_sec": 12.345, "shuffle_mean": 12.345},
        },
        "sf": 0.1,
    }
    if error_names:
        out["errors"] = {n: "RuntimeError: boom" for n in error_names}
        out["error_count"] = len(error_names)
    return out


def test_compact_line_fits_driver_tail_window():
    line = compact_line(_fake_result())
    # 2000-char tail minus the trailing newline minus headroom for any
    # stray log line the JVM appends after our print.
    assert len(line) <= 1800, f"compact line {len(line)} chars — too big"
    parsed = json.loads(line)
    assert parsed["n_queries"] == len(all_queries())
    assert len(parsed["qvals"]) == parsed["n_queries"]


def test_compact_line_roundtrips_to_named_map():
    full = _fake_result()
    parsed = json.loads(compact_line(full))
    assert expand(parsed) == full["queries"]


def test_compact_line_roundtrips_with_errors():
    errs = ("agg_global", "join_inner_equi")
    full = _fake_result(error_names=errs)
    parsed = json.loads(compact_line(full))
    assert parsed["qerr"] == sorted(errs)
    assert expand(parsed) == full["queries"]
    assert len(json.dumps(parsed, separators=(",", ":"))) <= 1800


def test_verbose_line_still_first_contract():
    # The verbose artifact keeps the named map for humans/BENCH_LOCAL.
    full = _fake_result()
    assert isinstance(full["queries"], dict)
    assert set(full["queries"]) == set(all_queries())


def test_artifact_name_derives_from_actual_sf():
    # r7 verdict item 5: a bench run at sf1.0 must never clobber the
    # sf0.1 baseline artifact — the filename is keyed by the actual sf.
    from bench import default_artifact

    assert default_artifact(0.1) == "BENCH_LOCAL.json"
    assert default_artifact(1.0) == "BENCH_SF1.json"
    assert default_artifact(0.01) == "BENCH_SF0.01.json"
    assert default_artifact(0.001) == "BENCH_SF0.001.json"
    assert default_artifact(0.1) != default_artifact(1.0)


def test_equal_count_name_divergence_is_detected():
    # ADVICE r6: a rename (or one query added + one removed) keeps the
    # count equal, so the old alignment check passed while every timing
    # after the first divergent name was silently misattributed.  The
    # qfp fingerprint turns that into a hard error.
    import pytest

    full = _fake_result()
    parsed = json.loads(compact_line(full))
    names = sorted(full["queries"])
    renamed = names[:10] + ["zz_renamed_query"] + names[11:]
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        expand(parsed, names=renamed)
    # same-name expansion still round-trips
    assert expand(parsed, names=names) == full["queries"]


def test_compact_line_is_the_last_print():
    # The driver parses only the stdout tail, so the compact line must
    # stay the LAST print in bench.py's __main__ (pinned against the
    # source's print order).
    import inspect

    import bench

    src = inspect.getsource(bench)
    main_part = src[src.index('if __name__ == "__main__":') :]
    prints = [
        ln.strip() for ln in main_part.splitlines() if ln.strip().startswith("print(")
    ]
    assert prints[-1] == "print(compact_line(result))", prints
