"""The executor package zip (deploy.py) built from many threads at once."""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import zipfile

from kinesis_handler_spark import deploy


def test_build_zip_from_concurrent_threads(tmp_path, monkeypatch):
    # Threads of one process used to share one per-pid temp zip: the
    # losers raised FileNotFoundError at os.replace and concurrent
    # writers interleaved in one file.  Each round releases 8 threads
    # into an empty temp dir at once; a short switch interval makes
    # them interleave inside the build.
    n_threads, rounds = 8, 5
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for r in range(rounds):
            out = tmp_path / f"round{r}"
            out.mkdir()
            monkeypatch.setattr(tempfile, "tempdir", str(out))
            barrier = threading.Barrier(n_threads)
            paths: list[str] = []
            errors: list[BaseException] = []

            def build():
                try:
                    barrier.wait(timeout=30)
                    paths.append(deploy._build_zip())
                except BaseException as exc:  # noqa: BLE001 - reported below
                    errors.append(exc)

            threads = [threading.Thread(target=build) for _ in range(n_threads)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads), "build hung"
            assert not errors, errors
            assert len(set(paths)) == 1
            assert os.listdir(out) == [os.path.basename(paths[0])]
            with zipfile.ZipFile(paths[0]) as zf:
                assert zf.testzip() is None
                assert "kinesis_handler_spark/__init__.py" in zf.namelist()
    finally:
        sys.setswitchinterval(old_interval)
