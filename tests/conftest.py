from __future__ import annotations

import contextlib

import pytest

from loongcollector_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("loongcollector-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def crash_after_markers(monkeypatch):
    """``with crash_after_markers(manifest, n):`` — inside the block, the
    manifest's marker n+1 raises, as a job killed after its commit and n
    markers would stop."""

    @contextlib.contextmanager
    def crash(manifest, n):
        real, marked = manifest.mark_done, []

        def mark_done(unit, meta=None):
            if len(marked) == n:
                raise RuntimeError(f"injected failure after {n} markers")
            marked.append(unit)
            real(unit, meta)

        with monkeypatch.context() as m:
            m.setattr(manifest, "mark_done", mark_done)
            yield

    return crash
