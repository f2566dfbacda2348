from __future__ import annotations

import os
import shutil
import tempfile

import pytest

# Test scratch (tmp_path, mkdtemp) on tmpfs: this tenancy's disk probes
# 12-90 MB/s with multi-minute degradation bursts (SCALE.md), and the
# suite's table-roundtrip tests (iceberg, CDC, migrator) are otherwise
# device-bound.  Only applied when the caller hasn't pinned TMPDIR and
# /dev/shm is writable with room for the suite's peak scratch use;
# test semantics are unchanged — the same files are written, to RAM.
# Each run gets its own directory, removed when the session ends.
_SCRATCH_PEAK_BYTES = 32 << 20  # measured peak: 23 MB
_scratch = None
if "TMPDIR" not in os.environ and os.path.isdir("/dev/shm") \
        and os.access("/dev/shm", os.W_OK) \
        and shutil.disk_usage("/dev/shm").free >= _SCRATCH_PEAK_BYTES:
    _scratch = tempfile.mkdtemp(prefix="connect_spark_test_", dir="/dev/shm")
    os.environ["TMPDIR"] = _scratch
    tempfile.tempdir = None  # re-resolve gettempdir() from TMPDIR

# Control-plane-sized local frames (the overwhelming majority of unit
# fixtures) otherwise parallelize to one slice per core — at 32 cores
# that is 31 empty Python-worker round trips per Python-seam action
# and 32 fetch jobs per toLocalIterator drain.  8 keeps genuine
# parallelism for the handful of tests with real data.  Query results
# are partition-count independent (oracle-pinned), and neither
# bench.py nor the round driver sets this knob.
os.environ.setdefault("SPARK_GRAFT_DEFAULT_PARALLELISM", "8")
# Streaming state stores open one per shuffle partition per
# micro-batch (no AQE coalescing in streaming); at unit scale 32 of
# them per trigger is pure fixed overhead.
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

from connect_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("connect_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 runs the parity gate at
    # the driver's correctness scale factor.
    return os.environ.get("SPARK_GRAFT_TEST_SF", SF_SMALL)


def pytest_unconfigure(config):
    if _scratch is not None:
        shutil.rmtree(_scratch, ignore_errors=True)


_CONFORMANCE_FILES = ("test_reference_corpus.py", "test_reference_examples.py")


def pytest_terminal_summary(terminalreporter):
    """One line naming the conformance gap: how many reference-corpus
    and reference-example tests were skipped, and why."""
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if r.nodeid.split("::")[0].endswith(_CONFORMANCE_FILES)
    ]
    if not skipped:
        return
    reasons = sorted({
        r.longrepr[2] if isinstance(r.longrepr, tuple) else str(r.longrepr)
        for r in skipped
    })
    terminalreporter.write_line(
        f"CONFORMANCE GAP: {len(skipped)} reference-corpus/example tests "
        f"skipped ({'; '.join(reasons)})",
        yellow=True, bold=True,
    )
