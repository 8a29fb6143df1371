"""tools/probe_streaming_throughput.py streams ALL table rows: the
``n % ticks`` remainder lands in the last tick file, and the sidecar
records ``rows_total``."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import probe_streaming_throughput as P  # noqa: E402


def test_probe_streams_remainder_rows(spark, tmp_path, monkeypatch):
    """probe_tier with n=10, ticks=3 writes tick files of 3/3/4 rows
    (remainder in the LAST tick) and reports rows_total."""

    def rows():
        for i in range(10):
            yield {"doc_id": i, "text": "x"}

    def fake_run(spark_, tmp):
        # stand-in ingest: land one parquet row so the survivors read works
        spark_.range(1).write.mode("overwrite").parquet(f"{tmp}/out")

    out = P.probe_tier(spark, "fake", 10, rows, fake_run, 3)
    assert out["rows_total"] == 10
    assert out["rows_per_tick"] == 3


def test_probe_tick_files_carry_remainder(tmp_path):
    """The tick-file writer itself: last file holds per + n % ticks."""
    src = inspect.getsource(P.probe_tier)
    assert "n % ticks" in src  # the remainder reaches the last tick

    # and end-to-end: count lines written per tick through probe_tier's
    # own loop by intercepting the run callable
    seen = []

    def rows():
        for i in range(10):
            yield {"i": i}

    def run(spark_, tmp):
        files = sorted(os.listdir(f"{tmp}/src"))
        seen.append(
            [sum(1 for _ in open(f"{tmp}/src/{f}")) for f in files]
        )
        if len(seen) == 3:  # last tick: make the survivors read succeed
            os.makedirs(f"{tmp}/out", exist_ok=True)

    class FakeRead:
        def parquet(self, p):
            class C:
                def count(self):
                    return 0

            return C()

    class FakeSpark:
        read = FakeRead()

    P.probe_tier(FakeSpark(), "fake2", 10, rows, run, 3)
    assert seen[-1] == [3, 3, 4]
