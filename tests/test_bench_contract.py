"""bench.py driver-contract guards (no Spark session needed): every
benched query must exist in the registry (a typo'd name would crash the
driver's per-round bench run at measurement time, the worst place), every
registered query is benched or exempt with a reason, and the
calibration/banding constants must stay sane."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def test_bench_queries_all_registered():
    import bench
    from isimip_qa_spark.queries import QUERIES, load_all

    load_all()
    missing = [q for q in bench.BENCH_QUERIES if q not in QUERIES]
    assert not missing, missing
    # no duplicate measurements
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES))
    # the bench surface is the registry: every registered query is benched
    # or exempt with a stated reason, never both
    unbenched = set(QUERIES) - set(bench.BENCH_QUERIES)
    assert unbenched == set(bench.BENCH_EXEMPT), unbenched ^ set(bench.BENCH_EXEMPT)
    assert all(bench.BENCH_EXEMPT.values())
    # the round-5 driver-visible companion is benched alongside its sketch
    assert "ppl_bucket_agreement" in bench.BENCH_QUERIES


def test_band_labels():
    import bench

    assert bench._band(1_000_000) == "qa_1m"
    assert bench._band(100_000) == "qa_100k"
    assert bench._band(4_000_000) == "qa_4m"
    assert bench._band(12_345) == "qa_12345"


def test_calibration_constants_sane():
    import bench

    assert 0 < bench.CAL_REF_SEC < 60  # seconds, clean-window floor
    assert bench.CAL_N <= bench.PAGES_N or bench.PAGES_N < 50_000


def test_start_calibration_times_only_warm_reps(monkeypatch):
    """The segment-start calibration is the session's first work: one whole
    untimed calibration runs first, and only the later reps are timed
    against CAL_REF_SEC. The end calibration times its reps directly."""
    import bench

    calls = []
    walls = iter([[1.03], [0.9, 0.86, 0.88], [0.87, 0.85, 0.95]])

    def fake_qa_walls(spark, pages, measured_reps=3):
        calls.append(measured_reps)
        return next(walls)

    class FakeSpark:
        class read:
            @staticmethod
            def parquet(path):
                return path

    monkeypatch.setattr(bench, "qa_walls", fake_qa_walls)
    monkeypatch.setattr(bench, "ensure_pages", lambda spark, n: f"pages-{n}")
    start = bench.time_calibration(FakeSpark(), cold=True)
    assert calls == [1, 3]
    assert start == {
        "min_sec": 0.86,
        "median_sec": 0.88,
        "reps": 3,
        "noise_index": round(0.86 / bench.CAL_REF_SEC, 3),
    }
    end = bench.time_calibration(FakeSpark())
    assert calls == [1, 3, 3]
    assert end["min_sec"] == 0.85 and end["noise_index"] == round(0.85 / bench.CAL_REF_SEC, 3)
