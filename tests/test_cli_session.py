"""The CLI builds its session with session.get_spark, so a CLI or
spark-submit run gets the same settings as the library: a UTC session
time zone, 4096-row Arrow batches, AQE."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def test_cli_window_is_utc_whatever_the_session_zone(
    spark, tmp_path, restore_session_conf
):
    """--window bounds and the written warc_ts do not follow the zone the
    session had before the CLI ran: a --window run from a session set to
    another zone writes the rows run_qa writes under UTC."""
    from isimip_qa_spark.cli import main
    from isimip_qa_spark.plans import QAConfig, run_qa
    from isimip_qa_spark.plans.pipeline import read_scored
    from isimip_qa_spark.sources.pages import pages_pandas

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(np.arange(1000))).write.parquet(src)
    lo, hi = "2024-01-05", "2024-01-20"
    cfg = QAConfig(n_chunks=2, window=(f"{lo} 00:00:00", f"{hi} 00:00:00"))
    want_out, got_out = str(tmp_path / "want"), str(tmp_path / "got")
    run_qa(spark, spark.read.parquet(src), cfg, want_out)

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    argv = ["--input", src, "--output", got_out, "--chunks", "2", "--window", f"{lo}:{hi}"]
    assert main(argv) == 0
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def rows(out):
        return (
            read_scored(spark, out)
            .select("url", F.col("warc_ts").cast("string"), "keep", "text_scrubbed")
            .orderBy("url")
            .collect()
        )

    want = rows(want_out)
    assert 0 < len(want) < 1000
    assert rows(got_out) == want


def test_qaconfig_rejects_fewer_than_one_chunk():
    import pytest

    from isimip_qa_spark.plans import QAConfig

    for n in (0, -1):
        with pytest.raises(ValueError, match="n_chunks"):
            QAConfig(n_chunks=n)
    assert QAConfig(n_chunks=1).n_chunks == 1


def test_cli_rejects_non_positive_counts_before_the_session(monkeypatch, tmp_path):
    """--chunks 0 would score nothing, and --export-shards 0 would fail in
    the export's pmod only after the whole QA run: both are parse errors,
    raised before any Spark session is asked for. So are a malformed
    window, in --window or in a --windows grid, and a cohort list holding
    an unsafe name."""
    import json

    import pytest

    from isimip_qa_spark import cli, session

    def no_session(*a, **k):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_session)
    base = ["--input", "in", "--output", "out"]
    for flags in (["--chunks", "0"], ["--chunks", "-2"], ["--chunks", "x"],
                  ["--export-dir", "exp", "--export-shards", "0"]):
        with pytest.raises(SystemExit) as e:
            cli.main(base + flags)
        assert e.value.code == 2, flags

    bad = tmp_path / "cohorts.json"
    bad.write_text(json.dumps([{"name": "../up", "langs": ["en"]}]))
    for flags, msg in (
        (["--window", "2024-01-01"], "must be 'lo:hi'"),
        (["--windows", "2024-01-01;all"], "must be 'lo:hi'"),
        (["--cohorts", "all", "--cohorts-file", str(bad)], "unsafe cohort name"),
    ):
        with pytest.raises(SystemExit, match=msg):
            cli.main(base + flags)
