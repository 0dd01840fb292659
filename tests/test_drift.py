"""metrics_drift: a zero-change rerun reports exactly zero drift (the
exact-rollup contract — rates rebuilt from raw sums, never from rounded
partials); a stricter-threshold rerun shows a negative keep-rate delta on
every chunk and flags it; a chunk missing from one run is flagged; a
chunk without perplexity has None rates, flagged only when one run has a
perplexity. The report is built on the driver and submits no Spark job."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from isimip_qa_spark.plans import QAConfig, run_qa
from isimip_qa_spark.plots import metrics_drift


def _drift(spark, a, b):
    """metrics_drift(a, b), asserting that it submitted no Spark job."""
    sc = spark.sparkContext
    group = f"metrics-drift-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        report = metrics_drift(a, b)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    return report


def _with_metrics(out_dir, table):
    """An out_dir whose metrics table is `table`."""
    os.makedirs(f"{out_dir}/metrics")
    pq.write_table(table, f"{out_dir}/metrics/part-0.parquet")
    return out_dir


def test_drift_report(spark, pages_sdf, tmp_path):
    base = QAConfig(n_chunks=4, n_partitions=4)
    # pages word counts are 30 or >= 120 by design: 130 bites, 80 would not
    strict = QAConfig(n_chunks=4, n_partitions=4, min_words=130)

    out_a, out_b, out_c = (str(tmp_path / d) for d in "abc")
    run_qa(spark, pages_sdf, base, out_a)
    run_qa(spark, pages_sdf, base, out_b)
    run_qa(spark, pages_sdf, strict, out_c)

    # identical config: exact zeros everywhere, nothing flagged
    same = _drift(spark, out_a, out_b)
    assert [r["chunk"] for r in same] == [0, 1, 2, 3]
    for r in same:
        assert r["keep_rate_delta"] == r["avg_ppl_delta"] == r["scrub_rate_delta"] == 0.0
        assert not r["flagged"]

    # stricter min_words can only DROP the keep rate; it must drop
    # somewhere, and flagged must equal the tolerance predicate exactly
    drift = _drift(spark, out_a, out_c)
    assert all(r["keep_rate_delta"] <= 0 for r in drift)
    assert any(r["keep_rate_delta"] < 0 for r in drift)
    for r in drift:
        assert r["flagged"] == (
            abs(r["keep_rate_delta"]) > 0.01
            or abs(r["avg_ppl_delta"]) > 1.0
            or abs(r["scrub_rate_delta"]) > 0.01
        )
        # ppl is computed over the same docs (scoring unchanged): zero delta
        assert r["avg_ppl_delta"] == 0.0
    assert any(r["flagged"] for r in drift)

    # a chunk present in only one run is itself drift
    m_a = pq.read_table(f"{out_a}/metrics")
    out_d = _with_metrics(
        str(tmp_path / "d"), m_a.filter(pc.not_equal(m_a["chunk"], 3))
    )
    missing = {r["chunk"]: r for r in _drift(spark, out_d, out_a)}
    assert sorted(missing) == [0, 1, 2, 3]
    assert missing[3]["flagged"]
    assert missing[3]["n_docs_a"] is None and missing[3]["keep_rate_a"] is None
    assert missing[3]["keep_rate_delta"] is None
    assert not any(missing[c]["flagged"] for c in (0, 1, 2))


def test_drift_of_a_null_text_chunk(spark, tmp_path):
    """A chunk of NULL-text pages has no perplexity on either side: its
    avg_ppl is None on both, its delta None, and it is not flagged."""
    rows = [(f"https://null.example.org/p/{i}", None, "en", i) for i in range(20)]
    pages = spark.createDataFrame(rows, "url string, text string, lang string, i int")
    pages = pages.withColumn("warc_ts", F.timestamp_seconds(1704067200 + F.col("i"))).drop("i")
    cfg = QAConfig(n_chunks=1, n_partitions=2)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_qa(spark, pages, cfg, out_a)
    run_qa(spark, pages, cfg, out_b)

    (r,) = _drift(spark, out_a, out_b)
    assert r["n_docs_a"] == r["n_docs_b"] == 20
    assert r["avg_ppl_a"] is None and r["avg_ppl_b"] is None
    assert r["avg_ppl_delta"] is None
    assert r["keep_rate_delta"] == r["scrub_rate_delta"] == 0.0
    assert not r["flagged"]


def test_drift_flags_a_one_sided_perplexity(spark, pages_sdf, tmp_path):
    """A chunk whose perplexity exists in one run only is flagged, with a
    None delta; the other rates still compare."""
    out_a = str(tmp_path / "a")
    run_qa(spark, pages_sdf, QAConfig(n_chunks=2, n_partitions=4), out_a)
    m_a = pq.read_table(f"{out_a}/metrics")
    no_ppl = m_a.filter(pc.equal(m_a["chunk"], 1))
    for col in ("ppl_sum", "ppl_n"):
        zeros = pa.array([0] * len(no_ppl), m_a.schema.field(col).type)
        no_ppl = no_ppl.set_column(no_ppl.schema.get_field_index(col), col, zeros)
    out_b = _with_metrics(
        str(tmp_path / "b"),
        pa.concat_tables([m_a.filter(pc.equal(m_a["chunk"], 0)), no_ppl]),
    )

    d0, d1 = _drift(spark, out_a, out_b)
    assert d0["avg_ppl_delta"] == 0.0 and not d0["flagged"]
    assert d1["avg_ppl_a"] is not None and d1["avg_ppl_b"] is None
    assert d1["avg_ppl_delta"] is None
    assert d1["keep_rate_delta"] == d1["scrub_rate_delta"] == 0.0
    assert d1["flagged"]
