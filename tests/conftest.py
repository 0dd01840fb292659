from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from isimip_qa_spark.session import get_spark

    s = get_spark(
        app_name="isimip-qa-tests", master="local[4]", shuffle_partitions=4
    )
    yield s


@pytest.fixture
def restore_session_conf(spark):
    """Puts back every `spark.sql.*` session conf the test changed (a
    cli.main run re-applies session.get_spark's defaults to the shared
    session)."""
    before = spark.conf.getAll
    yield
    for k, v in spark.conf.getAll.items():
        if k.startswith("spark.sql.") and before.get(k) != v:
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def pages_pdf():
    """2,000 deterministic synthetic pages as pandas (oracle side)."""
    import numpy as np

    from isimip_qa_spark.sources.pages import pages_pandas

    return pages_pandas(np.arange(2000))


@pytest.fixture(scope="session")
def pages_sdf(spark):
    """The same 2,000 pages generated distributed."""
    from isimip_qa_spark.sources.pages import pages_df

    return pages_df(spark, 2000, num_partitions=8)


@pytest.fixture
def sink_jobs(spark):
    """sink_jobs(fn, n_splits) runs fn under a fresh job group and returns
    (fn's result, the number of sink jobs it submitted), counted with the
    status tracker: jobs from the sink's toArrow call site in pipeline.py.
    Each must be one stage of one task per input split: the sink scores
    each scan split in place, so no shuffle map job shares the call site."""
    import uuid

    sc = spark.sparkContext
    st = sc.statusTracker()

    def run(fn, n_splits):
        group = f"sink-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n = 0
        for jid in st.getJobIdsForGroup(group):
            stage_ids = st.getJobInfo(jid).stageIds
            last = st.getStageInfo(max(stage_ids))
            if "toArrow at" in last.name and "pipeline.py:" in last.name:
                assert len(stage_ids) == 1 and last.numTasks == n_splits
                n += 1
        return out, n

    return run


# Bytes of every class the fused kernel counts (symbols, dots, a control
# char, digits and '@', a toxic term, multi-byte chars), for the docs around
# a kernel edge case.
EDGE_PAD = "pad!? 42 x@y ..\x07.. badword1 中é\n\n"


@pytest.fixture(scope="session")
def kernel_matches_stages(spark):
    """check(docs) asserts that the fused kernel, run on `docs` as a slice
    (offset != 0) of a larger Arrow array between EDGE_PAD docs, equals the
    unfused stages in every score column and in keep. The stages are JVM
    column expressions for langid, rules and scrub (so numpy and Python
    `re` are checked against a second engine) and the perplexity pandas
    UDF. The docs sit back to back in the array's data buffer, so a kernel
    that misplaces a doc offset moves a pad's or a neighbour's bytes into
    the docs under test."""
    import math

    import pyarrow as pa

    from isimip_qa_spark.functions.qa_fused import SCORE_COLS, _fused_arrow
    from isimip_qa_spark.plans.config import QAConfig
    from isimip_qa_spark.plans.pipeline import apply_stages
    from isimip_qa_spark.plans.sink import _keep_arrow

    cfg = QAConfig()
    cols = [c for c, _ in SCORE_COLS]

    def norm(values) -> list:
        return [
            None if v is None or (isinstance(v, float) and math.isnan(v)) else v
            for v in values
        ]

    def check(docs: list) -> None:
        arr = pa.array([EDGE_PAD, *docs, EDGE_PAD], pa.string()).slice(1, len(docs))
        assert arr.offset == 1
        stats = _fused_arrow(arr)
        df = spark.createDataFrame(list(enumerate(docs)), "i int, text string")
        want = (
            apply_stages(df, cfg)
            .select("i", *cols, "keep")
            .toPandas()
            .sort_values("i")
        )
        # NULL text: every score NULL and keep False here; the expression
        # forms yield NULL keep (and a few 0.0 scores)
        for c in cols:
            got = norm(stats.column(c).to_pylist())
            exp = norm(want[c].astype(object).tolist())
            for d, g, w in zip(docs, got, exp):
                assert g == (None if d is None else w), (c, d)
        keep = _keep_arrow(stats, cfg).tolist()
        for d, k, w in zip(docs, keep, norm(want["keep"].astype(object).tolist())):
            assert k == (False if d is None else w) and (w is None) == (d is None)

    return check
