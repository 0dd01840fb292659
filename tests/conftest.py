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
    status tracker: jobs from the sink's toPandas call site in pipeline.py.
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
            if "toPandas at" in last.name and "pipeline.py:" in last.name:
                assert len(stage_ids) == 1 and last.numTasks == n_splits
                n += 1
        return out, n

    return run
