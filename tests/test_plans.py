"""Physical-plan quality gates: the properties that carry to 100 TB must be
visible in `.explain` — pushed filters, pruned columns, broadcast joins,
partial aggregation, whole-stage codegen. A correctness-green query with a
full-scan plan is a regression."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_pricing_summary(spark, sf_dir):
    from isimip_qa_spark.queries.reference_ops import pricing_summary

    plan = plan_of(pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_histogram(spark, sf_dir):
    """The histogram reads ONE column of the 11-column lineitem."""
    from isimip_qa_spark.queries.reference_ops import histogram

    plan = plan_of(histogram(spark, sf_dir))
    assert "ReadSchema: struct<l_extendedprice:double>" in plan


def test_broadcast_joins_in_mask_semi_join(spark, sf_dir):
    from isimip_qa_spark.queries.reference_ops import mask_semi_join

    plan = plan_of(mask_semi_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_partial_final_aggregation(spark, sf_dir):
    """The reference's manual cross-file combine (countmap.py:29-32) must
    appear as partial→final HashAggregate around one shuffle."""
    from isimip_qa_spark.queries.reference_ops import countmap

    plan = plan_of(countmap(spark, sf_dir))
    assert plan.count("HashAggregate") == 2
    assert "partial_count" in plan


def test_rules_stage_has_no_python_udf(spark, sf_dir):
    """Heuristic rules are pure column exprs — no Python in the plan
    (north_rule: no per-row Python; BatchEvalPython would be the smell)."""
    from isimip_qa_spark.queries.webtext import gopher_rules

    plan = plan_of(gopher_rules(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan
    # codegen'd scan + pruned read (higher-order exprs run outside codegen
    # but JVM-side; `*(1)` marks the codegen stage)
    assert "*(1)" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_python_stages_are_arrow_batched(spark, sf_dir):
    """Model stages run as ArrowEvalPython (vectorized pandas UDF), never
    row-at-a-time BatchEvalPython."""
    from isimip_qa_spark.queries.webtext import perplexity

    plan = plan_of(perplexity(spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_stage_oracle_runs_python_only_for_perplexity(spark, pages_sdf):
    """apply_stages is column expressions except perplexity: its plan holds
    one ArrowEvalPython node evaluating one UDF, ppl_udf, so langid and
    scrub are checked against the JVM, not against more Python (Spark
    would fold further pandas UDFs into the same node)."""
    from isimip_qa_spark.plans.config import QAConfig
    from isimip_qa_spark.plans.pipeline import apply_stages

    plan = plan_of(apply_stages(pages_sdf, QAConfig()))
    assert "BatchEvalPython" not in plan
    nodes = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
    assert len(nodes) == 1, plan
    assert nodes[0].count("pythonUDF") == 1 and "_score_series(" in nodes[0], nodes[0]


def test_qa_sink_reads_the_scan_directly(spark, pages_sdf, tmp_path, monkeypatch):
    """run_qa hands the sink the scoped, bucket-filtered scan itself:
    scan → filter → mapInArrow with no Exchange, so each sink task scores
    one scan split in place."""
    from isimip_qa_spark.plans import pipeline
    from isimip_qa_spark.plans.config import QAConfig

    src = str(tmp_path / "pages")
    pages_sdf.write.parquet(src)
    cfg = QAConfig(n_chunks=2, n_partitions=4, cohort_langs=("en", "fr"))
    sink = pipeline.qa_sink
    seen = []

    def spy(df, out_dir, run_cfg):
        seen.append(df)
        metrics = sink(df, out_dir, run_cfg)
        seen.append(metrics)
        return metrics

    monkeypatch.setattr(pipeline, "qa_sink", spy)
    summary = pipeline.run_qa(spark, spark.read.parquet(src), cfg, str(tmp_path / "qa"))
    assert summary["chunks_run"] == [0, 1]
    given, metrics = seen
    assert "Exchange" not in plan_of(given)
    plan = plan_of(metrics)
    assert "Exchange" not in plan
    assert "MapInArrow" in plan and "FileScan parquet" in plan
    assert "MapInPandas" not in plan


def test_ann_broadcasts_queries(spark, sf_dir):
    from isimip_qa_spark.queries.ann import ann_cosine_topk

    plan = plan_of(ann_cosine_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_exact_shuffles_hash_not_text(spark, sf_dir):
    """The exact-dedup exchange key is xxhash64(text) — 8 bytes/row — never
    the document text itself; and in-group text verification adds no second
    exchange (hashpartitioning(th) satisfies the window's clustering)."""
    import re

    from isimip_qa_spark.queries.dedup import dedup_exact

    plan = plan_of(dedup_exact(spark, sf_dir))
    assert plan.count("Exchange") == 1
    (exch_line,) = [l for l in plan.splitlines() if "Exchange" in l]
    assert "hashpartitioning(th#" in exch_line
    assert not re.search(r"hashpartitioning\(text#", exch_line)


def test_hot_host_detection_has_no_single_task_stage(spark, pages_sdf):
    """The skew-stats job must not itself funnel all host counts through one
    task: total-row count comes from a broadcast scalar agg, not an
    unpartitioned window."""
    from isimip_qa_spark.plans.skew import hot_host_counts

    plan = plan_of(hot_host_counts(pages_sdf, 0.05))
    assert "Window" not in plan
    # the only SinglePartition exchange allowed is the 1-row scalar total
    # feeding the broadcast, which sits under a BroadcastExchange/partial agg
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ngram_dedup_plan_shape(spark, sf_dir):
    """The DF-capped ngram dedup: stop-shingle filter is a BROADCAST anti
    join (the hot set is tiny by construction), and nothing in the plan
    degenerates to a cartesian product."""
    from isimip_qa_spark.queries.dedup import dedup_ngram_jaccard

    plan = plan_of(dedup_ngram_jaccard(spark, sf_dir))
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )
    assert "CartesianProduct" not in plan


def test_multiprobe_embedding_plan_shape(spark, sf_dir):
    """Rotated-LSH candidate generation joins on the 8-byte rotation key;
    no cartesian product anywhere in the plan."""
    from isimip_qa_spark.queries.ann import dedup_embedding_cosine_multiprobe

    plan = plan_of(dedup_embedding_cosine_multiprobe(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_is_noop_on_wide_inputs(spark, pages_sdf):
    """spread() must not add an exchange when the input already has at
    least cluster-parallelism partitions (the 100-TB case: scans yield far
    more splits than cores)."""
    from isimip_qa_spark.queries._util import spread

    wide = pages_sdf  # generated with 8 partitions; session is local[4]
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert spread(wide, "url") is wide

    narrow = pages_sdf.coalesce(1)
    out = spread(narrow, "url")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_widens_single_file_scan(spark, tmp_path):
    """The production narrow case: a small table in ONE parquet file scans
    as one split; spread() must detect it from file metadata alone and add
    the exchange."""
    from isimip_qa_spark.queries._util import spread

    p = str(tmp_path / "one_file")
    spark.range(0, 1000, 1, 1).withColumnRenamed("id", "k").coalesce(
        1
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    out = spread(scan, "k")
    assert out is not scan
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_time_slice_prunes_and_pushes(spark, sf_dir):
    from isimip_qa_spark.queries.reference_ops import time_slice

    plan = plan_of(time_slice(spark, sf_dir))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_shipdate" in plan
