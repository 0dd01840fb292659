"""catalog.read_table reads every declared table with its declared schema:
no schema-inference job, and the schema the queries see is SCHEMAS[name]."""

from __future__ import annotations

import uuid

from isimip_qa_spark.catalog import SCHEMAS, read_table

SF = "/root/testdata/sf0.001"


def test_declared_tables_read_without_a_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"read-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read every declared table")
    try:
        schemas = {name: read_table(spark, SF, name).schema for name in SCHEMAS}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(group) == []
    for name, declared in SCHEMAS.items():
        assert schemas[name] == declared, name


def test_declared_schema_matches_the_files(spark):
    """Inference on the files gives the declared types (nullability aside):
    the declared schema changes no query's input types."""
    for name, declared in SCHEMAS.items():
        inferred = spark.read.parquet(f"{SF}/{name}.parquet").schema
        got = {f.name: f.dataType for f in inferred.fields}
        assert {f.name: f.dataType for f in declared.fields} == got, name


def test_undeclared_table_is_inferred(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "extra.parquet"))
    df = read_table(spark, str(tmp_path), "extra")
    assert "extra" not in SCHEMAS
    assert df.columns == ["id"] and df.count() == 3
