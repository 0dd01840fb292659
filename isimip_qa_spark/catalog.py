"""Table IO with explicit schemas.

The reference trusts NetCDF self-description + naming conventions
(/root/reference/isimip_qa/mixins/extractions.py:46-49); at 100 TB we never
`inferSchema` — every table is read with a declared StructType and an explicit
column order. All reads/writes go through this module so swapping plain
parquet for an Iceberg catalog (`spark.table(...)` / `df.writeTo(...)`) is a
one-file change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- declared schemas for the driver-provided tables (TESTDATA.md) ---------
# Their parquet timestamps are timezone-naive (isAdjustedToUTC=false), so
# they are declared TIMESTAMP_NTZ, the type Spark would infer for them.

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# pages table per BASELINE.json input_hint
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided table with its declared schema, so
    downstream plans are schema-stable regardless of file layout and the
    read launches no schema-inference job. A name without a declared
    schema is read with inference."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in SCHEMAS:
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    return spark.read.parquet(path)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.schema(PAGES_SCHEMA).parquet(path)
    return df.select(*[f.name for f in PAGES_SCHEMA.fields])


def read_pages_tolerant(spark: SparkSession, path: str) -> DataFrame:
    """Crawl-scale ingest read: skip corrupt/truncated part files instead
    of failing the job. At 10^12 documents a handful of bad files per
    crawl drop is ROUTINE (mid-upload truncation, bitrot, a writer killed
    between block flushes); one corrupt file must cost its own rows, not
    the run. The reference's analogue is its tolerant time decode
    (models.py try/except per value — S2/X4): degrade the affected datum,
    never the dataset. Spark-native: per-reader `ignoreCorruptFiles`
    option (no session-level conf mutation), pushed into the scan so the
    skip happens at split-open time. The tolerant read is for INGEST
    paths; artifact reads (plans/checkpoint.py) stay strict — a corrupt
    artifact means the producing chunk must rerun, not be silently
    shrunk."""
    df = (
        spark.read.schema(PAGES_SCHEMA)
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
    )
    return df.select(*[f.name for f in PAGES_SCHEMA.fields])


def write_table(df: DataFrame, path: str, mode: str = "append", partition_by=None):
    """Append-mode parquet sink (reference analogue: CSV append,
    /root/reference/isimip_qa/mixins/extractions.py:42-62). Iceberg swap:
    `write_table_v2` below — same signature shape, catalog table instead of
    a path."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_table_v2(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by=None,
    fmt: str = "parquet",
):
    """Catalog-table sink through DataFrameWriterV2 (`df.writeTo`) — the
    Iceberg codepath this module's docstring promises as a one-line swap,
    exercised for real in tests/test_catalog_v2.py against the session
    catalog (V2SessionCatalog). On an Iceberg deployment the only change is
    the catalog-qualified name (e.g. `iceberg.qa.metrics`) and fmt
    `iceberg`; `append()` then commits one atomic snapshot — the
    write-audit-publish step the chunk manifest emulates on plain parquet
    (plans/checkpoint.py docstring).

    Modes: `append` (table must exist — Iceberg snapshot append),
    `create` (createOrReplace, sets format + partitioning),
    `overwrite_partitions` (dynamic partition overwrite — the idempotent
    chunk-rerun primitive: rerunning a chunk replaces exactly its
    partition)."""
    w = df.writeTo(table)
    if partition_by:
        w = w.partitionedBy(*[F.col(c) for c in partition_by])
    if mode == "create":
        # CTAS — supported by every V2 catalog incl. the session catalog;
        # (Iceberg additionally supports createOrReplace, i.e. RTAS, which
        # the plain session catalog does not)
        w.using(fmt).create()
    elif mode == "append":
        w.append()
    elif mode == "overwrite_partitions":
        w.overwritePartitions()
    else:
        raise ValueError(f"unknown write_table_v2 mode: {mode}")


# --- CSV artifact twins (reference S8/S9: append-mode series CSVs,
# /root/reference/isimip_qa/mixins/extractions.py:42-87) -------------------


def write_csv_series(df: DataFrame, path: str, mode: str = "append") -> None:
    """Append-mode CSV sink (the reference's extraction artifact format;
    kept for interchange — parquet is the real sink)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_csv_series(
    spark: SparkSession, path: str, schema: T.StructType, time_col: str = "time"
) -> DataFrame:
    """CSV source with the reference's tolerant time semantics
    (extractions.py:67-84): unparseable/out-of-range timestamps → NULL →
    row dropped, not errored."""
    str_fields = [
        T.StructField(f.name, T.StringType())
        if isinstance(f.dataType, T.TimestampType)
        else f
        for f in schema.fields
    ]
    df = spark.read.schema(T.StructType(str_fields)).option("header", True).csv(path)
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            df = df.withColumn(f.name, F.try_to_timestamp(F.col(f.name)))
    return df.filter(F.col(time_col).isNotNull())
