"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and
order-insensitive values (sorted columns, sorted rows, float-tolerant-free
exact compare after string normalisation — stricter than any plausible
driver hash).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
       python tools/check_oracles.py --json OUT.json [sf_dir] [query ...]

With --json, a per-query record in the driver's CORRECTNESS schema
(rows_match / schema_match / hash_match / spark_rows / oracle_rows / err)
is written to OUT.json — the full-inventory self-check artifact
(SELFCHECK_r*.json) the round-3 verdict asked the repo to ship, closing
the blind spot left by the driver sampling only ~50 of the queries.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

# the checkout this file is in, not whichever one is on sys.path already
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(df):
    """pandas DataFrame → canonical sorted list of row tuples of strings."""
    import math

    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "∅"
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        if isinstance(v, (pd.Timestamp,)):
            return v.isoformat()
        if hasattr(v, "item"):
            return canon(v.item())
        return str(v)

    rows = sorted(tuple(canon(v) for v in row) for row in df.itertuples(index=False))
    return rows


# queries whose hash match alone is not a pass: the named boolean column
# must also be true in every row. ppl_bucket_agreement's two engines score
# different comparands (Spark's percentile_approx sketch, the twin's exact
# quantile_cont) against the same ntile terciles, so both can fall below
# the 0.98 bar together and still hash-match on agreement_ok=false. The
# other direction stays: a twin-only dip goes red with no engine
# regression.
MUST_BE_TRUE = {"ppl_bucket_agreement": "agreement_ok"}


def compare(name, sdf, odf) -> tuple[dict, list[str]]:
    """Spark result vs oracle result: (CORRECTNESS record, problems); the
    query passes iff problems is empty."""
    problems = []
    rows_match = len(sdf) == len(odf)
    if not rows_match:
        problems.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
    schema_match = sorted(map(str.lower, sdf.columns)) == sorted(
        map(str.lower, odf.columns)
    )
    if not schema_match:
        problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(odf.columns)}")
    hash_match = False
    if not problems:
        a, b = normalize(sdf), normalize(odf)
        hash_match = a == b
        if not hash_match:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, e.g. {diffs}")
    col = MUST_BE_TRUE.get(name)
    if col is not None:
        n_false = int((~sdf[col].eq(True)).sum())  # NULL is not true
        if n_false:
            problems.append(f"{col} not true in {n_false} of {len(sdf)} rows")
    record = {
        "rows_match": rows_match, "schema_match": schema_match,
        "hash_match": hash_match, "spark_rows": len(sdf),
        "oracle_rows": len(odf),
        "err": "; ".join(problems) or None,
    }
    return record, problems


def main():
    import json

    import duckdb

    from isimip_qa_spark.session import get_spark

    import __spark_entry__ as ent

    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs, oracles = ent.queries(), ent.oracle_sql()

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark: {e}",
            }
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            record[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(sdf),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            record[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(sdf),
                "oracle_rows": None, "err": f"duckdb: {e}",
            }
            n_fail += 1
            continue
        record[name], problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_out:
        summary = {
            "sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
            "n_rows_only": n_rows_only,
            "n_queries": n_pass + n_fail + n_rows_only,
        }
        with open(json_out, "w") as f:
            json.dump({"summary": summary, "queries": record}, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
