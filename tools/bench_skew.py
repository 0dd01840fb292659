"""Skew evidence: what salted repartitioning on url-host actually buys.

The synthetic corpus plants a Zipf head: 20% of pages live on one host
(sources/pages.py), the crawl-realistic hot-key case the north_rule demands
explicit handling for. This tool reports, for the same corpus and partition
count:

  host_only   repartition(N, host)            — the naive keying
  salted      salted_repartition(...)         — hot hosts spread over salts
  round_robin repartition(N)                  — balance upper bound

per-partition row counts (deterministic — the actual skew evidence) and the
wall time of one production QA pass over each layout: run_qa into a fresh
temporary out_dir, its sink tasks following the layout's partitions (min of
2; indicative only, timings on a shared VM are noisy). Appends a table to
BASELINE.md with --update-baseline.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def partition_counts(df) -> list[int]:
    from pyspark.sql import functions as F

    rows = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .orderBy("p")
        .collect()
    )
    return [r["count"] for r in rows]


def stats(counts: list[int]) -> dict:
    s = sorted(counts)
    med = s[len(s) // 2] if s else 0
    return {
        "partitions": len(counts),
        "max_rows": max(counts) if counts else 0,
        "median_rows": med,
        "max_over_median": round(max(counts) / med, 2) if med else None,
    }


def time_pass(df, cfg, reps: int = 2) -> float:
    """One run_qa over the given layout, written to a temporary out_dir
    (scoring, sink writes and the driver's publish)."""
    from isimip_qa_spark.plans.pipeline import run_qa

    best = None
    for _ in range(reps + 1):
        with tempfile.TemporaryDirectory() as out:
            t0 = time.time()
            run_qa(df.sparkSession, df, cfg, out)
            dt = time.time() - t0
        if best is None or dt < best:
            best = dt
    return round(best, 2)


def main() -> None:
    import bench
    from pyspark.sql import functions as F

    from isimip_qa_spark.plans.config import QAConfig
    from isimip_qa_spark.plans.skew import (
        detect_hot_hosts,
        host_expr,
        salted_repartition,
    )
    from isimip_qa_spark.session import get_spark

    n = int(os.environ.get("BENCH_PAGES_N", "1000000"))
    nparts = int(os.environ.get("SKEW_PARTITIONS", "32"))
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=nparts,
        extra_conf={"spark.local.dir": bench.TMP},
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(bench.ensure_pages(spark, n)).drop("html")
    cfg = QAConfig()

    hot = detect_hot_hosts(pages.select("url"))
    top_share = (
        pages.groupBy(host_expr().alias("h"))
        .count()
        .orderBy(F.desc("count"))
        .limit(1)
        .collect()[0]["count"]
        / n
    )

    layouts = {
        "host_only": pages.repartition(nparts, host_expr()),
        "salted": salted_repartition(pages, nparts, hot),
        "round_robin": pages.repartition(nparts),
    }
    out = {
        "pages_n": n,
        "hot_hosts_detected": hot,
        "top_host_share": round(top_share, 4),
        "layouts": {},
    }
    for name, df in layouts.items():
        out["layouts"][name] = {
            **stats(partition_counts(df)),
            "qa_pass_sec_min_of_2": time_pass(df, cfg),
        }
    print(json.dumps(out, indent=2))

    if "--update-baseline" in sys.argv:
        rows = "\n".join(
            f"| {k} | {v['max_rows']:,} | {v['median_rows']:,} | "
            f"{v['max_over_median']} | {v['qa_pass_sec_min_of_2']}s |"
            for k, v in out["layouts"].items()
        )
        with open(os.path.join(REPO, "BASELINE.md"), "a") as f:
            f.write(
                f"\n## Skew evidence ({n:,} docs, {nparts} partitions, "
                f"top host holds {out['top_host_share']:.0%} of rows)\n\n"
                f"| layout | max rows/part | median rows/part | max/median | "
                f"QA pass (min of 2) |\n|---|---|---|---|---|\n{rows}\n\n"
                f"`host_only` puts the hot host's rows in one task (straggler "
                f"= the whole partition); `salted` spreads them over "
                "8 salt buckets, restoring near-uniform "
                f"balance at the cost of a two-phase final agg for per-host "
                f"rollups.\n"
            )


if __name__ == "__main__":
    main()
