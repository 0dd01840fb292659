"""Physical-layout operators surfaced as queries (the computable part of
table maintenance — the side-effecting compaction/rewrite lives in
plans/maintenance.py and functions/zorder.py with pytest coverage).

`rendezvous_shards` adds stable shard *placement*: highest-random-weight
(HRW / rendezvous) hashing assigns each doc to the shard maximising a
per-shard universal hash of the doc's content fingerprint. The property
that matters operationally: growing S → S+1 shards moves only ~1/(S+1) of
docs, and every moved doc moves TO the new shard — old shards never trade
docs with each other (tests/test_rendezvous.py asserts both). That is the
re-shard story `shard_shuffle` (mod-N placement, queries/mixing.py) cannot
offer: mod-N remaps ~(1 − 1/(S+1)) of the corpus on resize.

Scale notes (100 TB): the argmax is a pure column expression
(array_max over S structs) — zero shuffle, evaluated in the scan stage;
weights use the same a*h+b mod 2^31−1 family as MinHash (a,h < 2^31 ⇒
products < 2^62, exact in int64 on both engines). S here is a literal
array width, fine to a few hundred shards; beyond that the standard
two-level variant (rendezvous over shard *groups*, then within the
group) keeps the expression width O(sqrt(S)) — documented, not needed at
any plausible shard count for training shards (shard ≈ fixed byte size ⇒
S scales with corpus, but placement then keys on doc ranges / files, not
per-doc exprs).

Reference anchor: isimip_qa/main.py's per-dataset artifact placement is
path-templated (static); rendezvous is the dynamic-membership analogue a
long-lived crawl store needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from ..functions.fingerprint import (
    MERSENNE31,
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
    universal_coeffs,
)
from ..functions.zorder import zorder_key_expr, zorder_key_sql
from . import register

@register(
    "zorder_key",
    oracle=f"""
    SELECT doc_id,
           {zorder_key_sql("n_chars", f"len({ts.TOKENS_SQL})")} AS zkey
    FROM documents
    """,
)
def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (n_chars, n_tokens) — the clustering key
    `write_zordered` lays files out by; exact cross-engine bit math."""
    d = read_table(spark, sf_dir, "documents")
    z = zorder_key_expr(F.col("n_chars"), F.size(F.split(F.col("text"), " ")))
    return d.select("doc_id", z.alias("zkey"))


# ---------------------------------------------------------------------------
# Rendezvous (HRW) sharding: shard = argmax_s (a_s*hv + b_s) mod 2^31-1.
# ---------------------------------------------------------------------------

RV_SHARDS = 16  # registered-instance width; assignment fn takes any S
RV_SEED = 271828182845904523  # distinct from minhash's seed: independent family


def _rv_coeffs(n_shards: int) -> list[tuple[int, int]]:
    """Per-shard universal-hash coefficients, generated on demand so ANY
    shard count works (the LCG is prefix-stable: growing S keeps every
    existing shard's hash, the HRW minimal-reshuffle property)."""
    return universal_coeffs(n_shards, RV_SEED)


def rendezvous_assign(d: DataFrame, n_shards: int) -> DataFrame:
    """(doc_id, shard_id, w): HRW assignment of each doc to the shard whose
    universal hash of the content fingerprint is largest (tiebreak: highest
    shard id — matched by the oracle's ORDER BY w DESC, s DESC)."""
    hv = F.pmod(
        rolling_fingerprint_expr(ts.tokens_expr(F.col("text"))),
        F.lit(MERSENNE31),
    )
    entries = [
        F.struct(
            ((F.lit(a) * hv + F.lit(b)) % F.lit(MERSENNE31)).alias("w"),
            F.lit(s).cast("int").alias("shard_id"),
        )
        for s, (a, b) in enumerate(_rv_coeffs(n_shards))
    ]
    best = F.array_max(F.array(*entries))
    return d.select(
        "doc_id",
        best["shard_id"].alias("shard_id"),
        best["w"].cast("long").alias("w"),
    )


def _rendezvous_sql(n_shards: int) -> str:
    values = ", ".join(
        f"({s}, {a}, {b})" for s, (a, b) in enumerate(_rv_coeffs(n_shards))
    )
    return f"""
    WITH h AS (
      SELECT doc_id, ((fp % {MERSENNE31}) + {MERSENNE31}) % {MERSENNE31} AS hv
      FROM (SELECT doc_id, {rolling_fingerprint_sql(ts.TOKENS_SQL)} AS fp
            FROM documents)
    ),
    ranked AS (
      SELECT doc_id, s::INT AS shard_id,
             ((a * hv + b) % {MERSENNE31})::BIGINT AS w,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY (a * hv + b) % {MERSENNE31} DESC, s DESC
             ) AS rn
      FROM h CROSS JOIN (VALUES {values}) AS sh(s, a, b)
    )
    SELECT doc_id, shard_id, w FROM ranked WHERE rn = 1 ORDER BY doc_id
    """


@register("rendezvous_shards", oracle=_rendezvous_sql(RV_SHARDS))
def rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable HRW shard assignment over `documents` at S=RV_SHARDS.

    Plan shape: one projection in the scan stage — the S-way argmax is an
    array_max over S inline structs, no shuffle, no window (the oracle's
    per-doc window is the SQL spelling, not the engine plan)."""
    return rendezvous_assign(
        read_table(spark, sf_dir, "documents"), RV_SHARDS
    )
