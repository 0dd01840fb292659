"""Selection & restructuring operators a curation pipeline runs after
dedup/QA scoring and before training-set assembly:

- `dedup_keep_best` — per near-dup cluster, keep the highest-quality member
  (tiebreak: lowest doc_id). The standard refinement over "keep first":
  within a cluster of near-duplicates the members genuinely differ (longer
  variant, cleaner variant), and dropping all but an arbitrary one throws
  away the best copy. Composes the existing `dedup_clusters` assignment
  (queries/dedup.py) with the engine-exact quality score (queries/webtext.py).
- `chunk_long_docs` — strided token-window chunking (CHUNK tokens, STRIDE
  step, CHUNK−STRIDE overlap): the dual of `pack_sequences` (queries/
  packing.py). Packing concatenates short docs up to the context window;
  chunking splits long docs down to it, with overlap so no training span
  loses its left context at a hard boundary.
- `domain_diversity` — one-row corpus diversity datasheet over source
  token-share: Shannon entropy (bits), normalized entropy, Herfindahl-
  Hirschman index, and top-source share. The ablation-report numbers a
  mixing step (queries/mixing.py `lang_rebalance`) is judged by.

Scale notes (100 TB):
- dedup_keep_best's argmax is a hash AGGREGATION (`max(struct(quality,
  -doc_id))`), not a window: partial-aggregable map-side, so a degenerate
  boilerplate cluster of k members reduces inside each map task instead of
  routing k rows through one window task. The shuffle carries
  (cluster_id, quality, doc_id) = 24 bytes/row; text never moves (quality
  is computed map-side from the scan). Cluster assignment itself reuses
  dedup_clusters, whose pair generation is capped (tests/test_dedup_caps.py).
- chunk_long_docs is a narrow map + explode — zero shuffle; output rows
  ≈ n_tokens/STRIDE, each carrying only its own chunk slice. At 10¹² docs
  the only sizing concern is output-partition width, which
  spark.sql.files.maxPartitionBytes already bounds on the scan side.
- domain_diversity aggregates on `source` (≤ O(10⁷) hosts ≪ rows) then
  reduces ~|sources| rows to 1 — both partial-aggregable; the total-token
  denominator is a 1-row broadcast, not a second scan (one pass computes
  per-source sums; the total is derived from those sums driver-free).
  Entropy/HHI sums are O(|sources|) float adds rounded to 6 — stable far
  beyond the 1e-15 accumulation-order jitter.

Reference anchor: isimip_qa/extractions/mean.py's per-dataset summary
extraction (one weighted summary stat per subject) — `domain_diversity`
is the corpus-level summary analogue; keep-best selection is a payload
operator with no reference analogue (the reference never ranks datasets
against each other).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions.textstats import TOKENS_SQL
from . import register
from .datasheet import QD
from .dedup import JACCARD_THRESHOLD, _clusters_sql, cluster_assignment
from .webtext import QUALITY_SQL, quality_expr

# ---------------------------------------------------------------------------
# Keep-best-in-cluster: near-dup clusters from dedup_clusters, winner by
# (quality DESC, doc_id ASC).
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_best",
    oracle=f"""
    SELECT cluster_id, doc_id, quality
    FROM (
      SELECT c.cluster_id, c.doc_id, q.quality,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY q.quality DESC, c.doc_id
             ) AS rn
      FROM ({_clusters_sql(JACCARD_THRESHOLD)}) c
      JOIN (SELECT doc_id, {QUALITY_SQL} AS quality FROM documents) q
        USING (doc_id)
    )
    WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_id, doc_id, quality): the highest-quality member of each
    near-dup cluster, lowest doc_id on quality ties (exact-dup members
    share a text, hence a quality, so the tiebreak decides there).

    Argmax by `max(struct(quality, -doc_id))` — partial-aggregable, no
    per-cluster window funnel (module docstring)."""
    docs = read_table(spark, sf_dir, "documents")
    clusters = cluster_assignment(spark, sf_dir)
    q = docs.select("doc_id", quality_expr(F.col("text")).alias("quality"))
    best = (
        clusters.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("best")
        )
    )
    return best.select(
        "cluster_id",
        (-F.col("best.neg_id")).alias("doc_id"),
        F.col("best.quality").alias("quality"),
    ).orderBy("cluster_id")


# ---------------------------------------------------------------------------
# Strided token-window chunking.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16 tokens


@register(
    "chunk_long_docs",
    oracle=f"""
    SELECT doc_id,
           (s // {CHUNK_STRIDE})::BIGINT AS chunk_idx,
           s::BIGINT AS start_tok,
           len(list_slice(toks, s + 1, s + {CHUNK_TOKENS}))::BIGINT AS n_tok,
           array_to_string(
             list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' ') AS chunk_text
    FROM (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), {CHUNK_STRIDE})) AS s
      FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
    )
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_long_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, n_tok, chunk_text): every doc split
    into CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens (trailing
    window may be short; a doc shorter than one window yields one chunk).

    Narrow map + explode, zero shuffle. The chunk set is reconstruction-
    complete: token t of a doc appears in chunk floor(t/STRIDE) (and in the
    previous chunk's overlap tail when t mod STRIDE < CHUNK−STRIDE)."""
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    starts = F.sequence(
        F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE)
    )
    e = base.select("doc_id", "toks", F.explode(starts).alias("s"))
    chunk = F.slice(F.col("toks"), F.col("s") + 1, F.lit(CHUNK_TOKENS))
    return e.select(
        "doc_id",
        F.floor(F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Corpus diversity datasheet: token-share entropy / HHI over sources.
# ---------------------------------------------------------------------------


@register(
    "domain_diversity",
    oracle=f"""
    WITH per AS (
      SELECT source,
             sum(len({TOKENS_SQL}))::BIGINT AS toks
      FROM documents GROUP BY source
    ),
    t AS (SELECT sum(toks)::BIGINT AS tot FROM per),
    p AS (SELECT toks::DOUBLE / tot AS share FROM per, t),
    q AS (SELECT share,
                 round(share * log2(share) * {QD}) / {QD} AS e_t,
                 round(share * share * {QD}) / {QD} AS h_t
          FROM p)
    SELECT count(*)::BIGINT AS n_sources,
           (SELECT tot FROM t) AS total_tokens,
           round(-sum(e_t), 6) AS entropy_bits,
           round(-sum(e_t) / log2(count(*)), 6) AS norm_entropy,
           round(sum(h_t), 6) AS hhi,
           round(max(share), 6) AS top_share
    FROM q
    """,
)
def domain_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_sources, total_tokens, entropy_bits, norm_entropy, hhi,
    top_share) over per-source token shares.

    Two partial-aggregable hash aggs (source → 1 row); the denominator is
    a 1-row broadcast joined back, so the corpus is scanned once.

    Float contract (the source_divergence QD discipline): each entropy /
    HHI contribution is quantized to the 1/2²⁰ dyadic grid BEFORE the sum
    on both engines, so entropy_bits and hhi are sums of identical dyadics
    — exact in any accumulation order. The round-5 dyadic sweep probe
    (tests/test_dyadic_discipline.py) caught the unquantized norm_entropy
    sitting 8.5e-10 from a round-6 boundary at sf0.01 — exactly the
    round-4 lang_quality_rollup failure class, fixed the same way. The
    remaining libm exposure is ONE division by log2(n_sources) in
    norm_entropy (≤1-ulp cross-engine), boundary-probed at 1e-12."""
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("toks")
    )
    tot = per.agg(F.sum("toks").alias("tot"))
    p = per.crossJoin(F.broadcast(tot)).select(
        (F.col("toks").cast("double") / F.col("tot")).alias("share"),
        "tot",
    )
    e_t = F.round(F.col("share") * F.log2("share") * QD) / QD
    h_t = F.round(F.col("share") * F.col("share") * QD) / QD
    ent = -F.sum(e_t)
    return p.agg(
        F.count("*").alias("n_sources"),
        F.first("tot").alias("total_tokens"),
        F.round(ent, 6).alias("entropy_bits"),
        F.round(ent / F.log2(F.count("*")), 6).alias("norm_entropy"),
        F.round(F.sum(h_t), 6).alias("hhi"),
        F.round(F.max("share"), 6).alias("top_share"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size distribution.
# ---------------------------------------------------------------------------

@register(
    "cluster_size_hist",
    oracle=f"""
    WITH sizes AS (
      SELECT cluster_id, count(*)::BIGINT AS k
      FROM ({_clusters_sql(JACCARD_THRESHOLD)})
      GROUP BY cluster_id
    )
    SELECT length(bin(k)) ::BIGINT AS bucket,
           count(*)::BIGINT AS n_clusters,
           sum(k)::BIGINT AS n_docs
    FROM sizes
    GROUP BY bucket
    ORDER BY bucket
    """.replace("length(bin(k))", "(floor(log2(k))::BIGINT + 1)"),
)
def cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_clusters, n_docs): distribution of near-dup cluster sizes
    in power-of-two buckets (bucket b covers sizes [2^(b-1), 2^b - 1]) —
    the headline chart of every dedup study (how much of the corpus sits in
    singleton clusters vs mass-duplicate families), and the observability
    face for the LSH bucket caps: a crawl whose top bucket grows round over
    round is accumulating boilerplate families.

    Scale shape: composes the materialised cluster_assignment (16-byte-row
    scan, no re-run of the CC lineage), then two bounded hash aggs —
    per-cluster counts (8-byte keys, partial-aggregable) and the ≤64-key
    bucket rollup. Bucket id via length(bin(k)) = floor(log2(k)) + 1, the
    same exact integer trick as doclen_histogram (datasheet.py); the DuckDB
    twin uses floor(log2()) on BIGINT which is exact for k < 2^53."""
    sizes = (
        cluster_assignment(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    bucket = F.length(F.bin(F.col("k"))).cast("long")
    return (
        sizes.select(bucket.alias("bucket"), "k")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("k").alias("n_docs"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Repeat-count downweighting ("soft dedup"): instead of dropping near-dup
# cluster members, give each member sampling weight 1/k so every cluster
# contributes total mass 1 — in expectation the deduplicated corpus, but
# the sampler keeps the within-cluster diversity keep-first throws away.
# The data-constrained scaling results (Muennighoff et al. 2023) make this
# the principled alternative when unique data is the binding constraint:
# repeated occurrences have decaying, not zero, value.
#
# Scale shape: cluster_size is a COUNT window over cluster_id — ONE pass
# over the materialised cluster assignment (cluster_assignment: 16-byte
# rows, computed once per session/table), satisfied by a single
# hashpartitioning exchange on the 8-byte cluster_id; a groupBy-sizes +
# join-back would scan the assignment twice and add a join for the same
# answer the window gives in one operator (also exactly the oracle's
# shape). Degenerate boilerplate clusters are bounded upstream by the LSH
# bucket caps, so no window partition goes quadratic.
# Weight = round(1/k, 6): one IEEE division of identical integers on both
# engines, then the repo's standard 6-digit defensive round.
# ---------------------------------------------------------------------------


@register(
    "repeat_weights",
    oracle=f"""
    SELECT doc_id, cluster_size,
           round(1.0::DOUBLE / cluster_size, 6) AS weight
    FROM (
      SELECT doc_id,
             count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size
      FROM ({_clusters_sql(JACCARD_THRESHOLD)})
    )
    """,
)
def repeat_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_size, weight): per-document sampling weight 1/k
    over the near-dup cluster assignment — every cluster sums to mass 1,
    singletons keep weight 1."""
    w = Window.partitionBy("cluster_id")
    return cluster_assignment(spark, sf_dir).select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    ).select(
        "doc_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )
