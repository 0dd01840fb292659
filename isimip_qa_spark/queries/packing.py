"""Sequence packing: concat-and-cut documents into fixed-length training
sequences.

The canonical LM training-prep step (reference analogue: none — this is one
of the beyond-reference training-data operators, like queries/mixing and
queries/decontaminate): lay every document's token stream end-to-end in a
deterministic global order (doc_id) and cut the concatenation into
SEQ_LEN-token sequences. Output is the exploded span map — one row per
(sequence, contributing document) with the offsets a sequence-assembly pass
needs — so the result is pure metadata (24 bytes/span), never re-shuffled
text.

Scale shape (the part worth getting right at 10^12 docs): the global
offset of each document is a prefix sum over the corpus in doc_id order.
A single unpartitioned window (``Window.orderBy("doc_id")``) would funnel
the corpus through ONE task; instead the prefix sum is hierarchical:

  1. block id: ``pid = doc_id div B`` with B chosen so ~n_partitions
     blocks cover the id range — a deterministic key (no
     ``repartitionByRange`` sampling, which is nondeterministic across
     recomputations and would desync step 2 from step 3);
  2. per-block token totals: one map-side-combined hash agg over ~P rows,
     collected to the driver (P rows, bounded by config — the same
     "table-stats to the driver" discipline as hot-host detection),
     cumulated, and joined back as a broadcast P-row dim table;
  3. within-block offsets: a window partitioned BY pid — every partition
     sorts only its own block, all partitions in parallel — plus the
     block's broadcast base.

Spans then come from ``sequence(first_seq, last_seq)`` + ``explode``:
a document starting at global offset s with n tokens contributes to
sequences ``s div L .. (s+n-1) div L``. Integer ``DIV`` end-to-end — at
10^12-doc scale global token offsets exceed 2^53, so float ``floor()``
would corrupt offsets; everything here stays in BIGINT.

The synthetic documents table has dense doc_ids, so ``div``-blocking is
balanced; on a production Iceberg table the same scheme keys on the
file-ordinal × row-position index (monotone and dense by construction),
which is also what makes the packing deterministic run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from . import register

SEQ_LEN = 256  # tokens per packed sequence
PACK_BLOCKS = 32  # prefix-sum blocks (≈ partitions participating)

_PACK_SQL = f"""
    WITH toks AS (
      SELECT doc_id, len({ts.TOKENS_SQL})::BIGINT AS n
      FROM documents
    ),
    offs AS (
      SELECT doc_id, n,
             coalesce(sum(n) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0)::BIGINT AS gstart
      FROM toks
    ),
    spans AS (
      SELECT doc_id, n, gstart,
             unnest(generate_series(gstart // {SEQ_LEN},
                                    (gstart + n - 1) // {SEQ_LEN})) AS seq_id
      FROM offs
      WHERE n > 0
    )
    SELECT seq_id::BIGINT AS seq_id,
           doc_id,
           greatest(seq_id * {SEQ_LEN} - gstart, 0)::BIGINT AS doc_start,
           greatest(gstart - seq_id * {SEQ_LEN}, 0)::BIGINT AS seq_start,
           (least((seq_id + 1) * {SEQ_LEN}, gstart + n)
            - greatest(seq_id * {SEQ_LEN}, gstart))::BIGINT AS len
    FROM spans
"""


@register("pack_sequences", oracle=_PACK_SQL)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", ts.n_words_expr(F.col("text")).cast("long").alias("n")
    ).filter(F.col("n") > 0)

    # block key: deterministic div-blocking over the id range (docstring §1)
    bounds = toks.agg(F.max("doc_id").alias("mx")).first()
    block = max(1, (int(bounds["mx"]) + PACK_BLOCKS) // PACK_BLOCKS)
    toks = toks.withColumn("pid", (F.col("doc_id") / block).cast("long"))

    # per-block totals -> driver (≤ PACK_BLOCKS rows) -> cumulative bases
    totals = toks.groupBy("pid").agg(F.sum("n").alias("tot")).collect()
    base, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["pid"]):
        base[row["pid"]] = acc
        acc += row["tot"]
    bases = spark.createDataFrame(
        [(pid, b) for pid, b in base.items()], "pid long, base long"
    )

    # within-block running offset + broadcast base = global offset
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        toks.join(F.broadcast(bases), "pid")
        .withColumn(
            "gstart", F.sum("n").over(w) - F.col("n") + F.col("base")
        )
    )

    L = F.lit(SEQ_LEN)
    first_seq = F.expr(f"gstart DIV {SEQ_LEN}")
    last_seq = F.expr(f"(gstart + n - 1) DIV {SEQ_LEN}")
    spans = offs.select(
        "doc_id",
        "n",
        "gstart",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    return spans.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        F.greatest(F.col("seq_id") * L - F.col("gstart"), F.lit(0))
        .cast("long")
        .alias("doc_start"),
        F.greatest(F.col("gstart") - F.col("seq_id") * L, F.lit(0))
        .cast("long")
        .alias("seq_start"),
        (
            F.least((F.col("seq_id") + 1) * L, F.col("gstart") + F.col("n"))
            - F.greatest(F.col("seq_id") * L, F.col("gstart"))
        )
        .cast("long")
        .alias("len"),
    )


_ASSEMBLE_SQL = f"""
    WITH spans AS ({_PACK_SQL}),
    pieces AS (
      SELECT s.seq_id, s.seq_start, s.len,
             array_to_string(
               list_slice({ts.tokens_sql('d.text')},
                          s.doc_start + 1, s.doc_start + s.len), ' ') AS piece
      FROM spans s JOIN documents d USING (doc_id)
    )
    SELECT seq_id,
           string_agg(piece, ' ' ORDER BY seq_start) AS seq_text,
           sum(len)::BIGINT AS n_tokens
    FROM pieces GROUP BY seq_id
"""


@register("pack_assemble", oracle=_ASSEMBLE_SQL)
def pack_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialise the packed sequences: join the span map back to the
    documents, slice each document's token window, and reassemble per
    sequence in seq_start order. Every sequence except the last is exactly
    SEQ_LEN tokens — the actual trainer input.

    Scale shape: text moves exactly twice — once through the doc_id join
    (spans are 24-byte rows; the documents side carries the text) and once
    through the seq_id grouping (each piece is ≤ SEQ_LEN tokens). Both are
    plain hash exchanges on 8-byte keys; the per-sequence sort is
    `array_sort` over ≤ SEQ_LEN/1-token structs inside the aggregate, never
    a global or per-partition sort. At 10^12 docs pre-bucketing both sides
    on doc_id (write_pages layout) elides the first exchange."""
    spans = pack_sequences(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    pieces = spans.join(docs, "doc_id").select(
        "seq_id",
        "seq_start",
        F.col("len"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("doc_start") + 1, F.col("len"))
        ).alias("piece"),
    )
    parts = F.array_sort(
        F.collect_list(F.struct("seq_start", "piece"))
    )
    return pieces.groupBy("seq_id").agg(
        F.concat_ws(
            " ",
            F.transform(parts, lambda p: p["piece"]),
        ).alias("seq_text"),
        F.sum("len").cast("long").alias("n_tokens"),
    )
