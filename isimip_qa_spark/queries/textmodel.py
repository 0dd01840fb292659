"""Model-shaped text operators: linear quality classifier, tf-idf top
terms, and n-gram LM training — the "learned" half of a web-text QA
pipeline (the heuristic half lives in queries/webtext.py).

Cross-engine float discipline (see queries/__init__.py): every score here
is built from int64 sums and single IEEE-754 divisions/multiplications
(exactly specified, bit-identical on any engine) — no transcendentals in
values or in top-k selection. Where a production system would use ln() the
docstring says so and why the twin avoids it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import read_table
from ..functions import textstats as ts
from ..functions.fingerprint import KNUTH, MOD31, token_hash_expr, token_hash_sql
from . import register
from .webtext import _GOPHER_SQL

# ---------------------------------------------------------------------------
# quality_classifier — hashing-trick linear text classifier
# ---------------------------------------------------------------------------

N_BUCKETS = 2048  # feature-hash dimensionality
_W_SALT = 12345
_W_SCALE = 1 << 30  # weights are ints in [-2^30, 2^30): exact int64 sums


def _weight_expr(tok: Column) -> Column:
    """w(token) = ((hash31(token) % D) * KNUTH + salt) % 2^31 - 2^30.

    A deterministic stand-in for trained weights: the bucket→weight map is
    a closed-form function compiled INTO the plan (the fastText-quantized
    analogue of shipping the model as an expression). A real trained model
    swaps this arithmetic for `F.element_at(F.lit(weights), bucket + 1)` —
    a broadcast array lookup with the identical plan shape: one projected
    scan, zero shuffle, zero Python."""
    b = token_hash_expr(tok) % F.lit(N_BUCKETS)
    return (b * F.lit(KNUTH) + F.lit(_W_SALT)) % F.lit(MOD31) - F.lit(_W_SCALE)


def _weight_sql(tok: str) -> str:
    b = f"(({token_hash_sql(tok)}) % {N_BUCKETS})"
    return f"(({b} * {KNUTH} + {_W_SALT}) % {MOD31} - {_W_SCALE})"


_CLASSIFIER_SQL = f"""
    WITH s AS (
      SELECT doc_id,
             len({ts.TOKENS_SQL})::BIGINT AS n_tokens,
             list_sum(list_transform({ts.TOKENS_SQL},
                                     t -> {_weight_sql('t')}))::BIGINT AS swi
      FROM documents
    )
    SELECT doc_id, n_tokens,
           round(swi::DOUBLE / (n_tokens * {_W_SCALE}::DOUBLE), 6) AS score,
           swi > 0 AS keep_ml
    FROM s ORDER BY doc_id
"""


@register("quality_classifier", _CLASSIFIER_SQL)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc linear classifier score over hashed token features.

    score = mean token weight (scaled to [-1, 1)); keep_ml = sum > 0 — the
    keep decision compares int64 sums, so it is exact by construction, and
    `score` is one IEEE division of exact ints (bit-identical cross-engine).

    Scale shape: `F.aggregate` over the token array — a map-stage
    expression inside whole-stage codegen. No explode, no shuffle, no
    Python: the 100-TB cost is exactly one projected scan of (doc_id,
    text), same as the Gopher rules it would gate alongside."""
    docs = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    swi = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + _weight_expr(t),
    )
    n = F.size(toks).cast("long")
    return (
        docs.select(
            "doc_id",
            n.alias("n_tokens"),
            F.round(
                swi.cast("double") / (n * F.lit(float(_W_SCALE))), 6
            ).alias("score"),
            (swi > 0).alias("keep_ml"),
        )
    )


# ---------------------------------------------------------------------------
# tfidf_top_terms — corpus-level term importance per language
# ---------------------------------------------------------------------------

TOPK_TERMS = 5
_IDF_SCALE = 1_000_000.0


_TFIDF_SQL = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({ts.TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT lang, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    scored AS (
      SELECT lang, term, tf, df,
             tf * (n_docs * {_IDF_SCALE} / df) AS score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY tf * (n_docs * {_IDF_SCALE} / df) DESC,
                                         term ASC) AS rk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, df, score FROM scored WHERE rk <= {TOPK_TERMS}
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} terms per language by tf·idf with the RATIONAL idf variant
    idf = N·10⁶/df: a single exact IEEE division, so the top-k SELECTION is
    bit-identical cross-engine (ln(N/df) is not exactly specified and a
    1-ulp divergence could flip near-ties; the log variant is a one-line
    swap and reranks nothing at these df gaps).

    Scale shape: the tf agg is wordcount (map-side partial agg absorbs the
    explode); df reuses the same exploded view with array_distinct per doc
    first so a term counts once per doc; the df side (vocab-sized) joins tf
    on term — at web scale both sides are already hash-partitioned by term
    from their aggs, so the join co-locates without a third shuffle. The
    per-lang window sees only vocab-sized input (post-agg), not the corpus;
    a 1000-executor run would add a per-(lang, salt) local top-k before the
    global window (the extras.topk_per_group two-phase pattern) if the
    vocabulary itself outgrew a partition."""
    docs = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    tok = docs.select("doc_id", "lang", F.explode(toks).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(toks)).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.count()  # scalar; the oracle's (SELECT count(*)) twin
    score = F.col("tf") * (
        F.lit(float(n_docs)) * F.lit(_IDF_SCALE) / F.col("df")
    )
    w = Window.partitionBy("lang").orderBy(
        score.desc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK_TERMS)
        .select("lang", "term", "tf", "df", "score")
    )


# ---------------------------------------------------------------------------
# ngram_lm_train — train the bigram LM the perplexity stage consumes
# ---------------------------------------------------------------------------

MIN_COUNT = 3


_LM_SQL = f"""
    WITH t AS (SELECT {ts.TOKENS_SQL} AS tok FROM documents),
    pairs AS (
      SELECT tok[i] AS w1, tok[i + 1] AS w2
      FROM t, unnest(range(1, len(tok))) AS u(i)
    ),
    cnt AS (SELECT w1, w2, count(*)::BIGINT AS cnt FROM pairs GROUP BY 1, 2),
    tot AS (
      SELECT w1, w2, cnt, sum(cnt) OVER (PARTITION BY w1)::BIGINT AS ctx_total
      FROM cnt
    )
    SELECT w1, w2, cnt, cnt::DOUBLE / ctx_total::DOUBLE AS prob
    FROM tot WHERE cnt >= {MIN_COUNT}
"""


@register("ngram_lm_train", _LM_SQL)
def ngram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability table from the corpus: (w1, w2, cnt,
    prob = cnt / Σ_w cnt(w1, w)) for bigrams seen ≥ {MIN_COUNT} times —
    the training half of the KenLM-style scorer in functions/perplexity.py
    (which consumes a closed-form model today; this emits the table a real
    run would broadcast into it). `prob` is one exact IEEE division of
    int64 counts; a production LM stores round(log2(prob)·2⁻ᵏ) dyadics for
    the same cross-engine reasons (see perplexity.py).

    Scale shape: bigrams come from arrays_zip of two token-array slices
    (no index sequence, no risk on 1-token docs), explode feeds a
    wordcount-shaped agg (map-side partials), and the context totals are a
    window over w1 on the ALREADY-AGGREGATED (w1, w2) counts — vocab²
    -bounded, not corpus-bounded. The cnt filter applies after the window
    so rare bigrams still contribute to their context's denominator."""
    docs = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    cnt = (
        docs.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("w1")
    return (
        cnt.withColumn("ctx_total", F.sum("cnt").over(w))
        .filter(F.col("cnt") >= MIN_COUNT)
        .select(
            "w1",
            "w2",
            "cnt",
            (F.col("cnt").cast("double") / F.col("ctx_total").cast("double")).alias(
                "prob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# quality_train_nb — Naive-Bayes trainer distilling heuristic keep labels
# ---------------------------------------------------------------------------

_SMOOTH = 1  # add-one (Laplace) smoothing


def _nb_sql() -> str:
    # label CTE = the full production Gopher keep decision (webtext._GOPHER_SQL
    # as a subquery), so the trained table distills exactly the rules the
    # pipeline ships
    return f"""
    WITH lbl AS (SELECT doc_id, keep FROM ({_GOPHER_SQL}) g),
    tok AS (
      SELECT l.keep, unnest({ts.TOKENS_SQL}) AS t
      FROM documents d JOIN lbl l ON d.doc_id = l.doc_id
    ),
    bk AS (
      SELECT ({token_hash_sql('t')}) % {N_BUCKETS} AS bucket,
             sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
             sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_drop
      FROM tok GROUP BY 1
    ),
    tot AS (SELECT sum(n_keep)::BIGINT AS t_keep,
                   sum(n_drop)::BIGINT AS t_drop FROM bk)
    SELECT bucket, n_keep, n_drop,
           (n_keep + {_SMOOTH})::DOUBLE / (t_keep + {_SMOOTH * N_BUCKETS}) AS p_keep,
           (n_drop + {_SMOOTH})::DOUBLE / (t_drop + {_SMOOTH * N_BUCKETS}) AS p_drop
    FROM bk CROSS JOIN tot ORDER BY bucket
"""


@register("quality_train_nb", _nb_sql())
def quality_train_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a hashed-feature Naive-Bayes quality model from heuristic labels.

    The standard bootstrap for a learned quality gate (the fastText-style
    classifier in the north star): label every document with the heuristic
    Gopher keep decision, then distill those labels into per-bucket class
    statistics a cheap scorer can apply where the full rule set is too
    expensive or too brittle. Output is the trained table — one row per
    feature bucket with class-conditional token counts and Laplace-smoothed
    conditional probabilities. `p_keep`/`p_drop` are single IEEE divisions
    of exact int64 sums (bit-identical cross-engine); a scorer sums their
    logs, which is engine-local arithmetic on this exactly-reproducible
    table. `quality_classifier` above is the matching inference shape (the
    weight lookup compiled into the plan).

    Scale shape: ONE corpus scan computes the keep label and the token
    array in the same projection (no join back to the corpus — the label is
    an expression, not a table); explode feeds a hash agg keyed on the
    bucket id whose cardinality is {N_BUCKETS}, so map-side partial
    aggregation collapses every task's token stream to ≤ {N_BUCKETS} rows
    before the one exchange. Class totals are a whole-frame window over the
    ALREADY-AGGREGATED table — its single task is bounded by {N_BUCKETS}
    rows by construction, and the corpus subtree is not recomputed (a
    re-aggregate + broadcast-join formulation evaluates the scan+explode
    twice; asserted in tests)."""
    docs = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    ex = docs.select(
        ts.keep_expr(text).alias("keep"),
        F.explode(ts.tokens_expr(text)).alias("t"),
    )
    bucket = token_hash_expr(F.col("t")) % F.lit(N_BUCKETS)
    bk = ex.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("n_drop"),
    )
    w = Window.partitionBy()
    d = _SMOOTH * N_BUCKETS
    return (
        bk.withColumn("t_keep", F.sum("n_keep").over(w))
        .withColumn("t_drop", F.sum("n_drop").over(w))
        .select(
            "bucket",
            "n_keep",
            "n_drop",
            (
                (F.col("n_keep") + F.lit(_SMOOTH)).cast("double")
                / (F.col("t_keep") + F.lit(d))
            ).alias("p_keep"),
            (
                (F.col("n_drop") + F.lit(_SMOOTH)).cast("double")
                / (F.col("t_drop") + F.lit(d))
            ).alias("p_drop"),
        )
        .orderBy("bucket")
    )



# ---------------------------------------------------------------------------
# NB inference + F1 — closing the quality_train_nb loop. quality_nb_score
# applies the trained per-bucket class-conditional table as a per-document
# log-odds sum; nb_f1 reports the distillation quality against the teacher
# (the heuristic Gopher gate) in exactly the north-star's metric shape
# (keep/drop F1). Scale shape: the model is N_BUCKETS rows — broadcast; the
# per-doc sum is ONE exchange keyed on doc_id (the label rides the explode
# as one boolean per token row, so the corpus is scanned once and never
# joined back to itself). Determinism: per-bucket log-odds are dyadic-
# quantized (1/Q, the DSIR recipe) so per-doc sums are order-independent
# and the keep decision (sum > 0) compares an EXACT value on both engines.
# ---------------------------------------------------------------------------

_NBQ = 1024  # dyadic grid for per-bucket log-odds


def _nb_score_sql() -> str:
    th = token_hash_sql("t")
    return f"""
    WITH lbl AS (SELECT doc_id, keep FROM ({_GOPHER_SQL}) g),
    tok AS (
      SELECT l.keep, unnest({ts.TOKENS_SQL}) AS t
      FROM documents d JOIN lbl l ON d.doc_id = l.doc_id
    ),
    bk AS (
      SELECT ({th}) % {N_BUCKETS} AS bucket,
             sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
             sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_drop
      FROM tok GROUP BY 1
    ),
    tot AS (SELECT sum(n_keep)::BIGINT AS t_keep,
                   sum(n_drop)::BIGINT AS t_drop FROM bk),
    model AS (
      SELECT bucket,
             round((ln((n_keep + {_SMOOTH})::DOUBLE / (t_keep + {_SMOOTH * N_BUCKETS}))
                  - ln((n_drop + {_SMOOTH})::DOUBLE / (t_drop + {_SMOOTH * N_BUCKETS})))
                   * {_NBQ}) / {_NBQ} AS lo
      FROM bk CROSS JOIN tot
    ),
    prior AS (
      SELECT round((ln((sum(CASE WHEN keep THEN 1 ELSE 0 END) + 1)::DOUBLE / (count(*) + 2))
                  - ln((sum(CASE WHEN keep THEN 0 ELSE 1 END) + 1)::DOUBLE / (count(*) + 2)))
                   * {_NBQ}) / {_NBQ} AS lo0
      FROM lbl
    ),
    doctok AS (
      SELECT l.doc_id, l.keep, ({th}) % {N_BUCKETS} AS bucket
      FROM (SELECT doc_id, unnest({ts.TOKENS_SQL}) AS t FROM documents) d
      JOIN lbl l ON d.doc_id = l.doc_id
    ),
    sc AS (
      SELECT doc_id, max(keep) AS heur_keep, sum(m.lo) AS s
      FROM doctok JOIN model m USING (bucket) GROUP BY doc_id
    )
    SELECT sc.doc_id, round(p.lo0 + sc.s, 6) AS nb_logodds,
           (p.lo0 + sc.s) > 0 AS nb_keep, sc.heur_keep
    FROM sc CROSS JOIN prior p
"""


def _nb_score_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three corpus scans, deliberately: (1) the trainer's keep+tokens scan,
    # (2) the label-only prior scan below, (3) the scoring explode. Deriving
    # the prior from `sc` (it carries per-doc heur_keep) LOOKS like it
    # removes scan 2, but Spark does not reuse the sc exchange between
    # `sc.agg(...)` and the output that joins it (measured: ReusedExchange
    # absent from the final adaptive plan; the broadcast of an agg-over-sc
    # additionally serializes the heavy subtree behind the broadcast
    # timeout) — so that shape re-evaluates scan 3's explode+join+agg, far
    # costlier than the label-only projection it would replace. In
    # production the trainer output is a persisted artifact and scan 1
    # disappears entirely (the dsir_artifact pattern).
    docs = read_table(spark, sf_dir, "documents")
    text = F.col("text")

    def _q(x: Column) -> Column:
        return F.round(x * _NBQ) / _NBQ

    d = _SMOOTH * N_BUCKETS
    model = (
        quality_train_nb(spark, sf_dir)
        .select("bucket", _q(F.log("p_keep") - F.log("p_drop")).alias("lo"))
    )
    lbl = docs.select(ts.keep_expr(text).alias("keep"))
    prior = lbl.agg(
        _q(
            F.log(
                (F.sum(F.when(F.col("keep"), 1).otherwise(0)) + 1).cast("double")
                / (F.count("*") + 2)
            )
            - F.log(
                (F.sum(F.when(F.col("keep"), 0).otherwise(1)) + 1).cast("double")
                / (F.count("*") + 2)
            )
        ).alias("lo0")
    )
    ex = docs.select(
        "doc_id",
        ts.keep_expr(text).alias("keep"),
        F.explode(ts.tokens_expr(text)).alias("t"),
    ).select(
        "doc_id",
        "keep",
        (token_hash_expr(F.col("t")) % F.lit(N_BUCKETS)).alias("bucket"),
    )
    sc = (
        ex.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(F.max("keep").alias("heur_keep"), F.sum("lo").alias("s"))
    )
    total = F.col("lo0") + F.col("s")
    return sc.crossJoin(F.broadcast(prior)).select(
        "doc_id",
        F.round(total, 6).alias("nb_logodds"),
        (total > 0).alias("nb_keep"),
        "heur_keep",
    )


@register("quality_nb_score", _nb_score_sql())
def quality_nb_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, nb_logodds, nb_keep, heur_keep): every document scored by
    the trained NB table (prior + summed per-bucket log-odds; ln p_keep/
    p_drop recomputed from the trainer's OWN p columns, so trainer and
    scorer can never disagree about the model)."""
    return _nb_score_df(spark, sf_dir)


@register(
    "nb_f1",
    oracle=f"""
    WITH scored AS ({_nb_score_sql()})
    SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
           round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall,
           round(CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0), 6) AS f1
    FROM (
      SELECT sum(CASE WHEN nb_keep AND heur_keep THEN 1 ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN nb_keep AND NOT heur_keep THEN 1 ELSE 0 END)::BIGINT AS fp,
             sum(CASE WHEN NOT nb_keep AND heur_keep THEN 1 ELSE 0 END)::BIGINT AS fn,
             sum(CASE WHEN NOT nb_keep AND NOT heur_keep THEN 1 ELSE 0 END)::BIGINT AS tn
      FROM scored
    )
    """,
)
def nb_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: NB-vs-heuristic confusion counts + precision/recall/F1 —
    the distillation-quality report in the north-star's own metric (the
    trained gate must track the teacher's keep/drop). One conditional hash
    agg over the scored output; the corpus never shuffles twice."""
    s = _nb_score_df(spark, sf_dir)
    agg = s.agg(
        F.sum(F.when(F.col("nb_keep") & F.col("heur_keep"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("nb_keep") & ~F.col("heur_keep"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("nb_keep") & F.col("heur_keep"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("nb_keep") & ~F.col("heur_keep"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.expr("CAST(tp AS DOUBLE) / nullif(tp + fp, 0)"), 6
        ).alias("precision"),
        F.round(
            F.expr("CAST(tp AS DOUBLE) / nullif(tp + fn, 0)"), 6
        ).alias("recall"),
        F.round(
            F.expr("CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0)"), 6
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# BPE merge candidates — the first training iteration of byte-pair
# encoding (Sennrich et al. 2016): adjacent character-pair frequencies.
# The tokenizer-training half of the pipeline (token_count in webtext.py
# is the inference-side estimate).
#
# Scale shape — the classic BPE trick, distributed: pair counting runs on
# the WORD VOCABULARY, not the corpus. One scan explodes words into a
# hash agg (map-side combine collapses each task's word stream to its
# distinct words before the one corpus-sized exchange); the vocab table
# (|V| rows, ~10^8 at web scale — a table, never driver state) then
# explodes its ~|word| character pairs weighted by word count into a
# second small agg keyed on the ≤ |charset|² pair. Corpus bytes are
# touched once; per-pair work is O(|V|·avg_len), independent of corpus
# size. Later BPE iterations re-run the same two aggs over the re-segmented
# vocab — each iteration is this query's plan with a different splitter.
# ---------------------------------------------------------------------------


@register(
    "bpe_merge_pairs",
    oracle=f"""
    WITH w AS (
      SELECT unnest({ts.TOKENS_SQL}) AS w FROM documents
    ),
    v AS (SELECT w, count(*)::BIGINT AS c FROM w GROUP BY w),
    p AS (
      SELECT w[i:i+1] AS pair, c
      FROM v, UNNEST(range(1, len(w))) AS u(i)
    )
    SELECT pair[1:1] AS lhs, pair[2:2] AS rhs, sum(c)::BIGINT AS n_pairs
    FROM p GROUP BY pair
    """,
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    w = F.col("w")
    pair_arr = F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1),
            lambda i: w.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = vocab.select(F.explode(pair_arr).alias("pair"), "c")
    return pairs.groupBy("pair").agg(F.sum("c").alias("n_pairs")).select(
        F.substring("pair", 1, 1).alias("lhs"),
        F.substring("pair", 2, 1).alias("rhs"),
        "n_pairs",
    )


# ---------------------------------------------------------------------------
# BPE segmentation with a shipped merge list. The merge list below is the
# artifact operators/bpe.py's train_bpe produces (its leading entries ARE
# this corpus's trained merges — asserted in tests/test_bpe.py); shipping
# it as config mirrors how tokenizers deploy (merges.txt), and makes the
# application side exactly oracle-able: both engines run the identical
# regexp-space + replace chain (replace-all leftmost-non-overlapping is
# BPE's within-word merge order; the space padding stops substring matches
# inside multi-char symbols).
# ---------------------------------------------------------------------------

BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
]


def bpe_len_expr(w: Column) -> Column:
    """Subword count of one word under BPE_MERGES — pure column exprs.
    Representation is the double-separated symbol string of
    operators/bpe.py `spaced_expr` (each symbol self-delimited, so
    replace-all merges adjacent occurrences like canonical BPE); `(?s)`
    keeps \\n/\\t chars as real symbols. Empty word → 0 subwords."""
    rep = F.regexp_replace(w, "(?s)(.)", " $1 ")
    for lhs, rhs in BPE_MERGES:
        rep = F.replace(
            rep, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    return F.when(
        F.length(w) > 0, F.size(F.split(F.trim(rep), "  "))
    ).otherwise(F.lit(0))


def _bpe_len_sql(w_sql: str) -> str:
    """DuckDB twin of bpe_len_expr — explicit space-only trim (DuckDB's
    default trim strips Unicode whitespace, which would eat \\n symbols)."""
    rep = f"regexp_replace({w_sql}, '(.)', ' \\1 ', 'gs')"
    for lhs, rhs in BPE_MERGES:
        rep = f"replace({rep}, ' {lhs}  {rhs} ', ' {lhs}{rhs} ')"
    return (
        f"(case when len({w_sql}) > 0 "
        f"then len(string_split(trim({rep}, ' '), '  ')) else 0 end)"
    )


@register(
    "bpe_segment",
    oracle=f"""
    SELECT doc_id,
           len({ts.TOKENS_SQL})::BIGINT AS n_tok_ws,
           list_sum(list_transform({ts.TOKENS_SQL},
                                   w -> {_bpe_len_sql("w")}))::BIGINT
             AS n_tok_bpe
    FROM documents
    ORDER BY doc_id
    """,
)
def bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok_ws, n_tok_bpe): per-document token counts under
    whitespace tokenization vs the shipped BPE merge list — the sizing
    numbers a context-window budget (pack_sequences, chunk_long_docs) is
    computed from when training uses a subword tokenizer.

    Zero shuffle: the merge chain runs inside a transform over the token
    array in the scan stage. At 10^12 docs the refinement is a broadcast
    word→n_subwords dim built from word_vocab (operators/bpe.py) so each
    DISTINCT word pays the replace chain once (Heaps-law sublinear), then
    a map-side join — same answer, same zero-shuffle corpus side."""
    d = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok_ws"),
        F.aggregate(
            F.transform(toks, lambda w: bpe_len_expr(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_tok_bpe"),
    )


_BPE_DOC_SQL = (
    f"list_sum(list_transform({ts.TOKENS_SQL}, w -> {_bpe_len_sql('w')}))"
)


@register(
    "bpe_fertility",
    oracle=f"""
    SELECT lang,
           sum(len({ts.TOKENS_SQL}))::BIGINT AS n_tok_ws,
           sum({_BPE_DOC_SQL})::BIGINT AS n_tok_bpe,
           round(sum({_BPE_DOC_SQL})::DOUBLE
                 / sum(len({ts.TOKENS_SQL})), 6) AS fertility
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subwords emitted per whitespace
    word under the shipped merge list — THE number multilingual pipelines
    tune vocab allocation by (fertility >> 1 in a language means the
    tokenizer fragments it, silently inflating that language's training
    cost per effective token; cf. the analyses around mBERT/XLM-R vocab
    sizing).

    Scale shape: bpe_segment's zero-shuffle per-doc fold collapsing into a
    <= |langs|-key hash agg — partial-aggregable, corpus scanned once,
    nothing but (lang, two int64 partials) ever shuffles. Float contract:
    exact int64 sums, ONE final IEEE division per lang (identical both
    engines), round-to-6 defensive."""
    d = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    per_doc_bpe = F.aggregate(
        F.transform(toks, lambda w: bpe_len_expr(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        d.select(
            "lang",
            F.size(toks).cast("long").alias("ws"),
            per_doc_bpe.alias("nb"),
        )
        .groupBy("lang")
        .agg(
            F.sum("ws").alias("n_tok_ws"),
            F.sum("nb").alias("n_tok_bpe"),
        )
        .select(
            "lang",
            "n_tok_ws",
            "n_tok_bpe",
            F.round(F.col("n_tok_bpe") / F.col("n_tok_ws"), 6).alias(
                "fertility"
            ),
        )
        .orderBy("lang")
    )
