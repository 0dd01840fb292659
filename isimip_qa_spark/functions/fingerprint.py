"""Document fingerprinting: order-sensitive rolling hash, SimHash, MinHash.

All three use the same engine-portable token hash so the DuckDB oracle can
reproduce them exactly with integer arithmetic:

    h(tok) = (len(tok)*2654435761 + ascii(first)*40503 + ascii(last)) mod 2^31

(2654435761 = Knuth's multiplicative constant.) It is spelled three times:
`token_hash_expr` (Spark), `token_hash_sql` (DuckDB) and `token_hash_np`
(the numpy kernels). MinHash additionally uses the classic universal-hash
family h_i(x) = (a_i*x + b_i) mod p with fixed seeded (a_i, b_i) — pure
integer math, identical everywhere.

The numpy kernels read the shared token frame (`textstats.tokens_arrow`):
every per-token value (code-point length, first/last code point, the
portable hash, FNV-1a-64) is computed once per UNIQUE token and gathered
through the frame's dictionary codes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from .textstats import tokens_arrow

KNUTH = 2654435761
MOD31 = 2**31
MERSENNE31 = (1 << 31) - 1  # hash values < 2^31 ⇒ a*h < 2^62, no int64 overflow
N_MINHASH = 64
LSH_BANDS = 16  # 16 bands × 4 rows: P(candidate | J=0.9) ≈ 1 - 6e-8
LSH_ROWS = 4
SIMHASH_BITS = 16


def universal_coeffs(n: int, seed: int) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for the universal-hash family h(x) = (a*x + b)
    mod MERSENNE31, drawn from a seeded LCG (deterministic, no RNG state).
    Distinct consumers use distinct seeds so their hash families are
    independent (minhash vs rendezvous sharding)."""
    coeffs, x = [], seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE31 - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE31
        coeffs.append((a, b))
    return coeffs


def minhash_coeffs() -> list[tuple[int, int]]:
    """MinHash's fixed coefficient set (seed unchanged since round 1)."""
    return universal_coeffs(N_MINHASH, 88172645463325252)


MINHASH_COEFFS = minhash_coeffs()


def token_hash_expr(tok: Column) -> Column:
    """Engine-portable token hash (see module docstring)."""
    return (
        F.length(tok).cast("long") * F.lit(KNUTH)
        + F.ascii(F.substring(tok, 1, 1)).cast("long") * F.lit(40503)
        + F.ascii(tok.substr(F.length(tok), F.lit(1))).cast("long")
    ) % F.lit(MOD31)


def token_hash_sql(tok: str) -> str:
    return (
        f"(length({tok})::BIGINT * {KNUTH} + ascii({tok}[1:1])::BIGINT * 40503"
        f" + ascii({tok}[length({tok}):length({tok})])::BIGINT) % {MOD31}"
    )


def token_hash_np(length: np.ndarray, first: np.ndarray, last: np.ndarray) -> np.ndarray:
    """numpy twin of token_hash_expr over int64 arrays of (code-point
    length, first code point, last code point); '' is (0, 0, 0)."""
    return (length * KNUTH + first * 40503 + last) % MOD31


def _codepoints(uniques: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(code points of the tokens back to back, code-point length of each
    token, start of each token in the first array): one UTF-8 → UTF-32
    decode of the array's data buffer, no per-token Python."""
    lens = pc.utf8_length(uniques).to_numpy().astype(np.int64)
    starts = np.cumsum(lens) - lens
    if not lens.any():  # no characters: the data buffer may be absent
        return np.zeros(0, dtype=np.uint32), lens, starts
    offs = np.frombuffer(uniques.buffers()[1], dtype=np.int32)
    lo, hi = offs[uniques.offset], offs[uniques.offset + len(uniques)]
    utf8 = memoryview(uniques.buffers()[2])[lo:hi]
    cps = np.frombuffer(str(utf8, "utf-8").encode("utf-32-le"), dtype=np.uint32)
    return cps, lens, starts


def token_ends(uniques: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(code-point length, first code point, last code point) per token as
    int64, '' → (0, 0, 0): the inputs of token_hash_np."""
    cps, lens, starts = _codepoints(uniques)
    cps = np.append(cps.astype(np.int64), 0)  # '' tokens read a masked slot
    some = lens > 0
    return lens, np.where(some, cps[starts], 0), np.where(some, cps[starts + lens - 1], 0)


def rolling_fingerprint_expr(tokens: Column) -> Column:
    """Order-sensitive polynomial fingerprint:
    sum over positions i (0-based) of (i+1) * h(tok_i), exact in int64."""
    return F.aggregate(
        F.transform(tokens, lambda x, i: (i + F.lit(1)).cast("long") * token_hash_expr(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def rolling_fingerprint_sql(tokens_sql: str) -> str:
    """DuckDB twin — NB DuckDB lambda index i is 1-based (Spark is 0-based)."""
    th = token_hash_sql("x")
    return (
        f"list_sum(list_transform({tokens_sql}, (x, i) -> i::BIGINT * ({th})))::BIGINT"
    )


def shingles_expr(tokens: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as strings (joined by single space)."""
    n = F.size(tokens)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
        )
    )


def shingles_sql(tokens_sql: str, k: int = 3) -> str:
    """DuckDB twin of `shingles_expr` (1-based INCLUSIVE list slicing).
    `array_to_string` over the clamped slice joins exactly the elements
    that exist — matching Spark's `concat_ws(slice(...))` on docs shorter
    than k tokens (a `||`-chain with coalesce('') pads trailing spaces
    there instead; caught by tests/test_portable_hash_property.py)."""
    t = tokens_sql
    return (
        f"list_distinct(list_transform(range(1, greatest(len({t}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string({t}[i:i+{k - 1}], ' ')))"
    )


def _universal_hash(a: int, b: int):
    """Single-arg lambda factory (pyspark infers HOF arity from signature)."""
    return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31)


def minhash_sig_expr(shingle_hashes: Column) -> Column:
    """64 min-hashes over an array<long> of shingle hashes → array<long>."""
    mins = [
        F.array_min(F.transform(shingle_hashes, _universal_hash(a, b)))
        for a, b in MINHASH_COEFFS
    ]
    return F.array(*mins)


def band_keys_expr(sig: Column) -> Column:
    """LSH band keys: one int64 per band, folded from (band, h1..h4) as
    k ← (k·KNUTH + h_r) mod 2³¹. Every intermediate stays < 2⁶³ (ANSI-mode
    safe) and the math is identical in numpy. Numeric keys shuffle 8 bytes
    instead of ~50-char strings — the join key the 10^12-doc path wants.
    The 2³¹ key space admits rare cross-band collisions (~n_keys²/2³² false
    candidates); the exact-Jaccard verification step removes them."""
    keys = []
    for band in range(LSH_BANDS):
        k = F.lit(band).cast("long")
        for r in range(LSH_ROWS):
            k = (k * F.lit(KNUTH) + sig[band * LSH_ROWS + r]) % F.lit(MOD31)
        keys.append(k + F.lit(band * MOD31).cast("long"))  # band-disjoint
    return F.array(*keys)


def _bit_step(b: int):
    """Two-arg fold lambda factory: acc + (±1 by bit b of h), for h ≥ 0
    ((h & 2^b) > 0 ⟺ (h // 2^b) % 2 == 1, the oracle's formulation)."""
    mask = F.lit(1 << b)
    return lambda acc, h: acc + F.when(
        h.bitwiseAND(mask) > 0, F.lit(1).cast("long")
    ).otherwise(F.lit(-1).cast("long"))


def simhash_expr(tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over token hashes: per bit, sum ±1 by the bit of h(tok);
    bit set iff the sum is positive. Exact integer math."""
    hashes = F.transform(tokens, token_hash_expr)
    val = F.lit(0).cast("long")
    for b in range(bits):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), _bit_step(b))
        val = val + F.when(bit_sum > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
    return val


def simhash_sql(tokens_sql: str, bits: int = SIMHASH_BITS) -> str:
    th = token_hash_sql("x")
    terms = []
    for b in range(bits):
        bit_sum = (
            f"list_sum(list_transform({tokens_sql}, "
            f"x -> ((({th}) // {2**b}) % 2) * 2 - 1))"
        )
        terms.append(f"(CASE WHEN {bit_sum} > 0 THEN {2**b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


# --- vectorized pandas-UDF backend (identical integers to the expr path) ---


def _shingle_parts(texts):
    """Vectorized shingle hash arrays per doc.

    Returns (hashes: int64 np.ndarray, starts: int64 np.ndarray) where
    hashes[starts[i]:starts[i+1]] are doc i's word-3-shingle hashes.
    Exactly reproduces token_hash_expr(shingles_expr(tokens)): the shingle
    hash needs only (total length, first char of tok_i, last char of
    tok_{i+2}) — all gathered from the token frame, no per-shingle Python.
    NULL text hashes as '', as the expression path does.
    """
    _, counts, doc_idx, codes, uniques = tokens_arrow(texts)
    u_len, u_first, u_last = token_ends(uniques)
    tok_len, first_ord, last_ord = u_len[codes], u_first[codes], u_last[codes]
    # a joined shingle that starts (ends) with an '' token starts (ends)
    # with the joining space
    first_j = np.where(tok_len > 0, first_ord, ord(" "))
    last_j = np.where(tok_len > 0, last_ord, ord(" "))
    n_docs, n_tok = len(counts), len(codes)
    ends = np.cumsum(counts)
    starts_tok = ends - counts

    same2 = np.zeros(n_tok, dtype=bool)
    same2[:-2] = doc_idx[:-2] == doc_idx[2:]  # i and i+2 in same doc

    # full 3-shingles: "t_i t_{i+1} t_{i+2}"
    sh_len = np.zeros(n_tok, dtype=np.int64)
    sh_len[:-2] = tok_len[:-2] + tok_len[1:-1] + tok_len[2:] + 2
    sh_last = np.zeros(n_tok, dtype=np.int64)
    sh_last[:-2] = last_j[2:]
    h3 = token_hash_np(sh_len, first_j, sh_last)

    # per-doc shingle list: positions where same2 holds; docs with < 3
    # tokens get ONE shingle = the whole (≤2-token) text
    short = counts < 3
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    n_sh = np.where(short, 1, counts - 2)
    starts[1:] = np.cumsum(n_sh)
    out = np.empty(int(starts[-1]), dtype=np.int64)
    # scatter full shingles (vectorized): target positions are
    # starts[doc] + (pos_in_doc) for kept rows
    pos_in_doc = np.arange(n_tok) - starts_tok[doc_idx]
    kept = same2 & ~short[doc_idx]
    out[starts[doc_idx[kept]] + pos_in_doc[kept]] = h3[kept]
    if short.any():
        # short docs: shingle string == text itself (join of its tokens)
        s0, s1 = starts_tok[short], ends[short] - 1
        pair = s1 > s0
        text_len = tok_len[s0] + np.where(pair, tok_len[s1] + 1, 0)
        first = np.where(pair, first_j[s0], first_ord[s0])
        last = np.where(pair, last_j[s1], last_ord[s1])
        out[starts[:-1][short]] = token_hash_np(text_len, first, last)
    return out, starts


def minhash_band_keys_series(texts):
    """texts → list-of-16-band-keys per doc (vectorized numpy;
    bit-identical to band_keys_expr(minhash_sig_expr(...)))."""
    hashes, starts = _shingle_parts(texts)
    keys = _bands_from_parts(hashes, starts)
    return pd.Series(list(keys), dtype="object")


def minhash_bands_udf(text):
    return F.pandas_udf(minhash_band_keys_series, "array<long>")(text)


def _sigs_from_parts(hashes, starts):
    """(shingle hashes, segment starts) → (n_docs, N_MINHASH) signatures.

    One universal-hash pass per coefficient with preallocated in-place
    buffers: the working set is one shingle-sized int64 vector (~4 MB at a
    4096-doc Arrow batch), not the (n_shingles, 64) matrix (~250 MB) a
    broadcast formulation materializes — that matrix made 32 concurrent
    Python workers memory-bandwidth-bound and hypersensitive to neighbor
    load. h*a+b stays < 2^62 (h < 2^31, a < 2^31): no int64 overflow."""
    n_docs = len(starts) - 1
    nonempty = starts[:-1] < starts[1:]
    red_starts = starts[:-1][nonempty]
    sigs = np.zeros((n_docs, N_MINHASH), dtype=np.int64)
    if red_starts.size:
        tmp = np.empty_like(hashes)
        n_ne = int(nonempty.sum())
        for j, (a, b) in enumerate(MINHASH_COEFFS):
            np.multiply(hashes, a, out=tmp)
            np.add(tmp, b, out=tmp)
            np.remainder(tmp, MERSENNE31, out=tmp)
            sigs[nonempty, j] = np.minimum.reduceat(tmp, red_starts)[:n_ne]
    return sigs


def _bands_from_parts(hashes, starts):
    """(shingle hashes, segment starts) → (n_docs, LSH_BANDS) band keys —
    the shared tail of minhash_band_keys_series (sig pass + band fold)."""
    sigs = _sigs_from_parts(hashes, starts)
    n_docs = sigs.shape[0]
    sig3 = sigs.reshape(n_docs, LSH_BANDS, LSH_ROWS)
    bands = np.arange(LSH_BANDS, dtype=np.int64)
    keys = np.tile(bands, (n_docs, 1))
    for r in range(LSH_ROWS):
        keys = (keys * np.int64(KNUTH) + sig3[:, :, r]) % np.int64(MOD31)
    return keys + bands[None, :] * np.int64(MOD31)


def minhash_audit_series(texts):
    """Per doc: struct(sig: the 64 minhashes, shs: sorted DISTINCT shingle
    hashes) — the estimator-audit kernel (queries/dedup.py
    minhash_est_audit). Same shingle/sig passes as the band-key kernel
    (bit-identical to the expression path, asserted in
    tests/test_minhash_audit.py); the distinct-per-doc step is one lexsort
    + adjacent-dedup over the whole Arrow batch, never per-row Python."""
    hashes, starts = _shingle_parts(texts)
    sigs = _sigs_from_parts(hashes, starts)
    n_docs = len(starts) - 1
    seg = np.repeat(np.arange(n_docs, dtype=np.int64), np.diff(starts))
    order = np.lexsort((hashes, seg))
    hs, sg = hashes[order], seg[order]
    first = np.ones(hs.size, dtype=bool)
    if hs.size:
        first[1:] = (hs[1:] != hs[:-1]) | (sg[1:] != sg[:-1])
    hs_u, sg_u = hs[first], sg[first]
    ends = np.cumsum(np.bincount(sg_u, minlength=n_docs))
    return pd.DataFrame(
        {"sig": list(sigs), "shs": np.split(hs_u, ends)[:n_docs]}
    )


def minhash_audit_udf(text):
    return F.pandas_udf(
        minhash_audit_series, "struct<sig: array<long>, shs: array<long>>"
    )(text)


def _bit_fold(h: np.ndarray, counts: np.ndarray, bits: int) -> np.ndarray:
    """SimHash fold over per-token hashes (uint64 or non-negative int64),
    docs back to back with counts[i] >= 1 tokens each: bit b is set iff the
    doc's ±1 sum over bit b of its token hashes is positive. One pass per
    bit keeps the working set at one token-sized vector instead of an
    (n_tokens, bits) matrix — the same cache-sizing lesson as the minhash
    kernel."""
    val = np.zeros(len(counts), dtype=np.uint64)
    if not len(counts):
        return val
    starts = np.cumsum(counts) - counts
    h = h.astype(np.uint64)
    for b in range(bits):
        pm = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2 - 1
        sums = np.add.reduceat(pm, starts)
        val |= (sums > 0).astype(np.uint64) << np.uint64(b)
    return val


def simhash_series(texts, bits: int = SIMHASH_BITS):
    """Vectorized twin of simhash_expr over a text Series — exact integer
    math, bit-identical (tested): the portable hash of each unique token,
    gathered through the token frame, then the per-bit fold."""
    _, counts, _, codes, uniques = tokens_arrow(texts)
    h = token_hash_np(*token_ends(uniques))[codes]
    return pd.Series(_bit_fold(h, counts, bits).view(np.int64), dtype="int64")


def simhash_udf(text, bits: int = SIMHASH_BITS):
    def _k(s):
        return simhash_series(s, bits)

    return F.pandas_udf(_k, "long")(text)


# --- production-width simhash: 64-bit fingerprint over FNV-1a token hashes ---
#
# The 31-bit structural token hash above exists so DuckDB can reproduce the
# *demo* fingerprint with integer arithmetic; its entropy caps the usable
# fingerprint at 28 bits, and 28-bit chunk blocking is quadratic-on-average
# at crawl scale (bucket occupancy n/2^14). The production fingerprint is 64
# bits over full-content FNV-1a-64 token hashes — and it is STILL
# oracle-reproducible: DuckDB folds the same hash with HUGEINT arithmetic
# (xor + wrap-around multiply mod 2^64), verified exact in tests.

FNV_BASIS = 14695981039346656037  # FNV-1a 64 offset basis
FNV_PRIME = 1099511628211  # FNV-1a 64 prime
_U64 = 1 << 64


def fnv64_sql(tok: str) -> str:
    """DuckDB twin of FNV-1a 64 over codepoints (HUGEINT mod 2^64)."""
    return (
        f"list_reduce(list_prepend({FNV_BASIS}::HUGEINT, "
        f"list_transform(range(1, length({tok}) + 1), i -> ord({tok}[i:i])::HUGEINT)), "
        f"(h, c) -> (xor(h, c) * {FNV_PRIME}::HUGEINT) % {_U64}::HUGEINT)"
    )


def simhash64_from_hashes_sql(hashes: str) -> str:
    """DuckDB: 64-bit simhash over a HUGEINT token-hash list column, emitted
    as a signed BIGINT (two's-complement view, matching numpy's int64 view)."""
    terms = []
    for b in range(64):
        bit_sum = (
            f"list_sum(list_transform({hashes}, "
            f"x -> ((x // {1 << b}::HUGEINT) % 2) * 2 - 1))"
        )
        terms.append(f"(CASE WHEN {bit_sum} > 0 THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)")
    total = "(" + " + ".join(terms) + ")"
    return (
        f"(CASE WHEN {total} >= {1 << 63}::HUGEINT "
        f"THEN {total} - {_U64}::HUGEINT ELSE {total} END)::BIGINT"
    )


def _token_fnv64(uniques: pa.Array) -> np.ndarray:
    """Vectorized FNV-1a 64 over the code points of each token of a string
    array (uint64 per token; callers pass the frame's unique tokens).

    Tokens are folded longest first, so the tokens still folding at step j
    are a prefix of that order: the work is the total code-point count,
    not tokens × longest token. uint64 multiply wraps mod 2^64 natively.
    Bit-identical to the per-char Python/DuckDB fold (tested)."""
    cps, lens, starts = _codepoints(uniques)
    cps = cps.astype(np.uint64)
    h = np.full(len(lens), FNV_BASIS, dtype=np.uint64)
    order = np.argsort(-lens, kind="stable")
    neg_sorted = -lens[order]
    prime = np.uint64(FNV_PRIME)
    for j in range(int(lens.max()) if len(lens) else 0):
        act = order[: np.searchsorted(neg_sorted, -j)]  # tokens longer than j
        h[act] = (h[act] ^ cps[starts[act] + j]) * prime
    return h


def simhash64_series(texts):
    """Vectorized 64-bit simhash over a text Series → int64 Series (the
    uint64 fingerprint viewed as two's-complement, so Spark BIGINT holds it
    and xor/bit_count operate on the same bit pattern). Same per-bit fold
    as simhash_series over the FNV-1a-64 hash of each unique token."""
    _, counts, _, codes, uniques = tokens_arrow(texts)
    h = _token_fnv64(uniques)[codes]
    return pd.Series(_bit_fold(h, counts, 64).view(np.int64), dtype="int64")


def simhash64_udf(text):
    return F.pandas_udf(simhash64_series, "long")(text)


# NOTE: a combined bands+shingle-set kernel (one pass emitting both) was
# tried and removed: the structural 31-bit token hash that makes minhash
# signatures oracle-reproducible collides on same-(length, first, last)
# shingles often enough to shift SET CARDINALITIES, so Jaccard computed
# over those hash sets fails the exact oracle. Verification instead uses
# JVM-side xxhash64 shingle sets (queries/dedup.py:dedup_minhash_lsh).
