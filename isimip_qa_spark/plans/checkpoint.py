"""Checkpoint/restart at stage boundaries (reference analogue: skip an
extraction whose artifact exists or is fetchable —
/root/reference/isimip_qa/main.py:126-128, mixins/extractions.py:16-28).

Unit of resume: a *chunk* — a deterministic bucket range of the corpus
(bucket = pmod(xxhash64(url), n_chunks)). A chunk's data lands in
`out_dir/data/chunk=K/`, fetched from a shared cache or computed by the
run's one fused Spark job. Either way the chunk is published after its
data (pipeline._publish), and its manifest file is written LAST, so a
killed run resumes by fetching or re-running exactly the chunks without a
manifest. The manifests are the only source of truth: each holds its
chunk's file list, rows, stages, `wall_s` and metrics records, and the
out_dir's `metrics/` and `lineage/` tables are rebuilt from them at every
publish. On an Iceberg deployment the manifest is the snapshot log and a
chunk is a partition-scoped append — same structure, different sink.
"""

from __future__ import annotations

import json
import logging
import os

import pyarrow as pa

from .sink import METRICS_PA

log = logging.getLogger(__name__)


def manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def chunk_path(out_dir: str, chunk: int) -> str:
    return os.path.join(out_dir, "data", f"chunk={chunk}")


def completed_chunks(out_dir: str) -> set[int]:
    mdir = manifest_dir(out_dir)
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for name in os.listdir(mdir):
        if name.startswith("chunk_") and name.endswith(".json"):
            done.add(int(name[len("chunk_") : -len(".json")]))
    return done


def mark_chunk_done(out_dir: str, chunk: int, info: dict) -> None:
    mdir = manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".chunk_{chunk}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(info, f, sort_keys=True, default=str)  # timestamps as str
    os.replace(tmp, os.path.join(mdir, f"chunk_{chunk}.json"))  # atomic


def read_manifest(out_dir: str) -> dict[int, dict]:
    out = {}
    for c in sorted(completed_chunks(out_dir)):
        with open(os.path.join(manifest_dir(out_dir), f"chunk_{c}.json")) as f:
            out[c] = json.load(f)
    return out


# --- shared-cache artifact fetch (reference: fetch a completed extraction
# over HTTP and skip compute — /root/reference/isimip_qa/mixins/
# extractions.py:16-28, gated at main.py:127) --------------------------------


def _is_url(base: str) -> bool:
    return base.startswith(("http://", "https://", "file://"))


def _fetch_bytes(base: str, rel: str) -> bytes:
    if _is_url(base):
        import urllib.request

        with urllib.request.urlopen(f"{base.rstrip('/')}/{rel}") as r:
            return r.read()
    with open(os.path.join(base, rel), "rb") as f:
        return f.read()


def metrics_table(records: list[dict]) -> pa.Table:
    """A manifest's metrics records (JSON: timestamps as strings) as a table
    of the metrics files' schema. Raises on a record that does not fit it:
    a missing key, a NULL anywhere but the averages, or a value that does
    not cast losslessly."""
    t = pa.table(
        {f.name: pa.array([r[f.name] for r in records]) for f in METRICS_PA}
    ).cast(METRICS_PA)
    if any(t[f.name].null_count for f in METRICS_PA if f.name not in ("avg_ppl", "avg_words")):
        raise ValueError("NULL in a metrics record")
    return t


def fetch_chunk(out_dir: str, chunk: int, cache_base: str, config_hash: str) -> dict | None:
    """Fetch one completed chunk's data files from a shared artifact cache
    whose layout mirrors an out_dir (another run's output, a mounted shared
    volume, or an HTTP server in front of one). Returns the manifest to
    publish the chunk with (the cached one, plus `fetched_from`), or None if
    the chunk is not fetchable — the caller then computes it. Writes no
    manifest: the caller publishes the chunk (pipeline._publish).

    Identity guard: the cached manifest's config_hash must equal ours (the
    reference keys artifacts by extraction identity, extractions.py:33-40);
    manifests without a file list or metrics (older runs) are not
    fetchable, and neither is one whose metrics records do not parse
    (metrics_table): the cache is not trusted. The chunk dir is CLEARED
    first (a prior crashed compute attempt may have left
    committed-but-unmanifested part files that are not in the cache's list
    — they must not survive into the fetched chunk) and files are written
    tmp-then-rename. HTTP cannot list directories — the manifest's `files`
    field is the listing; names are validated as plain basenames because
    the cache is not trusted to build local paths. Each chunk not fetched
    logs one line: INFO when the cache has no manifest for it, else a
    WARNING with the reason it was refused."""
    import shutil

    try:
        man = json.loads(
            _fetch_bytes(cache_base, f"_manifest/chunk_{chunk}.json")
        )
        why = _refusal(man, config_hash)
    except Exception as e:
        if isinstance(e, FileNotFoundError) or getattr(e, "code", None) == 404:
            log.info("chunk %d: no manifest in cache %s", chunk, cache_base)
            return None
        why = f"unreadable manifest ({e!r})"
    if why:
        log.warning("chunk %d not fetched from %s, computing it: %s", chunk, cache_base, why)
        return None
    cdir = chunk_path(out_dir, chunk)
    shutil.rmtree(cdir, ignore_errors=True)
    os.makedirs(cdir, exist_ok=True)
    for fn in man["files"]:
        try:
            data = _fetch_bytes(cache_base, f"data/chunk={chunk}/{fn}")
            tmp = os.path.join(cdir, f".{fn}.fetch.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, os.path.join(cdir, fn))
        except Exception as e:
            log.warning(
                "chunk %d not fetched from %s, computing it: read error on %s (%r)",
                chunk, cache_base, fn, e,
            )
            return None
    return dict(man, fetched_from=cache_base)


def _refusal(man: dict, config_hash: str) -> str | None:
    """Why a cached manifest is not fetchable, or None if it is."""
    if man["config_hash"] != config_hash:
        return f"config hash mismatch ({man['config_hash']} != {config_hash})"
    for fn in man["files"]:
        # path-traversal guard: a malicious/compromised cache must not
        # be able to direct writes outside the chunk directory
        if fn != os.path.basename(fn) or fn.startswith(".") or fn in ("", ".."):
            return f"unsafe file name {fn!r}"
    try:
        metrics_table(man["metrics"])
    except Exception as e:
        return f"unparseable metrics ({e!r})"
    return None


def chunk_files(out_dir: str, chunk: int) -> list[str]:
    """Committed data files of a chunk (recorded in its manifest so remote
    fetchers need no directory listing)."""
    cdir = chunk_path(out_dir, chunk)
    if not os.path.isdir(cdir):
        return []
    return sorted(
        f for f in os.listdir(cdir) if not f.startswith(".") and not f.endswith(".tmp")
    )
