"""Checkpoint/restart at stage boundaries (reference analogue: skip an
extraction whose artifact exists or is fetchable —
/root/reference/isimip_qa/main.py:126-128, mixins/extractions.py:16-28).

Unit of resume: a *chunk* — a deterministic bucket range of the corpus
(bucket = pmod(xxhash64(url), n_chunks)). A run computes all of its missing
chunks in one fused Spark job, whose output lands in `out_dir/data/chunk=K/`;
each chunk's manifest file is written only after that job commits, so a
killed run resumes by re-running exactly the chunks without a manifest. On an Iceberg deployment the manifest is the
snapshot log and a chunk is a partition-scoped append — same structure,
different sink.
"""

from __future__ import annotations

import json
import os


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
        json.dump(info, f, sort_keys=True)
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


def fetch_chunk(out_dir: str, chunk: int, cache_base: str, config_hash: str) -> bool:
    """Fetch one completed chunk (data files + manifest) from a shared
    artifact cache whose layout mirrors an out_dir (another run's output, a
    mounted shared volume, or an HTTP server in front of one). Returns True
    iff the chunk was committed locally — the caller then skips its compute.

    Identity guard: the cached manifest's config_hash must equal ours (the
    reference keys artifacts by extraction identity, extractions.py:33-40);
    manifests without a file list (older runs) are not fetchable. The chunk
    dir is CLEARED first (a prior crashed compute attempt may have left
    committed-but-unmanifested part files that are not in the cache's list
    — they must not survive into the fetched chunk), files are written
    tmp-then-rename and the local manifest LAST, so a fetch killed mid-way
    leaves no committed chunk. HTTP cannot list directories — the
    manifest's `files` field is the listing; names are validated as plain
    basenames because the cache is not trusted to build local paths."""
    import shutil

    try:
        man = json.loads(
            _fetch_bytes(cache_base, f"_manifest/chunk_{chunk}.json")
        )
    except Exception:
        return False
    if man.get("config_hash") != config_hash or "files" not in man:
        return False
    for fn in man["files"]:
        # path-traversal guard: a malicious/compromised cache must not be
        # able to direct writes outside the chunk directory
        if fn != os.path.basename(fn) or fn.startswith(".") or fn in ("", ".."):
            return False
    cdir = chunk_path(out_dir, chunk)
    shutil.rmtree(cdir, ignore_errors=True)
    os.makedirs(cdir, exist_ok=True)
    try:
        for fn in man["files"]:
            data = _fetch_bytes(cache_base, f"data/chunk={chunk}/{fn}")
            tmp = os.path.join(cdir, f".{fn}.fetch.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, os.path.join(cdir, fn))
    except Exception:
        return False
    mark_chunk_done(out_dir, chunk, dict(man, fetched_from=cache_base))
    return True


def chunk_manifest(out_dir: str, chunk: int) -> dict | None:
    p = os.path.join(manifest_dir(out_dir), f"chunk_{chunk}.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def chunk_files(out_dir: str, chunk: int) -> list[str]:
    """Committed data files of a chunk (recorded in its manifest so remote
    fetchers need no directory listing)."""
    cdir = chunk_path(out_dir, chunk)
    if not os.path.isdir(cdir):
        return []
    return sorted(
        f for f in os.listdir(cdir) if not f.startswith(".") and not f.endswith(".tmp")
    )
