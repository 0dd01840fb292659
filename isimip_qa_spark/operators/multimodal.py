"""Multimodal column plumbing: image/audio/video as opaque `binary` columns
with typed metadata, processed via Arrow-batched mapInPandas.

The decode kernels themselves are STUBBED (the container has no image/audio
libraries — see `decode_image_stub`): the Spark-side contract — schema,
batch shape, partitioning, column pruning (binary bytes only enter the
executor when the stage consumes them) — is real and tested
(tests/test_multimodal.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, magic string, "
    "width int, height int, feature array<float>"
)

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"<htm": "html",
    b"<!DO": "html",
}


def sniff_magic(prefix: bytes) -> str:
    for sig, name in _MAGIC.items():
        if prefix.startswith(sig):
            return name
    return "unknown"


try:  # real decode backend when importable (the plots.py backend pattern)
    from PIL import Image as _PILImage  # type: ignore

    HAVE_PIL = True
except ImportError:
    _PILImage = None
    HAVE_PIL = False


def _decode_image_pil(payload: bytes) -> tuple[int, int, list[float]]:
    """PIL backend: true (width, height) + 8-bucket luminance histogram of a
    16×16 grayscale thumbnail as the stand-in feature vector (same shape
    and normalisation as the stub, so downstream schemas are identical)."""
    import io

    import numpy as np

    img = _PILImage.open(io.BytesIO(payload))
    width, height = img.size
    px = np.asarray(img.convert("L").resize((16, 16)), dtype=np.int64).ravel()
    feat = np.bincount(px // 32, minlength=8)[:8].astype(np.float64)
    total = float(feat.sum()) or 1.0
    return width, height, (feat / total).tolist()


def decode_image(payload: bytes) -> tuple[int, int, list[float]]:
    """Feature-flagged decode: PIL for payloads whose magic bytes identify a
    real image format (when PIL is importable), the deterministic stub for
    everything else — so the fixture corpora (html bytes) produce identical
    values with or without PIL installed, and the suite stays green either
    way (tests/test_multimodal.py)."""
    if HAVE_PIL and sniff_magic(payload[:4]) in ("png", "jpeg"):
        try:
            return _decode_image_pil(payload)
        except Exception:  # truncated/corrupt image → deterministic fallback
            return decode_image_stub(payload)
    return decode_image_stub(payload)


def decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic fake decode: real deployments swap in PIL/libvips here
    (decode_image above does exactly that when PIL is importable).

    Returns (width, height, 8-dim feature) derived from the bytes — stable,
    so tests can assert exact values through the full Spark plumbing.
    """
    n = len(payload)
    width = 16 + n % 64
    height = 16 + (n // 64) % 64
    # 8-byte-bucket histogram as the stand-in feature vector
    feat = [0.0] * 8
    for i, b in enumerate(payload[:256]):
        feat[b % 8] += 1.0
    total = sum(feat) or 1.0
    return width, height, [f / total for f in feat]


def extract_features(media: DataFrame, batch_size: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow batch shape matters: payloads are large, so callers should set
    spark.sql.execution.arrow.maxRecordsPerBatch low (session.py default
    4096; lower for >1 MiB media).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                payload = bytes(payload)
                w, h, feat = decode_image(payload)
                rows.append(
                    (
                        int(mid),
                        kind,
                        len(payload),
                        sniff_magic(payload[:4]),
                        w,
                        h,
                        feat,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "n_bytes", "magic",
                    "width", "height", "feature",
                ],
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def pages_to_media(pages: DataFrame) -> DataFrame:
    """Adapter: the pages table's html bytes as a media table (the only
    binary column in the fixtures)."""
    return pages.select(
        F.xxhash64("url").alias("media_id"),
        F.lit("html").alias("kind"),
        F.col("html").alias("payload"),
        F.create_map(F.lit("url"), F.col("url")).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Resize + frame sampling: the remaining two multimodal verbs. Same stub
# discipline as decode (real backend iff PIL imports; deterministic fake
# otherwise), real Spark plumbing either way.
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int"
)
FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms long, frame binary"


def _resize_image_pil(payload: bytes, width: int, height: int) -> bytes:
    import io

    img = _PILImage.open(io.BytesIO(payload))
    buf = io.BytesIO()
    img.resize((width, height)).save(buf, format="PNG")
    return buf.getvalue()


def resize_image_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize: a tagged header + a strided byte sample
    whose length scales with the target area — stable for exact tests."""
    k = max(1, len(payload) // max(1, width * height // 64))
    return b"RSZ1" + width.to_bytes(2, "big") + height.to_bytes(2, "big") + payload[::k][: width * height // 8]


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Feature-flagged resize (the decode_image pattern): PIL re-encode for
    real image payloads when importable, the deterministic stub otherwise."""
    if HAVE_PIL and sniff_magic(payload[:4]) in ("png", "jpeg"):
        try:
            return _resize_image_pil(payload, width, height)
        except Exception:
            return resize_image_stub(payload, width, height)
    return resize_image_stub(payload, width, height)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """mapInPandas resize: payload in, resized payload out, 1:1 rows.
    Binary stays columnar through Arrow; only (media_id, kind, payload)
    enter the executor (column pruning is asserted in tests)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "payload": [
                        resize_image(bytes(p), width, height)
                        for p in pdf["payload"]
                    ],
                    "width": width,
                    "height": height,
                }
            )
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def sample_frame_count_stub(payload: bytes) -> int:
    """Deterministic fake frame count for an opaque 'video' payload."""
    return 1 + len(payload) % 7


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling: 1→N cardinality change through mapInPandas — each
    media row explodes into its sampled frames with (frame_idx, ts_ms).
    The decode is the deterministic stub (no video libs in the container):
    frame bytes are deterministic payload slices, so tests assert exact
    values end-to-end. A real deployment swaps the two stub calls for
    pyav/ffmpeg keyframe extraction; the Spark contract (schema, Arrow
    batching, pruning, explode shape) is unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                n = sample_frame_count_stub(payload)
                step = max(1, len(payload) // n) if payload else 1
                for i in range(n):
                    rows.append(
                        (
                            int(mid),
                            i,
                            i * every_ms,
                            payload[i * step : (i + 1) * step],
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "ts_ms", "frame"]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=FRAME_SCHEMA
    )
