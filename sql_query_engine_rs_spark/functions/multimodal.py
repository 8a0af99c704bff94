"""Multimodal column plumbing: image/audio/video as opaque binary columns.

No counterpart in the reference (scalar types only, src/types/mod.rs:22-35).
Extension surface for multimodal training-data pipelines.

Design: a modality payload is a ``binary`` column plus a typed metadata
struct. Decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages — the only sane way to run per-item Python (PIL/ffmpeg
style) work on Spark: batches arrive as pandas Series of bytes, the UDF is
called once per ~10k rows, and the stage is map-only (no shuffle).

The actual codecs (PIL, soundfile, av) are NOT in this container, so the
decode kernels are STUBBED with a deterministic fake keyed on the payload
bytes; the Spark-side plumbing — schemas, batch iteration, partitioning —
is real and tested.

Codec injection seam: every plumbing operator resolves its kernel through
the CODEC REGISTRY (``register_codec`` / ``get_codec`` / ``reset_codec``)
at plan-build time, so production swaps a real kernel in — e.g.
``register_codec("image_decode", pil_decode)`` — without touching any
Spark plumbing. The callable is captured into the mapInPandas closure and
cloudpickle-shipped to executors like any other UDF body; the deterministic
stubs remain the default (and the test fixture). Kernel contracts:

- ``image_decode``:  (payload: bytes) -> (width, height, feature list)
- ``video_frames``:  (payload: bytes, every_ms: int)
                     -> iterable of (frame_idx, frame_ts_ms, frame_bytes)
- ``audio_pcm``:     (payload: bytes) -> int64 numpy array of PCM samples
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

# Typed metadata carried alongside every binary payload.
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),   # image | audio | video
        StructField("format", StringType()),       # jpeg | wav | mp4 | ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def _decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB decode kernel — deterministic fake derived from the bytes.

    Real deployment: ``PIL.Image.open(io.BytesIO(payload))``; raise
    NotImplementedError semantics are emulated by the deterministic fake so
    the plumbing is testable in this container (no image libs installed).
    """
    h = int.from_bytes(payload[:8].ljust(8, b"\0"), "little", signed=False)
    width, height = 64 + h % 1024, 64 + (h >> 10) % 1024
    feature = [((h >> (i % 48)) & 0xFF) / 255.0 for i in range(8)]
    return width, height, feature


def _video_frames_stub(payload: bytes, every_ms: int) -> list[tuple[int, int, bytes]]:
    """STUB demux kernel: fake duration = len(bytes) ms, frame = 16-byte
    slice, capped at 32 frames. Real deployment: av/ffmpeg demux."""
    n_frames = max(1, min(len(payload) // max(every_ms, 1), 32))
    return [
        (i, i * every_ms, payload[i * 16 : i * 16 + 16] or b"\0")
        for i in range(n_frames)
    ]


def _audio_pcm_stub(payload: bytes):
    """STUB audio decode: payload IS signed 8-bit PCM mono. Real
    deployment: soundfile/librosa decode to the same int64 contract."""
    import numpy as np

    return np.frombuffer(payload, dtype=np.int8).astype(np.int64)


# ------------------------------------------------------------ codec registry

_DEFAULT_CODECS: dict[str, Callable] = {
    "image_decode": _decode_image_stub,
    "video_frames": _video_frames_stub,
    "audio_pcm": _audio_pcm_stub,
}
_CODECS: dict[str, Callable] = dict(_DEFAULT_CODECS)


def register_codec(kind: str, fn: Callable) -> None:
    """Swap a production kernel in for ``kind`` (see module docstring for
    the per-kind contract). Takes effect for plans built AFTER the call —
    the callable is resolved at plan-build time and cloudpickled into the
    mapInPandas closure, so it needs no cluster-side installation beyond
    its own imports being available on executors."""
    if kind not in _DEFAULT_CODECS:
        raise KeyError(f"unknown codec kind {kind!r}; valid: {sorted(_DEFAULT_CODECS)}")
    _CODECS[kind] = fn


def get_codec(kind: str) -> Callable:
    return _CODECS[kind]


def reset_codec(kind: str | None = None) -> None:
    """Restore the deterministic stub for ``kind`` (or all kinds)."""
    if kind is None:
        _CODECS.clear()
        _CODECS.update(_DEFAULT_CODECS)
    else:
        _CODECS[kind] = _DEFAULT_CODECS[kind]


def image_features(df: DataFrame, id_col: str = "item_id", payload_col: str = "payload") -> DataFrame:
    """Decode images and emit (dims, byte size, feature vector).

    ``mapInPandas``: Arrow-batched, map-only; each batch decodes in one
    Python call. Partitioning of the input carries through untouched.
    Kernel resolved through the codec registry ("image_decode").
    """
    decode = get_codec("image_decode")

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            decoded = [decode(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col].astype("int64"),
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_bytes": [len(bytes(p)) for p in pdf[payload_col]],
                    "feature": [d[2] for d in decoded],
                }
            )

    return df.mapInPandas(decode_batches, IMAGE_FEATURES_SCHEMA)


def frame_sample(df: DataFrame, id_col: str = "item_id", payload_col: str = "payload", every_ms: int = 1000) -> DataFrame:
    """Video frame sampling — STUB kernel, real batch plumbing.

    Emits one row per sampled frame: (item_id, frame_idx, frame_ts_ms,
    frame_payload). Real deployment registers an ``av``/ffmpeg demuxer as
    the "video_frames" codec; the fan-out (1 video -> N frames) shape is
    what matters here.
    """
    out_schema = StructType(
        [
            StructField("item_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_ts_ms", LongType()),
            StructField("frame_payload", BinaryType()),
        ]
    )
    demux = get_codec("video_frames")

    def sample_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for item_id, payload in zip(pdf[id_col], pdf[payload_col]):
                for idx, ts_ms, frame in demux(bytes(payload), every_ms):
                    rows.append((int(item_id), int(idx), int(ts_ms), frame))
            yield pd.DataFrame(rows, columns=["item_id", "frame_idx", "frame_ts_ms", "frame_payload"])

    return df.mapInPandas(sample_batches, out_schema)


def audio_features(
    df: DataFrame,
    id_col: str = "item_id",
    payload_col: str = "payload",
    window_ms: int = 500,
    sample_rate: int = 8000,
) -> DataFrame:
    """Audio feature extraction — STUB codec, real batch plumbing.

    Emits one row per analysis window: (item_id, window_idx, start_ms, rms,
    zero_crossings). The stub treats the payload as signed 8-bit PCM mono at
    ``sample_rate`` (real deployment: soundfile/librosa decode). The kernel
    is numpy-vectorized over the whole clip — the batch shape to copy when
    swapping in a real codec: per-ROW Python loops are the anti-pattern,
    per-BATCH vectorized kernels are the contract.

    Determinism contract (what puts this mapInPandas path under the DuckDB
    value-hash gate): all accumulation happens in INTEGER domain — the
    window RMS is sqrt(sum(x^2) / (n * 128^2)) with the sum of squares an
    exact int64 — so the only float ops are one division and one sqrt on
    exactly-equal operands. Any engine reproduces the bits; a float32
    running mean (the naive numpy shape) would not.
    """
    out_schema = StructType(
        [
            StructField("item_id", LongType()),
            StructField("window_idx", IntegerType()),
            StructField("start_ms", LongType()),
            StructField("rms", DoubleType()),
            StructField("zero_crossings", IntegerType()),
        ]
    )
    spw = max(1, sample_rate * window_ms // 1000)  # samples per window
    decode_pcm = get_codec("audio_pcm")

    def feature_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("item_id", "window_idx", "start_ms", "rms", "zero_crossings")}
            for item_id, payload in zip(pdf[id_col], pdf[payload_col]):
                pcm = decode_pcm(bytes(payload))
                n_win = max(1, len(pcm) // spw)
                for w in range(n_win):
                    seg = pcm[w * spw : (w + 1) * spw]
                    if len(seg) == 0:
                        seg = np.zeros(1, dtype=np.int64)
                    sum_sq = int((seg * seg).sum())
                    neg = seg < 0
                    out["item_id"].append(int(item_id))
                    out["window_idx"].append(w)
                    out["start_ms"].append(w * window_ms)
                    out["rms"].append(math.sqrt(sum_sq / (len(seg) * 16384.0)))
                    out["zero_crossings"].append(int(np.sum(neg[1:] != neg[:-1])))
            yield pd.DataFrame(out)

    return df.mapInPandas(feature_batches, out_schema)
