"""Multimodal columns: binary payloads + typed metadata, Arrow-batched ops.

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct; per-item work (decode, feature extraction, resize, frame
sampling) runs in ``mapInPandas`` so payload bytes never cross the
JVM<->Python boundary row-at-a-time.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT available in this
container, so the decode kernels are gated behind import-try with a
clearly-marked deterministic fake (parsing this module's own synthetic
header format).  Everything Spark-side — schema, partitioning, UDF
signatures, Arrow batch shapes — is real and tested; dropping in a real
decoder only changes the inner per-item function.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from islamic_ner_spark.functions.worker import drop_zip_importers

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<source:string, codec:string, duration_ms:int>"
)

_MAGIC = b"SYNM"
FEATURE_DIM = 32

try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def synthetic_media(spark: SparkSession, n: int, *, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: payload = magic + header(width,
    height, n_frames) + pseudo-random bytes derived from (seed, id)."""

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for batch in batches:
            rows = []
            for media_id in batch["id"]:
                media_id = int(media_id)
                digest = hashlib.blake2b(
                    f"{seed}:{media_id}".encode(), digest_size=8
                ).digest()
                width = 16 + digest[0] % 48
                height = 16 + digest[1] % 48
                n_frames = 1 + digest[2] % 8
                kind = ("image", "audio", "video")[media_id % 3]
                body = hashlib.blake2b(digest, digest_size=64).digest() * n_frames
                payload = _MAGIC + struct.pack("<HHH", width, height, n_frames) + body
                rows.append(
                    (
                        media_id,
                        kind,
                        payload,
                        (f"src{media_id % 4}", "synthetic-v1", n_frames * 40),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n).mapInPandas(generate, schema=MEDIA_SCHEMA)


def _decode_header(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: parses the synthetic header.

    A real deployment replaces this with PIL/ffmpeg; if neither the magic
    nor a real codec is available the item is rejected explicitly."""
    if payload[:4] != _MAGIC:
        if _HAVE_PIL:
            raise NotImplementedError(
                "real image decode not wired in this sandbox build"
            )
        raise ValueError("unknown payload format and no codec available")
    width, height, n_frames = struct.unpack("<HHH", payload[4:10])
    return width, height, n_frames


def decode_media(media: DataFrame) -> DataFrame:
    """payload -> (width, height, n_frames, n_bytes), Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for batch in batches:
            widths, heights, frames, sizes = [], [], [], []
            for payload in batch["payload"]:
                width, height, n_frames = _decode_header(bytes(payload))
                widths.append(width)
                heights.append(height)
                frames.append(n_frames)
                sizes.append(len(payload))
            out = batch[["media_id", "kind"]].copy()
            out["width"] = widths
            out["height"] = heights
            out["n_frames"] = frames
            out["n_bytes"] = sizes
            yield out

    return media.mapInPandas(
        run,
        schema="media_id long, kind string, width int, height int, n_frames int, n_bytes long",
    )


def extract_features(media: DataFrame) -> DataFrame:
    """payload -> fixed-dim float feature vector.

    STUB featurizer: deterministic bytes-hash projection (a real build
    swaps in a vision/audio encoder).  Output feeds the similarity
    operators (operators/similarity.py) unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for batch in batches:
            feats = []
            for payload in batch["payload"]:
                digest = hashlib.shake_256(bytes(payload)).digest(FEATURE_DIM * 4)
                vec = np.frombuffer(digest, dtype=np.uint32).astype(np.float64)
                vec = vec / np.linalg.norm(vec)
                feats.append(vec.astype(np.float32).tolist())
            out = batch[["media_id"]].copy()
            out["features"] = feats
            yield out

    return media.mapInPandas(run, schema="media_id long, features array<float>")


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """video -> one row per sampled frame (frame bytes sliced from the
    payload by the stub layout; a real build uses a frame decoder)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        rows = []
        for batch in batches:
            for media_id, kind, payload in zip(
                batch["media_id"], batch["kind"], batch["payload"]
            ):
                if kind != "video":
                    continue
                payload = bytes(payload)
                _, _, n_frames = _decode_header(payload)
                body = payload[10:]
                frame_size = len(body) // max(n_frames, 1)
                for frame_idx in range(0, n_frames, every_n):
                    frame = body[frame_idx * frame_size : (frame_idx + 1) * frame_size]
                    rows.append((int(media_id), frame_idx, bytearray(frame)))
        yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_bytes"])

    return media.mapInPandas(
        run, schema="media_id long, frame_idx int, frame_bytes binary"
    )
