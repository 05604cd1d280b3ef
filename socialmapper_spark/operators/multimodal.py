"""Multimodal (binary) column plumbing for training-data pipelines.

Build mandate: treat image/audio/video as opaque ``binary`` columns with
typed metadata; decode / feature-extract as pandas UDFs over
``mapInPandas``. The container has no image/audio libraries, so the
decode step is STUBBED (clearly marked ``NotImplementedError`` /
deterministic fake) while everything Spark-side — schema, Arrow batch
shape, partition behavior, UDF signature — is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

BINARY_META_SCHEMA = (
    "url string, byte_len long, content_md5 string, "
    "fake_width int, fake_height int"
)


def decode_image(data: bytes) -> "object":
    """Real image decode — requires Pillow/opencv, absent in this
    container. The deterministic fake below (:func:`_fake_dims`) stands in
    for tests; swap this in when a decoder wheel is available."""
    raise NotImplementedError(
        "image decoding requires Pillow/opencv (not installed); "
        "use binary_metadata() which runs the deterministic fake"
    )


def _fake_dims(digest_hex: str) -> tuple[int, int]:
    """Deterministic stand-in for decoded dimensions: derived from the
    content hash so tests are stable and the SQL oracle can reproduce it:
    width = 64 + int(md5[:4],16) % 1920, height likewise on md5[4:8]."""
    return (
        64 + int(digest_hex[:4], 16) % 1920,
        64 + int(digest_hex[4:8], 16) % 1080,
    )


FRAME_SCHEMA = "url string, frame_idx int, frame_md5 string"


def frame_sample(
    df: DataFrame, n_frames: int = 4, id_col: str = "url", binary_col: str = "html"
) -> DataFrame:
    """Deterministic frame-sampling stub: one output row per sampled frame
    (the one→many Arrow batch shape a video frame sampler produces).

    Real decoders are absent, so the 'frame' is a content-derived hash:
    ``frame_md5 = md5(md5(content) + ':' + idx)`` — deterministic,
    SQL-oracle reproducible, and shaped exactly like the real operator
    (mapInPandas emitting a multiple of its input rows, no shuffle).
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for rid, blob in zip(pdf[id_col], pdf[binary_col]):
                digest = hashlib.md5(bytes(blob)).hexdigest()
                for i in range(n_frames):
                    ids.append(rid)
                    idxs.append(i)
                    hashes.append(hashlib.md5(f"{digest}:{i}".encode()).hexdigest())
            yield pd.DataFrame({"url": ids, "frame_idx": idxs, "frame_md5": hashes})

    return df.select(id_col, binary_col).mapInPandas(sample, FRAME_SCHEMA)


def binary_metadata(
    df: DataFrame, id_col: str = "url", binary_col: str = "html"
) -> DataFrame:
    """Extract typed metadata from an opaque binary column via mapInPandas.

    Narrow transformation (no shuffle); Arrow streams each partition in
    record batches, the UDF is vectorized over the batch. This is the
    plumbing a real decode/resize/frame-sample stage runs on.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[binary_col]
            digests = [hashlib.md5(bytes(b)).hexdigest() for b in blobs]
            dims = [_fake_dims(d) for d in digests]
            yield pd.DataFrame(
                {
                    "url": pdf[id_col],
                    "byte_len": [len(bytes(b)) for b in blobs],
                    "content_md5": digests,
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(extract, BINARY_META_SCHEMA)
