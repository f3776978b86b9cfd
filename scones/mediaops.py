"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride the pipeline as ``media: binary`` plus a typed
metadata struct — the same shape the html column uses.  The decode step
is environment-dependent (no image/audio libs in this container), so:

  * the Spark-side plumbing — schema, Arrow batching via mapInPandas,
    partition behavior, UDF signatures — is REAL and tested;
  * the codec itself is pluggable: a caller passes a real decoder as
    ``decoder=``; the default raises ``NotImplementedError``; tests use
    :func:`fake_decoder`, a deterministic stand-in (md5-derived features)
    so results are reproducible and oracle-checkable.

At 100 TB the decode/featurize stage is the canonical Pandas-UDF hot
path: CPU-heavy per-row work with no cross-row dependency — scale by
partition count, keep batches large, never collect.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "feature_fp string, width int, height int"
)

# A decoder maps raw bytes -> (feature_fingerprint, width, height).
Decoder = Callable[[bytes, str], tuple[str, int, int]]


def default_decoder(data: bytes, media_type: str) -> tuple[str, int, int]:
    raise NotImplementedError(
        "real image/audio decode needs codec libraries not present in this "
        "environment; pass one as extract_media_features(decoder=...)"
    )


def fake_decoder(data: bytes, media_type: str) -> tuple[str, int, int]:
    """Deterministic stand-in decoder: md5 fingerprint + fake dimensions
    derived from the payload length (stable across engines — the DuckDB
    oracle reproduces it with md5()/length())."""
    fp = hashlib.md5(data).hexdigest()
    return fp, len(data) % 640 + 1, len(data) % 480 + 1


def extract_media_features(
    df: DataFrame,
    media_col: str = "media",
    type_col: str = "media_type",
    id_col: str = "doc_id",
    decoder: Decoder | None = None,
) -> DataFrame:
    """Decode/featurize a binary media column via mapInPandas.

    Arrow-batched (one pandas DataFrame per batch, not per row); the
    decoder runs per payload inside the batch — the standard shape for
    CPU-heavy multimodal featurization.
    """
    chosen = decoder or default_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                chosen(bytes(b) if b is not None else b"", t)
                for b, t in zip(pdf[media_col], pdf[type_col])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "media_type": pdf[type_col],
                    "n_bytes": [
                        len(b) if b is not None else 0 for b in pdf[media_col]
                    ],
                    "feature_fp": [f[0] for f in feats],
                    "width": pd.Series([f[1] for f in feats], dtype="int32"),
                    "height": pd.Series([f[2] for f in feats], dtype="int32"),
                }
            )

    return df.mapInPandas(run, MEDIA_FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: emit up to
    ``max_frames`` fixed-stride byte windows per payload (a real
    implementation would seek keyframes; the partitioning/explode shape
    is identical)."""
    from collections.abc import Iterator as _It

    def run(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                data = bytes(payload) if payload is not None else b""
                for k in range(min(max_frames, max(len(data), 1) // every_n_bytes + 1)):
                    ids.append(int(doc_id))
                    idxs.append(k)
                    frames.append(data[k * every_n_bytes : (k + 1) * every_n_bytes])
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "frame": frames}
            )

    return df.mapInPandas(run, "doc_id bigint, frame_idx int, frame binary")
