"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Two kernels, both shardable:

* ``decode_and_featurize`` maps each payload to a 16-dim feature, the
  L1-normalised byte histogram by ``position % 16``. One mapInPandas
  kernel, vectorized over the whole Arrow batch (one bincount over the
  concatenated bytes, no per-payload Python).
* ``frame_sample`` fans video rows out to sampled frame indices from
  the metadata alone (sequence + explode).

Media table schema (``synthesize_media`` builds one):
    media(media_id long, kind string, payload binary,
          meta struct<width:int, height:int, sample_rate:int, n_frames:int>)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FEATURE_DIM = 16
FEATURE_SCHEMA = "media_id long, kind string, feature array<double>, n_bytes long"


def _fake_features(payloads: list[bytes]) -> np.ndarray:
    """Byte-histogram feature, vectorized over the WHOLE batch:
    feature[j] = L1-normalized sum of bytes at positions ≡ j (mod 16);
    an empty payload gives all zeros. One bincount over the
    concatenated flat byte array — no per-payload Python loop."""
    lens = np.array([len(p) for p in payloads], dtype="int64")
    n = len(payloads)
    out = np.zeros((n, _FEATURE_DIM), dtype="float64")
    total = int(lens.sum())
    if total:
        flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        offsets = np.repeat(np.cumsum(lens) - lens, lens)
        item = np.repeat(np.arange(n, dtype="int64"), lens)
        bucket = (np.arange(total, dtype="int64") - offsets) % _FEATURE_DIM
        sums = np.bincount(
            item * _FEATURE_DIM + bucket, weights=flat,
            minlength=n * _FEATURE_DIM,
        ).reshape(n, _FEATURE_DIM)
        norms = sums.sum(axis=1, keepdims=True)
        np.divide(sums, norms, out=out, where=norms > 0)
    return out


def decode_and_featurize(media: DataFrame) -> DataFrame:
    """mapInPandas pipeline: binary payload → fixed-dim feature vector.

    Each Arrow batch is a pandas DataFrame with a ``payload`` column of
    bytes objects (null reads as empty). The whole batch goes through
    one ``_fake_features`` call; ``n_bytes`` is the payload length.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p or b"" for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": list(_fake_features(payloads)),
                    "n_bytes": np.array([len(p) for p in payloads], dtype="int64"),
                }
            )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling from METADATA alone: one output row per
    sampled frame index, every ``every_n``-th of ``meta.n_frames``. Pure
    column ops — the frame index fan-out is an explode, which shards."""
    n = F.coalesce(F.col("meta.n_frames"), F.lit(0))
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n))
    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", F.explode(idx).alias("frame_idx"))
    )


def synthesize_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (binary payload =
    sha-derived bytes; metadata typed per kind)."""
    base = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.to_binary(
            F.repeat(F.sha2(F.concat(F.lit(seed), F.col("id")), 256), 4), F.lit("hex")
        ).alias("payload"),
    )
    return base.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.when(F.col("kind") == "image", F.lit(64)).cast("int").alias("width"),
            F.when(F.col("kind") == "image", F.lit(48)).cast("int").alias("height"),
            F.when(F.col("kind") == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
            F.when(F.col("kind") == "video", F.lit(120)).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
