"""JPEG bytes at the multimodal entry point.

The package carries no JPEG codec: a JPEG stream that reaches
``decode_and_featurize`` is featurized by its bytes, like any payload.
"""

from __future__ import annotations

import numpy as np

from cim_framework_graph_partitioning_spark.operators.multimodal import (
    _FEATURE_DIM,
    decode_and_featurize,
)

# A baseline JFIF file (4:4:4 sampling, quality 90) of an 8x8 image
# filled with BGR (77, 77, 77); it ends in the EOI marker.
_JPEG_8X8 = bytes.fromhex(
    "ffd8ffe000104a46494600010100000100010000ffdb00430003020203020203"
    "03030304030304050805050404050a070706080c0a0c0c0b0a0b0b0d0e12100d"
    "0e110e0b0b1016101113141515150c0f171816141812141514ffdb0043010304"
    "0405040509050509140d0b0d1414141414141414141414141414141414141414"
    "141414141414141414141414141414141414141414141414141414141414ffc0"
    "0011080008000803011100021101031101ffc4001f0000010501010101010100"
    "000000000000000102030405060708090a0bffc400b510000200040008001000"
    "2000400023010000f001112131415161718191a1b1c1d1e1f102122232425262"
    "728292a2b2c2d2e2f203132333435363738393a3b3c3d3e3f304142434445464"
    "748494a4b4c4d4e4f405152535455565758595a5b5c5d5e5f506162636465666"
    "768696a6b6c6d6e6f607172737475767778797a7b7c7d7e7f708182838485868"
    "788898a8b8c8d8e8f809192939495969798999a9b9c9d9e9f90a1a2a3a4a5a6a"
    "7a8a9aaabacadaeafaffc4001f01000105010101010101000000000000000001"
    "02030405060708090a0bffc400b5110002000400080010002000400023010000"
    "f001112131415161718191a1b1c1d1e1f102122232425262728292a2b2c2d2e2"
    "f203132333435363738393a3b3c3d3e3f304142434445464748494a4b4c4d4e4"
    "f405152535455565758595a5b5c5d5e5f506162636465666768696a6b6c6d6e6"
    "f607172737475767778797a7b7c7d7e7f708182838485868788898a8b8c8d8e8"
    "f809192939495969798999a9b9c9d9e9f90a1a2a3a4a5a6a7a8a9aaabacadaea"
    "faffda000c03010002110311003f00f9dc00ffd9"
)


def test_jpeg_via_multimodal_dispatch(spark):
    """A real JPEG file and its first 200 bytes (cut inside a Huffman table)
    take the same path through decode_and_featurize: n_bytes is the
    stream length and the feature is the L1-normalised byte sum by
    position mod 16, not pixel statistics."""
    assert _JPEG_8X8[:4] == b"\xff\xd8\xff\xe0" and _JPEG_8X8[-2:] == b"\xff\xd9"
    payloads = {0: _JPEG_8X8, 1: _JPEG_8X8[:200]}
    media = spark.createDataFrame(
        [(i, "image", bytearray(p)) for i, p in payloads.items()],
        "media_id long, kind string, payload binary",
    )
    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert sorted(got) == [0, 1]
    for i, p in payloads.items():
        b = np.frombuffer(p, dtype=np.uint8)
        sums = np.bincount(
            np.arange(len(b)) % _FEATURE_DIM, weights=b, minlength=_FEATURE_DIM
        )
        assert got[i].kind == "image"
        assert got[i].n_bytes == len(p)
        assert got[i].feature == list(sums / sums.sum()), i
