from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

from cim_framework_graph_partitioning_spark.operators.multimodal import (
    _FEATURE_DIM,
    decode_and_featurize,
    frame_sample,
    synthesize_media,
)


_MEDIA_DDL = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)


def _byte_histogram(p: bytes | None) -> list[float]:
    """The kernel's contract, one payload at a time: feature[j] is the
    L1-normalised sum of the bytes at positions ≡ j (mod 16)."""
    b = np.frombuffer(p or b"", dtype=np.uint8)
    sums = np.bincount(
        np.arange(len(b)) % _FEATURE_DIM, weights=b, minlength=_FEATURE_DIM
    )
    total = sums.sum()
    return list(sums / total) if total else [0.0] * _FEATURE_DIM


def _bmp(img: np.ndarray) -> bytes:
    """A 24-bit bottom-up BI_RGB BMP file of an (h, w, 3) BGR image,
    rows padded to 4 bytes."""
    h, w, _ = img.shape
    stride = (3 * w + 3) & ~3
    rows = b"".join(
        img[y].tobytes() + b"\x00" * (stride - 3 * w)
        for y in range(h - 1, -1, -1)
    )
    return struct.pack(
        "<2sIIIIiiHHIIiiII", b"BM", 54 + len(rows), 0, 54, 40, w, h, 1, 24,
        0, len(rows), 2835, 2835, 0, 0,
    ) + rows


def _png(img: np.ndarray) -> bytes:
    """An 8-bit truecolour PNG of an (h, w, 3) RGB image, filter 0."""
    h, w, _ = img.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def _wav(samples: np.ndarray, rate: int, width: int = 2) -> bytes:
    """A PCM WAV file from an (n, channels) integer sample array."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2" if width == 2 else "u1").tobytes())
    return buf.getvalue()


def test_media_schema_and_featurize(spark):
    media = synthesize_media(spark, n=30)
    assert set(media.columns) == {"media_id", "kind", "payload", "meta"}
    feats = decode_and_featurize(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.feature) == _FEATURE_DIM
        assert r.n_bytes == 128  # 64-hex sha repeated 4x -> 128 bytes
        assert abs(sum(r.feature) - 1.0) < 1e-9  # L1-normalized
    # deterministic across runs
    feats2 = decode_and_featurize(synthesize_media(spark, n=30)).collect()
    assert {(r.media_id, tuple(r.feature)) for r in feats} == {
        (r.media_id, tuple(r.feature)) for r in feats2
    }


def test_frame_sampling(spark):
    media = synthesize_media(spark, n=30)
    frames = frame_sample(media, every_n=10)
    rows = frames.collect()
    n_videos = media.filter("kind = 'video'").count()
    assert len(rows) == n_videos * 12  # n_frames=120, every 10th -> 12
    assert {r.frame_idx for r in rows} == set(range(0, 120, 10))


def test_empty_payload_handled(spark):
    from pyspark.sql import functions as F
    media = synthesize_media(spark, n=3).withColumn(
        "payload", F.lit(None).cast("binary")
    )
    feats = decode_and_featurize(media).collect()
    assert all(r.n_bytes == 0 and sum(r.feature) == 0.0 for r in feats)


def test_corrupt_magic_falls_back_to_fake(spark):
    """Every payload gets the byte histogram: feature[j] is the
    L1-normalised sum of its bytes at positions ≡ j (mod 16), whatever
    codec magic it starts with. One payload is a valid 1x1 24-bit BMP,
    which the kernel must not decode as an image."""
    # file header (magic, size, reserved, pixel offset), BITMAPINFOHEADER
    # (size, w, h, planes, bpp, BI_RGB, image size, 72 DPI, no palette),
    # then one BGR pixel with its row padded to 4 bytes
    bmp_1x1 = struct.pack(
        "<2sIIIIiiHHIIiiII", b"BM", 58, 0, 54, 40, 1, 1, 1, 24, 0, 4,
        2835, 2835, 0, 0,
    ) + b"\x10\x20\x30\x00"
    assert len(bmp_1x1) == 58
    assert bmp_1x1 == _bmp(np.array([[[0x10, 0x20, 0x30]]], np.uint8))
    payloads = [
        bmp_1x1,
        b"BM" + b"\x7f" * 100,
        b"\x89PNG\r\n\x1a\n" + b"\x01" * 37,
        b"\xff\xd8\xff\xe0" + bytes(range(200)),
        b"RIFF" + (36).to_bytes(4, "little") + b"WAVEfmt " + b"\x02" * 29,
        b"RIFF" + (64).to_bytes(4, "little") + b"AVI LIST" + b"\x03" * 61,
    ]
    media = spark.createDataFrame(
        [(i, "image", bytearray(p)) for i, p in enumerate(payloads)],
        "media_id long, kind string, payload binary",
    )
    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert sorted(got) == list(range(len(payloads)))
    for i, p in enumerate(payloads):
        b = np.frombuffer(p, dtype=np.uint8)
        sums = np.bincount(
            np.arange(len(b)) % _FEATURE_DIM, weights=b, minlength=_FEATURE_DIM
        )
        assert got[i].n_bytes == len(p)
        assert got[i].feature == list(sums / sums.sum()), i


def test_real_bmp_decode_end_to_end(spark):
    """Media rows whose payloads are real BMP files flow through
    decode_and_featurize like any bytes: the kernel decodes no image, so
    each feature is the file's byte histogram (not the old
    [width, height, mean BGR, ...] pixel lanes) and n_bytes is the file
    size, row padding included. A non-BMP payload in the same batch
    gets its histogram too instead of failing the job."""
    rows = []
    for i, (h, w) in enumerate([(4, 7), (1, 1), (3, 5), (2, 8), (5, 2), (6, 3)]):
        img = np.full((h, w, 3), i * 20, dtype=np.uint8)
        img[0, 0] = (255, i, 7)
        rows.append((i, "image", bytearray(_bmp(img)), (w, h, None, None)))
    rows.append((99, "image", bytearray(b"JUNKJUNK" * 10), (None,) * 4))
    media = spark.createDataFrame(rows, _MEDIA_DDL)
    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert sorted(got) == [0, 1, 2, 3, 4, 5, 99]
    for media_id, kind, payload, (w, h, _, _) in rows:
        r = got[media_id]
        assert r.kind == "image"
        assert r.n_bytes == len(payload)
        if w is not None:
            assert r.n_bytes == 54 + h * ((3 * w + 3) & ~3)
        assert r.feature == _byte_histogram(bytes(payload)), media_id
        assert abs(sum(r.feature) - 1.0) < 1e-9


def test_real_wav_decode_end_to_end(spark):
    """Media rows carrying real PCM WAV files (mono and stereo, 16- and
    8-bit, written by the stdlib wave module) get the byte histogram of
    the whole RIFF file and its length; no signal features."""
    rows = []
    for i in range(4):
        dc = np.full((800 + 37 * i, 1), 3277 * (i + 1))  # DC signal
        rows.append((i, "audio", _wav(dc, 8000), (None, None, 8000, None)))
    t = np.arange(400)
    stereo = np.stack([t % 256, 255 - t % 256], axis=1)
    rows.append((4, "audio", _wav(stereo, 16000, width=1),
                 (None, None, 16000, None)))
    media = spark.createDataFrame(
        [(i, k, bytearray(p), m) for i, k, p, m in rows], _MEDIA_DDL
    )
    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert sorted(got) == [0, 1, 2, 3, 4]
    for media_id, _, payload, _ in rows:
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        r = got[media_id]
        assert r.kind == "audio"
        assert r.n_bytes == len(payload)
        assert r.feature == _byte_histogram(payload), media_id
    assert got[0].n_bytes == 44 + 2 * 800
    assert got[4].n_bytes == 44 + 2 * 400


def test_real_mixed_codecs_end_to_end(spark):
    """One media table mixing real BMP, PNG and WAV files with JPEG- and
    AVI-prefixed bytes, empty and null payloads, spread over several
    partitions: every row of every Arrow batch gets its own byte
    histogram (the batch kernel's offsets line up across rows of
    different lengths), and a BMP and a PNG of the same pixels differ,
    since the feature reads bytes, not pixels."""
    img = np.full((4, 7, 3), 60, dtype=np.uint8)
    sig = (8000 * np.sin(np.linspace(0, 40 * np.pi, 800))).astype(int)
    kinds = [
        ("image", _bmp(img)),
        ("image", _png(img)),
        ("audio", _wav(sig[:, None], 8000)),
        ("image", b"\xff\xd8\xff\xe0" + bytes(range(200)) + b"\xff\xd9"),
        ("video", b"RIFF" + (64).to_bytes(4, "little") + b"AVI LIST" + b"\x03" * 61),
        ("audio", b""),
        ("image", None),
    ]
    rows = [
        (i, kind, None if p is None else bytearray(p[: len(p) - i // 7]),
         (None,) * 4)
        for i in range(5 * len(kinds))
        for kind, p in [kinds[i % len(kinds)]]
    ]
    media = spark.createDataFrame(rows, _MEDIA_DDL).repartition(3)
    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert sorted(got) == list(range(len(rows)))
    for media_id, kind, payload, _ in rows:
        p = None if payload is None else bytes(payload)
        r = got[media_id]
        assert r.kind == kind
        assert r.n_bytes == len(p or b"")
        assert r.feature == _byte_histogram(p), media_id
    assert got[0].feature != got[1].feature  # same pixels, different bytes
