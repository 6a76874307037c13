"""Deterministic synthetic media corpus — the multimodal bench fixture.

The driver testdata ships no media table, but the multimodal operators
(operators/multimodal.py) need end-to-end rows in the registry so the
image/audio/video paths are exercised and benched per round. This module
synthesizes a media table from the same REAL container formats the golden
tests pin — encode_png PNGs, stdlib ``wave`` WAVs, RIFF/AVI containers
with BI_RGB DIB frames — with all content derived from an integer seed
via an LCG, so the table is bit-identical across runs, engines and
partitionings (no RNG, no clock).

Scale note: generation here is driver-side and dimension-sized (a bench
fixture). A production media ingest would read real objects via
``spark.read.format("binaryFile")`` and flow into the exact same
MEDIA_SCHEMA; only this synthesis step is fixture-shaped.
"""

from __future__ import annotations

import io
import struct
import wave

from pyspark.sql import DataFrame, SparkSession

from ..operators import multimodal


def _lcg(seed: int):
    """Tiny deterministic byte stream (numerical-recipes LCG)."""
    state = (seed * 2654435761 + 1) & 0xFFFFFFFF
    while True:
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        yield (state >> 16) & 0xFF


def synth_png(seed: int, width: int = 16, height: int = 12) -> bytes:
    """Real RGB PNG (zlib-deflated, CRC'd) with LCG pixel content."""
    gen = _lcg(seed)
    pixels = bytes(next(gen) for _ in range(width * height * 3))
    return multimodal.encode_png(width, height, 3, pixels)


def synth_wav(
    seed: int, n_samples: int = 800, rate: int = 8000, channels: int = 1
) -> bytes:
    """Real PCM16 WAV; samples are a seed-keyed integer triangle wave."""
    period = 50 + seed % 40
    samples = []
    for i in range(n_samples * channels):
        phase = (i + seed) % period
        samples.append((phase * 2000 // period - 1000) * 16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + len(data).to_bytes(4, "little") + data + pad


def synth_avi(
    seed: int, width: int = 8, height: int = 6, n_frames: int = 6
) -> bytes:
    """Real RIFF/AVI container declaring a BI_RGB 24-bit video stream,
    with LCG-content DIB frames (bottom-up, 4-byte-aligned rows) that
    decode_dib_frame can decode to actual pixels."""
    gen = _lcg(seed)
    stride = (width * 3 + 3) & ~3
    frames = [
        bytes(next(gen) for _ in range(stride * height)) for _ in range(n_frames)
    ]
    avih = b"".join(
        v.to_bytes(4, "little")
        for v in [40_000, 0, 0, 0, n_frames, 0, 1, 0, width, height, 0, 0, 0, 0]
    )
    strh = b"vids" + b"\x00" * 52
    strf = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")  # bit_count: 24-bit BI_RGB
        + (0).to_bytes(4, "little")  # compression: BI_RGB
        + b"\x00" * 20
    )
    hdrl = _riff_chunk(
        b"LIST",
        b"hdrl"
        + _riff_chunk(b"avih", avih)
        + _riff_chunk(
            b"LIST",
            b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf),
        ),
    )
    movi = _riff_chunk(
        b"LIST", b"movi" + b"".join(_riff_chunk(b"00db", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def synthetic_media(spark: SparkSession, n_per_modality: int = 40) -> DataFrame:
    """The synthetic media table, MEDIA_SCHEMA-shaped: n images + n WAV
    clips + n BI_RGB AVI clips, ids 0..3n-1, all content seed-derived."""
    rows = []
    for i in range(n_per_modality):
        w, h = 12 + i % 8, 8 + i % 5
        rows.append(
            (i, "image", "image/png", bytearray(synth_png(i, w, h)), (w, h, None))
        )
    for i in range(n_per_modality):
        n_samp = 400 + 40 * (i % 10)
        rows.append(
            (
                n_per_modality + i,
                "audio",
                "audio/wav",
                bytearray(synth_wav(i, n_samp)),
                (None, None, round(n_samp * 1000 / 8000)),
            )
        )
    for i in range(n_per_modality):
        w, h = 8 + (i % 3) * 4, 6 + (i % 2) * 2
        rows.append(
            (
                2 * n_per_modality + i,
                "video",
                "video/x-msvideo",
                bytearray(synth_avi(i, w, h)),
                (w, h, 240),
            )
        )
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
