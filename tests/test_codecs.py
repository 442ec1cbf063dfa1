"""Byte-level tests for the pure-numpy BMP/WAV/PNG codecs
(operators/codecs.py)."""

from __future__ import annotations

import hashlib
import struct

import pytest

from apl_commissions_etl_spark.operators import codecs


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("width,height", [(32, 3), (5, 4), (1, 1), (7, 9)])
def test_bmp_roundtrip_geometry(width, height):
    payload = bytes(range(256)) * 4
    payload = payload[: width * height * 3]
    blob = codecs.bmp_encode(payload, width, height)
    w, h, bpp, decoded = codecs.bmp_decode(blob)
    assert (w, h, bpp) == (width, height, 24)
    assert decoded == payload


def test_bmp_row_stride_padding():
    # width 5 -> row bytes 15 -> stride 16: decode must strip the pad
    payload = b"x" * (5 * 2 * 3)
    blob = codecs.bmp_encode(payload, 5, 2)
    stride = codecs.bmp_row_stride(5)
    assert stride == 16
    # pixel data size in the container includes padding
    assert len(blob) == 54 + stride * 2
    _, _, _, decoded = codecs.bmp_decode(blob)
    assert decoded == payload


def test_bmp_partial_payload_zero_padded():
    payload = "héllo wörld".encode()
    blob = codecs.bmp_encode(payload, 32, 1)
    _, _, _, decoded = codecs.bmp_decode(blob)
    assert decoded.rstrip(b"\0") == payload


def test_bmp_oversized_payload_rejected():
    with pytest.raises(ValueError):
        codecs.bmp_encode(b"x" * 100, 4, 4)  # capacity 48


def test_bmp_rejects_foreign_bytes():
    with pytest.raises(ValueError):
        codecs.bmp_decode(b"GIF89a" + b"\0" * 60)


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------


def test_wav_roundtrip_even_and_odd():
    for payload in (b"abcdef", b"abcde"):  # odd gets a pad byte
        blob = codecs.wav_encode(payload, 22050)
        rate, ch, bits, n_frames, data = codecs.wav_decode(blob)
        assert (rate, ch, bits) == (22050, 1, 16)
        padded = payload + (b"\0" if len(payload) % 2 else b"")
        assert data == padded
        assert n_frames == len(padded) // 2


def test_wav_chunk_walk_skips_extra_chunks():
    # insert a LIST chunk between fmt and data: decoder must skip it
    blob = codecs.wav_encode(b"ABCD", 8000)
    riff, fmt_and_rest = blob[:12], blob[12:]
    fmt_chunk = fmt_and_rest[: 8 + 16]
    data_chunk = fmt_and_rest[8 + 16 :]
    extra = struct.pack("<4sI", b"LIST", 6) + b"INFOxy"
    patched = riff + fmt_chunk + extra + data_chunk
    rate, _, _, n_frames, data = codecs.wav_decode(patched)
    assert rate == 8000 and data == b"ABCD" and n_frames == 2


def test_wav_rejects_non_pcm():
    blob = bytearray(codecs.wav_encode(b"ab", 8000))
    blob[20] = 3  # fmt tag -> IEEE float
    with pytest.raises(ValueError):
        codecs.wav_decode(bytes(blob))


# ---------------------------------------------------------------------------
# Property-based round trips (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(
    payload=st.binary(max_size=600),
    width=st.integers(min_value=1, max_value=40),
)
def test_bmp_roundtrip_property(payload, width):
    height = max(1, -(-len(payload) // (width * 3)))  # ceil to capacity
    blob = codecs.bmp_encode(payload, width, height)
    w, h, bpp, decoded = codecs.bmp_decode(blob)
    assert (w, h, bpp) == (width, height, 24)
    assert decoded[: len(payload)] == payload
    assert set(decoded[len(payload):]) <= {0}


@settings(max_examples=200, deadline=None)
@given(
    payload=st.binary(max_size=600),
    rate=st.integers(min_value=1, max_value=192_000),
    channels=st.integers(min_value=1, max_value=2),
)
def test_wav_roundtrip_property(payload, rate, channels):
    blob = codecs.wav_encode(payload, rate, channels)
    got_rate, got_ch, bits, n_frames, data = codecs.wav_decode(blob)
    assert (got_rate, got_ch, bits) == (rate, channels, 16)
    padded = payload + (b"\0" if len(payload) % 2 else b"")
    assert data == padded
    assert n_frames == len(padded) // (channels * 2)


# ---------------------------------------------------------------------------
# PNG (compressed: deflate + scanline filters + CRC-verified chunks)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("width,height", [(16, 1), (5, 7), (1, 1), (50, 6)])
def test_png_roundtrip_geometry(width, height):
    payload = bytes((i * 7 + 3) % 256 for i in range(width * height * 3))
    blob = codecs.png_encode(payload, width, height)
    w, h, depth, ctype, decoded = codecs.png_decode(blob)
    assert (w, h, depth, ctype) == (width, height, 8, 2)
    assert decoded == payload


def test_png_all_filter_types_exercised():
    # >= 5 rows guarantees every filter type (row % 5) round-trips
    width = 8
    payload = bytes(range(256)) * ((width * 3 * 6) // 256 + 1)
    payload = payload[: width * 3 * 6]
    blob = codecs.png_encode(payload, width, 6)
    _, h, _, _, decoded = codecs.png_decode(blob)
    assert h == 6 and decoded == payload


def test_png_multi_idat_concatenated():
    # incompressible payload (sha256 chain) > 4 KiB compressed forces
    # multiple IDAT chunks
    chunks, seed = [], b"idat-seed"
    for _ in range(12_000 // 32 + 1):
        seed = hashlib.sha256(seed).digest()
        chunks.append(seed)
    payload = b"".join(chunks)[:12_000]
    blob = codecs.png_encode(payload, 64, -(-len(payload) // (64 * 3)))
    assert blob.count(b"IDAT") >= 2
    *_, decoded = codecs.png_decode(blob)
    assert decoded[: len(payload)] == payload


def test_png_crc_corruption_detected():
    blob = bytearray(codecs.png_encode(b"hello png", 16, 1))
    blob[-20] ^= 0xFF  # flip a byte inside a chunk body/CRC
    with pytest.raises(ValueError):
        codecs.png_decode(bytes(blob))


def test_png_rejects_foreign_bytes():
    with pytest.raises(ValueError):
        codecs.png_decode(b"GIF89a" + b"\0" * 60)


def test_png_truncated_mid_chunk_is_value_error():
    # truncation anywhere in the chunk list must surface as the
    # documented ValueError, never struct.error from an OOB unpack
    blob = codecs.png_encode(b"truncate me", 16, 1)
    for cut in (len(blob) - 1, len(blob) - 13, 20, 9):
        with pytest.raises(ValueError):
            codecs.png_decode(blob[:cut])


def test_png_missing_iend_rejected():
    blob = codecs.png_encode(b"no iend", 16, 1)
    # strip the 12-byte IEND chunk entirely (length+type+CRC, empty data)
    assert blob.endswith(
        b"\x00\x00\x00\x00IEND" + blob[-4:]
    )
    with pytest.raises(ValueError, match="IEND"):
        codecs.png_decode(blob[:-12])


def test_png_oversized_payload_rejected():
    with pytest.raises(ValueError):
        codecs.png_encode(b"x" * 100, 4, 4)  # capacity 48


@settings(max_examples=150, deadline=None)
@given(
    payload=st.binary(max_size=600),
    width=st.integers(min_value=1, max_value=40),
)
def test_png_roundtrip_property(payload, width):
    height = max(1, -(-len(payload) // (width * 3)))
    blob = codecs.png_encode(payload, width, height)
    w, h, depth, ctype, decoded = codecs.png_decode(blob)
    assert (w, h, depth, ctype) == (width, height, 8, 2)
    assert decoded[: len(payload)] == payload
    assert set(decoded[len(payload):]) <= {0}
