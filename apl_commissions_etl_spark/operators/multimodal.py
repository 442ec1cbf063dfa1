"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched
``mapInPandas``.

The image decode path is REAL: corpus text is packed into genuine PNG
containers (zlib deflate, per-row scanline filters, CRC-verified
chunks — see ``operators/codecs.py``) and the decode stage parses the
header, inflates, unfilters, and recovers the original bytes exactly.
Only genuinely-external codecs (JPEG/H.264/MP3) are out of scope;
``attach_binary_payload`` keeps a raw-bytes blob stand-in for the
frame-sampling / audio-window stages where the container is opaque.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the decode/feature-extract stage. Width/height are
#: parsed from the real container header (IHDR for PNG).
DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
)


def _png_geometry(n_stored: int) -> tuple[int, int]:
    """Deterministic container geometry for a packed payload: width
    varies with the STORED byte length (16..63 px) so decoded
    dimensions are data-dependent, height is whatever fits.
    ``n_stored`` includes the 4-byte length prefix the packing layer
    prepends (see ``attach_png_payload``); the DuckDB oracle
    recomputes the same closed form from octet_length(text) + 4."""
    width = 16 + n_stored % 48
    height = max(1, -(-n_stored // (3 * width)))
    return width, height


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Opaque-blob stand-in for containers we don't parse (video /
    frame sampling, audio windowing): utf-8 bytes of the text as the
    payload, plus typed metadata columns."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit("application/octet-stream")
    )


def attach_png_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build a REAL multimodal column: each document's utf-8 bytes
    packed as the RGB pixel buffer of a deflate-compressed PNG
    (operators/codecs.py). Arrow-batched mapInPandas — the per-blob
    struct/zlib packing is the codec boundary Python is sanctioned
    for.

    The pixel buffer stores a 4-byte big-endian length prefix followed
    by the payload, so decode recovers EXACTLY the original bytes —
    including any trailing NULs — rather than relying on stripping the
    zero padding (which would corrupt binary payloads that end in
    NUL)."""
    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in it:
            out_id, out_pl = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                raw = str(text).encode("utf-8")
                stored = struct.pack(">I", len(raw)) + raw
                w, h = _png_geometry(len(stored))
                out_id.append(did)
                out_pl.append(codecs.png_encode(stored, w, h))
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "media_type": ["image/png"] * len(out_id),
                    "payload": out_pl,
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema)


def _prefixed_payload(pixels: bytes) -> bytes:
    """Slice the 4-byte-length-prefixed embedded payload out of a
    decoded pixel buffer, failing LOUDLY (like the rest of the codec
    layer) on a prefix that overruns the buffer — a corrupt blob, or
    one produced before the prefix format existed, must not silently
    yield a truncated payload and a wrong content hash."""
    if len(pixels) < 4:
        raise ValueError("corrupt length prefix: buffer shorter than prefix")
    (n,) = struct.unpack_from(">I", pixels, 0)
    if 4 + n > len(pixels):
        raise ValueError(
            f"corrupt length prefix: {n} payload bytes declared, "
            f"{len(pixels) - 4} available"
        )
    return pixels[4 : 4 + n]


def decode_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched REAL decode/feature-extract over a PNG binary
    column: chunk walk + CRC verify + inflate + unfilter per blob,
    dimensions from IHDR, content hash over the de-padded embedded
    payload. One mapInPandas pass; batch size governed by
    spark.sql.execution.arrow.maxRecordsPerBatch; no driver collect."""

    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in it:
            rows = {k: [] for k in
                    ("doc_id", "n_bytes", "content_hash", "width", "height")}
            for did, blob in zip(pdf[id_col], pdf["payload"]):
                w, h, _depth, _ct, pixels = codecs.png_decode(bytes(blob))
                # 4-byte length prefix -> exact payload slice (correct
                # even for payloads that legitimately end in NUL bytes);
                # raises on a prefix that overruns the buffer
                payload = _prefixed_payload(pixels)
                rows["doc_id"].append(did)
                rows["n_bytes"].append(len(payload))
                rows["content_hash"].append(
                    hashlib.sha256(payload).hexdigest()
                )
                rows["width"].append(w)
                rows["height"].append(h)
            out = pd.DataFrame(rows)
            for c in ("n_bytes", "width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return df.select(id_col, "payload").mapInPandas(batches, DECODE_SCHEMA)


#: dHash strip resolution: 65 block means -> 64 neighbor-compare bits
_DHASH_BLOCKS = 65


def dhash_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual difference-hash over the DECODED pixel buffer — the
    multimodal x dedup crossover: near-duplicate images hash equal even
    though their PNG bytes differ (chunking, filter choices).

    One Arrow mapInPandas pass per blob: real PNG decode (chunk walk +
    CRC + inflate + unfilter), then the full w*h*3 pixel buffer is
    reduced to 65 block sums (block of byte i = i*65 // total — sizes
    differ by at most one) and bit j compares neighboring block MEANS
    with the cross-multiplied integer form
    ``sum_j * cnt_{j+1} < sum_{j+1} * cnt_j`` so the hash is exact
    integer math — engine- and float-free, which is what lets a SQL
    oracle re-derive it bit-for-bit.  Emitted as a 64-char '0'/'1'
    string (a 64-bit value would overflow signed BIGINT on bit 63).

    At 100 TB the hash is computed once at ingest and stored; dedup is
    then a hash-equality groupBy (this module's exact-dedup shape) or
    a banded hamming-neighborhood join (dedup.hamming_banded_pairs) —
    never a pixel-space comparison."""
    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("dhash", T.StringType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in it:
            rows = {k: [] for k in ("doc_id", "width", "height", "dhash")}
            for did, blob in zip(pdf[id_col], pdf["payload"]):
                w, h, _depth, _ct, pixels = codecs.png_decode(bytes(blob))
                buf = np.frombuffer(pixels, dtype=np.uint8).astype(np.int64)
                total = buf.size
                idx = (np.arange(total) * _DHASH_BLOCKS) // total
                sums = np.bincount(idx, weights=buf,
                                   minlength=_DHASH_BLOCKS).astype(np.int64)
                cnts = np.bincount(idx, minlength=_DHASH_BLOCKS)
                bits = (sums[:-1] * cnts[1:]) < (sums[1:] * cnts[:-1])
                rows["doc_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["dhash"].append(
                    "".join("1" if b else "0" for b in bits)
                )
            out = pd.DataFrame(rows)
            for c in ("width", "height"):
                out[c] = out[c].astype("int32")
            yield out

    return df.select(id_col, "payload").mapInPandas(batches, schema)


def resize_plan(
    decoded: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Aspect-preserving fit-within-box resize plan. The geometry is
    pure integer/float arithmetic over the decoded metadata, so it
    stays JVM-side (native expressions) — only the pixel work (absent
    here) would touch Python. Emits the scaled dimensions the decoder
    batch stage would apply."""
    scale = F.least(
        F.lit(float(target_w)) / F.col("width"),
        F.lit(float(target_h)) / F.col("height"),
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.greatest(F.floor(F.col("width") * scale).cast("int"), F.lit(1)).alias(
            "resized_w"
        ),
        F.greatest(F.floor(F.col("height") * scale).cast("int"), F.lit(1)).alias(
            "resized_h"
        ),
    )


#: Output schema of the frame-sampling stage.
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), False),
    ]
)


def sample_frames(
    df: DataFrame, id_col: str = "doc_id", frame_every_bytes: int = 1024
) -> DataFrame:
    """Video frame sampling plumbing: the stub treats every
    ``frame_every_bytes`` slice of the blob as one 'frame'. Frame
    INDEX generation is native (sequence + explode — no Python in the
    cardinality step); per-frame feature extraction is the Arrow-
    batched Python stage, exactly where a real codec would sit."""
    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    with_frames = (
        df.select(id_col, "payload")
        .withColumn(
            "frame_index",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.length("payload") / frame_every_bytes).cast("int") - 1,
                        F.lit(0),
                    ),
                )
            ),
        )
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # hash the uppercase-hex rendering of the byte slice: hex is
            # ASCII, so the same digest is reproducible from any engine
            # whose sha256 takes strings (DuckDB oracle parity) while
            # the slicing itself stays byte-accurate
            hashes = [
                hashlib.sha256(
                    bytes(p)[i * frame_every_bytes : (i + 1) * frame_every_bytes]
                    .hex()
                    .upper()
                    .encode()
                ).hexdigest()
                for p, i in zip(pdf["payload"], pdf["frame_index"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "frame_index": pdf["frame_index"].astype("int32"),
                    "frame_hash": hashes,
                }
            )

    return with_frames.mapInPandas(batches, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real codec path (BMP / WAV, operators/codecs.py) — the formats whose
# decode needs no external library. Compressed codecs stay stubbed.
# ---------------------------------------------------------------------------

#: fixed geometry/rate so the oracle can recompute container metadata
BMP_WIDTH = 32  # row bytes 32*3 = 96, already 4-byte aligned (no pad)
WAV_RATE = 16000

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

CODEC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_media_bytes", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("payload_sha256", T.StringType(), False),
    ]
)


def encode_corpus_media(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Build REAL media containers from the corpus: even doc_ids become
    24-bit BMPs (utf-8 text bytes as the pixel buffer, width fixed at
    BMP_WIDTH, height = ceil(bytes/96)), odd doc_ids become 16-bit PCM
    WAVs (text bytes as samples). Arrow-batched; the per-blob struct
    packing is the codec boundary Python is sanctioned for."""
    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        from . import codecs

        for pdf in it:
            out_id, out_mt, out_pl = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                raw = str(text).encode("utf-8")
                if did % 2 == 0:
                    h = max(1, math.ceil(len(raw) / (codecs.bmp_row_stride(BMP_WIDTH))))
                    out_mt.append("image/bmp")
                    out_pl.append(codecs.bmp_encode(raw, BMP_WIDTH, h))
                else:
                    out_mt.append("audio/wav")
                    out_pl.append(codecs.wav_encode(raw, WAV_RATE))
                out_id.append(did)
            yield pd.DataFrame(
                {"doc_id": out_id, "media_type": out_mt, "payload": out_pl}
            )

    return df.select(id_col, text_col).mapInPandas(batches, MEDIA_SCHEMA)


def decode_media(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode: sniff the container magic, parse headers with the
    struct/numpy codecs, and hash the de-padded embedded payload.
    A decode that byte-exactly reproduces the encoded content makes
    ``payload_sha256`` equal the sha256 of the original text — which
    the oracle recomputes directly from ``documents``."""
    from ..shipping import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in it:
            rows = {k: [] for k in (
                "doc_id", "media_type", "n_media_bytes", "width", "height",
                "sample_rate", "n_frames", "payload_sha256",
            )}
            for did, blob in zip(pdf[id_col], pdf["payload"]):
                b = bytes(blob)
                rows["doc_id"].append(did)
                rows["n_media_bytes"].append(len(b))
                if b[:2] == b"BM":
                    # BMP/WAV stand-ins pad with NULs and embed UTF-8
                    # corpus text, which never contains NUL — the
                    # rstrip is safe HERE by that precondition (the
                    # PNG path carries an explicit length prefix and
                    # needs no such assumption)
                    w, h, _bpp, payload = codecs.bmp_decode(b)
                    payload = payload.rstrip(b"\0")
                    rows["media_type"].append("image/bmp")
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sample_rate"].append(None)
                    rows["n_frames"].append(None)
                elif b[:8] == b"\x89PNG\r\n\x1a\n":
                    w, h, _depth, _ct, pixels = codecs.png_decode(b)
                    payload = _prefixed_payload(pixels)
                    rows["media_type"].append("image/png")
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sample_rate"].append(None)
                    rows["n_frames"].append(None)
                elif b[:4] == b"RIFF":
                    rate, ch, _bits, n_frames, payload = codecs.wav_decode(b)
                    payload = payload.rstrip(b"\0")
                    rows["media_type"].append("audio/wav")
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["sample_rate"].append(rate)
                    rows["n_frames"].append(n_frames)
                else:  # formats needing an external decoder (JPEG/H.264…)
                    raise NotImplementedError(
                        "no external codec available for this container"
                    )
                rows["payload_sha256"].append(
                    hashlib.sha256(payload).hexdigest()
                )
            pdf_out = pd.DataFrame(rows)
            for c in ("n_media_bytes", "width", "height", "sample_rate",
                      "n_frames"):
                pdf_out[c] = pdf_out[c].astype("Int32")
            yield pdf_out

    return media.mapInPandas(batches, CODEC_SCHEMA)
