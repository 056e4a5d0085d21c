"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio payloads are ``binary`` columns; decode and feature
extraction run as Arrow-batched pandas UDFs over ``mapInPandas``.

The synthetic media corpus encodes real PNG/WAV files whose parameters
derive from doc_id (even doc_id -> PNG, odd -> WAV), so the DuckDB oracle
can state the expected features with arithmetic while Spark must earn
them by parsing bytes. Two decoders read it:

- ``multimodal_real_decode`` parses container headers: it walks PNG
  chunks (verifying each CRC32) to the IHDR and RIFF/WAVE chunks to
  ``fmt ``, recovering width/height/bit-depth/channels/sample-rate.
- ``multimodal_payload_decode`` decodes payloads: PNG IDAT is
  zlib-inflated and unfiltered per scanline, WAV PCM frames are read as
  little-endian int16, and per-doc sample statistics come out.

Full-frame codecs (PIL/pyav) are out of scope; the container parsing is
genuine. ``frame_sample`` is the strided-window explode a video pipeline
uses, JVM-side.

Reference analog: CCA treats source files as opaque blobs identified by
content digest and parses them inside per-language plugins
(/root/reference/src/ast/analyzing/diffastcore.ml:42-48); the binary
column + pluggable decoder is the same shape.
"""

from __future__ import annotations

import math
import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cca_spark.pyworker import in_worker

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> sample channels (PNG spec, table 11.1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# ------------------------------------------------------ container codec


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    """One PNG chunk: length, tag, data, CRC32 over tag + data."""
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))


def _png_file(w: int, h: int, color_type: int, *chunks: tuple[bytes, bytes]) -> bytes:
    """An 8-bit PNG: signature, IHDR, ``chunks`` in order, IEND."""
    ihdr = (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
    return _PNG_SIG + b"".join(
        _png_chunk(tag, data) for tag, data in (ihdr, *chunks, (b"IEND", b""))
    )


def _png_chunks(b: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Walk PNG chunks as (tag, data), verifying every CRC32 on the way."""
    off = len(_PNG_SIG)
    while off + 12 <= len(b):
        (ln,) = struct.unpack_from(">I", b, off)
        tag = b[off + 4 : off + 8]
        data = b[off + 8 : off + 8 + ln]
        (crc,) = struct.unpack_from(">I", b, off + 8 + ln)
        if crc != zlib.crc32(tag + data):
            raise ValueError(f"PNG {tag!r} chunk CRC mismatch")
        yield tag, data
        off += 12 + ln


def _wav_file(fmt: bytes, data: bytes) -> bytes:
    """A RIFF/WAVE file with a decoy LIST chunk BEFORE ``fmt `` so
    decoders must walk chunks rather than assume fixed offsets."""
    body = (
        b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _riff_chunks(b: bytes) -> Iterator[tuple[bytes, int, int]]:
    """Walk RIFF chunks (word-aligned) as (tag, data offset, data length)."""
    off = 12  # past RIFF<size>WAVE
    while off + 8 <= len(b):
        (ln,) = struct.unpack_from("<I", b, off + 4)
        yield b[off : off + 4], off + 8, ln
        off += 8 + ln + (ln & 1)


def _container(b: bytes) -> str:
    if b[: len(_PNG_SIG)] == _PNG_SIG:
        return "png"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    return "unknown"


def _media_corpus(
    spark: SparkSession,
    sf_dir: str,
    encode_png: Callable[[int], bytes],
    encode_wav: Callable[[int], bytes],
) -> DataFrame:
    """(doc_id, content binary): even doc_id -> ``encode_png(doc_id)``,
    odd -> ``encode_wav(doc_id)``. A separate Arrow pass from the decoder,
    so real binary bytes cross an executor boundary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "content": [encode_png(i) if i % 2 == 0 else encode_wav(i) for i in ids],
                }
            )

    return docs.mapInPandas(in_worker(enc), schema="doc_id long, content binary")


# ------------------------------------------------------- header decode

REAL_FEATURE_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "bit_depth int, n_channels int, sample_rate int"
)


def _encode_png(doc_id: int) -> bytes:
    """A header-complete PNG (IHDR + IEND); dimensions derived from doc_id."""
    return _png_file(doc_id % 640 + 1, (doc_id * 7) % 480 + 1, (0, 2, 6)[doc_id % 3])


def _encode_wav(doc_id: int) -> bytes:
    """A WAV header with a 4-byte silent data chunk."""
    ch = doc_id % 3 + 1
    sr = 8000 * (doc_id % 6 + 1)
    bits = ((doc_id // 2) % 3 + 1) * 8
    block = ch * bits // 8
    return _wav_file(struct.pack("<HHIIHH", 1, ch, sr, sr * block, block, bits), b"\x00" * 4)


def _decode_png(b: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit depth, channels) from the IHDR chunk."""
    for tag, data in _png_chunks(b):
        if tag == b"IHDR":
            w, h, depth, color = struct.unpack_from(">IIBB", data, 0)
            return w, h, depth, _PNG_CHANNELS[color]
    raise ValueError("PNG: no IHDR chunk")


def _decode_wav(b: bytes) -> tuple[int, int, int]:
    """(bits per sample, channels, sample rate) from the ``fmt `` chunk."""
    for tag, off, _ln in _riff_chunks(b):
        if tag == b"fmt ":
            _codec, ch, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", b, off)
            return bits, ch, sr
    raise ValueError("WAV: no fmt chunk")


def _real_decode_features(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
        b = bytes(blob)
        fmt = _container(b)
        if fmt == "png":
            w, h, depth, ch = _decode_png(b)
            rows.append((int(doc_id), fmt, w, h, depth, ch, None))
        elif fmt == "wav":
            bits, ch, sr = _decode_wav(b)
            rows.append((int(doc_id), fmt, None, None, bits, ch, sr))
        else:
            rows.append((int(doc_id), fmt, None, None, None, None, None))
    out = pd.DataFrame(
        rows,
        columns=[
            "doc_id", "fmt", "width", "height", "bit_depth", "n_channels", "sample_rate",
        ],
    )
    out["doc_id"] = out["doc_id"].astype("int64")
    for c in ("width", "height", "bit_depth", "n_channels", "sample_rate"):
        out[c] = out[c].astype("Int32")
    return out


def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The header-codec query: encode -> shuffle-free Arrow decode -> typed
    features; the oracle recomputes the expected features arithmetically."""
    return _media_corpus(spark, sf_dir, _encode_png, _encode_wav).mapInPandas(
        in_worker(lambda batches: map(_real_decode_features, batches)),
        schema=REAL_FEATURE_SCHEMA,
    )


# ------------------------------------------------------ payload decode
#
# The payload codec derives every sample value from doc_id with
# closed-form arithmetic, so the DuckDB oracle can STATE the expected sums
# while Spark must EARN them by inflating/unfiltering real bytes (PNG
# filters 0=None, 1=Sub, 2=Up per the PNG spec §9). Payload dims are kept
# small (≤24×16 px) so the oracle's generate_series stays ~100k rows at
# sf0.01.

PAYLOAD_SCHEMA = (
    "doc_id long, fmt string, n_samples long, sample_sum long, "
    "sample_sumsq long, mean_sample double, rms double"
)

# png payload dims: w = doc_id % 24 + 1, h = (doc_id*7) % 16 + 1
_PAYLOAD_W_MOD, _PAYLOAD_H_MOD = 24, 16
# wav payload: n = doc_id % 200 + 40 mono int16 samples,
# v(i) = ((doc_id*131 + i*17) % 4096) - 2048
_WAV_N_MOD, _WAV_N_BASE = 200, 40


def _png_payload_params(doc_id: int) -> tuple[int, int, int, int]:
    w = doc_id % _PAYLOAD_W_MOD + 1
    h = (doc_id * 7) % _PAYLOAD_H_MOD + 1
    color_type = (0, 2, 6)[doc_id % 3]
    return w, h, color_type, _PNG_CHANNELS[color_type]


def _encode_png_payload(doc_id: int) -> bytes:
    """A complete real PNG: IHDR + one zlib-compressed IDAT whose raw
    sample bytes follow raw[y][i] = (doc_id + y + i) % 256 (i indexes the
    w*channels bytes of scanline y), filtered per-row with filter
    y % 3 ∈ {None, Sub, Up} so decoders must implement real unfiltering."""
    w, h, color_type, ch = _png_payload_params(doc_id)
    stride = w * ch
    raw_prev = [0] * stride
    out = bytearray()
    for y in range(h):
        raw = [(doc_id + y + i) % 256 for i in range(stride)]
        ftype = y % 3
        out.append(ftype)
        if ftype == 0:  # None
            out.extend(raw)
        elif ftype == 1:  # Sub: filt[i] = raw[i] - raw[i - bpp]
            out.extend(
                (raw[i] - (raw[i - ch] if i >= ch else 0)) % 256
                for i in range(stride)
            )
        else:  # Up: filt[i] = raw[i] - prior[i]
            out.extend((raw[i] - raw_prev[i]) % 256 for i in range(stride))
        raw_prev = raw
    return _png_file(w, h, color_type, (b"IDAT", zlib.compress(bytes(out))))


def _encode_wav_payload(doc_id: int) -> bytes:
    """A complete real mono 16-bit PCM WAV whose samples follow
    v(i) = ((doc_id*131 + i*17) % 4096) - 2048."""
    n = doc_id % _WAV_N_MOD + _WAV_N_BASE
    sr = 8000
    pcm = b"".join(
        struct.pack("<h", ((doc_id * 131 + i * 17) % 4096) - 2048) for i in range(n)
    )
    return _wav_file(struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16), pcm)


def _decode_png_payload(b: bytes) -> tuple[int, int, int]:
    """(n_samples, sum, sumsq) of the raw image samples: CRC-verified
    chunk walk -> concatenated IDAT -> zlib inflate -> per-scanline
    unfilter (None/Sub/Up)."""
    w = h = ch = None
    idat = bytearray()
    for tag, data in _png_chunks(b):
        if tag == b"IHDR":
            w, h, _depth, color = struct.unpack_from(">IIBB", data, 0)
            ch = _PNG_CHANNELS[color]
        elif tag == b"IDAT":
            idat.extend(data)
    if w is None or not idat:
        raise ValueError("PNG: missing IHDR or IDAT")
    flat = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(flat) != h * (stride + 1):
        raise ValueError("PNG: IDAT length != h * (stride + 1)")
    total = sumsq = 0
    raw_prev = [0] * stride
    pos = 0
    for _y in range(h):
        ftype = flat[pos]
        row = flat[pos + 1 : pos + 1 + stride]
        pos += 1 + stride
        if ftype == 0:
            raw = list(row)
        elif ftype == 1:
            raw = []
            for i, v in enumerate(row):
                raw.append((v + (raw[i - ch] if i >= ch else 0)) % 256)
        elif ftype == 2:
            raw = [(v + raw_prev[i]) % 256 for i, v in enumerate(row)]
        else:
            raise ValueError(f"PNG: unsupported filter type {ftype}")
        for v in raw:
            total += v
            sumsq += v * v
        raw_prev = raw
    return h * stride, total, sumsq


def _decode_wav_payload(b: bytes) -> tuple[int, int, int]:
    """(n_samples, sum, sumsq) of int16 PCM frames from the data chunk."""
    for tag, off, ln in _riff_chunks(b):
        if tag == b"data":
            n = ln // 2
            samples = struct.unpack_from(f"<{n}h", b, off)
            return n, sum(samples), sum(v * v for v in samples)
    raise ValueError("WAV: no data chunk")


def _payload_decode_features(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
        b = bytes(blob)
        fmt = _container(b)
        if fmt == "png":
            n, s, sq = _decode_png_payload(b)
        elif fmt == "wav":
            n, s, sq = _decode_wav_payload(b)
        else:
            raise ValueError("unknown container")
        rows.append(
            (
                int(doc_id),
                fmt,
                n,
                s,
                sq,
                round(s / n, 6),
                round(math.sqrt(sq / n), 6),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "doc_id", "fmt", "n_samples", "sample_sum", "sample_sumsq",
            "mean_sample", "rms",
        ],
    )
    for c in ("doc_id", "n_samples", "sample_sum", "sample_sumsq"):
        out[c] = out[c].astype("int64")
    for c in ("mean_sample", "rms"):
        out[c] = out[c].astype("float64")
    return out


def multimodal_payload_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payload-level query: encode real containers -> Arrow decode
    (zlib inflate + unfilter / PCM read) -> per-doc sample statistics the
    oracle states arithmetically from the sample formulas."""
    return _media_corpus(spark, sf_dir, _encode_png_payload, _encode_wav_payload).mapInPandas(
        in_worker(lambda batches: map(_payload_decode_features, batches)),
        schema=PAYLOAD_SCHEMA,
    )


# frame window in chars: a smaller stride samples more frames per doc
# (more rows, finer fingerprints)
FRAME_STRIDE = 64


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one row per ``FRAME_STRIDE``-char 'frame'
    window with a window digest — the explode shape a video pipeline uses
    (sample every Nth frame, fingerprint it). JVM-side explode +
    substring, no UDF."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # blen > 0 filter: for empty text, Spark's sequence(0, -1) yields a
    # DESCENDING [0, -1] (two rows) while the oracle's generate_series(0, -1)
    # yields none — clamp by excluding empty payloads in both engines
    # (the oracle's unnest(empty list) drops the row on its own).
    with_len = docs.withColumn("blen", F.length("text").cast("int")).filter(
        F.col("blen") > 0
    )
    frames = with_len.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("blen") - 1) / FRAME_STRIDE).cast("int"))
        ).alias("frame_idx"),
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.md5(
            F.expr(f"substring(text, frame_idx * {FRAME_STRIDE} + 1, {FRAME_STRIDE})")
        ).alias("frame_md5"),
    )
