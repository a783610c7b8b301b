"""Multimodal asset columns: opaque binary payloads + typed metadata.

A large-scale training-data pipeline carries image/audio/video alongside
text. The Spark-side contract here is real and tested — schema, partition
strategy, Arrow batch shapes, mapInPandas signatures — while the *codec*
layer offers deterministic in-repo RAW formats AND real pure-stdlib
PNG/WAV/baseline-JPEG containers (this container has no
PIL/ffmpeg/librosa; further codecs plug into the same seams, see
``decode.DECODERS``).

Table schema (the shape an Iceberg `assets` table would have at 100 TB,
partitioned by ``kind`` and bucketed by ``asset_id`` so decode stages scan
one modality without touching the others):

    assets(asset_id bigint, kind string, payload binary,
           meta struct<width int, height int, channels int,
                       sample_rate int, n_samples int,
                       n_frames int, codec string>)

RAW payload formats (little-endian, deterministic from (asset_id, seed)):
  image: b"RIMG" + w:int32 + h:int32 + c:int32 + w*h*c uint8 pixels
  audio: b"RAUD" + sample_rate:int32 + n:int32 + n int16 PCM samples
  video: b"RVID" + w:int32 + h:int32 + n_frames:int32 + frames of w*h uint8
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RAW_IMAGE_MAGIC = b"RIMG"
RAW_AUDIO_MAGIC = b"RAUD"
RAW_VIDEO_MAGIC = b"RVID"

META_FIELDS = [
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("codec", StringType()),
]

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("meta", StructType(META_FIELDS), False),
    ]
)


def _rng(asset_id: int, seed: int) -> np.random.Generator:
    return np.random.default_rng(np.uint64(asset_id * 2654435761 + seed))


def md5_pixels(asset_id: int, n_bytes: int) -> bytes:
    """Deterministic pseudo-random pixel bytes from md5(asset_id:block) —
    chosen over the numpy PCG64 stream because an independent SQL engine
    can recompute md5 hex digits, making decoded-image statistics
    oracle-able (see queries.q_multimodal_image_stats)."""
    return md5_bytes("", asset_id, n_bytes)


def encode_md5_image(asset_id: int, w: int = 16, h: int = 12, c: int = 3) -> bytes:
    """RAW image whose pixels are the md5-derived byte stream (same RIMG
    container as encode_raw_image; only the pixel source differs)."""
    return RAW_IMAGE_MAGIC + struct.pack("<iii", w, h, c) + md5_pixels(asset_id, w * h * c)


def md5_bytes(key_prefix: str, asset_id: int, n_bytes: int) -> bytes:
    """md5-derived byte stream with a stream prefix (so image and audio
    assets of the same id draw from independent streams)."""
    import hashlib

    out = bytearray()
    for blk in range((n_bytes + 15) // 16):
        out += hashlib.md5(f"{key_prefix}{asset_id}:{blk}".encode()).digest()
    return bytes(out[:n_bytes])


def encode_md5_audio(asset_id: int, sample_rate: int = 8000, n: int = 400) -> bytes:
    """RAW PCM16 audio whose samples are the md5-derived byte stream
    (stream key 'a<asset_id>:<blk>', little-endian int16) — SQL-recomputable
    like encode_md5_image, so decoded RMS stats are oracle-able
    (queries.q_multimodal_audio_stats)."""
    return RAW_AUDIO_MAGIC + struct.pack("<ii", sample_rate, n) + md5_bytes("a", asset_id, 2 * n)


def encode_md5_video(asset_id: int, w: int = 8, h: int = 8, n_frames: int = 12) -> bytes:
    """RAW grayscale video whose frames are the md5-derived byte stream
    (stream key 'v<asset_id>:<blk>', frame i = bytes [i*w*h, (i+1)*w*h)) —
    SQL-recomputable like encode_md5_image, so frame-sampled brightness
    stats are oracle-able (queries.q_multimodal_video_frames)."""
    return (
        RAW_VIDEO_MAGIC
        + struct.pack("<iii", w, h, n_frames)
        + md5_bytes("v", asset_id, w * h * n_frames)
    )


def encode_wav(asset_id: int, sample_rate: int = 8000, n: int = 400) -> bytes:
    """REAL RIFF/WAVE container (PCM16 mono, the canonical 44-byte-header
    layout plus chunk walking) around the SAME md5 sample stream as
    encode_md5_audio — so the real-format ``wav`` codec path is verifiable
    against the identical DuckDB oracle (queries.multimodal_wav_stats)."""
    data = md5_bytes("a", asset_id, 2 * n)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def encode_png(asset_id: int, w: int = 16, h: int = 12) -> bytes:
    """REAL PNG (8-bit RGB, zlib-deflated scanlines, per-row filter 0,
    CRC-checked chunks) of the SAME md5 pixel stream as encode_md5_image —
    so the real-format ``png`` codec path is verifiable against the
    identical DuckDB oracle (queries.multimodal_png_stats)."""
    import zlib

    px = md5_pixels(asset_id, w * h * 3)
    raw = b"".join(
        b"\x00" + px[y * w * 3:(y + 1) * w * 3] for y in range(h)
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# ------------------------------------------------------------- JPEG encoder
# Pure-stdlib/numpy BASELINE-PROFILE JPEG (ITU T.81): FDCT + quantization
# + zigzag + DC-difference coding + Huffman entropy coding with the
# Annex-K-style luminance tables, wrapped in JFIF markers. Grayscale
# (one component, no subsampling) — a legal baseline stream any decoder
# accepts. The decoder (decode._decode_jpeg) reads the quant/Huffman
# tables FROM the file, so encoder and decoder are self-consistent by
# construction. Implements the public spec from scratch (same pattern as
# the PNG/WAV codecs; the reference has no multimodal at all — this is
# brief scope).

JPEG_DC_BITS = [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
JPEG_DC_VALS = list(range(12))
JPEG_AC_BITS = [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
JPEG_AC_VALS = (
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
)


import functools


@functools.lru_cache(maxsize=1)
def jpeg_zigzag() -> tuple:
    """The 64 (row, col) positions in JPEG zigzag order, generated by the
    canonical diagonal walk (no hand-typed table to mistype). Cached —
    the encoder/decoder run once per ASSET, so per-call table rebuilds
    multiplied across a corpus."""
    order, x, y = [], 0, 0
    for _ in range(64):
        order.append((y, x))
        if (x + y) % 2 == 0:            # moving up-right
            if x == 7:
                y += 1
            elif y == 0:
                x += 1
            else:
                x += 1
                y -= 1
        else:                           # moving down-left
            if y == 7:
                x += 1
            elif x == 0:
                y += 1
            else:
                x -= 1
                y += 1
    return tuple(order)


@functools.lru_cache(maxsize=1)
def _dct_basis() -> "np.ndarray":
    """Orthonormal 8x8 DCT-II matrix A (A @ A.T = I): FDCT of a block s
    is A @ s @ A.T, IDCT is A.T @ S @ A — exactly the T.81 definition."""
    A = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            A[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return A


def _huff_walk(bits: list, vals: list):
    """(symbol, code, length) triples in canonical T.81 order (codes of
    each length assigned in huffval order, left-to-right) — the ONE
    implementation behind both the encoder's symbol->code table and the
    decoder's code->symbol table (the decoder direction must keep EVERY
    code even if a pathological DHT repeats a symbol, so it cannot be an
    inversion of the symbol-keyed dict — code-review r5)."""
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            yield vals[k], code, length
            code += 1
            k += 1
        code <<= 1


def _huff_codes(bits: list, vals: list) -> dict:
    """symbol -> (code, length); callers cache the result (_std_codes)."""
    return {sym: (code, ln) for sym, code, ln in _huff_walk(bits, vals)}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)   # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec F.1.2.3)
        return bytes(self.out)


def _magnitude(v: int) -> tuple:
    """(category, appended-bits value) for a DC diff / AC coefficient —
    T.81 F.1.2.1: negatives encode as v - 1 in `category` bits."""
    if v == 0:
        return 0, 0
    a, size = abs(v), 0
    while a:
        a >>= 1
        size += 1
    return size, (v if v >= 0 else v + (1 << size) - 1)


@functools.lru_cache(maxsize=1)
def _std_codes() -> tuple:
    return (_huff_codes(JPEG_DC_BITS, JPEG_DC_VALS),
            _huff_codes(JPEG_AC_BITS, JPEG_AC_VALS))


def jpeg_encode_gray(pixels: "np.ndarray") -> bytes:
    """(h, w) uint8 -> baseline JFIF bytes. Quant table all-ones (the
    only loss is FDCT integer rounding, so flat 8x8 blocks round-trip
    EXACTLY — what makes encode_jpeg oracle-able)."""
    h, w = pixels.shape
    assert h % 8 == 0 and w % 8 == 0, "pad to 8x8 blocks before encoding"
    A = _dct_basis()
    zz = jpeg_zigzag()
    dc_codes, ac_codes = _std_codes()
    bw = _BitWriter()
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = pixels[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8].astype(np.float64) - 128.0
            S = A @ blk @ A.T
            q = np.rint(S).astype(np.int64)      # quant table = 1s
            coef = [int(q[p]) for p in zz]
            # DC difference
            size, bits = _magnitude(coef[0] - prev_dc)
            prev_dc = coef[0]
            c, ln = dc_codes[size]
            bw.write(c, ln)
            if size:
                bw.write(bits, size)
            # AC run-lengths
            run = 0
            for v in coef[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = ac_codes[0xF0]        # ZRL
                    bw.write(c, ln)
                    run -= 16
                size, bits = _magnitude(v)
                c, ln = ac_codes[(run << 4) | size]
                bw.write(c, ln)
                bw.write(bits, size)
                run = 0
            if run:
                c, ln = ac_codes[0x00]            # EOB
                bw.write(c, ln)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt = bytes([0x00]) + bytes(64 * [1])          # table 0, 8-bit, all 1s
    dht_dc = bytes([0x00]) + bytes(JPEG_DC_BITS[1:]) + bytes(JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(JPEG_AC_BITS[1:]) + bytes(JPEG_AC_VALS)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"                                               # SOI
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, qt) + seg(0xC0, sof)
        + seg(0xC4, dht_dc) + seg(0xC4, dht_ac)
        + seg(0xDA, sos) + scan
        + b"\xff\xd9"                                             # EOI
    )


def jpeg_block_pixels(asset_id: int, w: int = 16, h: int = 16) -> "np.ndarray":
    """(h, w) uint8 grayscale whose 8x8 BLOCKS are constant — block b's
    value is byte b of the md5 stream keyed 'j<asset_id>:<blk>'. Flat
    blocks make the lossy JPEG round-trip EXACT (only the DC coefficient
    is nonzero and the all-ones quant table preserves it), so the decoded
    statistics are recomputable from md5 hex digits by the DuckDB oracle
    (queries.multimodal_jpeg_stats) — the same trick as the PNG/WAV
    assets, adapted to a lossy codec."""
    bw, bh = w // 8, h // 8
    vals = md5_bytes("j", asset_id, bw * bh)
    img = np.zeros((h, w), dtype=np.uint8)
    for b, v in enumerate(vals):
        y, x = divmod(b, bw)
        img[y * 8:(y + 1) * 8, x * 8:(x + 1) * 8] = v
    return img


def encode_jpeg(asset_id: int, w: int = 16, h: int = 16) -> bytes:
    """REAL baseline JPEG of the block-constant md5 pixel field — the
    real-format lossy-codec twin of encode_png."""
    return jpeg_encode_gray(jpeg_block_pixels(asset_id, w, h))


# ---------------------------------------------------------- MP4 (ISO BMFF)
# Pure-stdlib ISO Base Media File Format writer (ISO/IEC 14496-12): a
# genuine box tree — ftyp / mdat / moov(mvhd, trak(tkhd, mdia(mdhd,
# hdlr:vide, minf(vmhd, dinf/dref, stbl(stsd['raw ' visual sample
# entry], stts, stsc, stsz, stco))))) — whose single video track carries
# UNCOMPRESSED 8-bit grayscale frames (the historical 'raw ' sample
# entry). The container walk is real (the decoder locates samples via
# stco/stsc/stsz exactly as for any mp4); only the bitstream codec is
# raw — H.264/HEVC tracks raise NotImplementedError in the decoder
# until ffmpeg exists (same honest split as WAV: real RIFF walk, PCM
# payload).

_MP4_MATRIX = struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)


def _mp4_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def _mp4_full(tag: bytes, version_flags: int, body: bytes) -> bytes:
    return _mp4_box(tag, struct.pack(">I", version_flags) + body)


def encode_mp4(asset_id: int, w: int = 8, h: int = 8, n_frames: int = 12) -> bytes:
    """REAL ISO-BMFF container around the SAME md5 frame stream as
    encode_md5_video — so the real ``mp4`` codec path is verifiable
    against the identical DuckDB oracle (queries.multimodal_mp4_frames).
    Layout: ftyp, mdat (frames back-to-back), moov (written last so the
    chunk offset into mdat is known)."""
    data = md5_bytes("v", asset_id, w * h * n_frames)
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    mdat = _mp4_box(b"mdat", data)
    data_off = len(ftyp) + 8           # absolute offset of sample 1
    timescale, delta = 1000, 100
    dur = n_frames * delta

    mvhd = _mp4_full(b"mvhd", 0, (
        struct.pack(">IIII", 0, 0, timescale, dur)       # created/modified/ts/dur
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)      # rate, volume, reserved
        + b"\x00" * 8 + _MP4_MATRIX + b"\x00" * 24
        + struct.pack(">I", 2)))                          # next track id
    tkhd = _mp4_full(b"tkhd", 7, (
        struct.pack(">IIIII", 0, 0, 1, 0, dur)            # track id 1
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MP4_MATRIX
        + struct.pack(">II", w << 16, h << 16)))          # 16.16 fixed dims
    mdhd = _mp4_full(b"mdhd", 0, struct.pack(">IIIIHH", 0, 0, timescale, dur, 0x55C4, 0))
    hdlr = _mp4_full(b"hdlr", 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00")
    vmhd = _mp4_full(b"vmhd", 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _mp4_full(b"dref", 0, struct.pack(">I", 1) + _mp4_full(b"url ", 1, b""))
    dinf = _mp4_box(b"dinf", dref)
    entry = _mp4_box(b"raw ", (
        b"\x00" * 6 + struct.pack(">H", 1)                # data-ref index
        + b"\x00" * 16                                    # predefined/reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
        + b"\x00" * 32                                    # compressor name
        + struct.pack(">Hh", 8, -1)))                     # depth 8 (grayscale)
    stsd = _mp4_full(b"stsd", 0, struct.pack(">I", 1) + entry)
    stts = _mp4_full(b"stts", 0, struct.pack(">III", 1, n_frames, delta))
    stsc = _mp4_full(b"stsc", 0, struct.pack(">IIII", 1, 1, n_frames, 1))
    stsz = _mp4_full(b"stsz", 0, struct.pack(">II", w * h, n_frames))  # uniform
    stco = _mp4_full(b"stco", 0, struct.pack(">II", 1, data_off))
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def encode_raw_image(asset_id: int, seed: int, w: int = 16, h: int = 12, c: int = 3) -> bytes:
    px = _rng(asset_id, seed).integers(0, 256, size=w * h * c, dtype=np.uint8)
    return RAW_IMAGE_MAGIC + struct.pack("<iii", w, h, c) + px.tobytes()


def encode_raw_audio(asset_id: int, seed: int, sample_rate: int = 8000, n: int = 400) -> bytes:
    pcm = _rng(asset_id, seed).integers(-32768, 32768, size=n, dtype=np.int16)
    return RAW_AUDIO_MAGIC + struct.pack("<ii", sample_rate, n) + pcm.tobytes()


def encode_raw_video(asset_id: int, seed: int, w: int = 8, h: int = 8, n_frames: int = 12) -> bytes:
    frames = _rng(asset_id, seed).integers(0, 256, size=w * h * n_frames, dtype=np.uint8)
    return RAW_VIDEO_MAGIC + struct.pack("<iii", w, h, n_frames) + frames.tobytes()


def _make_asset(asset_id: int, seed: int) -> tuple:
    kind = ("image", "audio", "video")[asset_id % 3]
    if kind == "image":
        payload = encode_raw_image(asset_id, seed)
        meta = (16, 12, 3, None, None, None, "raw-img")
    elif kind == "audio":
        payload = encode_raw_audio(asset_id, seed)
        meta = (None, None, None, 8000, 400, None, "raw-pcm16")
    else:
        payload = encode_raw_video(asset_id, seed)
        meta = (8, 8, 1, None, None, 12, "raw-vid")
    return (asset_id, kind, bytearray(payload), meta)


def synthesize_assets(spark: SparkSession, n: int = 96, seed: int = 7,
                      partitions: int = 8) -> DataFrame:
    """Deterministic asset table, generated distributed: the driver ships
    only (asset_id, seed); payload bytes materialize inside mapInPandas on
    the executors (at 10^9 assets the driver never holds a payload)."""
    ids = spark.range(0, n, 1, partitions)

    def gen(batches):
        for pdf in batches:
            rows = [_make_asset(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "asset_id": [r[0] for r in rows],
                    "kind": [r[1] for r in rows],
                    "payload": [r[2] for r in rows],
                    "meta": [
                        {f.name: v for f, v in zip(META_FIELDS, r[3])} for r in rows
                    ],
                }
            )

    return ids.mapInPandas(gen, schema=ASSET_SCHEMA)


def _derived_assets(docs: DataFrame, encode_fn, kind: str, meta: dict) -> DataFrame:
    """One generator for every derive-an-asset-per-document builder
    (code-review r4: five copy-pasted mapInPandas scaffolds differing only
    in encoder/kind/meta). Payloads are a deterministic function of
    doc_id, so any sf_dir yields the same assets on every engine/run —
    what makes the decoded statistics DuckDB-verifiable."""
    # explicit width for the Python-compute stages downstream: the
    # encode/decode/feature chain is CPU-bound in Python workers, so its
    # parallelism must not be an accident of the source file count (a
    # single-file corpus serialized the whole multimodal family onto one
    # core — round-5 plan audit). The exchange moves id-only rows: free.
    # A source already split wider than the cluster keeps its width.
    par = max(docs.sparkSession.sparkContext.defaultParallelism, docs.rdd.getNumPartitions())
    ids = docs.select(F.col("doc_id").cast("long").alias("id")).repartition(par)

    def gen(batches):
        for pdf in batches:
            rows = [(int(i), bytearray(encode_fn(int(i)))) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "asset_id": [r[0] for r in rows],
                    "kind": [kind] * len(rows),
                    "payload": [r[1] for r in rows],
                    "meta": [meta] * len(rows),
                }
            )

    return ids.mapInPandas(gen, schema=ASSET_SCHEMA)


_NO_META = {"width": None, "height": None, "channels": None,
            "sample_rate": None, "n_samples": None, "n_frames": None}


def assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """Image-asset table 1:1 from a documents table (md5 pixel stream,
    RAW container) — the 'render the doc' derivation pattern."""
    return _derived_assets(
        docs, encode_md5_image, "image",
        {**_NO_META, "width": 16, "height": 12, "channels": 3,
         "codec": "raw-img"})


def video_assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """Video twin (stream key 'v', RAW container, 12 frames)."""
    return _derived_assets(
        docs, encode_md5_video, "video",
        {**_NO_META, "width": 8, "height": 8, "channels": 1, "n_frames": 12,
         "codec": "raw-vid"})


def audio_assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """Audio twin (stream key 'a', RAW PCM16 container)."""
    return _derived_assets(
        docs, encode_md5_audio, "audio",
        {**_NO_META, "sample_rate": 8000, "n_samples": 400,
         "codec": "raw-pcm16"})


def wav_assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """Real-format twin of audio_assets_from_documents: the SAME md5
    sample stream in a genuine RIFF/WAVE container -> the real ``wav``
    codec, same features, same oracle."""
    return _derived_assets(
        docs, encode_wav, "audio",
        {**_NO_META, "sample_rate": 8000, "n_samples": 400, "codec": "wav"})


def png_assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """Real-format twin of assets_from_documents: the SAME md5 pixel
    stream in a genuine PNG -> the real ``png`` codec, same features,
    same oracle."""
    return _derived_assets(
        docs, encode_png, "image",
        {**_NO_META, "width": 16, "height": 12, "channels": 3,
         "codec": "png"})


def mp4_assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """Real-format twin of video_assets_from_documents: the SAME md5
    frame stream in a genuine ISO-BMFF container -> the real ``mp4``
    demuxer, same features, same oracle."""
    return _derived_assets(
        docs, encode_mp4, "video",
        {**_NO_META, "width": 8, "height": 8, "channels": 1, "n_frames": 12,
         "codec": "mp4"})


def jpeg_assets_from_documents(docs: DataFrame, seed: int = 7) -> DataFrame:
    """LOSSY-codec twin: genuine baseline JPEGs whose 8x8 blocks are
    flat md5-derived values (stream key 'j') — flatness makes the lossy
    round-trip exact, so the decoded statistics stay DuckDB-oracle-able
    (queries.multimodal_jpeg_stats)."""
    return _derived_assets(
        docs, encode_jpeg, "image",
        {**_NO_META, "width": 16, "height": 16, "channels": 1,
         "codec": "jpeg"})
