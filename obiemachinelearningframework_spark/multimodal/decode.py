"""Decode / feature-extract / resize / frame-sample over binary columns.

All operators are Arrow-batched ``mapInPandas`` stages: one Python process
per partition, whole pandas batches in and out, zero per-row Python UDFs.
At 100 TB the input table is partitioned by ``kind`` so each stage scans
only its modality, and ``spark.sql.files.maxPartitionBytes`` bounds the
decoded-bytes-in-flight per task (decoded image >> payload; keep
partitions small on the decode stage, repartition wider before it if
payloads are large).

Codec seam: ``DECODERS[codec]`` maps codec string -> bytes -> np.ndarray.
The in-repo RAW codecs are complete, and every real-format key is a REAL
pure-stdlib/numpy implementation: ``png`` (zlib inflate + all five
scanline filters), ``wav`` (RIFF chunk walk, PCM16), ``jpeg`` (baseline
T.81: Huffman entropy decode + dequant + IDCT) and ``mp4`` (full
ISO-BMFF box walk + stsd/stsz/stsc/stco sample extraction; uncompressed
'raw ' track payload — compressed bitstreams like avc1 refuse loudly
until ffmpeg is provisioned). Each is oracle-verified end-to-end by
queries.multimodal_{png_stats,wav_stats,jpeg_stats,mp4_frames}, which
wrap the same md5-derived pixel/sample streams in genuine containers;
the injection seam itself is contract-tested
(test_codec_seam_accepts_third_party_decoder).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .assets import RAW_AUDIO_MAGIC, RAW_IMAGE_MAGIC, RAW_VIDEO_MAGIC


def _decode_raw_image(payload: bytes) -> np.ndarray:
    assert payload[:4] == RAW_IMAGE_MAGIC, "not a raw image"
    w, h, c = struct.unpack("<iii", payload[4:16])
    return np.frombuffer(payload[16:], dtype=np.uint8).reshape(h, w, c)


def _decode_raw_audio(payload: bytes) -> tuple[int, np.ndarray]:
    assert payload[:4] == RAW_AUDIO_MAGIC, "not raw audio"
    rate, n = struct.unpack("<ii", payload[4:12])
    return rate, np.frombuffer(payload[12:], dtype=np.int16)


def _decode_raw_video(payload: bytes) -> np.ndarray:
    assert payload[:4] == RAW_VIDEO_MAGIC, "not raw video"
    w, h, n = struct.unpack("<iii", payload[4:16])
    return np.frombuffer(payload[16:], dtype=np.uint8).reshape(n, h, w)


def _decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL RIFF/WAVE parser (pure stdlib): walks the chunk list (word-
    aligned), reads ``fmt `` (PCM, 16-bit, mono) and ``data``. Same
    return contract as the raw-pcm16 codec: (sample_rate, int16 array).
    Handles extra chunks (LIST/INFO/fact) by skipping them, as a real
    decoder must."""
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE", "not RIFF/WAVE"
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        # a declared size past EOF means a truncated/corrupt file; without
        # this check the short slice decodes to a plausible-looking but
        # WRONG sample count (ADVICE r4: fail loudly, don't guess)
        if len(body) != size:
            raise ValueError(
                f"truncated WAV: chunk {tag!r} declares {size} bytes, "
                f"{len(body)} remain")
        if tag == b"fmt ":
            fmt_code, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if not (fmt_code == 1 and bits == 16 and n_ch == 1):
                raise NotImplementedError(
                    f"wav variant not supported: fmt={fmt_code} ch={n_ch} bits={bits}"
                )
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    assert rate is not None and data is not None, "missing fmt/data chunk"
    return rate, np.frombuffer(data, dtype="<i2")


def _decode_png(payload: bytes) -> np.ndarray:
    """REAL PNG decoder (pure stdlib zlib + per-row unfiltering): 8-bit
    grayscale/RGB/RGBA, all five scanline filters (None/Sub/Up/Average/
    Paeth), no interlace. Returns (h, w, c) uint8 — the same contract as
    the raw-img codec, so the whole image pipeline is codec-agnostic."""
    import zlib

    assert payload[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, idat, ihdr = 8, b"", None
    while pos + 8 <= len(payload):
        size = struct.unpack(">I", payload[pos:pos + 4])[0]
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + size]
        # truncation + bit-rot must raise, not decode to wrong pixels
        # (ADVICE r4): a chunk body short of its declared length means the
        # file was cut, and every chunk carries a CRC32 over tag+body that
        # a real decoder verifies
        if len(body) != size or pos + 12 + size > len(payload):
            raise ValueError(
                f"truncated PNG: chunk {tag!r} declares {size} bytes, "
                f"{len(body)} remain")
        crc = struct.unpack(">I", payload[pos + 8 + size:pos + 12 + size])[0]
        if zlib.crc32(tag + body) != crc:
            raise ValueError(f"corrupt PNG: CRC mismatch on chunk {tag!r}")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            ended = True
            break
        pos += 12 + size  # len + tag + body + crc
    else:
        ended = False
    if not ended:
        # a stream that runs out before IEND was cut mid-file; the IDAT
        # seen so far may be incomplete even if it inflates
        raise ValueError("truncated PNG: no IEND chunk")
    assert ihdr is not None and idat, "missing IHDR/IDAT"
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or comp != 0 or filt != 0 or inter != 0:
        raise NotImplementedError(
            f"png variant not supported: depth={depth} interlace={inter}")
    c = {0: 1, 2: 3, 6: 4}.get(ctype)
    if c is None:
        raise NotImplementedError(f"png color type {ctype} not supported")
    raw = zlib.decompress(idat)
    stride = w * c
    assert len(raw) == h * (stride + 1), "corrupt PNG scanline data"
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if f == 1:      # Sub
            for i in range(c, stride):
                line[i] = (line[i] + line[i - c]) & 0xFF
        elif f == 2:    # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:    # Average
            for i in range(stride):
                a = line[i - c] if i >= c else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:    # Paeth
            for i in range(stride):
                a = line[i - c] if i >= c else 0
                b = prev[i]
                cc = prev[i - c] if i >= c else 0
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter byte {f}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    return out.reshape(h, w, c)


def _decode_jpeg(payload: bytes) -> np.ndarray:
    """REAL baseline-profile JPEG decoder (pure stdlib + numpy, ITU
    T.81): marker walk (APP*/COM skipped with strict length checks), DQT
    (8-bit tables), SOF0, DHT (canonical code reconstruction), SOS, then
    Huffman entropy decode (byte unstuffing, DC difference + AC
    run-length/EOB/ZRL), dequantization, de-zigzag, float IDCT, level
    shift and clip. Supports 1–3 components with no chroma subsampling
    (sampling factors 1x1; YCbCr->RGB for 3 components); progressive,
    arithmetic, restart-interval and subsampled streams raise
    NotImplementedError loudly. Tables are read FROM the stream, so any
    legal baseline file with these shapes decodes — not just
    assets.jpeg_encode_gray output. Returns (h, w, c) uint8."""
    from .assets import _dct_basis, jpeg_zigzag

    assert payload[:2] == b"\xff\xd8", "not a JPEG (no SOI)"
    pos = 2
    qtables: dict = {}
    huff: dict = {}          # (class, id) -> {(code, length): symbol}
    frame = None
    scan_comps = None
    data = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker code — skip them (code-review r5: a legal encoder's
        # padding used to parse as a bogus 0xFF marker + garbage length)
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker != 0xD9 and pos + 4 > len(payload):
            # fill-byte skip may leave fewer than 4 bytes: keep the
            # corrupt-input contract a ValueError, not a struct.error
            raise ValueError("truncated JPEG: cut marker header")
        if marker == 0xD9:               # EOI before SOS -> no image
            break
        size = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        body = payload[pos + 4:pos + 2 + size]
        if len(body) != size - 2:
            raise ValueError(
                f"truncated JPEG: segment {marker:#x} declares {size - 2} "
                f"bytes, {len(body)} remain")
        if marker == 0xDB:               # DQT
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qtables[tq] = np.frombuffer(b[1:65], dtype=np.uint8).astype(np.int64)
                b = b[65:]
        elif marker == 0xC4:             # DHT
            from .assets import _huff_walk

            b = body
            while b:
                tc, th = b[0] >> 4, b[0] & 0x0F
                bits = list(b[1:17])
                n = sum(bits)
                vals = list(b[17:17 + n])
                # same canonical walk as the encoder, keyed the decode
                # direction ((code, length) -> symbol keeps every code
                # even for a DHT that repeats a symbol)
                huff[(tc, th)] = {
                    (code, ln): sym
                    for sym, code, ln in _huff_walk([0] + bits, vals)
                }
                b = b[17 + n:]
        elif marker == 0xC0:             # SOF0 baseline
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise NotImplementedError(f"precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        f"chroma subsampling (sampling factor {hv:#x})")
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker {marker:#x})")
        elif marker == 0xDD:             # DRI
            if struct.unpack(">H", body)[0] != 0:
                raise NotImplementedError("restart intervals")
        elif marker == 0xDA:             # SOS
            ns = body[0]
            scan_comps = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
            data = payload[pos + 2 + size:]
            break
        pos += 2 + size
    if frame is None or scan_comps is None or data is None:
        raise ValueError("corrupt JPEG: missing SOF0/SOS")
    h, w, comps = frame
    nc = len(comps)
    if nc not in (1, 3) or len(scan_comps) != nc:
        raise NotImplementedError(f"{nc}-component scan")
    # SOS table ids per component (dc table high nibble, ac low)
    tsel = {cid: (t >> 4, t & 0x0F) for cid, t in scan_comps}
    for cid, tq in comps:
        if tq not in qtables:
            raise ValueError(f"corrupt JPEG: undefined quantization table {tq}")
        if cid not in tsel:
            raise ValueError(f"corrupt JPEG: undefined scan component {cid}")
        td, ta = tsel[cid]
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError(
                f"corrupt JPEG: undefined Huffman table (dc {td}, ac {ta})")

    # strip the entropy-coded segment: unstuff 0xFF00, stop at a marker
    # (0xFF fill bytes may pad before it, T.81 B.1.1.2)
    ecs = bytearray()
    i, ended = 0, False
    while i < len(data):
        b = data[i]
        if b == 0xFF:
            j = i + 1
            while j < len(data) and data[j] == 0xFF:
                j += 1
            nxt = data[j] if j < len(data) else None
            if nxt == 0x00 and j == i + 1:
                ecs.append(0xFF)
                i += 2
                continue
            if nxt == 0xD9:
                ended = True
            break
        ecs.append(b)
        i += 1
    if not ended:
        raise ValueError("truncated JPEG: entropy stream ends without EOI")

    class _Bits:
        def __init__(self, buf):
            self.buf, self.pos = buf, 0

        def take(self, n):
            v = 0
            for _ in range(n):
                byte = self.buf[self.pos >> 3]
                v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
                self.pos += 1
            return v

    def huff_decode(bits, table):
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | bits.take(1)
            length += 1
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("corrupt JPEG: invalid Huffman code")

    def extend(v, size):
        return v if v >= (1 << (size - 1)) else v - (1 << size) + 1

    A = _dct_basis()
    zz = jpeg_zigzag()
    by, bx = (h + 7) // 8, (w + 7) // 8
    planes = [np.zeros((by * 8, bx * 8)) for _ in range(nc)]
    bits = _Bits(bytes(ecs))
    prev_dc = [0] * nc
    try:
        for y in range(by):
            for x in range(bx):
                for ci, (cid, tq) in enumerate(comps):
                    td, ta = tsel[cid]
                    coef = np.zeros(64, dtype=np.int64)
                    size = huff_decode(bits, huff[(0, td)])
                    diff = extend(bits.take(size), size) if size else 0
                    prev_dc[ci] += diff
                    coef[0] = prev_dc[ci]
                    k = 1
                    while k < 64:
                        rs = huff_decode(bits, huff[(1, ta)])
                        r, s = rs >> 4, rs & 0x0F
                        if rs == 0x00:           # EOB
                            break
                        if rs == 0xF0:           # ZRL
                            k += 16
                            continue
                        k += r
                        if k > 63:
                            raise ValueError("corrupt JPEG: AC index overflow")
                        coef[k] = extend(bits.take(s), s)
                        k += 1
                    S = np.zeros((8, 8))
                    dq = coef * qtables[tq]
                    for idx, (r_, c_) in enumerate(zz):
                        S[r_, c_] = dq[idx]
                    blk = A.T @ S @ A + 128.0
                    planes[ci][y * 8:(y + 1) * 8, x * 8:(x + 1) * 8] = blk
    except IndexError as e:
        raise ValueError("truncated JPEG: entropy stream exhausted") from e
    out = np.stack([p[:h, :w] for p in planes], axis=2)
    if nc == 3:                                  # YCbCr (JFIF) -> RGB
        ycc = out
        yy, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
        out = np.stack(
            [yy + 1.402 * cr,
             yy - 0.344136 * cb - 0.714136 * cr,
             yy + 1.772 * cb], axis=2)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def _mp4_children(buf: bytes, pos: int, end: int):
    """Walk one ISO-BMFF box level, yielding (tag, body_start, body_end)
    with strict size checks (a declared size past the parent's end means
    truncation/corruption — fail loudly, ADVICE-r4 discipline)."""
    while pos + 8 <= end:
        size = struct.unpack(">I", buf[pos:pos + 4])[0]
        tag = buf[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:                       # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated mp4: cut largesize header")
            size = struct.unpack(">Q", buf[pos + 8:pos + 16])[0]
            body = pos + 16
        elif size == 0:                     # box extends to parent end
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(
                f"truncated mp4: box {tag!r} declares {size} bytes, "
                f"{end - pos} remain")
        yield tag, body, pos + size
        pos += size
    if pos != end:
        raise ValueError("truncated mp4: trailing bytes are not a box")


def _mp4_child(buf, pos, end, want: bytes):
    for tag, b, e in _mp4_children(buf, pos, end):
        if tag == want:
            return b, e
    raise ValueError(f"corrupt mp4: missing {want!r} box")


def _decode_mp4(payload: bytes) -> np.ndarray:
    """REAL ISO-BMFF (mp4) demuxer, pure stdlib: full box walk to the
    video track's sample tables (stsd/stsz/stsc/stco, co64-aware),
    sample extraction from mdat via chunk offsets — the genuine
    container path every mp4 reader runs. Bitstream support is the
    uncompressed ``raw `` 8-bit-grayscale sample entry (the honest split:
    the CONTAINER walk is complete; compressed codecs — avc1/hvc1/… —
    raise NotImplementedError until ffmpeg is provisioned). Returns
    (n_frames, h, w) uint8, the raw-vid contract."""
    n = len(payload)
    moov = None
    for tag, b, e in _mp4_children(payload, 0, n):
        if tag == b"moov":
            moov = (b, e)
    if moov is None:
        raise ValueError("corrupt mp4: missing moov box")

    frames = None
    for tag, tb, te in _mp4_children(payload, *moov):
        if tag != b"trak":
            continue
        mb, me = _mp4_child(payload, tb, te, b"mdia")
        hb, he = _mp4_child(payload, mb, me, b"hdlr")
        if payload[hb + 8:hb + 12] != b"vide":
            continue
        nb, ne = _mp4_child(payload, mb, me, b"minf")
        sb, se = _mp4_child(payload, nb, ne, b"stbl")

        # sample description: fourcc + dims + depth
        db, de = _mp4_child(payload, sb, se, b"stsd")
        fourcc = payload[db + 12:db + 16]
        if fourcc != b"raw ":
            raise NotImplementedError(
                f"mp4 sample codec {fourcc!r} needs ffmpeg; only the "
                "uncompressed 'raw ' entry decodes in this environment")
        ent = db + 16          # inside the sample entry, after size+tag
        w, h = struct.unpack(">HH", payload[ent + 24:ent + 28])
        depth = struct.unpack(">H", payload[ent + 74:ent + 76])[0]
        if depth != 8:
            raise NotImplementedError(f"raw mp4 depth {depth} (only 8-bit gray)")

        # sample sizes (uniform or per-sample table)
        zb, ze = _mp4_child(payload, sb, se, b"stsz")
        uniform, count = struct.unpack(">II", payload[zb + 4:zb + 12])
        if uniform:
            sizes = [uniform] * count
        else:
            sizes = list(struct.unpack(f">{count}I", payload[zb + 12:zb + 12 + 4 * count]))

        # chunk offsets (stco 32-bit or co64)
        try:
            cb, ce = _mp4_child(payload, sb, se, b"stco")
            n_chunk = struct.unpack(">I", payload[cb + 4:cb + 8])[0]
            offs = struct.unpack(f">{n_chunk}I", payload[cb + 8:cb + 8 + 4 * n_chunk])
        except ValueError:
            cb, ce = _mp4_child(payload, sb, se, b"co64")
            n_chunk = struct.unpack(">I", payload[cb + 4:cb + 8])[0]
            offs = struct.unpack(f">{n_chunk}Q", payload[cb + 8:cb + 8 + 8 * n_chunk])

        # chunk -> samples-per-chunk map (stsc runs)
        kb, ke = _mp4_child(payload, sb, se, b"stsc")
        n_run = struct.unpack(">I", payload[kb + 4:kb + 8])[0]
        runs = [struct.unpack(">III", payload[kb + 8 + 12 * i:kb + 20 + 12 * i])
                for i in range(n_run)]

        data, si = bytearray(), 0
        for ci, off in enumerate(offs):
            try:
                per = next(r[1] for r in reversed(runs) if r[0] <= ci + 1)
            except StopIteration:
                raise ValueError(
                    f"corrupt mp4: stsc has no run covering chunk {ci + 1}"
                ) from None
            pos = off
            for _ in range(per):
                if si >= count:
                    break
                if pos + sizes[si] > n:
                    raise ValueError("truncated mp4: sample past end of file")
                data += payload[pos:pos + sizes[si]]
                pos += sizes[si]
                si += 1
        if si != count:
            raise ValueError(
                f"corrupt mp4: sample tables cover {si} of {count} samples")
        if len(data) != count * w * h:
            raise ValueError("corrupt mp4: sample bytes != frames * w * h")
        frames = np.frombuffer(bytes(data), dtype=np.uint8).reshape(count, h, w)
    if frames is None:
        raise ValueError("corrupt mp4: no video track")
    return frames


DECODERS = {
    "raw-img": _decode_raw_image,
    "raw-pcm16": _decode_raw_audio,
    "raw-vid": _decode_raw_video,
    "png": _decode_png,      # real codec, pure stdlib (zlib + unfilter)
    "wav": _decode_wav,      # real codec, pure stdlib (RIFF chunk walk)
    "jpeg": _decode_jpeg,    # real codec, pure stdlib+numpy baseline T.81
    "mp4": _decode_mp4,      # real ISO-BMFF demux; raw-gray track payload
}


# ------------------------------------------------------------------ image ops

DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixels", BinaryType()),  # h*w*c uint8, row-major
    ]
)


def decode_images(assets: DataFrame) -> DataFrame:
    """binary payload -> (dims, raw pixel buffer). Output stays binary so
    downstream Arrow transfer is one buffer per row, not a list of ints."""

    def run(batches):
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "channels": [], "pixels": []}
            for aid, payload, meta in zip(pdf["asset_id"], pdf["payload"], pdf["meta"]):
                arr = DECODERS[meta["codec"]](bytes(payload))
                h, w, c = arr.shape
                out["asset_id"].append(aid)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["pixels"].append(bytearray(arr.tobytes()))
            yield pd.DataFrame(out)

    return assets.filter("kind = 'image'").mapInPandas(run, schema=DECODED_IMAGE_SCHEMA)


def resize_images(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize — pure numpy indexing, vectorized per image."""

    def run(batches):
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "channels": [], "pixels": []}
            for aid, w, h, c, buf in zip(
                pdf["asset_id"], pdf["width"], pdf["height"], pdf["channels"], pdf["pixels"]
            ):
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, c)
                ys = (np.arange(out_h) * h // out_h).astype(np.int64)
                xs = (np.arange(out_w) * w // out_w).astype(np.int64)
                res = arr[ys][:, xs]
                out["asset_id"].append(aid)
                out["width"].append(out_w)
                out["height"].append(out_h)
                out["channels"].append(c)
                out["pixels"].append(bytearray(res.tobytes()))
            yield pd.DataFrame(out)

    return decoded.mapInPandas(run, schema=DECODED_IMAGE_SCHEMA)


IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("mean_rgb", ArrayType(DoubleType())),
        StructField("std_rgb", ArrayType(DoubleType())),
        StructField("brightness", DoubleType()),
        StructField("phash", StringType()),
    ]
)


def image_features(decoded: DataFrame) -> DataFrame:
    """Per-channel mean/std, brightness, and an 8x8 average-hash-style
    perceptual hash (hex) — the embed-ready feature row per image."""

    def run(batches):
        for pdf in batches:
            out = {"asset_id": [], "mean_rgb": [], "std_rgb": [], "brightness": [], "phash": []}
            for aid, w, h, c, buf in zip(
                pdf["asset_id"], pdf["width"], pdf["height"], pdf["channels"], pdf["pixels"]
            ):
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, c).astype(np.float64)
                gray = arr.mean(axis=2)
                ys = (np.arange(8) * h // 8).astype(np.int64)
                xs = (np.arange(8) * w // 8).astype(np.int64)
                small = gray[ys][:, xs]
                bits = (small > small.mean()).flatten()
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                out["asset_id"].append(aid)
                out["mean_rgb"].append([round(float(x), 6) for x in arr.mean(axis=(0, 1))])
                out["std_rgb"].append([round(float(x), 6) for x in arr.std(axis=(0, 1))])
                out["brightness"].append(round(float(gray.mean()), 6))
                out["phash"].append(f"{val:016x}")
            yield pd.DataFrame(out)

    return decoded.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


# ------------------------------------------------------------------ video ops

FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixels", BinaryType()),
    ]
)


def frame_sample(assets: DataFrame, every_k: int = 4) -> DataFrame:
    """Video -> every k-th frame as an image row (one-to-many mapInPandas;
    the Spark analog of an UDTF/explode over the decoded stream)."""

    def run(batches):
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "width": [], "height": [],
                   "channels": [], "pixels": []}
            for aid, payload, meta in zip(pdf["asset_id"], pdf["payload"], pdf["meta"]):
                frames = DECODERS[meta["codec"]](bytes(payload))
                n, h, w = frames.shape
                for i in range(0, n, every_k):
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(i)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(1)
                    out["pixels"].append(bytearray(frames[i].tobytes()))
            yield pd.DataFrame(out)

    return assets.filter("kind = 'video'").mapInPandas(run, schema=FRAME_SCHEMA)


FRAME_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("brightness", DoubleType()),
    ]
)


def frame_features(frames: DataFrame) -> DataFrame:
    """Sampled frame -> brightness (mean pixel value). Keyed by
    (asset_id, frame_idx) so per-frame stats survive downstream joins —
    image_features would collapse the frame dimension."""

    def run(batches):
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "brightness": []}
            for aid, idx, buf in zip(pdf["asset_id"], pdf["frame_idx"], pdf["pixels"]):
                px = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.float64)
                out["asset_id"].append(aid)
                out["frame_idx"].append(idx)
                out["brightness"].append(round(float(px.mean()), 6))
            yield pd.DataFrame(out)

    return frames.mapInPandas(run, schema=FRAME_FEATURE_SCHEMA)


# ------------------------------------------------------------------ audio ops

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossing_rate", DoubleType()),
    ]
)


def audio_features(assets: DataFrame) -> DataFrame:
    """PCM -> RMS energy + zero-crossing rate (speech/music/quality gates)."""

    def run(batches):
        for pdf in batches:
            out = {"asset_id": [], "sample_rate": [], "duration_ms": [], "rms": [],
                   "zero_crossing_rate": []}
            for aid, payload, meta in zip(pdf["asset_id"], pdf["payload"], pdf["meta"]):
                rate, pcm = DECODERS[meta["codec"]](bytes(payload))
                x = pcm.astype(np.float64) / 32768.0
                zc = float(np.mean(np.abs(np.diff(np.signbit(x)).astype(np.float64))))
                out["asset_id"].append(aid)
                out["sample_rate"].append(rate)
                out["duration_ms"].append(round(len(x) / rate * 1000.0, 3))
                out["rms"].append(round(float(np.sqrt(np.mean(x * x))), 6))
                out["zero_crossing_rate"].append(round(zc, 6))
            yield pd.DataFrame(out)

    return assets.filter("kind = 'audio'").mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)
