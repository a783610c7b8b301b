"""Property tests for the real PNG/WAV codecs (pure stdlib decoders in
multimodal/decode.py): random image content, random per-row filter
choices, random audio lengths — decode must invert encode bit-exactly.
Driverless (no SparkSession): these pin the codec kernels themselves;
the Spark plumbing is pinned by test_multimodal + the DuckDB oracles."""

import struct
import zlib

import numpy as np
from hypothesis import given, settings, strategies as st

from obiemachinelearningframework_spark.multimodal.assets import encode_wav
from obiemachinelearningframework_spark.multimodal.decode import (
    _decode_png,
    _decode_wav,
)


def _png_with_filters(img: np.ndarray, filters: list) -> bytes:
    """Encode (h, w, c) uint8 as a PNG using the GIVEN per-row filter
    types (the encode direction of the five spec filters)."""
    h, w, c = img.shape
    stride = w * c
    raw = b""
    prev = bytes(stride)
    for y in range(h):
        f = filters[y]
        line = img[y].tobytes()
        enc = bytearray(line)
        for i in range(stride):
            a = line[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            elif f == 4:
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            else:
                pred = 0
            enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line
    ctype = {1: 0, 3: 2, 4: 6}[c]

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_roundtrip_any_filters(w, h, c, seed, data):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
    filters = data.draw(st.lists(
        st.integers(0, 4), min_size=h, max_size=h))
    got = _decode_png(_png_with_filters(img, filters))
    assert got.shape == (h, w, c)
    assert np.array_equal(got, img)


@settings(max_examples=25, deadline=None)
@given(
    asset_id=st.integers(0, 2**31 - 1),
    n=st.integers(1, 700),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_any_length(asset_id, n, rate):
    from obiemachinelearningframework_spark.multimodal.assets import md5_bytes

    got_rate, pcm = _decode_wav(encode_wav(asset_id, sample_rate=rate, n=n))
    assert got_rate == rate and len(pcm) == n
    assert pcm.tobytes() == md5_bytes("a", asset_id, 2 * n)


# ------------------------------------------------------------------ JPEG

from obiemachinelearningframework_spark.multimodal.assets import (  # noqa: E402
    encode_jpeg,
    jpeg_block_pixels,
    jpeg_encode_gray,
)
from obiemachinelearningframework_spark.multimodal.decode import _decode_jpeg  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    bw=st.integers(min_value=1, max_value=4),
    bh=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_bounded_error(bw, bh, seed):
    """Arbitrary gray content through the REAL baseline encoder+decoder:
    with the all-ones quant table the only loss is FDCT integer rounding,
    so every pixel must come back within a small bound (measured <= 1;
    asserted <= 2 for slack against cos-term rounding)."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(bh * 8, bw * 8), dtype=np.uint8)
    dec = _decode_jpeg(jpeg_encode_gray(px))
    assert dec.shape == (bh * 8, bw * 8, 1)
    assert np.abs(dec[..., 0].astype(int) - px.astype(int)).max() <= 2


@settings(max_examples=25, deadline=None)
@given(asset_id=st.integers(min_value=0, max_value=10_000))
def test_jpeg_flat_blocks_roundtrip_exactly(asset_id):
    """The oracle contract: flat 8x8 blocks are DC-only, and DC survives
    the all-ones quant table bit-exactly — decode(encode(x)) == x, which
    is what lets a LOSSY codec keep the identical DuckDB oracle."""
    img = jpeg_block_pixels(asset_id)
    dec = _decode_jpeg(encode_jpeg(asset_id))
    assert np.array_equal(dec[..., 0], img)


def test_jpeg_truncation_and_unsupported_fail_loudly():
    import pytest

    enc = encode_jpeg(3)
    with pytest.raises(ValueError, match="truncated JPEG"):
        _decode_jpeg(enc[:-4])
    with pytest.raises(ValueError, match="truncated JPEG"):
        _decode_jpeg(enc[: len(enc) // 2])
    # progressive SOF2 must refuse, not mis-decode
    prog = bytearray(enc)
    sof_at = prog.find(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="non-baseline"):
        _decode_jpeg(bytes(prog))


# ------------------------------------------------------------------ MP4

from obiemachinelearningframework_spark.multimodal.assets import encode_mp4  # noqa: E402
from obiemachinelearningframework_spark.multimodal.decode import (  # noqa: E402
    _decode_mp4,
    _decode_raw_video,
)
from obiemachinelearningframework_spark.multimodal.assets import (  # noqa: E402
    encode_md5_video,
)


@settings(max_examples=25, deadline=None)
@given(
    asset_id=st.integers(min_value=0, max_value=10_000),
    w=st.sampled_from([8, 16]),
    h=st.sampled_from([8, 16]),
    n=st.integers(min_value=1, max_value=24),
)
def test_mp4_demux_matches_raw_video(asset_id, w, h, n):
    """The ISO-BMFF walk must hand back exactly the frame stream the RAW
    container carries — container parsing adds nothing, loses nothing."""
    frames = _decode_mp4(encode_mp4(asset_id, w=w, h=h, n_frames=n))
    assert frames.shape == (n, h, w)
    ref = _decode_raw_video(encode_md5_video(asset_id, w=w, h=h, n_frames=n))
    assert np.array_equal(frames, ref)


def test_mp4_truncation_and_foreign_codec_fail_loudly():
    import pytest

    p = encode_mp4(5)
    for cut in (3, 40, 300):
        with pytest.raises(ValueError, match="truncated mp4|corrupt mp4"):
            _decode_mp4(p[:-cut])
    # an avc1 sample entry must refuse, not mis-decode: find the stsd
    # fourcc via the box tree (not a blind byte search)
    import struct as _s
    pos = 0
    while p[pos + 4:pos + 8] != b"moov":
        pos += _s.unpack(">I", p[pos:pos + 4])[0]
    i = p.index(b"stsd", pos) + 12      # fourcc of entry 1
    bad = bytearray(p)
    bad[i + 4:i + 8] = b"avc1"
    with pytest.raises(NotImplementedError, match="needs ffmpeg"):
        _decode_mp4(bytes(bad))


def test_jpeg_fill_bytes_before_marker_decode():
    """T.81 B.1.1.2: 0xFF fill bytes may pad before any marker — a legal
    encoder's padding must not parse as a bogus segment (code-review r5)."""
    p = encode_jpeg(9)
    i = p.index(b"\xff\xc4")                      # first DHT
    padded = p[:i] + b"\xff\xff\xff" + p[i:]
    dec = _decode_jpeg(padded)
    assert np.array_equal(dec[..., 0], jpeg_block_pixels(9))


def test_jpeg_undefined_table_ids_raise_value_error():
    """A frame or scan that names a quantization table, Huffman table or
    component the file never defined is corrupt: ValueError, like every
    other corruption path, before entropy decoding starts."""
    import pytest

    enc = encode_jpeg(3)
    sof = enc.index(b"\xff\xc0") + 4   # body: precision, h, w, nc, (cid, hv, tq)
    sos = enc.index(b"\xff\xda") + 4   # body: ns, (cid, dc << 4 | ac), ...
    for at, value in ((sof + 8, 1), (sos + 2, 0x11), (sos + 2, 0x01), (sos + 1, 2)):
        bad = bytearray(enc)
        bad[at] = value
        with pytest.raises(ValueError, match="corrupt JPEG: undefined"):
            _decode_jpeg(bytes(bad))
