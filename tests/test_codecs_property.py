"""Property-based tests for the pure-Python codec layer (no Spark):
the GIF LZW codec and the JPEG entropy-coding/IDCT path under random
inputs, every row decoder on every prefix of its synthesized payloads,
and golden digests of the synthesized payload bytes. Complements the fixed-case byte-sensitivity tests in
test_multimodal.py — hypothesis hunts the corners (alphabet edges,
dictionary growth boundaries, zero runs, category-size boundaries)."""

from __future__ import annotations

import functools
import hashlib

import pytest
from hypothesis import given, settings, strategies as st

from kafka_custom_transforms_spark.operators import multimodal as mm
from kafka_custom_transforms_spark.operators.multimodal import (
    _decode_row,
    _gif_lzw_decode,
    _gif_lzw_encode,
    _jpeg_bytes,
    _jpeg_decode_gray,
    _jpeg_decode_planes,
    _jpeg_encode_gray,
    _jpeg_encode_ycbcr,
    _jpeg_idct_2d,
)

QY = [8] + [16] * 63
QC = [8] + [24] * 63


@settings(max_examples=60, deadline=None)
@given(
    min_code=st.integers(min_value=2, max_value=8),
    data=st.data(),
)
def test_gif_lzw_roundtrip_any_alphabet(min_code, data):
    stream = bytes(
        data.draw(
            st.lists(
                st.integers(0, (1 << min_code) - 1), min_size=0, max_size=600
            )
        )
    )
    assert _gif_lzw_decode(_gif_lzw_encode(stream, min_code), min_code) == stream


@settings(max_examples=25, deadline=None)
@given(
    bw=st.integers(1, 4),
    bh=st.integers(1, 3),
    data=st.data(),
)
def test_jpeg_gray_dc_only_any_grid(bw, bh, data):
    """Random DC grids decode to exactly dc+128 per block (q0=8): the DC
    diff Huffman chain survives arbitrary diff categories incl. zero."""
    dcs = data.draw(
        st.lists(st.integers(-100, 100), min_size=bw * bh, max_size=bw * bh)
    )
    blocks = [[dc] + [0] * 63 for dc in dcs]
    payload = _jpeg_encode_gray(bw * 8, bh * 8, blocks, QY)
    w, h, px = _jpeg_decode_gray(payload)
    assert (w, h) == (bw * 8, bh * 8)
    k = 0
    for by in range(bh):
        for bx in range(bw):
            assert px[(by * 8) * w + bx * 8] == dcs[k] + 128
            assert px[(by * 8 + 7) * w + bx * 8 + 7] == dcs[k] + 128
            k += 1


def _rand_block(data):
    blk = [0] * 64
    blk[0] = data.draw(st.integers(-40, 40))
    for pos in data.draw(
        st.lists(st.integers(1, 63), min_size=0, max_size=10, unique=True)
    ):
        blk[pos] = data.draw(
            st.integers(-9, 9).filter(lambda v: v != 0)
        )
    return blk


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_jpeg_gray_ac_roundtrip_matches_reference(data):
    """Arbitrary sparse AC patterns (random zero runs -> every ZRL/EOB
    branch) round-trip through Huffman + zigzag + dequant and equal the
    reference IDCT of the same coefficients."""
    blocks = [_rand_block(data) for _ in range(4)]
    payload = _jpeg_encode_gray(16, 16, blocks, QY)
    w, h, px = _jpeg_decode_gray(payload)
    k = 0
    for by in range(2):
        for bx in range(2):
            ref = _jpeg_idct_2d([blocks[k][i] * QY[i] for i in range(64)])
            for yy in range(8):
                for xx in range(8):
                    want = max(0, min(255, int(round(ref[yy * 8 + xx])) + 128))
                    assert px[(by * 8 + yy) * w + bx * 8 + xx] == want
            k += 1


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_jpeg_420_planes_roundtrip(data):
    """4:2:0 with random coefficients in every component: the MCU
    interleave keeps the four Y blocks and both chroma planes straight
    under arbitrary content."""
    ys = [_rand_block(data) for _ in range(4)]  # one 16x16 MCU
    cbs = [_rand_block(data)]
    crs = [_rand_block(data)]
    payload = _jpeg_encode_ycbcr(16, 16, ys, cbs, crs, QY, QC, sampling=2)
    w, h, planes = _jpeg_decode_planes(payload)
    assert (w, h, len(planes)) == (16, 16, 3)
    for by in range(2):
        for bx in range(2):
            ref = _jpeg_idct_2d([ys[by * 2 + bx][i] * QY[i] for i in range(64)])
            for yy in range(0, 8, 7):
                for xx in range(0, 8, 7):
                    want = max(0, min(255, int(round(ref[yy * 8 + xx])) + 128))
                    assert planes[0][(by * 8 + yy) * w + bx * 8 + xx] == want
    for ci, blks in ((1, cbs), (2, crs)):
        ref = _jpeg_idct_2d([blks[0][i] * QC[i] for i in range(64)])
        for sy in (0, 7):
            for sx in (0, 7):
                want = max(0, min(255, int(round(ref[sy * 8 + sx])) + 128))
                # replicated 2x2: all four full-res pixels match
                assert planes[ci][(2 * sy) * w + 2 * sx] == want
                assert planes[ci][(2 * sy + 1) * w + 2 * sx + 1] == want


@settings(max_examples=30, deadline=None)
@given(
    bw=st.integers(1, 4),
    bh=st.integers(1, 3),
    data=st.data(),
)
def test_jpeg_successive_approximation_equals_baseline(bw, bh, data):
    """The 6-scan successive-approximation script must reconstruct every
    coefficient bit-exactly: hypothesis drives magnitudes across each
    Al boundary (newly-significant per scan, correction bits on both
    signs, EOB-run-only blocks) and compares against the baseline decode
    of the same blocks."""
    from kafka_custom_transforms_spark.operators.multimodal import (
        _jpeg_encode_progressive_sa_gray,
    )

    blocks = []
    for _ in range(bw * bh):
        blk = [0] * 64
        blk[0] = data.draw(st.integers(-120, 120))
        for pos in data.draw(
            st.lists(st.integers(1, 63), min_size=0, max_size=12, unique=True)
        ):
            blk[pos] = data.draw(
                st.integers(-40, 40).filter(lambda v: v != 0)
            )
        blocks.append(blk)
    base = _jpeg_decode_gray(_jpeg_encode_gray(bw * 8, bh * 8, blocks, QY))
    sa = _jpeg_decode_gray(
        _jpeg_encode_progressive_sa_gray(bw * 8, bh * 8, blocks, QY)
    )
    assert base == sa


def test_jpeg_synth_decode_self_consistency():
    """The shipped synth files decode identically twice (pure function)
    and a one-bit flip inside the entropy segment never passes silently:
    it either raises or changes the decoded output."""
    payload = _jpeg_bytes(9)
    first = _jpeg_decode_gray(payload)
    assert first == _jpeg_decode_gray(payload)
    # flip one bit in the scan (after SOS marker)
    sos = payload.find(b"\xff\xda")
    body_start = sos + 14
    for flip in range(body_start, min(body_start + 8, len(payload) - 2)):
        corrupt = bytearray(payload)
        corrupt[flip] ^= 0x40
        try:
            got = _jpeg_decode_gray(bytes(corrupt))
            assert got != first
        except ValueError:
            pass


@settings(max_examples=20, deadline=None)
@given(data=st.data())
def test_png_unfilter_numpy_matches_python(data):
    """The two PNG unfiltering paths (per-byte Python for thumbnails,
    numpy rows above _PNG_NUMPY_MIN_STRIDE) must be bit-equal on the
    same scanline bytes, and both must equal the analytically-known
    channel sums of the pre-filter pixels. Rows draw random filter
    types so Sub/Up/Average/Paeth each cross row boundaries in random
    combinations (the decode of row y depends on the DECODED row y-1,
    so filter interactions matter, not just single filters)."""
    from kafka_custom_transforms_spark.operators.multimodal import (
        _png_filter_row,
        _png_unfilter_sums_numpy,
        _png_unfilter_sums_py,
    )

    width = data.draw(st.integers(min_value=1, max_value=40))
    height = data.draw(st.integers(min_value=1, max_value=10))
    stride = 3 * width
    rows = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=stride, max_size=stride
                )
            )
        )
        for _ in range(height)
    ]
    raw = bytearray()
    prev = b"\x00" * stride
    for y, row in enumerate(rows):
        ftype = data.draw(st.integers(0, 4))
        raw += bytes([ftype]) + _png_filter_row(ftype, row, prev, 3)
        prev = row
    expected = tuple(sum(sum(row[c::3]) for row in rows) for c in range(3))
    got_py = _png_unfilter_sums_py(bytes(raw), height, stride)
    got_np = _png_unfilter_sums_numpy(bytes(raw), height, stride)
    assert got_py == expected
    assert got_np == expected


# (payload synthesizer as its synth_* calls it, row decoder) for every
# codec; the synthesizer's name is the test id.
PAYLOAD_CODECS = {
    "bmp": (lambda i: mm._bmp_bytes(i, 8 + i % 9, 6 + i % 7), mm._bmp_row),
    "png": (lambda i: mm._png_bytes(i, 5 + i % 8, 6 + i % 7), mm._png_row),
    "wav": (lambda i: mm._wav_bytes(i, 400 + i % 50), mm._wav_row),
    "wav_audio_features": (
        lambda i: mm._wav_bytes(i, 400 + i % 50),
        functools.partial(mm._audio_features_row, frame_size=mm.AUDIO_FRAME_SIZE),
    ),
    "mp4": (mm._mp4_bytes, mm._mp4_row),
    "gif": (lambda i: mm._gif_bytes(i, 6 + i % 7, 5 + i % 6, 1 + i % 3), mm._gif_row),
    "jpeg": (mm._jpeg_bytes, mm._jpeg_gray_row),
    "jpeg_color": (mm._jpeg_color_bytes, mm._jpeg_rgb_row),
    "jpeg_420": (mm._jpeg_420_bytes, mm._jpeg_rgb_row),
    "jpeg_progressive": (mm._jpeg_progressive_bytes, mm._jpeg_gray_row),
    "jpeg_sa": (mm._jpeg_sa_bytes, mm._jpeg_gray_row),
    "h264": (mm._h264_bytes, mm._h264_sps_row),
    "h264_ipcm": (mm._h264_ipcm_bytes, mm._h264_ipcm_row),
    "mp4_track": (mm._mp4_track_bytes, mm._mp4_tracks_row),
}


@pytest.mark.parametrize("codec", sorted(PAYLOAD_CODECS))
@settings(max_examples=8, deadline=None)
@given(doc_id=st.integers(0, 10_000))
def test_every_payload_prefix_decodes_or_raises_value_error(codec, doc_id):
    """A truncated payload is what a cut-off object-store read or a
    partial upload looks like: every prefix of a real payload must either
    decode or raise ValueError — never struct.error or IndexError from
    inside the parser. Where the parser tripped on the missing bytes, the
    error names the codec and the row."""
    make, row = PAYLOAD_CODECS[codec]
    payload = make(doc_id)
    _decode_row(row, doc_id, payload)  # the whole payload decodes
    for k in range(len(payload)):
        try:
            _decode_row(row, doc_id, payload[:k])
        except ValueError as exc:
            if exc.__cause__ is not None:
                assert str(exc).endswith(f": malformed payload (doc_id={doc_id})")


# md5 of b"".join(payload(i) for i in range(200)) per synthesizer, with the
# geometry arguments its synth_* passes. Every oracle row built on a
# synthesizer recomputes its features from the generation formulas, so a
# changed byte anywhere in the encoders shows up here first.
SYNTH_DIGESTS = {
    "bmp": "a1a2c98049f811534a95f939022d4223",
    "png": "85aa238feea4e576026d29ccbbdbac5f",
    "wav": "57074ac24005f9ba94910bf99249fe1e",
    "mp4": "11f5097d56f6e5388389dadf1793e8d1",
    "gif": "ad97af5f3c6d414982815862fbd39a06",
    "jpeg": "e49ccd2bf82d47fdf95dc21bd9a9e5b5",
    "jpeg_color": "0c2ab643bbbdf757e2940bc493a1a663",
    "jpeg_420": "e25081db2e7f0be40bfe3e07e2876c42",
    "jpeg_progressive": "48f79136b726916f378fd6894c1d74cd",
    "jpeg_sa": "edc12031b7d32809ce5b31769c9f5807",
    "h264": "99750ac6e78709a16c4dee01fa023ec9",
    "h264_ipcm": "d3021da835337af6345cf27656459447",
    "mp4_track": "be914bd223829b6a461b7e0db2e04f82",
}


@pytest.mark.parametrize("codec", sorted(SYNTH_DIGESTS))
def test_synth_payload_bytes_match_golden_digest(codec):
    make, _ = PAYLOAD_CODECS[codec]
    digest = hashlib.md5(b"".join(make(i) for i in range(200))).hexdigest()
    assert digest == SYNTH_DIGESTS[codec]
