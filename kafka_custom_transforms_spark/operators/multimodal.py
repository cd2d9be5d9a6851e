"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats images/audio/video as ``binary`` columns bundled with a
metadata struct — the schema, partitioning, Arrow batch shape, and UDF
signatures here are the real, tested artifact. Every codec below is a
REAL byte-level parser needing only the stdlib (plus numpy for the JPEG
IDCT), oracle-verified against analytically recomputed features:

  - images: ``decode_bmp`` (24-bit BMP — signature, pixel offset, padded
    BGR rows), ``decode_png`` (chunk CRCs, zlib IDAT, all five scanline
    filters), ``decode_gif`` (block walk + full GIF-variant LZW inflate),
    ``decode_jpeg`` / ``decode_jpeg_color`` / ``decode_jpeg_420`` (DCT
    JPEG: baseline AND full progressive — spectral selection and
    successive approximation — grayscale, YCbCr 4:4:4 and 4:2:0, DRI
    restart markers, Huffman decode, dequant, zigzag, IDCT, chroma
    upsampling, BT.601 conversion);
  - audio: ``decode_wav`` (RIFF chunk walk + 16-bit PCM) and
    ``audio_features`` (framewise energy, zero crossings, peak frame);
  - video: ``decode_mp4`` (ISO BMFF box walk to ftyp/mvhd),
    ``decode_mp4_tracks`` (stts/stsz sample tables), ``parse_h264``
    (Annex-B + Exp-Golomb SPS) and ``decode_h264_ipcm`` (I_PCM frames).

Each codec is one plain row function (``bytes -> tuple``) and each
synthesizer one ``int -> bytes`` function; :func:`_decode_rows` and
:func:`_synth` are the only Arrow batch loops that drive them. A payload
too short or too corrupt for a codec raises ``ValueError`` naming the
codec and the row's ``doc_id`` (:func:`_decode_row`), never a bare
``struct.error``/``IndexError`` from inside the parser.

The generic ``decode_payload`` stays a deterministic stand-in for codecs
that genuinely need external libraries (compressed H.264 frames): it
hashes the full payload (features are functions of the bytes, not the
length). Swap ``_fake_decode`` for PIL/torchaudio/pyav inside the same
``mapInPandas`` body and nothing else changes.

Scale notes:
  - payloads ride *with* the rows (no driver collect); ``mapInPandas``
    streams Arrow batches, so executor memory is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it down (e.g.
    256) when payloads are megabytes.
  - decode is embarrassingly parallel; partition count, not shuffle,
    controls parallelism. Repartition upstream if payload sizes are skewed.
"""

from __future__ import annotations

import functools
import math
import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from kafka_custom_transforms_spark.functions.skew import PYTHON_FANOUT_CAP

MIMES = ("image/png", "audio/wav", "video/mp4")

DECODED_SCHEMA = (
    "doc_id bigint, mime string, n_bytes bigint, magic string, "
    "payload_hash bigint, width int, height int, duration_ms int, n_frames int"
)


def attach_payload(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build the multimodal envelope from the documents table: a deterministic
    fake payload (utf-8 bytes of the text) plus a typed metadata struct.
    Real pipelines read payloads from object-store parquet/binaryFile."""
    mime = F.element_at(F.array(*[F.lit(m) for m in MIMES]), (F.col(id_col) % 3 + 1).cast("int"))
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("data"),
        F.struct(
            mime.alias("mime"),
            F.length(F.encode(F.col(text_col), "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode(doc_id: int, mime: str, data: bytes) -> dict:
    """Deterministic stand-in for a real media decoder (NO media libs in this
    container). Every feature is a pure function of the payload BYTES, not
    merely its length: ``magic`` is the leading 4 bytes (the sniff a real
    decoder starts with), ``payload_hash`` is the 56-bit md5 prefix of the
    full payload (reading every byte), and the geometry/duration fields are
    derived from that hash — so two same-length payloads with different
    content decode differently (test-pinned). md5-prefix is the engine's
    cross-engine hash family: the DuckDB oracle recomputes it exactly as
    ('0x' || substr(md5(text), 1, 14))::BIGINT."""
    import hashlib

    h = int(hashlib.md5(data).hexdigest()[:14], 16)
    if mime.startswith("image/"):
        feats = {"width": h % 640 + 1, "height": h % 480 + 1, "duration_ms": 0, "n_frames": 1}
    elif mime.startswith("audio/"):
        feats = {"width": 0, "height": 0, "duration_ms": h % 100_000, "n_frames": 0}
    else:
        feats = {
            "width": h % 1920 + 1,
            "height": h % 1080 + 1,
            "duration_ms": h % 100_000,
            "n_frames": h % 250 + 1,
        }
    return {"magic": data[:4].hex(), "payload_hash": h, **feats}


def decode_payload(df: DataFrame) -> DataFrame:
    """Arrow-batched stub decode over ``mapInPandas`` (see
    :func:`_fake_decode`); reads ``meta.mime`` per row, so it keeps its
    own batch loop rather than :func:`_decode_rows`."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(i, m, d)
                for i, m, d in zip(pdf["doc_id"], pdf["meta"].map(lambda s: s["mime"]), pdf["data"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "mime", pdf["meta"].map(lambda s: s["mime"]).values)
            out.insert(2, "n_bytes", pdf["meta"].map(lambda s: s["n_bytes"]).values)
            yield out

    return df.mapInPandas(_decode, schema=DECODED_SCHEMA)


def frame_sample(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: emits (doc_id, frame_idx) for
    every ``every_nth`` frame — pure expressions (sequence + explode), the
    actual frame extraction would happen in a downstream decode UDF."""
    vids = df.filter(F.col("mime") == "video/mp4")
    idxs = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))
    return vids.select("doc_id", F.explode(idxs).alias("frame_idx"))


# ------------------------------------------------- record-at-a-time batch loops
#
# Every real codec below is a stateless per-record map, like the SMTs: one
# plain function per record. These helpers are the only Arrow batch loops
# that apply them; each public synth_*/decode_* is a one-line call.


def _spread_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Round-robin the id projection across min(PYTHON_FANOUT_CAP,
    default parallelism) before payload synthesis. The synth+decode stages
    are CPU-bound Python per row, but the upstream documents table is tiny
    (one parquet file -> 1-2 input partitions), so without this the whole
    decode family runs on 1-2 cores. Shuffling ONLY the id column (a long
    per row) costs ~nothing at any scale; at 100 TB real payloads arrive
    already partitioned by the scan and the decoders consume them directly.
    Unconditional (not ensure_min_partitions): stream_multimodal_decode
    feeds a streaming DataFrame here, which has no ``.rdd`` to count."""
    sc = df.sparkSession.sparkContext
    return df.select(id_col).repartition(min(PYTHON_FANOUT_CAP, sc.defaultParallelism))


def _synth(df: DataFrame, id_col: str, make: Callable[[int], bytes]) -> DataFrame:
    """(doc_id, data) with ``make(id)`` as each row's payload."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame({"doc_id": ids, "data": [make(int(i)) for i in ids]})

    return _spread_ids(df, id_col).mapInPandas(_gen, schema="doc_id bigint, data binary")


def _decode_row(one: Callable[[bytes], tuple], doc_id: int, data: bytes) -> tuple:
    """``one(data)``, with the parser's low-level failures on a short or
    corrupt payload (``struct.error`` from an unpack past the end,
    ``IndexError`` from a byte read past it) re-raised as one named
    ``ValueError`` carrying the codec and the row. The ValueErrors the
    codecs raise themselves pass through unchanged."""
    try:
        return one(data)
    except (struct.error, IndexError) as exc:
        # "_bmp_row" -> "bmp"; a functools.partial names its function in .func
        codec = getattr(one, "func", one).__name__.strip("_").removesuffix("_row")
        raise ValueError(f"{codec}: malformed payload (doc_id={doc_id})") from exc


def _decode_rows(df: DataFrame, one: Callable[[bytes], tuple], schema: str) -> DataFrame:
    """Apply the row decoder ``one`` to every ``data`` payload of a
    (doc_id, data) frame. ``schema`` is flat DDL whose first column is
    ``doc_id`` and whose remaining columns are ``one``'s tuple fields."""
    cols = [field.split()[0] for field in schema.split(",")][1:]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_decode_row(one, i, d) for i, d in zip(pdf["doc_id"], pdf["data"])]
            out = pd.DataFrame.from_records(rows, columns=cols)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.mapInPandas(_decode, schema=schema)


# ---------------------------------------------------------------- real decode
#
# The stub above stands in for codec libraries this container lacks; BMP
# needs none — its 54-byte header + raw BGR rows parse with stdlib struct.
# decode_bmp is therefore a REAL image decoder: it reads the signature,
# pixel-array offset, geometry, and every padded pixel row from the actual
# bytes. synth_bmp writes deterministic 24-bit BMPs whose channel values
# are a closed-form function of (x, row, id), so an oracle can recompute
# the exact per-channel means WITHOUT parsing — any mis-read of the
# header, row padding, or BGR order shows up as a value mismatch.

BMP_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, "
    "mean_r_milli bigint, mean_g_milli bigint, mean_b_milli bigint"
)


def _bmp_bytes(doc_id: int, width: int, height: int) -> bytes:
    """Minimal 24-bit bottom-up BMP. File-row j, column x:
    B=(7x+13j+id)%256, G=+85, R=+170 (BGR byte order on disk)."""
    row_size = (3 * width + 3) & ~3
    pixel_bytes = row_size * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + pixel_bytes, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = bytearray()
    for j in range(height):
        for x in range(width):
            base = 7 * x + 13 * j + doc_id
            rows += bytes(((base) % 256, (base + 85) % 256, (base + 170) % 256))
        rows += b"\x00" * (row_size - 3 * width)
    return header + bytes(rows)


def synth_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, data) with a deterministic real BMP per row; geometry
    8+id%9 x 6+id%7 keeps payloads tiny while exercising every row
    padding residue (width mod 4 varies)."""
    return _synth(df, id_col, lambda i: _bmp_bytes(i, 8 + i % 9, 6 + i % 7))


def _bmp_row(data: bytes) -> tuple:
    sig, _, _, _, offset = struct.unpack_from("<2sIHHI", data, 0)
    if sig != b"BM":
        raise ValueError("not a BMP payload")
    _, width, height, _, bpp = struct.unpack_from("<IiiHH", data, 14)
    if bpp != 24:
        raise ValueError(f"only 24bpp supported, got {bpp}")
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP geometry {width}x{height}")
    row_size = (3 * width + 3) & ~3
    if len(data) < offset + row_size * abs(height):
        raise ValueError("truncated BMP pixel array")
    sr = sg = sb = 0
    for j in range(abs(height)):
        base = offset + j * row_size
        row = data[base : base + 3 * width]
        sb += sum(row[0::3])
        sg += sum(row[1::3])
        sr += sum(row[2::3])
    npx = width * abs(height)
    return (width, abs(height), sr * 1000 // npx, sg * 1000 // npx, sb * 1000 // npx)


def decode_bmp(df: DataFrame) -> DataFrame:
    """Parse REAL BMP bytes (no media libs): signature check, pixel-array
    offset from the file header, 24bpp geometry from BITMAPINFOHEADER,
    padded bottom-up BGR rows. Integer milli means keep the result exact
    and order-free. Arrow-batched like every decode in this module."""
    return _decode_rows(df, _bmp_row, BMP_DECODED_SCHEMA)


# PNG: stdlib-only too — zlib inflates the IDAT stream and the five PNG
# scanline filters (None/Sub/Up/Average/Paeth) are integer arithmetic.
# synth_png writes every filter type (row y uses filter y % 5) so a
# decoder that mishandles any one of them, the chunk CRC layout, or the
# RGB byte order mismatches the analytic oracle.

PNG_DECODED_SCHEMA = BMP_DECODED_SCHEMA


def _png_filter_row(ftype: int, raw: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to a raw scanline (encode direction)."""
    out = bytearray(len(raw))
    for i in range(len(raw)):
        a = raw[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        out[i] = (raw[i] - pred) % 256
    return bytes(out)


def _png_bytes(doc_id: int, width: int, height: int) -> bytes:
    """Minimal 8-bit RGB PNG. Pixel (x, y): R=(7x+13y+id)%256, G=+85,
    B=+170 (top-down). Scanline y is encoded with filter type y % 5."""
    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw_rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            base = 7 * x + 13 * y + doc_id
            row += bytes((base % 256, (base + 85) % 256, (base + 170) % 256))
        raw_rows.append(bytes(row))
    scanlines = bytearray()
    prev = b"\x00" * (3 * width)
    for y, raw in enumerate(raw_rows):
        ftype = y % 5
        scanlines += bytes([ftype]) + _png_filter_row(ftype, raw, prev, 3)
        prev = raw
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + chunk(b"IEND", b"")
    )


def synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, data) with a deterministic real PNG per row; 5+id%8 x 6+id%7
    geometry keeps payloads tiny while every height >= 6 exercises all
    five scanline filter types at least once."""
    return _synth(df, id_col, lambda i: _png_bytes(i, 5 + i % 8, 6 + i % 7))


# Unfiltering dispatch: the bench's synthetic PNGs are tiny (stride <= 36
# bytes), where a per-byte Python loop beats numpy's ~µs-per-call setup;
# a real photo (stride in the KBs) inverts that by orders of magnitude.
# Above this stride the row ops switch to numpy — filter 1 (Sub) becomes a
# per-channel cumsum, filter 2 (Up) an elementwise add, and the channel
# sums one matrix reduction; filters 3/4 keep the sequential scalar loop
# (each byte depends on the previous pixel's DECODED value through a
# floor-divide / Paeth branch, which no prefix trick removes). Both paths
# are exact mod-256 integer arithmetic — bit-identical, property-pinned in
# tests/test_codecs_property.py. Same measured-dispatch pattern as
# similarity.py's UNROLL_MIN_ROWS.
_PNG_NUMPY_MIN_STRIDE = 512


def _png_unfilter_row34(ftype: int, line: list, prev: list) -> list:
    """Undo filter 3 (Average) or 4 (Paeth) on one scanline, as int lists.
    Sequential in x by construction: the predictor reads the current row's
    already-decoded left pixel."""
    n = len(line)
    out = [0] * n
    if ftype == 3:
        for i in range(n):
            a = out[i - 3] if i >= 3 else 0
            out[i] = (line[i] + (a + prev[i]) // 2) % 256
    else:
        for i in range(n):
            a = out[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (line[i] + pred) % 256
    return out


def _png_unfilter_sums_py(raw: bytes, height: int, stride: int) -> tuple:
    """Per-byte unfiltering of all scanlines -> (sum_r, sum_g, sum_b).
    The small-image path: no array setup cost, optimal for thumbnails."""
    sr = sg = sb = 0
    prev = bytearray(stride)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) % 256
        elif ftype == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) % 256
        elif ftype in (3, 4):
            line = bytearray(_png_unfilter_row34(ftype, list(line), list(prev)))
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        sr += sum(line[0::3])
        sg += sum(line[1::3])
        sb += sum(line[2::3])
        prev = line
    return sr, sg, sb


def _png_unfilter_sums_numpy(raw: bytes, height: int, stride: int) -> tuple:
    """Vectorized unfiltering -> (sum_r, sum_g, sum_b); bit-equal to
    :func:`_png_unfilter_sums_py` (exact integer ops in both)."""
    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    totals = np.zeros(3, dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 1:
            # Sub: out[i] = raw[i] + out[i-3]  ==  per-channel prefix sum
            cur = (
                (np.cumsum(line.reshape(-1, 3), axis=0, dtype=np.int64) & 0xFF)
                .astype(np.int32)
                .reshape(-1)
            )
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        elif ftype in (3, 4):
            cur = np.asarray(
                _png_unfilter_row34(ftype, line.tolist(), prev.tolist()),
                dtype=np.int32,
            )
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        totals += cur.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        prev = cur
    return int(totals[0]), int(totals[1]), int(totals[2])


def _png_row(data: bytes) -> tuple:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(data):
        (clen,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + clen)
        if crc != (zlib.crc32(typ + body) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC on {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT chunk")
    width, height, depth, ctype, _, _, interlace = ihdr
    if (depth, ctype, interlace) != (8, 2, 0):
        raise ValueError(
            f"only 8-bit RGB non-interlaced supported, got "
            f"depth={depth} color_type={ctype} interlace={interlace}"
        )
    if width == 0 or height == 0:
        raise ValueError("zero-dimension PNG")
    stride = 3 * width
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length does not match geometry")
    if stride >= _PNG_NUMPY_MIN_STRIDE:
        sr, sg, sb = _png_unfilter_sums_numpy(raw, height, stride)
    else:
        sr, sg, sb = _png_unfilter_sums_py(raw, height, stride)
    npx = width * height
    return (width, height, sr * 1000 // npx, sg * 1000 // npx, sb * 1000 // npx)


def decode_png(df: DataFrame) -> DataFrame:
    """Parse REAL PNG bytes with only the stdlib: signature, chunk walk
    with CRC verification, IHDR geometry, zlib-inflated IDAT, and full
    unfiltering of all five scanline filter types. Only 8-bit RGB
    (color type 2), non-interlaced images are supported — anything else
    raises. Output shape matches decode_bmp (integer milli channel
    means), Arrow-batched like every decode in this module."""
    return _decode_rows(df, _png_row, PNG_DECODED_SCHEMA)


# WAV: the audio counterpart of decode_bmp — RIFF/fmt/data chunk walking
# and 16-bit PCM decoding need only struct. Deterministic synth + analytic
# oracle, same verification story.

WAV_DECODED_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples bigint, duration_ms bigint, "
    "mean_abs_milli bigint"
)


def _wav_bytes(doc_id: int, n_samples: int, rate: int = 8000) -> bytes:
    """Minimal mono 16-bit PCM WAV. Sample i = ((37*i + 11*id) % 4096) - 2048."""
    frames = b"".join(
        struct.pack("<h", ((37 * i + 11 * doc_id) % 4096) - 2048)
        for i in range(n_samples)
    )
    data_len = len(frames)
    hdr = (
        struct.pack("<4sI4s", b"RIFF", 36 + data_len, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
        + struct.pack("<4sI", b"data", data_len)
    )
    return hdr + frames


def synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, data) with a deterministic real WAV per row; 400+id%50 samples."""
    return _synth(df, id_col, lambda i: _wav_bytes(i, 400 + i % 50))


def _wav_pcm(data):
    """Shared RIFF chunk walk for every WAV consumer: validate the
    header, find fmt (mono 16-bit PCM only) and data, reject truncated
    chunks, and return (sample_rate, samples tuple)."""
    riff, _, wave = struct.unpack_from("<4sI4s", data, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, frames = 12, None, None
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body = pos + 8
        if body + clen > len(data):
            raise ValueError("truncated RIFF chunk")
        if cid == b"fmt ":
            fmt, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", data, body)
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError("only mono 16-bit PCM supported")
        elif cid == b"data":
            frames = data[body : body + clen]
        pos = body + clen + (clen & 1)
    if rate is None or frames is None:
        raise ValueError("missing fmt or data chunk")
    n = len(frames) // 2
    return rate, struct.unpack(f"<{n}h", frames[: 2 * n])


def _wav_row(data: bytes) -> tuple:
    rate, samples = _wav_pcm(data)
    n = len(samples)
    sum_abs = sum(abs(s) for s in samples)
    return (rate, n, n * 1000 // rate, sum_abs * 1000 // max(n, 1))


def decode_wav(df: DataFrame) -> DataFrame:
    """Parse REAL WAV bytes: walk RIFF chunks to fmt (rate, channels,
    bits) and data (PCM frames); integer mean |amplitude| in milli units.
    Only mono 16-bit PCM is supported — anything else raises."""
    return _decode_rows(df, _wav_row, WAV_DECODED_SCHEMA)


# MP4: the video counterpart — ISO BMFF box walking (ftyp brand, moov ->
# mvhd timescale/duration) with stdlib struct. Container metadata only:
# codec frame decode genuinely needs external libraries and stays behind
# the documented stub.

MP4_DECODED_SCHEMA = (
    "doc_id bigint, brand string, timescale bigint, duration_units bigint, "
    "duration_ms bigint"
)


def _mp4_bytes(doc_id: int) -> bytes:
    """Minimal ISO BMFF file: ftyp(isom) + moov{mvhd v0}. timescale =
    600 + (id%5)*100; duration units = (97*id) % 100000."""
    ftyp = struct.pack(">I4s4sI4s", 20, b"ftyp", b"isom", 512, b"isom")
    timescale = 600 + (doc_id % 5) * 100
    duration = (97 * doc_id) % 100_000
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10  # reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2)  # next_track_id
    )
    mvhd = struct.pack(">I4s", 8 + len(mvhd_body), b"mvhd") + mvhd_body
    moov = struct.pack(">I4s", 8 + len(mvhd), b"moov") + mvhd
    return ftyp + moov


def synth_mp4(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _mp4_bytes)


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for the ISO BMFF boxes in
    ``data[start:end]``."""
    pos = start
    while pos + 8 <= end:
        size, typ = struct.unpack_from(">I4s", data, pos)
        body = pos + 8
        if size == 0:  # legal: box extends to end of enclosing scope
            yield typ, body, end
            return
        if size == 1:  # legal: 64-bit largesize follows the type
            (size,) = struct.unpack_from(">Q", data, body)
            body += 8
            if size < 16:
                raise ValueError("bad largesize box")
        elif size < 8:
            raise ValueError("bad box size")
        yield typ, body, pos + size
        pos += size


def _mp4_row(data: bytes) -> tuple:
    brand, mvhd_span = None, None
    for typ, body, bend in _mp4_boxes(data, 0, len(data)):
        if typ == b"ftyp":
            brand = data[body : body + 4].decode("ascii")
        elif typ == b"moov":
            for t2, b2, e2 in _mp4_boxes(data, body, bend):
                if t2 == b"mvhd":
                    mvhd_span = (b2, e2)
    if brand is None or mvhd_span is None:
        raise ValueError("not an MP4: missing ftyp or moov/mvhd")
    b2 = mvhd_span[0]
    version = data[b2]
    if version == 0:
        _, _, timescale, duration = struct.unpack_from(">IIII", data, b2 + 4)
    else:
        _, _, timescale = struct.unpack_from(">QQI", data, b2 + 4)
        (duration,) = struct.unpack_from(">Q", data, b2 + 24)
    return (brand, timescale, duration, duration * 1000 // timescale)


def decode_mp4(df: DataFrame) -> DataFrame:
    """Walk REAL ISO BMFF boxes: top level to ftyp (brand) and moov, then
    moov's children to mvhd (version 0/1 both handled); duration_ms from
    the header's timescale."""
    return _decode_rows(df, _mp4_row, MP4_DECODED_SCHEMA)


# GIF: the third stdlib-only image format — the pixel stream is LZW
# compressed, and GIF-variant LZW (variable code width 3..12 bits,
# LSB-first packing, CLEAR/EOI codes, dictionary reset at 4096) is pure
# integer arithmetic. synth_gif writes REAL compressed multi-frame GIFs
# through an actual LZW encoder (dictionary growth and width increases
# included); decode_gif walks the block structure and inflates every
# frame. Same verification story as BMP/PNG: per-document palette and
# pixel formula make the channel means analytically recomputable.

GIF_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, "
    "mean_r_milli bigint, mean_g_milli bigint, mean_b_milli bigint"
)

_GIF_NCOLORS = 8  # global color table: 2^(2+1); GCT size field = 2


def _gif_lzw_encode(indices: bytes, min_code: int) -> bytes:
    """GIF-variant LZW: emit CLEAR, build the dictionary greedily, grow
    the code width when the next free code would not fit, reset at 4096."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(1 << min_code)}
    next_code, width = eoi + 1, min_code + 1
    emit(clear, width)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(1 << min_code)}
            next_code, width = eoi + 1, min_code + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
    # The decoder performs its LAST dictionary add while reading the
    # flushed code above (its adds run one emission behind ours), so if
    # that add lands exactly on 2^width it reads EOI one bit wider than
    # the in-loop rule would write it — mirror that growth here or the
    # wider read runs past the zero padding (found by hypothesis:
    # min_code=2, 11 symbols whose 10th add fills slot 15).
    if next_code >= (1 << width) and width < 12:
        width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code: int) -> bytes:
    """Inverse of :func:`_gif_lzw_encode` (and of every standard GIF
    encoder): LSB-first variable-width codes, KwKwK case handled."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    pos = acc = nbits = 0
    width = min_code + 1
    table: list[bytes] = []
    out = bytearray()
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
        width = min_code + 1
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("first LZW code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} beyond table")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        if len(table) >= (1 << width) and width < 12:
            width += 1
        prev = entry


def _gif_bytes(doc_id: int, width: int, height: int, n_frames: int) -> bytes:
    """Minimal multi-frame GIF89a, REALLY LZW-compressed. Global 8-color
    palette: color c -> R=(37c+id)%256, G=+85, B=+170. Frame f pixel
    (x, y) -> index (7x+13y+id+29f) % 8. Full-screen frames, no
    interlace, no local color tables."""
    hdr = b"GIF89a" + struct.pack("<HH", width, height) + bytes(
        (0x80 | 0x02, 0, 0)  # GCT present, size field 2 -> 8 colors
    )
    palette = bytearray()
    for c in range(_GIF_NCOLORS):
        base = 37 * c + doc_id
        palette += bytes((base % 256, (base + 85) % 256, (base + 170) % 256))
    out = bytearray(hdr + palette)
    for f in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        indices = bytes(
            (7 * x + 13 * y + doc_id + 29 * f) % _GIF_NCOLORS
            for y in range(height)
            for x in range(width)
        )
        min_code = 3  # 8 literal codes
        lzw = _gif_lzw_encode(indices, min_code)
        out += bytes([min_code])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def synth_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, data) with a deterministic real GIF per row: 6+id%7 x 5+id%6
    pixels, 1 + id%3 frames — multi-frame files exercise the block walk,
    and the varying geometry exercises LZW dictionary growth."""
    return _synth(df, id_col, lambda i: _gif_bytes(i, 6 + i % 7, 5 + i % 6, 1 + i % 3))


def _gif_row(data: bytes) -> tuple:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    if not packed & 0x80:
        raise ValueError("GIF without a global color table unsupported")
    gct_n = 2 << (packed & 0x07)
    pos = 13
    palette = data[pos : pos + 3 * gct_n]
    if len(palette) < 3 * gct_n:
        raise ValueError("truncated global color table")
    pos += 3 * gct_n
    n_frames = 0
    sr = sg = sb = npx = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        _, _, fw, fh = struct.unpack_from("<HHHH", data, pos)
        fpacked = data[pos + 8]
        pos += 9
        if fpacked & 0x80:
            raise ValueError("local color tables unsupported")
        if fpacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos]:
            ln = data[pos]
            lzw += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        indices = _gif_lzw_decode(bytes(lzw), min_code)
        if len(indices) != fw * fh:
            raise ValueError("decoded pixel count does not match frame geometry")
        n_frames += 1
        for idx in indices:
            if idx >= gct_n:
                raise ValueError("pixel index beyond palette")
            sr += palette[3 * idx]
            sg += palette[3 * idx + 1]
            sb += palette[3 * idx + 2]
        npx += fw * fh
    if n_frames == 0 or npx == 0:
        raise ValueError("GIF with no image frames")
    return (
        sw, sh, n_frames,
        sr * 1000 // npx, sg * 1000 // npx, sb * 1000 // npx,
    )


def decode_gif(df: DataFrame) -> DataFrame:
    """Parse REAL GIF bytes with only the stdlib: signature, logical
    screen descriptor, global color table, the block walk (image
    descriptors, extensions skipped by their sub-block framing, trailer),
    and a full GIF-variant LZW inflate of every frame's pixel stream.
    Channel means aggregate palette-mapped pixels over ALL frames as
    exact integer milli values. Interlaced frames and local color tables
    raise (out of scope, like non-24bpp BMP)."""
    return _decode_rows(df, _gif_row, GIF_DECODED_SCHEMA)


# JPEG: the capstone stdlib-only decoder — baseline grayscale JFIF.
# decode_jpeg implements the REAL baseline path end to end: marker walk,
# DQT/DHT/SOF0/SOS parsing, entropy-coded-segment byte unstuffing,
# Huffman decode of DC categories + AC (run, size) symbols incl. EOB/ZRL,
# DC diff accumulation, dequantization, zigzag re-ordering, a separable
# float IDCT, level shift and clamp. synth_jpeg writes files through a
# real Huffman ENCODER using the JPEG Annex K typical luminance tables
# (public spec); the oracle path emits DC-only blocks with q[0]=8 so the
# decoded block value is exactly dc+128 (IDCT of a DC-only block is the
# constant dc*q0/8) and channel means stay analytic, while the unit tests
# drive full AC blocks against an independent reference IDCT.

JPEG_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, n_blocks int, mean_gray_milli bigint"
)

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# JPEG Annex K.3 typical luminance Huffman specs (BITS indexed 1..16).
_JPEG_DC_BITS = (0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _jpeg_huff_codes(bits, vals):
    """value -> (code, length) canonical Huffman assignment (encode side)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_huff_table(bits, vals):
    """(length, code) -> value lookup (decode side)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_idct_2d(coefs):
    """Separable 8x8 float IDCT (natural-order coefs -> 64 floats).

    DC-only blocks (every AC zero — the overwhelmingly common case in
    flat regions, and what libjpeg also special-cases) shortcut to the
    constant block value computed with EXACTLY the same operation order
    as the general loop ((c0 * ((c0 * F00) / 2)) / 2, not F00/8 — c0^2
    is one ulp off 0.5 in doubles), so the shortcut is bit-identical."""
    cos = _jpeg_idct_cos()
    c = _jpeg_idct_c()
    if not any(coefs[1:]):
        v = (c[0] * ((c[0] * coefs[0]) / 2.0)) / 2.0
        return [v] * 64
    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        row = coefs[v * 8 : v * 8 + 8]
        for x in range(8):
            s = 0.0
            for u in range(8):
                s += c[u] * row[u] * cos[x][u]
            tmp[v][x] = s / 2.0
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                s += c[v] * tmp[v][x] * cos[y][v]
            out[y * 8 + x] = s / 2.0
    return out


@functools.lru_cache(maxsize=1)
def _jpeg_idct_cos():
    return [
        [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
        for x in range(8)
    ]


@functools.lru_cache(maxsize=1)
def _jpeg_idct_c():
    return [1 / math.sqrt(2)] + [1.0] * 7


class _JpegBitWriter:
    """Entropy-segment bit sink with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        # keep only the unemitted bits (bounds bigint growth to < 8 bits
        # of slack instead of the whole segment)
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits = 0
        return bytes(self.out)


def _jpeg_category(v):
    return v.bit_length() if v > 0 else (-v).bit_length()


def _jpeg_coeff_bits(v, s):
    return v if v >= 0 else v + (1 << s) - 1


def _jpeg_write_block(w, blk, dc_huff, ac_huff, prev_dc):
    """Entropy-encode one NATURAL-order quantized block; returns the new
    DC predictor (per-component in interleaved scans)."""
    zz = [blk[_JPEG_ZIGZAG[i]] for i in range(64)]
    diff = zz[0] - prev_dc
    s = _jpeg_category(diff)
    w.write(*dc_huff[s])
    if s:
        w.write(_jpeg_coeff_bits(diff, s), s)
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    run = 0
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            w.write(*ac_huff[0xF0])
            run -= 16
        s = _jpeg_category(zz[i])
        w.write(*ac_huff[(run << 4) | s])
        w.write(_jpeg_coeff_bits(zz[i], s), s)
        run = 0
    if last_nz < 63:
        w.write(*ac_huff[0x00])
    return zz[0]


def _jpeg_seg(marker, body):
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jpeg_dqt_seg(table_id, qtable):
    return _jpeg_seg(
        0xDB, bytes([table_id]) + bytes(qtable[_JPEG_ZIGZAG[i]] for i in range(64))
    )


def _jpeg_dht_segs():
    return _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS[1:]) + bytes(_JPEG_DC_VALS)
    ) + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS[1:]) + bytes(_JPEG_AC_VALS))


def _jpeg_encode_gray(width, height, blocks, qtable, restart_interval=0):
    """Baseline grayscale JFIF from row-major 64-length NATURAL-order
    quantized coefficient blocks; real Huffman entropy coding with DC
    diffs, AC run-length, EOB/ZRL, and byte stuffing.
    ``restart_interval`` > 0 emits a DRI segment and RST0-7 markers every
    that many MCUs (byte-aligned, DC predictor reset) — the resync
    mechanism real encoders use for error resilience and parallelism."""
    dc_huff = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    prev_dc = 0
    rst = 0
    for m, blk in enumerate(blocks):
        if restart_interval and m and m % restart_interval == 0:
            w.flush()  # byte-align with 1-padding, keep accumulating
            w.out += bytes((0xFF, 0xD0 + rst))  # marker: NOT byte-stuffed
            rst = (rst + 1) & 7
            prev_dc = 0
        prev_dc = _jpeg_write_block(w, blk, dc_huff, ac_huff, prev_dc)
    scan = w.flush()
    sof = _jpeg_seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0)))
    sos = _jpeg_seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    dri = (
        _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8" + _jpeg_dqt_seg(0, qtable) + dri + sof + _jpeg_dht_segs() + sos
        + scan + b"\xff\xd9"
    )


def _jpeg_encode_ycbcr(width, height, yblocks, cbblocks, crblocks, qy, qc, sampling=1):
    """Baseline YCbCr JFIF with luma sampled ``sampling`` x ``sampling``
    against 1x1 chroma: 1 is 4:4:4 (8x8 MCUs of one block per
    component), 2 is 4:2:0 (16x16 MCUs carrying 4 Y blocks, row-major,
    + 1 Cb + 1 Cr). ``yblocks`` is the row-major global list of
    NATURAL-order quantized 8-px blocks; chroma lists are row-major over
    MCUs. Per-component DC predictors; Y uses quant table 0, chroma
    table 1; all components share the (legal) luminance Huffman tables.
    Geometry must be a multiple of the MCU size."""
    # explicit raise, not assert: `python -O` strips asserts, and a
    # geometry off the MCU grid here would silently index blocks wrong
    if width % (8 * sampling) or height % (8 * sampling):
        raise ValueError(f"YCbCr synthesis needs width/height multiples of {8 * sampling}")
    dc_huff = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    preds = [0, 0, 0]
    ybw = width // 8
    n_mcu_x, n_mcu_y = width // (8 * sampling), height // (8 * sampling)
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            for by2 in range(sampling):
                for bx2 in range(sampling):
                    blk = yblocks[(sampling * my + by2) * ybw + (sampling * mx + bx2)]
                    preds[0] = _jpeg_write_block(w, blk, dc_huff, ac_huff, preds[0])
            m = my * n_mcu_x + mx
            preds[1] = _jpeg_write_block(w, cbblocks[m], dc_huff, ac_huff, preds[1])
            preds[2] = _jpeg_write_block(w, crblocks[m], dc_huff, ac_huff, preds[2])
    scan = w.flush()
    sof = _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes((1, 0x11 * sampling, 0))
        + bytes((2, 0x11, 1))
        + bytes((3, 0x11, 1)),
    )
    sos = _jpeg_seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)))
    return (
        b"\xff\xd8" + _jpeg_dqt_seg(0, qy) + _jpeg_dqt_seg(1, qc) + sof
        + _jpeg_dht_segs() + sos + scan + b"\xff\xd9"
    )


def _jpeg_decode_planes(data):
    """Full DCT-JPEG decode to per-component planes: (width, height,
    [plane, ...]) with each plane a row-major list of clamped 0..255
    samples AT FULL IMAGE RESOLUTION.

    Supports BOTH baseline (SOF0, one interleaved scan) and PROGRESSIVE
    (SOF2, spectral-selection profile: a DC scan plus per-component AC
    band scans with EOB-run coding; successive approximation Ah/Al != 0
    raises) — both decode through one unified coefficient store: every
    scan deposits its band into per-block coefficient arrays, and
    dequant + IDCT run once at the end, so a progressive file decodes
    bit-identically to the baseline file with the same coefficients.

    1 (grayscale) or 3 (YCbCr) components with sampling factors 1 or 2
    per axis — 4:4:4, 4:2:0, and the 4:2:2 variants; interleaved MCUs
    carry h*v blocks per component in row-major order with
    per-component DC predictors; subsampled planes upsample by sample
    REPLICATION (chroma at (x, y) reads (x * cw // width,
    y * ch // height)) — the defined semantics the oracle mirrors. DRI
    restart intervals are honored in every scan (byte-aligned RST0-7
    verified in sequence; DC predictors and EOB runs reset). Rejects
    geometry not a multiple of the MCU size (out of scope, like
    interlaced GIF)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos, qtables, huff = 2, {}, {}
    width = height = None
    comp_q = {}
    comp_order = []
    restart_interval = 0
    progressive = False
    # (scan_comps [(cid, dc_sel, ac_sel)], Ss, Se, Ah, Al,
    #  huff-tables-at-SOS, restart-interval-at-SOS, entropy bytes)
    scans = []
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                nat = [0] * 64
                for i in range(64):
                    nat[_JPEG_ZIGZAG[i]] = body[p + 1 + i]
                qtables[tq] = nat
                p += 65
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            prec, height, width, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or ncomp not in (1, 3):
                raise ValueError("only 8-bit 1- or 3-component DCT supported")
            for c in range(ncomp):
                cid, sampling, qsel = body[6 + 3 * c : 9 + 3 * c]
                ch_, cv_ = sampling >> 4, sampling & 0x0F
                if ch_ not in (1, 2) or cv_ not in (1, 2):
                    raise ValueError("sampling factors beyond 2 unsupported")
                comp_order.append((cid, ch_, cv_))
                comp_q[cid] = qsel
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline (SOF0) and progressive (SOF2) supported")
        elif marker == 0xC4:
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = [0] + list(body[p + 1 : p + 17])
                nv = sum(bits)
                huff[(tc, th)] = _jpeg_huff_table(bits, list(body[p + 17 : p + 17 + nv]))
                p += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cid, sel = body[1 + 2 * c], body[2 + 2 * c]
                scan_comps.append((cid, sel >> 4, sel & 0x0F))
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            # entropy segment: up to the next non-RST, non-stuffing marker
            ep = pos
            while ep + 1 < len(data):
                if data[ep] == 0xFF and data[ep + 1] != 0x00 and not (
                    0xD0 <= data[ep + 1] <= 0xD7
                ):
                    break
                ep += 1
            # snapshot the entropy state AT SOS TIME: real encoders (e.g.
            # libjpeg progressive output) routinely redefine DHT table ids
            # and may change DRI between scans, so decoding every buffered
            # scan with the final walker state would be silently wrong
            scans.append(
                (scan_comps, ss, se, ah, al, dict(huff), restart_interval,
                 data[pos:ep])
            )
            pos = ep
    if width is None or not scans:
        raise ValueError("missing SOF or SOS")
    hmax = max(h for _, h, _ in comp_order)
    vmax = max(v for _, _, v in comp_order)
    if (width % (8 * hmax) or height % (8 * vmax)
            or width == 0 or height == 0):
        raise ValueError("geometry must be a non-empty multiple of the MCU size")

    # per-component block grids (subsampled resolution)
    dims = [(width * h // hmax, height * v // vmax) for _, h, v in comp_order]
    grid = [(cw // 8, ch // 8) for cw, ch in dims]
    coef_store = [
        [[0] * 64 for _ in range(gw * gh)] for gw, gh in grid
    ]
    ci_of = {cid: i for i, (cid, _, _) in enumerate(comp_order)}
    n_mcu_x, n_mcu_y = width // (8 * hmax), height // (8 * vmax)

    for scan_comps, ss, se, ah, al, huff, restart_interval, seg in scans:
        spos = acc = nbits = 0

        def read(length):
            nonlocal spos, acc, nbits
            while nbits < length:
                if spos >= len(seg):
                    raise ValueError("truncated entropy-coded segment")
                b = seg[spos]
                spos += 1
                if b == 0xFF:
                    if spos >= len(seg) or seg[spos] != 0x00:
                        raise ValueError("unexpected marker inside scan")
                    spos += 1
                acc = (acc << 8) | b
                nbits += 8
            v = (acc >> (nbits - length)) & ((1 << length) - 1)
            nbits -= length
            # truncate to the live bits: without this the accumulator
            # grows 8 bits per consumed byte and bigint shifts turn the
            # scan into O(n^2) on megabyte-scale entropy segments
            acc &= (1 << nbits) - 1
            return v

        def read_huff(table):
            code = 0
            for length in range(1, 17):
                code = (code << 1) | read(1)
                if (length, code) in table:
                    return table[(length, code)]
            raise ValueError("invalid Huffman code")

        def extend(v, s):
            return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

        preds = {cid: 0 for cid, _, _ in scan_comps}
        eobrun = 0
        rst_expect = 0
        rst_state = {"m": 0}

        def check_restart():
            nonlocal spos, acc, nbits, eobrun, rst_expect
            m = rst_state["m"]
            if restart_interval and m and m % restart_interval == 0:
                acc = 0
                nbits = 0
                if (spos + 2 > len(seg) or seg[spos] != 0xFF
                        or seg[spos + 1] != 0xD0 + rst_expect):
                    raise ValueError("missing or out-of-sequence RST marker")
                spos += 2
                rst_expect = (rst_expect + 1) & 7
                for k in preds:
                    preds[k] = 0
                eobrun = 0
            rst_state["m"] = m + 1

        def decode_dc(cid, dc_sel, blk):
            if ah:
                # DC refinement: one raw bit per block, OR'd into the
                # stored (two's-complement) value at bit Al — works for
                # negative DCs because the first scan used an ARITHMETIC
                # shift (floor), so low bits are the true two's-complement
                # bits (spec G.1.2.1 / libjpeg decode_mcu_DC_refine).
                if read(1):
                    blk[0] |= 1 << al
                return
            dct = huff[(0, dc_sel)]
            s = read_huff(dct)
            preds[cid] += extend(read(s), s) if s else 0
            blk[0] = preds[cid] << al

        def decode_ac_band(ac_sel, blk, k0, k1):
            """Deposit zigzag band [k0, k1] into blk (natural order).
            Returns True if an EOB-run consumed this block."""
            nonlocal eobrun
            act = huff[(1, ac_sel)]
            if eobrun > 0:
                eobrun -= 1
                return True
            k = k0
            while k <= k1:
                rs = read_huff(act)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:
                        k += 16  # ZRL
                        continue
                    if progressive:
                        eobrun = (1 << run) - 1
                        if run:
                            eobrun += read(run)
                        return True
                    if run == 0:
                        return True  # baseline EOB
                    raise ValueError("invalid baseline AC symbol")
                k += run
                if k > k1:
                    raise ValueError("AC run past band end")
                # first scan at point transform Al deposits value << Al;
                # the encoder divided magnitudes by 2^Al toward zero
                blk[_JPEG_ZIGZAG[k]] = extend(read(size), size) << al
                k += 1
            return False

        def decode_ac_refine(ac_sel, blk, k0, k1):
            """AC successive-approximation refinement for one block's
            band (spec G.1.2.3 / libjpeg decode_mcu_AC_refine): each
            already-significant coefficient reads one correction bit
            (applied toward larger magnitude only if its Al bit is still
            0); newly-significant coefficients arrive as (run, size=1)
            symbols whose runs count ZERO-HISTORY positions only; blocks
            inside an EOB run still consume correction bits for their
            remaining significant coefficients."""
            nonlocal eobrun
            act = huff[(1, ac_sel)]
            p1, m1 = 1 << al, -1 << al

            def correct(zi):
                if read(1) and not (blk[zi] & p1):
                    blk[zi] += p1 if blk[zi] >= 0 else m1

            k = k0
            if eobrun == 0:
                while k <= k1:
                    rs = read_huff(act)
                    run, size = rs >> 4, rs & 0x0F
                    if size == 0 and run != 15:
                        eobrun = 1 << run
                        if run:
                            eobrun += read(run)
                        break
                    if size == 0:
                        newval = 0  # ZRL: 16 zero-history positions
                    elif size == 1:
                        newval = p1 if read(1) else m1
                    else:
                        raise ValueError("refinement size must be 1")
                    while k <= k1:
                        zi = _JPEG_ZIGZAG[k]
                        if blk[zi] != 0:
                            correct(zi)
                        else:
                            if run == 0:
                                break
                            run -= 1
                        k += 1
                    if size:
                        if k > k1:
                            raise ValueError("refinement run past band end")
                        blk[_JPEG_ZIGZAG[k]] = newval
                    k += 1
            if eobrun > 0:
                while k <= k1:
                    zi = _JPEG_ZIGZAG[k]
                    if blk[zi] != 0:
                        correct(zi)
                    k += 1
                eobrun -= 1

        interleaved = len(scan_comps) > 1
        if interleaved:
            if ss != 0:
                raise ValueError("AC scans must be single-component")
            for my in range(n_mcu_y):
                for mx in range(n_mcu_x):
                    check_restart()
                    for cid, dc_sel, ac_sel in scan_comps:
                        ci = ci_of[cid]
                        _, h, v = comp_order[ci]
                        gw, _ = grid[ci]
                        for by2 in range(v):
                            for bx2 in range(h):
                                blk = coef_store[ci][
                                    (my * v + by2) * gw + (mx * h + bx2)
                                ]
                                decode_dc(cid, dc_sel, blk)
                                if se > 0:
                                    decode_ac_band(ac_sel, blk, 1, se)
        else:
            cid, dc_sel, ac_sel = scan_comps[0]
            ci = ci_of[cid]
            gw, gh = grid[ci]
            for bi in range(gw * gh):
                check_restart()
                blk = coef_store[ci][bi]
                if ss == 0:
                    decode_dc(cid, dc_sel, blk)
                    if se > 0:
                        decode_ac_band(ac_sel, blk, 1, se)
                elif ah:
                    decode_ac_refine(ac_sel, blk, ss, se)
                else:
                    decode_ac_band(ac_sel, blk, ss, se)

    # dequant + IDCT + write planes, then upsample — numpy-vectorized
    # across every block of a component at once.  Bit-exactness vs the
    # reference per-pixel loop is preserved because each numpy statement
    # applies the SAME IEEE-754 double op elementwise in the SAME
    # left-to-right order the scalar loop used: the separable IDCT
    # accumulates u (then v) sequentially as whole-array fused steps,
    # rounding is np.rint (round-half-even, = Python round on floats),
    # and the DC-only shortcut in _jpeg_idct_2d was already defined to
    # equal the general loop bitwise, so running every block through the
    # general path changes nothing.  Entropy decode above stays
    # sequential Python (Huffman is inherently serial); this stage was
    # the per-pixel hot loop.
    import numpy as np

    cosm = np.asarray(_jpeg_idct_cos(), dtype=np.float64)  # [x][u]
    cvec = np.asarray(_jpeg_idct_c(), dtype=np.float64)
    subplanes = []
    for ci, (cid, h, v) in enumerate(comp_order):
        q = np.asarray(qtables[comp_q[cid]], dtype=np.float64)
        cw, ch = dims[ci]
        gw, gh = grid[ci]
        # (nblocks, v, u) natural-order dequantized coefficients; the
        # products are < 2^23 so int -> double is exact
        coefs = (
            np.asarray(coef_store[ci], dtype=np.float64) * q
        ).reshape(gh * gw, 8, 8)
        # row pass: tmp[b, v, x] = (sum_u c[u]*coef[b,v,u]*cos[x][u]) / 2
        tmp = np.zeros((gh * gw, 8, 8))
        for u in range(8):
            tmp += (cvec[u] * coefs[:, :, u])[:, :, None] * cosm[:, u]
        tmp /= 2.0
        # col pass: out[b, y, x] = (sum_v c[v]*tmp[b,v,x]*cos[y][v]) / 2
        out = np.zeros((gh * gw, 8, 8))
        for vv in range(8):
            out += (cvec[vv] * tmp[:, vv, :])[:, None, :] * cosm[:, vv][
                None, :, None
            ]
        out /= 2.0
        vals = np.clip(np.rint(out).astype(np.int64) + 128, 0, 255)
        # (gh, gw, 8, 8) -> (gh, 8, gw, 8) -> (ch, cw) row-major plane
        subplanes.append(
            vals.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(ch, cw)
        )
    planes = []
    for ci, (cw, ch) in enumerate(dims):
        sub = subplanes[ci]
        if (cw, ch) == (width, height):
            planes.append(sub.ravel().tolist())
            continue
        # sample replication: full(x, y) = sub(x*cw//width, y*ch//height);
        # integer fancy-indexing reproduces the scalar mapping exactly
        ys = np.arange(height, dtype=np.int64) * ch // height
        xs = np.arange(width, dtype=np.int64) * cw // width
        planes.append(sub[ys[:, None], xs[None, :]].ravel().tolist())
    return width, height, planes


def _jpeg_decode_gray(data):
    """Single-component wrapper over :func:`_jpeg_decode_planes`:
    (width, height, pixels row-major)."""
    width, height, planes = _jpeg_decode_planes(data)
    if len(planes) != 1:
        raise ValueError("expected a grayscale JPEG, got 3 components")
    return width, height, planes[0]


def _jpeg_ycbcr_to_rgb(y, cb, cr):
    """ITU-R BT.601 full-range conversion with floor(x + 0.5) rounding —
    explicitly NOT Python's banker's round, so the DuckDB oracle's
    floor(x + 0.5) reproduces every value bit-exactly."""
    def cl(v):
        f = math.floor(v + 0.5)
        return 0 if f < 0 else (255 if f > 255 else int(f))

    return (
        cl(y + 1.402 * (cr - 128)),
        cl(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        cl(y + 1.772 * (cb - 128)),
    )


def _jpeg_decode_rgb(data):
    """Three-component wrapper: decode YCbCr planes and convert to RGB
    per pixel; (width, height, r_plane, g_plane, b_plane)."""
    import numpy as np

    width, height, planes = _jpeg_decode_planes(data)
    if len(planes) != 3:
        raise ValueError("expected a color JPEG, got 1 component")
    # vectorized BT.601: each numpy statement applies the scalar
    # _jpeg_ycbcr_to_rgb op sequence elementwise (ints are exact in
    # doubles; floor(x + 0.5) is the same IEEE op), so every value is
    # bit-identical to the per-pixel reference function
    y = np.asarray(planes[0], dtype=np.float64)
    cb = np.asarray(planes[1], dtype=np.float64) - 128.0
    cr = np.asarray(planes[2], dtype=np.float64) - 128.0

    def cl(a):
        return np.clip(
            np.floor(a + 0.5), 0.0, 255.0
        ).astype(np.int64).tolist()

    rp = cl(y + 1.402 * cr)
    gp = cl(y - 0.344136 * cb - 0.714136 * cr)
    bp = cl(y + 1.772 * cb)
    return width, height, rp, gp, bp


def _jpeg_bytes(doc_id: int) -> bytes:
    """Deterministic DC-only baseline JPEG: (1+id%3) x (1+id%2) blocks,
    q[0]=8 so the decoded block value is exactly dc+128 with
    dc = ((5*bx + 11*by + id) % 201) - 100 — analytically recomputable
    without any DCT math."""
    bw, bh = 1 + doc_id % 3, 1 + doc_id % 2
    q = [8] + [16] * 63
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            dc = ((5 * bx + 11 * by + doc_id) % 201) - 100
            blocks.append([dc] + [0] * 63)
    return _jpeg_encode_gray(bw * 8, bh * 8, blocks, q)


def synth_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _jpeg_bytes)


def _jpeg_gray_row(data: bytes) -> tuple:
    w, h, px = _jpeg_decode_gray(data)
    return (w, h, (w // 8) * (h // 8), sum(px) * 1000 // (w * h))


def decode_jpeg(df: DataFrame) -> DataFrame:
    """Arrow-batched full baseline JPEG decode (see
    :func:`_jpeg_decode_gray`); exact integer mean over the decoded
    pixels."""
    return _decode_rows(df, _jpeg_gray_row, JPEG_DECODED_SCHEMA)


JPEG_COLOR_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, "
    "mean_r_milli bigint, mean_g_milli bigint, mean_b_milli bigint"
)


def _jpeg_color_bytes(doc_id: int) -> bytes:
    """Deterministic DC-only COLOR baseline JPEG: (1+id%3) x (1+id%2)
    MCUs, q[0]=8 for both tables so each component's decoded block value
    is exactly dc+128; per-block
    dcY = ((5bx+11by+id)%161)-80, dcCb = ((3bx+7by+id)%101)-50,
    dcCr = ((7bx+5by+id)%101)-50 — the RGB means follow analytically
    through the documented floor(x+0.5) BT.601 conversion."""
    bw, bh = 1 + doc_id % 3, 1 + doc_id % 2
    qy = [8] + [16] * 63
    qc = [8] + [24] * 63
    ys, cbs, crs = [], [], []
    for by in range(bh):
        for bx in range(bw):
            ys.append([((5 * bx + 11 * by + doc_id) % 161) - 80] + [0] * 63)
            cbs.append([((3 * bx + 7 * by + doc_id) % 101) - 50] + [0] * 63)
            crs.append([((7 * bx + 5 * by + doc_id) % 101) - 50] + [0] * 63)
    return _jpeg_encode_ycbcr(bw * 8, bh * 8, ys, cbs, crs, qy, qc)


def synth_jpeg_color(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _jpeg_color_bytes)


def _jpeg_rgb_row(data: bytes) -> tuple:
    w, h, rp, gp, bp = _jpeg_decode_rgb(data)
    n = w * h
    return (w, h, sum(rp) * 1000 // n, sum(gp) * 1000 // n, sum(bp) * 1000 // n)


def decode_jpeg_color(df: DataFrame) -> DataFrame:
    """Arrow-batched full color baseline JPEG decode: interleaved YCbCr
    MCUs with per-component DC predictors and quant tables, then BT.601
    conversion (see :func:`_jpeg_ycbcr_to_rgb`); exact integer channel
    means."""
    return _decode_rows(df, _jpeg_rgb_row, JPEG_COLOR_DECODED_SCHEMA)


def _jpeg_420_bytes(doc_id: int) -> bytes:
    """Deterministic DC-only 4:2:0 JPEG: (1+id%2) x (1+id%2) MCUs of
    16x16 px. Per Y 8-px block (bx, by): dcY = ((5bx+11by+id)%161)-80;
    per MCU (mx, my): dcCb = ((3mx+7my+id)%101)-50,
    dcCr = ((7mx+5my+id)%101)-50."""
    mw, mh = 1 + doc_id % 2, 1 + doc_id % 2
    qy = [8] + [16] * 63
    qc = [8] + [24] * 63
    ys = []
    for by in range(2 * mh):
        for bx in range(2 * mw):
            ys.append([((5 * bx + 11 * by + doc_id) % 161) - 80] + [0] * 63)
    cbs, crs = [], []
    for my in range(mh):
        for mx in range(mw):
            cbs.append([((3 * mx + 7 * my + doc_id) % 101) - 50] + [0] * 63)
            crs.append([((7 * mx + 5 * my + doc_id) % 101) - 50] + [0] * 63)
    return _jpeg_encode_ycbcr(mw * 16, mh * 16, ys, cbs, crs, qy, qc, sampling=2)


def synth_jpeg_420(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _jpeg_420_bytes)


def decode_jpeg_420(df: DataFrame) -> DataFrame:
    """Arrow-batched 4:2:0 color JPEG decode — same output shape as
    :func:`decode_jpeg_color`; the subsampled chroma planes are
    replication-upsampled before BT.601 conversion (semantics defined in
    :func:`_jpeg_decode_planes`)."""
    return _decode_rows(df, _jpeg_rgb_row, JPEG_COLOR_DECODED_SCHEMA)


# Progressive AC scans need EOBn symbols (r<<4 for r=1..14) that the
# baseline Annex K table does not define, so progressive files carry a
# custom table: every symbol the encoder can emit — EOB0..EOB14, ZRL,
# and (run, size) for run 0..15 / size 1..10 — at a flat 9-bit length
# (176 symbols < 511 codes; the all-ones code stays unused as the spec
# requires). The decoder parses any DHT generically, so nothing special
# is needed on the read side.
_JPEG_AC_PROG_VALS = tuple(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(run << 4) | s for run in range(16) for s in range(1, 11)]
)
_JPEG_AC_PROG_BITS = (0,) + (0,) * 8 + (len(_JPEG_AC_PROG_VALS),) + (0,) * 7


def _jpeg_write_dc_first_scan(blocks, al, dc_huff):
    """DC first scan at point transform Al: DPCM over the ARITHMETIC-
    shifted values dc >> Al (floor — spec G.1.2.1), so a later DC
    refinement scan can OR the dropped two's-complement bits back in."""
    w = _JpegBitWriter()
    prev = 0
    for blk in blocks:
        v = blk[0] >> al
        diff = v - prev
        prev = v
        s = _jpeg_category(diff)
        w.write(*dc_huff[s])
        if s:
            w.write(_jpeg_coeff_bits(diff, s), s)
    return w.flush()


def _jpeg_write_dc_refine_scan(blocks, al):
    """DC refinement: one raw bit per block — bit Al of the stored
    two's-complement DC value."""
    w = _JpegBitWriter()
    for blk in blocks:
        w.write((blk[0] >> al) & 1, 1)
    return w.flush()


def _jpeg_write_ac_first_scan(blocks, ss, se, al, ac_huff):
    """AC first scan for band [ss, se] at point transform Al: magnitudes
    divided by 2^Al TOWARD ZERO (spec G.1.2.2 — sign preserved, unlike
    the DC floor shift), with maximal cross-block EOB-run coding."""
    w = _JpegBitWriter()
    pending_eob = 0

    def flush_eob():
        nonlocal pending_eob
        while pending_eob:
            n = min(pending_eob, 0x7FFF)
            r = n.bit_length() - 1
            w.write(*ac_huff[r << 4])
            if r:
                w.write(n - (1 << r), r)
            pending_eob -= n

    for blk in blocks:
        zz = [blk[_JPEG_ZIGZAG[i]] for i in range(64)]
        t = [0] * 64
        for i in range(ss, se + 1):
            a = (-zz[i] if zz[i] < 0 else zz[i]) >> al
            t[i] = -a if zz[i] < 0 else a
        last_nz = max((i for i in range(ss, se + 1) if t[i]), default=0)
        if last_nz == 0:
            pending_eob += 1
            continue
        flush_eob()
        run = 0
        for i in range(ss, last_nz + 1):
            if t[i] == 0:
                run += 1
                continue
            while run > 15:
                w.write(*ac_huff[0xF0])
                run -= 16
            s = _jpeg_category(t[i])
            w.write(*ac_huff[(run << 4) | s])
            w.write(_jpeg_coeff_bits(t[i], s), s)
            run = 0
        if last_nz < se:
            pending_eob += 1
    flush_eob()
    return w.flush()


def _jpeg_write_ac_refine_scan(blocks, ss, se, al, ac_huff):
    """AC successive-approximation refinement scan (spec G.1.2.3,
    structured after libjpeg's encode_mcu_AC_refine): already-significant
    coefficients contribute one buffered correction bit (magnitude bit
    Al), newly-significant ones (shifted magnitude exactly 1) are coded
    as (zero-history-run, size=1) + sign bit; runs past the last newly-
    significant coefficient collapse into cross-block EOB runs whose
    buffered correction bits ride along after the EOBn symbol."""
    w = _JpegBitWriter()
    eobrun = 0
    run_bits: list = []  # correction bits owed under the pending EOB run

    def emit_eobrun():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            w.write(*ac_huff[r << 4])
            if r:
                w.write(eobrun - (1 << r), r)
            eobrun = 0
        for b in run_bits:
            w.write(b, 1)
        run_bits.clear()

    for blk in blocks:
        zz = [blk[_JPEG_ZIGZAG[i]] for i in range(64)]
        absv = [(-z if z < 0 else z) >> al for z in zz]
        eob = 0  # last newly-significant position in the band
        for k in range(ss, se + 1):
            if absv[k] == 1:
                eob = k
        r = 0
        br: list = []  # correction bits since the last emitted symbol
        for k in range(ss, se + 1):
            temp = absv[k]
            if temp == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                emit_eobrun()
                w.write(*ac_huff[0xF0])
                r -= 16
                for b in br:
                    w.write(b, 1)
                br = []
            if temp > 1:
                br.append(temp & 1)
                continue
            emit_eobrun()
            w.write(*ac_huff[(r << 4) | 1])
            w.write(0 if zz[k] < 0 else 1, 1)
            for b in br:
                w.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            run_bits.extend(br)
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()
    return w.flush()


def _jpeg_progressive_headers(width, height, qtable):
    sof = _jpeg_seg(0xC2, struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0)))
    dht = _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS[1:]) + bytes(_JPEG_DC_VALS)
    ) + _jpeg_seg(
        0xC4,
        bytes([0x10]) + bytes(_JPEG_AC_PROG_BITS[1:]) + bytes(_JPEG_AC_PROG_VALS),
    )
    return b"\xff\xd8" + _jpeg_dqt_seg(0, qtable) + sof + dht


def _jpeg_sos_gray(ss, se, ah, al):
    return _jpeg_seg(0xDA, bytes((1, 1, 0x00, ss, se, (ah << 4) | al)))


def _jpeg_encode_progressive_gray(width, height, blocks, qtable):
    """PROGRESSIVE grayscale JFIF (SOF2, spectral selection, Ah=Al=0):
    scan 1 carries every block's DC coefficient, scan 2 the full AC band
    1..63 with MAXIMAL EOB-run coding (consecutive AC-empty blocks
    collapse into one EOBn symbol + extension bits, as real progressive
    encoders do). A progressive file with the same coefficients decodes
    bit-identically to its baseline sibling — the transmission order is
    the only difference."""
    dc_huff = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _jpeg_huff_codes(_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS)
    return (
        _jpeg_progressive_headers(width, height, qtable)
        + _jpeg_sos_gray(0, 0, 0, 0)
        + _jpeg_write_dc_first_scan(blocks, 0, dc_huff)
        + _jpeg_sos_gray(1, 63, 0, 0)
        + _jpeg_write_ac_first_scan(blocks, 1, 63, 0, ac_huff)
        + b"\xff\xd9"
    )


def _jpeg_encode_progressive_sa_gray(width, height, blocks, qtable):
    """FULL progressive grayscale JFIF: spectral selection AND successive
    approximation, using the standard 6-scan script libjpeg generates for
    one component — DC at Al=1, two AC first scans at Al=2 (band split
    1-5 / 6-63), an AC refinement to Al=1, the DC refinement bit, and the
    final AC refinement to full precision. Decodes bit-identically to the
    baseline encoding of the same coefficients."""
    dc_huff = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _jpeg_huff_codes(_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS)
    return (
        _jpeg_progressive_headers(width, height, qtable)
        + _jpeg_sos_gray(0, 0, 0, 1)
        + _jpeg_write_dc_first_scan(blocks, 1, dc_huff)
        + _jpeg_sos_gray(1, 5, 0, 2)
        + _jpeg_write_ac_first_scan(blocks, 1, 5, 2, ac_huff)
        + _jpeg_sos_gray(6, 63, 0, 2)
        + _jpeg_write_ac_first_scan(blocks, 6, 63, 2, ac_huff)
        + _jpeg_sos_gray(1, 63, 2, 1)
        + _jpeg_write_ac_refine_scan(blocks, 1, 63, 1, ac_huff)
        + _jpeg_sos_gray(0, 0, 1, 0)
        + _jpeg_write_dc_refine_scan(blocks, 0)
        + _jpeg_sos_gray(1, 63, 1, 0)
        + _jpeg_write_ac_refine_scan(blocks, 1, 63, 0, ac_huff)
        + b"\xff\xd9"
    )


def _jpeg_progressive_bytes(doc_id: int) -> bytes:
    """The SAME DC grid as :func:`_jpeg_bytes`, encoded progressively
    (SOF2, DC scan + AC band scan) — decodes to identical pixels, so the
    progressive row shares the grayscale oracle."""
    bw, bh = 1 + doc_id % 3, 1 + doc_id % 2
    q = [8] + [16] * 63
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            dc = ((5 * bx + 11 * by + doc_id) % 201) - 100
            blocks.append([dc] + [0] * 63)
    return _jpeg_encode_progressive_gray(bw * 8, bh * 8, blocks, q)


def synth_jpeg_progressive(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _jpeg_progressive_bytes)


def _jpeg_sa_bytes(doc_id: int) -> bytes:
    """A DC grid (different formula from :func:`_jpeg_bytes` so the row
    is independent) encoded with the full 6-scan successive-approximation
    script: the DC value reaches the coefficient store through THREE
    scans (DC first at Al=1, DC refinement bit, plus the AC scans' EOB
    machinery) yet must still decode to exactly dc+128 per block."""
    bw, bh = 1 + doc_id % 3, 1 + doc_id % 2
    q = [8] + [16] * 63
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            dc = ((7 * bx + 13 * by + 3 * doc_id) % 201) - 100
            blocks.append([dc] + [0] * 63)
    return _jpeg_encode_progressive_sa_gray(bw * 8, bh * 8, blocks, q)


def synth_jpeg_sa(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _jpeg_sa_bytes)


# H.264/AVC: the metadata layer is REAL byte-level parsing — Annex-B
# start-code walking, emulation-prevention de/encoding, and a full
# Exp-Golomb SPS decode (both the baseline and High-profile header
# branches, every pic_order_cnt_type, scaling-list skipping, frame
# cropping arithmetic) — the same surface ffprobe reads to answer
# "what resolution/profile is this stream" without touching a single
# macroblock. Only FRAME decode (CABAC/CAVLC entropy + inter
# prediction) remains behind the documented external-codec stub.

H264_PARSED_SCHEMA = (
    "doc_id bigint, width int, height int, profile_idc int, level_idc int, "
    "n_nal_units int, n_idr_slices int"
)


def _h264_ep_insert(rbsp: bytes) -> bytes:
    """Emulation prevention (spec 7.4.1): inside a NAL payload any
    00 00 {00,01,02,03} becomes 00 00 03 xx so start codes can't appear."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _h264_ep_remove(payload: bytes) -> bytes:
    """Inverse of :func:`_h264_ep_insert`: drop the 03 in 00 00 03."""
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(payload):
        b = payload[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


class _H264BitReader:
    """MSB-first bit reader with Exp-Golomb ue(v)/se(v) (spec 9.1)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("SPS truncated")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("bad Exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


class _H264BitWriter:
    def __init__(self):
        self.bits: list = []

    def u(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int) -> None:
        code = v + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def rbsp_trailing(self) -> bytes:
        self.u(1, 1)
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            out.append(int("".join(map(str, self.bits[i : i + 8])), 2))
        return bytes(out)


def _h264_skip_scaling_list(r: _H264BitReader, size: int) -> None:
    """scaling_list() (spec 7.3.2.1.1.1): only the delta stream length
    matters for skipping."""
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        if nxt != 0:
            last = nxt


def _h264_parse_sps(rbsp: bytes) -> dict:
    """Sequence Parameter Set (spec 7.3.2.1.1) through the frame-cropping
    arithmetic: returns profile_idc, level_idc and the DISPLAY width and
    height (crop units scale with chroma format and field coding)."""
    r = _H264BitReader(rbsp)
    profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    level_idc = r.u(8)
    r.ue()  # sps_id
    chroma_format_idc = 1
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135):
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            n_lists = 8 if chroma_format_idc != 3 else 12
            for i in range(n_lists):
                if r.u(1):
                    _h264_skip_scaling_list(r, 16 if i < 6 else 64)
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()  # offset_for_ref_frame
    elif poc_type != 2:
        raise ValueError(f"bad pic_order_cnt_type {poc_type}")
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    mb_w = r.ue() + 1
    map_h = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    # vui ignored (not needed for geometry)
    if chroma_format_idc == 0:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    elif chroma_format_idc == 1:
        unit_x, unit_y = 2, 2 * (2 - frame_mbs_only)
    elif chroma_format_idc == 2:
        unit_x, unit_y = 2, 2 - frame_mbs_only
    else:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    width = mb_w * 16 - unit_x * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * map_h * 16 - unit_y * (crop_t + crop_b)
    if width <= 0 or height <= 0:
        raise ValueError("SPS crop removes the whole frame")
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
        # extra fields the slice-layer decoder (decode_h264_ipcm) needs;
        # the metadata row above only reads the four keys before them
        "chroma_format_idc": chroma_format_idc,
        "frame_mbs_only": frame_mbs_only,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "mb_width": mb_w,
        "mb_height": (2 - frame_mbs_only) * map_h,
        "crop_px": (
            unit_x * crop_l,
            unit_x * crop_r,
            unit_y * crop_t,
            unit_y * crop_b,
        ),
    }


def _h264_annexb_nals(data: bytes):
    """Yield (nal_unit_type, payload) for each Annex-B NAL (3- or 4-byte
    start codes); payload excludes the header byte and still carries
    emulation-prevention bytes."""
    i = 0
    n = len(data)
    starts = []
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0 and data[i + 2] == 1:
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    if not starts:
        raise ValueError("no Annex-B start codes")
    for si, s in enumerate(starts):
        e = starts[si + 1] - 3 if si + 1 < len(starts) else n
        # a 4-byte start code leaves one zero before the next 00 00 01
        while e > s and data[e - 1] == 0:
            e -= 1
        hdr = data[s]
        if hdr & 0x80:
            raise ValueError("forbidden_zero_bit set")
        yield hdr & 0x1F, data[s + 1 : e]


def _h264_bytes(doc_id: int) -> bytes:
    """Deterministic Annex-B stream: SPS (alternating baseline/High
    profile to exercise both header branches) + PPS + one IDR slice stub
    + (doc_id % 3) non-IDR stubs. Geometry from the id: mb grid
    (2+id%9) x (2+id%5), right/bottom crop id%3 / id%2 chroma units."""
    mb_w, mb_h = 2 + doc_id % 9, 2 + doc_id % 5
    crop_r, crop_b = doc_id % 3, doc_id % 2
    high = doc_id % 2 == 0
    w = _H264BitWriter()
    w.u(100 if high else 66, 8)
    w.u(0, 8)
    w.u(10 * (3 + doc_id % 3), 8)  # level 30/40/50
    w.ue(0)  # sps_id
    if high:
        w.ue(1)  # chroma_format_idc 4:2:0
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(0, 1)  # qpprime bypass
        w.u(0, 1)  # no scaling matrix
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type 2 (no extra fields)
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps flag
    w.ue(mb_w - 1)
    w.ue(mb_h - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui absent
    sps = _h264_ep_insert(w.rbsp_trailing())
    pps = _h264_ep_insert(bytes((0xC8, 0x42)))  # opaque stub payload
    out = bytearray(b"\x00\x00\x00\x01" + bytes([0x67]) + sps)
    out += b"\x00\x00\x00\x01" + bytes([0x68]) + pps
    filler = bytes(((doc_id * 31 + i) % 251) for i in range(20))
    out += b"\x00\x00\x01" + bytes([0x65]) + _h264_ep_insert(filler)  # IDR
    for s in range(doc_id % 3):
        body = bytes(((doc_id * 17 + s * 7 + i) % 249) for i in range(12))
        out += b"\x00\x00\x01" + bytes([0x41]) + _h264_ep_insert(body)
    return bytes(out)


def synth_h264(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _h264_bytes)


def _h264_sps_row(data: bytes) -> tuple:
    sps = None
    n_nal = n_idr = 0
    for typ, payload in _h264_annexb_nals(bytes(data)):
        n_nal += 1
        if typ == 7 and sps is None:
            sps = _h264_parse_sps(_h264_ep_remove(payload))
        elif typ == 5:
            n_idr += 1
    if sps is None:
        raise ValueError("no SPS NAL in stream")
    return (
        sps["width"], sps["height"], sps["profile_idc"], sps["level_idc"],
        n_nal, n_idr,
    )


def parse_h264(df: DataFrame) -> DataFrame:
    """Arrow-batched H.264 metadata extraction: walk the Annex-B stream,
    strip emulation prevention from the SPS, and run the Exp-Golomb
    header parse — resolution, profile, level, NAL/IDR counts. Frame
    decode stays with the external-codec stub (:func:`decode_payload`)."""
    return _decode_rows(df, _h264_sps_row, H264_PARSED_SCHEMA)


# H.264/AVC FRAME decode — the I_PCM profile subset. I_PCM macroblocks
# (spec 7.3.5 / 7.4.5, mb_type 25 in I slices) carry raw, uncompressed
# samples inside an otherwise fully standard bitstream: Annex-B framing,
# emulation prevention, SPS/PPS activation, the complete slice header,
# and the macroblock-layer syntax with its pcm_alignment_zero_bit are
# all exercised for real — only the transform/prediction entropy paths
# (CAVLC residuals / CABAC) stay out of scope. Every conformant encoder
# must emit I_PCM when a macroblock's compressed size would exceed the
# raw size (spec A.3 bit-limit), so this is a genuine subset of the
# standard, not an invented container. Parity target: the reference's
# opaque-payload pass-through (DropFieldTest.java:121 keeps bytes
# untouched); here the bytes are actually decoded.

H264_FRAME_SCHEMA = (
    "doc_id bigint, width int, height int, n_frames int, n_mbs int, "
    "sum_y bigint, sum_cb bigint, sum_cr bigint"
)


def _h264_parse_pps(rbsp: bytes) -> dict:
    """Picture Parameter Set (spec 7.3.2.2), the fields the slice layer
    needs. CABAC (entropy_coding_mode_flag=1) and slice groups are
    rejected — the I_PCM subset is CAVLC, single slice group."""
    r = _H264BitReader(rbsp)
    pps = {
        "pps_id": r.ue(),
        "sps_id": r.ue(),
        "entropy_coding_mode": r.u(1),
        "bottom_field_poc_present": r.u(1),
    }
    if pps["entropy_coding_mode"]:
        raise ValueError("CABAC streams need an external codec")
    if r.ue() != 0:  # num_slice_groups_minus1
        raise ValueError("slice groups (FMO) not supported")
    r.ue()  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    r.u(1)  # weighted_pred_flag
    r.u(2)  # weighted_bipred_idc
    r.se()  # pic_init_qp_minus26
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    pps["deblocking_control_present"] = r.u(1)
    r.u(1)  # constrained_intra_pred_flag
    pps["redundant_pic_cnt_present"] = r.u(1)
    return pps


def _h264_decode_ipcm_slice(rbsp: bytes, sps: dict, pps: dict, nal: int) -> tuple:
    """Slice header (spec 7.3.3) + slice data (7.3.4) for a single-slice
    I picture whose macroblocks are all I_PCM. Returns (y, cb, cr) planes
    as bytearrays in raster order, uncropped."""
    if sps["frame_mbs_only"] != 1:
        raise ValueError("field/MBAFF coding not supported")
    if sps["chroma_format_idc"] != 1:
        raise ValueError("only 4:2:0 I_PCM streams supported")
    r = _H264BitReader(rbsp)
    if r.ue() != 0:  # first_mb_in_slice
        raise ValueError("multi-slice pictures not supported")
    slice_type = r.ue()
    if slice_type % 5 != 2:  # I slice (2 or 7)
        raise ValueError(f"non-I slice_type {slice_type}")
    if r.ue() != pps["pps_id"]:
        raise ValueError("slice references an unknown PPS")
    r.u(sps["log2_max_frame_num"])  # frame_num
    idr = nal & 0x1F == 5
    if idr:
        r.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])  # pic_order_cnt_lsb
        if pps["bottom_field_poc_present"]:
            r.se()  # delta_pic_order_cnt_bottom
    if pps["redundant_pic_cnt_present"]:
        r.ue()  # redundant_pic_cnt
    nal_ref_idc = (nal >> 5) & 3
    if nal_ref_idc:  # dec_ref_pic_marking (7.3.3.3)
        if idr:
            r.u(1)  # no_output_of_prior_pics_flag
            r.u(1)  # long_term_reference_flag
        elif r.u(1):  # adaptive_ref_pic_marking_mode_flag
            raise ValueError("adaptive ref marking not supported")
    r.se()  # slice_qp_delta
    if pps["deblocking_control_present"]:
        if r.ue() != 1:  # disable_deblocking_filter_idc
            r.se()  # slice_alpha_c0_offset_div2
            r.se()  # slice_beta_offset_div2
    mb_w, mb_h = sps["mb_width"], sps["mb_height"]
    w, h = mb_w * 16, mb_h * 16
    y = bytearray(w * h)
    cb = bytearray((w // 2) * (h // 2))
    cr = bytearray((w // 2) * (h // 2))
    for mb in range(mb_w * mb_h):
        mb_type = r.ue()
        if mb_type != 25:  # I_PCM
            raise ValueError(
                f"mb_type {mb_type}: compressed macroblocks need an "
                "external codec (only I_PCM is decodable stdlib-only)"
            )
        while r.pos % 8:
            if r.u(1) != 0:
                raise ValueError("pcm_alignment_zero_bit set")
        base = r.pos >> 3
        if base + 384 > len(rbsp):
            raise ValueError("I_PCM samples truncated")
        mbx, mby = (mb % mb_w) * 16, (mb // mb_w) * 16
        for row in range(16):
            off = base + row * 16
            y[(mby + row) * w + mbx : (mby + row) * w + mbx + 16] = rbsp[
                off : off + 16
            ]
        cbase, cw = base + 256, w // 2
        cmx, cmy = (mb % mb_w) * 8, (mb // mb_w) * 8
        for row in range(8):
            off = cbase + row * 8
            cb[(cmy + row) * cw + cmx : (cmy + row) * cw + cmx + 8] = rbsp[
                off : off + 8
            ]
            off += 64
            cr[(cmy + row) * cw + cmx : (cmy + row) * cw + cmx + 8] = rbsp[
                off : off + 8
            ]
        r.pos = (base + 384) * 8
    if r.u(1) != 1:  # rbsp_stop_one_bit
        raise ValueError("missing RBSP stop bit after slice data")
    return y, cb, cr


def _h264_ipcm_y(doc_id: int, f: int, x: int, y: int) -> int:
    return (doc_id * 5 + f * 11 + x * 3 + y * 7) % 256


def _h264_ipcm_cb(doc_id: int, f: int, x: int, y: int) -> int:
    return (doc_id * 3 + f * 5 + x * 2 + y * 3) % 256


def _h264_ipcm_cr(doc_id: int, f: int, x: int, y: int) -> int:
    return (doc_id * 7 + f * 3 + x + y * 2) % 256


def _h264_ipcm_geometry(doc_id: int) -> tuple:
    """(mb_w, mb_h, crop_r_units, crop_b_units, n_frames) — all small so
    sf0.1 payloads stay a few KB/doc."""
    return (
        1 + doc_id % 3,
        1 + doc_id % 2,
        doc_id % 2,
        1 if doc_id % 3 == 0 else 0,
        1 + doc_id % 2,
    )


def _h264_ipcm_bytes(doc_id: int) -> bytes:
    """Annex-B stream: baseline SPS + real PPS + n_frames single-slice
    IDR pictures whose macroblocks are all I_PCM; sample (f,x,y) values
    come from the three formulas above so an oracle can recompute the
    channel sums without parsing a byte."""
    mb_w, mb_h, crop_r, crop_b, n_frames = _h264_ipcm_geometry(doc_id)
    w = _H264BitWriter()
    w.u(66, 8)  # baseline
    w.u(0, 8)
    w.u(30, 8)
    w.ue(0)  # sps_id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)
    w.ue(mb_w - 1)
    w.ue(mb_h - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui absent
    sps = _h264_ep_insert(w.rbsp_trailing())
    p = _H264BitWriter()
    p.ue(0)  # pps_id
    p.ue(0)  # sps_id
    p.u(0, 1)  # entropy_coding_mode: CAVLC
    p.u(0, 1)  # bottom_field_poc_present
    p.ue(0)  # num_slice_groups_minus1
    p.ue(0)  # num_ref_idx_l0
    p.ue(0)  # num_ref_idx_l1
    p.u(0, 1)  # weighted_pred
    p.u(0, 2)  # weighted_bipred
    p.ue(0)  # pic_init_qp_minus26 se(0) == ue-code 0
    p.ue(0)  # pic_init_qs_minus26
    p.ue(0)  # chroma_qp_index_offset
    p.u(0, 1)  # deblocking_control_present
    p.u(0, 1)  # constrained_intra_pred
    p.u(0, 1)  # redundant_pic_cnt_present
    pps = _h264_ep_insert(p.rbsp_trailing())
    out = bytearray(b"\x00\x00\x00\x01" + bytes([0x67]) + sps)
    out += b"\x00\x00\x00\x01" + bytes([0x68]) + pps
    for f in range(n_frames):
        s = _H264BitWriter()
        s.ue(0)  # first_mb_in_slice
        s.ue(7)  # slice_type I (all slices in picture are I)
        s.ue(0)  # pps_id
        s.u(0, 4)  # frame_num (log2_max_frame_num = 4)
        s.ue(f)  # idr_pic_id
        s.u(0, 1)  # no_output_of_prior_pics
        s.u(0, 1)  # long_term_reference
        s.ue(0)  # slice_qp_delta se(0)
        for mb in range(mb_w * mb_h):
            mbx, mby = (mb % mb_w) * 16, (mb // mb_w) * 16
            s.ue(25)  # mb_type I_PCM
            while len(s.bits) % 8:
                s.u(0, 1)  # pcm_alignment_zero_bit
            for row in range(16):
                for col in range(16):
                    s.u(_h264_ipcm_y(doc_id, f, mbx + col, mby + row), 8)
            cmx, cmy = (mb % mb_w) * 8, (mb // mb_w) * 8
            for row in range(8):
                for col in range(8):
                    s.u(_h264_ipcm_cb(doc_id, f, cmx + col, cmy + row), 8)
            for row in range(8):
                for col in range(8):
                    s.u(_h264_ipcm_cr(doc_id, f, cmx + col, cmy + row), 8)
        out += b"\x00\x00\x01" + bytes([0x65]) + _h264_ep_insert(s.rbsp_trailing())
    return bytes(out)


def synth_h264_ipcm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _h264_ipcm_bytes)


def _h264_ipcm_row(data: bytes) -> tuple:
    sps = pps = None
    n_frames = n_mbs = sum_y = sum_cb = sum_cr = 0
    width = height = 0
    for nal_hdr, payload in _h264_annexb_nals(bytes(data)):
        rbsp = _h264_ep_remove(payload)
        if nal_hdr == 7:
            sps = _h264_parse_sps(rbsp)
        elif nal_hdr == 8:
            pps = _h264_parse_pps(rbsp)
        elif nal_hdr == 5:
            if sps is None or pps is None:
                raise ValueError("slice before SPS/PPS activation")
            # _h264_annexb_nals strips the header byte; rebuild the
            # fields the slice layer needs (ref_idc=3, type=5)
            y, cb, cr = _h264_decode_ipcm_slice(rbsp, sps, pps, 0x65)
            cl, crx, ct, cbm = sps["crop_px"]
            width, height = sps["width"], sps["height"]
            full_w = sps["mb_width"] * 16
            for row in range(ct, ct + height):
                sum_y += sum(y[row * full_w + cl : row * full_w + cl + width])
            cw, ch = width // 2, height // 2
            ccl, cct, cfw = cl // 2, ct // 2, full_w // 2
            for row in range(cct, cct + ch):
                sum_cb += sum(cb[row * cfw + ccl : row * cfw + ccl + cw])
                sum_cr += sum(cr[row * cfw + ccl : row * cfw + ccl + cw])
            n_frames += 1
            n_mbs += sps["mb_width"] * sps["mb_height"]
    if n_frames == 0:
        raise ValueError("no decodable IDR picture in stream")
    return (width, height, n_frames, n_mbs, sum_y, sum_cb, sum_cr)


def decode_h264_ipcm(df: DataFrame) -> DataFrame:
    """REAL H.264 frame decode of the I_PCM subset: Annex-B walk,
    SPS/PPS activation, full slice-header parse, macroblock loop with
    pcm alignment, raw sample extraction into Y/Cb/Cr planes, and the
    SPS frame-cropping window applied to the decoded planes. Emits
    exact integer channel sums over all IDR pictures so any misread —
    geometry, crop, plane interleave, alignment — changes the output.
    mapInPandas keeps decode embarrassingly parallel (one task per
    input split, no shuffle) at any corpus size."""
    return _decode_rows(df, _h264_ipcm_row, H264_FRAME_SCHEMA)


# Audio feature extraction over REAL decoded PCM — the DSP layer a
# training-data pipeline runs after decode to filter silence/noise and
# segment speech. Every feature is an exact integer (energies are sums
# of squares, activity is sample-sign changes), so the DuckDB oracle
# reproduces them bit-for-bit from the synth formula and any misread of
# the RIFF layout, sample width, or framing mismatches.

AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, n_samples int, n_frames int, zero_crossings bigint, "
    "sum_sq bigint, peak_frame_idx int, peak_frame_energy bigint"
)

AUDIO_FRAME_SIZE = 160  # 20 ms at the synth's 8 kHz; final partial frame kept


def _audio_features_row(data: bytes, frame_size: int) -> tuple:
    _, samples = _wav_pcm(data)
    n = len(samples)
    zc = sum(1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0))
    n_frames = (n + frame_size - 1) // frame_size
    peak_idx, peak_e, total = 0, -1, 0
    for fi in range(n_frames):
        e = sum(s * s for s in samples[fi * frame_size : (fi + 1) * frame_size])
        total += e
        if e > peak_e:
            peak_idx, peak_e = fi, e
    return (n, n_frames, zc, total, peak_idx, max(peak_e, 0))


def audio_features(df: DataFrame, frame_size: int = AUDIO_FRAME_SIZE) -> DataFrame:
    """Framewise audio features from real WAV bytes: RIFF chunk walk
    (same rules as :func:`decode_wav` — mono 16-bit PCM only), then
    per-frame energy (exact sum of squares over non-overlapping
    ``frame_size``-sample frames, last partial frame included), global
    zero-crossing count (sign change between consecutive samples, zero
    counted as non-negative), and the peak-energy frame (ties -> lowest
    index). mapInPandas keeps it shuffle-free at any corpus size."""
    row = functools.partial(_audio_features_row, frame_size=frame_size)
    return _decode_rows(df, row, AUDIO_FEATURES_SCHEMA)


# MP4 sample tables: the layer a video pipeline actually schedules work
# from — stts (decode timestamps, run-length encoded) and stsz (sample
# sizes, uniform or per-sample) inside the full trak/mdia/minf/stbl
# hierarchy. Real box walking end to end; frame-content decode is the
# documented external-codec boundary (now narrowed to entropy-coded
# residuals by decode_h264_ipcm).

MP4_TRACK_SCHEMA = (
    "doc_id bigint, media_timescale int, n_samples int, "
    "duration_units bigint, duration_ms bigint, total_bytes bigint, "
    "max_sample_bytes int"
)


def _mp4_track_bytes(doc_id: int) -> bytes:
    """ftyp + moov{mvhd, trak{tkhd, mdia{mdhd, hdlr, minf{stbl{stts,
    stsz}}}}}. n = 10 + id%20 samples in two stts runs (deltas
    100+id%7 / 200+id%11); stsz is uniform (id%4==0) or per-sample
    size(i) = 500 + (13*id + 29*i) % 1000."""
    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I4s", 8 + len(body), typ) + body

    n = 10 + doc_id % 20
    d1, d2 = 100 + doc_id % 7, 200 + doc_id % 11
    a = n // 2
    stts = box(
        b"stts",
        b"\x00\x00\x00\x00"
        + struct.pack(">I", 2)
        + struct.pack(">II", a, d1)
        + struct.pack(">II", n - a, d2),
    )
    if doc_id % 4 == 0:
        stsz = box(
            b"stsz",
            b"\x00\x00\x00\x00" + struct.pack(">II", 800 + doc_id % 100, n),
        )
    else:
        sizes = [500 + (13 * doc_id + 29 * i) % 1000 for i in range(n)]
        stsz = box(
            b"stsz",
            b"\x00\x00\x00\x00"
            + struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
    ts = 1000 + (doc_id % 3) * 500
    dur = a * d1 + (n - a) * d2
    mdhd = box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">IIII", 0, 0, ts, dur)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', pre_defined
    )
    hdlr = box(
        b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00"
    )
    stbl = box(b"stbl", stts + stsz)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07" + struct.pack(">IIII", 0, 0, 1, 0) + b"\x00" * 60,
    )
    trak = box(b"trak", tkhd + mdia)
    mvhd_src = _mp4_bytes(doc_id)  # reuse the verified mvhd writer
    # mvhd sits at moov body start: ftyp is 20 bytes, moov header 8
    mvhd = mvhd_src[28:]
    moov = box(b"moov", mvhd + trak)
    ftyp = struct.pack(">I4s4sI4s", 20, b"ftyp", b"isom", 512, b"isom")
    return ftyp + moov


def synth_mp4_tracks(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return _synth(df, id_col, _mp4_track_bytes)


def _mp4_child(data: bytes, span: tuple, typ: bytes) -> tuple:
    """(body_start, box_end) of the first ``typ`` box inside ``span``."""
    for t, b, e in _mp4_boxes(data, *span):
        if t == typ:
            return b, e
    raise ValueError(f"missing {typ.decode()} box")


def _mp4_tracks_row(data: bytes) -> tuple:
    trak = _mp4_child(data, _mp4_child(data, (0, len(data)), b"moov"), b"trak")
    mdia = _mp4_child(data, trak, b"mdia")
    b, _ = _mp4_child(data, mdia, b"mdhd")
    if data[b]:
        (ts,) = struct.unpack_from(">I", data, b + 20)
    else:
        (ts,) = struct.unpack_from(">I", data, b + 12)
    stbl = _mp4_child(data, _mp4_child(data, mdia, b"minf"), b"stbl")
    b, e = _mp4_child(data, stbl, b"stts")
    (n_ent,) = struct.unpack_from(">I", data, b + 4)
    if b + 8 + 8 * n_ent > e:
        raise ValueError("stts overruns its box")
    n_stts, dur = 0, 0
    for i in range(n_ent):
        cnt, delta = struct.unpack_from(">II", data, b + 8 + 8 * i)
        n_stts += cnt
        dur += cnt * delta
    b, e = _mp4_child(data, stbl, b"stsz")
    uniform, n = struct.unpack_from(">II", data, b + 4)
    if uniform:
        total, mx = uniform * n, uniform
    else:
        if b + 12 + 4 * n > e:
            raise ValueError("stsz overruns its box")
        sizes = struct.unpack_from(f">{n}I", data, b + 12)
        total, mx = sum(sizes), max(sizes) if sizes else 0
    if n != n_stts:
        raise ValueError(f"stsz/stts sample counts disagree: {n} vs {n_stts}")
    if ts == 0:
        raise ValueError("bad mdhd timescale")
    return (ts, n, dur, dur * 1000 // ts, total, mx)


def decode_mp4_tracks(df: DataFrame) -> DataFrame:
    """Parse REAL sample tables: walk moov/trak/mdia/{mdhd,minf/stbl/
    {stts,stsz}}, expand stts run-length entries into total duration,
    read stsz in both its uniform and per-sample forms, and cross-check
    the two tables' sample counts (a real demuxer must — they disagree
    in corrupt files). Exact integers only."""
    return _decode_rows(df, _mp4_tracks_row, MP4_TRACK_SCHEMA)
