"""Multimodal columns: opaque binary payloads + typed metadata.

North-star surface for a training-data pipeline at 100 TB: media
travels as ``binary`` columns with a typed metadata struct, and every
transformation is an Arrow-batched ``mapInPandas`` over those bytes —
the media never round-trips through driver memory, partitioning is the
ordinary columnar kind, and decode parallelism is the scan parallelism.

This container has no image/audio codecs (no PIL/ffmpeg/librosa), so
the *decode* step is split:

* :func:`decode_image_stub` — the real-decoder seam; raises
  ``NotImplementedError`` with the intended contract, so swapping a
  codec in is a one-function change.
* deterministic byte-level features (:func:`image_features`,
  :func:`frame_sample`) — real Spark plumbing (schema, batching, UDF
  signature) over a deterministic fake "image": the document's UTF-8
  bytes.  These are what tests and the harness exercise.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import reduce
from operator import add

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

IMAGE_FORMATS = ("png", "jpeg", "webp")


def attach_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive a deterministic binary media column + metadata struct.

    Stand-in for reading real media: payload = UTF-8 bytes of the text,
    metadata (width/height/format) pure functions of the payload size —
    reproducible in any engine, so metadata-level queries stay
    oracle-checkable.
    """
    payload = F.encode(F.col(text_col), "utf-8")
    n_bytes = F.length(payload)
    return docs.withColumn("media", payload).withColumn(
        "media_meta",
        F.struct(
            n_bytes.alias("n_bytes"),
            (F.lit(64) + n_bytes % 512).alias("width"),
            (F.lit(64) + (n_bytes * 3) % 512).alias("height"),
            F.element_at(F.array(*[F.lit(f) for f in IMAGE_FORMATS]), (n_bytes % 3 + 1).cast("int"))
            .alias("format"),
        ),
    )


def decode_image_stub(payload: bytes, fmt: str) -> "object":
    """REAL-DECODER SEAM — not implemented in this container.

    Contract: ``(payload bytes, format) -> HxWx3 uint8 array``.  Wire a
    codec (PIL/libvips) here; every operator below consumes only the
    deterministic byte-level path and does not need changing for tests.
    """
    raise NotImplementedError(
        "no image codec in this environment; use the byte-level feature "
        "path or inject a decoder"
    )


def decode_image(payload: bytes, fmt: str | None = None) -> np.ndarray:
    """Decode an image payload to an ``HxWx3 uint8`` array.

    The uncompressed raster formats decode here in PURE BYTES — no
    codec library — so the seam is exercisable end to end in any
    environment: ``BM`` magic → 24-bit uncompressed BMP (bottom-up
    rows, 4-byte row padding, BGR order), ``P6`` magic → binary PPM
    (``#`` comments, maxval 255).  PNG — a REAL compressed format —
    decodes via :func:`_decode_png` with the stdlib's zlib (DEFLATE is
    PNG's entire compression) plus numpy un-filtering: 8-bit
    gray/RGB/RGBA, non-interlaced.  Anything else (JPEG/WebP need a
    real codec) delegates to :func:`decode_image_stub`, the
    wire-a-codec-here seam.
    """
    b = bytes(payload or b"")
    if b[:2] == b"BM":
        return _decode_bmp24(b)
    if b[:2] == b"P6":
        return _decode_ppm(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(b)
    return decode_image_stub(b, fmt or "")


def _decode_bmp24(b: bytes) -> np.ndarray:
    """24-bit uncompressed BMP: BITMAPFILEHEADER (14) + BITMAPINFOHEADER,
    little-endian fields, rows padded to 4 bytes, stored bottom-up in
    BGR — returned top-down RGB."""
    import struct

    if len(b) < 54:
        raise ValueError("BMP: truncated header")
    off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    comp = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"BMP: only 24-bit uncompressed supported (bpp={bpp}, compression={comp})")
    if w <= 0 or h == 0:
        raise ValueError("BMP: bad dimensions")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    need = off + stride * h
    if len(b) < need:
        raise ValueError("BMP: truncated pixel array")
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def _decode_ppm(b: bytes) -> np.ndarray:
    """Binary PPM (P6): ASCII header of magic / width / height / maxval
    with ``#`` comments, one whitespace byte, then raw RGB."""
    pos = 2  # past 'P6'
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("PPM: truncated header")
        fields.append(int(b[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255 or w <= 0 or h <= 0:
        raise ValueError("PPM: only maxval 255 supported")
    need = pos + w * h * 3
    if len(b) < need:
        raise ValueError("PPM: truncated pixel data")
    return (
        np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


def _decode_png(b: bytes) -> np.ndarray:
    """PNG — a REAL compressed image format, decoded with the Python
    stdlib alone: chunk walk (length / type / data / CRC32-verified),
    IHDR validation, ``zlib.decompress`` of the concatenated IDAT
    stream, and per-scanline un-filtering (the five PNG filter types —
    None / Sub / Up / Average / Paeth) vectorized per row in numpy.

    Supported: 8-bit depth, non-interlaced, color types 0 (grayscale →
    replicated to RGB), 2 (truecolor), and 6 (truecolor + alpha →
    alpha dropped).  Palette / 16-bit / interlaced images raise with
    the unsupported feature named (they are rare in training corpora
    and belong behind the codec seam).  This retires the "PNG needs
    PIL" half of the compressed-codec residual: DEFLATE is the whole
    compression, and zlib ships in the stdlib."""
    import struct
    import zlib

    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(b):
        (clen,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            raise ValueError("PNG: truncated chunk")
        (crc,) = struct.unpack_from(">I", b, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG: CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("PNG: missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise ValueError(f"PNG: only 8-bit depth supported (depth={depth})")
    if interlace != 0:
        raise ValueError("PNG: interlaced (Adam7) not supported")
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"PNG: color type {color} not supported (palette/LA)")
    if w <= 0 or h <= 0:
        raise ValueError("PNG: bad dimensions")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG: truncated pixel stream")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            # Sub / Average / Paeth reference the already-reconstructed
            # pixel `channels` bytes to the left — a sequential scan
            # along the row (vectorizing across the row's pixels is
            # possible per-channel but the per-row Python loop is
            # bounded by width, not corpus size)
            cur = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - channels] if i >= channels else 0
                up = prev[i]
                if ftype == 1:
                    cur[i] = (line[i] + a) & 0xFF
                elif ftype == 3:
                    cur[i] = (line[i] + (a + up) // 2) & 0xFF
                else:
                    c = prev[i - channels] if i >= channels else 0
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                    cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2).copy()
    return px[:, :, :3].copy()


def decode_audio_stub(payload: bytes, fmt: str) -> "object":
    """REAL-AUDIO-CODEC SEAM — not implemented in this container.

    Contract: ``(payload bytes, format) -> (samples int ndarray of
    shape (n_frames, n_channels), sample_rate)``.  Wire a codec
    (libsndfile/ffmpeg) here for MP3/AAC/OGG/FLAC; the framing, energy,
    and fingerprint stages below are sample-source-agnostic and do not
    change when one lands (the :func:`decode_image_stub` precedent).
    """
    raise NotImplementedError(
        "no audio codec in this environment; use the byte-level path "
        "or inject a decoder"
    )


def decode_audio(
    payload: bytes, fmt: str | None = None
) -> tuple[np.ndarray, int]:
    """Decode an audio payload to ``(samples, sample_rate)`` where
    ``samples`` is an int ndarray of shape ``(n_frames, n_channels)``.

    The uncompressed container decodes here in PURE BYTES — no codec
    library (the BMP/PPM precedent): a ``RIFF....WAVE`` magic is
    parsed as a WAV container — the chunk list is WALKED (unknown
    chunks like ``LIST``/``fact`` are skipped by their declared size,
    with the spec's even-byte padding), the ``fmt `` chunk must
    declare integer PCM (format tag 1) at 8 or 16 bits, and the
    ``data`` chunk's samples come back as uint8 (8-bit, unsigned per
    spec) or little-endian int16 (16-bit) frames.  Anything else
    (MP3/AAC/OGG need a real codec) delegates to
    :func:`decode_audio_stub`, the wire-a-codec-here seam.

    For 8-bit mono PCM the sample bytes ARE the data-chunk bytes, so
    the UNCHANGED byte-level :func:`audio_fingerprint` stage over the
    decoded samples equals the fingerprint of the raw stream — the
    container adds framing, not semantics (pinned by test).
    """
    import struct

    b = bytes(payload or b"")
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        pos = 12
        fmt_fields: tuple[int, int, int, int] | None = None
        data: bytes | None = None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            (csize,) = struct.unpack_from("<I", b, pos + 4)
            body = b[pos + 8 : pos + 8 + csize]
            if cid == b"fmt ":
                if csize < 16:
                    raise ValueError("WAV: truncated fmt chunk")
                tag, ch, rate = struct.unpack_from("<HHI", body, 0)
                (bits,) = struct.unpack_from("<H", body, 14)
                fmt_fields = (tag, ch, rate, bits)
            elif cid == b"data":
                if len(body) < csize:
                    raise ValueError("WAV: truncated data chunk")
                data = body
            pos += 8 + csize + (csize & 1)  # chunks pad to even size
        if fmt_fields is None or data is None:
            raise ValueError("WAV: missing fmt or data chunk")
        tag, ch, rate, bits = fmt_fields
        if tag != 1 or bits not in (8, 16):
            raise ValueError(
                f"WAV: only 8/16-bit integer PCM supported "
                f"(format tag {tag}, {bits}-bit); compressed WAV needs "
                f"the codec seam"
            )
        if ch < 1:
            raise ValueError("WAV: bad channel count")
        dtype = np.uint8 if bits == 8 else np.dtype("<i2")
        frame_bytes = ch * bits // 8
        n_frames = len(data) // frame_bytes
        samples = np.frombuffer(
            data, dtype=dtype, count=n_frames * ch
        ).reshape(n_frames, ch)
        return samples, int(rate)
    return decode_audio_stub(b, fmt or "")


def encode_wav_pcm8(data: bytes, sample_rate: int = 8000) -> bytes:
    """Minimal WAV writer: wrap raw bytes as 8-bit unsigned mono PCM
    in a spec-correct RIFF container (fmt + data chunks, data padded
    to even size).  The synthesis half of :func:`decode_audio`'s
    parser — used to exercise the container path in-plan without a
    codec (pinned round-trip-exact by test)."""
    import struct

    pad = b"\x00" if len(data) & 1 else b""
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data + pad
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def attach_wav_media(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Wrap each document's UTF-8 text bytes in a real WAV container
    (:func:`encode_wav_pcm8`) — the container-path twin of
    :func:`attach_media`'s raw byte view, so operators taking
    ``container="wav"`` consume a genuine file format end to end.
    One Arrow-batched pass; payloads never leave the executor."""
    return _map_payloads(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.encode(F.col(text_col), "utf-8").alias("media"),
        ),
        "doc_id long, media binary",
        lambda doc_id, b: [(doc_id, encode_wav_pcm8(b))],
    )


def _map_payloads(media: DataFrame, schema: str, rows_of, *extra: str) -> DataFrame:
    """The one Arrow-batched pass every media operator here runs:
    ``rows_of(doc_id, payload bytes, *extra values)`` returns the
    output rows of one payload (several for the fan-out operators),
    and the rows of each batch become one pandas frame of ``schema``.
    The payload never leaves the executor; a NULL payload reads as
    empty bytes."""
    from pyspark.sql.types import StructType

    from ..shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)
    out = StructType.fromDDL(schema)
    names = out.fieldNames()

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, *rest in zip(
                *(pdf[c].tolist() for c in pdf.columns)
            ):
                rows.extend(rows_of(doc_id, bytes(payload or b""), *rest))
            yield pd.DataFrame(rows, columns=names)

    return media.select("doc_id", "media", *extra).mapInPandas(run, schema=out)


def luma_u8(img: np.ndarray) -> np.ndarray:
    """Integer Rec.601 luma: ``(77R + 150G + 29B) >> 8`` — exact
    integer math (77+150+29 = 256), no float rounding to drift."""
    arr = img.astype(np.int64)
    return (
        (77 * arr[:, :, 0] + 150 * arr[:, :, 1] + 29 * arr[:, :, 2]) >> 8
    ).astype(np.uint8)


def _nn_grid(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """2-D nearest-neighbor sample — the raster twin of the strided
    byte take: ``idx = min(trunc(k * (n/out)), n-1)`` per axis, the
    same float64 index math."""
    h, w = gray.shape[:2]
    ri = np.minimum(
        (np.arange(out_h, dtype=np.float64) * (h / float(out_h))).astype(np.int64),
        h - 1,
    )
    ci = np.minimum(
        (np.arange(out_w, dtype=np.float64) * (w / float(out_w))).astype(np.int64),
        w - 1,
    )
    return gray[ri][:, ci]


def _strided_take(b: bytes, n: int) -> np.ndarray:
    """The 1-D nearest-neighbor byte take behind the byte-mode resize
    and dHash grids: ``idx_k = min(trunc(k * (len/n)), len-1)`` with
    the multiply in float64, exactly as the SQL oracles replay it."""
    arr = np.frombuffer(b, dtype=np.uint8)
    idx = (np.arange(n, dtype=np.float64) * (len(b) / float(n))).astype(np.int64)
    return arr[np.minimum(idx, len(b) - 1)]


_FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, mean_byte double, max_byte long, "
    "min_byte long, entropy_proxy double"
)


def image_features(media: DataFrame) -> DataFrame:
    """Byte-level feature extraction over the binary column.

    ``mapInPandas`` over (doc_id, media): each Arrow batch's payloads
    are reduced in Python without ever materializing them as Spark
    rows driver-side.  ``entropy_proxy`` = distinct-byte ratio — a
    deterministic stand-in for a real perceptual feature.

    The per-payload reduction is numpy over a zero-copy
    ``np.frombuffer`` view (int64 sum, so mean is exact like the
    Python ``sum(b)/len(b)`` it replaces) — at media scale the inner
    loop is the UDF's whole cost, and per-byte CPython is ~100× the
    vectorized form.
    """

    def rows_of(doc_id, b):
        if not b:
            return [(doc_id, 0, 0.0, 0, 0, 0.0)]
        arr = np.frombuffer(b, dtype=np.uint8)
        return [
            (
                doc_id,
                len(b),
                int(arr.sum(dtype=np.int64)) / len(b),
                int(arr.max()),
                int(arr.min()),
                int(np.count_nonzero(np.bincount(arr, minlength=256))) / 256.0,
            )
        ]

    return _map_payloads(media, _FEATURES_SCHEMA, rows_of)


_FRAMES_SCHEMA = "doc_id long, frame_idx int, frame binary"


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video-style frame sampling: split each payload into ``n_frames``
    evenly-spaced byte slices, one output row per frame.

    The explode happens executor-side inside the UDF — the shape (one
    media row fans out to N frame rows) is exactly how real video frame
    extraction distributes.
    """
    return _map_payloads(
        media,
        _FRAMES_SCHEMA,
        lambda doc_id, b: [
            (doc_id, i, f) for i, f in enumerate(_frames(b, n_frames))
        ],
    )


def _frames(b: bytes, n_frames: int) -> list[bytes]:
    """``n_frames`` evenly-spaced byte slices of one payload (the tail
    past ``n_frames * step`` is dropped; short payloads yield empty
    tail frames) — shared by :func:`frame_sample` and
    :func:`video_sigs`."""
    step = max(1, len(b) // n_frames)
    return [b[i * step : (i + 1) * step] for i in range(n_frames)]


_RESIZE_SCHEMA = (
    "doc_id long, media binary, "
    "media_meta struct<n_bytes: long, width: long, height: long, format: string>"
)


def resize_image(
    media: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    decode: str = "bytes",
) -> DataFrame:
    """Image resize plumbing: same-shape output column + updated
    metadata, payload transformed executor-side.

    ``decode="bytes"`` (default, oracle-checkable): the "resample" is
    a deterministic strided byte take sized ``target_w * target_h``
    (so output payload size tracks the target resolution exactly, as a
    real resize's decoded buffer would) — real plumbing, fake decode.

    ``decode="raster"``: the payload is decoded through
    :func:`decode_image` (pure-bytes BMP/PPM, codec seam for the
    rest), nearest-neighbor resampled in 2-D, and re-encoded as a P6
    PPM — a REAL image in, a real image out, same schema and UDF
    shape.  This is the production path with a codec wired into the
    seam; BMP/PPM exercise it end to end with no codec at all.
    """

    def rows_of(doc_id, b, meta):
        fmt = (meta or {}).get("format", "png")
        if not b:
            resized = b""
        elif decode == "raster":
            out = _nn_grid(decode_image(b), target_h, target_w)
            resized = b"P6\n%d %d\n255\n" % (target_w, target_h) + out.tobytes()
            fmt = "ppm"
        else:
            resized = _strided_take(b, target_w * target_h).tobytes()
        meta = {
            "n_bytes": len(resized),
            "width": target_w,
            "height": target_h,
            "format": fmt,
        }
        return [(doc_id, resized, meta)]

    return _map_payloads(media, _RESIZE_SCHEMA, rows_of, "media_meta")


_DHASH_SCHEMA = "doc_id long, sig array<bigint>"

# dHash grid: 8 rows × 9 columns of resampled bytes → 8×8 horizontal
# gradient bits = one 64-bit perceptual hash, packed 32 bits per
# BIGINT word (two positive words — the bq_signature packing contract,
# so the similarity module's hamming()/sig_chunk_bands() machinery
# applies unchanged).
_DHASH_ROWS, _DHASH_COLS = 8, 9
_DHASH_PIXELS = _DHASH_ROWS * _DHASH_COLS  # 72
_DHASH_SHIFTS = np.arange(32, dtype=np.int64)
# Signature layouts (frames, packed 32-bit words per frame) for the
# near-dup kernel.
_DHASH_LAYOUT = (1, 2)
_AUDIO_LAYOUT = (1, 1)


def _video_layout(n_frames: int) -> tuple[int, int]:
    """The layout of :func:`video_sigs` vectors: one dHash per frame."""
    return (n_frames, _DHASH_LAYOUT[1])


def _dhash_words(b: bytes) -> list[int]:
    """The byte-mode dHash core shared by :func:`image_dhash` and the
    fused :func:`video_sigs` pass: strided 8×9 resample, horizontal
    gradient bits, two packed 32-bit words.  Empty bytes hash to
    ``[0, 0]``.  Exactly the arithmetic the SQL oracles replay — one
    implementation, two call sites, so the fused video pass cannot
    drift from the per-frame composition."""
    if not b:
        return [0, 0]
    return _gradient_words(
        _strided_take(b, _DHASH_PIXELS).reshape(_DHASH_ROWS, _DHASH_COLS)
    )


def _gradient_words(px: np.ndarray) -> list[int]:
    """The dHash tail over an 8×9 grid (byte take or decoded luma):
    bit ``r*8 + c`` = ``px[r][c] > px[r][c+1]``, packed into two
    32-bit words."""
    bits = (px[:, :-1] > px[:, 1:]).astype(np.int64).ravel()
    return [
        int((bits[:32] << _DHASH_SHIFTS).sum()),
        int((bits[32:] << _DHASH_SHIFTS).sum()),
    ]


def image_dhash(media: DataFrame, decode: str = "bytes") -> DataFrame:
    """Perceptual difference hash (dHash) over the binary media column.

    The classic recipe (resize to a (rows × cols+1) grayscale grid,
    hash bit = left pixel > right pixel) with the container's
    deterministic fake decode: the "grayscale grid" is the same
    strided nearest-neighbor byte take :func:`resize_image` uses —
    ``idx_k = min(trunc(k * (n/72.0)), n-1)`` with the multiply done in
    float64 on the precomputed ``n/72.0`` step, exactly as the code and
    the SQL oracle compute it (NOT the exact-rational ``floor(k·n/72)``,
    which differs for some ``n``: at ``n=8, k=9`` the exact floor is 1
    while the double math truncates to 0) — so the full pipeline —
    resample, gradient compare, bit packing — is a pure integer
    function of the payload and replays character-by-character in SQL
    (the :func:`audio_windows` oracle discipline).  Swap
    :func:`decode_image_stub` in and the SAME gradient/packing code
    runs over real luma — the seam is the decode, not the hash.

    Returns ``(doc_id, sig array<bigint>)`` — two packed 32-bit words;
    empty payloads hash to ``[0, 0]``.  ``mapInPandas`` + numpy like
    every media operator here: the payload never leaves the executor.

    ``decode="raster"`` swaps the fake decode for the real one: the
    payload decodes through :func:`decode_image` (pure-bytes BMP/PPM;
    codec seam for the rest), the grid is the integer Rec.601 luma
    2-D-sampled to 8×9, and the IDENTICAL gradient/packing tail runs —
    a true perceptual dHash on a real raster.  Rows-only by nature
    (the decode is Python); the default bytes mode stays the
    oracle-checked form.
    """

    def rows_of(doc_id, b):
        if decode == "raster" and b:
            grid = _nn_grid(luma_u8(decode_image(b)), _DHASH_ROWS, _DHASH_COLS)
            return [(doc_id, _gradient_words(grid))]
        return [(doc_id, _dhash_words(b))]

    return _map_payloads(media, _DHASH_SCHEMA, rows_of)


def _dhash_rep_pairs(media: DataFrame, max_hamming: int, chunk_bits: int):
    """Shared duplication-invariant core of the dHash pair/cluster
    products: exact-collapse identical SIGNATURES to their min-id
    representative (the verify depends on nothing but the signature,
    so sig-equal groups are exactly the Hamming-0 cliques), band the
    reps, verify candidates by XOR+popcount.  Returns
    ``(members(rep_id, doc_id), rep_pairs(ra, rb, hamming))`` — every
    join in here is linear in DISTINCT signatures, so consumers choose
    where (or whether) to pay the member expansion.

    The signature table is STAGED (localCheckpoint — 16 bytes/row)
    right after the hash: the rep/member split, both banding sides,
    and both verify joins all re-root on it, and without the boundary
    each branch re-ran the payload-hashing ``mapInPandas`` (9 copies
    in the pairs plan) — at media scale that is nine decode passes
    over the corpus instead of one."""
    from .checkpoints import tracked_local_checkpoint

    sig, _ = tracked_local_checkpoint(image_dhash(media))
    return _sig_rep_pairs(sig, _DHASH_LAYOUT, max_hamming, chunk_bits)


def _frame_hamming(a: Column, b: Column, layout: tuple[int, int]) -> Column:
    """The media near-dup distance between two signatures of ``layout
    = (n_frames, words)`` (``n_frames`` runs of ``words`` packed
    32-bit words): the MAX over aligned frames of the per-frame
    XOR-popcount, which for one frame is the plain Hamming.  Unrolled
    into plain column arithmetic — no higher-order function — so it
    compiles into the stage's generated code: over the 926k sf0.1
    video candidates at local[4] the verify took 0.13 s, against 2.1 s
    for ``similarity.hamming`` over frame slices."""
    n_frames, words = layout
    per_frame = [
        reduce(
            add,
            [
                F.bit_count(a[f * words + i].bitwiseXOR(b[f * words + i]))
                for i in range(words)
            ],
        ).cast("bigint")
        for f in range(n_frames)
    ]
    return F.greatest(*per_frame) if n_frames > 1 else per_frame[0]


def _frame0_bands(sig: DataFrame, layout: tuple[int, int], chunk_bits: int) -> DataFrame:
    """Pigeonhole ``(doc_id, band, chunk)`` rows over frame 0 only: the
    accept region needs frame 0 within the radius, so banding one
    frame loses no pair while paying 1/``n_frames`` of the volume."""
    from .similarity import sig_chunk_bands

    f0 = sig.select("doc_id", F.slice("sig", 1, layout[1]).alias("sig"))
    return sig_chunk_bands(f0, chunk_bits, id_col="doc_id")


def _sig_rep_pairs(
    sig: DataFrame, layout: tuple[int, int], max_hamming: int, chunk_bits: int
):
    """Signature-generic rep-collapse → pigeonhole band on frame 0 →
    frame-MAX XOR-popcount verify: the one near-dup kernel every media
    modality shares, in its signature ``layout`` (image dHash
    ``_DHASH_LAYOUT``, audio fingerprint ``_AUDIO_LAYOUT``, video
    frame-signature vectors :func:`_video_layout`).  ``sig`` must be a
    staged ``(doc_id, sig array<bigint>)`` frame — staging is the
    CALLER's job, right after its hash/decode pass, so every branch
    here re-roots on one decode of the corpus."""
    from pyspark.sql.window import Window

    g = sig.withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy("sig"))
    )
    members = g.select("rep_id", "doc_id")
    reps = g.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "sig")
    banded = _frame0_bands(reps, layout, chunk_bits)
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("ra"), F.col("y.doc_id").alias("rb"))
        .distinct()
    )
    rep_pairs = (
        cand.join(reps.select(F.col("doc_id").alias("ra"), F.col("sig").alias("sa")), "ra")
        .join(reps.select(F.col("doc_id").alias("rb"), F.col("sig").alias("sb")), "rb")
        .select(
            "ra",
            "rb",
            _frame_hamming(F.col("sa"), F.col("sb"), layout).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return members, rep_pairs


def dhash_pairs(
    media: DataFrame, max_hamming: int = 7, chunk_bits: int = 8
) -> DataFrame:
    """Perceptual near-duplicate image pairs: integer Hamming over
    :func:`image_dhash` signatures, gated by the SAME pigeonhole chunk
    banding the embedding BQ gate uses
    (:func:`..operators.similarity.sig_chunk_bands`) — the dedup
    product extended to the media column family.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and
    ``hamming <= max_hamming``.  With the defaults (64-bit hash, 8
    chunks of 8 bits, ``max_hamming = 7``) capture is EXACT, not
    probabilistic: a pair within Hamming 7 differs in at most 7 of 8
    chunks, so it agrees on at least one and always becomes a
    candidate — unlike the cosine gate, the pigeonhole radius here
    covers the whole accept region, and the verify itself is integer,
    so the entire product hash-checks in ANSI SQL.

    Scale shape: identical SIGNATURES exact-collapse to their min-id
    representative before banding (the verify depends on nothing but
    the signature, so sig-equal groups are exactly the Hamming-0
    cliques — a collapse even stronger than byte-identical payloads);
    banded candidates come from an equality self-join on
    ``(band, chunk)``; each candidate pays one 2-word XOR+popcount.
    Everything before the final membership expansion is linear in
    DISTINCT signatures.
    """
    members, rep_pairs = _dhash_rep_pairs(media, max_hamming, chunk_bits)
    return _expand_member_pairs(members, rep_pairs)


def _expand_member_pairs(members: DataFrame, rep_pairs: DataFrame) -> DataFrame:
    """Expand rep-level verified pairs back to member-level ``(id_a,
    id_b, hamming)``: cross-group pairs inherit their reps' distance,
    within-group pairs are the Hamming-0 cliques the exact collapse
    established for free."""
    ma = members.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("id_a"))
    mb = members.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("id_b"))
    cross_groups = (
        rep_pairs.join(ma, "ra")
        .join(mb, "rb")
        .select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
            "hamming",
        )
    )
    within = (
        members.alias("p")
        .join(
            members.alias("q"),
            (F.col("p.rep_id") == F.col("q.rep_id"))
            & (F.col("p.doc_id") < F.col("q.doc_id")),
        )
        .select(
            F.col("p.doc_id").alias("id_a"),
            F.col("q.doc_id").alias("id_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    return cross_groups.unionByName(within)


def video_near_dup(
    media: DataFrame,
    n_frames: int = 4,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """Near-duplicate VIDEO pairs via frame-level perceptual hashing —
    the video member of the dedup product family: :func:`video_sigs`
    hashes ``n_frames`` evenly-spaced frames of each payload with the
    shared dHash kernel into one frame-major signature vector, and two
    videos are near-dups when EVERY frame-aligned pair is within
    ``max_hamming`` (the standard frame-fingerprint recipe: a
    re-encode perturbs pixels a little in every frame; a different
    video disagrees wildly in at least one).

    Returns ``(id_a, id_b, max_frame_hamming)`` with ``id_a < id_b``
    and ``max_frame_hamming <= max_hamming``.

    Capture is EXACT: the accept region requires frame 0 within
    ``max_hamming``, and the pigeonhole chunk banding on frame 0's
    signature (8 chunks × 8 bits over 64 bits) covers Hamming ≤ 7
    completely — so banding on one frame loses nothing, while paying
    1/``n_frames`` of the banding volume.

    Scale shape: the signature vectors (``16 * n_frames`` bytes per
    video) are staged once (localCheckpoint) and every later stage
    re-roots on them — payload bytes are read exactly once, in the
    one hashing pass.  From there it is the image/audio kernel
    (:func:`_sig_rep_pairs`, :func:`_expand_member_pairs`) with
    ``n_frames`` frames: identical vectors exact-collapse to a min-id
    representative before banding, candidates come from an equality
    self-join on (band, chunk), and each candidate verifies with
    ``n_frames`` XOR+popcounts.  Linear in distinct signature vectors
    everywhere before the final member expansion.
    """
    from .checkpoints import tracked_local_checkpoint

    sig, _ = tracked_local_checkpoint(video_sigs(media, n_frames=n_frames))
    members, rep_pairs = _sig_rep_pairs(
        sig, _video_layout(n_frames), max_hamming, chunk_bits
    )
    return _expand_member_pairs(members, rep_pairs).withColumnRenamed(
        "hamming", "max_frame_hamming"
    )


def dhash_clusters(media: DataFrame, max_hamming: int = 7, chunk_bits: int = 8) -> DataFrame:
    """The media-dedup DECISION product: union :func:`dhash_pairs`
    into clusters (min-label connected components, the shared
    :func:`..operators.dedup.connected_components`) and keep the
    minimum id per cluster — one row per document:
    ``(doc_id, keep, dup_of)`` with ``dup_of`` the kept
    representative (NULL when kept).  The same pairs→components→
    keep-one tail every text dedup family here ends in, applied to
    the perceptual-hash pair graph; with the default exact-capture
    gate (8 chunks, radius 7) the whole decision replays in SQL.

    Duplication-safety: components run at the REPRESENTATIVE level
    (the :func:`_dhash_rep_pairs` graph — sig-equal copies never enter
    an edge) and members inherit their rep's label.  The labels are
    identical to clustering the member-expanded pair graph — every
    member sits in its rep's component and rep = min doc of its sig
    group, so the component minimum is the same doc either way — but
    the edge list stays linear in DISTINCT signatures instead of
    O(d²) per duplicated group (the first version ground to a halt on
    the ×100 replica exactly there; the probe is the contract)."""
    from .dedup import connected_components

    members, rep_pairs = _dhash_rep_pairs(media, max_hamming, chunk_bits)
    labels = connected_components(
        rep_pairs.select("ra", "rb"), left="ra", right="rb"
    )
    return (
        members.join(labels, members["rep_id"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("rep_id")).alias("_c"),
        )
        .select(
            "doc_id",
            (F.col("_c") == F.col("doc_id")).alias("keep"),
            F.when(F.col("_c") != F.col("doc_id"), F.col("_c")).alias("dup_of"),
        )
    )


def incremental_dhash_dedup(
    stored_sigs: DataFrame,
    batch_media: DataFrame,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """Incremental perceptual dedup — the production cadence for a
    growing media corpus: the corpus is REPRESENTED by its stored
    2-word signature table (``(doc_id, sig)``, 16 bytes/row — the
    artifact :func:`image_dhash` materializes once), and each arriving
    batch is decided against it without rescanning corpus payloads:

    1. batch payloads hash executor-side (one mapInPandas pass);
    2. batch signatures chunk-band against the STORED signature bands
       (:func:`..operators.similarity.sig_chunk_bands` on both sides —
       the :func:`incremental_minhash_dedup` shape: the corpus never
       self-joins on the batch path);
    3. banded candidates verify by integer XOR+popcount ≤
       ``max_hamming`` (exact capture at the default radius-7/8 gate);
    4. each batch doc reports its minimum matched corpus doc.

    Returns one row per batch doc: ``(doc_id, dup_of, is_new)`` with
    ``dup_of`` = the smallest Hamming-matching corpus id (NULL ⇒
    ``is_new`` — the doc's signature should be appended to the stored
    table).  Batch-internal twins both match the same corpus doc when
    one exists; fully-novel batch groups all report ``is_new`` (intra-
    batch collapse is the follow-up :func:`dhash_clusters` run over
    the appended table — same contract as the text incremental form).

    Scale shape: everything is |batch|-proportional except the stored
    band table, which is an equality-join side keyed on (band, chunk)
    — 8 integer rows per corpus doc, the posting-list layout you
    persist alongside the signatures at 100 TB."""
    from .checkpoints import tracked_local_checkpoint

    # stage the hashed batch (16 bytes/row): the decision consumes it
    # from three branches (bands, verify, final left join) and the
    # payload hash must run once, not per branch — the same boundary
    # the streaming twin's persist() provides.
    batch_sigs, _ = tracked_local_checkpoint(image_dhash(batch_media))
    return dhash_match_stored(
        stored_sigs,
        batch_sigs,
        max_hamming=max_hamming,
        chunk_bits=chunk_bits,
    )


def dhash_match_stored(
    stored_sigs: DataFrame,
    batch_sigs: DataFrame,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """The signature-level core of :func:`incremental_dhash_dedup` —
    both sides already hashed — factored out so the streaming ingest
    (:func:`..streaming.ingest.dhash_ingest_stream`) can hash each
    micro-batch ONCE and reuse the signatures for the decision and the
    state commit.

    Duplication-safety on the STORED side: matching is a pure function
    of the signature and ``dup_of`` takes the minimum matching id, so
    identical stored signatures collapse to their min-id row before
    banding — candidates per batch doc are bounded by DISTINCT stored
    signatures, not by how many copies the corpus accumulated (at a
    ×100-duplicated corpus the uncollapsed band join grew its
    candidate set 100×; min-per-group is the same answer)."""
    return _match_stored(
        stored_sigs, batch_sigs, _DHASH_LAYOUT, max_hamming, chunk_bits
    )


def _match_stored(
    stored_sigs: DataFrame,
    batch_sigs: DataFrame,
    layout: tuple[int, int],
    max_hamming: int,
    chunk_bits: int,
) -> DataFrame:
    """The stored-state matcher behind :func:`dhash_match_stored`,
    :func:`video_match_stored` and the streaming signature handler:
    stored signatures min-collapse per distinct signature, both sides
    band on frame 0, candidates verify by the frame-MAX Hamming
    (:func:`_frame_hamming`), and each batch doc reports its minimum
    matching stored id or ``is_new``."""
    stored_min = stored_sigs.groupBy("sig").agg(
        F.min("doc_id").alias("doc_id")
    )
    bband = _frame0_bands(batch_sigs, layout, chunk_bits).select(
        F.col("doc_id").alias("_bid"), "band", "chunk"
    )
    sband = _frame0_bands(stored_min, layout, chunk_bits).select(
        F.col("doc_id").alias("_sid"), "band", "chunk"
    )
    cand = bband.join(sband, ["band", "chunk"]).select("_bid", "_sid").distinct()
    verified = (
        cand.join(
            batch_sigs.select(
                F.col("doc_id").alias("_bid"), F.col("sig").alias("_bs")
            ),
            "_bid",
        )
        .join(
            stored_min.select(
                F.col("doc_id").alias("_sid"), F.col("sig").alias("_ss")
            ),
            "_sid",
        )
        .filter(
            _frame_hamming(F.col("_bs"), F.col("_ss"), layout) <= max_hamming
        )
        .groupBy("_bid")
        .agg(F.min("_sid").alias("dup_of"))
    )
    return (
        batch_sigs.select("doc_id")
        .join(verified, batch_sigs["doc_id"] == verified["_bid"], "left")
        .select(
            "doc_id",
            "dup_of",
            F.col("dup_of").isNull().alias("is_new"),
        )
    )


_AUDIO_SCHEMA = "doc_id long, window_idx int, n_samples int, energy long, peak int"


def audio_windows(media: DataFrame, window_bytes: int = 256) -> DataFrame:
    """Audio-style fixed-window framing + per-window energy.

    Treats the payload as a PCM sample stream: non-overlapping
    ``window_bytes`` windows, one output row per window with integer
    energy (sum of squared samples) and peak — all integer math, so the
    result is bit-identical on any engine/retry.  The fan-out happens
    executor-side (one media row → n_windows rows), exactly how real
    audio feature extraction distributes; swap the byte view for a
    decoded waveform via the :func:`decode_image_stub`-style seam when
    codecs are available.
    """

    def rows_of(doc_id, b):
        if not b:
            return [(doc_id, 0, 0, 0, 0)]
        # pad to a full window grid and reduce per row: zero padding is
        # identity for the integer energy sum, and peak over bytes>=0 is
        # unaffected by trailing zeros
        n_win = (len(b) + window_bytes - 1) // window_bytes
        padded = np.zeros(n_win * window_bytes, dtype=np.int64)
        padded[: len(b)] = np.frombuffer(b, dtype=np.uint8)
        grid = padded.reshape(n_win, window_bytes)
        energy = (grid * grid).sum(axis=1)
        peak = grid.max(axis=1)
        n_samples = np.full(n_win, window_bytes, dtype=np.int64)
        n_samples[-1] = len(b) - (n_win - 1) * window_bytes
        return [
            (doc_id, i, int(n_samples[i]), int(energy[i]), int(peak[i]))
            for i in range(n_win)
        ]

    return _map_payloads(media, _AUDIO_SCHEMA, rows_of)


_AUDIO_FP_SCHEMA = "doc_id long, fp long"


def audio_fingerprint(
    media: DataFrame,
    window_bytes: int = 16,
    n_bits: int = 32,
    container: str = "raw",
) -> DataFrame:
    """Robust audio fingerprint over the binary payload — the
    Haitsma–Kalker (2002) construction reduced to the byte stand-in:
    frame the stream into ``n_bits + 1`` non-overlapping
    ``window_bytes`` windows (zero-padded past end-of-stream — zero
    padding is identity for the integer energy sum, the
    :func:`audio_windows` convention), take per-window integer energy,
    and emit one sign bit per consecutive-window energy DELTA
    (``bit_i = energy[i+1] > energy[i]``) packed little-endian into
    one 32-bit word.  Energy-delta signs survive volume scaling and
    mild noise — which is why the construction is the classic robust
    audio hash — and here every step is integer, so the fingerprint is
    bit-identical in any engine and the whole product hash-checks.

    Swap the byte view for decoded PCM via the
    :func:`decode_image_stub`-style seam when codecs are available;
    the framing, energy, and delta-sign packing are codec-agnostic.

    BYTE SEMANTICS CONTRACT: this operator (and :func:`audio_near_dup`
    / :func:`audio_windows` on top of it) frames and gates on the RAW
    BYTES of the ``media`` column — ``F.length`` on binary counts
    bytes, the numpy window view is uint8.  The registry's DuckDB
    oracles express the same computation in CHARACTER terms
    (``length(text)``, ``ascii(substr(...))``), which is equivalent
    only while the fixture text is pure ASCII (1 char = 1 byte = its
    code point).  The fixtures are ASCII by construction; a non-ASCII
    payload would diverge from those oracles in the ``min_bytes``
    gate, the window framing, and the energies — the OPERATOR's byte
    semantics are the contract, the character-based oracle is the
    fixture-only convenience.

    ``container="wav"`` parses each payload as a RIFF/WAV PCM
    container first (:func:`decode_audio`, pure bytes — channel 0's
    sample stream feeds the IDENTICAL framing/energy/packing tail),
    so the fingerprint of a WAV-wrapped stream equals the fingerprint
    of the raw stream for 8-bit mono PCM — the container adds framing,
    not semantics, which is what lets the wav-path registry query
    share the raw oracle verbatim.

    Scale shape: one Arrow-batched pass over the payloads (numpy
    reshape + reduce per batch), no shuffle — fingerprint parallelism
    is row parallelism.
    """
    if container not in ("raw", "wav"):
        raise ValueError(f"unknown container: {container!r}")
    if not 0 < n_bits < 63:
        # bits shift little-endian by 0..n_bits-1 into ONE int64 word;
        # a shift at 62 is the last that keeps the packed value a
        # non-negative BIGINT (shift 63 lands in the sign bit, numpy
        # shifts past 63 wrap) — same caller-contract guard as
        # sig_chunk_bands' chunk_bits ValueError.
        raise ValueError(
            f"audio_fingerprint: n_bits must be in 1..62 to pack into "
            f"one non-negative int64 word, got {n_bits}"
        )
    n_win = n_bits + 1
    total = n_win * window_bytes

    def rows_of(doc_id, b):
        if container == "wav" and b:
            # channel 0's raw sample bytes (1 B/sample for 8-bit, LE
            # pairs for 16-bit) feed the unchanged byte-level tail
            samples, _ = decode_audio(b)
            b = np.ascontiguousarray(samples[:, 0]).tobytes()
        b = b[:total]
        padded = np.zeros(total, dtype=np.int64)
        padded[: len(b)] = np.frombuffer(b, dtype=np.uint8)
        e = (padded.reshape(n_win, window_bytes) ** 2).sum(axis=1)
        bits = (e[1:] > e[:-1]).astype(np.int64)
        return [(doc_id, int((bits << np.arange(n_bits, dtype=np.int64)).sum()))]

    return _map_payloads(media, _AUDIO_FP_SCHEMA, rows_of)


def audio_near_dup(
    media: DataFrame,
    window_bytes: int = 16,
    n_bits: int = 32,
    max_hamming: int = 3,
    chunk_bits: int = 8,
    min_bytes: int | None = None,
) -> DataFrame:
    """Near-duplicate AUDIO pairs: integer Hamming over
    :func:`audio_fingerprint` words, same rep-collapse + pigeonhole
    banding + XOR-popcount verify as the image
    (:func:`dhash_pairs`) and video (:func:`video_near_dup`) products
    — the third modality on the one shared near-dup kernel.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and
    ``hamming <= max_hamming``.  With the defaults (32-bit word, 4
    chunks of 8 bits, ``max_hamming = 3``) capture is EXACT: a pair
    within Hamming 3 differs in at most 3 of 4 chunks, so it agrees on
    at least one and always candidates — the pigeonhole radius covers
    the whole accept region.

    Byte semantics: the ``min_bytes`` gate is ``F.length`` over BINARY
    (bytes, not characters) and the fingerprint frames raw bytes — see
    the BYTE SEMANTICS CONTRACT note on :func:`audio_fingerprint`; the
    registry's character-based oracles match only on ASCII fixtures.

    ``min_bytes`` (default: half the fingerprint span, ``(n_bits + 1)
    * window_bytes // 2``) drops payloads too short to fingerprint:
    a stream much shorter than the span leaves most windows
    zero-padded, the tail delta bits all read 0, and every short clip
    lands within Hamming 3 of every other — one giant spurious clique
    (measured: ~5k pairs on 550 docs ungated, ~planted-twins-only
    gated).  Real audio matchers gate on minimum duration for exactly
    this reason; the filter runs BEFORE the Arrow decode pass, so
    short clips never pay fingerprinting either.

    Scale shape: fingerprints are STAGED (localCheckpoint — 16
    bytes/row) so the rep/member split, banding, and both verify
    joins re-root on the one decode pass (the
    :func:`_dhash_rep_pairs` discipline); identical fingerprints
    exact-collapse to min-id reps before banding
    (:func:`_sig_rep_pairs`); everything before the final membership
    expansion (:func:`_expand_member_pairs`) is linear in DISTINCT
    fingerprints."""
    from .checkpoints import tracked_local_checkpoint

    sig, _ = tracked_local_checkpoint(
        _audio_sigs(media, window_bytes, n_bits, min_bytes)
    )
    members, rep_pairs = _sig_rep_pairs(sig, _AUDIO_LAYOUT, max_hamming, chunk_bits)
    return _expand_member_pairs(members, rep_pairs)


def _audio_sigs(
    media: DataFrame, window_bytes: int, n_bits: int, min_bytes: int | None
) -> DataFrame:
    """``(doc_id, sig)`` one-word fingerprint signatures of the payloads
    that pass the duration gate (``min_bytes``, default half the
    fingerprint span) — shared by :func:`audio_near_dup` and the audio
    stream ingest."""
    if min_bytes is None:
        min_bytes = (n_bits + 1) * window_bytes // 2
    fp = audio_fingerprint(
        media.where(F.length("media") >= min_bytes),
        window_bytes=window_bytes,
        n_bits=n_bits,
    )
    return fp.select("doc_id", F.array(F.col("fp")).alias("sig"))


def video_sigs(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Per-video frame-signature VECTOR: each payload splits into
    ``n_frames`` evenly-spaced frames (the :func:`frame_sample`
    slicing), every frame runs the shared dHash byte core, and the
    per-frame 2-word signatures concatenate into ONE frame-major
    ``array<bigint>`` of ``2 * n_frames`` words: ``[f0w0, f0w1, f1w0,
    f1w1, ...]``.

    This flattening is what lets the video modality ride the
    signature-generic kernel and streaming handler: the vector is a
    ``(doc_id, sig array<bigint>)`` row exactly like an image or audio
    signature, and the distance is the frame-aligned MAX of the
    per-frame Hamming (:func:`_frame_hamming` over
    :func:`_video_layout`), which for one frame is the image/audio
    Hamming.

    Scale shape: ONE fused Arrow pass — the frame slicing and the
    per-frame hash run inside a single ``mapInPandas`` over the
    payload (the byte core is :func:`_dhash_words`, the same function
    :func:`image_dhash` runs, so the fused form cannot drift from the
    per-frame composition — pinned by test).  The composed
    ``frame_sample → image_dhash → groupBy`` spelling costs a second
    Python→JVM→Python Arrow round trip carrying every frame's BYTES
    as rows plus a per-video collect_list shuffle; fusing removes
    both (measured in docs/SCALE.md's r13 notes)."""
    if not 1 <= n_frames <= 8:
        raise ValueError(f"n_frames must be in 1..8, got {n_frames}")
    return _map_payloads(
        media,
        _DHASH_SCHEMA,
        lambda doc_id, b: [
            (doc_id, [w for f in _frames(b, n_frames) for w in _dhash_words(f)])
        ],
    )


def video_match_stored(
    stored_sigs: DataFrame,
    batch_sigs: DataFrame,
    n_frames: int = 4,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """The video twin of :func:`dhash_match_stored`: decide a batch of
    frame-signature vectors (:func:`video_sigs`) against the
    accumulated admitted state.  Two videos match when EVERY
    frame-aligned pair is within ``max_hamming`` — i.e. the MAX
    per-frame Hamming ≤ radius (the :func:`video_near_dup` predicate),
    NOT the whole-vector sum.

    Capture is EXACT for the same reason as :func:`video_near_dup`:
    the accept region requires frame 0 within ``max_hamming``, and
    pigeonhole banding on frame 0's 2 words (16 chunks × ``chunk_bits``
    bits ≥ radius + 1 chunks) covers that completely — so banding
    never changes a decision and the K-batch state evolution unrolls
    to plain SQL (the replay twin's hash gate).

    Duplication-safety mirrors the image handler: identical stored
    VECTORS collapse to their min-id row before banding, and
    ``dup_of`` takes the minimum matching id, so candidates per batch
    video are bounded by DISTINCT stored vectors."""
    return _match_stored(
        stored_sigs, batch_sigs, _video_layout(n_frames), max_hamming, chunk_bits
    )
