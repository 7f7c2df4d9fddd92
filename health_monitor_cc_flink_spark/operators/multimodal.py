"""Multimodal column handling: opaque binary payloads + typed metadata.

Convention: a modality column is BinaryType payload + a sibling struct
of metadata (size, hash, declared format).  Decode / feature-extraction
runs as Arrow-batched `mapInPandas`.  PNG decode is REAL (numpy +
stdlib zlib: `encode_png` / `decode_png`, all five scanline filters,
CRC-verified — no media library needed), as are APNG animation
frame-sampling (`encode_apng` / `decode_apng_frames` /
`apng_frame_sample`), 16-bit PCM WAV sample decode
(`wav_pcm_decode_features`, stdlib `wave`), baseline JPEG
(`operators/jpeg.py`: pure-numpy T.81 markers + Huffman + IDCT,
grayscale single-scan subset; `synth_jpeg_payload` /
`jpeg_decode_features` below), and MJPEG VIDEO in a RIFF/AVI
container (`encode_avi_mjpeg` / `decode_avi_mjpeg_frames` /
`avi_mjpeg_frame_sample` — container parse + per-frame JPEG decode);
WAV/PNG header parsing is pure codegen column math.  WebP lossless
(VP8L) is a REAL from-scratch decoder (`operators/webp.py`); only
lossy/table-gated codecs (VP8 lossy, H.264, JPEG arithmetic) stay
STUBBED behind `decode_image` (their spec tables aren't reproducible
from memory); `fake_feature_extract` is the deterministic stand-in
that keeps that Arrow batch path tested with the same signature and
batch flow.

Scale notes: payloads ride *with* the rows (no driver collect); batch
size is governed by spark.sql.execution.arrow.maxRecordsPerBatch, and a
repartition on a high-cardinality key upstream spreads decode cost
evenly — decode is CPU-bound map work, the friendliest shape Spark has.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8

MM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Testdata adapter: materialize an opaque binary payload column from
    text (UTF-8 bytes) — stands in for image/audio bytes."""
    return df.withColumn("payload", F.col(text_col).cast("binary"))


def binary_metadata(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Typed metadata over an opaque binary column — pure column math,
    no decode: (id, size_bytes, content_hash, fake_format)."""
    return df.select(
        F.col(id_col),
        F.octet_length(F.col(payload_col)).cast("bigint").alias("size_bytes"),
        F.md5(F.col(payload_col)).alias("content_hash"),
        F.element_at(
            F.array(F.lit("jpeg"), F.lit("png"), F.lit("webp")),
            (F.octet_length(F.col(payload_col)) % 3 + 1).cast("int"),
        ).alias("fake_format"),
    )


def decode_image(payload: bytes):
    """General image decode.  PNGs decode natively via `decode_png`
    (numpy + zlib), baseline AND progressive JPEGs — grayscale and
    YCbCr color at 4:4:4/4:2:0 — via `jpeg.decode_jpeg`, and lossless
    WebP (VP8L) via `webp.decode_webp` (all pure numpy, no library
    needed); remaining formats (lossy WebP, exotic samplings, ...)
    require PIL, which is not installed in this environment — that
    branch stays STUBBED and the surrounding plumbing is exercised with
    `fake_feature_extract`."""
    if bytes(payload[:4]) == b"RIFF" and bytes(payload[8:12]) == b"WEBP":
        import importlib.util

        from .webp import decode_webp

        try:
            return decode_webp(payload)  # (h, w, 4) RGBA
        except NotImplementedError:
            pass  # lossy VP8 / VP8X: fall to PIL when available
        except ValueError:
            if importlib.util.find_spec("PIL") is None:
                raise
    elif bytes(payload[:8]) == _PNG_SIG:
        try:
            return decode_png(payload)
        except NotImplementedError:
            # PNG subtype outside the native decoder's 8-bit gray/RGB
            # non-interlaced subset (palette, 16-bit, interlaced): fall
            # through to PIL when available rather than narrowing the
            # 'general image decode' contract to the native subset
            pass
    elif bytes(payload[:4]) in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(payload)  # gray 2-D or RGB 3-D, none/LZW/PackBits
    elif bytes(payload[:2]) == b"BM":
        from .bmp import decode_bmp

        return decode_bmp(payload)  # (h, w, 3) RGB; 32-bit BGRA -> (h, w, 4)
    elif bytes(payload[:4]) == b"\x00\x00\x01\x00":
        from .bmp import decode_ico

        # favicon: return the largest member (what browsers pick)
        members = decode_ico(payload)
        return max(members, key=lambda m: m[1].shape[0] * m[1].shape[1])[1]
    elif bytes(payload[:3]) == b"\xff\xd8\xff":
        import importlib.util

        from .jpeg import decode_jpeg

        try:
            return decode_jpeg(payload)  # gray 2-D or YCbCr->RGB 3-D
        except NotImplementedError:
            pass  # progressive / exotic-sampling subtype: fall to PIL
        except ValueError:
            # a stream our strict parser rejects: let libjpeg try to
            # salvage it when PIL exists, but WITHOUT PIL re-raise the
            # corrupt-stream error — re-reporting corruption as a
            # missing-library NotImplementedError misdirects callers
            if importlib.util.find_spec("PIL") is None:
                raise
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "image decode beyond native PNG/baseline-JPEG requires PIL"
        ) from exc


def fake_feature_extract(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Deterministic stand-in for decode + embed over mapInPandas.

    Features = FEATURE_DIM doubles derived from the md5 digest bytes —
    stable across runs/partitionings, so tests can assert values while
    the Arrow batch path (the part that matters for scale) is real.
    """
    src = df.select(F.col(id_col).cast("long").alias("doc_id"), F.col(payload_col))

    def extract(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = pdf[payload_col]
            digests = [hashlib.md5(bytes(p)).digest() for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "size_bytes": [len(bytes(p)) for p in payloads],
                    "content_hash": [d.hex() for d in digests],
                    "features": [
                        [b / 255.0 for b in d[:FEATURE_DIM]] for d in digests
                    ],
                }
            )

    return src.mapInPandas(extract, schema=MM_FEATURE_SCHEMA)


MM_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset_ms", T.LongType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


def fake_resize(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
                target: tuple[int, int] = (224, 224)) -> DataFrame:
    """Image-resize stand-in: real decode+resize needs PIL (see
    decode_image); the deterministic fake derives source dims from the
    payload hash and emits the resize plan (src/dst dims, scale factor)
    through the same Arrow batch path a real resize would use."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"), F.col(payload_col))
    th, tw = target

    def resize(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            digests = [hashlib.md5(bytes(p)).digest() for p in pdf[payload_col]]
            src_w = [256 + d[0] for d in digests]
            src_h = [256 + d[1] for d in digests]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_width": src_w,
                    "src_height": src_h,
                    "dst_width": tw,
                    "dst_height": th,
                    "scale": [min(tw / w, th / h) for w, h in zip(src_w, src_h)],
                }
            )

    schema = (
        "doc_id long, src_width int, src_height int, "
        "dst_width int, dst_height int, scale double"
    )
    return src.mapInPandas(resize, schema=schema)


def fake_frame_sample(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
                      n_frames: int = 4) -> DataFrame:
    """Video frame-sampling stand-in for formats needing a codec lib:
    emits ``n_frames`` rows per input row (the 1→N batch shape of real
    frame extraction), with deterministic offsets/hashes derived from
    the payload digest.  For REAL frame-sampling paths over public
    formats, see :func:`apng_frame_sample` (animated PNG) and
    :func:`avi_mjpeg_frame_sample` (MJPEG video in a RIFF/AVI
    container) — neither needs a media library."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"), F.col(payload_col))

    def sample(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_offset_ms": [], "frame_hash": []}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                # hex-string hash chain (not raw digest bytes) so an SQL
                # oracle can re-derive every value: md5(hex || '_' || i)
                hx = hashlib.md5(bytes(p)).hexdigest()
                duration_ms = 1000 + int(hx[:4], 16)  # fake duration
                for i in range(n_frames):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_offset_ms"].append(duration_ms * i // n_frames)
                    out["frame_hash"].append(
                        hashlib.md5(f"{hx}_{i}".encode()).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return src.mapInPandas(sample, schema=MM_FRAME_SCHEMA)


# -----------------------------------------------------------------------------
# Real container-format work without leaving codegen: WAV (RIFF) synthesis
# and header parsing as pure column math on BinaryType.  No Python UDF, no
# media library — the bytes are genuine WAV (the stdlib `wave` module opens
# them; pinned in tests/test_multimodal.py), and every header field is
# recovered with hex/substr/conv expressions that whole-stage-codegen
# compiles.  This is the multimodal scale pattern: metadata extraction and
# validation of billions of binary payloads SHOULD NOT pay an Arrow
# round-trip when the format's framing is fixed-offset.
# -----------------------------------------------------------------------------


def _hexle(col, nbytes: int):
    """Little-endian hex of an integer column, ``nbytes`` wide —
    byte-swapped big-endian hex (shares _hexbe's range guard)."""
    h = _hexbe(col, nbytes)
    return F.concat(*[F.substring(h, 2 * i + 1, 2) for i in range(nbytes - 1, -1, -1)])


def synth_wav_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach a ``wav`` BinaryType column: a VALID 16-bit PCM WAV file
    (44-byte canonical RIFF header + silence) whose parameters derive
    deterministically from the row — sample_rate in {8,16,24,32,40} kHz,
    1–2 channels, 1000+len samples."""
    sr = (F.lit(8000) * (F.col(id_col) % 5 + 1)).cast("bigint")
    ch = (F.col(id_col) % 2 + 1).cast("bigint")
    n_samples = (F.col(len_col) + 1000).cast("bigint")
    data_size = n_samples * ch * 2
    byte_rate = sr * ch * 2
    hex_str = F.concat(
        F.lit("52494646"),              # 'RIFF'
        _hexle(data_size + 36, 4),      # riff chunk size
        F.lit("57415645"),              # 'WAVE'
        F.lit("666D7420"),              # 'fmt '
        _hexle(F.lit(16), 4),           # fmt subchunk size
        _hexle(F.lit(1), 2),            # PCM
        _hexle(ch, 2),
        _hexle(sr, 4),
        _hexle(byte_rate, 4),
        _hexle(ch * 2, 2),              # block align
        _hexle(F.lit(16), 2),           # bits per sample
        F.lit("64617461"),              # 'data'
        _hexle(data_size, 4),
        F.repeat(F.lit("00"), data_size.cast("int")),  # silence PCM ("00" = 1 byte)
    )
    return df.withColumn("wav", F.unhex(hex_str))


def parse_wav_header(df: DataFrame, payload_col: str = "wav") -> DataFrame:
    """Parse the fixed-offset WAV header fields out of a BinaryType
    column with hex/substr/conv only (codegen; zero Python).  Returns
    the input plus is_riff_wave / channels / sample_rate / bit_depth /
    data_size / n_samples / duration_us columns."""
    h = F.hex(F.col(payload_col))

    def le(byte_off: int, nbytes: int):
        parts = [
            F.substring(h, (byte_off + i) * 2 + 1, 2)
            for i in range(nbytes - 1, -1, -1)
        ]
        return F.conv(F.concat(*parts), 16, 10).cast("bigint")

    ch, sr, bits = le(22, 2), le(24, 4), le(34, 2)
    data_size = le(40, 4)
    byte_rate = le(28, 4)
    return (
        df.withColumn(
            "is_riff_wave",
            (F.substring(h, 1, 8) == "52494646")
            & (F.substring(h, 17, 8) == "57415645"),
        )
        .withColumn("channels", ch)
        .withColumn("sample_rate", sr)
        .withColumn("bit_depth", bits)
        .withColumn("data_size", data_size)
        # nullif on the divisors: a corrupt/non-WAV payload with zero bytes
        # at the channels/bit-depth/byte-rate offsets must yield NULL derived
        # fields on its own row, not a DIVIDE_BY_ZERO that kills the stage
        # (Spark 4 runs ANSI mode by default)
        .withColumn(
            "n_samples",
            F.expr("data_size DIV nullif(channels * (bit_depth DIV 8), 0)"),
        )
        .withColumn("byte_rate", byte_rate)
        .withColumn(
            "duration_us", F.expr("(data_size * 1000000) DIV nullif(byte_rate, 0)")
        )
    )


# -----------------------------------------------------------------------------
# REAL image decode without a media library: PNG is zlib (stdlib) + five
# fixed byte-predictors, so 8-bit gray/RGB non-interlaced PNGs can be
# encoded and decoded with numpy alone.  This replaces the PIL stub for
# the PNG path: `synth_png_payload` writes genuine, spec-conformant PNG
# files (signature, IHDR/IDAT/IEND chunks, real CRC-32s, per-row filters
# cycling through all five types so decoders are actually exercised) and
# `decode_png` reverses them byte-exactly.  Baseline JPEG is real too
# (operators/jpeg.py); WebP stays stubbed — that genuinely needs a
# codec library.
#
# Scale shape: encode/decode are pure map work over Arrow batches
# (mapInPandas); payloads ride with rows, cost is CPU-bound and
# embarrassingly parallel, and the feature reduction happens inside the
# same pass so full pixel buffers never hit a shuffle.
# -----------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _samples_to_rows(samples, depth: int) -> bytes:
    """Sample array (ph, pw, channels) -> packed scanline bytes
    (ph, stride): big-endian 16-bit split, byte passthrough, or
    sub-byte big-endian bit pack with row padding."""
    import numpy as np

    ph, pw, channels = samples.shape
    if depth == 8:
        return samples.astype(np.uint8).reshape(ph, pw * channels)
    if depth == 16:
        s = samples.astype(np.uint16).reshape(ph, pw * channels)
        out = np.empty((ph, pw * channels * 2), dtype=np.uint8)
        out[:, 0::2] = s >> 8
        out[:, 1::2] = s & 0xFF
        return out
    bits = (
        (samples.astype(np.uint8).reshape(ph, pw, 1)
         >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(ph, pw * depth)
    return np.packbits(bits, axis=1)  # pads each row to a byte boundary


def encode_png(arr, filter_mode: str = "cycle", *, palette=None,
               depth: int | None = None, interlace: bool = False,
               trans=None) -> bytes:
    """Encode an image array as a real PNG (RFC 2083 layout) — the full
    static matrix the decoder covers:

    * uint8 (h, w) gray / (h, w, 2) gray+alpha / (h, w, 3) RGB /
      (h, w, 4) RGBA  (color types 0/4/2/6, depth 8);
    * uint16 arrays of the same shapes -> depth 16;
    * ``palette=(n,3) uint8`` with (h, w) index array -> color type 3 at
      ``depth`` 1/2/4/8 (default: smallest depth that fits the indices);
    * gray at sub-byte ``depth`` 1/2/4 (values must be < 2**depth);
    * ``interlace=True`` -> Adam7 (each pass filtered independently).

    ``filter_mode`` "cycle" applies filter ``y % 5`` per scanline —
    deliberately exercising None/Sub/Up/Average/Paeth so a round-trip
    proves the whole decoder; "none" writes filter 0 only.
    """
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr)
    if palette is not None:
        pal = np.ascontiguousarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
            raise ValueError("palette must be (n<=256, 3) uint8")
        if a.ndim != 2:
            raise ValueError("palette encoding needs a (h,w) index array")
        color_type = 3
        if depth is None:
            depth = next(d for d in (1, 2, 4, 8) if pal.shape[0] <= 1 << d)
        samples = a.astype(np.uint16)[:, :, None]
    else:
        pal = None
        if depth is None:
            depth = 16 if a.dtype == np.uint16 else 8
        if a.ndim == 2:
            samples = a.astype(np.uint16)[:, :, None]
        elif a.ndim == 3 and a.shape[2] in (2, 3, 4):
            samples = a.astype(np.uint16)
        else:
            raise ValueError(
                "encode_png supports (h,w)[,2|3|4-channel] arrays"
            )
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[samples.shape[2]]
    if depth not in _PNG_LEGAL[color_type]:
        raise ValueError(f"illegal depth {depth} for color type {color_type}")
    if int(samples.max(initial=0)) >= 1 << depth:
        raise ValueError(f"sample value out of range for depth {depth}")
    if pal is not None and int(samples.max(initial=0)) >= pal.shape[0]:
        raise ValueError("palette index out of range")

    h, w, channels = samples.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    fbpp = max(1, channels * depth // 8)
    raw = bytearray()
    for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)]):
        sub = samples[y0::dy, x0::dx, :]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        rows = _samples_to_rows(sub, depth)
        raw.extend(_filter_scanlines(rows, fbpp, filter_mode))
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if pal is not None:
        out += _png_chunk(b"PLTE", pal.tobytes())
        if trans is not None:
            tr = np.ascontiguousarray(trans, dtype=np.uint8)
            if tr.ndim != 1 or tr.size > pal.shape[0]:
                raise ValueError("trans must be <= palette length")
            out += _png_chunk(b"tRNS", tr.tobytes())
    elif trans is not None:
        raise ValueError("trans requires a palette")
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _filter_scanlines(raw, bpp: int, filter_mode: str = "cycle") -> bytes:
    """Apply PNG scanline filters to a (h, stride) uint8 array and return
    the filtered byte stream (1 filter byte + stride bytes per row) —
    uncompressed.  "cycle" uses filter ``y % 5``; "none" writes 0s.
    Filters predict from RAW neighbor bytes, so everything vectorizes."""
    import numpy as np

    rows = np.asarray(raw, dtype=np.int16)  # room for mod-256 deltas
    h = rows.shape[0]
    prior = np.zeros(rows.shape[1], dtype=np.int16)
    left = lambda r: np.concatenate([np.zeros(bpp, np.int16), r[:-bpp]])  # noqa: E731
    out = bytearray()
    for y in range(h):
        r = rows[y]
        f = (y % 5) if filter_mode == "cycle" else 0
        if f == 0:
            filt = r
        elif f == 1:
            filt = r - left(r)
        elif f == 2:
            filt = r - prior
        elif f == 3:
            filt = r - (left(r) + prior) // 2
        else:  # Paeth — vectorizable too: predictors use RAW neighbors
            la, up, ul = left(r), prior, left(prior)
            p = la + up - ul
            pa, pb, pc = np.abs(p - la), np.abs(p - up), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), la, np.where(pb <= pc, up, ul))
            filt = r - pred
        out.append(f)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prior = r
    return bytes(out)


def _iter_png_chunks(payload: bytes, verify_crc: bool = True):
    """Yield ``(chunk_type, data)`` for every chunk of a PNG byte
    stream.  The one chunk walk shared by the still-image and animation
    decoders: validates the signature, bounds every chunk against the
    payload length (truncation raises ValueError, not struct.error),
    verifies per-chunk CRCs when ``verify_crc``, and stops at IEND."""
    import struct
    import zlib

    if bytes(payload[:8]) != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, total = 8, len(payload)
    while pos < total:
        if pos + 8 > total:
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = bytes(payload[pos + 4 : pos + 8])
        if pos + 12 + length > total:
            raise ValueError(f"truncated {ctype!r} chunk")
        data = bytes(payload[pos + 8 : pos + 8 + length])
        if verify_crc:
            (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
            if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                raise ValueError(f"bad CRC in {ctype!r} chunk")
        yield ctype, data
        if ctype == b"IEND":
            return
        pos += 12 + length


#: Adam7 interlace passes: (x_start, y_start, x_step, y_step) — the
#: fixed 7-pass pixel permutation from the PNG spec (RFC 2083 §2.6).
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]
#: Legal bit depths per color type (PNG spec §11.2.2).
_PNG_LEGAL = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
              4: (8, 16), 6: (8, 16)}
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _parse_ihdr(data: bytes):
    """Parse an IHDR payload to (w, h, depth, color_type, interlace),
    validating against the spec's legal depth/color-type matrix."""
    import struct

    if len(data) != 13:
        raise ValueError("IHDR length must be 13")
    w, h, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", data
    )
    if comp or filt:
        raise ValueError("unknown compression/filter method")
    if color_type not in _PNG_LEGAL or depth not in _PNG_LEGAL[color_type]:
        raise ValueError(f"illegal depth {depth} for color type {color_type}")
    if interlace not in (0, 1):
        raise ValueError(f"unknown interlace method {interlace}")
    if w == 0 or h == 0:
        # a zero dimension is spec-invalid; letting it through would pass
        # decode (0 == 0 bytes) and crash the FEATURIZER (div-by-zero in
        # area-resize, min() on empty) outside the corrupt-payload guard
        raise ValueError(f"invalid IHDR dimensions {w}x{h}")
    return w, h, depth, color_type, interlace


def _rows_to_samples(recon, pw: int, channels: int, depth: int):
    """Unfiltered byte rows (ph, stride) -> sample array
    (ph, pw, channels): big-endian 16-bit join, byte passthrough, or
    sub-byte big-endian bit unpack (sub-byte only occurs single-channel
    per the legal matrix)."""
    import numpy as np

    ph = recon.shape[0]
    if depth == 8:
        return recon.reshape(ph, pw, channels)
    if depth == 16:
        pairs = recon.reshape(ph, pw * channels, 2).astype(np.uint16)
        return ((pairs[..., 0] << 8) | pairs[..., 1]).reshape(ph, pw, channels)
    bits = np.unpackbits(recon, axis=1)[:, : pw * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2)
    return vals.astype(np.uint8).reshape(ph, pw, 1)


def decode_png(payload: bytes, verify_crc: bool = True):
    """Decode ANY legal static PNG to an ndarray — numpy + stdlib zlib
    only, no PIL.  Covers the full spec matrix: gray 1/2/4/8/16-bit,
    RGB 8/16, palette 1/2/4/8 (PLTE lookup -> RGB), gray+alpha and RGBA
    8/16, Adam7 interlaced or not, all five scanline filters, multiple
    IDAT chunks, per-chunk CRC verification.  Returns uint8 for depths
    <= 8 (sub-byte gray scaled to 0..255; palette resolved to (h,w,3))
    and uint16 for 16-bit; shapes (h,w), (h,w,2), (h,w,3), (h,w,4) by
    color type."""
    import zlib

    import numpy as np

    w = plte = trns = None
    idat = bytearray()
    for ctype, data in _iter_png_chunks(payload, verify_crc):
        if ctype == b"IHDR":
            w, h, depth, color_type, interlace = _parse_ihdr(data)
        elif ctype == b"PLTE":
            if len(data) == 0 or len(data) % 3 or len(data) > 3 * 256:
                raise ValueError("invalid PLTE length")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR chunk")
    channels = _PNG_CHANNELS[color_type]
    flat = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    dtype = np.uint16 if depth == 16 else np.uint8
    out = np.zeros((h, w, channels), dtype=dtype)
    pos = 0
    for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)]):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * channels * depth + 7) // 8
        fbpp = max(1, channels * depth // 8)
        need = ph * (stride + 1)
        if pos + need > flat.size:
            raise ValueError("image data length mismatch")
        recon = _unfilter(flat[pos : pos + need].reshape(ph, stride + 1),
                          stride, fbpp)
        pos += need
        out[y0::dy, x0::dx, :] = _rows_to_samples(recon, pw, channels, depth)
    if pos != flat.size:
        raise ValueError("image data length mismatch")
    if color_type == 3:
        if plte is None:
            raise ValueError("palette image without PLTE chunk")
        idx = out[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        if trns is not None:
            # palette transparency: alpha per entry, 255 for the tail
            if trns.size > plte.shape[0]:
                raise ValueError("tRNS longer than the palette")
            alpha = np.full(plte.shape[0], 255, dtype=np.uint8)
            alpha[: trns.size] = trns
            return np.concatenate(
                [plte[idx], alpha[idx][:, :, None]], axis=2
            )
        return plte[idx]
    if color_type == 0 and depth < 8:
        # replicate sub-byte gray into full 8-bit range (v * 255 / max)
        out = (out.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )
    return out[:, :, 0] if channels == 1 else out


def _inflate_unfilter(compressed: bytes, w: int, h: int, bpp: int):
    """zlib-inflate one 8-bit PNG/APNG image data stream and reverse the
    per-scanline filters; returns a (h, w*bpp) uint8 array.  Kept as the
    animation decoder's entry; stills go through the pass loop above."""
    import zlib

    import numpy as np

    stride = w * bpp
    flat = np.frombuffer(zlib.decompress(compressed), dtype=np.uint8)
    if flat.size != h * (stride + 1):
        raise ValueError("image data length mismatch")
    return _unfilter(flat.reshape(h, stride + 1), stride, bpp)


def _unfilter(lines, stride: int, bpp: int):
    """Reverse the five PNG scanline filters over (h, stride+1) rows of
    [filter_byte, data...]; ``bpp`` is the filter byte step (>= 1 even
    for sub-byte depths, per spec).  Returns (h, stride) uint8."""
    import numpy as np

    h = lines.shape[0]
    recon = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = int(lines[y, 0])
        cur = lines[y, 1:].astype(np.int16)
        prior = recon[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        if f == 0:
            row = cur
        elif f == 1:  # Sub: per-channel cumulative sum mod 256
            # stride is always a multiple of bpp: 8/16-bit rows are
            # pw*bpp bytes; sub-byte rows have bpp == 1
            row = np.cumsum(cur.reshape(-1, bpp), axis=0).reshape(-1)
        elif f == 2:
            row = cur + prior
        elif f in (3, 4):  # Average/Paeth need reconstructed left: scan
            # plain-int list scan — numpy scalar indexing in a tight
            # loop is ~10x slower than Python ints
            curl, priorl = cur.tolist(), prior.tolist()
            rowl = [0] * stride
            if f == 3:
                for i in range(stride):
                    a = rowl[i - bpp] if i >= bpp else 0
                    rowl[i] = (curl[i] + ((a + priorl[i]) >> 1)) & 255
            else:
                for i in range(stride):
                    a = rowl[i - bpp] if i >= bpp else 0
                    b = priorl[i]
                    c = priorl[i - bpp] if i >= bpp else 0
                    rowl[i] = (curl[i] + _paeth(a, b, c)) & 255
            row = np.asarray(rowl, dtype=np.int16)
        else:
            raise ValueError(f"unknown filter type {f}")
        recon[y] = (row % 256).astype(np.uint8)
    return recon


def synth_png_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach a ``png`` column of COMPLETE, valid PNG files (not just
    headers): per row, a w×h 8-bit grayscale gradient image with
    pixel(y, x) = x + y, w = 16·(id%8+1), h = 16·(len%8+1) — dims ≤ 128
    so x+y ≤ 252 never wraps, making every downstream statistic
    closed-form for the SQL oracle.  Encoded via mapInPandas with
    per-row filter cycling (all five PNG filter types appear in every
    image taller than 4 rows)."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 8 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 8 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            pngs = []
            for w, h in zip(pdf["w"], pdf["h"]):
                y, x = np.mgrid[0 : int(h), 0 : int(w)]
                pngs.append(encode_png((x + y).astype(np.uint8)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "png": pngs})

    return src.mapInPandas(gen, schema="doc_id long, png binary")


def _area_resize(plane, t: int):
    """Exact ``t``×``t`` area resize of a 2-D float plane for ANY dims:
    rows/cols are split into ``t`` nearly-equal contiguous blocks
    (``np.add.reduceat`` on integer boundaries) and each block is
    averaged.  When dims are multiples of ``t`` the blocks are equal and
    this is bit-identical to the ``reshape(t, bh, t, bw).mean(axis=(1,3))``
    fast path the hash-gated oracle was derived from; dims smaller than
    ``t`` are nearest-neighbor upsampled first so no block is empty."""
    import numpy as np

    h, w = plane.shape
    if h < t:
        plane = np.repeat(plane, -(-t // h), axis=0)
        h = plane.shape[0]
    if w < t:
        plane = np.repeat(plane, -(-t // w), axis=1)
        w = plane.shape[1]
    ys = (np.arange(t) * h) // t
    xs = (np.arange(t) * w) // t
    cells = np.add.reduceat(np.add.reduceat(plane, ys, axis=0), xs, axis=1)
    ycnt = np.diff(np.append(ys, h)).reshape(-1, 1)
    xcnt = np.diff(np.append(xs, w)).reshape(1, -1)
    return cells / (ycnt * xcnt)


def png_decode_features(df: DataFrame, payload_col: str = "png",
                        thumb: int = 8, id_col: str = "doc_id") -> DataFrame:
    """REAL decode → resize → featurize over Arrow batches: decode each
    PNG (CRC-verified), area-resize to ``thumb``×``thumb`` (exact block
    mean for any dims, see :func:`_area_resize`), and reduce to
    per-image statistics.  Grayscale and RGB both decode: stats cover
    every sample; the thumbnail averages RGB channels per pixel first.
    Pixel sums are exact integers, so a single bit flipped anywhere in
    decode or unfiltering fails the hash gate; full pixel buffers never
    leave the map task."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "crc_ok": [],
                "px_sum": [], "px_mean": [], "px_min": [], "px_max": [],
                "thumb_mean": [], "thumb_corner": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                # one corrupt payload among billions must FLAG its row
                # (crc_ok=false, NULL features), never abort the whole
                # ingest job from inside the Arrow batch
                try:
                    img = decode_png(bytes(p), verify_crc=True)
                except Exception:  # bad CRC / truncation / zlib errors
                    out["doc_id"].append(doc_id)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["crc_ok"].append(False)
                    for c in ("px_sum", "px_mean", "px_min", "px_max",
                              "thumb_mean", "thumb_corner"):
                        out[c].append(None)
                    continue
                h, w = img.shape[0], img.shape[1]
                plane = (
                    img.astype(np.float64)
                    if img.ndim == 2
                    else img.astype(np.float64).mean(axis=2)
                )
                tb = _area_resize(plane, thumb)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["crc_ok"].append(True)
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_mean"].append(float(img.mean()))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
                out["thumb_mean"].append(float(tb.mean()))
                out["thumb_corner"].append(float(tb[0, 0]))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, width long, height long, crc_ok boolean, "
            "px_sum long, px_mean double, px_min long, px_max long, "
            "thumb_mean double, thumb_corner double"
        ),
    )


#: The six PNG subtype cases synth_png_matrix_payload cycles through —
#: the subsets real web scrapes hit beyond 8-bit gray/RGB linear.
_PNG_MATRIX_CASES = [
    "palette8", "palette4_adam7", "gray16",
    "rgb8_adam7", "gray4", "rgba8_adam7",
]


def synth_png_matrix_payload(df: DataFrame, id_col: str = "doc_id",
                             len_col: str = "n_chars") -> DataFrame:
    """Attach a ``png`` column cycling through the EXTENDED PNG matrix
    (doc_id % 6): 8-bit palette, 4-bit palette + Adam7, 16-bit gray,
    8-bit RGB + Adam7, 4-bit gray, and RGBA + Adam7 — the subsets web
    scrapes actually contain beyond plain 8-bit gray/RGB.  Pixel
    patterns are integer-exact functions of (x, y) (see the query
    oracle), dims w = 8*(id%6+2), h = 8*(len%6+2) <= 56."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 6 + 2)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 6 + 2)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            pngs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                y, x = np.mgrid[0:h, 0:w]
                case = d % 6
                if case == 0:  # 8-bit palette, linear
                    pal = np.stack(
                        [4 * np.arange(16), 8 * np.arange(16),
                         12 * np.arange(16)], axis=1
                    ).astype(np.uint8)
                    png = encode_png(((x + y) % 16).astype(np.uint8),
                                     palette=pal, depth=8)
                elif case == 1:  # 4-bit palette, Adam7
                    j = np.arange(16)
                    pal = np.stack([17 * j, 255 - 17 * j, 8 * j],
                                   axis=1).astype(np.uint8)
                    png = encode_png(((x + y) % 16).astype(np.uint8),
                                     palette=pal, depth=4, interlace=True)
                elif case == 2:  # 16-bit gray, linear
                    png = encode_png(
                        (257 * ((x + 3 * y) % 256)).astype(np.uint16))
                elif case == 3:  # 8-bit RGB, Adam7
                    rgb = np.stack([(x + 2 * y) % 256, (2 * x + y) % 256,
                                    (x * y) % 256], axis=2).astype(np.uint8)
                    png = encode_png(rgb, interlace=True)
                elif case == 4:  # 4-bit gray, linear
                    png = encode_png(((x + y) % 16).astype(np.uint8),
                                     depth=4)
                else:  # 8-bit RGBA, Adam7
                    rgba = np.stack(
                        [(x + 2 * y) % 256, (2 * x + y) % 256,
                         (x * y) % 256, (x + y) % 256], axis=2
                    ).astype(np.uint8)
                    png = encode_png(rgba, interlace=True)
                pngs.append(png)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "png": pngs})

    return src.mapInPandas(gen, schema="doc_id long, png binary")


def png_matrix_decode_features(df: DataFrame, payload_col: str = "png",
                               id_col: str = "doc_id") -> DataFrame:
    """Decode the extended-matrix PNGs and reduce to exact-integer pixel
    statistics over the DECODED samples (palette resolved to RGB,
    sub-byte gray rescaled to 0..255, 16-bit kept at full range) plus
    the header's bit depth — so the hash gate pins palette lookup,
    Adam7 deinterlace, sub-byte unpack, and 16-bit byte order all at
    once.  Corrupt payloads flag the row (ok=false), never abort."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "ok": [], "width": [], "height": [],
                "n_channels": [], "bit_depth": [],
                "px_sum": [], "px_min": [], "px_max": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                p = bytes(p)
                try:
                    depth = None
                    for ctype, data in _iter_png_chunks(p):
                        if ctype == b"IHDR":
                            depth = _parse_ihdr(data)[2]
                            break
                    if depth is None:
                        raise ValueError("no IHDR")
                    img = decode_png(p, verify_crc=True)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in ("width", "height", "n_channels", "bit_depth",
                              "px_sum", "px_min", "px_max"):
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["n_channels"].append(1 if img.ndim == 2 else img.shape[2])
                out["bit_depth"].append(depth)
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, ok boolean, width long, height long, "
            "n_channels long, bit_depth long, px_sum long, "
            "px_min long, px_max long"
        ),
    )


# -----------------------------------------------------------------------------
# Animated PNG (APNG) — the public animation extension of PNG (acTL /
# fcTL / fdAT chunks; Mozilla spec, now part of the W3C PNG 3 draft).
# Same zlib+unfilter machinery as stills, so REAL video-style frame
# sampling needs no media library either: full-frame animations,
# dispose=NONE / blend=SOURCE, 8-bit gray/RGB.
# -----------------------------------------------------------------------------


def encode_apng(frames, delay_num: int = 1, delay_den: int = 10,
                filter_mode: str = "cycle") -> bytes:
    """Encode a list of equally-shaped uint8 arrays as a real APNG:
    acTL declares the frame count, frame 0 rides in IDAT behind an fcTL,
    frames 1..n−1 ride in fdAT chunks with spec-correct sequence
    numbering.  Conformant viewers play it; `decode_apng_frames`
    reverses it byte-exactly."""
    import struct
    import zlib

    import numpy as np

    if not frames:
        raise ValueError("encode_apng needs at least one frame")
    a0 = np.ascontiguousarray(frames[0], dtype=np.uint8)
    if a0.ndim == 2:
        h, w = a0.shape
        color_type, bpp = 0, 1
    elif a0.ndim == 3 and a0.shape[2] == 3:
        h, w = a0.shape[:2]
        color_type, bpp = 2, 3
    else:
        raise ValueError("encode_apng supports (h,w) gray or (h,w,3) RGB uint8")

    out = bytearray(_PNG_SIG)
    out += _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
    out += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))  # loop forever
    seq = 0
    for idx, fr in enumerate(frames):
        a = np.ascontiguousarray(fr, dtype=np.uint8)
        if a.shape != a0.shape:
            raise ValueError("all frames must share one shape")
        fctl = struct.pack(
            ">IIIIIHHBB", seq, w, h, 0, 0, delay_num, delay_den, 0, 0
        )  # full-frame, dispose NONE, blend SOURCE
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        data = zlib.compress(
            _filter_scanlines(a.reshape(h, w * bpp), bpp, filter_mode), 6
        )
        if idx == 0:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def decode_apng_frames(payload: bytes, verify_crc: bool = True):
    """Decode an APNG produced by any full-frame encoder back to the
    list of uint8 frame arrays: walks acTL/fcTL/IDAT/fdAT via the
    shared :func:`_iter_png_chunks`, checks sequence-number ordering,
    inflates + unfilters each frame with the shared still-image path.
    A default image whose IDAT precedes the first fcTL is, per the
    APNG spec, not part of the animation and is skipped.  Raises on
    sub-frame regions or blend modes this decoder doesn't model
    (x/y offsets, dispose/blend ≠ 0)."""
    import struct

    w = h = color_type = None
    declared = None
    frames, cur = [], None  # cur = bytearray of current frame's compressed data
    expected_seq = 0
    saw_idat = False  # IDAT before any fcTL = default image, not a frame
    for ctype, data in _iter_png_chunks(payload, verify_crc):
        if ctype == b"IHDR":
            w, h, depth, color_type, interlace = _parse_ihdr(data)
            if depth != 8 or color_type not in (0, 2) or interlace:
                raise NotImplementedError(
                    "APNG frames: 8-bit gray/RGB non-interlaced only"
                )
        elif ctype == b"acTL":
            declared, _ = struct.unpack(">II", data)
        elif ctype == b"fcTL":
            if w is None:
                # must be ValueError (corrupt input), not a NameError from
                # the unbound-h comparison below
                raise ValueError("fcTL before IHDR")
            seq, fw, fh, x0, y0, _, _, dispose, blend = struct.unpack(
                ">IIIIIHHBB", data
            )
            if seq != expected_seq:
                raise ValueError(f"fcTL sequence {seq}, expected {expected_seq}")
            expected_seq += 1
            if (fw, fh, x0, y0, dispose, blend) != (w, h, 0, 0, 0, 0):
                raise NotImplementedError("full-frame dispose=NONE/blend=SOURCE only")
            if cur is not None:
                frames.append(bytes(cur))
            cur = bytearray()
        elif ctype == b"IDAT":
            saw_idat = True
            # IDAT before the first fcTL is the spec-valid "default image
            # not part of the animation" layout (acTL, IDAT, fcTL, fdAT…):
            # skip its data — the animation frames all ride in fdAT.
            if cur is not None:
                cur.extend(data)
        elif ctype == b"fdAT":
            if cur is None:
                raise ValueError("fdAT before first fcTL")
            if len(data) < 4:
                raise ValueError("fdAT chunk shorter than its sequence number")
            (seq,) = struct.unpack(">I", data[:4])
            if seq != expected_seq:
                raise ValueError(f"fdAT sequence {seq}, expected {expected_seq}")
            expected_seq += 1
            cur.extend(data[4:])
        elif ctype == b"IEND":
            break
    if w is None or cur is None or not saw_idat:
        raise ValueError("missing IHDR, IDAT, or frames")
    frames.append(bytes(cur))
    if declared is not None and declared != len(frames):
        raise ValueError(f"acTL declares {declared} frames, found {len(frames)}")
    bpp = 1 if color_type == 0 else 3
    out = [_inflate_unfilter(c, w, h, bpp) for c in frames]
    return out if color_type == 0 else [a.reshape(h, w, 3) for a in out]


def synth_apng_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach an ``apng`` column of real animated PNGs: 2 + id%3 frames
    of the w×h gradient with per-frame brightness step (+2f), dims
    16·(id%4+1) ≤ 64 so pixel values never wrap — closed-form per-frame
    statistics for the oracle."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
        (F.col(id_col) % 3 + 2).cast("int").alias("n_frames"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for w, h, nf in zip(pdf["w"], pdf["h"], pdf["n_frames"]):
                y, x = np.mgrid[0 : int(h), 0 : int(w)]
                base = x + y
                payloads.append(
                    encode_apng([(base + 2 * f).astype(np.uint8) for f in range(int(nf))])
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "apng": payloads})

    return src.mapInPandas(gen, schema="doc_id long, apng binary")


def apng_frame_sample(df: DataFrame, payload_col: str = "apng",
                      every: int = 2, id_col: str = "doc_id") -> DataFrame:
    """REAL frame sampling over animated payloads: decode every frame
    of each APNG (CRC + sequence-number checked), keep every
    ``every``-th, and emit one row per sampled frame with exact-integer
    pixel statistics — the 1→N batch shape of real video frame
    extraction, previously only available as the `fake_frame_sample`
    stand-in.

    Corrupt payloads (bad CRC, broken sequence numbers, truncation)
    yield ZERO frames for their document instead of aborting the job —
    in the 1→N shape there is no single row to flag, so pair with a
    validator (``png_header_parse`` / ``magic_byte_sniffer``) to count
    undecodable payloads."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def sample(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "n_frames": [],
                "width": [], "height": [], "px_sum": [], "px_max": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    frames = decode_apng_frames(bytes(p))
                except Exception:  # corrupt payload: skip, never abort
                    continue
                for idx in range(0, len(frames), every):
                    fr = frames[idx]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_frames"].append(len(frames))
                    out["height"].append(fr.shape[0])
                    out["width"].append(fr.shape[1])
                    out["px_sum"].append(int(fr.sum(dtype=np.int64)))
                    out["px_max"].append(int(fr.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        sample,
        schema=(
            "doc_id long, frame_idx long, n_frames long, width long, "
            "height long, px_sum long, px_max long"
        ),
    )


def synth_wav_tone_payload(df: DataFrame, id_col: str = "doc_id",
                           len_col: str = "n_chars") -> DataFrame:
    """Attach a ``wav`` column of REAL 16-bit PCM WAV files carrying an
    audible square-wave tone (not silence): amplitude A = 500 + id%1000,
    half-period H = 25·(id%4+1) samples, n = 1000 + len samples, mono,
    sample_rate = 8000·(id%5+1).  Square waves make every decoded
    statistic an exact integer in closed form — sum of squares is n·A²,
    zero crossings are (n−1)//H — so the decode path is hash-gateable.
    Written via mapInPandas with the stdlib ``wave`` module (genuine
    container framing, not hand-rolled bytes)."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(500) + F.col(id_col) % 1000).cast("int").alias("amp"),
        (F.lit(25) * (F.col(id_col) % 4 + 1)).cast("int").alias("half"),
        (F.col(len_col) + 1000).cast("int").alias("n"),
        (F.lit(8000) * (F.col(id_col) % 5 + 1)).cast("int").alias("sr"),
    )

    def gen(batches: Iterator) -> Iterator:
        import io
        import wave as wave_mod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            wavs = []
            for amp, half, n, sr in zip(pdf["amp"], pdf["half"], pdf["n"], pdf["sr"]):
                t = np.arange(int(n))
                pcm = np.where((t // int(half)) % 2 == 0, int(amp), -int(amp)).astype(
                    "<i2"
                )
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(int(sr))
                    w.writeframes(pcm.tobytes())
                wavs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "wav": wavs})

    return src.mapInPandas(gen, schema="doc_id long, wav binary")


def wav_pcm_decode_features(df: DataFrame, payload_col: str = "wav",
                            id_col: str = "doc_id") -> DataFrame:
    """REAL audio decode over Arrow batches: open each payload with the
    stdlib ``wave`` reader (validates RIFF framing), pull the int16 PCM
    samples through numpy, and reduce to exact-integer signal features —
    sample count, sum of squared samples (energy), zero-crossing count,
    min/max amplitude.  Integer outputs mean one wrong sample anywhere
    fails the hash gate; PCM buffers never leave the map task.

    Corrupt / non-RIFF / non-16-bit-PCM payloads emit their row with all
    features NULL instead of aborting the job (the PNG path's
    flag-dont-abort contract): sample width is VALIDATED, since an 8- or
    24-bit file would otherwise be silently misparsed as int16."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))
    _FEATS = ("channels", "sample_rate", "n_samples", "sumsq",
              "zero_crossings", "amp_min", "amp_max")

    def feats(batches: Iterator) -> Iterator:
        import io
        import wave as wave_mod

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "channels": [], "sample_rate": [], "n_samples": [],
                "sumsq": [], "zero_crossings": [], "amp_min": [], "amp_max": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    with wave_mod.open(io.BytesIO(bytes(p)), "rb") as w:
                        ch, sw, sr, n = (
                            w.getnchannels(), w.getsampwidth(), w.getframerate(),
                            w.getnframes(),
                        )
                        if sw != 2 or ch < 1 or n < 1:
                            raise ValueError(f"unsupported WAV: sw={sw} ch={ch} n={n}")
                        pcm = np.frombuffer(w.readframes(n), dtype="<i2").astype(np.int64)
                        if pcm.size != n * ch:
                            raise ValueError("truncated PCM data chunk")
                except Exception:
                    out["doc_id"].append(doc_id)
                    for c in _FEATS:
                        out[c].append(None)
                    continue
                # DEINTERLEAVE before the crossing count: frames are stored
                # L R L R ..., and sign-comparing adjacent raw samples on a
                # stereo file counts an L/R flip at every frame boundary
                # (constant L=+a, R=-a would report ~n crossings for a
                # per-channel-silent signal).  Crossings are per channel,
                # summed; sumsq/min/max legitimately cover all samples.
                mat = pcm.reshape(-1, ch) if ch > 0 else pcm.reshape(-1, 1)
                out["doc_id"].append(doc_id)
                out["channels"].append(ch)
                out["sample_rate"].append(sr)
                out["n_samples"].append(n)
                out["sumsq"].append(int((pcm * pcm).sum()))
                out["zero_crossings"].append(
                    int((np.signbit(mat[1:, :]) != np.signbit(mat[:-1, :])).sum())
                )
                out["amp_min"].append(int(pcm.min()))
                out["amp_max"].append(int(pcm.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, channels long, sample_rate long, n_samples long, "
            "sumsq long, zero_crossings long, amp_min long, amp_max long"
        ),
    )


def _hexbe(col, nbytes: int):
    """Big-endian hex of an integer column, ``nbytes`` wide.  Values
    outside [0, 256^nbytes) raise at runtime — lpad would otherwise
    TRUNCATE an over-long hex string to its LEADING digits, silently
    writing a corrupt binary field (e.g. a >=4 GiB data_size in a RIFF
    header)."""
    hexed = F.lpad(F.conv(col.cast("string"), 10, 16), 2 * nbytes, "0")
    return F.when((col >= 0) & (col < F.lit(256 ** nbytes)), hexed).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"value out of range for a {nbytes}-byte field: "),
                col.cast("string"),
            )
        )
    )


def synth_png_header(df: DataFrame, id_col: str = "doc_id",
                     len_col: str = "n_chars") -> DataFrame:
    """Attach a ``png`` BinaryType column: the 8-byte PNG signature plus
    a VALID IHDR chunk — including its real CRC-32, computed with
    Spark's codegen ``crc32`` over the chunk type+data bytes (zlib
    verifies it; pinned in tests).  Dimensions/color type derive from
    the row."""
    width = (F.lit(16) * (F.col(id_col) % 40 + 1)).cast("bigint")
    height = (F.lit(16) * (F.col(len_col) % 40 + 1)).cast("bigint")
    color_type = F.element_at(
        F.array(F.lit(0), F.lit(2), F.lit(6)), (F.col(id_col) % 3 + 1).cast("int")
    ).cast("bigint")
    body_hex = F.concat(
        F.lit("49484452"),          # 'IHDR'
        _hexbe(width, 4),
        _hexbe(height, 4),
        F.lit("08"),                # bit depth 8
        _hexbe(color_type, 1),
        F.lit("000000"),            # compression / filter / interlace
    )
    crc = F.crc32(F.unhex(body_hex))
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),  # PNG signature
        F.lit("0000000D"),          # IHDR length 13
        body_hex,
        _hexbe(crc, 4),
    )
    return df.withColumn("png", F.unhex(png_hex))


def parse_png_header(df: DataFrame, payload_col: str = "png") -> DataFrame:
    """Parse width/height/bit depth/color type out of a PNG IHDR with
    hex/substr/conv column math, AND verify the chunk CRC by
    recomputing crc32 over the type+data bytes — integrity checking of
    binary payloads without leaving codegen."""
    h = F.hex(F.col(payload_col))

    def be(byte_off: int, nbytes: int):
        return F.conv(F.substring(h, byte_off * 2 + 1, 2 * nbytes), 16, 10).cast(
            "bigint"
        )

    ct = be(25, 1)
    return (
        df.withColumn("is_png", F.substring(h, 1, 16) == "89504E470D0A1A0A")
        .withColumn("width", be(16, 4))
        .withColumn("height", be(20, 4))
        .withColumn("bit_depth", be(24, 1))
        .withColumn("color_type", ct)
        .withColumn(
            "n_channels",
            F.when(ct == 0, 1).when(ct == 2, 3).when(ct == 6, 4).cast("bigint"),
        )
        .withColumn(
            "crc_ok",
            F.crc32(F.unhex(F.substring(h, 25, 34))) == be(29, 4),
        )
    )


# -----------------------------------------------------------------------------
# Baseline JPEG — real decode via operators/jpeg.py (pure numpy, T.81).
# The gate trick mirrors PNG: images built from FLAT 8x8 blocks with
# EVEN pixel values make the lossy DCT path exactly lossless (DC =
# 8*(v-128) divides the Annex K DC quantizer 16; all AC vanish), so
# every decoded-pixel statistic is closed-form for the SQL oracle while
# the bitstream still exercises real markers, Huffman coding, zigzag,
# dequantization and IDCT.
# -----------------------------------------------------------------------------

_JPEG_SIG = b"\xff\xd8\xff"


def synth_jpeg_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column of COMPLETE baseline JPEG files: per
    row, a w×h grayscale image of flat 8×8 blocks with block value
    v(by, bx) = 2·((doc_id + 3·by + 5·bx) mod 128); w = 16·(id%8+1),
    h = 16·(len%8+1).  Even block values round-trip pixel-exact (see
    module banner), so px stats and the per-block distinct count are
    closed-form from (doc_id, n_chars)."""
    from .jpeg import encode_jpeg_gray

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 8 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 8 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            jpegs = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                by, bx = np.mgrid[0 : int(h) // 8, 0 : int(w) // 8]
                v = 2 * ((int(doc_id) + 3 * by + 5 * bx) % 128)
                img = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
                jpegs.append(encode_jpeg_gray(img.astype(np.uint8)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def synth_jpeg12_payload(df: DataFrame, id_col: str = "doc_id",
                         len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column of 12-BIT EXTENDED-SEQUENTIAL (SOF1)
    grayscale JPEGs: flat 8x8 blocks v(by,bx) = 2*((doc_id + 599*by +
    211*bx) mod 2048) — the multipliers sweep the full 0..4094 sample
    range so 16-bit DQT, extended DC categories and the 2048 level
    shift are all exercised; even values round-trip DC-exact exactly
    like the 8-bit family.  Restart interval cycles 0/2/5 by id%3."""
    from .jpeg import encode_jpeg_gray

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 8 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 8 + 1)).cast("int").alias("h"),
    )
    intervals = (0, 2, 5)

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            jpegs = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                by, bx = np.mgrid[0 : int(h) // 8, 0 : int(w) // 8]
                v = 2 * ((int(doc_id) + 599 * by + 211 * bx) % 2048)
                img = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
                jpegs.append(
                    encode_jpeg_gray(
                        img.astype(np.uint16),
                        precision=12,
                        restart_interval=intervals[int(doc_id) % 3],
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def synth_jpeg12_color_payload(df: DataFrame, id_col: str = "doc_id",
                               len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column of 12-BIT COLOR extended-sequential
    (SOF1, 3-component YCbCr) JPEGs — the color half of the 12-bit
    path: subsampling alternates 444/420 by id%2, restart interval
    cycles 0/2/5 by id%3.  Flat even-valued blocks per plane over the
    full 0..4094 range (chroma quantized with the luminance table, so
    every DC round-trips exactly like the gray 12-bit family): y =
    2*((d + 599*by + 211*bx) %% 2048), cb = 2*((d + 401*by + 157*bx
    + 1) %% 2048), cr = 2*((d + 613*by + 101*bx + 2) %% 2048) at each
    plane's NATIVE block grid.  Dims w = 16*(id%4+1), h =
    16*(len%4+1) keep both layouts whole-block."""
    from .jpeg import STD_LUMA_QUANT, encode_jpeg_ycbcr

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
    )
    intervals = (0, 2, 5)

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def plane(d, bh, bw, a, b, c):
            by, bx = np.mgrid[0:bh, 0:bw]
            v = 2 * ((d + a * by + b * bx + c) % 2048)
            return np.repeat(np.repeat(v, 8, axis=0), 8, axis=1).astype(
                np.uint16
            )

        for pdf in batches:
            jpegs = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(doc_id), int(w), int(h)
                sub, f = ("444", 1) if d % 2 == 0 else ("420", 2)
                y = plane(d, h // 8, w // 8, 599, 211, 0)
                cb = plane(d, h // (8 * f), w // (8 * f), 401, 157, 1)
                cr = plane(d, h // (8 * f), w // (8 * f), 613, 101, 2)
                jpegs.append(
                    encode_jpeg_ycbcr(
                        y, cb, cr, sub, quant_chroma=STD_LUMA_QUANT,
                        restart_interval=intervals[d % 3], precision=12,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def synth_jpeg_progressive_payload(df: DataFrame, id_col: str = "doc_id",
                                   len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column of COMPLETE PROGRESSIVE (SOF2) JPEGs —
    the same flat-even-block image family as :func:`synth_jpeg_payload`
    (so the same closed-form oracle holds: progressive is an entropy
    reordering, identical quantized coefficients), coded with the
    default 6-scan script (DC first + refinement, AC bands refined
    2→1→0) and a restart interval cycling 0/2/5 by doc_id%3 to cover
    the progressive restart path too."""
    from .jpeg import encode_jpeg_progressive_gray

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 8 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 8 + 1)).cast("int").alias("h"),
    )
    intervals = (0, 2, 5)

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            jpegs = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                by, bx = np.mgrid[0 : int(h) // 8, 0 : int(w) // 8]
                v = 2 * ((int(doc_id) + 3 * by + 5 * bx) % 128)
                img = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
                jpegs.append(
                    encode_jpeg_progressive_gray(
                        img.astype(np.uint8),
                        restart_interval=intervals[int(doc_id) % 3],
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def jpeg_decode_features(df: DataFrame, payload_col: str = "jpeg",
                         id_col: str = "doc_id") -> DataFrame:
    """REAL JPEG decode → featurize over Arrow batches: parse markers,
    Huffman-decode, dequantize, IDCT, and reduce to per-image pixel
    statistics plus the count of distinct per-block values (read from
    the DECODED pixels, so a wrong coefficient anywhere shows up).
    Corrupt payloads flag their row (marker_ok=false, NULL features)
    instead of aborting the ingest job — JPEG has no CRC, so 'decodes
    cleanly to a consistent stream' is the integrity signal."""
    from .jpeg import decode_jpeg_gray

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "marker_ok": [],
                "px_sum": [], "px_mean": [], "px_min": [], "px_max": [],
                "dc_distinct": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    img = decode_jpeg_gray(bytes(p))
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["marker_ok"].append(False)
                    for c in ("px_sum", "px_mean", "px_min", "px_max",
                              "dc_distinct"):
                        out[c].append(None)
                    continue
                h, w = img.shape
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["marker_ok"].append(True)
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_mean"].append(float(img.mean()))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
                out["dc_distinct"].append(
                    int(np.unique(img[0::8, 0::8]).size)
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, width long, height long, marker_ok boolean, "
            "px_sum long, px_mean double, px_min long, px_max long, "
            "dc_distinct long"
        ),
    )


# -----------------------------------------------------------------------------
# REAL video: Motion-JPEG in an AVI (RIFF) container — the classic
# public video format whose frames are plain baseline JPEGs, so the
# pure-numpy JPEG codec above makes true container-parse + frame-decode
# + frame-sampling possible with no media library.  Structure written
# and parsed here follows the public RIFF/AVI layout (RIFF('AVI '
# LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi' '00dc'*)));
# compressed codecs (H.264 etc.) remain honestly out of scope.
# -----------------------------------------------------------------------------


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _riff_list(list_type: bytes, *chunks: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + b"".join(chunks))


def encode_avi_mjpeg(frames, fps: int = 10) -> bytes:
    """Grayscale uint8 frames (equal dims) -> a complete MJPEG AVI."""
    import struct

    from .jpeg import encode_jpeg_gray

    if not frames:
        raise ValueError("MJPEG AVI needs at least one frame")
    h, w = frames[0].shape
    payloads = []
    for fr in frames:
        if fr.shape != (h, w):
            raise ValueError("all frames must share dimensions")
        payloads.append(encode_jpeg_gray(fr))
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # usec per frame
        0, 0, 0,
        len(frames),
        0, 1, 0,
        w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0,
                                        len(frames), 0, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih),
        _riff_list(b"strl", _riff_chunk(b"strh", strh), _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", *[_riff_chunk(b"00dc", p) for p in payloads])
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def _iter_riff_chunks(data: bytes, offset: int, end: int):
    import struct

    while offset + 8 <= end:
        fourcc = data[offset : offset + 4]
        (size,) = struct.unpack("<I", data[offset + 4 : offset + 8])
        body_end = offset + 8 + size
        if body_end > end:
            raise ValueError("truncated RIFF chunk")
        yield fourcc, offset + 8, body_end
        offset = body_end + (size % 2)  # chunks are word-aligned
    if offset < end:
        # 1-7 leftover bytes cannot form a chunk header: malformed,
        # flag it rather than silently dropping trailing data
        raise ValueError("trailing garbage inside RIFF list")


def _avi_frame_payloads(payload: bytes):
    """MJPEG AVI bytes -> (list of raw JPEG frame byte slices,
    declared_frames), WITHOUT decoding any frame — so callers that
    sample can pay the JPEG Huffman cost only for the frames they
    keep, while the avih-vs-movi frame-count consistency check (which
    needs only the count) still covers the whole container.  The RIFF
    tree is walked depth-first in DOCUMENT order with an explicit
    stack of iterators (a hostile payload of deeply nested LISTs must
    not RecursionError past the corrupt-row guard), and frame chunks
    are collected ONLY under a 'movi' (or OpenDML 'rec ') LIST — a
    '00dc' planted elsewhere in the tree is not video data, and
    multiple movi/rec LISTs keep their frames in file order.
    Raises ``ValueError`` on a malformed container and
    ``NotImplementedError`` for a non-MJPG video stream."""
    import struct

    payload = bytes(payload)
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/'AVI ' header)")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    declared = None
    frames: list[bytes] = []
    top_end = min(8 + riff_size, len(payload))
    stack = [(_iter_riff_chunks(payload, 12, top_end), False)]
    while stack:
        it, in_movi = stack[-1]
        nxt = next(it, None)
        if nxt is None:
            stack.pop()
            continue
        fourcc, body_start, body_end = nxt
        if fourcc == b"LIST":
            if body_end - body_start < 4:
                raise ValueError("truncated LIST header")
            ltype = payload[body_start : body_start + 4]
            stack.append(
                (
                    _iter_riff_chunks(payload, body_start + 4, body_end),
                    in_movi or ltype in (b"movi", b"rec "),
                )
            )
        elif fourcc == b"avih":
            if body_end - body_start < 24:
                raise ValueError("truncated avih")
            (declared,) = struct.unpack(
                "<I", payload[body_start + 16 : body_start + 20]
            )
        elif fourcc == b"strh":
            if body_end - body_start >= 8:
                if payload[body_start : body_start + 4] == b"vids" and (
                    payload[body_start + 4 : body_start + 8] != b"MJPG"
                ):
                    raise NotImplementedError(
                        "only MJPG video streams decode natively"
                    )
        elif fourcc in (b"00dc", b"00db") and in_movi:
            frames.append(payload[body_start:body_end])
    if declared is not None and declared != len(frames):
        raise ValueError(
            f"avih declares {declared} frames, movi carries {len(frames)}"
        )
    return frames, declared


def decode_avi_mjpeg_frames(payload: bytes):
    """MJPEG AVI bytes -> (list of uint8 frame arrays, declared_frames).

    Container walk via :func:`_avi_frame_payloads`; every '00dc'/'00db'
    chunk decodes as a baseline JPEG.  Raises ``ValueError`` on a
    malformed container/stream and ``NotImplementedError`` when the
    stream declares a non-MJPG codec (real codecs need a media
    library)."""
    from .jpeg import decode_jpeg_gray

    raw, declared = _avi_frame_payloads(payload)
    return [decode_jpeg_gray(p) for p in raw], declared


def synth_avi_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach an ``avi`` column of COMPLETE MJPEG AVIs: doc_id%3+2
    frames of w×h flat-8×8-block grayscale with block value
    v(f, by, bx) = 2·((doc_id + f + 3·by + 5·bx) mod 128); w =
    16·(id%4+1), h = 16·(len%4+1).  Even flat blocks make every frame's
    JPEG roundtrip pixel-exact (see operators/jpeg.py), so sampled
    frame statistics are closed-form from (doc_id, n_chars)."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.col(id_col) % 3 + 2).cast("int").alias("nf"),
        (F.lit(16) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            avis = []
            for doc_id, nf, w, h in zip(pdf["doc_id"], pdf["nf"], pdf["w"], pdf["h"]):
                by, bx = np.mgrid[0 : int(h) // 8, 0 : int(w) // 8]
                frames = [
                    np.repeat(
                        np.repeat(
                            2 * ((int(doc_id) + f + 3 * by + 5 * bx) % 128), 8, axis=0
                        ),
                        8,
                        axis=1,
                    ).astype(np.uint8)
                    for f in range(int(nf))
                ]
                avis.append(encode_avi_mjpeg(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "avi": avis})

    return src.mapInPandas(gen, schema="doc_id long, avi binary")


def avi_mjpeg_frame_sample(df: DataFrame, payload_col: str = "avi",
                           every: int = 2, id_col: str = "doc_id") -> DataFrame:
    """REAL video frame sampling over Arrow batches: parse the RIFF
    tree, decode ONLY every ``every``-th MJPEG frame (the container
    walk yields raw frame slices, so skipped frames never pay the
    Huffman decode), and reduce each to pixel statistics — the 1→N
    decode shape of training-data video ingestion, with full frames
    never leaving the map task.  A corrupt or non-MJPG payload — or a
    corrupt SAMPLED frame — contributes a single flag row (ok=false,
    NULL features) instead of aborting the batch; corruption confined
    to skipped frames is by construction not observed."""
    from .jpeg import decode_jpeg_gray

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def sample(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("frame_idx", "n_frames", "width", "height", "px_sum", "px_mean")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    raw, _ = _avi_frame_payloads(bytes(p))
                    if not raw:
                        raise ValueError("no frames")
                    sampled = [
                        (f, decode_jpeg_gray(raw[f]))
                        for f in range(0, len(raw), every)
                    ]
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for f, img in sampled:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["frame_idx"].append(f)
                    out["n_frames"].append(len(raw))
                    out["height"].append(img.shape[0])
                    out["width"].append(img.shape[1])
                    out["px_sum"].append(int(img.sum(dtype=np.int64)))
                    out["px_mean"].append(float(img.mean()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        sample,
        schema=(
            "doc_id long, ok boolean, frame_idx long, n_frames long, "
            "width long, height long, px_sum long, px_mean double"
        ),
    )


def synth_jpeg_color_payload(df: DataFrame, id_col: str = "doc_id",
                             len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column of COMPLETE baseline COLOR JPEGs:
    YCbCr planes of flat even 8×8 blocks (Y: 2·((doc_id+3by+5bx) mod
    128); Cb: +7by+11bx+1; Cr: +13by+9bx+2), w = 16·(id%4+1),
    h = 16·(len%4+1); even rows 4:4:4, odd rows 4:2:0 (half-size
    chroma planes, so the MCU-interleave geometry is exercised in both
    layouts).  Chroma quantizes with the luminance table so the DC
    roundtrip stays exact (legal JPEG — tables ride in the file)."""
    from .jpeg import STD_LUMA_QUANT, encode_jpeg_ycbcr

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
        (F.col(id_col) % 2 == 0).alias("is444"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def plane(doc_id, bh, bw, a, b, c):
            by, bx = np.mgrid[0:bh, 0:bw]
            v = 2 * ((int(doc_id) + a * by + b * bx + c) % 128)
            return np.repeat(np.repeat(v, 8, axis=0), 8, axis=1).astype(np.uint8)

        for pdf in batches:
            jpegs = []
            for doc_id, w, h, is444 in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["is444"]
            ):
                w, h = int(w), int(h)
                y = plane(doc_id, h // 8, w // 8, 3, 5, 0)
                cdiv = 8 if is444 else 16
                cb = plane(doc_id, h // cdiv, w // cdiv, 7, 11, 1)
                cr = plane(doc_id, h // cdiv, w // cdiv, 13, 9, 2)
                jpegs.append(
                    encode_jpeg_ycbcr(
                        y, cb, cr,
                        "444" if is444 else "420",
                        quant_chroma=STD_LUMA_QUANT,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def jpeg_color_decode_features(df: DataFrame, payload_col: str = "jpeg",
                               id_col: str = "doc_id") -> DataFrame:
    """REAL color-JPEG decode → per-plane statistics over Arrow
    batches: MCU-interleaved multi-component Huffman decode, per-plane
    IDCT at native sampling resolution (no chroma upsampling before
    stats — 4:2:0 chroma is measured at its true size).  Corrupt or
    unsupported payloads flag their row."""
    from .jpeg import decode_jpeg_planes

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("width", "height", "subsampling", "y_sum", "cb_sum",
                "cr_sum", "y_mean", "cr_max")
        for pdf in batches:
            out = {"doc_id": [], "marker_ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    planes, w, h = decode_jpeg_planes(bytes(p))
                    if len(planes) != 3:
                        raise ValueError("expected a color frame")
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["marker_ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                y, cb, cr = planes
                out["doc_id"].append(doc_id)
                out["marker_ok"].append(True)
                out["width"].append(w)
                out["height"].append(h)
                ry = round(y.shape[0] / cb.shape[0])
                rx = round(y.shape[1] / cb.shape[1])
                out["subsampling"].append(
                    {(1, 1): "444", (2, 2): "420", (2, 1): "422",
                     (4, 1): "411", (1, 2): "440"}.get(
                        (rx, ry), f"{rx}x{ry}"
                    )
                )
                out["y_sum"].append(int(y.sum(dtype=np.int64)))
                out["cb_sum"].append(int(cb.sum(dtype=np.int64)))
                out["cr_sum"].append(int(cr.sum(dtype=np.int64)))
                out["y_mean"].append(float(y.mean()))
                out["cr_max"].append(int(cr.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, marker_ok boolean, width long, height long, "
            "subsampling string, y_sum long, cb_sum long, cr_sum long, "
            "y_mean double, cr_max long"
        ),
    )


def synth_jpeg_subsampling_payload(df: DataFrame, id_col: str = "doc_id",
                                   len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column cycling the REMAINING common chroma
    layouts (doc_id % 3): 4:2:2, 4:1:1, 4:4:0 — the ones beyond
    444/420 that broadcast/DV-lineage JPEG writers emit.  Same flat
    even-valued 8x8-block construction as synth_jpeg_color_payload
    (chroma quantized with the luminance table), so every plane's DC
    round-trip is exact and the oracle is closed-form.  Dims
    w = 32*(id%2+1), h = 16*(len%3+1) keep every chroma plane a whole
    number of blocks in all three layouts."""
    from .jpeg import STD_LUMA_QUANT, encode_jpeg_ycbcr

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(32) * (F.col(id_col) % 2 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 3 + 1)).cast("int").alias("h"),
    )
    subs = {0: ("422", 2, 1), 1: ("411", 4, 1), 2: ("440", 1, 2)}

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def plane(doc_id, bh, bw, a, b, c):
            by, bx = np.mgrid[0:bh, 0:bw]
            v = 2 * ((int(doc_id) + a * by + b * bx + c) % 128)
            return np.repeat(np.repeat(v, 8, axis=0), 8, axis=1).astype(np.uint8)

        for pdf in batches:
            jpegs = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(doc_id), int(w), int(h)
                sub, hy, vy = subs[d % 3]
                y = plane(d, h // 8, w // 8, 3, 5, 0)
                cb = plane(d, h // (8 * vy), w // (8 * hy), 7, 11, 1)
                cr = plane(d, h // (8 * vy), w // (8 * hy), 13, 9, 2)
                jpegs.append(
                    encode_jpeg_ycbcr(y, cb, cr, sub,
                                      quant_chroma=STD_LUMA_QUANT)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def synth_jpeg_exif_gps_payload(df: DataFrame, id_col: str = "doc_id",
                                len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column whose EXIF APP1 carries a GPS IFD
    (tag 0x8825): lat = (id%%90)° (id%%60)' ((7id%%6000)/100)\" with
    ref N/S by id%%2, lon = (id%%180)° ((3id)%%60)'
    ((11id%%6000)/100)\" with ref E/W by id%%3==0; byte order
    alternates II/MM — closed-form decimal degrees for the oracle."""
    from .jpeg import encode_jpeg_gray, insert_app1
    from .tiff import build_exif_app1

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        img = np.full((16, 16), 84, np.uint8)  # flat even: exact
        for pdf in batches:
            jpegs = []
            for d in pdf["doc_id"]:
                d = int(d)
                gps = (
                    "N" if d % 2 == 0 else "S",
                    [(d % 90, 1), (d % 60, 1), ((7 * d) % 6000, 100)],
                    "E" if d % 3 == 0 else "W",
                    [(d % 180, 1), ((3 * d) % 60, 1),
                     ((11 * d) % 6000, 100)],
                )
                app1 = build_exif_app1(
                    f"synthcam{d % 7}", f"mk{d % 5}", d % 8 + 1,
                    "2026:01:02 03:04:05", 100, 16, 16,
                    "II" if d % 2 == 0 else "MM", gps=gps,
                )
                jpegs.append(insert_app1(encode_jpeg_gray(img), app1))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def jpeg_exif_gps_metadata(df: DataFrame, payload_col: str = "jpeg",
                           id_col: str = "doc_id") -> DataFrame:
    """EXIF GPS extraction: APP1 walk, GPS IFD (tag 0x8825) rational
    triplets -> signed decimal degrees in the fixed d + m/60 + s/3600
    evaluation order (bit-identical doubles in both engines).
    Corrupt or GPS-less payloads flag the row."""
    from .jpeg import extract_exif_app1
    from .tiff import exif_gps_decimal, parse_exif

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("lat_ref", "lon_ref", "lat_deg", "lon_deg")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    app1 = extract_exif_app1(bytes(p))
                    if app1 is None:
                        raise ValueError("no EXIF APP1")
                    meta = parse_exif(app1)
                    dec = exif_gps_decimal(meta)
                    if dec is None:
                        raise ValueError("no GPS IFD")
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["lat_ref"].append(meta["GPSLatitudeRef"][0])
                out["lon_ref"].append(meta["GPSLongitudeRef"][0])
                out["lat_deg"].append(dec[0])
                out["lon_deg"].append(dec[1])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, lat_ref string, lon_ref string, "
                "lat_deg double, lon_deg double"),
    )


def synth_jpeg_exif_payload(df: DataFrame, id_col: str = "doc_id",
                            len_col: str = "n_chars") -> DataFrame:
    """Attach a ``jpeg`` column of small baseline JPEGs carrying an
    EXIF APP1 block (alternating II/MM byte order by doc_id%2): Make
    'synthcam<id%7>', Model 'mk<id%5>', Orientation id%8+1, ISO
    100*(id%16+1), DateTimeOriginal derived from id, pixel dims =
    the actual image dims w = 16*(id%4+1), h = 16*(len%4+1) — every
    field closed-form for the oracle."""
    from .jpeg import encode_jpeg_gray, insert_app1
    from .tiff import build_exif_app1

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            jpegs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                img = np.full((h, w), 2 * (d % 128), np.uint8)
                app1 = build_exif_app1(
                    make=f"synthcam{d % 7}",
                    model=f"mk{d % 5}",
                    orientation=d % 8 + 1,
                    datetime_original=(
                        f"2026:0{d % 9 + 1}:0{d % 9 + 1} "
                        f"0{d % 10 if d % 10 < 10 else 0}:00:00"
                    ),
                    iso=100 * (d % 16 + 1),
                    pixel_x=w,
                    pixel_y=h,
                    byte_order="II" if d % 2 == 0 else "MM",
                )
                jpegs.append(insert_app1(encode_jpeg_gray(img), app1))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "jpeg": jpegs})

    return src.mapInPandas(gen, schema="doc_id long, jpeg binary")


def jpeg_exif_metadata(df: DataFrame, payload_col: str = "jpeg",
                       id_col: str = "doc_id") -> DataFrame:
    """EXIF harvesting over Arrow batches: walk the JPEG segment
    stream for an APP1 EXIF block, parse its TIFF IFDs (0th + Exif
    sub-IFD, either byte order), and surface the camera fields.
    Images without EXIF get has_exif = false with NULL fields; corrupt
    streams flag ok = false.  No pixel decode happens — the walk is
    metadata-bound."""
    from .jpeg import extract_exif_app1
    from .tiff import parse_exif

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("byte_order", "make", "model", "orientation",
                "datetime_original", "iso", "pixel_x", "pixel_y")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], "has_exif": [],
                   **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    app1 = extract_exif_app1(bytes(p))
                    meta = parse_exif(app1) if app1 is not None else None
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    out["has_exif"].append(None)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["has_exif"].append(meta is not None)
                if meta is None:
                    for c in cols:
                        out[c].append(None)
                    continue
                first = lambda k: (meta.get(k) or [None])[0]  # noqa: E731
                out["byte_order"].append(
                    "II" if bytes(p)[bytes(p).index(b"Exif\x00\x00") + 6:
                                     bytes(p).index(b"Exif\x00\x00") + 8]
                    == b"II" else "MM"
                )
                out["make"].append(first("Make"))
                out["model"].append(first("Model"))
                ori = first("Orientation")
                out["orientation"].append(None if ori is None else int(ori))
                out["datetime_original"].append(first("DateTimeOriginal"))
                iso = first("ISOSpeedRatings")
                out["iso"].append(None if iso is None else int(iso))
                px, py = first("PixelXDimension"), first("PixelYDimension")
                out["pixel_x"].append(None if px is None else int(px))
                out["pixel_y"].append(None if py is None else int(py))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, ok boolean, has_exif boolean, byte_order string, "
            "make string, model string, orientation long, "
            "datetime_original string, iso long, pixel_x long, pixel_y long"
        ),
    )


def synth_bmp_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach a ``bmp`` column cycling doc_id % 8 through {8-bit
    paletted BI_RGB, 8-bit BI_RLE8, 24-bit bottom-up, 24-bit
    top-down (negative height), 4-bit paletted, 32-bit BGRA
    top-down, 4-bit BI_RLE4, 16-bit XRGB1555}.  Paletted pixels:
    idx = (x+y) % 16 with palette (4j, 8j, 12j); truecolor:
    ((3x)%256, (5y)%256, (x*y)%256 [, alpha (x+y)%256]); 16-bit
    quantizes those channels to 5 bits (decode replicates them back:
    v -> 8*(v//8) + v//32).  Dims w = 8*(id%5+2), h = 8*(len%5+2)."""
    from .bmp import encode_bmp

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 5 + 2)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 5 + 2)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        pal = np.stack(
            [4 * np.arange(16), 8 * np.arange(16), 12 * np.arange(16)],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            bmps = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                y, x = np.mgrid[0:h, 0:w]
                case = d % 8
                idx = ((x + y) % 16).astype(np.uint8)
                rgb = np.stack(
                    [(3 * x) % 256, (5 * y) % 256, (x * y) % 256],
                    axis=2,
                ).astype(np.uint8)
                if case < 2:
                    bmps.append(encode_bmp(idx, palette=pal,
                                           compression=case))
                elif case in (2, 3):
                    bmps.append(encode_bmp(rgb, top_down=(case == 3)))
                elif case == 4:
                    bmps.append(encode_bmp(idx, palette=pal,
                                           bits_per_pixel=4))
                elif case == 5:
                    rgba = np.concatenate(
                        [rgb, (((x + y) % 256).astype(np.uint8))[:, :, None]],
                        axis=2,
                    )
                    bmps.append(encode_bmp(rgba, top_down=True))
                elif case == 6:
                    bmps.append(encode_bmp(idx, palette=pal,
                                           compression=2,
                                           bits_per_pixel=4))
                else:
                    bmps.append(encode_bmp(rgb, bits_per_pixel=16))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "bmp": bmps})

    return src.mapInPandas(gen, schema="doc_id long, bmp binary")


def bmp_decode_features(df: DataFrame, payload_col: str = "bmp",
                        id_col: str = "doc_id") -> DataFrame:
    """REAL BMP decode -> per-image statistics over Arrow batches:
    palette resolution, RLE8 expansion (escape codes included),
    bottom-up/top-down normalization, row padding.  Corrupt payloads
    flag the row."""
    from .bmp import decode_bmp

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "ok": [], "width": [], "height": [],
                   "px_sum": [], "px_min": [], "px_max": []}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    img = decode_bmp(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in ("width", "height", "px_sum", "px_min",
                              "px_max"):
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, width long, height long, "
                "px_sum long, px_min long, px_max long"),
    )


def synth_ico_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach an ``ico`` column of two-member favicons: member 0 an
    8-bit headerless DIB (idx = (x+y)%16, palette (4j, 8j, 12j), AND
    mask transparent where (x+y)%5 == 0), member 1 a PNG gray image
    ((7x + 3y) % 256).  Square icons, side 8*(id%3+2)."""
    from .bmp import encode_ico

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 3 + 2)).cast("int").alias("side"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        pal = np.stack(
            [4 * np.arange(16), 8 * np.arange(16), 12 * np.arange(16)],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            icos = []
            for d, side in zip(pdf["doc_id"], pdf["side"]):
                s = int(side)
                y, x = np.mgrid[0:s, 0:s]
                idx = ((x + y) % 16).astype(np.uint8)
                trans = (x + y) % 5 == 0
                png = encode_png(((7 * x + 3 * y) % 256).astype(np.uint8))
                icos.append(
                    encode_ico([("bmp", (idx, pal, trans)), ("png", png)])
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "ico": icos})

    return src.mapInPandas(gen, schema="doc_id long, ico binary")


def ico_decode_features(df: DataFrame, payload_col: str = "ico",
                        id_col: str = "doc_id") -> DataFrame:
    """EXPLODE favicons into one row per member with real decode:
    PNG members via the native PNG decoder, DIB members with XOR data
    + AND-mask transparency.  Corrupt containers flag one row."""
    from .bmp import decode_ico

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("member", "kind", "width", "height", "px_sum",
                "n_transparent")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = decode_ico(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for m, (kind, img) in enumerate(members):
                    rgb = img[:, :, :3] if img.ndim == 3 else img
                    alpha = (
                        img[:, :, 3]
                        if img.ndim == 3 and img.shape[2] == 4
                        else None
                    )
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["member"].append(m)
                    out["kind"].append(kind)
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["px_sum"].append(int(rgb.sum(dtype=np.int64)))
                    out["n_transparent"].append(
                        0 if alpha is None else int((alpha == 0).sum())
                    )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, member long, kind string, "
                "width long, height long, px_sum long, n_transparent long"),
    )


#: TIFF synth subtype cases (byte order, compression, rows/strip, rgb?).
#: The two LZW cases carry Predictor 2 (horizontal differencing), the
#: combination real LZW TIFFs ship with.
_TIFF_CASES = [
    ("II", 1, None, False), ("MM", 32773, 4, False),
    ("II", 32773, 8, True), ("MM", 1, None, True),
    ("II", 5, 4, False), ("MM", 5, None, True),
]


def synth_tiff_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach a ``tiff`` column of COMPLETE baseline TIFFs cycling
    doc_id % 6 through {II/none/gray, MM/PackBits/4-row-strips/gray,
    II/PackBits/8-row-strips/RGB, MM/none/RGB, II/LZW/4-row-strips/
    gray, MM/LZW/RGB} — both byte orders, all three compressions,
    single- and multi-strip.  Pixels: gray (x + 2y) % 256; RGB
    ((3x)%256, (5y)%256, (x+y)%256) — closed-form for the oracle.
    Dims w = 8*(id%6+2), h = 8*(len%6+2)."""
    from .tiff import encode_tiff

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 6 + 2)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 6 + 2)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            tiffs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                bo, comp, rps, rgb = _TIFF_CASES[d % 6]
                pred = 2 if comp == 5 else 1
                y, x = np.mgrid[0:h, 0:w]
                if rgb:
                    img = np.stack(
                        [(3 * x) % 256, (5 * y) % 256, (x + y) % 256],
                        axis=2,
                    ).astype(np.uint8)
                else:
                    img = ((x + 2 * y) % 256).astype(np.uint8)
                tiffs.append(encode_tiff(img, bo, comp, rps,
                                         predictor=pred))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tiff": tiffs})

    return src.mapInPandas(gen, schema="doc_id long, tiff binary")


def synth_tiff_multipage_payload(df: DataFrame, id_col: str = "doc_id",
                                 len_col: str = "n_chars") -> DataFrame:
    """Attach a ``tiff`` column of MULTI-PAGE TIFFs (next-IFD chain):
    m = id%3+1 gray pages with page-varying pattern
    (x + 2y + 7k) % 256, byte order II/MM by id%2, compression cycling
    none/LZW+predictor/PackBits by id%3."""
    from .tiff import encode_tiff_multipage

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 4 + 2)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 4 + 2)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            tiffs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                y, x = np.mgrid[0:h, 0:w]
                pages = [
                    ((x + 2 * y + 7 * k) % 256).astype(np.uint8)
                    for k in range(d % 3 + 1)
                ]
                comp, pred = [(1, 1), (5, 2), (32773, 1)][d % 3]
                tiffs.append(
                    encode_tiff_multipage(
                        pages, "II" if d % 2 == 0 else "MM", comp, 4,
                        predictor=pred,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tiff": tiffs})

    return src.mapInPandas(gen, schema="doc_id long, tiff binary")


def tiff_pages_extract(df: DataFrame, payload_col: str = "tiff",
                       id_col: str = "doc_id") -> DataFrame:
    """EXPLODE multi-page TIFFs into one row per page (the scan/fax
    ingestion shape): next-IFD chain walk with a cycle guard, full
    per-page decode.  Corrupt containers flag one row."""
    from .tiff import decode_tiff_pages

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("page", "width", "height", "px_sum", "px_min", "px_max")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    pages = decode_tiff_pages(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for k, img in enumerate(pages):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["page"].append(k)
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["px_sum"].append(int(img.sum(dtype=np.int64)))
                    out["px_min"].append(int(img.min()))
                    out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, page long, width long, "
                "height long, px_sum long, px_min long, px_max long"),
    )


def tiff_decode_features(df: DataFrame, payload_col: str = "tiff",
                         id_col: str = "doc_id") -> DataFrame:
    """REAL TIFF decode -> per-image statistics over Arrow batches:
    IFD walk (both byte orders), strip assembly, PackBits expansion
    (capped), photometric handling — plus the container metadata
    (byte order, compression) read back from the file so the gate
    pins the IFD parse too.  Corrupt payloads flag the row."""
    from .tiff import decode_tiff, parse_tiff_ifd

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "ok": [], "byte_order": [], "compression": [],
                "width": [], "height": [], "n_channels": [],
                "px_sum": [], "px_min": [], "px_max": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                p = bytes(p)
                try:
                    order, tags = parse_tiff_ifd(p)
                    img = decode_tiff(p)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in ("byte_order", "compression", "width",
                              "height", "n_channels", "px_sum", "px_min",
                              "px_max"):
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["byte_order"].append(order)
                out["compression"].append(int(tags.get(259, [1])[0]))
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["n_channels"].append(1 if img.ndim == 2 else img.shape[2])
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, ok boolean, byte_order string, compression long, "
            "width long, height long, n_channels long, px_sum long, "
            "px_min long, px_max long"
        ),
    )


#: (byte_order, compression, predictor, rows_per_strip, tile, bits, rgb)
#: — the round-10 extended matrix: 16-bit samples and the tiled layout.
_TIFF_EXT_CASES = [
    ("II", 1,     1, 4,    None,     16, False),
    ("MM", 5,     2, None, None,     16, False),
    ("II", 32773, 1, 8,    None,     16, True),
    ("MM", 5,     2, None, (16, 16), 8,  False),
    ("II", 1,     1, None, (32, 16), 8,  True),
    ("MM", 32773, 1, None, (16, 32), 16, False),
]


def synth_tiff_extended_payload(df: DataFrame, id_col: str = "doc_id",
                                len_col: str = "n_chars") -> DataFrame:
    """Attach a ``tiff`` column cycling doc_id % 6 through the
    EXTENDED layout matrix (``_TIFF_EXT_CASES``): 16-bit strips (none /
    LZW+Predictor2 / PackBits, gray and RGB, both byte orders) and
    tiled layouts (8-bit gray LZW tiles, 8-bit RGB uncompressed tiles,
    16-bit gray PackBits tiles) with image dims that are NOT tile
    multiples, so edge-tile cropping is under the gate.  Pixels:
    16-bit gray (513x + 1031y) %% 65536; 16-bit RGB ((257x) %% 65536,
    (521y) %% 65536, (xy) %% 65536); 8-bit gray (x + 2y) %% 256;
    8-bit RGB ((3x) %% 256, (5y) %% 256, (x+y) %% 256) — closed-form
    for the oracle.  Dims w = 8*(id%6+2), h = 8*(len%6+2)."""
    from .tiff import encode_tiff

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 6 + 2)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 6 + 2)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            tiffs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                bo, comp, pred, rps, tile, bits, rgb = _TIFF_EXT_CASES[d % 6]
                y, x = np.mgrid[0:h, 0:w]
                if bits == 16 and rgb:
                    img = np.stack(
                        [(257 * x) % 65536, (521 * y) % 65536,
                         (x * y) % 65536], axis=2,
                    ).astype(np.uint16)
                elif bits == 16:
                    img = ((513 * x + 1031 * y) % 65536).astype(np.uint16)
                elif rgb:
                    img = np.stack(
                        [(3 * x) % 256, (5 * y) % 256, (x + y) % 256],
                        axis=2,
                    ).astype(np.uint8)
                else:
                    img = ((x + 2 * y) % 256).astype(np.uint8)
                tiffs.append(encode_tiff(img, bo, comp, rps,
                                         predictor=pred, tile=tile))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tiff": tiffs})

    return src.mapInPandas(gen, schema="doc_id long, tiff binary")


def synth_tiff_jpeg_payload(df: DataFrame, id_col: str = "doc_id",
                            len_col: str = "n_chars") -> DataFrame:
    """Attach a ``tiff`` column of COMPRESSION-7 (new-style JPEG)
    TIFFs cycling doc_id % 4 through {gray/II/single-strip full
    streams, gray/MM/16-row strips with tag-347 JPEGTables,
    YCbCr color (photometric 6, R=G=B source)/II/single strip,
    gray/II/16x16 tiles with JPEGTables}.  Pixels are FLAT even-valued
    8x8 blocks v = 2*((id + 59*by + 31*bx) %% 128) — the DC-exact
    family every mm_jpeg* oracle uses — and dims are multiples of 16,
    so the lossy path round-trips bit-exactly and the oracle
    re-derives statistics from the block formula.  Dims
    w = 16*(id%4+1), h = 16*(len%4+1)."""
    from .tiff import encode_tiff

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(16) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(16) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            tiffs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                by, bx = np.mgrid[0 : h // 8, 0 : w // 8]
                v = (2 * ((d + 59 * by + 31 * bx) % 128)).astype(np.uint8)
                gray = np.kron(v, np.ones((8, 8), dtype=np.uint8))
                case = d % 4
                if case == 0:
                    t = encode_tiff(gray, "II", 7)
                elif case == 1:
                    t = encode_tiff(gray, "MM", 7, rows_per_strip=16,
                                    jpeg_tables=True)
                elif case == 2:
                    rgb = np.stack([gray, gray, gray], axis=2)
                    t = encode_tiff(rgb, "II", 7)
                else:
                    t = encode_tiff(gray, "II", 7, tile=(16, 16),
                                    jpeg_tables=True)
                tiffs.append(t)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tiff": tiffs})

    return src.mapInPandas(gen, schema="doc_id long, tiff binary")


def tiff_extended_decode_features(df: DataFrame, payload_col: str = "tiff",
                                  id_col: str = "doc_id") -> DataFrame:
    """tiff_decode_features plus the round-10 surface: BitsPerSample
    (8/16) and the strip-vs-tile layout read back from the IFD, so the
    gate pins 16-bit sample assembly, tile reassembly with edge crop,
    and JPEG-in-TIFF (compression 7, tag-347 JPEGTables) end-to-end.
    Corrupt payloads flag the row."""
    from .tiff import decode_tiff, parse_tiff_ifd

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("byte_order", "compression", "bits", "layout", "width",
                "height", "n_channels", "px_sum", "px_min", "px_max")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                p = bytes(p)
                try:
                    order, tags = parse_tiff_ifd(p)
                    img = decode_tiff(p)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["byte_order"].append(order)
                out["compression"].append(int(tags.get(259, [1])[0]))
                out["bits"].append(int(tags.get(258, [8])[0]))
                out["layout"].append("tile" if 322 in tags else "strip")
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["n_channels"].append(1 if img.ndim == 2 else img.shape[2])
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, ok boolean, byte_order string, compression long, "
            "bits long, layout string, width long, height long, "
            "n_channels long, px_sum long, px_min long, px_max long"
        ),
    )


def synth_pdf_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach a ``pdf`` column of COMPLETE PDF files built from the
    document text: lines are 8-word chunks; pages p = min(id%3+1, L)
    with line j on page j %% p (balanced, never-empty pages).  The
    case matrix cycles id %% 4 through {plain Tj, FlateDecode Tj,
    plain TJ-array, FlateDecode TJ-array} and id %% 8 through the
    structural forms {0-3: classic xref table, 4: PDF 1.5 xref
    STREAM, 5: xref stream + PNG-Up predictor, 6: xref stream +
    ObjStm, 7: xref stream + ObjStm + predictor} — text identical
    across forms, so the oracle is unchanged by structure.  Text with the chunk arithmetic is
    closed-form for the oracle."""
    from .pdf import encode_pdf

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf_batch in batches:
            pdfs = []
            for d, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                d = int(d)
                words = str(text).split(" ")
                lines = [
                    " ".join(words[8 * j : 8 * j + 8])
                    for j in range(-(-len(words) // 8))
                ]
                p = min(d % 3 + 1, len(lines))
                pages = [
                    [ln for j, ln in enumerate(lines) if j % p == k]
                    for k in range(p)
                ]
                s = d % 8
                pdfs.append(
                    encode_pdf(
                        pages,
                        compress=(d % 4) in (1, 3),
                        use_tj_array=(d % 4) in (2, 3),
                        xref_stream=s >= 4,
                        predictor=s in (5, 7),
                        use_objstm=s in (6, 7),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf_batch["doc_id"], "pdf": pdfs})

    return src.mapInPandas(gen, schema="doc_id long, pdf binary")


def synth_html_data_uri_payload(df: DataFrame, id_col: str = "doc_id",
                                len_col: str = "n_chars") -> DataFrame:
    """Attach an ``html`` column of pages with m = id%%3+1 INLINE
    base64 PNG data URIs (<img src="data:image/png;base64,...">):
    image j is w x h 8-bit gray with pixel (x + y + j), w =
    8*(id%%4+2), h = 8*((n_chars+j)%%4+2) — dims <= 40 so values never
    wrap and every statistic is closed-form."""
    import base64

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(len_col).cast("long").alias("n_chars"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            htmls = []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                d, nc = int(d), int(nc)
                parts = ["<html><body>"]
                for j in range(d % 3 + 1):
                    w = 8 * (d % 4 + 2)
                    h = 8 * ((nc + j) % 4 + 2)
                    y, x = np.mgrid[0:h, 0:w]
                    png = encode_png((x + y + j).astype(np.uint8))
                    b64 = base64.b64encode(png).decode("ascii")
                    parts.append(
                        f'<p>img {j}</p><img alt="i{j}" '
                        f'src="data:image/png;base64,{b64}"/>'
                    )
                parts.append("</body></html>")
                htmls.append("".join(parts).encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    return src.mapInPandas(gen, schema="doc_id long, html binary")


def html_data_uri_image_features(df: DataFrame, payload_col: str = "html",
                                 id_col: str = "doc_id") -> DataFrame:
    """Inline-image extraction the way crawled pages actually carry
    small images: walk <img> tags with the stdlib HTMLParser, accept
    ``data:image/png;base64,`` URIs, STRICT-base64 decode, then run
    the repo's real PNG decoder — one row per embedded image.
    Corrupt pages flag a row."""
    import base64
    import binascii
    from html.parser import HTMLParser

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    class _ImgCollector(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.uris: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag == "img":
                src_attr = dict(attrs).get("src", "")
                if src_attr.startswith("data:image/png;base64,"):
                    self.uris.append(
                        src_attr[len("data:image/png;base64,"):]
                    )

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("img_idx", "width", "height", "px_sum", "px_min",
                "px_max")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    collector = _ImgCollector()
                    collector.feed(bytes(p).decode("utf-8"))
                    collector.close()
                    imgs = []
                    for u in collector.uris:
                        try:
                            raw = base64.b64decode(u, validate=True)
                        except binascii.Error as exc:
                            raise ValueError("bad data-URI base64") from exc
                        imgs.append(decode_png(raw))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for j, img in enumerate(imgs):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["img_idx"].append(j)
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["px_sum"].append(int(img.sum(dtype=np.int64)))
                    out["px_min"].append(int(img.min()))
                    out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, img_idx long, width long, "
                "height long, px_sum long, px_min long, px_max long"),
    )


def synth_html_metadata_payload(df: DataFrame, id_col: str = "doc_id",
                                len_col: str = "n_chars") -> DataFrame:
    """Attach an ``html`` column: a page with <title> (first 2 words
    + ' archive'), OpenGraph og:title/og:type metas, one schema.org
    JSON-LD Article script (headline = first 3 words, wordCount =
    n words), and the doc text in the body — closed-form."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import json

        import pandas as pd

        for pdf in batches:
            htmls = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                words = str(text).split(" ")
                t2 = " ".join(words[:2])
                ld = json.dumps(
                    {"@type": "Article",
                     "headline": " ".join(words[:3]),
                     "wordCount": len(words)},
                    sort_keys=True,
                )
                htmls.append(
                    "<html><head>"
                    f"<title>{t2} archive</title>"
                    f'<meta property="og:title" content="{t2}"/>'
                    '<meta property="og:type" content="article"/>'
                    '<script type="application/ld+json">'
                    f"{ld}</script>"
                    "</head><body><p>"
                    f"{text}</p></body></html>".encode("utf-8")
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    return src.mapInPandas(gen, schema="doc_id long, html binary")


def html_metadata_features(df: DataFrame, payload_col: str = "html",
                           id_col: str = "doc_id") -> DataFrame:
    """REAL HTML metadata extraction (stdlib HTMLParser): <title>,
    OpenGraph metas, schema.org JSON-LD scripts parsed with strict
    json — the document-metadata enrichment hop of web-corpus
    pipelines.  Corrupt payloads flag the row."""
    from .warc import html_extract_metadata

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import json

        import pandas as pd

        cols = ("title", "og_title", "og_type", "n_jsonld", "ld_type",
                "ld_headline", "ld_wordcount")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    meta = html_extract_metadata(
                        bytes(p).decode("utf-8")
                    )
                    ld = (json.loads(meta["jsonld"][0])
                          if meta["jsonld"] else {})
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["title"].append(meta["title"])
                out["og_title"].append(meta["og"].get("title"))
                out["og_type"].append(meta["og"].get("type"))
                out["n_jsonld"].append(len(meta["jsonld"]))
                out["ld_type"].append(ld.get("@type"))
                out["ld_headline"].append(ld.get("headline"))
                out["ld_wordcount"].append(ld.get("wordCount"))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, title string, og_title string, "
                "og_type string, n_jsonld long, ld_type string, "
                "ld_headline string, ld_wordcount long"),
    )


def synth_markdown_payload(df: DataFrame, id_col: str = "doc_id",
                           len_col: str = "n_chars") -> DataFrame:
    """Attach an ``md`` column of deterministic Markdown documents
    built from the doc words: ``# `` title (first 3 words), id%%3+1
    sections (``## part s w`` + an 8-word paragraph; the first
    paragraph carries a ``[see w0](url)`` link), id%%4+1 list items,
    one fenced ``py`` code block ``x = id%%97``, and a ``> note``
    blockquote on even ids — closed-form for the oracle."""
    from .markdown import build_markdown

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            mds = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                sections = [
                    (f"part {s} {words[3 + s]}",
                     " ".join(words[4 + 8 * s : 12 + 8 * s]))
                    for s in range(d % 3 + 1)
                ]
                mds.append(
                    build_markdown(
                        words[:3],
                        sections,
                        [f"item {j} {words[j]}" for j in range(d % 4 + 1)],
                        f"x = {d % 97}",
                        link=(f"see {words[0]}",
                              f"https://docs.example.org/{d % 11}"),
                        quote=(f"note {words[1]}" if d % 2 == 0 else None),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "md": mds})

    return src.mapInPandas(gen, schema="doc_id long, md binary")


def markdown_extract_features(df: DataFrame, payload_col: str = "md",
                              id_col: str = "doc_id") -> DataFrame:
    """REAL Markdown parse + markup strip over Arrow batches:
    structure statistics (headings, fenced code, links, list items,
    blockquotes) plus the markup-stripped plain text's length and md5
    — the two corpus operations run on Markdown at scale.  Corrupt
    documents (unterminated fences) flag the row."""
    import hashlib

    from .markdown import markdown_to_text, parse_markdown

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("n_headings", "n_code_blocks", "code_chars", "n_links",
                "n_list_items", "n_blockquotes", "plain_chars",
                "plain_md5")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    text = bytes(p).decode("utf-8")
                    parsed = parse_markdown(text)
                    plain = markdown_to_text(text)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["n_headings"].append(len(parsed["headings"]))
                out["n_code_blocks"].append(len(parsed["code_blocks"]))
                out["code_chars"].append(
                    sum(len(b) for _i, b in parsed["code_blocks"])
                )
                out["n_links"].append(len(parsed["links"]))
                out["n_list_items"].append(len(parsed["list_items"]))
                out["n_blockquotes"].append(len(parsed["blockquotes"]))
                out["plain_chars"].append(len(plain))
                out["plain_md5"].append(
                    hashlib.md5(plain.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, n_headings long, "
                "n_code_blocks long, code_chars long, n_links long, "
                "n_list_items long, n_blockquotes long, plain_chars long, "
                "plain_md5 string"),
    )


def synth_subtitles_payload(df: DataFrame, id_col: str = "doc_id",
                            len_col: str = "n_chars") -> DataFrame:
    """Attach a ``subs`` column: n = id%%5+2 cues per doc, cue k from
    1000k + 100*(id%%7) ms for 900 + 50*(k%%6) ms carrying the doc's
    6-word chunk k; format cycles id%%3 through {SRT, plain WebVTT,
    WebVTT with cue ids + NOTE block}."""
    from .subtitles import build_srt, build_vtt

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            subs = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                cues = []
                for k in range(d % 5 + 2):
                    start = 1000 * k + 100 * (d % 7)
                    cues.append(
                        {
                            "start_ms": start,
                            "end_ms": start + 900 + 50 * (k % 6),
                            "text": " ".join(words[6 * k : 6 * k + 6]),
                        }
                    )
                case = d % 3
                if case == 0:
                    subs.append(build_srt(cues))
                elif case == 1:
                    subs.append(build_vtt(cues))
                else:
                    subs.append(build_vtt(cues, with_ids=True,
                                           note="synth track"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "subs": subs})

    return src.mapInPandas(gen, schema="doc_id long, subs binary")


def subtitles_extract(df: DataFrame, payload_col: str = "subs",
                      id_col: str = "doc_id") -> DataFrame:
    """REAL SRT/WebVTT parse (format sniffed from the WEBVTT header),
    EXPLODED one row per cue with the cue duration.  Corrupt files
    flag a row."""
    from .subtitles import parse_srt, parse_vtt

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("fmt", "idx", "start_ms", "end_ms", "dur_ms", "text")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                p = bytes(p)
                try:
                    if p.lstrip()[:6] == b"WEBVTT":
                        cues, fmt = parse_vtt(p), "vtt"
                    else:
                        cues, fmt = parse_srt(p), "srt"
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for c in cues:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["fmt"].append(fmt)
                    out["idx"].append(c["idx"])
                    out["start_ms"].append(c["start_ms"])
                    out["end_ms"].append(c["end_ms"])
                    out["dur_ms"].append(c["end_ms"] - c["start_ms"])
                    out["text"].append(c["text"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, fmt string, idx long, "
                "start_ms long, end_ms long, dur_ms long, text string"),
    )


def synth_sitemap_payload(df: DataFrame, id_col: str = "doc_id",
                          len_col: str = "n_chars") -> DataFrame:
    """Attach a ``sitemap`` column: n = id%%5+2 urls per doc, loc =
    'https://site{id%%7}.example.org/page{k}?ref=x&k={k}' (the '&'
    exercises entity escaping), lastmod '2026-01-{k%%28+1:02d}' on
    even k, priority (k%%10)/10 when k%%3==0 — closed-form."""
    from .xml import build_sitemap

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            maps = []
            for d in pdf["doc_id"]:
                d = int(d)
                urls = []
                for k in range(d % 5 + 2):
                    u = {
                        "loc": (f"https://site{d % 7}.example.org/"
                                f"page{k}?ref=x&k={k}"),
                    }
                    if k % 2 == 0:
                        u["lastmod"] = f"2026-01-{k % 28 + 1:02d}"
                    if k % 3 == 0:
                        u["priority"] = (k % 10) / 10.0
                    urls.append(u)
                maps.append(build_sitemap(urls))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sitemap": maps})

    return src.mapInPandas(gen, schema="doc_id long, sitemap binary")


def sitemap_extract(df: DataFrame, payload_col: str = "sitemap",
                    id_col: str = "doc_id") -> DataFrame:
    """REAL XML parse (no xml.etree) + sitemap <urlset> extraction,
    EXPLODED one row per URL — the crawl-frontier feed that composes
    with url_parse / robots / domain-quota.  Corrupt documents flag a
    row."""
    from .xml import sitemap_urls

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("url_idx", "loc", "lastmod", "priority")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    rows = sitemap_urls(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for k, r in enumerate(rows):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["url_idx"].append(k)
                    out["loc"].append(r["loc"])
                    out["lastmod"].append(r["lastmod"])
                    out["priority"].append(r["priority"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, url_idx long, loc string, "
                "lastmod string, priority double"),
    )


def synth_rss_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach an ``rss`` column: m = id%%3+1 RSS 2.0 items per doc,
    title 'item {j}: ' + first 4 words + ' & more' (even items
    entity-escaped, odd items CDATA — both forms under the gate),
    link 'https://feed{id%%5}.example.org/{j}', fixed pubDate."""
    from .xml import build_rss

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feeds = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                head = " ".join(str(text).split(" ")[:4])
                items = [
                    {
                        "title": f"item {j}: {head} & more",
                        "link": f"https://feed{d % 5}.example.org/{j}",
                        "pubDate": f"Mon, 0{j % 7 + 1} Jan 2026",
                    }
                    for j in range(d % 3 + 1)
                ]
                feeds.append(build_rss(items))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "rss": feeds})

    return src.mapInPandas(gen, schema="doc_id long, rss binary")


def rss_extract(df: DataFrame, payload_col: str = "rss",
                id_col: str = "doc_id") -> DataFrame:
    """REAL RSS 2.0 / Atom parse, EXPLODED one row per item (CDATA and
    entity-escaped titles both decode).  Corrupt feeds flag a row."""
    from .xml import rss_items

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("item_idx", "title", "link", "published")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    rows = rss_items(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for j, r in enumerate(rows):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["item_idx"].append(j)
                    out["title"].append(r["title"])
                    out["link"].append(r["link"])
                    out["published"].append(r["published"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, item_idx long, title string, "
                "link string, published string"),
    )


def synth_pnm_qoi_payload(df: DataFrame, id_col: str = "doc_id",
                          len_col: str = "n_chars") -> DataFrame:
    """Attach an ``img`` column cycling doc_id %% 8 through the
    Netpbm/QOI lossless matrix: {P2 ASCII gray, P5 gray, P5 16-bit
    big-endian, P3 ASCII RGB, P6 RGB, P6 16-bit, P4 packed bitmap,
    QOI RGB}.  Pixels: gray8 (x+2y)%%256; gray16 (513x+1031y)%%65536;
    rgb8 ((3x)%%256,(5y)%%256,(x+y)%%256); rgb16 ((257x)%%65536,
    (521y)%%65536,(xy)%%65536); bitmap (x+y)%%2; the QOI case paints
    every y%%4==0 row flat 9 (exercising QOI_OP_RUN) and the rgb8
    pattern elsewhere (DIFF/LUMA/INDEX).  Dims w = 8*(id%%6+2),
    h = 8*(len%%6+2) — closed-form for the oracle."""
    from .pnm import encode_pnm, encode_qoi

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 6 + 2)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 6 + 2)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            imgs = []
            for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(d), int(w), int(h)
                y, x = np.mgrid[0:h, 0:w]
                case = d % 8
                if case in (0, 1):
                    a = ((x + 2 * y) % 256).astype(np.uint8)
                    imgs.append(encode_pnm(a, ascii_form=(case == 0)))
                elif case == 2:
                    a = ((513 * x + 1031 * y) % 65536).astype(np.uint16)
                    imgs.append(encode_pnm(a))
                elif case in (3, 4):
                    a = np.stack(
                        [(3 * x) % 256, (5 * y) % 256, (x + y) % 256],
                        axis=2,
                    ).astype(np.uint8)
                    imgs.append(encode_pnm(a, ascii_form=(case == 3)))
                elif case == 5:
                    a = np.stack(
                        [(257 * x) % 65536, (521 * y) % 65536,
                         (x * y) % 65536], axis=2,
                    ).astype(np.uint16)
                    imgs.append(encode_pnm(a))
                elif case == 6:
                    a = ((x + y) % 2).astype(np.uint8)
                    imgs.append(encode_pnm(a, maxval=1))
                else:
                    a = np.stack(
                        [(3 * x) % 256, (5 * y) % 256, (x + y) % 256],
                        axis=2,
                    ).astype(np.uint8)
                    a[y % 4 == 0] = 9
                    imgs.append(encode_qoi(a))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "img": imgs})

    return src.mapInPandas(gen, schema="doc_id long, img binary")


def pnm_qoi_decode_features(df: DataFrame, payload_col: str = "img",
                            id_col: str = "doc_id") -> DataFrame:
    """REAL Netpbm/QOI decode -> per-image statistics over Arrow
    batches (format sniffed from the magic).  Corrupt payloads flag
    the row."""
    from .pnm import decode_pnm, decode_qoi

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("format", "width", "height", "n_channels",
                "px_sum", "px_min", "px_max")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                p = bytes(p)
                try:
                    if p[:4] == b"qoif":
                        img = decode_qoi(p)
                        fmt = "qoif"
                    else:
                        img = decode_pnm(p)
                        fmt = p[:2].decode("latin-1")
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["format"].append(fmt)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["n_channels"].append(
                    1 if img.ndim == 2 else img.shape[2]
                )
                out["px_sum"].append(int(img.sum(dtype=np.int64)))
                out["px_min"].append(int(img.min()))
                out["px_max"].append(int(img.max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, format string, width long, "
                "height long, n_channels long, px_sum long, px_min long, "
                "px_max long"),
    )


def synth_tar_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach a ``tar`` column of ustar archives: one directory entry
    ``doc{d}/`` plus the document's 12-word chunks as members
    ``doc{d}/part{k}.txt``; the container cycles id %% 3 through
    plain .tar, .tar.gz (gzip) and .tar.xz (LZMA2/XZ via stdlib
    lzma), and the HEADER STYLE cycles (id // 3) %% 3 through
    {classic ustar, old-GNU 'L' long-name members for every entry,
    pax 'x' extended headers (path+mtime records) for every entry} —
    member names and data are identical across styles, so the oracle
    is style-independent.  Chunk arithmetic is closed-form for the
    oracle."""
    import gzip as _gzip
    import lzma as _lzma

    from .tar import build_tar

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            tars = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                chunks = [
                    " ".join(words[12 * k : 12 * k + 12])
                    for k in range(-(-len(words) // 12))
                ]
                members = [(f"doc{d}/", b"")] + [
                    (f"doc{d}/part{k}.txt", c.encode("utf-8"))
                    for k, c in enumerate(chunks)
                ]
                style = (d // 3) % 3
                t = build_tar(
                    members,
                    longname=("ustar", "gnu", "pax")[style],
                    meta_all=style > 0,
                )
                if d % 3 == 1:
                    t = _gzip.compress(t, compresslevel=6, mtime=0)
                elif d % 3 == 2:
                    t = _lzma.compress(t, preset=6)
                tars.append(t)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tar": tars})

    return src.mapInPandas(gen, schema="doc_id long, tar binary")


def tar_members_extract(df: DataFrame, payload_col: str = "tar",
                        id_col: str = "doc_id") -> DataFrame:
    """REAL ustar walk over Arrow batches — gzip- or xz-wrapped
    archives transparently decompressed under the archive cap, header
    checksums verified, prefix+name joined — EXPLODED to one row per
    member.  Corrupt archives flag one row."""
    import hashlib

    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import lzma as _lzma

        import pandas as pd

        def unxz_capped(raw: bytes) -> bytes:
            dec = _lzma.LZMADecompressor(format=_lzma.FORMAT_XZ)
            out = dec.decompress(raw, max_length=MAX_ARCHIVE_BYTES)
            if not dec.eof:
                raise ValueError("xz stream exceeds archive cap")
            return out

        cols = ("member_idx", "name", "is_dir", "size", "member_md5")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    p = bytes(p)
                    if p[:2] == b"\x1f\x8b":
                        p = _gunzip_capped(p)
                    elif p[:6] == b"\xfd7zXZ\x00":
                        p = unxz_capped(p)
                    members = parse_tar(p)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for k, m in enumerate(members):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["member_idx"].append(k)
                    out["name"].append(m["name"])
                    out["is_dir"].append(m["typeflag"] == "5")
                    out["size"].append(m["size"])
                    out["member_md5"].append(
                        hashlib.md5(m["data"]).hexdigest()
                    )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, member_idx long, name string, "
                "is_dir boolean, size long, member_md5 string"),
    )


def synth_mbox_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach an ``mbox`` column: m = min(id%3+1, n_words) RFC 5322
    messages per document in one RFC 4155 mbox (envelope lines,
    mboxrd From-quoting); message j carries subject
    'msg {j} ' + the first 3 words and a body of the words with index
    ≡ j (mod m); transfer encoding cycles 7bit/QP/base64 by
    (id + j) %% 3."""
    from .mime import build_email
    from .tar import mbox_join

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )
    ctes = ("7bit", "quoted-printable", "base64")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            boxes = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                m = min(d % 3 + 1, len(words))
                head = " ".join(words[:3])
                msgs = []
                for j in range(m):
                    body = " ".join(words[j::m])
                    msgs.append(
                        build_email(
                            f"msg {j} {head}", "alice@example.org",
                            "list@example.org", body,
                            text_cte=ctes[(d + j) % 3],
                        )
                    )
                boxes.append(mbox_join(msgs))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "mbox": boxes})

    return src.mapInPandas(gen, schema="doc_id long, mbox binary")


def mbox_messages_extract(df: DataFrame, payload_col: str = "mbox",
                          id_col: str = "doc_id") -> DataFrame:
    """REAL mbox split (RFC 4155 envelopes, mboxrd unquoting) + full
    RFC 5322/MIME parse per message, EXPLODED to one row per message.
    Corrupt mailboxes flag one row."""
    import hashlib

    from .mime import parse_email
    from .tar import mbox_split

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("msg_idx", "subject", "n_parts", "body_md5")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    msgs = [parse_email(m) for m in mbox_split(bytes(p))]
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for j, m in enumerate(msgs):
                    texts = [pt for pt in m["parts"]
                             if pt["content_type"] == "text/plain"]
                    body = texts[0]["text"] if texts else ""
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["msg_idx"].append(j)
                    out["subject"].append(m["subject"])
                    out["n_parts"].append(len(m["parts"]))
                    out["body_md5"].append(
                        hashlib.md5(body.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, msg_idx long, subject string, "
                "n_parts long, body_md5 string"),
    )


def synth_email_payload(df: DataFrame, id_col: str = "doc_id",
                        len_col: str = "n_chars") -> DataFrame:
    """Attach an ``eml`` column of COMPLETE RFC 5322 messages built
    from the document text, cycling doc_id %% 4 through {simple 7bit,
    simple quoted-printable with an RFC 2047 encoded-word subject,
    multipart/alternative (text+html) with base64 text parts,
    multipart/mixed (nested alternative + base64 attachment) with QP
    text and encoded-word subject}.  Subject = the first 5 words;
    html = '<p>' + text + '</p>'; attachment bytes are the closed-form
    sequence (7*id + i) %% 256 over n = id%%50+20 bytes."""
    from .mime import build_email

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            emls = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                subject = " ".join(text.split(" ")[:5])
                html = "<p>" + text + "</p>"
                att = bytes((7 * d + i) % 256 for i in range(d % 50 + 20))
                case = d % 4
                if case == 0:
                    e = build_email(subject, "alice@example.org",
                                    "list@example.org", text)
                elif case == 1:
                    e = build_email(subject, "alice@example.org",
                                    "list@example.org", text,
                                    text_cte="quoted-printable",
                                    subject_encoded_word=True)
                elif case == 2:
                    e = build_email(subject, "alice@example.org",
                                    "list@example.org", text,
                                    html_body=html, text_cte="base64")
                else:
                    e = build_email(subject, "alice@example.org",
                                    "list@example.org", text,
                                    html_body=html, attachment=att,
                                    text_cte="quoted-printable",
                                    subject_encoded_word=True)
                emls.append(e)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "eml": emls})

    return src.mapInPandas(gen, schema="doc_id long, eml binary")


def email_extract_features(df: DataFrame, payload_col: str = "eml",
                           id_col: str = "doc_id") -> DataFrame:
    """REAL RFC 5322 / MIME parse over Arrow batches: header
    unfolding, Content-Type parameter parse, recursive multipart walk
    (preamble/epilogue dropped), 7bit/QP/base64 transfer decode,
    RFC 2047 encoded-word subjects — per message: decoded subject,
    leaf part count, text/plain body md5, html presence, attachment
    length and byte sum.  Corrupt messages flag the row."""
    import hashlib

    from .mime import parse_email

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("subject", "n_parts", "body_md5", "has_html",
                "att_len", "att_sum")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    m = parse_email(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                texts = [pt for pt in m["parts"]
                         if pt["content_type"] == "text/plain"]
                att = [pt for pt in m["parts"]
                       if pt["content_type"] == "application/octet-stream"]
                body = texts[0]["text"] if texts else ""
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["subject"].append(m["subject"])
                out["n_parts"].append(len(m["parts"]))
                out["body_md5"].append(
                    hashlib.md5(body.encode("utf-8")).hexdigest()
                )
                out["has_html"].append(
                    any(pt["content_type"] == "text/html"
                        for pt in m["parts"])
                )
                out["att_len"].append(
                    len(att[0]["data"]) if att else 0
                )
                out["att_sum"].append(
                    int(sum(att[0]["data"])) if att else 0
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, subject string, n_parts long, "
                "body_md5 string, has_html boolean, att_len long, "
                "att_sum long"),
    )


def pdf_text_features(df: DataFrame, payload_col: str = "pdf",
                      id_col: str = "doc_id") -> DataFrame:
    """REAL PDF parse + text extraction over Arrow batches: header,
    startxref/xref-table/trailer walk, lazy object parse, page-tree
    traversal, FlateDecode content streams, Tj/TJ text operators —
    whole-document text reassembled page-major (pages joined by
    newlines).  Corrupt payloads flag the row."""
    import hashlib

    from .pdf import parse_pdf, pdf_extract_text

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("n_pages", "n_lines", "n_chars", "text_md5")
        for pdf_batch in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf_batch["doc_id"], pdf_batch[payload_col]):
                try:
                    payload = bytes(p)
                    parse_pdf(payload)  # full structural walk
                    pages = pdf_extract_text(payload)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                text = "\n".join(pages)
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["n_pages"].append(len(pages))
                # count unconditionally: an empty page still emitted
                # one Tj line, matching the oracle's ceil(words/8)
                out["n_lines"].append(
                    sum(len(pg.split("\n")) for pg in pages)
                )
                out["n_chars"].append(len(text))
                out["text_md5"].append(
                    hashlib.md5(text.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, n_pages long, n_lines long, "
                "n_chars long, text_md5 string"),
    )


def synth_warc_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach a ``warc`` column of COMPLETE Common-Crawl-style WARC
    files (per-record gzip members): a warcinfo record plus TWO HTTP
    response records per doc at uri http://corpus.example/<d>/<k>,
    each an HTML page — title 'T<d>-<k>', an h1, a script block (must
    NOT leak into extracted text), and n_chars%5+1 paragraphs
    'para <d> <k> word&amp;<j>' — so the extracted text is a
    closed-form string."""
    from .warc import build_warc

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.col(len_col) % 5 + 1).cast("int").alias("m"),
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            warcs = []
            for doc_id, m in zip(pdf["doc_id"], pdf["m"]):
                d, m = int(doc_id), int(m)
                pages = []
                for k in range(2):
                    paras = "".join(
                        f"<p>para {d} {k} word&amp;{j}</p>" for j in range(m)
                    )
                    html = (
                        f"<html><head><title>T{d}-{k}</title>"
                        f"<script>var x={d};</script></head>"
                        f"<body><h1>Header {d}</h1>{paras}</body></html>"
                    )
                    pages.append((f"http://corpus.example/{d}/{k}", html))
                warcs.append(build_warc(pages, gzip_members=True))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "warc": warcs})

    return src.mapInPandas(gen, schema="doc_id long, warc binary")


def warc_extract_text(df: DataFrame, payload_col: str = "warc",
                      id_col: str = "doc_id") -> DataFrame:
    """Common-Crawl ingestion: EXPLODE WARC shards into one row per
    HTTP response record with deterministic HTML-to-text extraction
    (script/style subtrees dropped, entities decoded, whitespace
    canonicalized) — the first stage of every web-text pipeline.
    Corrupt payloads flag their row (ok=false)."""
    from .warc import html_extract_text, parse_warc

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("page", "uri", "http_status", "text", "n_words")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    recs = [
                        r for r in parse_warc(bytes(p))
                        if r["fields"].get("warc-type") == "response"
                    ]
                    if not recs:
                        raise ValueError("no response records")
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for page, r in enumerate(recs):
                    text = html_extract_text(
                        r["http_body"].decode("utf-8", "replace")
                    )
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["page"].append(page)
                    out["uri"].append(r["fields"].get("warc-target-uri"))
                    out["http_status"].append(r["http_status"])
                    out["text"].append(text)
                    out["n_words"].append(len(text.split()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        extract,
        schema=(
            "doc_id long, ok boolean, page long, uri string, "
            "http_status long, text string, n_words long"
        ),
    )


#: Charsets the charset-extraction synth cycles through.
_WARC_CHARSETS = ["utf-8", "utf-16-le", "iso-8859-1"]


def synth_warc_charset_payload(df: DataFrame, id_col: str = "doc_id",
                               len_col: str = "n_chars") -> DataFrame:
    """Attach a ``warc`` column whose response pages cycle LEGACY text
    encodings — page k of doc d is encoded as
    _WARC_CHARSETS[(d + k) % 3] (utf-16-le gets its BOM, iso-8859-1 is
    declared via Content-Type) and contains non-ASCII text (café /
    naïve / über) so a wrong transcoding is visible in the hash."""
    from .warc import build_warc

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            warcs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                pages = []
                for k in range(3):
                    html = (
                        f"<html><head><title>T{d}-{k}</title></head>"
                        f"<body><p>café {d} {k} "
                        f"naïve&amp;über</p></body></html>"
                    )
                    pages.append(
                        (f"http://corpus.example/{d}/{k}", html,
                         _WARC_CHARSETS[(d + k) % 3])
                    )
                warcs.append(build_warc(pages, gzip_members=True))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "warc": warcs})

    return src.mapInPandas(gen, schema="doc_id long, warc binary")


def warc_charset_extract(df: DataFrame, payload_col: str = "warc",
                         id_col: str = "doc_id") -> DataFrame:
    """Charset-aware WARC text extraction: BOM / Content-Type /
    UTF-8-probe detection (warc.decode_text_body), transcode, then the
    deterministic HTML-to-text rule.  Surfaces the detected charset per
    page so the gate pins detection AND transcoding.  Corrupt payloads
    or undecodable bodies flag the row."""
    from .warc import decode_text_body, html_extract_text, parse_warc

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("page", "charset", "text", "n_words")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    recs = [
                        r for r in parse_warc(bytes(p))
                        if r["fields"].get("warc-type") == "response"
                    ]
                    pages = [
                        decode_text_body(r["http_headers"], r["http_body"])
                        for r in recs
                    ]
                    if not pages:
                        raise ValueError("no response records")
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for page, (charset, body_text) in enumerate(pages):
                    text = html_extract_text(body_text)
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["page"].append(page)
                    out["charset"].append(charset)
                    out["text"].append(text)
                    out["n_words"].append(len(text.split()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        extract,
        schema=("doc_id long, ok boolean, page long, charset string, "
                "text string, n_words long"),
    )


def synth_archive_payload(df: DataFrame, id_col: str = "doc_id",
                          len_col: str = "n_chars") -> DataFrame:
    """Attach an ``archive`` column of COMPLETE shard archives — the
    container format web-scale corpora actually ship in: ZIP (deflate)
    for even doc_ids, gzipped POSIX tar for odd.  Each archive holds
    m = doc_id%4+2 members named doc_<doc_id>_<k>.txt whose text is
    'doc <doc_id> member <k> ' repeated r_k = n_chars%7+k+1 times —
    every member size and content statistic is closed-form."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.col(id_col) % 4 + 2).cast("int").alias("m"),
        (F.col(len_col) % 7).cast("int").alias("rbase"),
    )

    def gen(batches: Iterator) -> Iterator:
        import gzip
        import io
        import tarfile
        import zipfile

        import pandas as pd

        for pdf in batches:
            archives = []
            for doc_id, m, rbase in zip(pdf["doc_id"], pdf["m"], pdf["rbase"]):
                d, m, rbase = int(doc_id), int(m), int(rbase)
                members = [
                    (
                        f"doc_{d}_{k}.txt",
                        (f"doc {d} member {k} " * (rbase + k + 1)).encode(),
                    )
                    for k in range(m)
                ]
                buf = io.BytesIO()
                if d % 2 == 0:
                    with zipfile.ZipFile(
                        buf, "w", compression=zipfile.ZIP_DEFLATED
                    ) as zf:
                        for name, data in members:
                            info = zipfile.ZipInfo(name)  # fixed 1980 date
                            # ZipInfo defaults to ZIP_STORED and overrides
                            # the ZipFile-level setting; set it so the
                            # deflate read path is actually exercised.
                            info.compress_type = zipfile.ZIP_DEFLATED
                            zf.writestr(info, data)
                else:
                    tbuf = io.BytesIO()
                    with tarfile.open(fileobj=tbuf, mode="w",
                                      format=tarfile.USTAR_FORMAT) as tf:
                        for name, data in members:
                            info = tarfile.TarInfo(name)
                            info.size = len(data)
                            tf.addfile(info, io.BytesIO(data))
                    buf.write(gzip.compress(tbuf.getvalue(), mtime=0))
                archives.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "archive": archives})

    return src.mapInPandas(gen, schema="doc_id long, archive binary")


#: Decode-side caps: a hostile archive must not expand past these.
MAX_ARCHIVE_MEMBERS = 10_000
MAX_MEMBER_BYTES = 64 << 20
#: Total decompressed bytes allowed for one gzipped shard — enforced
#: DURING streamed decompression so a gzip bomb never expands fully.
MAX_ARCHIVE_BYTES = 256 << 20


def _gunzip_capped(p: bytes, cap: int = MAX_ARCHIVE_BYTES) -> bytes:
    """Stream-decompress a gzip payload with a running total-output
    cap; raises ``ValueError`` the moment the cap is exceeded rather
    than materializing a bomb (same contract as
    ``warc._split_gzip_members``)."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    out = []
    total = 0
    i = 0
    while i < len(p):
        chunk = d.decompress(p[i:i + (1 << 20)], cap - total + 1)
        total += len(chunk)
        if total > cap:
            raise ValueError("gzip expansion exceeds archive cap")
        out.append(chunk)
        while d.unconsumed_tail:
            chunk = d.decompress(d.unconsumed_tail, cap - total + 1)
            total += len(chunk)
            if total > cap:
                raise ValueError("gzip expansion exceeds archive cap")
            out.append(chunk)
        i += 1 << 20
    return b"".join(out)


def archive_members_extract(df: DataFrame, payload_col: str = "archive",
                            id_col: str = "doc_id") -> DataFrame:
    """EXPLODE shard archives into one row per member — the ingestion
    step that turns a corpus of tar/zip shards into a documents table.
    Sniffs ZIP (PK signature) vs gzip/tar, streams members inside the
    Arrow batch (never materializing the whole shard corpus), and
    bounds both member count and per-member size against zip-bomb
    style hostiles (flagging the row, not aborting the job).  Output:
    (doc_id, ok, fmt, member_name, member_bytes, member_text_hash) —
    content is reduced to size + md5 so only bounded data leaves the
    task."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def extract(batches: Iterator) -> Iterator:
        import hashlib
        import io
        import tarfile
        import zipfile

        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "ok": [], "fmt": [], "member_name": [],
                   "member_bytes": [], "member_md5": []}

            def flag(doc_id):
                out["doc_id"].append(doc_id)
                out["ok"].append(False)
                for c in ("fmt", "member_name", "member_bytes", "member_md5"):
                    out[c].append(None)

            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                p = bytes(p)
                try:
                    members = []
                    if p[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
                        fmt = "zip"
                        with zipfile.ZipFile(io.BytesIO(p)) as zf:
                            infos = zf.infolist()
                            if len(infos) > MAX_ARCHIVE_MEMBERS:
                                raise ValueError("too many archive members")
                            for info in infos:
                                if info.file_size > MAX_MEMBER_BYTES:
                                    raise ValueError("member exceeds size cap")
                                with zf.open(info) as f:
                                    data = f.read(MAX_MEMBER_BYTES + 1)
                                if len(data) != info.file_size:
                                    raise ValueError(
                                        "member size disagrees with directory"
                                    )
                                members.append((info.filename, data))
                    elif p[:2] == b"\x1f\x8b" or p[257:262] == b"ustar":
                        fmt = "tar"
                        raw = _gunzip_capped(p) if p[:2] == b"\x1f\x8b" else p
                        with tarfile.open(fileobj=io.BytesIO(raw)) as tf:
                            n = 0
                            for info in tf:
                                if not info.isfile():
                                    continue
                                n += 1
                                if n > MAX_ARCHIVE_MEMBERS:
                                    raise ValueError("too many archive members")
                                if info.size > MAX_MEMBER_BYTES:
                                    raise ValueError("member exceeds size cap")
                                f = tf.extractfile(info)
                                members.append((info.name, f.read()))
                    else:
                        raise ValueError("unknown archive format")
                    if not members:
                        raise ValueError("archive has no file members")
                except Exception:
                    flag(doc_id)
                    continue
                for name, data in members:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["fmt"].append(fmt)
                    out["member_name"].append(name)
                    out["member_bytes"].append(len(data))
                    out["member_md5"].append(hashlib.md5(data).hexdigest())
            yield pd.DataFrame(out)

    return src.mapInPandas(
        extract,
        schema=(
            "doc_id long, ok boolean, fmt string, member_name string, "
            "member_bytes long, member_md5 string"
        ),
    )


def synth_gif_payload(df: DataFrame, id_col: str = "doc_id",
                      len_col: str = "n_chars") -> DataFrame:
    """Attach a ``gif`` column of COMPLETE animated GIF89a files: two
    frames — a checkerboard of colors A/B, then the same with a C
    rectangle over the top-left quadrant — w = 8*(doc_id%4+1),
    h = 8*(n_chars%4+1), interlacing cycling by doc_id parity.
    A = (doc_id%256, doc_id*7%256, 11), B = (doc_id*3%256, 200,
    doc_id*5%256), C = (doc_id*11%256, 33, 77).  The palette pipeline
    is lossless, so the composited last frame is closed-form."""
    from .gif import encode_gif

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            gifs = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                d, w, h = int(doc_id), int(w), int(h)
                y, x = np.mgrid[0:h, 0:w]
                a = np.array([d % 256, d * 7 % 256, 11], dtype=np.uint8)
                b = np.array([d * 3 % 256, 200, d * 5 % 256], dtype=np.uint8)
                f1 = np.where(((x + y) % 2 == 0)[:, :, None], a, b).astype(np.uint8)
                f2 = f1.copy()
                f2[: h // 2, : w // 2] = [d * 11 % 256, 33, 77]
                gifs.append(encode_gif([f1, f2], interlace=bool(d % 2)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "gif": gifs})

    return src.mapInPandas(gen, schema="doc_id long, gif binary")


def gif_decode_features(df: DataFrame, payload_col: str = "gif",
                        id_col: str = "doc_id") -> DataFrame:
    """REAL GIF decode over Arrow batches (full GIF89a parse: LZW,
    interlace, extensions, animation compositing) reduced to
    integer-exact statistics of the final composited frame.  Corrupt
    payloads flag their row (ok=false)."""
    from .gif import decode_gif_frames

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("n_frames", "width", "height", "r_sum", "g_sum", "b_sum")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    frames, w, h = decode_gif_frames(bytes(p))
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                last = frames[-1]
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["n_frames"].append(len(frames))
                out["width"].append(int(w))
                out["height"].append(int(h))
                out["r_sum"].append(int(last[:, :, 0].sum(dtype=np.int64)))
                out["g_sum"].append(int(last[:, :, 1].sum(dtype=np.int64)))
                out["b_sum"].append(int(last[:, :, 2].sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, ok boolean, n_frames long, width long, "
            "height long, r_sum long, g_sum long, b_sum long"
        ),
    )


def synth_webp_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach a ``webp`` column of COMPLETE lossless WebP (VP8L) files:
    per row a w×h RGBA image with r=(doc_id+x)%256, g=(doc_id*3+y)%256,
    b=(x+y)%256, a=255; w = 8*(doc_id%4+1), h = 8*(n_chars%4+1);
    subtract-green cycles on/off by doc_id parity.  VP8L is LOSSLESS,
    so every pixel statistic is closed-form from (doc_id, n_chars)."""
    from .webp import encode_webp_lossless

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.lit(8) * (F.col(id_col) % 4 + 1)).cast("int").alias("w"),
        (F.lit(8) * (F.col(len_col) % 4 + 1)).cast("int").alias("h"),
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            webps = []
            for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                y, x = np.mgrid[0 : int(h), 0 : int(w)]
                img = np.stack(
                    [
                        (int(doc_id) + x) % 256,
                        (int(doc_id) * 3 + y) % 256,
                        (x + y) % 256,
                        np.full_like(x, 255),
                    ],
                    axis=2,
                ).astype(np.uint8)
                webps.append(
                    encode_webp_lossless(img, subtract_green=bool(doc_id % 2))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "webp": webps})

    return src.mapInPandas(gen, schema="doc_id long, webp binary")


def webp_decode_features(df: DataFrame, payload_col: str = "webp",
                         id_col: str = "doc_id") -> DataFrame:
    """REAL WebP-lossless decode over Arrow batches (full VP8L parse:
    transforms, prefix codes, LZ77, color cache) reduced to
    integer-exact per-channel statistics.  Corrupt payloads flag their
    row (ok=false)."""
    from .webp import decode_webp

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ("width", "height", "r_sum", "g_sum", "b_sum",
                "a_min", "rgb_max")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    img = decode_webp(bytes(p))
                except (ValueError, NotImplementedError):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["width"].append(int(img.shape[1]))
                out["height"].append(int(img.shape[0]))
                out["r_sum"].append(int(img[:, :, 0].sum(dtype=np.int64)))
                out["g_sum"].append(int(img[:, :, 1].sum(dtype=np.int64)))
                out["b_sum"].append(int(img[:, :, 2].sum(dtype=np.int64)))
                out["a_min"].append(int(img[:, :, 3].min()))
                out["rgb_max"].append(int(img[:, :, :3].max()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=(
            "doc_id long, ok boolean, width long, height long, "
            "r_sum long, g_sum long, b_sum long, a_min long, rgb_max long"
        ),
    )


# -----------------------------------------------------------------------------
# DOCX / EPUB — packaged-document compositions (operators/docx.py,
# operators/epub.py): the OOXML/OCF zip container + this repo's
# from-scratch XML parser (+ the WARC HTML text extractor for EPUB).
# -----------------------------------------------------------------------------


def synth_docx_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach a ``docx`` column of COMPLETE .docx files built from the
    document text: paragraphs are 9-word chunks, paragraph k is a
    Heading1 when (doc_id + k) %% 4 == 0, title = the first two words,
    zip deflate for even ids / stored for odd.  Each paragraph is
    written as two runs split at the word midpoint, so reassembly is
    always multi-run.  Chunk arithmetic is closed-form for the
    oracle."""
    from .docx import build_docx

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                paras = [
                    (
                        " ".join(words[9 * k : 9 * k + 9]),
                        (d + k) % 4 == 0,
                    )
                    for k in range(-(-len(words) // 9))
                ]
                payloads.append(
                    build_docx(
                        paras,
                        title=" ".join(words[:2]),
                        compress=d % 2 == 0,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "docx": payloads})

    return src.mapInPandas(gen, schema="doc_id long, docx binary")


def docx_text_features(df: DataFrame, payload_col: str = "docx",
                       id_col: str = "doc_id") -> DataFrame:
    """REAL DOCX parse over Arrow batches: zip container walk,
    from-scratch WordprocessingML XML parse, per-paragraph multi-run
    text reassembly in document order, Heading-style count, Dublin
    Core title.  Corrupt payloads flag the row."""
    import hashlib

    from .docx import parse_docx

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("title", "n_paras", "n_headings", "n_chars", "text_md5")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    parsed = parse_docx(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                paras = parsed["paragraphs"]
                text = "\n".join(p["text"] for p in paras)
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["title"].append(parsed["title"])
                out["n_paras"].append(len(paras))
                out["n_headings"].append(
                    sum(1 for p in paras if p["heading"])
                )
                out["n_chars"].append(len(text))
                out["text_md5"].append(
                    hashlib.md5(text.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, title string, n_paras long, "
                "n_headings long, n_chars long, text_md5 string"),
    )


def synth_epub_payload(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars") -> DataFrame:
    """Attach an ``epub`` column of COMPLETE .epub files: lines are
    10-word chunks, chapters c = min(doc_id%%3+1, L) with line j in
    chapter j %% c (balanced, never empty), chapter k headed
    'Chapter k of <doc_id>', book title 'Book <doc_id>'.  Chunk
    arithmetic is closed-form for the oracle."""
    from .epub import build_epub

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                lines = [
                    " ".join(words[10 * j : 10 * j + 10])
                    for j in range(-(-len(words) // 10))
                ]
                c = min(d % 3 + 1, len(lines))
                chapters = [
                    (
                        f"Chapter {k} of {d}",
                        [ln for j, ln in enumerate(lines) if j % c == k],
                    )
                    for k in range(c)
                ]
                payloads.append(build_epub(chapters, title=f"Book {d}"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "epub": payloads})

    return src.mapInPandas(gen, schema="doc_id long, epub binary")


def epub_text_features(df: DataFrame, payload_col: str = "epub",
                       id_col: str = "doc_id") -> DataFrame:
    """REAL EPUB parse over Arrow batches: OCF container walk,
    container.xml -> OPF -> spine resolution with the from-scratch
    XML parser, per-chapter XHTML text extraction, chapters joined by
    newlines in spine order.  Corrupt payloads flag the row."""
    import hashlib

    from .epub import parse_epub

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("title", "n_chapters", "n_chars", "text_md5")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    parsed = parse_epub(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                text = "\n".join(c["text"] for c in parsed["chapters"])
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["title"].append(parsed["title"])
                out["n_chapters"].append(len(parsed["chapters"]))
                out["n_chars"].append(len(text))
                out["text_md5"].append(
                    hashlib.md5(text.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, title string, n_chapters long, "
                "n_chars long, text_md5 string"),
    )


def codec_roundtrip_features(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             chunk_bytes: int = 4096) -> DataFrame:
    """Snappy framing-format + LZ4 block round-trip over Arrow
    batches with the repo's FROM-SCRATCH codecs (operators/snappy.py,
    operators/lz4.py — both cross-validated against Arrow's native
    implementations in tests): compress each document's text with
    both, decode with the from-scratch decoders, verify the framing
    CRC-32C per chunk, and emit the census a foreign-data-file walk
    needs.  Any codec error flags the row."""
    import hashlib

    from .lz4 import (
        lz4_compress_block,
        lz4_decompress_block,
        lz4_frame_compress,
        lz4_frame_decompress,
    )
    from .snappy import snappy_frame_compress, snappy_frame_decompress

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("n_bytes", "snappy_chunks", "snappy_md5", "lz4_md5",
                "lz4f_md5", "codecs_agree")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                try:
                    raw = str(text).encode("utf-8")
                    sdec, nch = snappy_frame_decompress(
                        snappy_frame_compress(raw,
                                              chunk_bytes=chunk_bytes))
                    ldec = lz4_decompress_block(
                        lz4_compress_block(raw), len(raw))
                    fdec = lz4_frame_decompress(
                        lz4_frame_compress(raw, block_checksums=True))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["n_bytes"].append(len(raw))
                out["snappy_chunks"].append(nch)
                out["snappy_md5"].append(hashlib.md5(sdec).hexdigest())
                out["lz4_md5"].append(hashlib.md5(ldec).hexdigest())
                out["lz4f_md5"].append(hashlib.md5(fdec).hexdigest())
                out["codecs_agree"].append(sdec == ldec == fdec)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, n_bytes long, "
                "snappy_chunks long, snappy_md5 string, lz4_md5 string, "
                "lz4f_md5 string, codecs_agree boolean"),
    )


def synth_cc_warc_payload(df: DataFrame, id_col: str = "doc_id",
                          len_col: str = "n_chars") -> DataFrame:
    """Attach a ``warc`` column for the Common-Crawl-toolchain
    queries: two response records per doc at
    http://www.corpus{d%%5}.example/{d}/{k}?b=2&a=1 (unsorted query,
    www. prefix — SURT must fix both), each page carrying a title
    T{d}-{k}, an h1, d%%4+1 anchor links to /l{i}, and n_chars%%5+1
    'para {d} {k} word&amp;{j}' paragraphs — every derived artifact
    (WET text, WAT metadata, CDX-J key/digest) closed-form."""
    from .warc import build_warc

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.col(len_col) % 5 + 1).cast("int").alias("m"),
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            warcs = []
            for doc_id, m in zip(pdf["doc_id"], pdf["m"]):
                d, m = int(doc_id), int(m)
                n_links = d % 4 + 1
                pages = []
                for k in range(2):
                    anchors = "".join(
                        f'<a href="/l{i}">link {i}</a>'
                        for i in range(n_links)
                    )
                    paras = "".join(
                        f"<p>para {d} {k} word&amp;{j}</p>"
                        for j in range(m)
                    )
                    html = (
                        f"<html><head><title>T{d}-{k}</title></head>"
                        f"<body><h1>Header {d}</h1>{anchors}{paras}"
                        f"</body></html>"
                    )
                    uri = (f"http://www.corpus{d % 5}.example/{d}/{k}"
                           f"?b=2&a=1")
                    pages.append((uri, html))
                warcs.append(build_warc(pages, gzip_members=True))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "warc": warcs})

    return src.mapInPandas(gen, schema="doc_id long, warc binary")


def _cc_captures(payload: bytes) -> list[dict]:
    """Parse a WARC shard into the capture dicts the WET/WAT/CDX
    builders consume: uri, raw html, extracted text, title, links,
    status, mime."""
    import hashlib

    from .warc import (
        html_extract_links,
        html_extract_metadata,
        html_extract_text,
        parse_warc,
    )

    caps = []
    for r in parse_warc(payload):
        if r["fields"].get("warc-type") != "response":
            continue
        body = r["http_body"]
        html = body.decode("utf-8")
        meta = html_extract_metadata(html)
        mime = r["http_headers"].get("content-type", "")
        mime = mime.split(";", 1)[0].strip()
        caps.append({
            "uri": r["fields"]["warc-target-uri"],
            "text": html_extract_text(html),
            "title": meta.get("title"),
            "links": html_extract_links(html),
            "status": r["http_status"],
            "mime": mime,
            "digest": "md5:" + hashlib.md5(body).hexdigest(),
            "length": len(body),
        })
    return caps


def wet_derive_extract(df: DataFrame, payload_col: str = "warc",
                       id_col: str = "doc_id") -> DataFrame:
    """WARC -> WET -> parse-back chain: build REAL WET bytes (WARC
    conversion records) from each shard's extracted text, re-parse
    them, and explode one row per conversion record — proving the
    derived artifact round-trips, not just the in-memory text."""
    import hashlib

    from .cdx import build_wet, parse_wet

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("rec_idx", "uri", "n_chars", "text_md5")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    recs = parse_wet(build_wet(_cc_captures(bytes(p))))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for i, rec in enumerate(recs):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["rec_idx"].append(i)
                    out["uri"].append(rec["uri"])
                    out["n_chars"].append(len(rec["text"]))
                    out["text_md5"].append(hashlib.md5(
                        rec["text"].encode("utf-8")).hexdigest())
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, rec_idx long, uri string, "
                "n_chars long, text_md5 string"),
    )


def wat_derive_extract(df: DataFrame, payload_col: str = "warc",
                       id_col: str = "doc_id") -> DataFrame:
    """WARC -> WAT -> parse-back chain: build REAL WAT bytes (JSON
    metadata records) and re-parse them, one row per capture."""
    from .cdx import build_wat, parse_wat

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("rec_idx", "uri", "title", "n_links", "status")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    recs = parse_wat(build_wat(_cc_captures(bytes(p))))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for i, rec in enumerate(recs):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["rec_idx"].append(i)
                    out["uri"].append(rec["uri"])
                    out["title"].append(rec["title"])
                    out["n_links"].append(len(rec["links"]))
                    out["status"].append(rec["status"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, rec_idx long, uri string, "
                "title string, n_links long, status long"),
    )


def cdxj_index_extract(df: DataFrame, payload_col: str = "warc",
                       id_col: str = "doc_id") -> DataFrame:
    """WARC -> CDX-J -> parse-back chain: build the sorted capture
    index (SURT urlkey + JSON block) and re-parse it, one row per
    capture — the lookup artifact a 100 TB crawl is addressed by."""
    from .cdx import build_cdxj, parse_cdxj

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("urlkey", "timestamp", "url", "mime", "status",
                "digest", "length")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    rows = parse_cdxj(build_cdxj(_cc_captures(bytes(p))))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for rec in rows:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    for c in cols:
                        out[c].append(rec[c])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, urlkey string, "
                "timestamp string, url string, mime string, "
                "status long, digest string, length long"),
    )


def synth_tga_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``tga`` column cycling doc_id %% 6 over {gray
    bottom-up, BGR24 top-down, BGRA32 bottom-up + TGA2 footer, RLE
    BGR24 with flat rows every y%%4==0 (forcing run packets),
    colormapped 8-bit with a 256-entry (i, 2i, 3i) palette, RLE gray
    bottom-up}; dims 8*(id%%6+2) x 8*(n_chars%%6+2); pixel grids the
    same modular forms as the PNM synth so the oracle is closed-form."""
    from .tga import build_tga

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        pal = [(i, (2 * i) % 256, (3 * i) % 256) for i in range(256)]

        def grid(c, w, h):
            px = []
            for y in range(h):
                for x in range(w):
                    if c in (0, 5):
                        px.append((x + 2 * y) % 256)
                    elif c == 1:
                        px.append(((3 * x) % 256, (5 * y) % 256,
                                   (x + y) % 256))
                    elif c == 2:
                        px.append(((3 * x) % 256, (5 * y) % 256,
                                   (x + y) % 256, (x + 3 * y) % 256))
                    elif c == 3:
                        px.append((7, 11, 13) if y % 4 == 0 else
                                  ((3 * x) % 256, (5 * y) % 256,
                                   (x + y) % 256))
                    else:
                        px.append((x + y) % 256)
            return px

        kw_by_c = [
            dict(image_type=3, top_down=False),
            dict(image_type=2, top_down=True),
            dict(image_type=2, top_down=False, footer=True),
            dict(image_type=10, top_down=True),
            dict(image_type=1, palette=pal, top_down=False),
            dict(image_type=11, top_down=False),
        ]
        for pdf in batches:
            payloads = []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                d, nc = int(d), int(nc)
                c = d % 6
                w, h = 8 * (d % 6 + 2), 8 * (nc % 6 + 2)
                payloads.append(build_tga(
                    width=w, height=h, pixels=grid(c, w, h),
                    **kw_by_c[c]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tga": payloads})

    return src.mapInPandas(gen, schema="doc_id long, tga binary")


def tga_decode_features(df: DataFrame, payload_col: str = "tga",
                        id_col: str = "doc_id") -> DataFrame:
    """REAL TGA decode over Arrow batches — truecolor/gray/colormap,
    RLE run+raw packets, both row origins normalized top-down, TGA2
    footer tolerated — emitting the same pixel-statistic columns as
    the other raster decoders.  Corrupt payloads flag the row."""
    from .tga import parse_tga

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("image_type", "width", "height", "n_channels",
                "px_sum", "px_min", "px_max")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    m = parse_tga(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                vals = [v for px in m["pixels"] for v in px]
                out["doc_id"].append(doc_id)
                out["ok"].append(True)
                out["image_type"].append(m["image_type"])
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["n_channels"].append(m["n_channels"])
                out["px_sum"].append(sum(vals))
                out["px_min"].append(min(vals))
                out["px_max"].append(max(vals))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, image_type long, width long, "
                "height long, n_channels long, px_sum long, px_min long, "
                "px_max long"),
    )


def synth_avro_ocf_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach an ``avro`` column of Object Container Files: doc_id %%
    5 + 2 records per file ({doc_id, rec_idx, head = first two words
    + ' r<j>', n_words}), 2 records per block so multi-block walks
    and per-block sync markers are exercised, codec cycling
    null/deflate/snappy by id %% 3 — all closed-form."""
    import json as _json

    from ..sources.avro_ocf import write_ocf

    schema = _json.dumps({
        "type": "record", "name": "Doc", "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "rec_idx", "type": "long"},
            {"name": "head", "type": "string"},
            {"name": "n_words", "type": "long"},
        ]})

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                head2 = " ".join(words[:2])
                recs = [
                    {"doc_id": d, "rec_idx": j,
                     "head": f"{head2} r{j}", "n_words": len(words)}
                    for j in range(d % 5 + 2)
                ]
                payloads.append(write_ocf(
                    schema, recs,
                    codec=("null", "deflate", "snappy")[d % 3],
                    records_per_block=2, sync_seed=d))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "avro": payloads})

    return src.mapInPandas(gen, schema="doc_id long, avro binary")


def avro_ocf_extract(df: DataFrame, payload_col: str = "avro",
                     id_col: str = "doc_id") -> DataFrame:
    """REAL Avro OCF walk over Arrow batches — metadata map, per-
    block sync verification, null/deflate/snappy codecs (snappy CRC
    checked with the from-scratch decoder) — EXPLODED one row per
    record.  Corrupt files flag one row."""
    from ..sources.avro_ocf import read_ocf

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("codec", "n_blocks", "rec_idx", "head", "n_words")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    m = read_ocf(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for rec in m["records"]:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["codec"].append(m["codec"])
                    out["n_blocks"].append(m["n_blocks"])
                    out["rec_idx"].append(rec["rec_idx"])
                    out["head"].append(rec["head"])
                    out["n_words"].append(rec["n_words"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, codec string, n_blocks long, "
                "rec_idx long, head string, n_words long"),
    )


def synth_delta_log_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``log`` column: a ustar tar of a ``_delta_log/``
    directory with doc_id %% 4 + 2 commits — commit 0 carries
    protocol+metaData plus the part-0 add; commit j adds
    part-j.parquet (size 1000+17j, numRecords 100+j, partition lang
    cycling en/de/fr by j%%3); every even commit j >= 2 removes
    part-(j-1) — so the live snapshot is closed-form."""
    from .delta_log import build_delta_log, commit_filename
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    langs = ("en", "de", "fr")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                k = d % 4 + 2
                commits = {}
                for j in range(k):
                    actions = []
                    if j == 0:
                        actions.append({"protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 2}})
                        actions.append({"metaData": {
                            "id": f"tbl-{d}",
                            "format": {"provider": "parquet"},
                            "partitionColumns": ["lang"]}})
                    actions.append({"add": {
                        "path": f"part-{j}.parquet",
                        "partitionValues": {"lang": langs[j % 3]},
                        "size": 1000 + 17 * j,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": json_dumps_sorted(
                            {"numRecords": 100 + j})}})
                    if j >= 2 and j % 2 == 0:
                        actions.append({"remove": {
                            "path": f"part-{j - 1}.parquet",
                            "deletionTimestamp": 0,
                            "dataChange": True}})
                    commits[j] = actions
                files = build_delta_log(commits)
                members = [("_delta_log/", b"")] + [
                    (f"_delta_log/{commit_filename(v)}",
                     files[commit_filename(v)])
                    for v in sorted(commits)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "log": payloads})

    return src.mapInPandas(gen, schema="doc_id long, log binary")


def json_dumps_sorted(obj) -> str:
    import json as _json

    return _json.dumps(obj, sort_keys=True, separators=(",", ":"))


def synth_delta_checkpoint_payload(df: DataFrame,
                                   id_col: str = "doc_id") -> DataFrame:
    """Attach a ``log`` column: a ustar tar of a ``_delta_log/`` whose
    commits 0..cp have been VACUUMED — replay-from-zero is impossible
    — leaving ``_last_checkpoint``, the version-cp parquet checkpoint
    (written by pyarrow, the reference fixture writer; every 3rd doc
    splits it into a 2-part ``<v>.checkpoint.<i>.<n>.parquet``), and
    JSON commits cp+1..k-1.  Same add/remove arithmetic as
    synth_delta_log_payload with k = doc_id %% 4 + 5 versions and
    cp = k-3: the checkpoint carries protocol+metaData rows, the
    live-at-cp add rows, and expired-tombstone remove rows (which
    must NOT re-enter the live set)."""
    from .delta_log import (
        build_delta_log,
        checkpoint_filename,
        commit_filename,
    )
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    langs = ("en", "de", "fr")

    def gen(batches: Iterator) -> Iterator:
        import io
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        add_t = pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ])
        rm_t = pa.struct([("path", pa.string()),
                          ("deletionTimestamp", pa.int64())])
        md_t = pa.struct([("id", pa.string()),
                          ("partitionColumns",
                           pa.list_(pa.string()))])
        pr_t = pa.struct([("minReaderVersion", pa.int32()),
                          ("minWriterVersion", pa.int32())])

        def action_rows(d: int, cp: int) -> list[dict]:
            rows = [
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion": 2}},
                {"metaData": {"id": f"tbl-{d}",
                              "partitionColumns": ["lang"]}},
            ]
            for j in range(cp + 1):
                if j % 2 == 1 and j <= cp - 1:
                    rows.append({"remove": {
                        "path": f"part-{j}.parquet",
                        "deletionTimestamp": 0}})
                else:
                    rows.append({"add": {
                        "path": f"part-{j}.parquet",
                        "partitionValues": [("lang", langs[j % 3])],
                        "size": 1000 + 17 * j,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": json_dumps_sorted(
                            {"numRecords": 100 + j})}})
            return rows

        def to_parquet(rows: list[dict]) -> bytes:
            t = pa.table({
                "add": pa.array([r.get("add") for r in rows], add_t),
                "remove": pa.array([r.get("remove") for r in rows],
                                   rm_t),
                "metaData": pa.array(
                    [r.get("metaData") for r in rows], md_t),
                "protocol": pa.array(
                    [r.get("protocol") for r in rows], pr_t),
            })
            buf = io.BytesIO()
            pq.write_table(t, buf, compression="snappy")
            return buf.getvalue()

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                k = d % 4 + 5
                cp = k - 3
                rows = action_rows(d, cp)
                members = [("_delta_log/", b"")]
                if d % 3 == 0:  # multi-part checkpoint
                    half = len(rows) // 2
                    members += [
                        (f"_delta_log/"
                         f"{checkpoint_filename(cp, i + 1, 2)}",
                         to_parquet(part))
                        for i, part in enumerate(
                            (rows[:half], rows[half:]))
                    ]
                else:
                    members.append(
                        (f"_delta_log/{checkpoint_filename(cp)}",
                         to_parquet(rows)))
                members.append((
                    "_delta_log/_last_checkpoint",
                    _json.dumps({"version": cp, "size": len(rows)}
                                ).encode("utf-8")))
                # post-checkpoint JSON commits (pre-cp ones vacuumed)
                commits = {}
                for j in range(cp + 1, k):
                    actions = [{"add": {
                        "path": f"part-{j}.parquet",
                        "partitionValues": {"lang": langs[j % 3]},
                        "size": 1000 + 17 * j,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": json_dumps_sorted(
                            {"numRecords": 100 + j})}}]
                    if j % 2 == 0:
                        actions.append({"remove": {
                            "path": f"part-{j - 1}.parquet",
                            "deletionTimestamp": 0,
                            "dataChange": True}})
                    commits[j] = actions
                files = build_delta_log(commits)
                members += [
                    (f"_delta_log/{commit_filename(v)}",
                     files[commit_filename(v)])
                    for v in sorted(commits)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "log": payloads})

    return src.mapInPandas(gen, schema="doc_id long, log binary")


def synth_delta_dv_payload(df: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """Attach a ``log`` column: a ustar tar of a ``_delta_log/``
    whose commit 1 is a DELETE with DELETION VECTORS — each affected
    file removed and re-added with a DV descriptor (the protocol's
    merge-on-read shape): file j (of k = doc_id %% 4 + 3) loses
    j %% 4 rows (indexes 7t), via inline Z85 ('i'), per-file UUID
    sidecar ('u'), or a SHARED multi-DV .bin with offsets ('p'),
    cycling by j %% 3."""
    import uuid as _uuid

    from .delta_log import (
        build_delta_log,
        build_dv_file,
        commit_filename,
    )
    from .roaring import serialize_bitmap_array, z85_encode
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                k = d % 4 + 3
                adds0 = [{"add": {
                    "path": f"part-{j}.parquet",
                    "partitionValues": {},
                    "size": 1000 + 17 * j,
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json_dumps_sorted(
                        {"numRecords": 100 + j})}}
                    for j in range(k)]
                commit0 = [
                    {"protocol": {"minReaderVersion": 3,
                                  "minWriterVersion": 7}},
                    {"metaData": {"id": f"tbl-{d}"}},
                ] + adds0
                members = [("_delta_log/", b""), ("dv/", b"")]
                commit1 = []
                shared_blobs: list[bytes] = []
                shared_js: list[int] = []
                for j in range(k):
                    c = j % 4
                    if c == 0:
                        continue
                    rows = [7 * t for t in range(c)]
                    blob = serialize_bitmap_array(rows)
                    st = ("i", "u", "p")[j % 3]
                    if st == "i":
                        pad = (-len(blob)) % 4
                        desc = {
                            "storageType": "i",
                            "pathOrInlineDv": z85_encode(
                                blob + b"\x00" * pad),
                            "sizeInBytes": len(blob),
                            "cardinality": c,
                        }
                    elif st == "u":
                        ub = bytes([(d + 13 * j + t) % 256
                                    for t in range(16)])
                        fblob, offs = build_dv_file([blob])
                        members.append((
                            f"deletion_vector_"
                            f"{_uuid.UUID(bytes=ub)}.bin", fblob))
                        desc = {
                            "storageType": "u",
                            "pathOrInlineDv": z85_encode(ub),
                            "offset": offs[0],
                            "sizeInBytes": len(blob),
                            "cardinality": c,
                        }
                    else:
                        shared_blobs.append(blob)
                        shared_js.append(j)
                        desc = None  # offset known after build
                    commit1.append({"remove": {
                        "path": f"part-{j}.parquet",
                        "deletionTimestamp": 1,
                        "dataChange": False}})
                    commit1.append({"add": {
                        "path": f"part-{j}.parquet",
                        "partitionValues": {},
                        "size": 1000 + 17 * j,
                        "modificationTime": 1,
                        "dataChange": False,
                        "stats": json_dumps_sorted(
                            {"numRecords": 100 + j}),
                        "deletionVector": desc}})
                if shared_blobs:
                    fblob, offs = build_dv_file(shared_blobs)
                    members.append(("dv/deletes.bin", fblob))
                    by_j = dict(zip(shared_js, offs))
                    for action in commit1:
                        a = action.get("add")
                        if a and a.get("deletionVector") is None:
                            j = int(a["path"].split("-")[1]
                                    .split(".")[0])
                            if j in by_j:
                                a["deletionVector"] = {
                                    "storageType": "p",
                                    "pathOrInlineDv":
                                        "dv/deletes.bin",
                                    "offset": by_j[j],
                                    "sizeInBytes": len(
                                        shared_blobs[
                                            shared_js.index(j)]),
                                    "cardinality": j % 4,
                                }
                # adds without a DV keep deletionVector absent
                for action in commit1:
                    a = action.get("add")
                    if a and a.get("deletionVector") is None:
                        a.pop("deletionVector", None)
                files = build_delta_log({0: commit0, 1: commit1})
                members += [
                    (f"_delta_log/{commit_filename(v)}",
                     files[commit_filename(v)])
                    for v in (0, 1)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "log": payloads})

    return src.mapInPandas(gen, schema="doc_id long, log binary")


def delta_dv_snapshot_extract(df: DataFrame, payload_col: str = "log",
                              id_col: str = "doc_id") -> DataFrame:
    """Untar a DV-bearing ``_delta_log/``, replay it, resolve every
    deletion vector (inline / uuid sidecar / shared offset file)
    through the from-scratch roaring decoder — EXPLODED one row per
    live file with row-accurate live counts."""
    from .delta_log import parse_delta_log_files
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("path", "num_records", "dv_cardinality",
                "live_records", "dv_storage", "n_live", "version")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    snap = parse_delta_log_files(files)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for path in sorted(snap["live"]):
                    f = snap["live"][path]
                    dv = f.get("deletion_vector") or {}
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["path"].append(path)
                    out["num_records"].append(f["num_records"])
                    out["dv_cardinality"].append(
                        f["dv_cardinality"])
                    out["live_records"].append(f["live_records"])
                    out["dv_storage"].append(
                        dv.get("storageType", ""))
                    out["n_live"].append(len(snap["live"]))
                    out["version"].append(snap["version"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, path string, "
                "num_records long, dv_cardinality long, "
                "live_records long, dv_storage string, n_live long, "
                "version long"),
    )


def delta_checkpoint_snapshot_extract(
        df: DataFrame, payload_col: str = "log",
        id_col: str = "doc_id") -> DataFrame:
    """Untar a vacuumed ``_delta_log/``, seed from its parquet
    checkpoint via the repo's own page reader, replay the trailing
    JSON commits — EXPLODED one row per live file."""
    from .delta_log import parse_delta_log_files
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("version", "checkpoint_version", "path", "size",
                "num_records", "lang", "n_live", "n_removes")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    snap = parse_delta_log_files(files)
                    if snap["checkpoint_version"] is None:
                        raise ValueError("expected a checkpoint")
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for path in sorted(snap["live"]):
                    f = snap["live"][path]
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["version"].append(snap["version"])
                    out["checkpoint_version"].append(
                        snap["checkpoint_version"])
                    out["path"].append(path)
                    out["size"].append(f["size"])
                    out["num_records"].append(f["num_records"])
                    out["lang"].append(
                        f["partition_values"].get("lang"))
                    out["n_live"].append(len(snap["live"]))
                    out["n_removes"].append(snap["n_removes"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, version long, "
                "checkpoint_version long, path string, size long, "
                "num_records long, lang string, n_live long, "
                "n_removes long"),
    )


def delta_snapshot_extract(df: DataFrame, payload_col: str = "log",
                           id_col: str = "doc_id") -> DataFrame:
    """Untar a shipped ``_delta_log/`` and REPLAY it — add/remove
    last-writer-wins state reconstruction — EXPLODED one row per
    live file with the final table version and census."""
    from .delta_log import parse_delta_log_files
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("version", "path", "size", "num_records", "lang",
                "n_live", "n_removes")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    snap = parse_delta_log_files(files)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for path in sorted(snap["live"]):
                    f = snap["live"][path]
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["version"].append(snap["version"])
                    out["path"].append(path)
                    out["size"].append(f["size"])
                    out["num_records"].append(f["num_records"])
                    out["lang"].append(
                        f["partition_values"].get("lang"))
                    out["n_live"].append(len(snap["live"]))
                    out["n_removes"].append(snap["n_removes"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, version long, path string, "
                "size long, num_records long, lang string, n_live long, "
                "n_removes long"),
    )


def synth_sqlite_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``db`` column: a REAL SQLite database written by the
    STDLIB sqlite3 (the reference implementation — so the from-
    scratch reader is cross-validated by construction) at page_size
    512 to force multi-page b-trees; table docs(id INTEGER PRIMARY
    KEY, word TEXT, n INT) with n_chars %% 40 + 10 rows — row j:
    (j+1, words[j %% nw], (31*id + j) %% 97)."""
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col("text"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )

    def gen(batches: Iterator) -> Iterator:
        import sqlite3

        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text, nc in zip(pdf["doc_id"], pdf["text"],
                                   pdf["n_chars"]):
                d, nc = int(d), int(nc)
                words = str(text).split(" ")
                k = nc % 40 + 10
                con = sqlite3.connect(":memory:")
                con.execute("PRAGMA page_size=512")
                con.execute("CREATE TABLE docs (id INTEGER PRIMARY "
                            "KEY, word TEXT, n INT)")
                con.executemany(
                    "INSERT INTO docs VALUES (?,?,?)",
                    [(j + 1, words[j % len(words)], (31 * d + j) % 97)
                     for j in range(k)])
                con.commit()
                payloads.append(bytes(con.serialize()))
                con.close()
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "db": payloads})

    return src.mapInPandas(gen, schema="doc_id long, db binary")


def sqlite_table_extract(df: DataFrame, payload_col: str = "db",
                         id_col: str = "doc_id",
                         table: str = "docs") -> DataFrame:
    """REAL SQLite file walk over Arrow batches — header, "
    "sqlite_master resolution, interior+leaf table b-trees, record "
    "serial types, rowid-alias materialization — EXPLODED one row "
    "per table row.  Corrupt databases flag one row."""
    from .sqlite import read_sqlite_table

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("rowid", "word", "n")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    rows = read_sqlite_table(bytes(p), table)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for rowid, vals in rows:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["rowid"].append(rowid)  # id column is a rowid
                    out["word"].append(vals[1])  # alias (stored NULL)
                    out["n"].append(vals[2])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, rowid long, word string, "
                "n long"),
    )


def synth_iceberg_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``meta`` column: a ustar tar of an Iceberg snapshot —
    a manifest LIST plus doc_id %% 3 + 1 manifests of doc_id %% 4 + 2
    entries each (all real Avro OCFs, deflate codec); entry (i, j)
    is DELETED when (i+j) %% 4 == 3 and j > 0, else ADDED, with
    closed-form counts/sizes and a lang partition value."""
    from .iceberg import STATUS_ADDED, STATUS_DELETED, build_snapshot
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    langs = ("en", "de", "fr")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                manifests = []
                for i in range(d % 3 + 1):
                    entries = []
                    for j in range(d % 4 + 2):
                        st = (STATUS_DELETED
                              if (i + j) % 4 == 3 and j > 0
                              else STATUS_ADDED)
                        entries.append({
                            "status": st,
                            "file_path": f"data/m{i}/f{j}.parquet",
                            "file_format": "PARQUET",
                            "record_count": 50 + 10 * i + j,
                            "file_size_in_bytes": 1000 + 31 * i + 7 * j,
                            "lang": langs[(i + j) % 3],
                        })
                    manifests.append(entries)
                files = build_snapshot(manifests)
                members = [("metadata/", b"")] + [
                    (name, files[name]) for name in sorted(files)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "meta": payloads})

    return src.mapInPandas(gen, schema="doc_id long, meta binary")


def iceberg_snapshot_extract(df: DataFrame, payload_col: str = "meta",
                             id_col: str = "doc_id") -> DataFrame:
    """Untar an Iceberg snapshot and WALK it — manifest list ->
    per-manifest OCF reads with recorded-length verification ->
    live (non-DELETED) data-file census — EXPLODED one row per live
    file."""
    from .iceberg import walk_snapshot
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("manifest_idx", "file_path", "file_format",
                "record_count", "file_size", "lang", "n_manifests")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    snap = walk_snapshot(files)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for f in snap["live"]:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["manifest_idx"].append(f["manifest_idx"])
                    out["file_path"].append(f["file_path"])
                    out["file_format"].append(f["file_format"])
                    out["record_count"].append(f["record_count"])
                    out["file_size"].append(f["file_size_in_bytes"])
                    out["lang"].append(f["lang"])
                    out["n_manifests"].append(snap["n_manifests"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, manifest_idx long, "
                "file_path string, file_format string, "
                "record_count long, file_size long, lang string, "
                "n_manifests long"),
    )


def synth_iceberg_v2_payload(df: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """Attach a ``meta`` column: a FORMAT-VERSION-2 (merge-on-read)
    Iceberg snapshot — the synth_iceberg_payload data manifests plus
    a DELETES-content manifest pointing at one positional delete
    parquet: live file (i, j) has (i+j) %% 3 positions deleted
    (positions 0, 3, 6...), so the row-accurate live count is
    record_count - (i+j)%%3 — exactly what a v1-style walk
    over-reports."""
    from .iceberg import STATUS_ADDED, STATUS_DELETED, build_snapshot_v2
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    langs = ("en", "de", "fr")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                manifests = []
                deletes: list[tuple[str, int]] = []
                for i in range(d % 3 + 1):
                    entries = []
                    for j in range(d % 4 + 2):
                        st = (STATUS_DELETED
                              if (i + j) % 4 == 3 and j > 0
                              else STATUS_ADDED)
                        path = f"data/m{i}/f{j}.parquet"
                        entries.append({
                            "status": st,
                            "file_path": path,
                            "file_format": "PARQUET",
                            "record_count": 50 + 10 * i + j,
                            "file_size_in_bytes":
                                1000 + 31 * i + 7 * j,
                            "lang": langs[(i + j) % 3],
                        })
                        if st == STATUS_ADDED:
                            deletes += [(path, 3 * t)
                                        for t in range((i + j) % 3)]
                    manifests.append(entries)
                files = build_snapshot_v2(manifests, [deletes])
                members = [("metadata/", b""), ("data/", b"")] + [
                    (name, files[name]) for name in sorted(files)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "meta": payloads})

    return src.mapInPandas(gen, schema="doc_id long, meta binary")


def iceberg_v2_snapshot_extract(df: DataFrame,
                                payload_col: str = "meta",
                                id_col: str = "doc_id") -> DataFrame:
    """Untar a v2 Iceberg snapshot, walk data + delete manifests,
    read the positional delete parquet with the repo's own page
    reader, and emit the ROW-ACCURATE live census."""
    from .iceberg import walk_snapshot_v2
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("manifest_idx", "file_path", "record_count",
                "n_deleted", "live_records", "file_size", "lang",
                "n_manifests", "n_delete_files")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    snap = walk_snapshot_v2(files)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for f in snap["live"]:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["manifest_idx"].append(f["manifest_idx"])
                    out["file_path"].append(f["file_path"])
                    out["record_count"].append(f["record_count"])
                    out["n_deleted"].append(f["n_deleted"])
                    out["live_records"].append(f["live_records"])
                    out["file_size"].append(f["file_size_in_bytes"])
                    out["lang"].append(f["lang"])
                    out["n_manifests"].append(snap["n_manifests"])
                    out["n_delete_files"].append(
                        snap["n_delete_files"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, manifest_idx long, "
                "file_path string, record_count long, n_deleted long, "
                "live_records long, file_size long, lang string, "
                "n_manifests long, n_delete_files long"),
    )


def synth_iceberg_mor_payload(df: DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """Attach a ``meta`` column: a v2 Iceberg snapshot with REAL
    parquet data files (pyarrow-written; 2 files x (20 + doc_id%%10)
    rows of (id, lang, val)), positional deletes on file-0 rows
    {0, 5}, an EQUALITY delete on lang='de' (equality_ids=[2]) and
    another on id=106 (equality_ids=[1]) — the full merge-on-read
    scan shape."""
    from .iceberg import (
        STATUS_ADDED,
        build_positional_delete_parquet,
        build_snapshot_v2,
    )
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    langs = ("en", "de", "fr")

    def gen(batches: Iterator) -> Iterator:
        import io

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        def parquet_of(cols: dict) -> bytes:
            buf = io.BytesIO()
            pq.write_table(pa.table(cols), buf, compression="snappy")
            return buf.getvalue()

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 20 + d % 10
                entries = []
                data_blobs = {}
                for i in range(2):
                    path = f"data/f{i}.parquet"
                    blob = parquet_of({
                        "id": pa.array(
                            [100 * i + r for r in range(n)],
                            pa.int64()),
                        "lang": pa.array(
                            [langs[r % 3] for r in range(n)]),
                        "val": pa.array(
                            [3 * r + i for r in range(n)],
                            pa.int64()),
                    })
                    data_blobs[path] = blob
                    entries.append({
                        "status": STATUS_ADDED,
                        "file_path": path,
                        "file_format": "PARQUET",
                        "record_count": n,
                        "file_size_in_bytes": len(blob),
                        "lang": None,
                    })
                eq1 = parquet_of({"lang": pa.array(["de"])})
                eq2 = parquet_of({"id": pa.array([106], pa.int64())})
                files = build_snapshot_v2(
                    [entries],
                    [[("data/f0.parquet", 0),
                      ("data/f0.parquet", 5)]],
                    equality_deletes=[(eq1, [2], 1), (eq2, [1], 1)],
                    data_blobs=data_blobs)
                members = [("metadata/", b""), ("data/", b"")] + [
                    (name, files[name]) for name in sorted(files)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "meta": payloads})

    return src.mapInPandas(gen, schema="doc_id long, meta binary")


def iceberg_mor_scan_extract(df: DataFrame,
                             payload_col: str = "meta",
                             id_col: str = "doc_id") -> DataFrame:
    """Untar a v2 snapshot and run the FULL merge-on-read scan (own
    parquet reader for data, positional AND equality delete files),
    aggregating surviving rows per (file, lang)."""
    from .iceberg import scan_snapshot_v2
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("file_idx", "lang", "n_rows", "sum_val", "sum_id")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    scan = scan_snapshot_v2(files)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                agg: dict[tuple, list] = {}
                for row in scan["rows"]:
                    i = int(row["file_path"].split("f")[-1]
                            .split(".")[0])
                    key = (i, row["lang"])
                    a = agg.setdefault(key, [0, 0, 0])
                    a[0] += 1
                    a[1] += row["val"]
                    a[2] += row["id"]
                for (i, lang), (c, sv, si) in sorted(agg.items()):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["file_idx"].append(i)
                    out["lang"].append(lang)
                    out["n_rows"].append(c)
                    out["sum_val"].append(sv)
                    out["sum_id"].append(si)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, file_idx long, "
                "lang string, n_rows long, sum_val long, "
                "sum_id long"),
    )


def synth_hudi_payload(df: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Attach a ``meta`` column: a ustar tar of a Hudi ``.hoodie/``
    timeline — k = doc_id %% 3 + 2 completed commits (commit j
    upserts file groups {j%%3, (j+1)%%3}: latest version per group
    wins), one INFLIGHT commit that readers must ignore, one clean
    instant, and for every 5th doc a REPLACECOMMIT that clusters
    group g0 away into g9."""
    from .hudi import base_file_name, build_commit
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    base_t = 20240101000000

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                k = d % 3 + 2
                members = [(".hoodie/", b"")]
                part = "2024/01"
                for j in range(k):
                    t = str(base_t + j)
                    stats = []
                    for g in (j % 3, (j + 1) % 3):
                        stats.append({
                            "fileId": f"g{g}",
                            "path": f"{part}/"
                                    + base_file_name(f"g{g}", t),
                            "numWrites": 100 + 10 * j + g,
                            "totalWriteBytes": 4096 + j,
                        })
                    members.append(
                        (f".hoodie/{t}.commit",
                         build_commit({part: stats})))
                # pending instants must be invisible to readers
                members.append(
                    (f".hoodie/{base_t + k}.commit.inflight", b""))
                members.append(
                    (f".hoodie/{base_t + k + 1}.clean",
                     b"{\"policy\":\"KEEP_LATEST_COMMITS\"}"))
                if d % 5 == 0:
                    t = str(base_t + k + 2)
                    members.append((
                        f".hoodie/{t}.replacecommit",
                        build_commit(
                            {part: [{
                                "fileId": "g9",
                                "path": f"{part}/"
                                        + base_file_name("g9", t),
                                "numWrites": 500 + k,
                                "totalWriteBytes": 8192,
                            }]},
                            replaced={part: ["g0"]})))
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "meta": payloads})

    return src.mapInPandas(gen, schema="doc_id long, meta binary")


def hudi_timeline_extract(df: DataFrame, payload_col: str = "meta",
                          id_col: str = "doc_id") -> DataFrame:
    """Untar a ``.hoodie/`` timeline and reconstruct copy-on-write
    state — EXPLODED one row per live file group."""
    from .hudi import reconstruct_table
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))
    base_t = 20240101000000

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("file_id", "instant_j", "num_writes", "n_live",
                "n_completed", "n_pending", "latest_j")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    state = reconstruct_table(files)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for (part, fid) in sorted(state["live"]):
                    f = state["live"][(part, fid)]
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["file_id"].append(fid)
                    out["instant_j"].append(
                        int(f["instant"]) - base_t)
                    out["num_writes"].append(f["num_writes"])
                    out["n_live"].append(len(state["live"]))
                    out["n_completed"].append(state["n_completed"])
                    out["n_pending"].append(state["n_pending"])
                    out["latest_j"].append(
                        int(state["latest_instant"]) - base_t)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, file_id string, "
                "instant_j long, num_writes long, n_live long, "
                "n_completed long, n_pending long, latest_j long"),
    )


def synth_iceberg_metadata_payload(df: DataFrame,
                                   id_col: str = "doc_id") -> DataFrame:
    """Attach a ``meta`` column: an Iceberg table with TWO snapshots
    and a ``v3.metadata.json`` — snapshot 1 has every file ADDED,
    snapshot 2 (current) marks the (i+j)%%4==3 entries DELETED;
    resolution must start at the highest vN.metadata.json (a stale
    v1 with a WRONG current pointer is planted)."""
    from .iceberg import (
        STATUS_ADDED,
        STATUS_DELETED,
        build_snapshot,
        build_table_metadata,
    )
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    langs = ("en", "de", "fr")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                files: dict[str, bytes] = {}
                for sid in (1, 2):
                    manifests = []
                    for i in range(d % 3 + 1):
                        entries = []
                        for j in range(d % 4 + 2):
                            st = (STATUS_DELETED
                                  if sid == 2 and (i + j) % 4 == 3
                                  and j > 0 else STATUS_ADDED)
                            entries.append({
                                "status": st,
                                "file_path":
                                    f"data/m{i}/f{j}.parquet",
                                "file_format": "PARQUET",
                                "record_count": 50 + 10 * i + j,
                                "file_size_in_bytes":
                                    1000 + 31 * i + 7 * j,
                                "lang": langs[(i + j) % 3],
                            })
                        manifests.append(entries)
                    files.update(build_snapshot(
                        manifests, snapshot_id=sid,
                        manifest_prefix=f"manifest-s{sid}"))
                files["metadata/v1.metadata.json"] = \
                    build_table_metadata(
                        {1: "metadata/snap-1.avro"}, 1, version=1,
                        table_uuid=f"tbl-{d}")
                files["metadata/v3.metadata.json"] = \
                    build_table_metadata(
                        {1: "metadata/snap-1.avro",
                         2: "metadata/snap-2.avro"}, 2, version=3,
                        table_uuid=f"tbl-{d}")
                members = [("metadata/", b"")] + [
                    (name, files[name]) for name in sorted(files)
                ]
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "meta": payloads})

    return src.mapInPandas(gen, schema="doc_id long, meta binary")


def iceberg_time_travel_extract(df: DataFrame,
                                payload_col: str = "meta",
                                id_col: str = "doc_id") -> DataFrame:
    """Resolve vN.metadata.json, walk BOTH snapshots (current and
    time-travel), emit the per-snapshot census."""
    from .iceberg import resolve_table_metadata, walk_snapshot_at
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("snapshot_id", "is_current", "n_manifests", "n_live",
                "sum_records", "sum_bytes")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    meta = resolve_table_metadata(files)
                    snaps = []
                    for sid in sorted(meta["snapshots"]):
                        snaps.append(
                            (sid, walk_snapshot_at(files, sid)))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for sid, snap in snaps:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["snapshot_id"].append(sid)
                    out["is_current"].append(
                        sid == meta["current_snapshot_id"])
                    out["n_manifests"].append(snap["n_manifests"])
                    out["n_live"].append(len(snap["live"]))
                    out["sum_records"].append(
                        sum(f["record_count"] for f in snap["live"]))
                    out["sum_bytes"].append(
                        sum(f["file_size_in_bytes"]
                            for f in snap["live"]))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, snapshot_id long, "
                "is_current boolean, n_manifests long, n_live long, "
                "sum_records long, sum_bytes long"),
    )


def synth_tfrecord_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``tfr`` column: the document materialized as a
    training shard — one tf.train.Example per 8-word chunk with
    features {text: the chunk, tokens: per-word byte lengths
    (Int64List), doc_id: [id], weight: [k * 0.25] (FloatList —
    quarter steps are exact in binary floating point, so the gate
    stays exact)} framed as TFRecords."""
    from .tfrecord import encode_example, write_tfrecords

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                recs = []
                for k in range(-(-len(words) // 8)):
                    chunk = words[8 * k:8 * k + 8]
                    recs.append(encode_example({
                        "text": " ".join(chunk),
                        "tokens": [len(w) for w in chunk],
                        "doc_id": [d],
                        "weight": [k * 0.25],
                    }))
                payloads.append(write_tfrecords(recs))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "tfr": payloads})

    return src.mapInPandas(gen, schema="doc_id long, tfr binary")


def tfrecord_examples_extract(df: DataFrame, payload_col: str = "tfr",
                              id_col: str = "doc_id") -> DataFrame:
    """REAL TFRecord walk over Arrow batches — both masked-CRC32C
    checks per record, then a generic protobuf wire-format decode of
    each tf.train.Example (packed and unpacked numeric lists) —
    EXPLODED one row per training example."""
    from .tfrecord import decode_example, read_tfrecords

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("rec_idx", "text", "n_tokens", "tokens_sum",
                "example_doc_id", "weight")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    recs = [decode_example(r)
                            for r in read_tfrecords(bytes(p))]
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for k, ex in enumerate(recs):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["rec_idx"].append(k)
                    out["text"].append(
                        bytes(ex["text"]).decode("utf-8"))
                    out["n_tokens"].append(len(ex["tokens"]))
                    out["tokens_sum"].append(sum(ex["tokens"]))
                    out["example_doc_id"].append(ex["doc_id"][0])
                    out["weight"].append(float(ex["weight"][0]))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, rec_idx long, text string, "
                "n_tokens long, tokens_sum long, example_doc_id long, "
                "weight double"),
    )


def synth_bson_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``bson`` column: a mongodump-style stream of doc_id
    %% 4 + 2 back-to-back BSON documents — each with an ObjectId-
    shaped _id, an int32 idx, a string title (first two words +
    ' #j'), an int64 n_words, a double score (exact half steps), a
    bool, a null, an embedded doc and an array (exercising every
    supported element type) — all closed-form."""
    from .bson import encode_bson

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col("text")
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                words = str(text).split(" ")
                head2 = " ".join(words[:2])
                docs = []
                for j in range(d % 4 + 2):
                    docs.append(encode_bson({
                        "_id": f"{d * 1000 + j:024x}",
                        "idx": j,
                        "title": f"{head2} #{j}",
                        "n_words": len(words) + (1 << 40),
                        "score": j * 0.5,
                        "active": j % 2 == 0,
                        "missing": None,
                        "meta": {"lang": ("en", "de")[j % 2],
                                 "rank": j},
                        "tags": [f"t{j}", f"t{j + 1}"],
                        "blob": bytes([j % 256]) * 3,
                    }))
                payloads.append(b"".join(docs))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "bson": payloads})

    return src.mapInPandas(gen, schema="doc_id long, bson binary")


def bson_stream_extract(df: DataFrame, payload_col: str = "bson",
                        id_col: str = "doc_id") -> DataFrame:
    """REAL BSON walk over Arrow batches — length-prefixed documents,
    every supported element type, nested doc/array decode — EXPLODED
    one row per dumped document."""
    from .bson import decode_bson_stream

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("idx", "title", "n_words", "score", "active",
                "lang", "n_tags")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    docs = decode_bson_stream(bytes(p))
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for doc in docs:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["idx"].append(doc["idx"])
                    out["title"].append(doc["title"])
                    out["n_words"].append(doc["n_words"])
                    out["score"].append(doc["score"])
                    out["active"].append(doc["active"])
                    out["lang"].append(doc["meta"]["lang"])
                    out["n_tags"].append(len(doc["tags"]))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, idx long, title string, "
                "n_words long, score double, active boolean, "
                "lang string, n_tags long"),
    )


def synth_access_log_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``log`` column of Apache combined-format text: doc_id
    %% 5 + 2 request lines; line j from 10.{d%%256}.{j%%250}.1, method
    GET/POST by parity, target /doc/{d}/part{j}, status cycling
    200/404/500, bytes 100+7j (absent '-' when j%%7==6), referer
    http://ref.example/{d} (absent when j%%5==4), and a user-agent
    carrying an ESCAPED QUOTE — closed-form for the oracle."""
    from .logs import format_combined_log

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                lines = []
                for j in range(d % 5 + 2):
                    lines.append(format_combined_log({
                        "host": f"10.{d % 256}.{j % 250}.1",
                        "timestamp":
                            f"01/Jan/2026:00:00:{j % 60:02d} +0000",
                        "method": ("GET", "POST")[j % 2],
                        "target": f"/doc/{d}/part{j}",
                        "protocol": "HTTP/1.1",
                        "status": (200, 404, 500)[j % 3],
                        "n_bytes": None if j % 7 == 6 else 100 + 7 * j,
                        "referer": (None if j % 5 == 4
                                    else f"http://ref.example/{d}"),
                        "user_agent":
                            f'Mozilla/5.0 (Doc {d}; "q{j}") G/{j}',
                    }))
                payloads.append("\n".join(lines))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "log": payloads})

    return src.mapInPandas(gen, schema="doc_id long, log string")


def access_log_extract(df: DataFrame, payload_col: str = "log",
                       id_col: str = "doc_id") -> DataFrame:
    """Hand-tokenized combined-log parse (backslash escapes in quoted
    fields, '-' nils) — EXPLODED one row per request line."""
    from .logs import parse_combined_log

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("line_idx", "host", "method", "target", "status",
                "n_bytes", "referer", "ua")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    parsed = [parse_combined_log(ln)
                              for ln in str(p).splitlines() if ln]
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for j, f in enumerate(parsed):
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["line_idx"].append(j)
                    out["host"].append(f["host"])
                    out["method"].append(f["method"])
                    out["target"].append(f["target"])
                    out["status"].append(f["status"])
                    out["n_bytes"].append(f["n_bytes"])
                    out["referer"].append(f["referer"])
                    out["ua"].append(f["user_agent"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, line_idx long, host string, "
                "method string, target string, status long, "
                "n_bytes long, referer string, ua string"),
    )


def synth_syslog_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a ``log`` column of RFC 5424 lines: doc_id %% 4 + 2
    messages; message j has facility (doc_id+j) %% 24, severity
    j %% 8, a [meta@32473 url=... depth=...] structured-data element
    whose url value contains an ESCAPED QUOTE, and a closed-form
    message body."""
    from .logs import format_syslog_5424

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                lines = []
                for j in range(d % 4 + 2):
                    lines.append(format_syslog_5424({
                        "facility": (d + j) % 24,
                        "severity": j % 8,
                        "timestamp": f"2026-01-01T00:00:{j % 60:02d}Z",
                        "hostname": f"h{d % 100}",
                        "app": "crawler",
                        "procid": str(1000 + j),
                        "msgid": "FETCH",
                        "sd": {"meta@32473": {
                            "url": f'http://site{d % 50}.example/"p{j}"',
                            "depth": str(j % 6)}},
                        "msg": f"fetched {d} {j}",
                    }))
                payloads.append("\n".join(lines))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "log": payloads})

    return src.mapInPandas(gen, schema="doc_id long, log string")


def syslog_extract(df: DataFrame, payload_col: str = "log",
                   id_col: str = "doc_id") -> DataFrame:
    """RFC 5424 parse — PRI facility/severity split, nil values,
    structured-data with escapes — EXPLODED one row per message."""
    from .logs import parse_syslog_5424

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("line_idx", "facility", "severity", "hostname", "app",
                "procid", "sd_url", "sd_depth", "msg")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    parsed = [parse_syslog_5424(ln)
                              for ln in str(p).splitlines() if ln]
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for j, f in enumerate(parsed):
                    meta = f["sd"].get("meta@32473", {})
                    out["doc_id"].append(doc_id)
                    out["ok"].append(True)
                    out["line_idx"].append(j)
                    out["facility"].append(f["facility"])
                    out["severity"].append(f["severity"])
                    out["hostname"].append(f["hostname"])
                    out["app"].append(f["app"])
                    out["procid"].append(f["procid"])
                    out["sd_url"].append(meta.get("url"))
                    out["sd_depth"].append(meta.get("depth"))
                    out["msg"].append(f["msg"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, line_idx long, "
                "facility long, severity long, hostname string, "
                "app string, procid string, sd_url string, "
                "sd_depth string, msg string"),
    )


#: Avro schema for Hudi MOR log records (hudi_log data blocks)
_HUDI_MOR_SCHEMA = (
    '{"type": "record", "name": "rec", "fields": ['
    '{"name": "key", "type": "long"}, '
    '{"name": "val", "type": "long"}, '
    '{"name": "ts", "type": "long"}, '
    '{"name": "_hoodie_is_deleted", "type": "boolean"}]}')


def synth_hudi_mor_payload(df: DataFrame,
                           id_col: str = "doc_id",
                           with_rollback: bool = False) -> DataFrame:
    """Attach a ``meta`` column: a ustar tar of a FULL Hudi
    merge-on-read table — ``.hoodie/`` timeline plus the file groups'
    bytes.  Two file groups g0/g1 in one partition, n = doc_id %% 8 +
    4 keys each: a base-commit parquet (own writer; key k -> val
    10k+g, ts 0), a first deltacommit log (HoodieLogFormat blocks:
    updates k%%3==0 -> 1000+k+g ts 1, inserts n..n+2 -> 7k+g ts 1), a
    second deltacommit log (updates k%%4==1 -> 2000+k+g ts 2, deletes
    k%%5==2 via _hoodie_is_deleted ts 3), one dangling INFLIGHT
    deltacommit and a clean instant readers must ignore.

    ``with_rollback`` additionally plants a POISON third deltacommit
    (val 999999 at ts 9 for every key) followed by a completed
    rollback instant targeting it — the poison log file STAYS in the
    tar, so any reader that ignores rollbacks (or attaches log files
    by directory listing instead of the timeline) surfaces 999999
    and breaks the hash."""
    from .hudi import base_file_name, build_commit
    from .hudi_log import log_file_name, write_avro_data_block
    from .parquet_write import write_parquet
    from .tar import build_tar

    src = df.select(F.col(id_col).cast("long").alias("doc_id"))
    base_t = 20260101000000000

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        part = "2026/01"
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = d % 8 + 4
                t = [str(base_t + i) for i in range(1, 6)]
                members = [(".hoodie/", b"")]
                base_stats = []
                dc1_stats = []
                dc2_stats = []
                for g in (0, 1):
                    fid = f"g{g}"
                    bname = f"{part}/{base_file_name(fid, t[0])}"
                    blob = write_parquet([
                        ("key", "INT64", list(range(n))),
                        ("val", "INT64",
                         [10 * k + g for k in range(n)]),
                        ("ts", "INT64", [0] * n),
                    ])
                    members.append((bname, blob))
                    base_stats.append({
                        "fileId": fid, "path": bname,
                        "numWrites": n,
                        "totalWriteBytes": len(blob)})
                    l1 = f"{part}/{log_file_name(fid, t[0], 1)}"
                    recs1 = [{"key": k, "val": 1000 + k + g,
                              "ts": 1, "_hoodie_is_deleted": False}
                             for k in range(n) if k % 3 == 0]
                    recs1 += [{"key": k, "val": 7 * k + g, "ts": 1,
                               "_hoodie_is_deleted": False}
                              for k in range(n, n + 3)]
                    lb1 = write_avro_data_block(
                        _HUDI_MOR_SCHEMA, recs1, t[1])
                    members.append((l1, lb1))
                    dc1_stats.append({
                        "fileId": fid, "path": l1,
                        "numWrites": len(recs1),
                        "totalWriteBytes": len(lb1)})
                    l2 = f"{part}/{log_file_name(fid, t[0], 2)}"
                    recs2 = [{"key": k, "val": 2000 + k + g,
                              "ts": 2, "_hoodie_is_deleted": False}
                             for k in range(n) if k % 4 == 1]
                    recs2 += [{"key": k, "val": 0, "ts": 3,
                               "_hoodie_is_deleted": True}
                              for k in range(n) if k % 5 == 2]
                    lb2 = write_avro_data_block(
                        _HUDI_MOR_SCHEMA, recs2, t[2])
                    members.append((l2, lb2))
                    dc2_stats.append({
                        "fileId": fid, "path": l2,
                        "numWrites": len(recs2),
                        "totalWriteBytes": len(lb2)})
                members.append(
                    (f".hoodie/{t[0]}.commit",
                     build_commit({part: base_stats})))
                members.append(
                    (f".hoodie/{t[1]}.deltacommit",
                     build_commit({part: dc1_stats})))
                members.append(
                    (f".hoodie/{t[2]}.deltacommit",
                     build_commit({part: dc2_stats})))
                if with_rollback:
                    import json as _json

                    poison_stats = []
                    for g in (0, 1):
                        fid = f"g{g}"
                        lp = f"{part}/{log_file_name(fid, t[0], 3)}"
                        precs = [{"key": k, "val": 999999, "ts": 9,
                                  "_hoodie_is_deleted": False}
                                 for k in range(n + 3)]
                        pb = write_avro_data_block(
                            _HUDI_MOR_SCHEMA, precs, t[3])
                        members.append((lp, pb))
                        poison_stats.append({
                            "fileId": fid, "path": lp,
                            "numWrites": len(precs),
                            "totalWriteBytes": len(pb)})
                    members.append(
                        (f".hoodie/{t[3]}.deltacommit",
                         build_commit({part: poison_stats})))
                    members.append(
                        (f".hoodie/{t[4]}.rollback",
                         _json.dumps({"commitsRollback": [t[3]]})
                         .encode()))
                else:
                    members.append(
                        (f".hoodie/{t[3]}.deltacommit.inflight",
                         b""))
                    members.append(
                        (f".hoodie/{t[4]}.clean",
                         b'{"policy":"KEEP_LATEST_COMMITS"}'))
                payloads.append(build_tar(members))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "meta": payloads})

    return src.mapInPandas(gen, schema="doc_id long, meta binary")


def hudi_mor_scan_extract(df: DataFrame, payload_col: str = "meta",
                          id_col: str = "doc_id",
                          expect_pending: int = 1,
                          as_of: str | None = None,
                          expect_logs: int = 2) -> DataFrame:
    """Untar a MOR table and run the FULL snapshot read: MOR
    timeline reconstruction (base + ordered log chain per file
    group), base parquet through the own page reader, HoodieLogFormat
    block parse, and the precombine log-merge — aggregated per file
    group.  ``ok`` additionally certifies the timeline saw the
    expected chain (1 base + 2 logs, 1 pending instant)."""
    from .hudi import reconstruct_mor_table
    from .hudi_log import merge_log_records, read_log_file
    from .iceberg import read_flat_parquet
    from .tar import parse_tar

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col))

    def feats(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("grp", "n_live", "sum_val", "sum_key", "n_deleted",
                "n_log_files")
        for pdf in batches:
            out = {"doc_id": [], "ok": [], **{c: [] for c in cols}}
            for doc_id, p in zip(pdf["doc_id"], pdf[payload_col]):
                try:
                    members = parse_tar(bytes(p))
                    files = {m["name"]: m["data"] for m in members
                             if m["typeflag"] != "5"}
                    state = reconstruct_mor_table(files,
                                                  as_of=as_of)
                except Exception:
                    out["doc_id"].append(doc_id)
                    out["ok"].append(False)
                    for c in cols:
                        out[c].append(None)
                    continue
                for (part, fid) in sorted(state["live"]):
                    g = state["live"][(part, fid)]
                    try:
                        base_cols = read_flat_parquet(
                            files[g["base_path"]])
                        base_rows = [
                            {"key": k, "val": v, "ts": ts}
                            for k, v, ts in zip(base_cols["key"],
                                                base_cols["val"],
                                                base_cols["ts"])]
                        blocks = []
                        for lp in g["log_paths"]:
                            blocks.extend(read_log_file(files[lp]))
                        merged = merge_log_records(
                            base_rows, blocks, "key", "ts")
                        seen = set(base_cols["key"]) | {
                            r["key"] for b in blocks
                            for r in b.get("records") or []}
                        ok = (g["n_log_files"] == expect_logs
                              and state["n_pending"]
                              == expect_pending)
                    except Exception:
                        out["doc_id"].append(doc_id)
                        out["ok"].append(False)
                        for c in cols:
                            out[c].append(None)
                        continue
                    out["doc_id"].append(doc_id)
                    out["ok"].append(bool(ok))
                    out["grp"].append(int(fid[1:]))
                    out["n_live"].append(len(merged))
                    out["sum_val"].append(
                        sum(r["val"] for r in merged))
                    out["sum_key"].append(
                        sum(r["key"] for r in merged))
                    out["n_deleted"].append(len(seen) - len(merged))
                    out["n_log_files"].append(g["n_log_files"])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        feats,
        schema=("doc_id long, ok boolean, grp long, n_live long, "
                "sum_val long, sum_key long, n_deleted long, "
                "n_log_files long"),
    )
