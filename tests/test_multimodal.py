"""Multimodal plumbing: metadata, feature extraction, resize plan,
frame sampling — deterministic fakes over the real Arrow batch path."""

import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.operators.multimodal import (
    FEATURE_DIM,
    binary_metadata,
    fake_feature_extract,
    fake_frame_sample,
    fake_resize,
    with_binary_payload,
)
from health_monitor_cc_flink_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def payloads(spark, sf_smoke_dir):
    return with_binary_payload(load_table(spark, sf_smoke_dir, "documents")).cache()


def test_feature_extract_shapes_and_determinism(payloads):
    feats = fake_feature_extract(payloads).collect()
    assert len(feats) == payloads.count()
    for r in feats[:10]:
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.features)
    again = {r.doc_id: r.content_hash for r in fake_feature_extract(payloads).collect()}
    assert all(again[r.doc_id] == r.content_hash for r in feats)


def test_resize_plan(payloads):
    plan = fake_resize(payloads, target=(224, 224)).collect()
    for r in plan[:10]:
        assert r.dst_width == 224 and r.dst_height == 224
        assert 0 < r.scale <= 224 / 256
        assert 256 <= r.src_width <= 511


def test_frame_sample_one_to_n(payloads):
    n_docs = payloads.count()
    frames = fake_frame_sample(payloads, n_frames=4)
    assert frames.count() == 4 * n_docs
    per_doc = frames.groupBy("doc_id").count().agg(F.min("count"), F.max("count")).first()
    assert per_doc[0] == per_doc[1] == 4
    offs = frames.filter(F.col("doc_id") == 0).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in offs] == [0, 1, 2, 3]
    assert offs[0].frame_offset_ms == 0
    assert all(offs[i].frame_offset_ms <= offs[i + 1].frame_offset_ms for i in range(3))


def test_decode_image_is_gated():
    from health_monitor_cc_flink_spark.operators.multimodal import decode_image

    with pytest.raises((NotImplementedError, Exception)):
        decode_image(b"not-an-image")


def test_wav_synthesis_is_genuine_wav_and_parse_roundtrips(spark):
    """The BinaryType payloads synth_wav_payload builds are REAL WAV
    files: the stdlib `wave` module (an independent reference decoder)
    must open every one and report exactly the parameters
    parse_wav_header recovers with pure column math."""
    import io
    import wave as wave_mod

    from health_monitor_cc_flink_spark.operators.multimodal import (
        parse_wav_header,
        synth_wav_payload,
    )
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    parsed = parse_wav_header(synth_wav_payload(docs)).select(
        "doc_id", "wav", "is_riff_wave", "channels", "sample_rate",
        "bit_depth", "data_size", "n_samples", "duration_us",
    ).collect()
    assert len(parsed) == 20
    for r in parsed:
        assert r.is_riff_wave
        f = wave_mod.open(io.BytesIO(bytes(r.wav)))
        assert f.getnchannels() == r.channels
        assert f.getframerate() == r.sample_rate
        assert f.getsampwidth() * 8 == r.bit_depth
        assert f.getnframes() == r.n_samples
        # duration from the reference decoder's own arithmetic
        assert r.duration_us == f.getnframes() * 1_000_000 // f.getframerate()
        # strict RIFF consistency: the actual byte length must equal the
        # canonical 44-byte header + declared data payload (no trailing
        # bytes a length-based consumer would flag)
        assert len(bytes(r.wav)) == 44 + r.data_size


def test_wav_parse_plan_stays_in_codegen(spark):
    """No Python evaluation anywhere in the parse plan: BatchEvalPython /
    ArrowEvalPython / mapInPandas must be absent — header decode is
    column math."""
    from health_monitor_cc_flink_spark.operators.multimodal import (
        parse_wav_header,
        synth_wav_payload,
    )
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        parse_wav_header(synth_wav_payload(docs))
        .select("channels", "sample_rate", "duration_us")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_png_header_crc_is_zlib_conformant(spark):
    """The synthesized PNG signature+IHDR must carry a CRC-32 that
    zlib (the PNG spec's reference CRC) reproduces, and the parse must
    recover exactly the struct-unpacked fields."""
    import struct
    import zlib

    from health_monitor_cc_flink_spark.operators.multimodal import (
        parse_png_header,
        synth_png_header,
    )
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    rows = parse_png_header(synth_png_header(docs)).select(
        "doc_id", "png", "is_png", "width", "height", "bit_depth",
        "color_type", "crc_ok",
    ).collect()
    assert len(rows) == 20
    for r in rows:
        b = bytes(r.png)
        assert r.is_png and b[:8] == b"\x89PNG\r\n\x1a\n"
        ln, typ = struct.unpack(">I4s", b[8:16])
        w, h, bd, ct = struct.unpack(">IIBB", b[16:26])
        crc = struct.unpack(">I", b[29:33])[0]
        assert (ln, typ) == (13, b"IHDR")
        assert (w, h, bd, ct) == (r.width, r.height, r.bit_depth, r.color_type)
        assert zlib.crc32(b[12:29]) == crc
        assert r.crc_ok


# ---------------------------------------------------------------------------
# Real PNG codec (numpy + stdlib zlib — no media library)
# ---------------------------------------------------------------------------


def test_png_codec_roundtrip_all_filters():
    """encode_png(cycle) applies every PNG filter type (y % 5); decode
    must reproduce the array byte-exactly for gray and RGB, including
    non-multiple-of-filter heights and 1x1 edge cases."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(42)
    for shape in [(16, 16), (128, 128), (5, 3), (1, 1), (7, 13), (6, 1)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        for mode in ("cycle", "none"):
            assert np.array_equal(decode_png(encode_png(a, mode)), a)
    for shape in [(16, 16, 3), (33, 17, 3), (5, 2, 3)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(a, "cycle")), a)


def test_png_codec_detects_corruption():
    """Any flipped byte inside a chunk must fail the CRC check."""
    import numpy as np
    import pytest as _pytest

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    a = np.arange(64, dtype=np.uint8).reshape(8, 8)
    raw = bytearray(encode_png(a))
    raw[20] ^= 0xFF  # inside IHDR data
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(raw))
    raw2 = bytearray(encode_png(a))
    raw2[-20] ^= 0xFF  # inside IDAT data
    with _pytest.raises((ValueError, Exception)):
        decode_png(bytes(raw2))


def test_png_decode_features_spark_matches_closed_form(spark):
    """Full Spark path: synth real PNGs -> decode -> 8x8 area resize ->
    stats.  The gradient image makes every output closed-form; also
    cross-check one payload with a local decode."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_png,
        png_decode_features,
        synth_png_payload,
    )
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    with_png = synth_png_payload(docs)
    rows = {r.doc_id: r for r in png_decode_features(with_png).collect()}
    sample = with_png.limit(3).collect()
    assert len(rows) == 40
    for r in rows.values():
        w, h = r.width, r.height
        assert r.crc_ok
        assert r.px_sum == w * h * (w + h - 2) // 2
        assert r.px_mean == (w + h - 2) / 2.0
        assert (r.px_min, r.px_max) == (0, w + h - 2)
        assert r.thumb_mean == r.px_mean
        assert r.thumb_corner == (w // 8 - 1) / 2.0 + (h // 8 - 1) / 2.0
    for s in sample:
        img = decode_png(bytes(s.png))
        assert img.shape == (rows[s.doc_id].height, rows[s.doc_id].width)
        assert int(img.sum(dtype=np.int64)) == rows[s.doc_id].px_sum


def test_wav_tone_decode_matches_closed_form(spark):
    """Real PCM decode: stdlib wave reader + numpy stats must match the
    closed-form square-wave values, and the payload must be a genuine
    WAV the stdlib opens with the declared parameters."""
    import io
    import wave as wave_mod

    from health_monitor_cc_flink_spark.operators.multimodal import (
        synth_wav_tone_payload,
        wav_pcm_decode_features,
    )
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(25)
    with_wav = synth_wav_tone_payload(docs)
    feats = {r.doc_id: r for r in wav_pcm_decode_features(with_wav).collect()}
    raw = {r.doc_id: bytes(r.wav) for r in with_wav.collect()}
    meta = {
        r.doc_id: r
        for r in docs.selectExpr("doc_id", "n_chars").collect()
    }
    assert len(feats) == 25
    for doc_id, r in feats.items():
        amp = 500 + doc_id % 1000
        half = 25 * (doc_id % 4 + 1)
        n = meta[doc_id].n_chars + 1000
        assert (r.channels, r.sample_rate) == (1, 8000 * (doc_id % 5 + 1))
        assert r.n_samples == n
        assert r.sumsq == n * amp * amp
        assert r.zero_crossings == (n - 1) // half
        assert (r.amp_min, r.amp_max) == (-amp, amp)
        with wave_mod.open(io.BytesIO(raw[doc_id]), "rb") as w:
            assert (w.getnchannels(), w.getsampwidth(), w.getnframes()) == (1, 2, n)


def test_apng_codec_roundtrip_and_sequence_guard():
    """APNG encode/decode round-trips frame-exactly; tampered sequence
    numbers and CRCs are detected."""
    import struct

    import numpy as np
    import pytest as _pytest

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_apng_frames,
        encode_apng,
    )

    rng = np.random.default_rng(11)
    for nf, shape in [(1, (8, 8)), (4, (16, 24)), (3, (9, 5, 3))]:
        frames = [rng.integers(0, 256, shape, dtype=np.uint8) for _ in range(nf)]
        dec = decode_apng_frames(encode_apng(frames))
        assert len(dec) == nf
        for a, b in zip(frames, dec):
            assert np.array_equal(a, b)
    # flip a byte inside acTL -> CRC failure
    raw = bytearray(encode_apng([rng.integers(0, 256, (8, 8), np.uint8)] * 2))
    raw[50] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_apng_frames(bytes(raw))
    # break an fcTL sequence number (and fix its CRC) -> ordering failure
    import zlib as _zlib

    raw2 = bytearray(encode_apng([rng.integers(0, 256, (8, 8), np.uint8)] * 2))
    pos = raw2.find(b"fcTL")
    seq = struct.unpack(">I", raw2[pos + 4 : pos + 8])[0]
    raw2[pos + 4 : pos + 8] = struct.pack(">I", seq + 7)
    ln = struct.unpack(">I", raw2[pos - 4 : pos])[0]
    body = bytes(raw2[pos : pos + 4 + ln])
    raw2[pos + 4 + ln : pos + 8 + ln] = struct.pack(">I", _zlib.crc32(body) & 0xFFFFFFFF)
    with _pytest.raises(ValueError, match="sequence"):
        decode_apng_frames(bytes(raw2))


def test_apng_frame_sample_spark_matches_closed_form(spark):
    """Spark path: synth real APNGs -> decode all frames -> sample every
    2nd; per-frame stats must match the gradient closed form."""
    from health_monitor_cc_flink_spark.operators.multimodal import (
        apng_frame_sample,
        synth_apng_payload,
    )
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
    rows = apng_frame_sample(synth_apng_payload(docs)).collect()
    meta = {r.doc_id: r.n_chars for r in docs.selectExpr("doc_id", "n_chars").collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(meta)
    for doc_id, rs in by_doc.items():
        w = 16 * (doc_id % 4 + 1)
        h = 16 * (meta[doc_id] % 4 + 1)
        nf = doc_id % 3 + 2
        assert sorted(r.frame_idx for r in rs) == list(range(0, nf, 2))
        for r in rs:
            assert (r.width, r.height, r.n_frames) == (w, h, nf)
            assert r.px_sum == w * h * (w + h - 2) // 2 + 2 * r.frame_idx * w * h
            assert r.px_max == w + h - 2 + 2 * r.frame_idx


def test_png_decode_features_rgb_and_ragged_dims(spark):
    """Round-6 review fixes: RGB PNGs and dims not divisible by the
    thumbnail size decode instead of crashing, and the reduceat-based
    area resize is bit-identical to the reshape block mean on evenly
    tiling dims (the hash-gated oracle path)."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        _area_resize,
        encode_png,
        png_decode_features,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (64, 32), dtype=np.uint8)
    ref = img.astype(np.float64).reshape(8, 8, 8, 4).mean(axis=(1, 3))
    assert np.array_equal(_area_resize(img.astype(np.float64), 8), ref)

    rgb = rng.integers(0, 256, (10, 10, 3), dtype=np.uint8)  # not % 8
    tiny = rng.integers(0, 256, (5, 3), dtype=np.uint8)  # smaller than thumb
    pdf = spark.createDataFrame(
        [(0, bytearray(encode_png(rgb))), (1, bytearray(encode_png(tiny)))],
        "doc_id long, png binary",
    )
    rows = {r.doc_id: r for r in png_decode_features(pdf).collect()}
    assert (rows[0].width, rows[0].height) == (10, 10)
    assert rows[0].px_sum == int(rgb.sum(dtype=np.int64))
    assert abs(rows[0].px_mean - rgb.mean()) < 1e-9
    assert (rows[1].width, rows[1].height) == (3, 5)
    assert rows[1].px_sum == int(tiny.sum(dtype=np.int64))
    assert rows[1].px_min == int(tiny.min()) and rows[1].px_max == int(tiny.max())


def test_apng_default_image_and_malformed_streams():
    """APNG spec: an IDAT that precedes the first fcTL is a default
    image outside the animation — decoded files skip it.  Malformed
    streams (fdAT before fcTL, truncated chunks) raise ValueError, not
    AttributeError/struct.error."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from health_monitor_cc_flink_spark.operators.multimodal import (
        _PNG_SIG,
        _filter_scanlines,
        _png_chunk,
        decode_apng_frames,
        encode_png,
    )

    rng = np.random.default_rng(17)
    h = w = 8
    default_img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    frame = rng.integers(0, 256, (h, w), dtype=np.uint8)
    comp = lambda a: zlib.compress(_filter_scanlines(a.reshape(h, w), 1, "cycle"), 6)

    out = bytearray(_PNG_SIG)
    out += _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
    out += _png_chunk(b"acTL", struct.pack(">II", 1, 0))
    out += _png_chunk(b"IDAT", comp(default_img))  # default image, not a frame
    out += _png_chunk(b"fcTL", struct.pack(">IIIIIHHBB", 0, w, h, 0, 0, 1, 10, 0, 0))
    out += _png_chunk(b"fdAT", struct.pack(">I", 1) + comp(frame))
    out += _png_chunk(b"IEND", b"")
    dec = decode_apng_frames(bytes(out))
    assert len(dec) == 1 and np.array_equal(dec[0], frame)

    bad = bytearray(_PNG_SIG)
    bad += _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
    bad += _png_chunk(b"acTL", struct.pack(">II", 1, 0))
    bad += _png_chunk(b"fdAT", struct.pack(">I", 0) + comp(frame))
    with _pytest.raises(ValueError, match="fdAT before first fcTL"):
        decode_apng_frames(bytes(bad))

    with _pytest.raises(ValueError, match="truncated"):
        decode_apng_frames(encode_png(default_img)[:-6])


def test_corrupt_payloads_flag_not_abort(spark):
    """One bad payload among many must never abort the decode job: the
    PNG path flags crc_ok=false, the WAV path emits a NULL-feature row,
    and the APNG path (1→N) contributes zero frames — the surrounding
    healthy rows all still produce their features."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        apng_frame_sample,
        encode_apng,
        encode_png,
        png_decode_features,
        wav_pcm_decode_features,
    )

    good_img = (np.arange(64, dtype=np.uint8).reshape(8, 8))
    good_png = encode_png(good_img)
    bad_png = bytearray(good_png)
    bad_png[-20] ^= 0xFF  # flip a bit inside IDAT
    png_df = spark.createDataFrame(
        [(1, bytes(good_png)), (2, bytes(bad_png))], "doc_id long, png binary"
    )
    got = {r.doc_id: r for r in png_decode_features(png_df).collect()}
    assert got[1].crc_ok and got[1].px_sum == int(good_img.sum())
    assert got[2].crc_ok is False and got[2].px_sum is None

    good_apng = encode_apng([good_img, good_img + 1])
    bad_apng = bytearray(good_apng)
    bad_apng[-20] ^= 0xFF
    apng_df = spark.createDataFrame(
        [(1, bytes(good_apng)), (2, bytes(bad_apng))], "doc_id long, apng binary"
    )
    rows = apng_frame_sample(apng_df, every=1).collect()
    assert {r.doc_id for r in rows} == {1}  # corrupt doc contributes no frames
    assert len(rows) == 2

    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.full(100, 7, dtype="<i2").tobytes())
    good_wav = buf.getvalue()
    # 8-bit file: opens fine in `wave` but must NOT be misparsed as int16
    buf8 = io.BytesIO()
    with wave_mod.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(range(100)))
    wav_df = spark.createDataFrame(
        [(1, good_wav), (2, b"not a riff at all"), (3, buf8.getvalue())],
        "doc_id long, wav binary",
    )
    got = {r.doc_id: r for r in wav_pcm_decode_features(wav_df).collect()}
    assert got[1].sumsq == 100 * 49 and got[1].channels == 1
    assert got[2].sumsq is None and got[2].channels is None
    assert got[3].sumsq is None, "8-bit PCM must be rejected, not misparsed"


def test_jpeg_decode_features_flags_and_closed_form(spark):
    """The JPEG Arrow path mirrors the PNG contract: healthy flat-block
    payloads produce the closed-form stats (pixel-exact roundtrip, see
    tests/test_jpeg.py), a truncated payload flags marker_ok=false with
    NULL features, and an unsupported variant (progressive SOF2) is
    flagged too — never aborting the batch."""
    import numpy as np
    from test_jpeg import flat_block_image

    from health_monitor_cc_flink_spark.operators.jpeg import encode_jpeg_gray
    from health_monitor_cc_flink_spark.operators.multimodal import (
        jpeg_decode_features,
    )

    rng = np.random.default_rng(17)
    img = flat_block_image(rng, 2, 3)
    v = img[0::8, 0::8]
    good = encode_jpeg_gray(img)
    progressive = bytearray(good)
    progressive[progressive.index(b"\xff\xc0") + 1] = 0xC2
    df = spark.createDataFrame(
        [(1, bytes(good)), (2, bytes(good[:40])), (3, bytes(progressive))],
        "doc_id long, jpeg binary",
    )
    got = {r.doc_id: r for r in jpeg_decode_features(df).collect()}
    assert got[1].marker_ok
    assert (got[1].width, got[1].height) == (24, 16)
    assert got[1].px_sum == int(img.sum())
    assert got[1].px_min == int(v.min()) and got[1].px_max == int(v.max())
    assert got[1].dc_distinct == len(np.unique(v))
    assert got[2].marker_ok is False and got[2].px_sum is None
    assert got[3].marker_ok is False and got[3].px_sum is None


def test_avi_mjpeg_codec_and_sampling(spark):
    """RIFF/MJPEG container: exact frame roundtrip, sampling stride,
    frame-count consistency check, non-MJPG codec refusal, and the
    corrupt-payload flag contract at the Arrow level."""
    import struct

    import numpy as np
    import pytest as _pytest
    from test_jpeg import flat_block_image

    from health_monitor_cc_flink_spark.operators.multimodal import (
        avi_mjpeg_frame_sample,
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
    )

    rng = np.random.default_rng(23)
    frames = [flat_block_image(rng, 2, 2) for _ in range(4)]
    avi = encode_avi_mjpeg(frames)
    dec, declared = decode_avi_mjpeg_frames(avi)
    assert declared == 4 and len(dec) == 4
    for a, b in zip(frames, dec):
        np.testing.assert_array_equal(a, b)

    # frame-count consistency: lie in avih -> ValueError
    lied = bytearray(avi)
    pos = lied.index(b"avih") + 8 + 16
    lied[pos : pos + 4] = struct.pack("<I", 9)
    with _pytest.raises(ValueError):
        decode_avi_mjpeg_frames(bytes(lied))

    # non-MJPG vids stream -> NotImplementedError
    h264 = bytearray(avi)
    strh = h264.index(b"strh") + 8
    h264[strh + 4 : strh + 8] = b"H264"
    with _pytest.raises(NotImplementedError):
        decode_avi_mjpeg_frames(bytes(h264))

    # Arrow path: stride-2 sampling + corrupt flag row
    df = spark.createDataFrame(
        [(1, bytes(avi)), (2, bytes(avi[:30]))], "doc_id long, avi binary"
    )
    rows = avi_mjpeg_frame_sample(df, every=2).collect()
    good = sorted((r.frame_idx for r in rows if r.doc_id == 1))
    assert good == [0, 2]
    for r in rows:
        if r.doc_id == 1:
            assert r.ok and r.n_frames == 4
            assert r.px_sum == int(frames[r.frame_idx].sum())
    (bad,) = [r for r in rows if r.doc_id == 2]
    assert bad.ok is False and bad.px_sum is None


def test_avi_hostile_payloads_flag_not_crash(spark):
    """Adversarial containers must hit the ValueError path, never
    RecursionError/MemoryError: deeply nested LISTs (iterative walk),
    and a JPEG frame declaring absurd dimensions (MAX_PIXELS guard)."""
    import struct

    import numpy as np
    import pytest as _pytest
    from test_jpeg import flat_block_image

    from health_monitor_cc_flink_spark.operators.jpeg import decode_jpeg_gray
    from health_monitor_cc_flink_spark.operators.multimodal import (
        avi_mjpeg_frame_sample,
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
    )

    # 5000-deep nested LIST chunks: the walk must stay iterative
    depth = 5000
    inner = b""
    for _ in range(depth):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"xxxx" + inner
    nested = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    frames, declared = decode_avi_mjpeg_frames(nested)  # walks fine, no frames
    assert frames == [] and declared is None

    # hostile SOF0 dims: 65535x65535 must raise ValueError pre-allocation
    rng = np.random.default_rng(31)
    payload = bytearray(
        __import__(
            "health_monitor_cc_flink_spark.operators.jpeg", fromlist=["x"]
        ).encode_jpeg_gray(flat_block_image(rng, 1, 1))
    )
    sof = payload.index(b"\xff\xc0")
    payload[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"
    with _pytest.raises(ValueError, match="exceed decoder limit"):
        decode_jpeg_gray(bytes(payload))

    # both shapes flag their row at the Arrow level instead of aborting
    good = encode_avi_mjpeg([flat_block_image(rng, 1, 1)])
    df = spark.createDataFrame(
        [(1, bytes(good)), (2, bytes(nested))], "doc_id long, avi binary"
    )
    rows = {r.doc_id: r for r in avi_mjpeg_frame_sample(df, every=1).collect()}
    assert rows[1].ok and rows[2].ok is False


def test_jpeg_color_decode_features_flags_and_native_chroma(spark):
    """Color Arrow path: a 4:2:0 payload reports half-size-native
    chroma stats, a grayscale payload is flagged (not a color frame),
    and truncation flags too."""
    import numpy as np
    from test_jpeg import flat_block_image

    from health_monitor_cc_flink_spark.operators.jpeg import (
        STD_LUMA_QUANT,
        encode_jpeg_gray,
        encode_jpeg_ycbcr,
    )
    from health_monitor_cc_flink_spark.operators.multimodal import (
        jpeg_color_decode_features,
    )

    rng = np.random.default_rng(67)
    y = flat_block_image(rng, 4, 4)
    cb, cr = flat_block_image(rng, 2, 2), flat_block_image(rng, 2, 2)
    color = encode_jpeg_ycbcr(y, cb, cr, "420", quant_chroma=STD_LUMA_QUANT)
    gray = encode_jpeg_gray(y)
    df = spark.createDataFrame(
        [(1, bytes(color)), (2, bytes(gray)), (3, bytes(color[:50]))],
        "doc_id long, jpeg binary",
    )
    got = {r.doc_id: r for r in jpeg_color_decode_features(df).collect()}
    assert got[1].marker_ok and got[1].subsampling == "420"
    assert got[1].y_sum == int(y.sum()) and got[1].cb_sum == int(cb.sum())
    assert got[1].cr_max == int(cr.max())
    assert got[2].marker_ok is False  # grayscale: not a color frame
    assert got[3].marker_ok is False  # truncated


def test_avi_frames_only_under_movi_and_in_document_order():
    """ADVICE r7: '00dc' chunks planted outside a movi LIST are not
    video data; multiple movi/'rec ' LISTs (OpenDML) keep file order;
    sub-8-byte trailing garbage inside a LIST is malformed."""
    import struct

    import numpy as np
    from test_jpeg import flat_block_image

    from health_monitor_cc_flink_spark.operators.multimodal import (
        _riff_chunk,
        _riff_list,
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
    )
    import pytest as _pytest

    rng = np.random.default_rng(41)
    frames = [flat_block_image(rng, 1, 1) for _ in range(3)]
    from health_monitor_cc_flink_spark.operators.jpeg import encode_jpeg_gray

    payloads = [encode_jpeg_gray(f) for f in frames]

    # a '00dc' planted inside hdrl must NOT count as a frame
    avi = bytearray(encode_avi_mjpeg(frames))
    planted = _riff_chunk(b"00dc", payloads[0])
    hdrl_pos = avi.index(b"hdrl")
    # splice into the hdrl LIST: grow the LIST and RIFF sizes
    list_hdr = hdrl_pos - 8
    (lsize,) = struct.unpack("<I", avi[list_hdr + 4 : list_hdr + 8])
    insert_at = list_hdr + 8 + lsize
    avi[list_hdr + 4 : list_hdr + 8] = struct.pack("<I", lsize + len(planted))
    (rsize,) = struct.unpack("<I", avi[4:8])
    avi[4:8] = struct.pack("<I", rsize + len(planted))
    avi[insert_at:insert_at] = planted
    dec, declared = decode_avi_mjpeg_frames(bytes(avi))
    assert declared == 3 and len(dec) == 3  # planted chunk ignored

    # two movi LISTs + one OpenDML 'rec ' LIST: frames in document order
    movi1 = _riff_list(b"movi", _riff_chunk(b"00dc", payloads[0]))
    rec = _riff_list(b"rec ", _riff_chunk(b"00dc", payloads[1]))
    movi2 = _riff_list(b"movi", rec, _riff_chunk(b"00dc", payloads[2]))
    body = b"AVI " + movi1 + movi2
    multi = b"RIFF" + struct.pack("<I", len(body)) + body
    dec, declared = decode_avi_mjpeg_frames(multi)
    assert declared is None and len(dec) == 3
    for want, got in zip(frames, dec):
        np.testing.assert_array_equal(want, got)

    # 3 bytes of garbage inside a LIST: malformed, not silently dropped
    junk_list = _riff_list(b"movi", _riff_chunk(b"00dc", payloads[0]))
    inner = junk_list[8:] + b"\x01\x02\x03"
    bad = b"RIFF" + struct.pack("<I", len(b"AVI ") + 8 + len(inner)) + b"AVI " \
        + b"LIST" + struct.pack("<I", len(inner)) + inner
    with _pytest.raises(ValueError, match="trailing garbage"):
        decode_avi_mjpeg_frames(bad)


def test_archive_members_extract(spark):
    """Shard-archive explode: zip + tar member rows, hostile caps."""
    import gzip
    import io
    import tarfile
    import zipfile

    from health_monitor_cc_flink_spark.operators.multimodal import (
        archive_members_extract,
    )

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(zipfile.ZipInfo("a.txt"), b"hello world")
        zf.writestr(zipfile.ZipInfo("b.txt"), b"bye")
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        info = tarfile.TarInfo("c.txt")
        info.size = 4
        tf.addfile(info, io.BytesIO(b"data"))
    rows = archive_members_extract(
        spark.createDataFrame(
            [
                (1, zbuf.getvalue()),
                (2, gzip.compress(tbuf.getvalue(), mtime=0)),
                (3, b"not an archive"),
                (4, zbuf.getvalue()[:20]),  # truncated zip
            ],
            "doc_id long, archive binary",
        )
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(m.member_name for m in by_doc[1]) == ["a.txt", "b.txt"]
    assert all(m.ok and m.fmt == "zip" for m in by_doc[1])
    import hashlib

    (hello,) = [m for m in by_doc[1] if m.member_name == "a.txt"]
    assert hello.member_bytes == 11
    assert hello.member_md5 == hashlib.md5(b"hello world").hexdigest()
    assert by_doc[2][0].fmt == "tar" and by_doc[2][0].member_name == "c.txt"
    assert by_doc[3][0].ok is False and by_doc[4][0].ok is False


def test_gunzip_capped_blocks_bombs():
    """Streamed gzip decode enforces the total-output cap DURING
    decompression (a bomb never fully expands in memory)."""
    import gzip as _gzip

    import pytest as _pytest

    from health_monitor_cc_flink_spark.operators.multimodal import (
        _gunzip_capped,
    )

    data = b"\x00" * 100_000
    gz = _gzip.compress(data, mtime=0)
    assert _gunzip_capped(gz) == data          # default cap passes
    assert _gunzip_capped(gz, cap=100_000) == data  # exactly at cap
    with _pytest.raises(ValueError, match="cap"):
        _gunzip_capped(gz, cap=99_999)         # one under -> flagged


def test_synth_zip_archives_use_deflate(spark):
    """The synth path must exercise the DEFLATE read path, not STORED."""
    import io
    import zipfile

    from health_monitor_cc_flink_spark.operators.multimodal import (
        synth_archive_payload,
    )

    rows = synth_archive_payload(
        spark.range(2, 4).select(
            F.col("id").alias("doc_id"), F.lit(40).alias("text_len")
        ),
        id_col="doc_id", len_col="text_len",
    ).collect()
    zips = [r for r in rows if bytes(r.archive)[:2] == b"PK"]
    assert zips, "expected at least one zip shard from even doc_ids"
    with zipfile.ZipFile(io.BytesIO(bytes(zips[0].archive))) as zf:
        infos = zf.infolist()
        assert infos
        assert all(i.compress_type == zipfile.ZIP_DEFLATED for i in infos)
        assert all(i.compress_size < i.file_size for i in infos)


def test_png_full_matrix_roundtrip():
    """Every legal (color type, depth) combo x {linear, Adam7} must
    round-trip bit-exactly through encode_png/decode_png (sub-byte gray
    compares against the spec's 0..255 rescale)."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    # odd dims so Adam7 passes have ragged widths/heights
    h, w = 21, 13
    for interlace in (False, True):
        # gray / gray+alpha / RGB / RGBA at 8 and 16 bit
        for channels in (1, 2, 3, 4):
            shape = (h, w) if channels == 1 else (h, w, channels)
            a8 = rng.randint(0, 256, shape).astype(np.uint8)
            got = decode_png(encode_png(a8, interlace=interlace))
            assert got.dtype == np.uint8 and np.array_equal(got, a8), (
                channels, 8, interlace)
            a16 = rng.randint(0, 1 << 16, shape).astype(np.uint16)
            got = decode_png(encode_png(a16, interlace=interlace))
            assert got.dtype == np.uint16 and np.array_equal(got, a16), (
                channels, 16, interlace)
        # sub-byte gray
        for depth in (1, 2, 4):
            mx = (1 << depth) - 1
            a = rng.randint(0, mx + 1, (h, w)).astype(np.uint8)
            got = decode_png(encode_png(a, depth=depth, interlace=interlace))
            want = (a.astype(np.uint16) * 255 // mx).astype(np.uint8)
            assert np.array_equal(got, want), (depth, interlace)
        # palette at every legal depth
        for depth in (1, 2, 4, 8):
            n = 1 << depth
            pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
            idx = rng.randint(0, n, (h, w)).astype(np.uint8)
            got = decode_png(
                encode_png(idx, palette=pal, depth=depth, interlace=interlace)
            )
            assert got.shape == (h, w, 3)
            assert np.array_equal(got, pal[idx]), (depth, interlace)


def test_png_adam7_equals_linear():
    """The interlaced stream must decode to EXACTLY the same pixels as
    the linear stream of the same image (Adam7 is a permutation)."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    y, x = np.mgrid[0:33, 0:17]
    img = ((3 * x + 5 * y) % 256).astype(np.uint8)
    assert np.array_equal(
        decode_png(encode_png(img, interlace=True)),
        decode_png(encode_png(img, interlace=False)),
    )
    # tiny images where several Adam7 passes are EMPTY
    for dims in ((1, 1), (2, 3), (7, 5), (8, 1)):
        tiny = ((np.indices(dims).sum(0)) % 256).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(tiny, interlace=True)), tiny)


def test_png_extended_matrix_corrupt_payloads():
    """Spec-invalid streams in the NEW subsets must raise ValueError,
    never IndexError/KeyError."""
    import struct
    import zlib as _zlib

    import numpy as np
    import pytest as _pytest

    from health_monitor_cc_flink_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
    idx = np.zeros((4, 4), dtype=np.uint8)
    good = encode_png(idx, palette=pal, depth=4)

    # palette image with the PLTE chunk stripped
    no_plte = good.replace(_png_chunk(b"PLTE", pal.tobytes()), b"")
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(no_plte)
    # palette index beyond the palette (index 15 with an 8-entry PLTE)
    short_pal = encode_png(
        np.full((2, 2), 15, np.uint8), palette=pal, depth=4
    ).replace(
        _png_chunk(b"PLTE", pal.tobytes()), _png_chunk(b"PLTE", pal[:8].tobytes())
    )
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(short_pal)
    # illegal depth/color-type combo (depth 16 palette)
    bad_ihdr = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0))
        + _png_chunk(b"IDAT", _zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="illegal depth"):
        decode_png(bad_ihdr)
    # interlaced stream truncated mid-pass
    img = (np.arange(256) % 256).reshape(16, 16).astype(np.uint8)
    inter = encode_png(img, interlace=True)
    # find IDAT, shorten its inflated payload by re-deflating a prefix
    with _pytest.raises(ValueError):
        decode_png(inter[: len(inter) - 20] + inter[-12:])
    # encoder-side guards
    with _pytest.raises(ValueError, match="out of range"):
        encode_png(np.full((2, 2), 9, np.uint8), depth=2)
    with _pytest.raises(ValueError, match="out of range"):
        encode_png(np.full((2, 2), 200, np.uint8), palette=pal)
    with _pytest.raises(ValueError, match="palette index"):
        encode_png(np.full((2, 2), 12, np.uint8), palette=pal[:8], depth=4)


def test_png_palette_trns_transparency():
    """tRNS palette alpha: decoded as RGBA with 255 for entries past
    the tRNS table; oversized tRNS is corrupt; trans without a palette
    is an encoder error."""
    import numpy as np
    import pytest as _pytest

    from health_monitor_cc_flink_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
        encode_png,
    )

    pal = (np.arange(48, dtype=np.uint8).reshape(16, 3) * 5 % 256).astype(
        np.uint8
    )
    tr = np.array([0, 128, 255], np.uint8)
    idx = (np.indices((11, 5)).sum(0) % 16).astype(np.uint8)
    for inter in (False, True):
        out = decode_png(
            encode_png(idx, palette=pal, depth=4, interlace=inter, trans=tr)
        )
        assert out.shape == (11, 5, 4)
        alpha = np.full(16, 255, np.uint8)
        alpha[:3] = tr
        assert np.array_equal(out[:, :, :3], pal[idx])
        assert np.array_equal(out[:, :, 3], alpha[idx])
    # tRNS longer than the palette must flag
    good = encode_png(idx, palette=pal, depth=4, trans=tr)
    bloated = good.replace(
        _png_chunk(b"tRNS", tr.tobytes()),
        _png_chunk(b"tRNS", bytes(range(20))),
    )
    with _pytest.raises(ValueError, match="tRNS"):
        decode_png(bloated)
    with _pytest.raises(ValueError, match="palette"):
        encode_png(idx, trans=tr)


def test_html_data_uri_images_extraction(spark):
    """Embedded base64 PNG data URIs decode through the real PNG
    decoder; non-PNG/absent srcs are ignored; bad base64 flags."""
    import base64

    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        encode_png,
        html_data_uri_image_features,
    )

    y, x = np.mgrid[0:8, 0:16]
    png = encode_png((x + y).astype(np.uint8))
    b64 = base64.b64encode(png).decode()
    rows = [
        (1, ("<html><body>"
             f'<img src="data:image/png;base64,{b64}"/>'
             '<img src="https://remote/x.png"/>'      # fetched, not inline
             '<img alt="no src"/>'
             "</body></html>").encode()),
        (2, b'<img src="data:image/png;base64,!!notb64!!"/>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    got = {(r.doc_id, r.img_idx): r
           for r in html_data_uri_image_features(df).collect()}
    r = got[(1, 0)]
    assert r.ok and (r.width, r.height) == (16, 8)
    assert r.px_sum == int((x + y).sum()) and r.px_max == 22
    assert len([k for k in got if k[0] == 1]) == 1  # only the data URI
    assert got[(2, None)].ok is False               # bad base64 flags
