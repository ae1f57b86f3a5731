"""Multimodal column plumbing: schema, Arrow batch shape, stub decode."""

from __future__ import annotations

from pyspark.sql import functions as F

from npm_mirror_spark.operators import multimodal as mm


def test_media_feature_extraction(spark):
    media = mm.synthetic_media(spark, n=48)
    feats = mm.extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == 48
    assert set(feats.columns) == {"media_id", "sha256", "byte_len", "width", "height"}
    # deterministic stub: same media -> same features on a second run
    again = {r["media_id"]: r["sha256"] for r in mm.extract_image_features(media).collect()}
    assert all(again[r["media_id"]] == r["sha256"] for r in rows)
    assert all(64 <= r["width"] < 256 and r["byte_len"] > 0 for r in rows)


def test_metadata_only_query_prunes_blob(spark, tmp_path):
    """Metadata queries must not read blob bytes: the parquet ReadSchema
    after column pruning excludes `content`."""
    path = str(tmp_path / "media.parquet")
    mm.synthetic_media(spark, n=16).write.parquet(path)
    meta_only = spark.read.parquet(path).select(
        "media_id", F.col("meta.media_type").alias("mt")
    )
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan, "blob column must be pruned from the scan"
    assert "media_id" in plan


def test_frame_sampling_stub(spark):
    media = mm.synthetic_media(spark, n=30)
    frames = mm.sample_frames_stub(media, every_ms=500)
    got = frames.collect()
    videos = media.filter(F.col("meta.media_type") == "video").select(
        "media_id", "meta.duration_ms"
    ).collect()
    expect = sum(-(-int(v["duration_ms"]) // 500) for v in videos)
    assert len(got) == expect
    assert all(f["frame"] is None for f in got)  # stub: no codec in container


def test_raw_rgb_roundtrip_and_exact_resize(spark):
    """RAW1 kernels are REAL byte transforms: encode/decode round-trips,
    and nearest-neighbor resize picks exactly the expected pixels."""
    import numpy as np

    from npm_mirror_spark.operators.multimodal import (
        decode_raw_rgb,
        encode_raw_rgb,
        resize_raw_images,
    )

    # 4x4 image whose pixel (y,x) = (y*10+x, 0, 255-y*10-x)
    arr = np.zeros((4, 4, 3), dtype=np.uint8)
    for y in range(4):
        for x in range(4):
            arr[y, x] = (y * 10 + x, 0, 255 - y * 10 - x)
    blob = encode_raw_rgb(arr)
    assert (decode_raw_rgb(blob) == arr).all()

    df = spark.createDataFrame([(1, bytearray(blob))], "media_id long, content binary")
    out = resize_raw_images(df, 2, 2).collect()[0]
    assert (out["width"], out["height"]) == (2, 2)
    got = decode_raw_rgb(bytes(out["content"]))
    # nearest-neighbor with ys=xs=[0,2]: rows/cols 0 and 2 of the source
    expected = arr[[0, 2]][:, [0, 2]]
    assert (got == expected).all()


def test_raw_brightness_exact(spark):
    import numpy as np

    from npm_mirror_spark.operators.multimodal import (
        encode_raw_rgb,
        raw_image_brightness,
    )

    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    arr[..., 0] = 10  # R constant
    arr[..., 1] = [[0, 100], [200, 100]]  # G mean = 100
    arr[..., 2] = 255
    df = spark.createDataFrame(
        [(7, bytearray(encode_raw_rgb(arr)))], "media_id long, content binary"
    )
    r = raw_image_brightness(df).collect()[0]
    assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (10.0, 100.0, 255.0)


def test_pcm16_features_exact(spark):
    import numpy as np

    from npm_mirror_spark.operators.multimodal import encode_pcm16, pcm_features

    # square wave +100/-100: rms exactly 100, one crossing per flip
    samples = np.array([100, 100, -100, -100, 100, 100], dtype=np.int16)
    df = spark.createDataFrame(
        [(3, bytearray(encode_pcm16(samples)))], "media_id long, content binary"
    )
    r = pcm_features(df).collect()[0]
    assert r["n_samples"] == 6
    assert r["rms"] == 100.0
    assert r["zero_crossings"] == 2


def test_png_codec_roundtrip_all_filters():
    """Pure-stdlib PNG: encode cycles filter types 0-4 per scanline, so a
    byte-exact roundtrip proves every unfilter path (None/Sub/Up/Average/
    Paeth), RGB and RGBA alike."""
    import numpy as np

    rng = np.random.default_rng(7)
    for ch in (3, 4):
        arr = rng.integers(0, 256, size=(11, 13, ch), dtype=np.uint8)
        blob = mm.encode_png(arr)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        back = mm.decode_png(blob)
        assert back.shape == arr.shape
        assert (back == arr).all()


def test_png_codec_rejects_unsupported():
    import struct
    import zlib

    import numpy as np
    import pytest

    with pytest.raises(ValueError, match="bad signature"):
        mm.decode_png(b"JFIF not a png")
    # 16-bit-depth IHDR must be refused, not mis-decoded
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        mm.decode_png(blob)
    # corrupt CRC must be caught by the chunk walk
    good = mm.encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # inside IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad))


def test_png_codec_truncation_raises_valueerror_only():
    """The F9 error-routing contract: EVERY malformed byte string raises
    ValueError — truncating a valid PNG at any byte must never leak
    struct.error/IndexError, and corrupting the DEFLATE stream must not
    leak zlib.error."""
    import zlib

    import numpy as np
    import pytest

    arr = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    good = mm.encode_png(arr)
    for cut in range(len(good)):
        # a cut that only loses IEND still decodes fully — the contract
        # is that every FAILURE is a ValueError, never struct/Index/zlib
        try:
            out = mm.decode_png(good[:cut])
        except ValueError:
            continue
        assert (out == arr).all(), f"cut at {cut} mis-decoded silently"
    # declared IHDR payload length larger than the file
    hacked = bytearray(good)
    hacked[8:12] = (2**16).to_bytes(4, "big")
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_png(bytes(hacked))
    # valid chunk walk, garbage DEFLATE payload inside IDAT
    bad_idat = (
        b"\x89PNG\r\n\x1a\n"
        + mm._png_chunk(b"IHDR", good[16:29])
        + mm._png_chunk(b"IDAT", b"\x00not deflate\xff")
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflate"):
        mm.decode_png(bad_idat)


def test_png_feature_extraction_true_dims(spark):
    """The mapInPandas seam with the REAL codec: widths/heights come from
    decoded pixels, not metadata — a lying meta column cannot leak
    through."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for i, (h, w) in enumerate([(5, 9), (16, 4), (7, 7)]):
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((i, bytearray(mm.encode_png(arr)), None))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: (r["width"], r["height"], r["byte_len"])
        for r in mm.png_image_features(media).collect()
    }
    assert got[0][:2] == (9, 5) and got[1][:2] == (4, 16) and got[2][:2] == (7, 7)
    assert all(v[2] > 0 for v in got.values())


# -- JPEG codec ---------------------------------------------------------------


def test_jpeg_codec_constant_image_exact():
    """A constant image's DCT is a lone DC coefficient that the Annex K
    table quantizes losslessly (576 = 36*16) — so the roundtrip must be
    BIT-exact, proving DC coding, level shift, and IDCT scaling."""
    import numpy as np

    a = np.full((16, 24), 200, dtype=np.uint8)
    blob = mm.encode_jpeg(a)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    back = mm.decode_jpeg(blob)
    assert back.shape == a.shape
    assert (back == a).all()


def test_jpeg_codec_gradient_roundtrip_tolerance():
    """Smooth gradient, dims NOT multiples of 8 (33x41): padding must
    trim back to true size, and quantization error stays tiny because a
    gradient's energy sits in the lowest DCT frequencies."""
    import numpy as np

    g = np.add.outer(np.arange(33) * 3, np.arange(41) * 2).astype(np.uint8)
    back = mm.decode_jpeg(mm.encode_jpeg(g))
    assert back.shape == g.shape
    err = np.abs(back.astype(int) - g.astype(int))
    assert err.max() <= 6, int(err.max())


def test_jpeg_codec_restart_interval():
    """DRI + RSTn markers: the decoder must resync and reset the DC
    predictor at every restart, reproducing the unrestarted output."""
    import numpy as np

    g = np.add.outer(np.arange(24) * 5, np.arange(40) * 3).astype(np.uint8)
    plain = mm.decode_jpeg(mm.encode_jpeg(g))
    restarted = mm.decode_jpeg(mm.encode_jpeg(g, restart_interval=2))
    assert (plain == restarted).all()


def test_jpeg_codec_rejects_unsupported_and_truncation():
    """F9 error-routing contract: color/progressive/non-JPEG inputs and
    EVERY truncation raise ValueError — never struct/Index/KeyError."""
    import numpy as np
    import pytest

    with pytest.raises(ValueError, match="bad SOI"):
        mm.decode_jpeg(b"\x89PNG not a jpeg")
    good = mm.encode_jpeg(np.arange(64, dtype=np.uint8).reshape(8, 8))
    # flip SOF0 -> SOF2 (progressive) or SOF3 (lossless): rejected
    i = good.index(b"\xff\xc0")
    for sof in (b"\xff\xc2", b"\xff\xc3"):
        with pytest.raises(ValueError, match="only baseline SOF0"):
            mm.decode_jpeg(good[:i] + sof + good[i + 2 :])
    # claim 3 components in SOF0 (color)
    colorish = bytearray(good)
    colorish[i + 9] = 3
    with pytest.raises(ValueError):
        mm.decode_jpeg(bytes(colorish))
    for cut in range(2, len(good)):
        try:
            out = mm.decode_jpeg(good[:cut])
        except ValueError:
            continue
        # a cut that only loses EOI can still decode fully
        assert out.shape == (8, 8), f"cut at {cut} mis-decoded"


def test_decode_image_dispatch_and_features_seam(spark):
    """Format-sniffing decode_image + the mapInPandas feature seam over a
    MIXED PNG/JPEG blob column: true dimensions come back per format."""
    import numpy as np

    png_blob = mm.encode_png(np.zeros((5, 9, 3), dtype=np.uint8))
    jpg_blob = mm.encode_jpeg(np.full((12, 7), 80, dtype=np.uint8))
    assert mm.decode_image(png_blob).shape == (5, 9, 3)
    assert mm.decode_image(jpg_blob).shape == (12, 7)
    import pytest

    with pytest.raises(ValueError, match="unsupported image format"):
        mm.decode_image(b"GIF89a...")

    df = spark.createDataFrame(
        [(1, bytearray(png_blob)), (2, bytearray(jpg_blob))],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in mm.image_features(df).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (9, 5)
    assert (rows[2]["width"], rows[2]["height"]) == (7, 12)
    assert rows[1]["byte_len"] == len(png_blob)


def test_jpeg_codec_color_roundtrips():
    """Baseline COLOR JPEG: 4:4:4 and 4:2:0 interleaved YCbCr.
    A gray-valued color image (chroma exactly 128 -> zero chroma DCT) on
    a quant-exact luma roundtrips bit-exact; saturated/gradient images
    stay within quantization tolerance; 4:2:0 halves chroma blocks and
    must resync across restart markers with odd (non-MCU-multiple)
    dims."""
    import numpy as np

    gray3 = np.full((10, 14, 3), 200, dtype=np.uint8)
    assert (mm.decode_jpeg(mm.encode_jpeg(gray3)) == gray3).all()

    flat = np.zeros((12, 12, 3), dtype=np.uint8)
    flat[..., 0], flat[..., 1], flat[..., 2] = 180, 60, 40
    back = mm.decode_jpeg(mm.encode_jpeg(flat))
    assert np.abs(back.astype(int) - flat.astype(int)).max() <= 3

    g = np.zeros((19, 27, 3), dtype=np.uint8)
    g[..., 0] = np.add.outer(np.arange(19) * 4, np.arange(27) * 2) % 256
    g[..., 1] = 128
    g[..., 2] = np.arange(27)[None, :] * 5 % 256
    for mode, tol in (("444", 14), ("420", 16)):
        out = mm.decode_jpeg(mm.encode_jpeg(g, subsampling=mode))
        assert out.shape == g.shape
        err = int(np.abs(out.astype(int) - g.astype(int)).max())
        assert err <= tol, (mode, err)
    with_rst = mm.decode_jpeg(mm.encode_jpeg(g, restart_interval=2, subsampling="420"))
    assert (with_rst == mm.decode_jpeg(mm.encode_jpeg(g, subsampling="420"))).all()


def test_jpeg_color_truncation_and_dispatch(spark):
    """Color files obey the same ValueError-only contract, and the
    feature seam reports true dims for color JPEG blobs."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    good = mm.encode_jpeg(arr, subsampling="420")
    assert mm.decode_image(good).shape == (9, 13, 3)
    for cut in range(2, len(good), 7):
        try:
            out = mm.decode_jpeg(good[:cut])
        except ValueError:
            continue
        assert out.shape == (9, 13, 3), f"cut at {cut} mis-decoded"

    df = spark.createDataFrame(
        [(5, bytearray(good))], "media_id long, content binary"
    )
    r = mm.image_features(df).collect()[0]
    assert (r["width"], r["height"]) == (13, 9)


def test_jpeg_codec_constant_property():
    """Property (hypothesis): for ANY dims and ANY constant fill, the
    roundtrip error is bounded by the DC quantization step alone —
    <= 1/channel grayscale, <= 4/channel color (chroma quant 17 + color
    transform) — and encoding is deterministic byte-for-byte."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        rgb=st.tuples(
            st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
        ),
        mode=st.sampled_from(["gray", "444", "420"]),
    )
    def check(h, w, rgb, mode):
        if mode == "gray":
            a = np.full((h, w), rgb[0], dtype=np.uint8)
            blob = mm.encode_jpeg(a)
            tol = 1
        else:
            a = np.zeros((h, w, 3), dtype=np.uint8)
            a[...] = rgb
            blob = mm.encode_jpeg(a, subsampling=mode)
            tol = 4
        assert blob == (
            mm.encode_jpeg(a) if mode == "gray" else mm.encode_jpeg(a, subsampling=mode)
        )
        back = mm.decode_jpeg(blob)
        assert back.shape == a.shape
        err = int(np.abs(back.astype(int) - a.astype(int)).max())
        assert err <= tol, (h, w, rgb, mode, err)

    check()


# -- Y4M video codec ----------------------------------------------------------


def _gradient_frames(n, w, h, color=True):
    import numpy as np

    out = []
    for t in range(n):
        yy, xx = np.mgrid[0:h, 0:w]
        base = (xx * 5 + yy * 9 + t * 17) % 256
        if color:
            out.append(
                np.stack([base, (base + 80) % 256, (250 - base) % 256], axis=-1)
                .astype(np.uint8)
            )
        else:
            out.append(base.astype(np.uint8))
    return out


def test_y4m_info_and_mono_roundtrip_exact():
    import numpy as np

    frames = _gradient_frames(5, 16, 12, color=False)
    blob = mm.encode_y4m(frames, fps_num=10, fps_den=1, colorspace="mono")
    info = mm.y4m_info(blob)
    assert (info["width"], info["height"]) == (16, 12)
    assert info["n_frames"] == 5
    assert info["colorspace"] == "mono"
    assert info["duration_ms"] == 500
    # mono carries the Y plane verbatim -> byte-exact roundtrip
    for i, f in enumerate(frames):
        np.testing.assert_array_equal(mm.decode_y4m_frame(blob, i), f)


def test_y4m_444_roundtrip_tight_tolerance():
    import numpy as np

    frames = _gradient_frames(3, 20, 14)
    blob = mm.encode_y4m(frames, fps_num=25, fps_den=1, colorspace="444")
    for i, f in enumerate(frames):
        got = mm.decode_y4m_frame(blob, i)
        assert got.shape == f.shape
        # only RGB->YCbCr->RGB rounding, no subsampling: within 2 counts
        assert int(np.abs(got.astype(int) - f.astype(int)).max()) <= 2


def test_y4m_420_roundtrip_luma_exactish():
    import numpy as np

    frames = _gradient_frames(4, 32, 24)
    blob = mm.encode_y4m(frames, fps_num=30, fps_den=1, colorspace="420jpeg")
    f = frames[2]
    got = mm.decode_y4m_frame(blob, 2)
    # luma is full-res: the decoded image's luma must match the source's
    y_src = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
    y_got = 0.299 * got[..., 0] + 0.587 * got[..., 1] + 0.114 * got[..., 2]
    assert float(np.abs(y_src - y_got).mean()) < 3.0
    # chroma is 2x2 box-filtered: still bounded error on a smooth gradient
    assert float(np.abs(got.astype(int) - f.astype(int)).mean()) < 12.0


def test_y4m_malformed_raises_valueerror_only():
    import numpy as np

    import pytest

    frames = _gradient_frames(2, 8, 8)
    blob = mm.encode_y4m(frames, colorspace="420jpeg")
    cases = [
        b"NOTY4M    rest",
        blob[: len(blob) - 7],  # truncated final frame
        blob.replace(b"FRAME", b"FRAMX", 1),  # bad frame marker
        mm.Y4M_MAGIC + b"W16 H12 F25:1\x0a" + b"garbage",  # bad frame section
        mm.Y4M_MAGIC + b"W0 H12 F25:1\x0a",  # bad dims
        mm.Y4M_MAGIC + b"W16 H12\x0a",  # missing rate
    ]
    for bad in cases:
        with pytest.raises(ValueError):
            mm.y4m_info(bad)
    with pytest.raises(ValueError):
        mm.encode_y4m([np.zeros((7, 7, 3), dtype=np.uint8)], colorspace="420jpeg")
    with pytest.raises(ValueError):
        mm.decode_y4m_frame(blob, 99)


def test_y4m_sample_frames_real_png_payload(spark):
    import numpy as np

    media = mm.synthetic_y4m_media(spark, n=4, frames=8, w=32, h=24)
    out = mm.sample_frames(media, every_ms=250).toPandas()
    # grid size per clip: duration_ms / 250 rows
    metas = {
        int(r["media_id"]): mm.y4m_info(bytes(r["content"]))
        for r in media.select("media_id", "content").collect()
    }
    expect = sum(len(range(0, m["duration_ms"], 250)) for m in metas.values())
    assert len(out) == expect
    # every emitted frame is a real PNG of the clip geometry whose pixels
    # equal the independently decoded source frame
    row = out[out["media_id"] == 0].iloc[1]
    png = bytes(row["frame"])
    img = mm.decode_png(png)
    info = metas[0]
    assert img.shape[:2] == (info["height"], info["width"])
    idx = min(
        info["n_frames"] - 1,
        int(row["frame_ts_ms"]) * info["fps_num"] // (1000 * info["fps_den"]),
    )
    src = mm.decode_y4m_frame(
        bytes(media.filter(F.col("media_id") == 0).collect()[0]["content"]), idx
    )
    if src.ndim == 2:  # mono clips PNG-encode as grayscale
        src = src if img.ndim == 2 else np.stack([src] * 3, axis=-1)
    np.testing.assert_array_equal(img, src)


def test_y4m_video_features(spark):
    import numpy as np

    media = mm.synthetic_y4m_media(spark, n=3, frames=6, w=16, h=12)
    feats = {int(r["media_id"]): r for r in mm.video_features(media).collect()}
    for r in media.select("media_id", "content").collect():
        mid = int(r["media_id"])
        b = bytes(r["content"])
        info = mm.y4m_info(b)
        got = feats[mid]
        assert (got["width"], got["height"]) == (info["width"], info["height"])
        assert got["n_frames"] == info["n_frames"]
        assert got["duration_ms"] == info["duration_ms"]
        lumas = [
            float(
                np.frombuffer(
                    b,
                    dtype=np.uint8,
                    count=info["width"] * info["height"],
                    offset=off,
                ).mean()
            )
            for off in info["frame_offsets"]
        ]
        assert abs(got["mean_luma"] - sum(lumas) / len(lumas)) < 1e-9


# -- WAV (RIFF container) -----------------------------------------------------


def test_wav_roundtrip_mono_and_stereo():
    import numpy as np

    from npm_mirror_spark.operators.multimodal import decode_wav, encode_wav

    t = (np.arange(500) % 200 - 100).astype("int16")
    arr, rate = decode_wav(encode_wav(t, 8000))
    assert rate == 8000 and arr.shape == (500, 1)
    assert (arr[:, 0] == t).all()
    st = np.stack([t, -t], axis=1)
    arr2, r2 = decode_wav(encode_wav(st, 44100))
    assert r2 == 44100 and arr2.shape == (500, 2) and (arr2 == st).all()


def test_wav_tolerates_extra_chunks_and_word_alignment():
    import struct

    import numpy as np

    from npm_mirror_spark.operators.multimodal import decode_wav, encode_wav

    t = (np.arange(64) % 50).astype("int16")
    raw = encode_wav(t, 16000)
    # splice an odd-sized LIST chunk between WAVE and fmt (word-aligned
    # with a pad byte, like real encoders write)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = raw[:12] + extra + raw[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    arr, rate = decode_wav(spliced)
    assert rate == 16000 and (arr[:, 0] == t).all()


def test_wav_malformed_raises_valueerror_only():
    import struct

    import numpy as np

    import pytest as _pytest

    from npm_mirror_spark.operators.multimodal import decode_wav, encode_wav

    good = encode_wav((np.zeros(8)).astype("int16"), 8000)
    for bad in [
        b"",
        b"RIFX" + good[4:],                        # bad magic
        good[:30],                                 # truncated mid-chunk
        good[:20] + struct.pack("<H", 7) + good[22:],   # format tag != 1
        good[:34] + struct.pack("<H", 8) + good[36:],   # 8-bit depth
    ]:
        with _pytest.raises(ValueError):
            decode_wav(bad)


def test_wav_features_kernel(spark):
    import numpy as np

    from npm_mirror_spark.operators.multimodal import encode_wav, wav_features

    t = (np.ones(16000) * 1000).astype("int16")
    df = spark.createDataFrame(
        [(9, bytearray(encode_wav(t, 16000)))], "media_id long, content binary"
    )
    r = wav_features(df).collect()[0]
    assert r["sample_rate"] == 16000
    assert r["n_channels"] == 1
    assert r["n_frames"] == 16000
    assert r["duration_s"] == 1.0
    assert abs(r["rms"] - 1000.0) < 1e-9


def _pad_jpeg_markers(raw: bytes) -> bytes:
    """Insert two 0xFF fill bytes before every marker (legal per T.81
    B.1.1.2) — entropy-coded data and RST markers are copied verbatim."""
    out = bytearray(raw[:2])  # SOI
    pos, n = 2, len(raw)
    while pos + 1 < n:
        assert raw[pos] == 0xFF, "walker lost marker sync"
        marker = raw[pos + 1]
        out += b"\xff\xff" + raw[pos : pos + 2]
        pos += 2
        if marker == 0xD9:
            break
        seglen = int.from_bytes(raw[pos : pos + 2], "big")
        out += raw[pos : pos + seglen]
        pos += seglen
        if marker == 0xDA:  # copy entropy data up to the next true marker
            start = pos
            while pos + 1 < n:
                if (
                    raw[pos] == 0xFF
                    and raw[pos + 1] != 0x00
                    and not (0xD0 <= raw[pos + 1] <= 0xD7)
                ):
                    break
                pos += 1
            out += raw[start:pos]
    return bytes(out)


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """r6 advice finding: optional 0xFF fill bytes before a marker are
    legal (T.81 B.1.1.2); a padded stream must decode bit-identically to
    its unpadded original instead of raising 'marker sync lost'."""
    import numpy as np

    y, x = np.mgrid[0:41, 0:53]
    g = ((x * 4 + y * 3) % 256).astype(np.uint8)
    a = np.stack([g, 255 - g, (x * 7 % 256)], axis=-1).astype(np.uint8)
    raw = mm.encode_jpeg(a, subsampling="444")
    assert np.array_equal(mm.decode_jpeg(raw), mm.decode_jpeg(_pad_jpeg_markers(raw)))
