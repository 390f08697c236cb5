"""Real pixel work on codec-free image formats: PPM/BMP decode, channel
stats, mean-pool thumbnail features, nearest-neighbor resize — unit tests
on the pure-numpy codecs plus Spark-side runs through the multimodal ops."""

import struct

import numpy as np
import pytest

from lakehouse_engine_spark.core.definitions import TransformerSpec
from lakehouse_engine_spark.datapipes.media_codecs import (
    decode_image,
    encode_ppm,
    resize_nearest,
    sniff_media,
    thumbnail_feature,
)
from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory


def t(name, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args))


def make_ppm(arr: np.ndarray) -> bytes:
    return encode_ppm(arr)


def make_bmp(arr: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit BMP (bottom-up rows, 4-byte padding)."""
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in arr[::-1]:  # bottom-up
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])  # BGR
        line += b"\x00" * (stride - len(line))
        raster += line
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return bytes(header + info + raster)


@pytest.fixture()
def img():
    # 4x4: red/green/blue/white quadrant-ish pattern
    a = np.zeros((4, 4, 3), dtype=np.uint8)
    a[:2, :2] = [255, 0, 0]
    a[:2, 2:] = [0, 255, 0]
    a[2:, :2] = [0, 0, 255]
    a[2:, 2:] = [255, 255, 255]
    return a


def test_ppm_roundtrip(img):
    arr, codec = decode_image(make_ppm(img))
    assert codec == "ppm" and np.array_equal(arr, img)


def test_ppm_with_comment(img):
    b = make_ppm(img).replace(b"P6\n", b"P6\n# a comment\n", 1)
    arr, _ = decode_image(b)
    assert np.array_equal(arr, img)


def test_bmp_roundtrip(img):
    arr, codec = decode_image(make_bmp(img))
    assert codec == "bmp" and np.array_equal(arr, img)


def test_sniffer():
    assert sniff_media(b"\xff\xd8\xff\xe0junk") == "image/jpeg"
    assert sniff_media(b"\x89PNG\r\n\x1a\njunk") == "image/png"
    assert decode_image(b"\xff\xd8\xff\xe0junk") is None  # honest: no codec


def test_resize_nearest(img):
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8, 3)
    assert np.array_equal(up[0, 0], img[0, 0]) and np.array_equal(up[7, 7], img[3, 3])
    down = resize_nearest(up, 2, 2)
    assert np.array_equal(down[0, 0], img[0, 0])


def test_thumbnail_feature_mean_pools(img):
    f = thumbnail_feature(img, side=2)
    # quadrant means of grayscale: red/green/blue ≈ 85, white = 255
    assert f.shape == (4,)
    assert abs(f[3] - 1.0) < 1e-6 and all(abs(x - 85.0 / 255) < 1e-6 for x in f[:3])


def test_spark_image_decode_and_resize(spark, img):
    rows = [
        (1, make_ppm(img)),
        (2, make_bmp(img)),
        (3, b"\xff\xd8\xff\xe0 jpeg-ish"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    meta = {r["id"]: r for r in df.transform(t("multimodal_image_decode")).collect()}
    assert (meta[1]["width"], meta[1]["height"], meta[1]["codec"]) == (4, 4, "ppm")
    assert meta[2]["codec"] == "bmp"
    assert meta[1]["mean_rgb"] == pytest.approx([127.5, 127.5, 127.5])
    assert meta[1]["feature"] == pytest.approx(list(meta[2]["feature"]))  # same pixels
    assert meta[3]["media_type"] == "image/jpeg" and meta[3]["codec"] is None

    resized = {
        r["id"]: r["payload"]
        for r in df.transform(t("multimodal_image_resize", width=2, height=2)).collect()
    }
    arr, codec = decode_image(bytes(resized[1]))
    assert codec == "ppm" and arr.shape == (2, 2, 3)
    assert np.array_equal(arr[0, 0], img[0, 0])
    assert resized[3] is None


def test_spark_image_decode_strict_raises(spark):
    df = spark.createDataFrame([(1, b"\x89PNG\r\n\x1a\nx")], "doc_id LONG, payload BINARY")
    with pytest.raises(Exception, match="codec"):
        df.transform(t("multimodal_image_decode", on_unsupported="error")).collect()


def test_injected_jpeg_decoder_runs_through_spark_path(spark, img):
    """Registered compressed-codec decoders (Pillow on a real cluster; a
    deterministic fake here) flow through the SAME Arrow-batched
    mapInPandas pipeline as the native PPM/BMP path: the plan-build-time
    registry snapshot is pickled into the executor closure, so a
    driver-registered closure decodes on workers."""
    from lakehouse_engine_spark.datapipes import media_codecs

    # deterministic fake: payload after the 3 magic bytes is a raw PPM
    def fake_jpeg(b: bytes):
        return decode_image(b[3:])[0]

    media_codecs.register_decoder("image/jpeg", fake_jpeg)
    try:
        rows = [
            (1, b"\xff\xd8\xff" + make_ppm(img)),  # "jpeg" → fake decoder
            (2, make_ppm(img)),                     # native path, same pixels
        ]
        df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
        meta = {r["id"]: r for r in df.transform(t("multimodal_image_decode")).collect()}
        assert meta[1]["codec"] == "jpeg" and meta[1]["media_type"] == "image/jpeg"
        assert (meta[1]["width"], meta[1]["height"]) == (4, 4)
        assert list(meta[1]["feature"]) == pytest.approx(list(meta[2]["feature"]))
        assert meta[1]["mean_rgb"] == pytest.approx([127.5, 127.5, 127.5])

        # resize consumes the injected decoder too, re-encoding as PPM
        resized = {
            r["id"]: r["payload"]
            for r in df.transform(t("multimodal_image_resize", width=2, height=2)).collect()
        }
        arr, codec = decode_image(bytes(resized[1]))
        assert codec == "ppm" and arr.shape == (2, 2, 3)
        assert np.array_equal(arr[0, 0], img[0, 0])
    finally:
        media_codecs.unregister_decoder("image/jpeg")

    # registry restored: strict mode honestly raises again
    df2 = spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0x")], "doc_id LONG, payload BINARY"
    )
    with pytest.raises(Exception, match="codec"):
        df2.transform(t("multimodal_image_decode", on_unsupported="error")).collect()


def test_decoder_must_return_hw3():
    from lakehouse_engine_spark.datapipes import media_codecs

    with pytest.raises(ValueError, match=r"\(H, W, 3\)"):
        decode_image(
            b"\xff\xd8\xff\xe0x", {"image/jpeg": lambda b: np.zeros((4, 4))}
        )


def test_webp_sniff():
    assert sniff_media(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "image/webp"


def test_wav_roundtrip_and_levels():
    from lakehouse_engine_spark.datapipes.media_codecs import decode_wav, encode_wav

    # stereo: constant 0.5 left, constant -0.25 right, 8 frames @ 16 kHz
    sig = np.stack(
        [np.full(8, 0.5, np.float32), np.full(8, -0.25, np.float32)], axis=1
    )
    samples, rate, codec = decode_wav(encode_wav(sig, 16_000))
    assert (rate, codec) and samples.shape == (8, 2) and rate == 16_000
    assert codec == "pcm16"
    assert np.allclose(samples[:, 0], 0.5, atol=1e-3)
    assert np.allclose(samples[:, 1], -0.25, atol=1e-3)
    assert decode_wav(b"\xff\xd8\xffnot-audio") is None


def test_wav_8bit_unsigned():
    from lakehouse_engine_spark.datapipes.media_codecs import decode_wav

    data = bytes([128, 255, 0, 128])  # silence, +max, -max, silence
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
    hdr += b"data" + struct.pack("<I", len(data))
    samples, rate, codec = decode_wav(hdr + data)
    assert codec == "pcm8" and rate == 8000
    assert np.allclose(samples[:, 0], [0.0, 0.9921875, -1.0, 0.0])


def test_resample_linear_preserves_constant_and_ramp():
    from lakehouse_engine_spark.datapipes.media_codecs import resample_linear

    const = np.full((100, 1), 0.5, np.float32)
    up = resample_linear(const, 8000, 16_000)
    assert up.shape == (200, 1) and np.allclose(up, 0.5)
    ramp = np.linspace(0, 1, 101, dtype=np.float32)[:, None]
    down = resample_linear(ramp, 16_000, 8_000)
    # linear interp of a linear ramp is the ramp itself, endpoints preserved
    assert down.shape == (50, 1)
    assert down[0, 0] == 0.0 and abs(down[-1, 0] - 1.0) < 1e-6
    assert np.allclose(np.diff(down[:, 0]), np.diff(down[:, 0])[0], atol=1e-6)


def test_spark_audio_resample_roundtrip(spark):
    from lakehouse_engine_spark.datapipes.media_codecs import decode_wav, encode_wav

    tone = np.full((80, 1), 0.25, np.float32)
    rows = [(1, encode_wav(tone, 8000)), (2, b"not audio at all")]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    out = {
        r["id"]: r["payload"]
        for r in df.transform(t("multimodal_audio_resample", target_rate=16_000)).collect()
    }
    samples, rate, codec = decode_wav(bytes(out[1]))
    assert (rate, codec) == (16_000, "pcm16")
    assert samples.shape == (160, 1)
    assert np.allclose(samples, 0.25, atol=1e-3)
    assert out[2] is None


def test_spark_audio_decode(spark):
    from lakehouse_engine_spark.datapipes.media_codecs import encode_wav

    tone = np.full((16, 1), 0.5, np.float32)
    rows = [
        (1, encode_wav(tone, 8000)),
        (2, b"\xff\xd8\xff not audio"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    meta = {r["id"]: r for r in df.transform(t("multimodal_audio_decode")).collect()}
    a = meta[1]
    assert (a["codec"], a["sample_rate"], a["n_channels"], a["n_samples"]) == (
        "pcm16", 8000, 1, 16,
    )
    assert a["duration_s"] == pytest.approx(16 / 8000)
    assert a["rms"] == pytest.approx(0.5, abs=1e-3)
    assert a["peak"] == pytest.approx(0.5, abs=1e-3)
    assert meta[2]["media_type"] == "image/jpeg" and meta[2]["codec"] is None

    with pytest.raises(Exception, match="codec"):
        df.transform(t("multimodal_audio_decode", on_unsupported="error")).collect()


def test_image_dedup_ahash_collapses_perceptual_copies(spark):
    """aHash dedup: brightness-pattern copies collapse (same image with a
    uniform +10 brightness shift has the SAME aHash — aHash thresholds on
    the image's own mean), structurally different images survive, and
    undecodable payloads keep a NULL hash and are never dropped."""
    import numpy as np

    from lakehouse_engine_spark.datapipes.media_codecs import encode_ppm
    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    rng = np.random.RandomState(3)
    base = rng.randint(0, 200, (16, 16, 3), dtype=np.uint8)
    brighter = np.clip(base.astype(np.int16) + 10, 0, 255).astype(np.uint8)
    other = 255 - base  # inverted: different bright/dark structure
    rows = [
        (1, bytearray(encode_ppm(base))),
        (2, bytearray(encode_ppm(brighter))),
        (3, bytearray(encode_ppm(other))),
        (4, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, payload BINARY")
    flagged = {r["doc_id"]: r for r in df.transform(
        t("multimodal_image_dedup", keep="flagged")
    ).collect()}
    assert flagged[1]["ahash"] == flagged[2]["ahash"]
    assert flagged[2]["is_duplicate"] and flagged[2]["dup_group_id"] == 1
    assert not flagged[1]["is_duplicate"]
    assert flagged[3]["ahash"] != flagged[1]["ahash"] and not flagged[3]["is_duplicate"]
    assert flagged[4]["ahash"] is None and not flagged[4]["is_duplicate"]
    kept = df.transform(t("multimodal_image_dedup")).collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 3, 4]


def test_video_frames_chain_into_perceptual_dedup(spark):
    """Composition: video → frame_sample (injected extractor) →
    multimodal_image_dedup keyed on a global frame id — repeated frames
    within/across videos collapse to one representative (the video
    keyframe-dedup pipeline with only the codec injected)."""
    import numpy as np

    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.datapipes import media_codecs
    from lakehouse_engine_spark.datapipes.media_codecs import encode_ppm
    from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory
    from pyspark.sql import functions as F

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    def fake_mp4_frames(b, max_frames):
        # per-value pseudo-random pattern: same value → identical frame,
        # different value → different STRUCTURE (aHash is structure-based;
        # solid frames would all hash alike)
        return [
            encode_ppm(
                np.random.RandomState(v).randint(0, 256, (8, 8, 3)).astype(np.uint8)
            )
            for v in b[12 : 12 + max_frames]
        ]

    media_codecs.register_frame_extractor("video/mp4", fake_mp4_frames)
    try:
        # two videos sharing frame value 10; video A repeats 10 internally
        va = b"\x00\x00\x00\x18ftypisom" + bytes([10, 10, 20])
        vb = b"\x00\x00\x00\x18ftypisom" + bytes([10, 30])
        df = spark.createDataFrame(
            [(1, va), (2, vb)], "doc_id LONG, payload BINARY"
        )
        frames = df.transform(
            t("multimodal_frame_sample", max_frames=4, mode="strict")
        ).select(
            (F.col("id") * 100 + F.col("frame_idx")).alias("fid"),
            F.col("frame_bytes").alias("payload"),
        )
        kept = frames.transform(
            t("multimodal_image_dedup", id_col="fid")
        ).collect()
        # 5 frames, values [10,10,20] + [10,30] → survivors 10(min fid), 20, 30
        assert sorted(r["fid"] for r in kept) == [100, 102, 201]
    finally:
        media_codecs.unregister_frame_extractor("video/mp4")


def test_y4m_decode_real_parse_and_color():
    """YUV4MPEG2: header parse, frame walk, C444 and C420 plane math, and
    BT.601 limited-range conversion on known values; malformed inputs
    raise with the failure named."""
    import numpy as np

    from lakehouse_engine_spark.datapipes.media_codecs import (
        decode_y4m,
        encode_y4m,
        sniff_media,
    )

    u = np.full((4, 6), 128, np.uint8)
    b = encode_y4m(
        [(np.full((4, 6), 128, np.uint8), u, u),
         (np.full((4, 6), 16, np.uint8), u, u),
         (np.full((4, 6), 235, np.uint8), u, u)]
    )
    assert sniff_media(b) == "video/y4m"
    frames, w, h = decode_y4m(b)
    assert (w, h, len(frames)) == (6, 4, 3)
    # neutral chroma: R=G=B=round((Y-16)*255/219); 16->0, 235->255 (range)
    assert frames[0][0, 0].tolist() == [130, 130, 130]
    assert frames[1][0, 0].tolist() == [0, 0, 0]
    assert frames[2][0, 0].tolist() == [255, 255, 255]
    # C420: quarter-size chroma upsamples; red-ish chroma shifts R up
    y = np.full((2, 2), 126, np.uint8)
    red_v = np.full((1, 1), 200, np.uint8)
    f420, _, _ = decode_y4m(
        encode_y4m([(y, np.full((1, 1), 128, np.uint8), red_v)],
                   subsampling="420")
    )
    px = f420[0][0, 0]
    assert px[0] > px[1] and px[0] > px[2]  # V>128 pushes red
    # max_frames truncates
    assert len(decode_y4m(b, max_frames=2)[0]) == 2
    import pytest as _pt

    with _pt.raises(ValueError, match="YUV4MPEG2"):
        decode_y4m(b"not a video")
    with _pt.raises(ValueError, match="truncated"):
        decode_y4m(b[:-5])
    with _pt.raises(ValueError, match="unsupported chroma"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C422\nFRAME\n" + b"\x00" * 8)


def test_y4m_frames_feed_image_pipeline(spark):
    """Composition: a real y4m payload through multimodal_frame_sample in
    STRICT mode (built-in extractor, no injection) → image decode — the
    frames arrive as PPM and decode to the right dims."""
    import numpy as np

    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.datapipes.media_codecs import encode_y4m
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )
    from pyspark.sql import functions as F

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    u = np.full((4, 6), 128, np.uint8)
    vid = encode_y4m([(np.full((4, 6), 100, np.uint8), u, u)] * 3)
    df = spark.createDataFrame([(1, bytearray(vid))], "doc_id LONG, payload BINARY")
    frames = df.transform(
        t("multimodal_frame_sample", max_frames=2, mode="strict")
    ).select(
        (F.col("id") * 10 + F.col("frame_idx")).alias("fid"),
        F.col("frame_bytes").alias("payload"),
    )
    meta = frames.transform(t("multimodal_image_decode", id_col="fid")).collect()
    assert len(meta) == 2  # max_frames honored
    assert all(r["codec"] == "ppm" and (r["width"], r["height"]) == (6, 4)
               for r in meta)


def test_avi_container_walk_extracts_stream_chunks(spark):
    """Real RIFF/AVI walk: video chunks (00dc) inside nested LISTs come out
    in order, odd-size padding is honored, non-video chunks are skipped,
    truncation raises; the extractor is registered by default so
    frame_sample handles AVI payloads in STRICT mode."""
    import numpy as np

    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.datapipes.media_codecs import (
        encode_avi,
        encode_ppm,
        extract_avi_frames,
    )
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    ppm1 = encode_ppm(np.full((2, 3, 3), 9, np.uint8))
    ppm2 = encode_ppm(np.full((2, 3, 3), 10, np.uint8))
    avi = encode_avi([ppm1, b"odd", ppm2])
    assert extract_avi_frames(avi) == [ppm1, b"odd", ppm2]
    assert extract_avi_frames(avi, max_frames=1) == [ppm1]
    import pytest as _pt

    with _pt.raises(ValueError, match="RIFF"):
        extract_avi_frames(b"nope")
    with _pt.raises(ValueError, match="truncated"):
        extract_avi_frames(avi[:-6])
    # end-to-end through the pipeline, no injection
    df = spark.createDataFrame([(5, bytearray(avi))], "doc_id LONG, payload BINARY")
    rows = df.transform(
        t("multimodal_frame_sample", max_frames=10, mode="strict")
    ).collect()
    assert [bytes(r["frame_bytes"]) for r in sorted(rows, key=lambda r: r["frame_idx"])] == [
        ppm1, b"odd", ppm2
    ]


# ------------------------------------------------------------------ PNG


def test_png_roundtrip_all_filters(img):
    """encode→decode identity with every scanline filter type exercised
    (rows cycle 0..4: none/sub/up/average/paeth) — the un-filter paths are
    individually inverted, including the cumsum sub trick and the
    sequential average/paeth fallbacks."""
    from lakehouse_engine_spark.datapipes.media_codecs import encode_png

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(11, 13, 3), dtype=np.uint8)
    filters = [y % 5 for y in range(11)]
    payload = encode_png(arr, row_filters=filters)
    assert sniff_media(payload) == "image/png"
    decoded, codec = decode_image(payload)
    assert codec == "png"
    np.testing.assert_array_equal(decoded, arr)
    # default (filter 0 everywhere) too
    decoded0, _ = decode_image(encode_png(arr))
    np.testing.assert_array_equal(decoded0, arr)


def test_png_unfilter_python_path_equals_vectorized():
    """The r14 small-stride pure-python unfilter must be BYTE-IDENTICAL
    to the vectorized numpy path for every filter type, every bpp, and
    boundary shapes (1-row, 1-col, stride<bpp edge) — random images,
    fixed seed."""
    import lakehouse_engine_spark.datapipes.media_codecs as mc

    rng = np.random.RandomState(20260817)
    for bpp in (1, 2, 3, 4):
        for h, w in ((1, 1), (1, 7), (5, 1), (9, 6), (3, 200)):
            stride = w * bpp
            raw = np.empty(h * (1 + stride), dtype=np.uint8)
            rows = raw.reshape(h, 1 + stride)
            rows[:, 0] = [y % 5 for y in range(h)]
            rows[:, 1:] = rng.randint(0, 256, size=(h, stride), dtype=np.uint8)
            got_py = mc._png_unfilter_py(raw.copy(), h, stride, bpp)
            prev = mc._UNFILTER_PY_MAX_STRIDE
            try:
                mc._UNFILTER_PY_MAX_STRIDE = -1  # force the numpy path
                got_np = mc._png_unfilter(raw.copy(), h, stride, bpp)
            finally:
                mc._UNFILTER_PY_MAX_STRIDE = prev
            np.testing.assert_array_equal(got_py, got_np, err_msg=f"bpp={bpp} h={h} w={w}")


def test_png_gray_alpha_palette_profiles():
    """Hand-built IHDR variants: grayscale stacks to RGB, RGBA/gray+alpha
    drop alpha, palette expands through PLTE."""
    import struct as _s
    import zlib

    from lakehouse_engine_spark.datapipes.media_codecs import _PNG_SIG

    def chunk(ctype, data):
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    def png(w, h, depth, ctype_n, raster, plte=None):
        ihdr = _s.pack(">IIBBBBB", w, h, depth, ctype_n, 0, 0, 0)
        body = chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", plte)
        body += chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b"")
        return _PNG_SIG + body

    # grayscale 2x2: values 10,20 / 30,40 (filter 0 rows)
    g = png(2, 2, 8, 0, b"\x00\x0a\x14\x00\x1e\x28")
    arr, _ = decode_image(g)
    assert arr.shape == (2, 2, 3)
    assert arr[0, 0].tolist() == [10, 10, 10] and arr[1, 1].tolist() == [40, 40, 40]
    # gray+alpha: alpha dropped
    ga = png(1, 1, 8, 4, b"\x00\x63\x80")
    arr, _ = decode_image(ga)
    assert arr[0, 0].tolist() == [99, 99, 99]
    # RGBA: alpha dropped
    rgba = png(1, 1, 8, 6, b"\x00\x01\x02\x03\xff")
    arr, _ = decode_image(rgba)
    assert arr[0, 0].tolist() == [1, 2, 3]
    # palette: two indices through a 3-entry PLTE
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    pal = png(2, 1, 8, 3, b"\x00\x00\x02", plte=plte)
    arr, _ = decode_image(pal)
    assert arr[0, 0].tolist() == [255, 0, 0] and arr[0, 1].tolist() == [0, 0, 255]


def test_png_unsupported_variants_route_to_registry():
    """16-bit PNG: native decode refuses, and (a) with no registered
    decoder raises the guided error, (b) with an injected image/png
    decoder the payload routes through it — the Pillow seam."""
    import struct as _s
    import zlib

    from lakehouse_engine_spark.datapipes.media_codecs import (
        _PNG_SIG,
        register_decoder,
        unregister_decoder,
    )

    def chunk(ctype, data):
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = _s.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)  # 16-bit RGB
    deep = (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" + b"\x01\x02" * 3))
            + chunk(b"IEND", b""))
    # the raw decoder names the gap; decode_image routes it to NULL-field
    # handling (None) so one deep payload can't kill a corpus job
    from lakehouse_engine_spark.datapipes.media_codecs import _decode_png

    with pytest.raises(ValueError, match="plug Pillow in"):
        _decode_png(deep)
    assert decode_image(deep) is None
    sentinel = np.full((2, 2, 3), 42, dtype=np.uint8)
    register_decoder("image/png", lambda b: sentinel)
    try:
        arr, codec = decode_image(deep)
        assert codec == "png"
        np.testing.assert_array_equal(arr, sentinel)
    finally:
        unregister_decoder("image/png")


def test_png_through_spark_multimodal_pipeline(spark):
    """End-to-end: PNG payloads built per row (zlib on the executors),
    decoded by multimodal_image_decode through the SAME Arrow-batched
    pipeline as PPM/BMP — dims and channel means recovered exactly."""
    from pyspark.sql import functions as F

    from lakehouse_engine_spark.datapipes.media_codecs import encode_png

    def make_payload(doc_id: int) -> bytes:
        w, h = 4 + doc_id % 3, 5
        arr = np.full((h, w, 3), 0, dtype=np.uint8)
        arr[:, :, 0] = doc_id % 256
        arr[:, :, 1] = (3 * doc_id) % 256
        arr[:, :, 2] = (7 * doc_id) % 256
        return encode_png(arr, row_filters=[y % 5 for y in range(h)])

    rows = [(i, bytearray(make_payload(i))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    out = {r["id"]: r for r in df.transform(t("multimodal_image_decode")).collect()}
    for i in range(40):
        r = out[i]
        assert r["media_type"] == "image/png" and r["codec"] == "png"
        assert (r["width"], r["height"]) == (4 + i % 3, 5)
        assert [round(x) for x in r["mean_rgb"]] == [
            i % 256, (3 * i) % 256, (7 * i) % 256
        ]


# ------------------------------------------------------------------ JPEG


def test_jpeg_solid_color_closed_form():
    """With flat (all-ones) quant tables a solid color survives entirely in
    the DC coefficients, so the decode equals the closed-form YCbCr
    half-up round-trip of the input color — the exact arithmetic dp85's
    DuckDB oracle replays."""
    from lakehouse_engine_spark.datapipes.media_jpeg import decode_jpeg, encode_jpeg

    for color in [(10, 200, 77), (0, 0, 0), (255, 255, 255), (123, 45, 67)]:
        arr = np.zeros((16, 24, 3), dtype=np.uint8)
        arr[:, :] = color
        dec = decode_jpeg(encode_jpeg(arr))
        assert dec.shape == (16, 24, 3)
        assert (dec == dec[0, 0]).all()
        r, g, b = map(float, color)
        y = min(max(np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0), 255)
        cb = min(max(np.floor(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.5), 0), 255)
        cr = min(max(np.floor(0.5 * r - 0.418688 * g - 0.081312 * b + 128.5), 0), 255)
        exp = [
            int(min(max(np.floor(y + 1.402 * (cr - 128) + 0.5), 0), 255)),
            int(min(max(np.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5), 0), 255)),
            int(min(max(np.floor(y + 1.772 * (cb - 128) + 0.5), 0), 255)),
        ]
        assert dec[0, 0].tolist() == exp


def test_jpeg_roundtrip_near_lossless_and_lossy():
    """Flat quant: arbitrary pixels round-trip within ±2 (float DCT +
    YCbCr rounding), including non-multiple-of-8 dims with edge-replicate
    padding. A real coarse quant table decodes without error and stays in
    the right neighborhood."""
    from lakehouse_engine_spark.datapipes.media_jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(0)
    arr = rng.randint(0, 256, (24, 40, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(arr))
    assert np.abs(dec.astype(int) - arr.astype(int)).max() <= 2
    odd = rng.randint(0, 256, (13, 19, 3), dtype=np.uint8)
    dec_odd = decode_jpeg(encode_jpeg(odd))
    assert dec_odd.shape == (13, 19, 3)
    assert np.abs(dec_odd.astype(int) - odd.astype(int)).max() <= 2
    q = np.full(64, 16, dtype=np.int32)
    q[0] = 8
    flat = np.zeros((16, 16, 3), dtype=np.uint8)
    flat[:8], flat[8:] = (200, 30, 90), (20, 180, 240)
    dec_q = decode_jpeg(encode_jpeg(flat, quant=q))
    assert np.abs(dec_q[2, 2].astype(int) - [200, 30, 90]).max() <= 8
    assert np.abs(dec_q[12, 12].astype(int) - [20, 180, 240]).max() <= 8


def test_jpeg_unsupported_routes_to_registry_or_null():
    """Progressive (SOF2) refuses natively; decode_image routes it to a
    registered decoder when present, else returns None (NULL-field
    routing — corrupt/deep payloads must not kill a corpus job)."""
    import struct as _s

    from lakehouse_engine_spark.datapipes import media_codecs
    from lakehouse_engine_spark.datapipes.media_jpeg import decode_jpeg, encode_jpeg

    good = encode_jpeg(np.full((8, 8, 3), 99, dtype=np.uint8))
    # rewrite SOF0 (FFC0) marker to SOF2 (FFC2): progressive
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="not baseline"):
        decode_jpeg(prog)
    assert media_codecs.decode_image(prog) is None
    sentinel = np.full((2, 2, 3), 7, dtype=np.uint8)
    media_codecs.register_decoder("image/jpeg", lambda b: sentinel)
    try:
        arr, codec = media_codecs.decode_image(prog)
        assert codec == "jpeg"
        np.testing.assert_array_equal(arr, sentinel)
    finally:
        media_codecs.unregister_decoder("image/jpeg")


def test_jpeg_through_spark_multimodal_pipeline(spark):
    """End-to-end: real JPEG payloads built per row, natively decoded by
    multimodal_image_decode through the same Arrow-batched pipeline."""
    from lakehouse_engine_spark.datapipes.media_jpeg import encode_jpeg

    def make(i):
        arr = np.zeros((8, 8 + 8 * (i % 2), 3), dtype=np.uint8)
        arr[:, :] = ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256)
        return bytearray(encode_jpeg(arr))

    df = spark.createDataFrame(
        [(i, make(i)) for i in range(24)], "doc_id LONG, payload BINARY"
    )
    out = {r["id"]: r for r in df.transform(t("multimodal_image_decode")).collect()}
    for i in range(24):
        r = out[i]
        assert r["media_type"] == "image/jpeg" and r["codec"] == "jpeg"
        assert (r["width"], r["height"]) == (8 + 8 * (i % 2), 8)
        assert r["mean_rgb"] is not None  # exact values pinned in dp85's oracle


def test_wav_g711_alaw_mulaw():
    """G.711 telephony WAVs (formats 6/7) decode through the LUTs:
    round-trip a sine through reference Python companders and require
    <1% reconstruction error; known anchor bytes decode exactly."""
    from lakehouse_engine_spark.datapipes.media_codecs import decode_wav

    def wav(fmt, data, ch=1, rate=8000):
        hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        hdr += b"fmt " + struct.pack("<IHHIIHH", 16, fmt, ch, rate, rate, ch, 8)
        hdr += b"data" + struct.pack("<I", len(data))
        return hdr + data

    # reference encoders (inverse of the decode expansion)
    def mulaw_enc(x):
        v = int(np.clip(x, -1, 1) * 32768)
        sign = 0x80 if v < 0 else 0
        v = min(abs(v) + 0x84, 0x7FFF)
        exp = v.bit_length() - 8
        mant = (v >> (exp + 3)) & 0x0F
        return (~(sign | (exp << 4) | mant)) & 0xFF

    def alaw_enc(x):
        v = int(np.clip(x, -1, 1) * 32768)
        sign = 0x80 if v < 0 else 0
        v = min(abs(v), 0x7FFF)
        if v < 0x100:
            exp, mant = 0, (v >> 4) & 0x0F
        else:
            exp = v.bit_length() - 8
            mant = (v >> (exp + 3)) & 0x0F
        return (sign | (exp << 4) | mant) ^ 0x55

    sine = np.sin(np.linspace(0, 4 * np.pi, 64)) * 0.8
    mdata = bytes(mulaw_enc(x) for x in sine)
    adata = bytes(alaw_enc(x) for x in sine)
    ms, mr, mc = decode_wav(wav(7, mdata))
    as_, ar, ac = decode_wav(wav(6, adata))
    assert (mc, ac) == ("mulaw", "alaw") and mr == ar == 8000
    # companding bound: segment mantissas truncate in the reference
    # encoder, so worst-case error is a full mantissa step (~2% near the
    # 0.8 peak); the DECODE expansion itself is exact per G.711
    assert np.abs(ms[:, 0] - sine).max() < 0.02
    assert np.abs(as_[:, 0] - sine).max() < 0.02
    # anchors: mu-law 0xFF is +0, A-law 0x55 is smallest positive step
    z, _, _ = decode_wav(wav(7, b"\xff"))
    assert z[0, 0] == 0.0
    s, _, _ = decode_wav(wav(6, b"\x55"))
    assert 0 < s[0, 0] < 0.001
    # unsupported format still raises the guided error
    with pytest.raises(ValueError, match="a-law"):
        decode_wav(wav(3, b"\x00\x00\x00\x00"))  # IEEE float


# ------------------------------------------------------------------ GIF


def test_gif_roundtrip_real_lzw():
    """encode→decode identity through REAL LZW (dictionary growth across
    code widths, KwKwK on runs, 4096-entry cap on the big case)."""
    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif

    rng = np.random.RandomState(3)
    cases = [
        (rng.randint(0, 4, (17, 23, 3)) * 85).astype(np.uint8),
        np.full((8, 12, 3), (9, 200, 33), dtype=np.uint8),       # KwKwK runs
        (rng.randint(0, 6, (100, 100, 3)) * 42).astype(np.uint8),  # >4096 codes
    ]
    for arr in cases:
        payload = encode_gif(arr)
        assert sniff_media(payload) == "image/gif"
        dec, codec = decode_image(payload)
        assert codec == "gif"
        np.testing.assert_array_equal(dec, arr)
    with pytest.raises(ValueError, match="> 256"):
        encode_gif(rng.randint(0, 256, (40, 40, 3), dtype=np.uint8))
    assert decode_image(b"GIF89ajunkjunk") is None  # malformed → NULL routing


def test_gif_interlaced_decode():
    """Interlaced GIFs (4-pass row order) deinterlace correctly: rows of a
    plain encode are re-ordered into pass order and the interlace flag is
    set; the decoder must reconstruct the original image."""
    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif

    rng = np.random.RandomState(9)
    arr = (rng.randint(0, 4, (13, 7, 3)) * 80).astype(np.uint8)
    h = arr.shape[0]
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    payload = bytearray(encode_gif(arr[np.array(order)]))
    # image descriptor: after 13-byte header + global color table
    n_table = 2 << (payload[10] & 0x07)
    desc = 13 + n_table * 3
    assert payload[desc] == 0x2C
    payload[desc + 9] |= 0x40  # set interlace flag
    dec, codec = decode_image(bytes(payload))
    assert codec == "gif"
    np.testing.assert_array_equal(dec, arr)


def test_gif_through_spark_multimodal_pipeline(spark):
    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif

    def make(i):
        arr = np.full((6, 4 + i % 4, 3), 0, dtype=np.uint8)
        arr[:, :] = ((i * 13) % 256, (i * 29) % 256, (i * 47) % 256)
        return bytearray(encode_gif(arr))

    df = spark.createDataFrame(
        [(i, make(i)) for i in range(30)], "doc_id LONG, payload BINARY"
    )
    out = {r["id"]: r for r in df.transform(t("multimodal_image_decode")).collect()}
    for i in range(30):
        r = out[i]
        assert r["media_type"] == "image/gif" and r["codec"] == "gif"
        assert (r["width"], r["height"]) == (4 + i % 4, 6)
        # palette formats are EXACT: means are the solid color itself
        assert [round(x, 4) for x in r["mean_rgb"]] == [
            (i * 13) % 256, (i * 29) % 256, (i * 47) % 256
        ]


def test_wav_ima_adpcm_roundtrip():
    """IMA ADPCM (WAV format 0x11, real compressed audio): a sine encoded
    through the standard encoder recurrence decodes with 4-bit-ADPCM-grade
    error; the fact chunk truncates block-padding tail samples so frame
    counts are exact; stereo interleaving preserved."""
    from lakehouse_engine_spark.datapipes.media_codecs import (
        decode_wav,
        encode_ima_adpcm,
    )

    sine = (np.sin(np.linspace(0, 20 * np.pi, 2000)) * 0.7).astype(np.float32)
    samples, rate, codec = decode_wav(encode_ima_adpcm(sine, 16_000))
    assert codec == "ima_adpcm" and rate == 16_000
    assert samples.shape == (2000, 1)  # fact chunk clips the padding
    err = np.abs(samples[:, 0] - sine)
    assert err.max() < 0.15 and np.sqrt((err ** 2).mean()) < 0.02
    st = np.stack([sine, -sine], axis=1)
    s2, _, c2 = decode_wav(encode_ima_adpcm(st, 8_000))
    assert c2 == "ima_adpcm" and s2.shape == (2000, 2)
    assert np.abs(s2 - st).max() < 0.15


def test_r14_multimodal_embeddings_review_fixes(spark):
    """Regression pins for the round-14 multimodal/embeddings review
    findings (decode robustness, sniff false positives, enum guards)."""
    import struct as _struct

    import pyspark.sql.functions as F

    # (1) unsupported WAV VARIANTS yield NULL fields instead of killing
    # the job: 24-bit PCM and a truncated RIFF both decode to None
    def wav24(n=4):
        data = b"\x00\x00\x00" * n
        fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
        return (b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(data)) + data)

    clips = spark.createDataFrame(
        [(1, bytearray(wav24())), (2, bytearray(b"RIFF\x10\x00\x00\x00WAVE"))],
        "doc_id LONG, payload BINARY",
    )
    out = {r["id"]: r for r in clips.transform(
        t("multimodal_audio_decode")
    ).collect()}
    assert out[1]["codec"] is None and out[2]["codec"] is None
    res = clips.transform(t("multimodal_audio_resample", target_rate=8000))
    assert all(r["payload"] is None for r in res.collect())

    # (2) zero-dimension but well-formed images route to NULL fields
    imgs = spark.createDataFrame(
        [(1, bytearray(b"P6\n0 0\n255\n"))], "doc_id LONG, payload BINARY"
    )
    meta = imgs.transform(t("multimodal_image_decode")).collect()[0]
    assert meta["media_type"] == "image/x-portable-pixmap"
    assert meta["codec"] is None and meta["width"] is None
    rz = imgs.transform(t("multimodal_image_resize", width=2, height=2))
    assert rz.collect()[0]["payload"] is None
    dd = imgs.transform(t("multimodal_image_dedup", keep="flagged")).collect()[0]
    assert dd["ahash"] is None and dd["is_duplicate"] is False

    # (3) binary_decompress auto: a zlib-lookalike plain payload passes
    # through unchanged; corrupt strong-magic gzip honours on_error;
    # explicit codec keeps on_error
    raw = b"x hello world"
    bd = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray(b"\x1f\x8btruncated!"))],
        "doc_id LONG, payload BINARY",
    )
    got = {r["doc_id"]: r for r in bd.transform(t("binary_decompress")).collect()}
    assert bytes(got[1]["payload_raw"]) == raw          # false positive: passthrough
    assert got[2]["payload_raw"] is None                # real corruption: NULL
    exp = bd.filter("doc_id = 1").transform(
        t("binary_decompress", codec="zlib")
    ).collect()[0]
    assert exp["payload_raw"] is None                   # explicit codec: on_error

    # (4) enum/param typos fail at plan time
    for bad in (
        dict(name="multimodal_feature_extract", mode="strct"),
        dict(name="multimodal_image_decode", on_unsupported="eror"),
        dict(name="multimodal_audio_decode", on_unsupported="eror"),
        dict(name="multimodal_image_dedup", keep="survivor"),
        dict(name="multimodal_frame_sample", mode="Fake"),
        dict(name="multimodal_frame_sample", every_n_bytes=0),
    ):
        nm = bad.pop("name")
        with pytest.raises(ValueError):
            t(nm, **bad)

    # (5) frame_sample: NULL payload emits ZERO frames, not a phantom one
    fs = spark.createDataFrame(
        [(1, None), (2, bytearray(b"A" * 600))], "doc_id LONG, payload BINARY"
    ).transform(t("multimodal_frame_sample", every_n_bytes=256))
    rows = fs.collect()
    assert {r["id"] for r in rows} == {2} and len(rows) == 2


def test_r14_embedding_nan_review_fixes(spark, monkeypatch):
    """NaN/Inf hygiene for the embedding family (r14 review pins)."""
    import math

    import pyspark.sql.functions as F

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [nan, 1.0]), (3, [inf, 1.0]), (4, [0.0, 0.0])],
        "id LONG, embedding ARRAY<DOUBLE>",
    )
    # normalize: poisoned vectors take the zero branch; norm keeps signal
    nm = {r["id"]: r for r in df.transform(t("embedding_normalize")).collect()}
    assert nm[1]["embedding_unit"] == [0.6, 0.8]
    assert nm[2]["embedding_unit"] == [0.0, 0.0] and math.isnan(nm[2]["l2_norm"])
    assert nm[3]["embedding_unit"] == [0.0, 0.0] and nm[3]["l2_norm"] == inf
    assert nm[4]["embedding_unit"] == [0.0, 0.0]
    # quantize: NaN amax no longer hits an ANSI cast error
    qz = {r["id"]: r for r in df.transform(
        t("embedding_quantize_int8")
    ).collect()}
    assert qz[2]["embedding_q8"] == [0, 0] and qz[2]["q8_scale"] == 0.0
    assert qz[3]["embedding_q8"] == [0, 0]
    assert qz[1]["embedding_q8"] == [95, 127]
    # mean_pool: ragged widths divide by the component's OWN count
    mp = spark.createDataFrame(
        [("g", [1.0, 2.0]), ("g", [3.0])], "label STRING, embedding ARRAY<DOUBLE>"
    ).transform(t("embedding_mean_pool")).collect()[0]
    assert mp["embedding_mean"] == [2.0, 2.0]  # comp2: 2.0/1, not 2.0/2
    # pca stats: a NaN cell excludes its ROW; moments equal the clean subset
    dirty = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [nan, 5.0]), (3, [3.0, 4.0])],
        "id LONG, embedding ARRAY<DOUBLE>",
    )
    clean = dirty.filter("id != 2")
    stats_d = sorted(tuple(r) for r in dirty.transform(
        t("embedding_pca", mode="stats", n_components=1)
    ).collect())
    stats_c = sorted(tuple(r) for r in clean.transform(
        t("embedding_pca", mode="stats", n_components=1)
    ).collect())
    assert stats_d == stats_c
    assert all(v > -2**62 for _, _, v in stats_d)  # no INT64_MIN poison
    # random projection: poisoned rows project to all-NULL components on
    # BOTH physical paths (the Arrow boundary erases NaN both ways, so
    # NULL is the one marker the paths can agree on); clean rows equal
    from lakehouse_engine_spark.datapipes import embeddings

    def project(max_terms):
        monkeypatch.setattr(embeddings, "RANDOM_PROJECTION_MAX_TERMS", max_terms)
        return dirty.transform(
            t("embedding_random_projection", out_dim=2)
        ).collect()

    kern = project(0)
    unro = project(1 << 20)
    for rk, ru in zip(sorted(kern, key=lambda r: r["id"]),
                      sorted(unro, key=lambda r: r["id"])):
        assert rk["embedding_rp"] == ru["embedding_rp"], rk["id"]
        if rk["id"] == 2:
            assert list(rk["embedding_rp"]) == [None, None]
