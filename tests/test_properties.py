"""Property-based tests (hypothesis) for the pure-numpy media kernels —
roundtrip and invariant properties across randomized shapes/values, where
example-based tests only pin single points."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lakehouse_engine_spark.datapipes.media_codecs import (
    decode_image,
    decode_wav,
    encode_ppm,
    encode_wav,
    resample_linear,
    resize_nearest,
    sniff_media,
    thumbnail_feature,
)

_dims = st.integers(min_value=1, max_value=24)


@settings(max_examples=60, deadline=None)
@given(w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1))
def test_ppm_roundtrip_any_shape(w, h, seed):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    arr, codec = decode_image(encode_ppm(img))
    assert codec == "ppm" and np.array_equal(arr, img)


@settings(max_examples=60, deadline=None)
@given(
    frames=st.integers(1, 400),
    channels=st.integers(1, 4),
    rate=st.sampled_from([8000, 16_000, 44_100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_any_shape(frames, channels, rate, seed):
    rng = np.random.RandomState(seed)
    sig = rng.uniform(-1, 1, (frames, channels)).astype(np.float32)
    samples, got_rate, codec = decode_wav(encode_wav(sig, rate))
    assert (got_rate, codec) == (rate, "pcm16")
    assert samples.shape == (frames, channels)
    # 16-bit quantization error bound: round-to-nearest contributes
    # 0.5/32768, the 32767-encode/32768-decode scale skew at most 1/32768
    assert np.max(np.abs(samples - sig)) <= 1.6 / 32768


@settings(max_examples=60, deadline=None)
@given(
    frames=st.integers(1, 500),
    src=st.sampled_from([8000, 16_000, 22_050, 44_100]),
    dst=st.sampled_from([8000, 16_000, 22_050, 44_100]),
    level=st.floats(-1, 1, allow_nan=False),
)
def test_resample_constant_signal_stays_constant(frames, src, dst, level):
    sig = np.full((frames, 1), np.float32(level), np.float32)
    out = resample_linear(sig, src, dst)
    # linear interpolation of a constant is that constant, any rate pair
    assert np.allclose(out, np.float32(level), atol=1e-6)
    if src == dst:
        assert out.shape == sig.shape
    else:
        assert out.shape[0] == max(int(round(frames * dst / src)), 1)


@settings(max_examples=40, deadline=None)
@given(
    frames=st.integers(2, 300),
    src=st.sampled_from([8000, 16_000]),
    dst=st.sampled_from([8000, 16_000, 32_000]),
)
def test_resample_bounded_by_input_range(frames, src, dst):
    # interpolation never overshoots the input envelope
    rng = np.random.RandomState(frames * 1000 + dst)
    sig = rng.uniform(-1, 1, (frames, 2)).astype(np.float32)
    out = resample_linear(sig, src, dst)
    assert out.min() >= sig.min() - 1e-6
    assert out.max() <= sig.max() + 1e-6


@settings(max_examples=40, deadline=None)
@given(w=_dims, h=_dims, out_w=_dims, out_h=_dims, seed=st.integers(0, 2**31 - 1))
def test_resize_nearest_samples_only_real_pixels(w, h, out_w, out_h, seed):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    out = resize_nearest(img, out_w, out_h)
    assert out.shape == (out_h, out_w, 3)
    # nearest-neighbor only ever copies existing pixel values
    src_px = {tuple(p) for p in img.reshape(-1, 3)}
    assert {tuple(p) for p in out.reshape(-1, 3)} <= src_px


@settings(max_examples=40, deadline=None)
@given(w=st.integers(1, 32), h=st.integers(1, 32), v=st.integers(0, 255))
def test_thumbnail_of_uniform_image_is_uniform(w, h, v):
    img = np.full((h, w, 3), v, np.uint8)
    f = thumbnail_feature(img, side=4)
    assert f.shape == (16,)
    assert np.allclose(f, v / 255.0, atol=1e-6)


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(min_size=0, max_size=64))
def test_sniffer_never_raises_and_decoders_reject_garbage(payload):
    kind = sniff_media(payload)
    assert isinstance(kind, str)
    if kind == "application/octet-stream":
        assert decode_image(payload) is None
        assert decode_wav(payload) is None


@settings(max_examples=60, deadline=None)
@given(w=_dims, h=_dims, seed=st.integers(0, 2**31 - 1))
def test_png_roundtrip_any_shape_any_filters(w, h, seed):
    """PNG encode→decode identity for arbitrary pixels/shapes with a
    pseudorandom per-row filter assignment covering all 5 filter types."""
    from lakehouse_engine_spark.datapipes.media_codecs import encode_png

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    filters = [int(x) for x in rng.randint(0, 5, h)]
    arr, codec = decode_image(encode_png(img, row_filters=filters))
    assert codec == "png" and np.array_equal(arr, img)


@settings(max_examples=40, deadline=None)
@given(w=_dims, h=_dims, levels=st.integers(2, 6), seed=st.integers(0, 2**31 - 1))
def test_gif_roundtrip_quantized_any_shape(w, h, levels, seed):
    """GIF (real LZW) encode→decode identity for any ≤256-color image."""
    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif

    rng = np.random.RandomState(seed)
    img = (rng.randint(0, levels, (h, w, 3)) * (255 // (levels - 1))).astype(
        np.uint8
    )
    arr, codec = decode_image(encode_gif(img))
    assert codec == "gif" and np.array_equal(arr, img)


def _jpeg_flat_quant_error_bound() -> int:
    """Worst-case per-channel round-trip error of the flat-quant JPEG codec,
    derived from its own transforms (``media_jpeg``):

    1. the forward YCbCr transform rounds half-up: each plane is off by
       at most 0.5;
    2. the 64 DCT coefficients are rounded to integers (a flat table only
       divides by 1): each is off by at most 0.5, and the orthonormal IDCT
       sums them into pixel (i, j) through ``_A[k, i] * _A[l, j]``, so a
       plane pixel is off by at most 0.5 * S_i * S_j with S_i the
       absolute column sum of ``_A`` (2.642 for every column: 3.49);
    3. the inverse transform scales each plane's error by the absolute
       row sum of its matrix — 1 + 1.772 = 2.772 for blue, the largest —
       plus the forward/inverse matrices' mismatch (< 3e-4 at 255);
    4. the final half-up round turns an error e into at most floor(e + 0.5).

    For blue: (0.5 + 3.49) * 2.772 + 3e-4 = 11.06, so 11. The bound is
    reached only when all 64 coefficient roundings line up with the signs
    of the basis; random images land far below it (w=h=10, seed=46 is 4)."""
    from lakehouse_engine_spark.datapipes.media_jpeg import _A

    s = np.abs(_A).sum(axis=0).max()
    plane = 0.5 + 0.5 * s * s
    inverse = np.array([[1, 0, 1.402], [1, -0.344136, -0.714136], [1, 1.772, 0]])
    forward = np.array(
        [[0.299, 0.587, 0.114], [-0.168736, -0.331264, 0.5], [0.5, -0.418688, -0.081312]]
    )
    mismatch = 255 * np.abs(inverse @ forward - np.eye(3)).sum(axis=1)
    return int(np.floor((plane * np.abs(inverse).sum(axis=1) + mismatch).max() + 0.5))


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 20), h=st.integers(1, 20), seed=st.integers(0, 2**31 - 1))
@example(w=10, h=10, seed=46)
def test_jpeg_flat_quant_roundtrip_bounded_error(w, h, seed):
    """Baseline JPEG with flat quant tables round-trips any image within the
    codec's derived worst case (:func:`_jpeg_flat_quant_error_bound`, 11 per
    channel): the colour transforms' half-up roundings AND the rounding of
    the 64 DCT coefficients, which the IDCT sums into every pixel. The
    pinned draw is one whose error (4) exceeds the colour-only ±3."""
    from lakehouse_engine_spark.datapipes.media_jpeg import decode_jpeg, encode_jpeg

    bound = _jpeg_flat_quant_error_bound()
    assert bound == 11
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= bound


@settings(max_examples=50, deadline=None)
@given(
    kind=st.sampled_from(["ppm", "png", "gif", "jpeg", "bmp"]),
    cut=st.integers(1, 200),
    seed=st.integers(0, 2**31 - 1),
)
def test_truncated_payloads_never_raise(kind, cut, seed):
    """NULL-routing contract under corruption: decode_image over ANY
    truncation of a valid payload either decodes or returns None — never
    raises. One corrupt object in a 100 TB corpus must not kill the job."""
    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif, encode_png
    from lakehouse_engine_spark.datapipes.media_jpeg import encode_jpeg

    rng = np.random.RandomState(seed)
    img = (rng.randint(0, 4, (9, 11, 3)) * 85).astype(np.uint8)
    if kind == "ppm":
        payload = encode_ppm(img)
    elif kind == "png":
        payload = encode_png(img)
    elif kind == "gif":
        payload = encode_gif(img)
    elif kind == "jpeg":
        payload = encode_jpeg(img)
    else:  # bmp — reuse the test_media builder shape inline
        import struct as _s

        stride = (11 * 3 + 3) & ~3
        raster = bytearray()
        for row in img[::-1]:
            line = bytearray()
            for px in row:
                line += bytes([px[2], px[1], px[0]])
            line += b"\x00" * (stride - len(line))
            raster += line
        payload = (
            _s.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
            + _s.pack("<IiiHHIIiiII", 40, 11, 9, 1, 24, 0, len(raster), 0, 0, 0, 0)
            + bytes(raster)
        )
    truncated = payload[: max(len(payload) - cut, 1)]
    result = decode_image(truncated)  # must not raise
    assert result is None or (
        result[0].ndim == 3 and result[0].shape[2] == 3
    )
