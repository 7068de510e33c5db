"""Style goldens (InterpolatedColorMapSpec.scala:39-78,
OgcStyleSpec.scala:29-41) + PNG round-trip."""

import numpy as np

from geotrellis_server_spark.styles import colormap as C
from geotrellis_server_spark.styles.png import decode_png, encode_png

POLES = {-100.0: (255, 0, 0, 100), 0.0: (0, 255, 0, 100), 100.0: (0, 0, 255, 100)}


def test_interpolation_midpoint_golden():
    # InterpolatedColorMapSpec: interpolate(50) between green and blue
    # → rgba(0, 127, 127, 100) (integer rounding of 127.5 both channels)
    out = C.interpolated_colormap(np.array([50.0]), POLES)
    r, g, b, a = out[0]
    assert (r, a) == (0, 100)
    assert abs(int(g) - 127) <= 1 and abs(int(b) - 127) <= 1
    assert int(g) + int(b) == 255


def test_clip_modes_at_infinity():
    # InterpolatedColorMapSpec clip behavior at ±∞
    v = np.array([-np.inf, np.inf])
    none = C.interpolated_colormap(v, POLES, C.CLIP_NONE)
    assert tuple(none[0]) == (255, 0, 0, 100) and tuple(none[1]) == (0, 0, 255, 100)
    left = C.interpolated_colormap(v, POLES, C.CLIP_LEFT)
    assert tuple(left[0]) == (0, 0, 0, 0) and tuple(left[1]) == (0, 0, 255, 100)
    right = C.interpolated_colormap(v, POLES, C.CLIP_RIGHT)
    assert tuple(right[0]) == (255, 0, 0, 100) and tuple(right[1]) == (0, 0, 0, 0)
    both = C.interpolated_colormap(v, POLES, C.CLIP_BOTH)
    assert tuple(both[0]) == (0, 0, 0, 0) and tuple(both[1]) == (0, 0, 0, 0)


def test_nan_transparent():
    out = C.interpolated_colormap(np.array([np.nan]), POLES)
    assert tuple(out[0]) == (0, 0, 0, 0)


def test_color_ramp_breaks_golden():
    # OgcStyleSpec: 50 breaks over [-10, 90], endpoints exact
    b = C.color_ramp_breaks(-10.0, 90.0, 50)
    assert len(b) == 50 and b[0] == -10.0 and b[-1] == 90.0
    assert np.allclose(np.diff(b), b[1] - b[0])


def test_exact_color_map():
    out = C.color_map(np.array([1.0, 2.0, 3.0]), {1.0: (255, 0, 0, 255), 2.0: (0, 255, 0, 255)})
    assert tuple(out[0]) == (255, 0, 0, 255)
    assert tuple(out[1]) == (0, 255, 0, 255)
    assert tuple(out[2]) == (0, 0, 0, 0)  # unmapped → fallback transparent


def test_classify_breaks_render():
    breaks = np.array([0.0, 10.0])
    colors = np.array([(255, 0, 0, 255), (0, 0, 255, 255)])
    out = C.classify_breaks(np.array([-5.0, 5.0, 50.0, np.nan]), breaks, colors)
    assert tuple(out[0]) == (255, 0, 0, 255)
    assert tuple(out[1]) == (0, 0, 255, 255)
    assert tuple(out[2]) == (0, 0, 0, 0)  # above last break → transparent
    assert tuple(out[3]) == (0, 0, 0, 0)


def test_png_roundtrip_rgba_and_grey():
    rng = np.random.default_rng(42)
    rgba = rng.integers(0, 256, (16, 12, 4), dtype=np.uint8)
    assert (decode_png(encode_png(rgba)) == rgba).all()
    grey = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    assert (decode_png(encode_png(grey)) == grey).all()


def test_png_deterministic():
    rgba = np.zeros((4, 4, 4), dtype=np.uint8)
    assert encode_png(rgba) == encode_png(rgba)


def test_render_rgba_default_grey_nodata_transparent():
    cells = np.array([[0.0, np.nan], [50.0, 100.0]])
    out = C.render_rgba(cells)
    assert out[0, 1, 3] == 0  # NoData transparent
    assert out[1, 1, 0] == 255 and out[0, 0, 0] == 0  # rescaled 0..255


# --- baseline JPEG codec (styles/jpeg.py) ----------------------------------


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_jpeg_minimal_block_matches_spec_hand_encoding():
    """Flat gray 8x8 at any quality: all coefficients zero, so the scan
    is DC-size-0 (DC-lum code '00') + EOB (AC-lum code '1010') + 1-bit
    padding = 0b00101011 = 0x2B — hand-derived from T.81 Annex K
    canonical code assignment (external-decoder-free spec check)."""
    from geotrellis_server_spark.styles.jpeg import encode_jpeg

    b = encode_jpeg(np.full((8, 8), 128, dtype=np.uint8), 85)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    i = b.find(b"\xff\xda")
    seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
    assert b[i + 2 + seg_len : -2] == b"\x2b"


def test_jpeg_roundtrip_psnr():
    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    g = np.linspace(0, 255, 23 * 37).reshape(23, 37).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, 85))
    assert out.shape == g.shape and _psnr(g, out) > 40

    yy, xx = np.mgrid[0:32, 0:48]
    rgb = np.stack([(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256],
                   axis=-1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(rgb, 90))
    assert out.shape == rgb.shape and _psnr(rgb, out) > 40

    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    assert _psnr(noise, decode_jpeg(encode_jpeg(noise, 95))) > 30


def test_jpeg_quality_monotone_size():
    from geotrellis_server_spark.styles.jpeg import encode_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    sizes = [len(encode_jpeg(img, q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_jpeg_decoder_rejects_progressive():
    import pytest

    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    b = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    i = b.find(b"\xff\xc0")
    b[i + 1] = 0xC2  # pretend progressive
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(b))


def test_jpeg_subsampled_roundtrip_all_modes():
    """4:2:2 / 4:2:0 (the mainstream-encoder default) decode through the
    general MCU loop; bytes shrink monotonically with subsampling."""
    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:77, 0:101]
    img = np.stack([(yy * 2) % 256, (xx * 2) % 256, (yy + xx) % 256],
                   axis=-1).astype(np.uint8)
    sizes = {}
    for sub in ("444", "422", "420"):
        blob = encode_jpeg(img, 90, subsampling=sub)
        out = decode_jpeg(blob)
        assert out.shape == img.shape
        assert _psnr(img, out) > 40, sub
        sizes[sub] = len(blob)
    assert sizes["420"] < sizes["422"] < sizes["444"]


def test_jpeg_restart_markers_roundtrip():
    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    img = np.stack([g, g, g], axis=-1)  # chroma-constant: 420-safe noise
    for sub in ("444", "420"):
        blob = encode_jpeg(img, 92, subsampling=sub, restart_interval=2)
        assert b"\xff\xdd" in blob  # DRI segment
        assert any(bytes([0xFF, 0xD0 + i]) in blob for i in range(8))
        out = decode_jpeg(blob)
        assert out.shape == img.shape
        assert _psnr(img, out) > 30
        # restart markers must not change the pixels at all
        plain = decode_jpeg(encode_jpeg(img, 92, subsampling=sub))
        assert (out == plain).all()


def test_jpeg_subsampled_gray_ignores_mode():
    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    g = np.linspace(0, 255, 24 * 40).reshape(24, 40).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, 90, subsampling="420"))
    assert out.shape == g.shape and _psnr(g, out) > 40


def test_jpeg_decoder_rejects_bad_sampling_byte():
    import pytest

    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    b = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    i = b.find(b"\xff\xc0")
    b[i + 11] = 0x50  # luma sampling 5x0: out of the 1..4 range
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(bytes(b))


def test_jpeg_420_in_mjpeg_sized_blocks():
    # odd dims exercise edge-MCU padding + crop on both axes
    from geotrellis_server_spark.styles.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:17, 0:19]
    img = np.stack([yy * 7 % 256, xx * 9 % 256, (yy * xx) % 256],
                   axis=-1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, 95, subsampling="420"))
    assert out.shape == img.shape
    assert _psnr(img[..., 0], out[..., 0]) > 35  # luma is full-res
