"""Real compressed-image codecs (operators/imagecodecs.py): PNG
lossless round-trips over every filter type and color type, baseline
JPEG encode->decode PSNR across subsampling layouts and restart
intervals, and the decoder='real' dispatch.  No Spark session needed —
these are the executor-side kernels."""

import struct
import zlib

import numpy as np
import pytest

from orchid_fst_spark.operators.imagecodecs import (
    _PNG_SIG,
    _png_chunk,
    encode_jpeg,
    encode_png,
    parse_image_real,
    parse_jpeg,
    parse_png,
)

rng = np.random.default_rng(42)


def _psnr(a, b):
    mse = ((a.astype(np.float64) - b) ** 2).mean()
    return 10 * np.log10(255 ** 2 / max(mse, 1e-9))


def _smooth(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return (
        np.stack(
            [
                xx * 255 / max(w - 1, 1),
                yy * 255 / max(h - 1, 1),
                127 + 120 * np.sin(xx / 7.0) * np.cos(yy / 5.0),
            ],
            axis=2,
        )
        .clip(0, 255)
        .astype(np.uint8)
    )


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def test_png_roundtrip_random():
    for shape in [(1, 1, 3), (7, 5, 3), (64, 48, 3), (33, 17, 3)]:
        pix = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (parse_png(encode_png(pix)) == pix).all(), shape


def _png_with_filters(pix, filt):
    """Hand-encode with a chosen per-scanline filter sequence so the
    decoder's un-filtering of ALL five types is exercised."""
    h, w, _ = pix.shape
    raws = []
    prev = np.zeros(w * 3, np.int64)
    for y in range(h):
        row = pix[y].reshape(-1).astype(np.int64)
        f = filt[y % len(filt)]
        if f == 0:
            enc = row
        elif f == 1:
            enc = row.copy()
            enc[3:] = (row[3:] - row[:-3]) % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            enc = row.copy()
            for x in range(w * 3):
                left = row[x - 3] if x >= 3 else 0
                enc[x] = (row[x] - ((left + prev[x]) >> 1)) % 256
        else:  # Paeth
            enc = row.copy()
            for x in range(w * 3):
                a = row[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (row[x] - pred) % 256
        raws.append(bytes([f]) + bytes(enc.astype(np.uint8)))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filt", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_all_filters(filt):
    pix = rng.integers(0, 256, (16, 9, 3), dtype=np.uint8)
    assert (parse_png(_png_with_filters(pix, filt)) == pix).all()


def _raw_png(color, data, w, h, pal=None):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if pal is not None:
        out += _png_chunk(b"PLTE", pal)
    return out + _png_chunk(b"IDAT", zlib.compress(data)) + _png_chunk(b"IEND", b"")


def test_png_gray_rgba_palette():
    g = rng.integers(0, 256, (4, 5), dtype=np.uint8)
    data = b"".join(bytes([0]) + bytes(g[y]) for y in range(4))
    assert (
        parse_png(_raw_png(0, data, 5, 4)) == np.repeat(g[:, :, None], 3, 2)
    ).all()
    rgba = rng.integers(0, 256, (4, 5, 4), dtype=np.uint8)
    data = b"".join(bytes([0]) + bytes(rgba[y].reshape(-1)) for y in range(4))
    assert (parse_png(_raw_png(6, data, 5, 4)) == rgba[:, :, :3]).all()
    pal = bytes(rng.integers(0, 256, 256 * 3, dtype=np.uint8))
    idx = rng.integers(0, 256, (4, 5), dtype=np.uint8)
    data = b"".join(bytes([0]) + bytes(idx[y]) for y in range(4))
    palarr = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    assert (parse_png(_raw_png(3, data, 5, 4, pal)) == palarr[idx]).all()


def test_png_rejects_garbage_and_interlace():
    with pytest.raises(ValueError, match="not a PNG"):
        parse_png(b"nope")
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlaced
    raw = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlaced"):
        parse_png(raw)


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("shape", [(8, 8), (16, 24), (33, 17), (64, 64)])
def test_jpeg_roundtrip_444(shape):
    pix = _smooth(*shape)
    out = parse_jpeg(encode_jpeg(pix, quality=90))
    assert out.shape == pix.shape
    assert _psnr(out, pix) > 30


@pytest.mark.parametrize("shape", [(16, 16), (24, 40), (35, 19)])
def test_jpeg_roundtrip_420(shape):
    # chroma-subsampled (the dominant layout of real crawl JPEGs):
    # decoder exercises multi-block MCUs + nearest chroma upsampling
    pix = _smooth(*shape)
    out = parse_jpeg(encode_jpeg(pix, quality=90, subsampling="420"))
    assert out.shape == pix.shape
    assert _psnr(out, pix) > 27


@pytest.mark.parametrize("sub", ["444", "420"])
def test_jpeg_restart_markers_are_framing_only(sub):
    # RSTn + DRI must decode to EXACTLY the no-restart pixels: the
    # quantized data is identical, restarts only change the entropy
    # framing (and reset DC predictors on both sides)
    pix = _smooth(48, 56)
    base = parse_jpeg(encode_jpeg(pix, quality=90, subsampling=sub))
    for ri in (1, 2, 5):
        out = parse_jpeg(
            encode_jpeg(pix, quality=90, subsampling=sub, restart_interval=ri)
        )
        assert (out == base).all(), (sub, ri)


def test_jpeg_noise_survives():
    pix = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    out = parse_jpeg(encode_jpeg(pix, quality=95))
    assert out.shape == pix.shape
    assert _psnr(out, pix) > 25  # lossy worst case, still faithful


def test_jpeg_rejects_progressive_and_garbage():
    with pytest.raises(ValueError, match="not a JPEG"):
        parse_jpeg(b"nope")
    # splice an SOF2 (progressive) marker in place of SOF0
    raw = bytearray(encode_jpeg(_smooth(8, 8)))
    raw[raw.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        parse_jpeg(bytes(raw))


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def test_parse_image_real_dispatch():
    pix = _smooth(12, 10)
    arr, fmt = parse_image_real(encode_png(pix))
    assert fmt == "png" and (arr == pix).all()
    arr, fmt = parse_image_real(encode_jpeg(pix, quality=90))
    assert fmt == "jpeg" and _psnr(arr, pix) > 30
    # BMP/PPM route to the stdlib codecs
    from orchid_fst_spark.operators.multimodal import encode_bmp, encode_ppm

    arr, fmt = parse_image_real(encode_bmp(pix))
    assert fmt == "bmp" and (arr == pix).all()
    arr, fmt = parse_image_real(encode_ppm(pix))
    assert fmt == "ppm" and (arr == pix).all()
    with pytest.raises(ValueError, match="image format"):
        parse_image_real(b"\x00\x01garbage")


def _stub_pillow(monkeypatch, open_fn):
    """Install a minimal stand-in ``PIL`` package exposing ``Image.open``
    and ``UnidentifiedImageError`` (a subclass of OSError, as in Pillow),
    so the fallback's contract is tested whether or not Pillow exists."""
    import sys
    import types

    pil = types.ModuleType("PIL")
    image = types.ModuleType("PIL.Image")
    pil.UnidentifiedImageError = type("UnidentifiedImageError", (OSError,), {})
    image.open = lambda fp: open_fn(pil, fp)
    pil.Image = image
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image)


def test_parse_image_real_pillow_unidentified_is_value_error(monkeypatch):
    def unidentified(pil, fp):
        raise pil.UnidentifiedImageError("cannot identify image file")

    _stub_pillow(monkeypatch, unidentified)
    with pytest.raises(ValueError, match="unsupported image format"):
        parse_image_real(b"GIF89a-not-really")


def test_parse_image_real_pillow_reports_source_format(monkeypatch):
    pix = _smooth(4, 3)

    class FakeImage:
        def __init__(self, fmt):
            self.format = fmt

        def convert(self, mode):
            assert mode == "RGB"
            return FakeImage(None)  # like Pillow: the copy has no format

        def __array__(self, dtype=None, copy=None):
            return pix

    _stub_pillow(monkeypatch, lambda pil, fp: FakeImage("GIF"))
    arr, fmt = parse_image_real(b"GIF89a")
    assert fmt == "gif" and (arr == pix).all()


def test_parse_image_real_matches_pillow_if_present():
    PIL = pytest.importorskip("PIL.Image")
    import io

    pix = _smooth(20, 14)
    # our PNG must decode identically under Pillow...
    img = PIL.open(io.BytesIO(encode_png(pix))).convert("RGB")
    assert (np.asarray(img) == pix).all()
    # ...and Pillow's PNG under our decoder
    buf = io.BytesIO()
    PIL.fromarray(pix).save(buf, format="PNG")
    arr, fmt = parse_image_real(buf.getvalue())
    assert fmt == "png" and (arr == pix).all()
    # our baseline JPEG decodes under Pillow within PSNR
    img = PIL.open(io.BytesIO(encode_jpeg(pix, quality=90))).convert("RGB")
    assert _psnr(np.asarray(img), pix) > 30
