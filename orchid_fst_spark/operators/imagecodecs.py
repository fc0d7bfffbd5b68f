"""Real compressed-image codecs, dependency-free: PNG and baseline JPEG.

These close the ``decoder='real'`` seam in ``operators/multimodal.py``
without external libraries: a real crawl ships JPEG/PNG, and this
module decodes (and, for test fixtures, encodes) both with numpy + the
stdlib only.  When Pillow IS installed it is preferred for formats this
module doesn't cover (GIF/TIFF/WebP/...) via ``parse_image_real``'s
fallback, so the seam upgrades transparently.

Implemented from the public format specifications (no reference-repo
counterpart — the reference is a string-index engine with no media
path; this is part of the LLM-data-pipeline surface the brief adds):

* PNG (RFC 2083 / ISO 15948): IHDR/PLTE/IDAT/IEND chunk walk, zlib
  inflate, all five scanline filters un-applied vectorized per row,
  8-bit gray / gray+alpha / palette / RGB / RGBA, non-interlaced.
  ``encode_png`` writes filter-0 RGB for lossless round-trips.
* JPEG (ITU-T T.81 baseline sequential DCT): DQT/SOF0/DHT/SOS/DRI
  marker walk, canonical Huffman decode over the byte-stuffed entropy
  stream (RSTn handled), dequantize + inverse zigzag, exact 2-D IDCT
  as two 8x8 matrix products, nearest-neighbor chroma upsampling for
  subsampled scans (4:4:4 / 4:2:2 / 4:2:0), JFIF YCbCr -> RGB.
  ``encode_jpeg`` is a 4:4:4 baseline encoder with the T.81 Annex K
  example tables (quality-scaled), used to synthesize REAL JPEGs for
  the decode tests (lossy: tests assert PSNR, not equality).

Decoding is per-image Python (the entropy stream is inherently
sequential); at scale each image decodes inside a ``mapInPandas``
worker, so the engine parallelizes across images, never inside one.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pix: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG (color type 2, bit depth 8, filter 0
    on every scanline, one IDAT)."""
    if pix.ndim != 3 or pix.shape[2] != 3:
        raise ValueError("encode_png wants (h, w, 3) uint8 RGB")
    h, w, _ = pix.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pix.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(data: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering -> (h, w*bpp) uint8."""
    stride = w * bpp
    arr = np.frombuffer(data, np.uint8)
    if len(arr) != h * (stride + 1):
        raise ValueError("PNG: bad decompressed length")
    arr = arr.reshape(h, stride + 1)
    ftypes = arr[:, 0]
    rows = arr[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), np.int32)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        f = int(ftypes[y])
        cur = rows[y]
        if f == 0:  # None
            line = cur.copy()
        elif f == 1:  # Sub: per-lane prefix sum (mod distributes over +)
            line = (cur.reshape(w, bpp).cumsum(axis=0) & 0xFF).reshape(
                stride
            )
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        elif f == 3:  # Average
            line = cur.copy()
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            line = cur.copy()
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter {f}")
        out[y] = line
        prev = line
    return out.astype(np.uint8)


def parse_png(raw: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB (alpha stripped, palette expanded,
    gray broadcast).  8-bit depths, non-interlaced."""
    if raw[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    color = depth = interlace = None
    palette = None
    idat = []
    while pos + 8 <= len(raw):
        (clen,) = struct.unpack(">I", raw[pos : pos + 4])
        tag = raw[pos + 4 : pos + 8]
        body = raw[pos + 8 : pos + 8 + clen]
        pos += 12 + clen
        if tag == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG: no IHDR")
    if depth != 8:
        raise ValueError(f"PNG: only bit depth 8 supported (got {depth})")
    if interlace:
        raise ValueError("PNG: interlaced images not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"PNG: unknown color type {color}")
    data = zlib.decompress(b"".join(idat))
    flat = _png_unfilter(data, h, w, channels).reshape(h, w, channels)
    if color == 3:
        if palette is None:
            raise ValueError("PNG: palette image without PLTE")
        return palette[flat[:, :, 0]]
    if color == 0:
        return np.repeat(flat, 3, axis=2)
    if color == 4:
        return np.repeat(flat[:, :, :1], 3, axis=2)
    if color == 6:
        return flat[:, :, :3].copy()
    return flat


# ---------------------------------------------------------------------------
# JPEG (baseline sequential, T.81)
# ---------------------------------------------------------------------------

# zigzag order: index k of the scan -> (row, col) in the 8x8 block
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# T.81 Annex K example quantization tables (K.1 luminance, K.2 chroma)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# T.81 Annex K example Huffman tables: (bits[1..16], huffval)
_HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# exact 8-point DCT-II basis; IDCT = _DCT_B.T @ coeffs @ _DCT_B
_DCT_B = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT_B[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _huff_codes(bits, values):
    """Canonical Huffman per T.81 C.2: (code, length) per value."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, values):
    """value lookup keyed by (length, code)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def pad_to_byte(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.buf)


class _BitReader:
    """Bit reader over the entropy-coded segment with 0xFF00 unstuffing
    and RSTn awareness (``marker`` is set when one is hit)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG: entropy stream truncated")
        byte = d[self.pos]
        self.pos += 1
        if byte == 0xFF:
            nxt = d[self.pos] if self.pos < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 1
            elif 0xD0 <= nxt <= 0xD7:  # RSTn
                self.marker = nxt
                self.pos += 1
                byte = 0  # value never used: caller resyncs first
            else:  # EOI or next marker: pad reads as zeros
                byte = 0
                self.pos -= 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        return v

    def sync_restart(self) -> None:
        """Resynchronize at a restart boundary: drop buffered bits and
        position just past the RSTn marker (scan forward if padding
        reads didn't already consume it)."""
        if self.marker is None:
            d = self.data
            p = self.pos
            while p + 1 < len(d):
                if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
                    p += 2
                    break
                p += 1
            else:
                raise ValueError("JPEG: expected restart marker")
            self.pos = p
        self.acc = 0
        self.nbits = 0
        self.marker = None


def _extend(v: int, t: int) -> int:
    """T.81 F.12 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_block(br, dc_tab, ac_tab, pred: int):
    coeff = np.zeros(64, np.int64)
    t = _read_huff(br, dc_tab)
    diff = _extend(br.bits(t), t) if t else 0
    pred += diff
    coeff[0] = pred
    k = 1
    while k < 64:
        rs = _read_huff(br, ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG: AC run past block end")
        coeff[k] = _extend(br.bits(s), s)
        k += 1
    return coeff, pred


def _read_huff(br, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bits(1)
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("JPEG: invalid Huffman code")


def _rgb_to_ycbcr(pix: np.ndarray) -> np.ndarray:
    p = pix.astype(np.float64)
    r, g, b = p[:, :, 0], p[:, :, 1], p[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.stack([r, g, b], axis=2).round(), 0, 255
    ).astype(np.uint8)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG-style quality scaling of a base table."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qt = (base * scale + 50) // 100
    return np.clip(qt, 1, 255)


def _encode_block(bw, block, qt_zz, enc_dc, enc_ac, pred: int) -> int:
    """DCT + quantize + entropy-code one 8x8 level-shifted block;
    returns the updated DC predictor."""
    co = _DCT_B @ block @ _DCT_B.T
    # both sides in zigzag order: coefficient k of the scan divides by
    # table entry k as stored in the DQT segment
    q = np.round(co.reshape(64)[_ZIGZAG] / qt_zz).astype(np.int64)
    diff = int(q[0]) - pred
    pred = int(q[0])
    nb = abs(diff).bit_length()
    code, ln = enc_dc[nb]
    bw.write(code, ln)
    if nb:
        bw.write(diff if diff >= 0 else diff + (1 << nb) - 1, nb)
    run = 0
    for k in range(1, 64):
        v = int(q[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = enc_ac[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = enc_ac[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = enc_ac[0x00]  # EOB
        bw.write(code, ln)
    return pred


def encode_jpeg(
    pix: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG with the Annex K
    example Huffman tables and IJG-scaled Annex K quantization tables.
    ``subsampling='444'`` (one block per component per MCU) or
    ``'420'`` (2x2 luma blocks per MCU, 2x2-box-averaged chroma — the
    dominant layout of real crawl JPEGs); ``restart_interval`` emits a
    DRI segment and byte-aligned RSTn markers every N MCUs."""
    if pix.ndim != 3 or pix.shape[2] != 3:
        raise ValueError("encode_jpeg wants (h, w, 3) uint8 RGB")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w, _ = pix.shape
    qt = [_scaled_qt(_QT_LUMA, quality), _scaled_qt(_QT_CHROMA, quality)]
    qt_zz = [qt[0][_ZIGZAG], qt[1][_ZIGZAG]]
    sub = 2 if subsampling == "420" else 1
    mcu_px = 8 * sub
    H = -(-h // mcu_px) * mcu_px
    W = -(-w // mcu_px) * mcu_px
    padded = np.pad(pix, ((0, H - h), (0, W - w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded) - 128.0
    y_pl = ycc[:, :, 0]
    if sub == 2:  # 2x2 box-average chroma
        cb_pl = ycc[:, :, 1].reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))
        cr_pl = ycc[:, :, 2].reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))
    else:
        cb_pl, cr_pl = ycc[:, :, 1], ycc[:, :, 2]
    enc_dc = [_huff_codes(*_HT_DC_LUMA), _huff_codes(*_HT_DC_CHROMA)]
    enc_ac = [_huff_codes(*_HT_AC_LUMA), _huff_codes(*_HT_AC_CHROMA)]
    bw = _BitWriter()
    pred = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(0, H, mcu_px):
        for mx in range(0, W, mcu_px):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                bw.pad_to_byte()
                bw.buf.append(0xFF)
                bw.buf.append(0xD0 + rst)
                rst = (rst + 1) & 7
                pred = [0, 0, 0]
            for by in range(sub):
                for bx in range(sub):
                    blk = y_pl[
                        my + by * 8 : my + by * 8 + 8,
                        mx + bx * 8 : mx + bx * 8 + 8,
                    ]
                    pred[0] = _encode_block(
                        bw, blk, qt_zz[0], enc_dc[0], enc_ac[0], pred[0]
                    )
            cy, cx = my // sub, mx // sub
            pred[1] = _encode_block(
                bw, cb_pl[cy : cy + 8, cx : cx + 8], qt_zz[1],
                enc_dc[1], enc_ac[1], pred[1],
            )
            pred[2] = _encode_block(
                bw, cr_pl[cy : cy + 8, cx : cx + 8], qt_zz[1],
                enc_dc[1], enc_ac[1], pred[2],
            )
            mcu_count += 1
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(int(x) for x in table[_ZIGZAG]))

    def dht(cls: int, tid: int, bits, values) -> bytes:
        return seg(
            0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values)
        )

    luma_hv = (sub << 4) | sub
    sof = seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, luma_hv, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    sos = seg(
        0xDA,
        bytes([3]) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 63, 0]),
    )
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, qt[0])
        + dqt(1, qt[1])
        + sof
        + dht(0, 0, *_HT_DC_LUMA)
        + dht(1, 0, *_HT_AC_LUMA)
        + dht(0, 1, *_HT_DC_CHROMA)
        + dht(1, 1, *_HT_AC_CHROMA)
        + dri
        + sos
        + scan
        + b"\xff\xd9"
    )


def parse_jpeg(raw: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w, 3) uint8 RGB.  Sequential DCT (SOF0),
    8-bit, 1 or 3 components, sampling factors up to 2 (4:4:4 / 4:2:2 /
    4:2:0), restart intervals honored."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    h = w = None
    restart = 0
    while pos < len(raw):
        if raw[pos] != 0xFF:
            pos += 1
            continue
        marker = raw[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", raw[pos : pos + 2])
        body = raw[pos + 2 : pos + seglen]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0xF
                if prec:
                    raise ValueError("JPEG: 16-bit qt unsupported")
                # kept in ZIGZAG order (the segment's order) — the
                # entropy decoder's coefficients are zigzag too, so
                # dequantization is index-aligned without a scatter
                qts[tid] = np.frombuffer(
                    body[b + 1 : b + 65], np.uint8
                ).astype(np.int64)
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                values = list(body[b + 17 : b + 17 + n])
                huff[(cls, tid)] = _huff_decode_table(bits, values)
                b += 17 + n
        elif marker == 0xC0 or marker == 0xC1:
            prec = body[0]
            if prec != 8:
                raise ValueError("JPEG: only 8-bit precision supported")
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("JPEG: only baseline sequential supported")
        elif marker == 0xDD:
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            sel = {}
            for si in range(ns):
                cs, tt = body[1 + 2 * si], body[2 + 2 * si]
                sel[cs] = (tt >> 4, tt & 0xF)
            scan_pos = pos + seglen
            return _decode_scan(
                raw, scan_pos, h, w, comps, sel, qts, huff, restart
            )
        pos += seglen
    raise ValueError("JPEG: no SOS")


def _decode_scan(raw, pos, h, w, comps, sel, qts, huff, restart):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("JPEG: sampling factors > 2 unsupported")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64)
        )
    br = _BitReader(raw, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                br.sync_restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t, ac_t = sel[c["id"]]
                qt = qts[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeff, pred[ci] = _decode_block(
                            br, huff[(0, dc_t)], huff[(1, ac_t)], pred[ci]
                        )
                        blk = np.zeros(64, np.float64)
                        blk[_ZIGZAG] = coeff * qt
                        spatial = _DCT_B.T @ blk.reshape(8, 8) @ _DCT_B
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial + 128.0
            mcu_count += 1
    # upsample each plane to full resolution (nearest), crop, recolor
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        g = np.clip(full[0].round(), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=2)
    return _ycbcr_to_rgb(full[0], full[1], full[2])


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def parse_image_real(raw: bytes) -> tuple[np.ndarray, str]:
    """Decode a real compressed image: PNG and baseline JPEG natively
    (this module), BMP/PPM via the stdlib codecs, anything else via
    Pillow when installed.  -> ((h, w, 3) uint8 RGB, format)."""
    if raw[:8] == _PNG_SIG:
        return parse_png(raw), "png"
    if raw[:2] == b"\xff\xd8":
        return parse_jpeg(raw), "jpeg"
    if raw[:2] in (b"BM",) or raw[:2] == b"P6":
        from .multimodal import parse_image

        return parse_image(raw)
    try:  # optional Pillow fallback for GIF/TIFF/WebP/...
        from PIL import Image  # type: ignore
    except ImportError:
        raise ValueError(
            "unsupported image format (PNG/JPEG/BMP/PPM decode natively; "
            "install Pillow for other formats)"
        )
    try:
        img = Image.open(io.BytesIO(raw))
        fmt = (img.format or "pil").lower()  # the convert()ed copy has none
        rgb = img.convert("RGB")  # decodes; truncated data raises here
    except OSError as exc:  # PIL.UnidentifiedImageError is an OSError
        raise ValueError(f"unsupported image format (Pillow: {exc})") from exc
    return np.asarray(rgb), fmt
