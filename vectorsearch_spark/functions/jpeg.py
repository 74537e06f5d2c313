"""Pure-stdlib baseline sequential JPEG (ITU-T T.81 / ISO 10918-1),
the third real codec of the multimodal tier (after BMP/PPM and PNG,
functions/codecs.py): JFIF container, 8-bit precision, Huffman entropy
coding with the standard Annex K tables, grayscale or YCbCr color with
4:4:4 or 4:2:0 chroma subsampling.

Encoder and decoder are self-contained (struct + numpy): forward /
inverse 2D DCT-II as explicit float64 matrix products, zigzag +
differential-DC + magnitude/Huffman coding, 0xFF byte stuffing, box
chroma down/up-sampling. Restart intervals are not emitted and not
supported (DRI rejects) — the encoder never writes them.

Exactness contract (what the hash gate checks): JPEG is lossy in
general, but an image whose 8×8 blocks are each CONSTANT, compressed
with an all-ones quantization table, round-trips EXACTLY — the DCT of
a constant block is a single integer DC coefficient (8·(v−128)), AC
all zero, so quantization's round() is the identity and the IDCT
reconstructs the constant to within 1e-12 before the final round().
The mm_jpeg_decode workload query builds such images from document
bytes (grayscale, and 4:2:0 color with MCU-constant pixels so the box
chroma average is also exact), decodes them through this decoder, and
hash-compares a position-weighted checksum that the DuckDB oracle
recomputes straight from the source bytes. Lossy behavior on arbitrary
images is covered by pytest round-trip tolerance tests.

No reference analog (the reference's only binary surface is the opaque
payload column, vectorsearch.proto:123-125).
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# ---------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K — the standard ones every baseline codec ships)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# (BITS counts per code length 1..16, HUFFVAL symbol list)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
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
_AC_CHROMA = (
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


def _huff_codes(bits, huffval):
    """(BITS, HUFFVAL) → {symbol: (code, length)} per T.81 C.1-C.3."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# Encoder code tables are constants (the Annex K tables above) — build
# them once at import instead of four dict builds per encode_jpeg call.
_ENC_DC_LUMA = _huff_codes(*_DC_LUMA)
_ENC_AC_LUMA = _huff_codes(*_AC_LUMA)
_ENC_DC_CHROMA = _huff_codes(*_DC_CHROMA)
_ENC_AC_CHROMA = _huff_codes(*_AC_CHROMA)


def _huff_lut(bits, huffval) -> list:
    """(BITS, HUFFVAL) → 65536-entry decode LUT: a 16-bit lookahead
    indexes straight to ``(code_length << 8) | symbol`` (0 = no code
    matches — invalid stream). Huffman codes are ≤ 16 bits, so one
    list lookup replaces the bit-by-bit tree walk."""
    lut = np.zeros(65536, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            start = code << (16 - length)
            lut[start:start + (1 << (16 - length))] = (length << 8) | huffval[k]
            code += 1
            k += 1
        code <<= 1
    return lut.tolist()


# Decode LUTs keyed by the raw DHT table payload (class/id byte + BITS
# + HUFFVAL): every frame of an M-JPEG stream — and in practice every
# payload, since encoders ship the standard Annex K tables — reuses the
# same few tables, so the LUT build happens once per worker process.
_DHT_LUT_CACHE: dict[bytes, list] = {}


# DCT-II basis matrix: F = C @ x @ C.T ; inverse x = C.T @ F @ C
def _dct_matrix() -> np.ndarray:
    k = np.arange(8)
    C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    C[0, :] *= 1 / np.sqrt(2)
    return C


_C = _dct_matrix()


# ---------------------------------------------------------------------------
# Bit IO (with 0xFF byte stuffing)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (T.81 F.1.2.3)
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """Coefficient → (size category, value bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = int(a).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) plane with 8-aligned dims → (n, 8, 8) blocks in raster
    (by, bx) order — one reshape/transpose instead of a Python loop."""
    H, W = plane.shape
    return plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)


def _fdct_quant_batch(blocks: np.ndarray, q: np.ndarray):
    """Forward DCT + quantize for a whole (n, 8, 8) block stack in one
    matmul (guide §4.2: batch the GEMM), returning per-block zigzag
    coefficient lists plus a has-AC flag so all-zero-AC blocks (the
    common case for quantized content) skip the 63-entry scan."""
    f = _C @ (blocks.astype(np.float64) - 128.0) @ _C.T
    zz = np.round(f / q).astype(np.int64).reshape(len(blocks), 64)[:, ZIGZAG]
    return zz.tolist(), (zz[:, 1:] != 0).any(axis=1).tolist()


def _encode_block(bw: _BitWriter, zz: list, pred: int, dc_codes, ac_codes, has_ac: bool = True) -> int:
    """Entropy-code one block given its zigzag coefficients as a plain
    Python list (``_fdct_quant_batch`` output)."""
    dc = zz[0]
    diff = dc - pred
    size, bits = _magnitude(diff)
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    if not has_ac:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
        return dc
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return dc


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, 255)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _pad_edge(plane: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    h, w = plane.shape
    if h % bh == 0 and w % bw_ == 0:
        return plane  # already aligned — skip the np.pad call entirely
    H = (h + bh - 1) // bh * bh
    W = (w + bw_ - 1) // bw_ * bw_
    return np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")


def _dht_segment(tc_th: int, bits, huffval) -> bytes:
    payload = bytes([tc_th]) + bytes(bits) + bytes(huffval)
    return b"\xFF\xC4" + struct.pack(">H", 2 + len(payload)) + payload


_DHT_GRAY = _dht_segment(0x00, *_DC_LUMA) + _dht_segment(0x10, *_AC_LUMA)
_DHT_COLOR = (
    _DHT_GRAY
    + _dht_segment(0x01, *_DC_CHROMA)
    + _dht_segment(0x11, *_AC_CHROMA)
)


@lru_cache(maxsize=64)
def _jfif_header(qzz: bytes, h: int, w: int, gray: bool, sub420: bool) -> bytes:
    """Everything before the entropy-coded data. All of it is a pure
    function of (quant table, dims, mode) — M-JPEG streams and
    same-shaped corpora reuse the cached bytes."""
    out = bytearray()
    out += b"\xFF\xD8"  # SOI
    out += b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xFF\xDB" + struct.pack(">H", 67) + b"\x00" + qzz  # DQT (table 0)
    ncomp = 1 if gray else 3
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)  # SOF0
    if gray:
        out += bytes([1, 0x11, 0])
    else:
        luma_hv = 0x22 if sub420 else 0x11
        out += bytes([1, luma_hv, 0, 2, 0x11, 0, 3, 0x11, 0])
    out += _DHT_GRAY if gray else _DHT_COLOR
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)  # SOS
    if gray:
        out += bytes([1, 0x00])
    else:
        out += bytes([1, 0x00, 2, 0x11, 3, 0x11])
    out += bytes([0, 63, 0])
    return bytes(out)


def encode_jpeg(
    img: np.ndarray,
    quant: "np.ndarray | int | None" = None,
    subsampling: str = "4:4:4",
) -> bytes:
    """Encode ``img`` as baseline JFIF JPEG.

    ``img``: (h, w) uint8 grayscale or (h, w, 3) uint8 RGB.
    ``quant``: an 8×8 quantization table used for every component, or a
    scalar filled into all 64 entries (``1`` = the exactness table the
    hash gate uses), or None for a mid-quality flat table of 16s.
    ``subsampling``: '4:4:4' or '4:2:0' (color only).
    """
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"encode_jpeg expects (h,w) or (h,w,3), got {img.shape}")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if quant is None:
        quant = 16
    q = (
        np.full((8, 8), int(quant), dtype=np.int64)
        if np.isscalar(quant)
        else np.asarray(quant, dtype=np.int64).reshape(8, 8)
    )
    qz = q.ravel()[ZIGZAG]
    if ((qz < 0) | (qz > 255)).any():
        raise ValueError("bytes must be in range(0, 256)")
    h, w = img.shape[:2]
    sub420 = (not gray) and subsampling == "4:2:0"
    out = bytearray(
        _jfif_header(qz.astype(np.uint8).tobytes(), h, w, gray, sub420)
    )

    bw = _BitWriter()
    if gray:
        plane = _pad_edge(img, 8, 8)
        zzs, has_ac = _fdct_quant_batch(_plane_blocks(plane), q)
        pred = 0
        for zz, ha in zip(zzs, has_ac):
            pred = _encode_block(bw, zz, pred, _ENC_DC_LUMA, _ENC_AC_LUMA, ha)
    else:
        ycc = _rgb_to_ycbcr(img)
        ys = _pad_edge(ycc[..., 0], 16 if sub420 else 8, 16 if sub420 else 8)
        if sub420:
            cb_full = _pad_edge(ycc[..., 1], 16, 16)
            cr_full = _pad_edge(ycc[..., 2], 16, 16)
            # box 2×2 average (matches the decoder's box replicate)
            cb = cb_full.reshape(cb_full.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cr = cr_full.reshape(cr_full.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cb, cr = np.round(cb), np.round(cr)
            H, W = ys.shape
            # luma blocks in MCU order (my, mx, sy, sx); chroma raster
            yb = (
                ys.reshape(H // 16, 2, 8, W // 16, 2, 8)
                .transpose(0, 3, 1, 4, 2, 5)
                .reshape(-1, 8, 8)
            )
            yzz, yha = _fdct_quant_batch(yb, q)
            bzz, bha = _fdct_quant_batch(_plane_blocks(cb), q)
            rzz, rha = _fdct_quant_batch(_plane_blocks(cr), q)
            preds = [0, 0, 0]
            for m in range(len(bzz)):
                for s in range(4):
                    i = m * 4 + s
                    preds[0] = _encode_block(
                        bw, yzz[i], preds[0], _ENC_DC_LUMA, _ENC_AC_LUMA, yha[i]
                    )
                preds[1] = _encode_block(
                    bw, bzz[m], preds[1], _ENC_DC_CHROMA, _ENC_AC_CHROMA, bha[m]
                )
                preds[2] = _encode_block(
                    bw, rzz[m], preds[2], _ENC_DC_CHROMA, _ENC_AC_CHROMA, rha[m]
                )
        else:
            batched = [
                _fdct_quant_batch(_plane_blocks(_pad_edge(ycc[..., c], 8, 8)), q)
                for c in range(3)
            ]
            preds = [0, 0, 0]
            for i in range(len(batched[0][0])):
                for ci, (zzs, has_ac) in enumerate(batched):
                    dc, ac = (
                        (_ENC_DC_LUMA, _ENC_AC_LUMA)
                        if ci == 0
                        else (_ENC_DC_CHROMA, _ENC_AC_CHROMA)
                    )
                    preds[ci] = _encode_block(bw, zzs[i], preds[ci], dc, ac, has_ac[i])
    out += bw.flush()
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def _frame_end(data: bytes, start: int) -> int:
    """Offset just past the EOI of the JPEG frame starting at ``start``
    — walks marker segments by length and skips entropy-coded data
    (stuffed 0xFF00 and RST markers are not frame boundaries)."""
    if data[start:start + 2] != b"\xFF\xD8":
        raise ValueError("MJPEG: frame does not start with SOI")
    pos = start + 2
    in_scan = False
    while pos < len(data):
        if not in_scan:
            if data[pos] != 0xFF:
                raise ValueError(f"MJPEG: expected marker at {pos}")
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD9:
                return pos
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                continue
            seglen = struct.unpack(">H", data[pos:pos + 2])[0]
            if marker == 0xDA:
                in_scan = True
            pos += seglen
        else:
            # jump straight to the next 0xFF instead of stepping bytes
            j = data.find(b"\xff", pos)
            if j == -1 or j + 1 >= len(data):
                # no marker, or scan data ends in a bare trailing 0xFF:
                # the stream was cut mid-frame
                raise ValueError("MJPEG: truncated frame (no EOI)")
            nxt = data[j + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos = j + 2  # stuffed byte / restart marker: still in scan
            elif nxt == 0xD9:
                return j + 2
            else:
                # another marker segment inside the scan (e.g. DNL):
                # hand the 0xFF back to the segment walker
                pos = j
                in_scan = False
    raise ValueError("MJPEG: truncated frame (no EOI)")


def split_mjpeg(data: bytes) -> list[bytes]:
    """Split a concatenated-JPEG (M-JPEG raw stream) into its frames."""
    frames = []
    pos = 0
    while pos < len(data):
        end = _frame_end(data, pos)
        frames.append(data[pos:end])
        pos = end
    if not frames:
        raise ValueError("MJPEG: empty stream")
    return frames


def encode_mjpeg(frames, quant=None, subsampling: str = "4:4:4") -> bytes:
    """Concatenated-JPEG video stream (the raw M-JPEG form used by
    MJPEG-over-HTTP and AVI 'MJPG' payloads, minus the container).

    Same-shaped frames (every fixed-resolution video) take a batched
    path: one forward-DCT matmul over every block of every frame and
    one shared header, instead of per-frame numpy chains — the frames
    differ only in their entropy-coded bits (byte-identical output,
    pinned in tests)."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if len(frames) > 1 and len({f.shape for f in frames}) == 1:
        return _encode_mjpeg_batched(frames, quant, subsampling)
    return b"".join(encode_jpeg(f, quant=quant, subsampling=subsampling) for f in frames)


def _pad_edge3(stack: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    """(nf, H, W) edge-pad on the raster axes only."""
    _, h, w = stack.shape
    if h % bh == 0 and w % bw_ == 0:
        return stack
    H = (h + bh - 1) // bh * bh
    W = (w + bw_ - 1) // bw_ * bw_
    return np.pad(stack, ((0, 0), (0, H - h), (0, W - w)), mode="edge")


def _encode_mjpeg_batched(frames: list, quant, subsampling: str) -> bytes:
    """All frames share (h, w[, 3]): run the per-plane block extraction
    and DCT once over the (nf, …) stack; entropy-code per frame (DC
    prediction resets at each SOI, exactly as the per-frame encoder)."""
    f0 = frames[0]
    gray = f0.ndim == 2
    if not gray and (f0.ndim != 3 or f0.shape[2] != 3):
        raise ValueError(f"encode_jpeg expects (h,w) or (h,w,3), got {f0.shape}")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if quant is None:
        quant = 16
    q = (
        np.full((8, 8), int(quant), dtype=np.int64)
        if np.isscalar(quant)
        else np.asarray(quant, dtype=np.int64).reshape(8, 8)
    )
    qz = q.ravel()[ZIGZAG]
    if ((qz < 0) | (qz > 255)).any():
        raise ValueError("bytes must be in range(0, 256)")
    nf = len(frames)
    h, w = f0.shape[:2]
    sub420 = (not gray) and subsampling == "4:2:0"
    header = _jfif_header(qz.astype(np.uint8).tobytes(), h, w, gray, sub420)
    stack = np.stack(frames)
    out = bytearray()

    if gray:
        planes = _pad_edge3(stack, 8, 8)
        _, H, W = planes.shape
        blocks = (
            planes.reshape(nf, H // 8, 8, W // 8, 8)
            .transpose(0, 1, 3, 2, 4)
            .reshape(-1, 8, 8)
        )
        zzs, has_ac = _fdct_quant_batch(blocks, q)
        nb = (H // 8) * (W // 8)
        for f in range(nf):
            out += header
            bw = _BitWriter()
            pred = 0
            for i in range(f * nb, (f + 1) * nb):
                pred = _encode_block(bw, zzs[i], pred, _ENC_DC_LUMA, _ENC_AC_LUMA, has_ac[i])
            out += bw.flush()
            out += b"\xFF\xD9"
        return bytes(out)

    ycc = _rgb_to_ycbcr(stack)  # (nf, h, w, 3)
    if sub420:
        ys = _pad_edge3(ycc[..., 0], 16, 16)
        cb_full = _pad_edge3(ycc[..., 1], 16, 16)
        cr_full = _pad_edge3(ycc[..., 2], 16, 16)
        _, H, W = ys.shape
        cb = cb_full.reshape(nf, H // 2, 2, W // 2, 2).mean(axis=(2, 4))
        cr = cr_full.reshape(nf, H // 2, 2, W // 2, 2).mean(axis=(2, 4))
        cb, cr = np.round(cb), np.round(cr)
        yb = (
            ys.reshape(nf, H // 16, 2, 8, W // 16, 2, 8)
            .transpose(0, 1, 4, 2, 5, 3, 6)
            .reshape(-1, 8, 8)
        )
        yzz, yha = _fdct_quant_batch(yb, q)

        def chroma_blocks(p):
            _, Hc, Wc = p.shape
            return (
                p.reshape(nf, Hc // 8, 8, Wc // 8, 8)
                .transpose(0, 1, 3, 2, 4)
                .reshape(-1, 8, 8)
            )

        bzz, bha = _fdct_quant_batch(chroma_blocks(cb), q)
        rzz, rha = _fdct_quant_batch(chroma_blocks(cr), q)
        n_mcu = (H // 16) * (W // 16)
        for f in range(nf):
            out += header
            bw = _BitWriter()
            preds = [0, 0, 0]
            for m in range(n_mcu):
                for s in range(4):
                    i = (f * n_mcu + m) * 4 + s
                    preds[0] = _encode_block(
                        bw, yzz[i], preds[0], _ENC_DC_LUMA, _ENC_AC_LUMA, yha[i]
                    )
                cm = f * n_mcu + m
                preds[1] = _encode_block(
                    bw, bzz[cm], preds[1], _ENC_DC_CHROMA, _ENC_AC_CHROMA, bha[cm]
                )
                preds[2] = _encode_block(
                    bw, rzz[cm], preds[2], _ENC_DC_CHROMA, _ENC_AC_CHROMA, rha[cm]
                )
            out += bw.flush()
            out += b"\xFF\xD9"
        return bytes(out)

    batched = []
    nb = None
    for c in range(3):
        p = _pad_edge3(ycc[..., c], 8, 8)
        _, H, W = p.shape
        blocks = (
            p.reshape(nf, H // 8, 8, W // 8, 8)
            .transpose(0, 1, 3, 2, 4)
            .reshape(-1, 8, 8)
        )
        batched.append(_fdct_quant_batch(blocks, q))
        nb = (H // 8) * (W // 8)
    for f in range(nf):
        out += header
        bw = _BitWriter()
        preds = [0, 0, 0]
        for b in range(nb):
            i = f * nb + b
            for ci, (zzs, has_ac) in enumerate(batched):
                dc, ac = (
                    (_ENC_DC_LUMA, _ENC_AC_LUMA)
                    if ci == 0
                    else (_ENC_DC_CHROMA, _ENC_AC_CHROMA)
                )
                preds[ci] = _encode_block(bw, zzs[i], preds[ci], dc, ac, has_ac[i])
        out += bw.flush()
        out += b"\xFF\xD9"
    return bytes(out)


def decode_mjpeg(data: bytes) -> np.ndarray:
    """Decode an M-JPEG stream → (n_frames, h, w, 3) uint8 (all frames
    must share dimensions, as in any fixed-resolution video).

    Fixed-resolution streams from a single encoder share byte-identical
    header segments, so the headers are parsed once and the per-frame
    dequantize/IDCT/color work runs as ONE batched pass over every
    block of every frame (guide §4.2) instead of 33 small passes."""
    frames = split_mjpeg(data)
    st = _parse_jpeg_header(frames[0])
    hdr = frames[0][:st["pos"]]
    if len(frames) > 1 and not all(f.startswith(hdr) for f in frames[1:]):
        # headers differ: decode frame by frame (covers mixed dims too)
        dec = [decode_jpeg(f) for f in frames]
        if len({d.shape for d in dec}) != 1:
            raise ValueError("MJPEG: frames have mixed dimensions")
        return np.stack(dec)
    zz_by: dict[int, list] = {c["id"]: [] for c in st["comps"]}
    pos3: dict[int, list] = {c["id"]: [] for c in st["comps"]}
    for fi, f in enumerate(frames):
        z, p = _scan_decode(f, st)
        for cid in z:
            zz_by[cid].extend(z[cid])
            pos3[cid].extend((fi, y0, x0) for (y0, x0) in p[cid])
    planes = _idct_scatter(st, zz_by, pos3, len(frames))
    return _reconstruct(st, planes)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JFIF JPEG bytes → (h, w, 3) uint8 RGB (grayscale
    replicates into 3 channels, matching the other codecs' contract).
    Supports 8-bit baseline sequential, 1 or 3 components, sampling
    factors 1×1 everywhere or 2×2 luma with 1×1 chroma (4:2:0)."""
    st = _parse_jpeg_header(data)
    zz_by, pos_by = _scan_decode(data, st)
    pos3 = {cid: [(0, y0, x0) for (y0, x0) in pos_by[cid]] for cid in pos_by}
    planes = _idct_scatter(st, zz_by, pos3, 1)
    return _reconstruct(st, planes)[0]


def _parse_jpeg_header(data: bytes) -> dict:
    """Walk the marker segments up to and including SOS; returns the
    parse state (component layout, tables, MCU grid, and ``pos`` — the
    offset where entropy-coded data starts)."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], list] = {}  # (class, id) -> 16-bit LUT
    comps: list[dict] = []
    h = w = 0
    scan_order: list[dict] = []
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        seglen = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[p:p + 64], dtype=np.uint8)
                qtables[tq] = tbl.reshape(8, 8)
                p += 64
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                nval = sum(seg[p + 1:p + 17])
                key = seg[p:p + 17 + nval]
                lut = _DHT_LUT_CACHE.get(key)
                if lut is None:
                    huffval = list(seg[p + 17:p + 17 + nval])
                    # a DC symbol is a magnitude category; baseline
                    # coefficients need at most 16 bits (AC symbols
                    # carry theirs in a 4-bit nibble, so cannot exceed it)
                    if tc == 0 and huffval and max(huffval) > 16:
                        raise ValueError(
                            f"JPEG: corrupt DHT: DC magnitude category {max(huffval)} > 16"
                        )
                    if len(_DHT_LUT_CACHE) > 64:
                        _DHT_LUT_CACHE.clear()
                    lut = _huff_lut(list(seg[p + 1:p + 17]), huffval)
                    _DHT_LUT_CACHE[key] = lut
                htables[(tc, th)] = lut
                p += 17 + nval
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, nc = struct.unpack(">BHHB", seg[0:6])
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"JPEG: non-baseline SOF 0x{marker:02X} unsupported")
        elif marker == 0xDD:
            raise ValueError("JPEG: restart intervals (DRI) unsupported")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_order = []
            for i in range(ns):
                cs, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                comp["td"], comp["ta"] = tables >> 4, tables & 0x0F
                scan_order.append(comp)
            pos += seglen
            break  # entropy-coded data follows
        pos += seglen
    if not scan_order:
        raise ValueError("JPEG: no SOS found")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not ({(c["h"], c["v"]) for c in comps} <= {(1, 1), (2, 2)}):
        raise ValueError("JPEG: only 1x1 / 2x2 sampling factors supported")
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    return {
        "pos": pos,
        "comps": comps,
        "qtables": qtables,
        "htables": htables,
        "scan_order": scan_order,
        "h": h,
        "w": w,
        "hmax": hmax,
        "vmax": vmax,
        "mcus_x": (w + mcu_w - 1) // mcu_w,
        "mcus_y": (h + mcu_h - 1) // mcu_h,
    }


def _scan_decode(data: bytes, st: dict):
    """Entropy-decode one frame's scan → per-component zigzag
    coefficient lists and block positions.

    The scan's end (the first non-stuffed marker) is found with
    ``find``, the 0xFF00 stuffing removed once, and bits then read via
    16-bit LUT lookups on a flat buffer instead of bit-by-bit tree
    walks. The 5-byte sentinel keeps window slices full near the end;
    reads that only succeed by consuming sentinel bits trip the
    ``bitpos > total_bits`` check and raise the same truncated-data
    ValueError the old reader did."""
    pos = st["pos"]
    comps, scan_order, htables = st["comps"], st["scan_order"], st["htables"]
    mcus_x, mcus_y = st["mcus_x"], st["mcus_y"]
    j = data.find(b"\xff", pos)
    while j != -1 and j + 1 < len(data) and data[j + 1] == 0x00:
        j = data.find(b"\xff", j + 2)
    scan_end = j if j != -1 else len(data)
    ent = data[pos:scan_end].replace(b"\xff\x00", b"\xff") + b"\x00" * 5
    total_bits = 8 * (len(ent) - 5)
    bitpos = 0

    preds = {c["id"]: 0 for c in comps}
    zz_by: dict[int, list] = {c["id"]: [] for c in comps}
    pos_by: dict[int, list] = {c["id"]: [] for c in comps}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in scan_order:
                dct = htables[(0, c["td"])]
                act = htables[(1, c["ta"])]
                cid = c["id"]
                for sy in range(c["v"]):
                    for sx in range(c["h"]):
                        zz = [0] * 64
                        b0 = bitpos >> 3
                        v = dct[
                            (int.from_bytes(ent[b0:b0 + 5], "big")
                             >> (24 - (bitpos & 7))) & 0xFFFF
                        ]
                        if not v:
                            raise ValueError("JPEG: invalid Huffman code")
                        bitpos += v >> 8
                        size = v & 0xFF
                        if size:
                            b0 = bitpos >> 3
                            sh = bitpos & 7
                            bits = (
                                int.from_bytes(ent[b0:b0 + 3], "big")
                                >> (24 - sh - size)
                            ) & ((1 << size) - 1)
                            bitpos += size
                            diff = (
                                bits
                                if bits >= (1 << (size - 1))
                                else bits - (1 << size) + 1
                            )
                        else:
                            diff = 0
                        if bitpos > total_bits:
                            raise ValueError("JPEG: truncated entropy-coded data")
                        preds[cid] += diff
                        zz[0] = preds[cid]
                        k = 1
                        while k < 64:
                            b0 = bitpos >> 3
                            v = act[
                                (int.from_bytes(ent[b0:b0 + 5], "big")
                                 >> (24 - (bitpos & 7))) & 0xFFFF
                            ]
                            if not v:
                                raise ValueError("JPEG: invalid Huffman code")
                            bitpos += v >> 8
                            if bitpos > total_bits:
                                raise ValueError("JPEG: truncated entropy-coded data")
                            sym = v & 0xFF
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            size = sym & 0x0F
                            if k > 63:
                                raise ValueError("JPEG: coefficient overflow")
                            if size:
                                b0 = bitpos >> 3
                                sh = bitpos & 7
                                bits = (
                                    int.from_bytes(ent[b0:b0 + 3], "big")
                                    >> (24 - sh - size)
                                ) & ((1 << size) - 1)
                                bitpos += size
                                if bitpos > total_bits:
                                    raise ValueError(
                                        "JPEG: truncated entropy-coded data"
                                    )
                                zz[k] = (
                                    bits
                                    if bits >= (1 << (size - 1))
                                    else bits - (1 << size) + 1
                                )
                            k += 1
                        zz_by[cid].append(zz)
                        pos_by[cid].append(
                            ((my * c["v"] + sy) * 8, (mx * c["h"] + sx) * 8)
                        )
    return zz_by, pos_by


def _idct_scatter(st: dict, zz_by: dict, pos3: dict, n_frames: int) -> dict:
    """Dequantize + inverse DCT for each component's whole block stack
    — across ALL frames — in one matmul (guide §4.2), then scatter the
    blocks into per-component (n_frames, Hp, Wp) planes. ``pos3``
    entries are (frame, y0, x0)."""
    comps, qtables = st["comps"], st["qtables"]
    mcus_x, mcus_y = st["mcus_x"], st["mcus_y"]
    planes = {
        c["id"]: np.zeros(
            (n_frames, mcus_y * 8 * c["v"], mcus_x * 8 * c["h"]),
            dtype=np.float64,
        )
        for c in comps
    }
    for c in comps:
        lst = zz_by[c["id"]]
        if not lst:
            continue
        q = qtables[c["tq"]]
        arr = np.array(lst, dtype=np.int64)
        coefs = np.zeros((len(lst), 64), dtype=np.float64)
        coefs[:, ZIGZAG] = arr * q.ravel()[ZIGZAG]
        blocks = _C.T @ coefs.reshape(-1, 8, 8) @ _C + 128.0
        plane = planes[c["id"]]
        for (fi, y0, x0), blk in zip(pos3[c["id"]], blocks):
            plane[fi, y0:y0 + 8, x0:x0 + 8] = blk
    return planes


def _reconstruct(st: dict, planes: dict) -> np.ndarray:
    """Per-component (n_frames, Hp, Wp) planes → (n_frames, h, w, 3)
    uint8 RGB — crop, chroma up-sample, color conversion, all batched
    over the frame axis."""
    comps, h, w, hmax, vmax = st["comps"], st["h"], st["w"], st["hmax"], st["vmax"]
    if len(comps) == 1:
        y = np.clip(
            np.round(planes[comps[0]["id"]][:, :h, :w]), 0, 255
        ).astype(np.uint8)
        return np.repeat(y[..., None], 3, axis=3)
    full = []
    for c in comps:
        p = planes[c["id"]]
        if c["h"] < hmax:  # box replicate up-sample
            p = p.repeat(hmax // c["h"], axis=2).repeat(vmax // c["v"], axis=1)
        full.append(p[:, :h, :w])
    ycc = np.stack(full, axis=-1)
    ycc = np.clip(np.round(ycc), 0, 255)
    return _ycbcr_to_rgb(ycc)
