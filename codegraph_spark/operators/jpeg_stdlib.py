"""Pure-stdlib(+numpy) baseline JPEG codec — the r7 VERDICT item 6
close-out, on the png_stdlib precedent: the container ships no imaging
library, so until round 8 every real-JPEG row raised behind the guarded
Pillow probe. Baseline JFIF needs nothing beyond ``struct`` + numpy
(ITU-T T.81: marker segments, canonical Huffman from the file's own
DHT ``BITS``/``HUFFVAL``, zigzag, dequantize, 8x8 IDCT), so this module
makes the second real format decodable with zero dependencies. It is
registered ahead of the Pillow probe in
:func:`codegraph_spark.operators.multimodal._decode_payload`.

Decoder scope (documented, enforced): baseline + extended sequential
Huffman (SOF0/SOF1), 8-bit precision, grayscale or YCbCr with any
sampling factors where the FIRST component carries the max factors
(the overwhelming real-world layout — 4:4:4, 4:2:2, 4:2:0); restart
intervals supported. The GRAY channel returned is the decoded luma
plane — chroma blocks are entropy-decoded (the bitstream cannot be
advanced otherwise) but never dequantized/IDCT'd, which is exactly
what a dedup/statistics pipeline wants from a 100 TB image corpus.
Progressive (SOF2), arithmetic coding, 12-bit, and hierarchical
modes raise NotImplementedError and fall through to the optional
Pillow path.

The encoder (grayscale, quality-scaled Annex K luminance table,
standard Annex K Huffman tables, optional restart interval) exists
for tests and the mm_jpeg_roundtrip gate: JPEG is lossy, so the gate
pins DIMS exactly and reconstruction within a measured error budget —
both deterministic, since every DCT/quantize step here is fixed
arithmetic with no platform-dependent paths.

All constants below are from the public JPEG specification (ITU-T
T.81 Annex K); the reference repo has no media pipeline at all
(pkg/models/node.go:177-183) — this is extension surface.
"""

from __future__ import annotations

import functools
import struct

# ---------------------------------------------------------------------------
# Shared tables
# ---------------------------------------------------------------------------

#: zigzag scan: ZIGZAG[k] = row-major index of the k-th scanned coeff
def _zigzag_order() -> list[int]:
    out = []
    for s in range(15):
        rs = range(max(0, s - 7), min(s, 7) + 1)
        for r in (reversed(rs) if s % 2 == 0 else rs):
            out.append(r * 8 + (s - r))
    return out


ZIGZAG = _zigzag_order()

#: Annex K luminance quantization table (zigzag-independent, row-major)
_Q_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

#: Annex K standard Huffman tables (encoder-side; the decoder always
#: builds its tables from the file's own DHT segments)
_DC_LUM_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_LUM_VALS = tuple(range(12))
_AC_LUM_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_LUM_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


@functools.lru_cache(maxsize=1)
def _dct_matrix():
    """Orthonormal 8x8 DCT-II matrix: forward D = M @ B @ M.T,
    inverse B = M.T @ D @ M. Cached per process (pure constant)."""
    import math

    import numpy as np

    M = np.empty((8, 8), dtype=np.float64)
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            M[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return M


@functools.lru_cache(maxsize=8)
def _canonical_codes(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> dict[int, tuple[int, int]]:
    """T.81 Annex C canonical code assignment:
    symbol -> (code, length). Cached per table content."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


@functools.lru_cache(maxsize=128)
def _quality_table(quality: int) -> tuple[int, ...]:
    """IJG quality scaling of the Annex K luminance table (cached)."""
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return tuple(max(1, min(255, (b * scale + 50) // 100)) for b in _Q_LUM)


# ---------------------------------------------------------------------------
# Encoder (grayscale baseline)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.n -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        """Pad to byte boundary with 1-bits (spec padding)."""
        if self.n:
            self.write(0x7F, 8 - self.n)


def _magnitude(v: int) -> tuple[int, int]:
    """(category s, extra-bits value) for a DC diff / AC coeff."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _plane_zigzag_blocks(plane, quality: int):
    """uint8 (H, W) plane -> (blocks_y, blocks_x, zigzag-quantized
    int64 coeff rows) via the batch DCT pipeline (edge-replicated pad
    to 8-multiples)."""
    import numpy as np

    h, w = plane.shape
    bw, bh = -(-w // 8), -(-h // 8)
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = plane[-1:, :]
    padded[:, w:] = padded[:, w - 1 : w]
    M = _dct_matrix()
    blocks = (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
    )
    coeffs = M @ blocks @ M.T
    Q = np.asarray(_quality_table(quality), dtype=np.float64).reshape(8, 8)
    qc = np.round(coeffs / Q).astype(np.int64)
    return bh, bw, qc.reshape(-1, 64)[:, ZIGZAG]


def _encode_block(w: _BitWriter, row, pred: int, dc_codes, ac_codes) -> int:
    """Huffman-encode one zigzag coeff row (int64 ndarray); returns
    the new DC pred. Walks only the NONZERO AC positions (flatnonzero)
    — after quantization a block carries a handful of ACs, so this is
    the difference between 63 and ~10 Python iterations per block."""
    import numpy as np

    dc = int(row[0])
    s, extra = _magnitude(dc - pred)
    code, ln = dc_codes[s]
    w.write(code, ln)
    if s:
        w.write(extra, s)
    nz = np.flatnonzero(row[1:])
    prev = 0
    for k in (nz + 1).tolist():
        run = k - prev - 1
        prev = k
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        s, extra = _magnitude(int(row[k]))
        code, ln = ac_codes[(run << 4) | s]
        w.write(code, ln)
        w.write(extra, s)
    if prev != 63:
        code, ln = ac_codes[0x00]  # EOB
        w.write(code, ln)
    return dc


@functools.lru_cache(maxsize=8)
def _codes_arrays(bits: tuple[int, ...], vals: tuple[int, ...]):
    """Canonical codes as 256-entry (code, length) int64 arrays for the
    vectorized entropy encoder (cached per table content)."""
    import numpy as np

    code_arr = np.zeros(256, dtype=np.int64)
    len_arr = np.zeros(256, dtype=np.int64)
    for sym, (code, ln) in _canonical_codes(bits, vals).items():
        code_arr[sym] = code
        len_arr[sym] = ln
    return code_arr, len_arr


def _encode_entropy_gray(zz, restart_interval: int) -> bytes:
    """Vectorized Huffman entropy coding of a single-component block
    sequence (r13, guide §4.2): the per-symbol ``_BitWriter`` loop cost
    ~2 µs/symbol in Python — half of every encode_jpeg_gray call. This
    builds the identical bitstream with whole-image numpy passes:
    symbol stream (DC diffs with per-restart-segment pred reset,
    AC run/size with ZRL expansion, EOB), per-segment 1-bit padding to
    byte alignment, one bit-scatter + ``packbits``, byte stuffing via
    ``bytes.replace``, RST markers between segments. Byte-identical to
    the loop form (pinned by tests against the reference encoder)."""
    import numpy as np

    dc_code, dc_len = _codes_arrays(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_code, ac_len = _codes_arrays(_AC_LUM_BITS, _AC_LUM_VALS)
    nb = len(zz)
    ri = int(restart_interval)
    seg_of_block = (np.arange(nb) // ri) if ri else np.zeros(nb, dtype=np.int64)
    n_seg = int(seg_of_block[-1]) + 1 if nb else 1

    # DC: diff vs previous block in the same restart segment
    dc = zz[:, 0]
    diff = dc.copy()
    diff[1:] -= dc[:-1]
    if ri:
        diff[np.arange(0, nb, ri)] = dc[np.arange(0, nb, ri)]
    elif nb:
        diff[0] = dc[0]
    s_dc = np.frexp(np.abs(diff).astype(np.float64))[1].astype(np.int64)
    extra_dc = np.where(diff >= 0, diff, diff + (1 << s_dc) - 1)

    # AC: nonzero walk (np.nonzero is row-major: block asc, pos asc)
    bi, kk = np.nonzero(zz[:, 1:])
    kk = kk + 1
    vals = zz[bi, kk]
    prev = np.empty_like(kk)
    if len(kk):
        prev[0] = 0
        prev[1:] = kk[:-1]
        first = np.empty(len(bi), dtype=bool)
        first[0] = True
        first[1:] = bi[1:] != bi[:-1]
        prev[first] = 0
    run = kk - prev - 1
    nzrl = run >> 4           # ZRLs emitted while run > 15
    resid = run & 15
    s_ac = np.frexp(np.abs(vals).astype(np.float64))[1].astype(np.int64)
    extra_ac = np.where(vals > 0, vals, vals + (1 << s_ac) - 1)
    ac_sym = (resid << 4) | s_ac

    # EOB for every block whose last scanned coeff is not position 63
    has_eob = np.ones(nb, dtype=bool)
    has_eob[bi[kk == 63]] = False
    eob_blocks = np.nonzero(has_eob)[0]

    # emission ordering key: (block, pos, sub) flattened; pos 0 = DC,
    # 1..63 = AC (ZRLs at sub 1..3 before the symbol at sub 5), 65 = EOB
    KB = 66 * 8
    n_zrl_total = int(nzrl.sum())
    zrl_owner = np.repeat(np.arange(len(kk)), nzrl)
    zrl_j = np.arange(n_zrl_total) - np.repeat(
        np.concatenate([[0], np.cumsum(nzrl)[:-1]]) if len(kk) else [], nzrl
    )
    keys = np.concatenate([
        np.arange(nb) * KB,                                   # DC
        (bi[zrl_owner] * 66 + kk[zrl_owner]) * 8 + 1 + zrl_j,  # ZRLs
        (bi * 66 + kk) * 8 + 5,                               # AC symbols
        (eob_blocks * 66 + 65) * 8,                           # EOB
    ])
    hcode = np.concatenate([
        dc_code[s_dc], np.full(n_zrl_total, ac_code[0xF0]),
        ac_code[ac_sym], np.full(len(eob_blocks), ac_code[0x00]),
    ])
    hlen = np.concatenate([
        dc_len[s_dc], np.full(n_zrl_total, ac_len[0xF0]),
        ac_len[ac_sym], np.full(len(eob_blocks), ac_len[0x00]),
    ])
    extra = np.concatenate([
        extra_dc, np.zeros(n_zrl_total, dtype=np.int64),
        extra_ac, np.zeros(len(eob_blocks), dtype=np.int64),
    ])
    extlen = np.concatenate([
        s_dc, np.zeros(n_zrl_total, dtype=np.int64),
        s_ac, np.zeros(len(eob_blocks), dtype=np.int64),
    ])
    order = np.argsort(keys)
    hcode, hlen = hcode[order], hlen[order]
    extra, extlen = extra[order], extlen[order]
    blk = keys[order] // KB
    em_seg = (blk // ri) if ri else np.zeros(len(blk), dtype=np.int64)

    # interleave (huffman code, extra bits) per emission
    n_em = len(hcode)
    v = np.empty(2 * n_em, dtype=np.int64)
    n = np.empty(2 * n_em, dtype=np.int64)
    v[0::2], n[0::2] = hcode, hlen
    v[1::2], n[1::2] = extra, extlen
    vseg = np.repeat(em_seg, 2)

    # per-segment 1-bit padding to byte alignment (spec padding)
    seg_bits = np.bincount(vseg, weights=n, minlength=n_seg).astype(np.int64)
    pad = (-seg_bits) % 8
    # insert the pad emission after each segment's last entry
    counts = np.bincount(vseg, minlength=n_seg)
    ins_at = np.cumsum(counts)
    v = np.insert(v, ins_at, (1 << pad) - 1)
    n = np.insert(n, ins_at, pad)

    # bit scatter + pack
    total = int(n.sum())
    owner = np.repeat(np.arange(len(v)), n)
    off = np.concatenate([[0], np.cumsum(n)[:-1]])
    shift = (n[owner] - 1 - (np.arange(total) - off[owner])).astype(np.int64)
    bits = ((v[owner] >> shift) & 1).astype(np.uint8)
    packed = np.packbits(bits).tobytes()

    # split at (byte-aligned) segment boundaries, stuff, join with RSTs
    seg_bytes = ((seg_bits + pad) // 8).astype(np.int64)
    bounds = np.concatenate([[0], np.cumsum(seg_bytes)])
    parts = []
    for i in range(n_seg):
        if i:
            parts.append(bytes((0xFF, 0xD0 + (i - 1) % 8)))
        parts.append(
            packed[int(bounds[i]):int(bounds[i + 1])].replace(b"\xff", b"\xff\x00")
        )
    return b"".join(parts)


def encode_jpeg_gray(
    pixels, width: int, height: int, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Baseline grayscale JFIF bytes from a flat uint8 array. One
    component, no subsampling, Annex K standard Huffman tables,
    quality-scaled Annex K luminance quant table. ``restart_interval``
    (in MCUs) emits DRI + RSTn markers so decode exercises the
    restart path on genuine bytes."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8).reshape(height, width)
    _bh, _bw, zz = _plane_zigzag_blocks(px, quality)

    entropy = _encode_entropy_gray(zz, restart_interval)
    ri = int(restart_interval)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = bytes(_quality_table(quality)[ZIGZAG[k]] for k in range(64))
    dht = (
        bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
    )
    out = bytearray()
    out += struct.pack(">H", 0xFFD8)  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0x00]) + qt_zz)
    out += seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    out += seg(0xFFC4, dht)
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy
    out += struct.pack(">H", 0xFFD9)  # EOI
    return bytes(out)


def encode_jpeg_ycbcr420(
    y, cb, cr, width: int, height: int, quality: int = 90
) -> bytes:
    """Baseline 3-component 4:2:0 JFIF — the dominant real-world JPEG
    layout — so the decoder's multi-component MCU walk, chroma
    entropy-skip, and per-component table selection run on genuine
    bytes (tests). ``y`` is (height, width) uint8; ``cb``/``cr`` are
    the half-resolution chroma planes (ceil dims). Y uses table slot
    0, chroma slot 1 (same contents — a legal encoder choice — so the
    decoder must still route by id). MCU = 2x2 Y blocks + 1 Cb + 1 Cr,
    interleaved per T.81 A.2.3."""
    import numpy as np

    y = np.asarray(y, dtype=np.uint8).reshape(height, width)
    cw, ch_ = -(-width // 2), -(-height // 2)
    cb = np.asarray(cb, dtype=np.uint8).reshape(ch_, cw)
    cr = np.asarray(cr, dtype=np.uint8).reshape(ch_, cw)
    mcux, mcuy = -(-width // 16), -(-height // 16)
    # pad planes so block grids are exact MCU multiples
    def pad_to(plane, rows, cols):
        out = np.empty((rows, cols), dtype=np.uint8)
        r, c = plane.shape
        out[:r, :c] = plane
        out[r:, :c] = plane[-1:, :]
        out[:, c:] = out[:, c - 1 : c]
        return out

    y = pad_to(y, mcuy * 16, mcux * 16)
    cb = pad_to(cb, mcuy * 8, mcux * 8)
    cr = pad_to(cr, mcuy * 8, mcux * 8)
    _, y_bw, y_zz = _plane_zigzag_blocks(y, quality)
    _, c_bw, cb_zz = _plane_zigzag_blocks(cb, quality)
    _, _, cr_zz = _plane_zigzag_blocks(cr, quality)

    dc_codes = _canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_codes = _canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    w = _BitWriter()
    preds = [0, 0, 0]
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for by in range(2):
            for bx in range(2):
                i = (my * 2 + by) * y_bw + (mx * 2 + bx)
                preds[0] = _encode_block(w, y_zz[i], preds[0], dc_codes, ac_codes)
        i = my * c_bw + mx
        preds[1] = _encode_block(w, cb_zz[i], preds[1], dc_codes, ac_codes)
        preds[2] = _encode_block(w, cr_zz[i], preds[2], dc_codes, ac_codes)
    w.align()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = bytes(_quality_table(quality)[ZIGZAG[k]] for k in range(64))
    dht = (
        bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
        + bytes([0x01]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x11]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
    )
    out = bytearray()
    out += struct.pack(">H", 0xFFD8)
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0x00]) + qt_zz + bytes([0x01]) + qt_zz)
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xFFC4, dht)
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += w.out
    out += struct.pack(">H", 0xFFD9)
    return bytes(out)


def mjpeg_frame_bounds(data: bytes) -> list[tuple[int, int]]:
    """Frame (start, end) offsets of a concatenated-JPEG (MJPEG)
    stream — the webcam/AVI-MJPG video family, decodable here because
    each frame is just a baseline JPEG. A naive split on the SOI/EOI
    byte pattern would mis-cut (0xFFD8/0xFFD9 can occur inside DQT/DHT
    payload bytes), so this walks the REAL structure: marker segments
    skip by their length field; an SOS's entropy data scans to the
    next non-RST marker; EOI closes the frame."""
    bounds = []
    pos = 0
    n = len(data)
    while pos + 2 <= n:
        if data[pos : pos + 2] != b"\xff\xd8":
            raise ValueError(f"bad MJPEG: expected SOI at offset {pos}")
        start = pos
        pos += 2
        while True:
            if pos + 2 > n:
                raise ValueError("bad MJPEG: truncated frame")
            marker = data[pos + 1]
            if marker == 0xD9:  # EOI
                pos += 2
                break
            length = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
            seg_end = pos + 2 + length
            if marker == 0xDA:  # SOS: skip entropy data to next marker
                p = seg_end
                while p + 1 < n:
                    if data[p] == 0xFF and data[p + 1] not in (0x00,) and not (
                        0xD0 <= data[p + 1] <= 0xD7
                    ):
                        break
                    p += 1 + (1 if data[p] == 0xFF else 0)
                pos = p
            else:
                pos = seg_end
        bounds.append((start, pos))
    return bounds


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _split_scan_segments(data: bytes, pos: int) -> list[bytes]:
    """Cut the entropy-coded scan into restart segments, un-stuffed.

    One linear walk over the 0xFF positions: 0xFF00 is a stuffed
    literal (removed later via bytes.replace), RST0-7 are segment
    boundaries, anything else ends the scan. Pre-splitting lets the
    hot bit reader below run over plain bytes with NO marker checks
    per bit — the difference between ~10 µs and ~0.3 µs per symbol."""
    segments: list[bytes] = []
    start = pos
    i = pos
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            segments.append(data[start:n])
            break
        nxt = data[j + 1]
        if nxt == 0x00:
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(data[start:j])
            start = i = j + 2
        else:  # EOI or next marker segment: end of scan
            segments.append(data[start:j])
            break
    return [s.replace(b"\xff\x00", b"\xff") for s in segments]


# the engine's encoders emit at most four distinct raw DHT specs (luma +
# chroma, DC + AC), so this cap never thrashes on their output while
# bounding a corpus of arbitrary JPEGs
@functools.lru_cache(maxsize=32)
def _huff_lut_raw(raw: bytes) -> list:
    """Raw DHT table spec (class/id byte + 16 BITS counts + HUFFVAL)
    -> 65536-entry list: lut[16-bit peek] = (symbol << 5) | code_length,
    0 = invalid (T.81 Annex C canonical assignment).

    Cached per RAW spec bytes: identical DHT segments across a
    corpus hash ~180 bytes instead of rebuilding the LUT per frame.
    Values are plain Python lists: the decode loop indexes them with
    Python ints, and list indexing avoids numpy-scalar boxing."""
    import numpy as np

    bits = raw[1:17]
    vals = raw[17:]
    arr = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            arr[lo:hi] = (vals[k] << 5) | length
            code += 1
            k += 1
        code <<= 1
    return arr.tolist()


def _segment_windows(segment: bytes) -> tuple[list, int]:
    """Per-segment bit-reader state (r13 — replaces the `_BitReader`
    accumulator object, whose per-symbol method calls cost ~2 µs each):
    ``tri[j]`` holds bytes j..j+2 of the segment as one int (zero-padded
    past the end — the spec's padding region), so the 16-bit peek at
    any bit offset ``bp`` is ``(tri[bp >> 3] >> (8 - (bp & 7))) &
    0xFFFF`` — three int ops inline in the decode loop. Returns
    (tri list, total real bits). A symbol read STARTING at or past the
    real-bit count decodes entirely from padding and must raise (a
    truncated scan fails loudly, not silently-zero tail coefficients);
    reads that merely PEEK past the end are the normal final-symbol
    case."""
    import numpy as np

    b = np.frombuffer(segment, dtype=np.uint8).astype(np.int64)
    b = np.concatenate([b, np.zeros(2, dtype=np.int64)])
    tri = ((b[:-2] << 16) | (b[1:-1] << 8) | b[2:]).tolist()
    return tri, len(segment) * 8


def decode_jpeg_gray(data: bytes):
    """JPEG bytes -> ``(width, height, flat uint8 luma pixels)``.

    Baseline/extended-sequential Huffman subset — see module
    docstring. The luma plane is returned at full declared image
    dims; chroma is entropy-skipped."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], bytes] = {}  # raw DHT spec slices
    restart_interval = 0
    frame = None  # (width, height, components)
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG: expected marker")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker code — skip them or the fill byte parses as the marker
        # and the next two bytes as a bogus length
        while pos + 2 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        length = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq:  # 16-bit table
                    vals = list(struct.unpack(f">{64}H", body[i : i + 128]))
                    i += 128
                else:
                    vals = list(body[i : i + 64])
                    i += 64
                table = [0] * 64
                for k in range(64):
                    table[ZIGZAG[k]] = vals[k]
                qtables[tq] = table
        elif marker == 0xC4:  # DHT — keep the RAW spec bytes; the
            # canonical-code LUT is compiled (and cached) from them in
            # _huff_lut_raw, so identical tables across a corpus parse once
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                n = sum(body[i + 1 : i + 17])
                htables[(tc, th)] = bytes(body[i : i + 17 + n])
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1: sequential Huffman
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec}: stdlib path handles 8")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = (w, h, comps)
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG: stdlib path handles baseline")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} mode: stdlib path handles SOF0/SOF1"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — scan follows
            if frame is None:
                raise ValueError("bad JPEG: SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tdta = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in frame[2] if x["id"] == cs)
                scan.append((comp, tdta >> 4, tdta & 15))
            return _decode_scan(
                data, pos + 2 + length, frame, scan, qtables, htables,
                restart_interval,
            )
        pos += 2 + length
    raise ValueError("bad JPEG: no scan data")


def _decode_scan(data, pos, frame, scan, qtables, htables, restart_interval):
    import numpy as np

    width, height, comps = frame
    if len(scan) != len(comps):
        # a non-interleaved scan (legal under SOF0/SOF1: one scan per
        # component) uses per-COMPONENT MCU geometry, not the frame-
        # interleaved walk below — decoding it here would over-read
        # blocks. Raise the NotImplementedError that routes the file to
        # the optional Pillow path, like the other out-of-envelope modes.
        raise NotImplementedError(
            "multi-scan non-interleaved JPEG: stdlib path decodes one "
            "interleaved scan covering all frame components"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if comps[0]["h"] != hmax or comps[0]["v"] != vmax:
        raise NotImplementedError(
            "JPEG with subsampled FIRST component: stdlib path expects "
            "luma to carry the max sampling factors"
        )
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    segments = _split_scan_segments(data, pos)
    seg_idx = 0
    tri, nbits = _segment_windows(segments[0])
    bp = 0  # bit position within the current segment
    # per-scan-component compiled Huffman LUTs
    luts = []
    for comp, td, ta in scan:
        dc_raw = htables.get((0, td))
        ac_raw = htables.get((1, ta))
        if dc_raw is None or ac_raw is None:
            raise ValueError("bad JPEG: scan references missing Huffman table")
        luts.append((_huff_lut_raw(dc_raw), _huff_lut_raw(ac_raw)))
    # luma plane block grid
    y_bw, y_bh = mcux * comps[0]["h"], mcuy * comps[0]["v"]
    y_blocks = np.zeros((y_bh * y_bw, 64), dtype=np.int64)
    preds = [0] * len(scan)
    n_mcu = mcux * mcuy
    trunc = "bad JPEG: scan segment truncated (symbol would decode entirely from padding)"
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("bad JPEG: expected restart marker")
            tri, nbits = _segment_windows(segments[seg_idx])
            bp = 0
            preds = [0] * len(scan)
        my, mx = divmod(m, mcux)
        for si, (comp, _td, _ta) in enumerate(scan):
            dc_lut, ac_lut = luts[si]
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    coeffs = [0] * 64 if si == 0 else None
                    # DC symbol + EXTEND (inlined bit reads: 16-bit peek
                    # from the tri-byte window list, see _segment_windows)
                    if bp >= nbits:
                        raise ValueError(trunc)
                    p = dc_lut[(tri[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF]
                    if p == 0:
                        raise ValueError("bad JPEG: invalid Huffman code in scan data")
                    bp += p & 31
                    s = p >> 5
                    if s:
                        if bp >= nbits:
                            raise ValueError(trunc)
                        v = ((tri[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF) >> (16 - s)
                        bp += s
                        preds[si] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    if coeffs is not None:
                        coeffs[0] = preds[si]
                    k = 1
                    while k < 64:
                        if bp >= nbits:
                            raise ValueError(trunc)
                        p = ac_lut[(tri[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF]
                        if p == 0:
                            raise ValueError("bad JPEG: invalid Huffman code in scan data")
                        bp += p & 31
                        rs = p >> 5
                        s = rs & 15
                        if s == 0:
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("bad JPEG: AC run past block end")
                        if bp >= nbits:
                            raise ValueError(trunc)
                        v = ((tri[bp >> 3] >> (8 - (bp & 7))) & 0xFFFF) >> (16 - s)
                        bp += s
                        if coeffs is not None:
                            coeffs[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        k += 1
                    if si == 0:
                        row = my * comp["v"] + by
                        col = mx * comp["h"] + bx
                        y_blocks[row * y_bw + col] = coeffs
    # batch dequantize + inverse zigzag + IDCT for the luma plane
    q = np.asarray(qtables[comps[0]["tq"]], dtype=np.float64)
    dezz = np.zeros((len(y_blocks), 64), dtype=np.float64)
    dezz[:, ZIGZAG] = y_blocks  # coeffs were stored in zigzag order
    dezz *= q  # both sides row-major now
    blocks = dezz.reshape(-1, 8, 8)
    M = _dct_matrix()
    spatial = M.T @ blocks @ M + 128.0
    plane = (
        spatial.reshape(y_bh, y_bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(y_bh * 8, y_bw * 8)
    )
    plane = np.clip(np.round(plane), 0, 255).astype(np.uint8)
    return int(width), int(height), plane[:height, :width].reshape(-1)
