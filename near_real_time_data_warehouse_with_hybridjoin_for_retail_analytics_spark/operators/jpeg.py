"""Clean-room baseline JPEG codec (stdlib + numpy) — closes the last
compressed-image gap in the multimodal decode path.

Scope: baseline sequential DCT, 8-bit — grayscale, 4:4:4 color and
4:2:0 subsampled color, with restart-interval (DRI/RST0–7) support:
the ITU-T T.81 Annex F baseline process as real-world encoders emit
it — PLUS progressive DCT (SOF2) for grayscale: spectral selection,
successive approximation, EOB-run and correction-bit coding, the
Annex G Huffman path on both the encode and decode side (round 8).
Only arithmetic-coded and multi-component progressive streams remain
out of scope. The decoder is
GENERAL for those profiles: it walks the marker stream, reads the
quantization and Huffman tables from the file (DQT/DHT — so it decodes
any conforming single-component baseline file, not just this
encoder's output), entropy-decodes DC-difference + AC run-length
coefficients through a canonical-code bit reader with 0xFF00
byte-unstuffing, dequantizes, applies the float IDCT and reassembles
blocks, honoring restart markers (byte realignment + DC predictor
reset per segment) and 4:2:0/4:4:4 sampling (interleaved hi×vi blocks
per MCU, chroma nearest-upsampled). Arithmetic-coded and
multi-component progressive scans raise NotImplementedError.

Losslessness note (why the oracle can check a lossy codec exactly):
``encode_jpeg_blocks`` maps each payload byte to a CONSTANT 8×8 block.
A constant block's DCT is a single DC coefficient 8·(v−128) — an exact
integer in IEEE arithmetic — and all ACs are mathematically zero, so
with unit quantization tables the round trip reconstructs every pixel
bit-exactly, through the full real pipeline (DCT → quantize → Huffman
→ bitstream → Huffman decode → dequantize → IDCT → level shift). The
general (non-constant, genuinely lossy) path is verified separately in
tests against an independent numpy reconstruction of the same
quantized coefficients.

Tables follow the standard Annex K layout (DC/AC luminance); the
decoder never assumes them — it builds codes from the DHT segment.
"""

from __future__ import annotations

import struct

import numpy as np

# Standard luminance Huffman table layout (ITU-T T.81 Annex K).
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = [
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
]

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Orthonormal DCT-II basis: B[u, x] = C(u)/2 · cos((2x+1)uπ/16);
# forward S = B s Bᵀ, inverse s = Bᵀ S B.
_BASIS = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


# Canonical-code dicts are pure functions of the (bits, vals) spec and
# every caller treats them as read-only, so one dict per spec serves the
# whole worker — the MJPEG/decode-stats paths otherwise rebuilt the same
# two standard tables for every 32-block frame (r19, guide §4.5).
_CANON_CACHE: dict[bytes, dict[int, tuple[int, int]]] = {}

# Entry cap for the module-level spec caches: a long-lived worker fed
# files with many distinct tables or dimensions clears a cache once it
# holds this many entries, so its memory stays bounded.
_CACHE_MAX_ENTRIES = 64


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) via the canonical algorithm of T.81 §C."""
    key = bytes(bits) + bytes(vals)
    cached = _CANON_CACHE.get(key)
    if cached is not None:
        return cached
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    if len(_CANON_CACHE) >= _CACHE_MAX_ENTRIES:
        _CANON_CACHE.clear()
    _CANON_CACHE[key] = codes
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        # int() guards numpy scalars; the final mask drops already-
        # emitted high bits so the accumulator stays machine-sized
        # instead of growing into an unbounded bignum.
        self.acc = (self.acc << length) | (int(value) & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per spec

    def raw_marker(self, marker: int) -> None:
        """Emit an unstuffed marker (restart markers sit on byte
        boundaries inside the entropy stream; they are never stuffed)."""
        self.pad_to_byte()
        self.out += bytes([0xFF, marker])

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, raw bits) for a DC diff / AC coefficient value."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _dht_segment(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _dct_quantize(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Block-batched DCT + quantization for one 8-multiple-sized plane:
    one broadcasted matmul over every block at once (the per-block
    Python matmul was ~60 ms/KB of payload). Returns the zigzag int64
    coefficients, shape (nb, 64)."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    coeffs = _BASIS @ blocks @ _BASIS.T
    return np.rint(coeffs / q[None, :, :]).astype(np.int64).reshape(-1, 64)[
        :, _ZIGZAG
    ]


def _quantize_plane(plane: np.ndarray, q: np.ndarray):
    """``_dct_quantize`` plus per-block nonzero-AC index lists — the
    form the interleaved color paths (which entropy-code block by
    block across components) consume."""
    zq_all = _dct_quantize(plane, q)
    return zq_all, [np.nonzero(row)[0] for row in zq_all[:, 1:]]


# bit_length over int64 arrays: count of powers of two ≤ a (0 → 0).
_POW2 = np.left_shift(np.int64(1), np.arange(63, dtype=np.int64))


def _bitlen(a: np.ndarray) -> np.ndarray:
    return np.searchsorted(_POW2, a, side="right")


def _pack_puts(values: np.ndarray, lengths: np.ndarray) -> bytes:
    """Assemble MSB-first (value, length) bit fields into one stuffed
    entropy-coded byte string — byte-identical to feeding each pair to
    ``_BitWriter.put`` and flushing (same 1-fill padding to the byte
    boundary, same 0xFF00 stuffing, including the stuffed zero after a
    padded final 0xFF), but one vectorized expansion instead of a
    Python call per put. Zero-length entries emit nothing, exactly
    like the callers' ``if s:`` guards."""
    if values.size == 0:
        return b""
    w = int(lengths.max())
    if w == 0:
        return b""
    sh = lengths[:, None] - 1 - np.arange(w, dtype=np.int64)[None, :]
    live = sh >= 0
    bits = ((values[:, None] >> np.maximum(sh, 0)) & 1).astype(np.uint8)
    flat = bits[live]  # row-major: put order, then bit order
    pad = (-flat.size) % 8
    if pad:
        flat = np.concatenate([flat, np.ones(pad, np.uint8)])
    arr = np.packbits(flat)
    ff = np.nonzero(arr == 0xFF)[0]
    if ff.size:
        arr = np.insert(arr, ff + 1, np.uint8(0))
    return arr.tobytes()


# Dense-array form of a canonical-code dict, cached per dict object.
# Keyed by id() with the dict itself held in the value, so the id can
# never be reused while the entry exists, and an ad-hoc (non-cached)
# dict still hits the `is` guard before being trusted.
_CODE_ARRAYS_CACHE: dict[int, tuple[dict, np.ndarray, np.ndarray]] = {}


def _code_arrays(codes: dict[int, tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    """Dense (code, length) lookup arrays for a canonical-code dict;
    absent symbols carry length −1 so an out-of-table symbol fails as
    loudly as the dict KeyError it replaces."""
    hit = _CODE_ARRAYS_CACHE.get(id(codes))
    if hit is not None and hit[0] is codes:
        return hit[1], hit[2]
    n = max(codes) + 1
    cv = np.zeros(n, np.int64)
    cl = np.full(n, -1, np.int64)
    for sym, (c, ln) in codes.items():
        cv[sym] = c
        cl[sym] = ln
    if len(_CODE_ARRAYS_CACHE) >= _CACHE_MAX_ENTRIES:
        _CODE_ARRAYS_CACHE.clear()
    _CODE_ARRAYS_CACHE[id(codes)] = (codes, cv, cl)
    return cv, cl


def _encode_blocks_entropy(zq: np.ndarray, dc_codes, ac_codes) -> bytes:
    """Vectorized T.81 F.1 entropy coder for a run of blocks whose DC
    predictor starts at 0 (one restart segment, or the whole scan):
    builds the complete (value, length) put sequence — DC
    category+bits, AC run/size symbols with ZRL splitting, EOB — for
    every block at once, orders it by (block, zigzag position,
    sub-step), and bit-packs it in one pass. Byte-identical to the
    per-block ``_encode_block`` loop it replaces (pinned by the
    equivalence tests in tests/test_round6_ops.py /
    test_round18_opt.py)."""
    nb = zq.shape[0]
    dc_cv, dc_cl = _code_arrays(dc_codes)
    ac_cv, ac_cl = _code_arrays(ac_codes)
    # event sort key: (block * 65 + zigzag_pos) * 4 + sub, where DC
    # sits at pos 0 (sub 0 = symbol, 1 = magnitude bits), each AC
    # nonzero at its pos k (sub 0 = ZRLs, 1 = symbol, 2 = bits), and
    # EOB at pos 64.
    keys: list[np.ndarray] = []
    vals: list[np.ndarray] = []
    lens: list[np.ndarray] = []

    dcv = zq[:, 0]
    diff = np.diff(dcv, prepend=np.int64(0))
    s = _bitlen(np.abs(diff))
    dc_bits = np.where(diff >= 0, diff, diff + (np.int64(1) << s) - 1)
    bkey = np.arange(nb, dtype=np.int64) * 260
    keys.append(bkey)
    vals.append(dc_cv[s])
    lens.append(dc_cl[s])
    keys.append(bkey + 1)
    vals.append(dc_bits)
    lens.append(s)

    acm = zq[:, 1:]
    bi, ci = np.nonzero(acm)  # row-major → sorted by (block, pos)
    lastk = np.zeros(nb, np.int64)
    if bi.size:
        k = ci + 1
        first = np.ones(bi.size, bool)
        first[1:] = bi[1:] != bi[:-1]
        prevk = np.empty_like(k)
        prevk[0] = 0
        prevk[1:] = np.where(first[1:], 0, k[:-1])
        run_total = k - prevk - 1
        nzrl = run_total >> 4
        run = run_total & 15
        v = acm[bi, ci]
        sa = _bitlen(np.abs(v))
        ac_bits = np.where(v > 0, v, v + (np.int64(1) << sa) - 1)
        poskey = bi * 260 + k * 4
        if nzrl.any():
            zr = np.repeat(poskey, nzrl)
            zrl_code, zrl_len = ac_codes[0xF0]
            keys.append(zr)
            vals.append(np.full(zr.size, zrl_code, np.int64))
            lens.append(np.full(zr.size, zrl_len, np.int64))
        sym = (run << 4) | sa
        keys.append(poskey + 1)
        vals.append(ac_cv[sym])
        lens.append(ac_cl[sym])
        keys.append(poskey + 2)
        vals.append(ac_bits)
        lens.append(sa)
        lastk[bi] = k  # row-major order → last nonzero pos per block
    eb = np.nonzero(lastk < 63)[0]
    if eb.size:
        eob_code, eob_len = ac_codes[0x00]
        keys.append(eb * 260 + 64 * 4)
        vals.append(np.full(eb.size, eob_code, np.int64))
        lens.append(np.full(eb.size, eob_len, np.int64))

    key = np.concatenate(keys)
    order = np.argsort(key, kind="stable")
    val = np.concatenate(vals)[order]
    ln = np.concatenate(lens)[order]
    if (ln < 0).any():
        raise KeyError("symbol outside the Huffman table")
    return _pack_puts(val, ln)


def _encode_block(bw, zq_row, nonzero_ac, prev_dc, dc_codes, ac_codes) -> int:
    """Entropy-encode one block's zigzag coefficients; returns the new
    DC predictor. Shared by the grayscale and interleaved-color paths."""
    s, bits = _magnitude(int(zq_row[0]) - prev_dc)
    code, ln = dc_codes[s]
    bw.put(code, ln)
    if s:
        bw.put(bits, s)
    prev_k = 0  # 1-based AC position of the previous nonzero
    zrl_code, zrl_len = ac_codes[0xF0]
    for idx in nonzero_ac:
        k = int(idx) + 1
        run = k - prev_k - 1
        while run > 15:
            bw.put(zrl_code, zrl_len)
            run -= 16
        s, bits = _magnitude(int(zq_row[k]))
        code, ln = ac_codes[(run << 4) | s]
        bw.put(code, ln)
        bw.put(bits, s)
        prev_k = k
    if prev_k < 63:
        eob_code, eob_len = ac_codes[0x00]
        bw.put(eob_code, eob_len)
    return int(zq_row[0])


# Grayscale marker-stream prefixes, one per (quant, dims, DRI) spec.
_GRAY_HDR_CACHE: dict[tuple, bytes] = {}


def encode_jpeg_gray(
    img: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Real baseline JPEG writer for an 8-bit grayscale image whose
    dimensions are multiples of 8: per-block float DCT, quantization
    (default unit table — the lossless-for-constant-blocks setting),
    DC-difference + AC run-length Huffman coding with byte stuffing,
    full marker stream (SOI/APP0/DQT/SOF0/DHT/SOS/EOI).
    ``restart_interval`` > 0 emits a DRI segment and RST0–RST7 markers
    every that-many MCUs, with the DC predictor reset per segment —
    the resync mechanism real-world encoders use so one corrupt bit
    can't cascade past the next marker."""
    h, w = img.shape
    if h % 8 or w % 8:
        raise ValueError("dimensions must be multiples of 8")
    q = np.ones((8, 8), dtype=np.int64) if quant is None else quant
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    zq_all = _dct_quantize(img, q)

    # r18 (guide §4.2): the per-block Python entropy loop was ~2 ms/KB
    # of payload — the whole scan (or, with restarts, each segment:
    # the DC predictor resets and the stream re-aligns to a byte
    # boundary at every marker, so segments entropy-code
    # independently) is now one vectorized put-sequence build.
    nb = zq_all.shape[0]
    entropy = bytearray()
    seg = restart_interval if restart_interval else nb
    for n0 in range(0, nb, seg):
        if n0:
            entropy += bytes([0xFF, 0xD0 + (n0 // restart_interval - 1) % 8])
        entropy += _encode_blocks_entropy(
            zq_all[n0 : n0 + seg], dc_codes, ac_codes
        )

    # The marker stream before the entropy data is a pure function of
    # (quant table, dims, restart interval) — identical for every frame
    # of an MJPEG stream and every same-shaped payload image, so build
    # it once per spec instead of per frame (r19, guide §4.5).
    hkey = (q.tobytes(), h, w, restart_interval)
    head = _GRAY_HDR_CACHE.get(hkey)
    if head is None:
        qz = q.reshape(-1)[_ZIGZAG]
        hdr = bytearray()
        hdr += b"\xff\xd8"  # SOI
        hdr += (
            b"\xff\xe0"
            + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        )
        hdr += (
            b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
            + bytes(int(v) for v in qz)
        )
        hdr += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
        hdr += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
        hdr += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
        if restart_interval:
            hdr += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
        hdr += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
        head = bytes(hdr)
        if len(_GRAY_HDR_CACHE) >= _CACHE_MAX_ENTRIES:
            _GRAY_HDR_CACHE.clear()
        _GRAY_HDR_CACHE[hkey] = head
    return head + bytes(entropy) + b"\xff\xd9"


# 16-bit prefix lookup tables per Huffman table (sym, length), cached
# across calls keyed by the raw (bits, vals) spec — every file from the
# same encoder shares tables, so the 64 K fill runs once per worker.
_LUT_CACHE: dict[bytes, tuple[np.ndarray, np.ndarray]] = {}


def _build_lut(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    key = bytes(bits) + bytes(vals)
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        return cached
    sym = np.full(1 << 16, -1, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.uint8)
    for s, (code, length) in _canonical_codes(bits, vals).items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        sym[lo:hi] = s
        ln[lo:hi] = length
    _LUT_CACHE[key] = (sym, ln)
    return sym, ln


# Same tables as plain Python lists: the symbol walks index them with
# Python ints, and list indexing returns unboxed ints ~5× faster than
# numpy scalar extraction (r18, guide §4.2). Cached like _LUT_CACHE.
_LUT_LIST_CACHE: dict[bytes, tuple[list[int], list[int]]] = {}


def _build_lut_lists(
    bits: list[int], vals: list[int]
) -> tuple[list[int], list[int]]:
    key = bytes(bits) + bytes(vals)
    cached = _LUT_LIST_CACHE.get(key)
    if cached is None:
        sym, ln = _build_lut(bits, vals)
        cached = (sym.tolist(), ln.tolist())
        _LUT_LIST_CACHE[key] = cached
    return cached


def _extend(bits: int, s: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map s raw bits back to a signed value."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


class _WinReader:
    """On-demand 16-bit-window reads over an unstuffed entropy segment.

    Drop-in for the precomputed window list of ``_decode_scan`` (same
    ``[p]`` / ``len()`` surface, same zero-padding semantics): window p
    is bits p..p+15 of the segment, zero-filled past the end. The
    symbol walk touches only ~1 window per 5 bit positions, so
    computing windows at read time beats materializing all of them
    through numpy's unpack/stride/matmul pipeline at EVERY scan size
    (measured r19: −23% on 32-block MJPEG frames, −28% on ~1 KB
    payload scans, −50% on 400 KB noise scans — the precompute always
    does ~5× more window work plus a tolist pass; guide §4.2)."""

    __slots__ = ("b", "n")

    def __init__(self, clean: bytes) -> None:
        self.b = clean + b"\x00\x00\x00\x00\x00"
        # match len(sliding_window_view(unpackbits(clean)+32 zeros, 16))
        self.n = 8 * len(clean) + 17

    def __len__(self) -> int:
        return self.n

    def __getitem__(self, p: int) -> int:
        b = self.b
        q = p >> 3
        return (
            ((b[q] << 16) | (b[q + 1] << 8) | b[q + 2]) >> (8 - (p & 7))
        ) & 0xFFFF




def decode_jpeg(payload: bytes) -> np.ndarray:
    """Real baseline JPEG parser for the 4:4:4 profile:
    marker walk, DQT/DHT read FROM THE FILE, canonical Huffman decode
    with unstuffing, dequantize, float IDCT, level shift + clip.
    Returns h×w uint8 for grayscale files and h×w×3 RGB (BT.601
    YCbCr→RGB) for 3-component 4:4:4 and 4:2:0 files, with
    per-component quant/Huffman tables and sampling factors honored. Restart intervals (DRI/RST0–7) are
    honored — byte realignment and per-segment resets of every
    component's DC predictor. Progressive, subsampled and arithmetic
    streams raise."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    h = w = None
    dc_tid = ac_tid = 0
    restart_interval = 0
    sof_comps: dict[int, int] = {}  # component id → quant table id
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = np.frombuffer(seg, np.uint8, 64, i + 1)
                quant[tid] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                huff[(cls, tid)] = (bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            depth, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if depth != 8:
                raise NotImplementedError("non-8-bit depth")
            if ncomp not in (1, 3):
                raise NotImplementedError("unsupported component count")
            for c in range(ncomp):
                cid, samp, qt = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError("unsupported sampling factor")
                sof_comps[cid] = (qt, hi, vi)
        elif marker == 0xC2:  # SOF2 → progressive path (Annex G)
            return _decode_progressive(payload)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise NotImplementedError("non-baseline-sequential JPEG")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS → entropy data follows
            ncomp_s = seg[0]
            if ncomp_s != len(sof_comps):
                raise NotImplementedError("partial-component scan")
            comps = []
            for c in range(ncomp_s):
                cid = seg[1 + 2 * c]
                tids = seg[2 + 2 * c]
                qt, hi, vi = sof_comps[cid]
                comps.append((qt, tids >> 4, tids & 0x0F, hi, vi))
            pos = pos + 2 + seg_len
            planes = _decode_scan(
                payload, pos, h, w, quant, huff, comps, restart_interval
            )
            if len(planes) == 1:
                return planes[0]
            return _ycbcr_to_rgb(planes)
        pos += 2 + seg_len
    raise ValueError("no scan data found")


def _decode_scan(
    payload, pos, h, w, quant, huff, comps, restart_interval=0
) -> list[np.ndarray]:
    """Interleaved baseline scan decode: per MCU, hi×vi blocks per
    component in SOS order (4:4:4 = one each; 4:2:0 = four Y + one Cb
    + one Cr), per-component DC predictors and tables. ``comps`` is
    [(qt_id, dc_tid, ac_tid, hi, vi)]; returns one FULL-RESOLUTION
    plane per component (subsampled chroma is nearest-upsampled)."""
    if h is None or not quant or not comps:
        raise ValueError("scan before SOF/DQT/DHT")
    tables = []
    for qt_id, dc_tid, ac_tid, _hi, _vi in comps:
        if (0, dc_tid) not in huff or (1, ac_tid) not in huff:
            raise ValueError("scan references missing Huffman table")
        tables.append(
            (
                quant[qt_id if qt_id in quant else min(quant)].astype(
                    np.float64
                ),
                *_build_lut_lists(*huff[(0, dc_tid)]),
                *_build_lut_lists(*huff[(1, ac_tid)]),
            )
        )

    # Unstuff the entropy-coded data (0xFF00 → 0xFF), splitting into
    # restart segments at RST0–RST7 markers (which sit on byte
    # boundaries and reset the DC predictor), stopping at any other
    # marker. Each segment gets its own precomputed 16-bit-window
    # array so every Huffman decode and magnitude read is one index.
    arr = np.frombuffer(payload, np.uint8, len(payload) - pos, pos)
    end = len(arr)
    seg_bounds: list[tuple[int, int]] = []
    seg_start = 0
    for i in np.flatnonzero(arr == 0xFF):
        if i < seg_start:  # marker byte inside an already-cut region
            continue
        nxt = arr[i + 1] if i + 1 < len(arr) else None
        if nxt == 0x00:
            pass  # stuffed 0xFF — entropy data, not a marker
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:  # RSTn
            seg_bounds.append((seg_start, int(i)))
            seg_start = int(i) + 2
        else:
            end = int(i)
            break
    seg_bounds.append((seg_start, end))

    def _windows(a: int, b: int) -> _WinReader:
        # Unstuffing by byte-replace is exactly the old keep-mask drop:
        # inside a segment every 0xFF is a stuffed one (a non-stuff
        # 0xFF is a marker and already became a segment boundary or
        # the scan end above).
        return _WinReader(
            bytes(payload[pos + a : pos + b]).replace(b"\xff\x00", b"\xff")
        )

    ncomp = len(comps)
    hmax = max(c[3] for c in comps)
    vmax = max(c[4] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component block grids: (mcuy·vi) rows × (mcux·hi) cols
    grid = [(mcuy * c[4], mcux * c[3]) for c in comps]
    zq = [
        np.zeros((gr * gc, 64), dtype=np.int64) for gr, gc in grid
    ]
    seg_iter = iter(seg_bounds)
    v16 = _windows(*next(seg_iter))
    p = 0
    prev_dc = [0] * ncomp
    limit = len(v16)
    for m in range(mcuy * mcux):  # MCU raster order
        if restart_interval and m and m % restart_interval == 0:
            # next restart segment: byte-realign + reset ALL predictors
            v16 = _windows(*next(seg_iter))
            p = 0
            prev_dc = [0] * ncomp
            limit = len(v16)
        my, mx = divmod(m, mcux)
        for c in range(ncomp):
            _, dc_sym, dc_len, ac_sym, ac_len = tables[c]
            hi, vi = comps[c][3], comps[c][4]
            for br in range(vi):
                for bc in range(hi):
                    n = (my * vi + br) * grid[c][1] + (mx * hi + bc)
                    if p >= limit:
                        raise ValueError("entropy data exhausted")
                    code = v16[p]
                    s = dc_sym[code]
                    if s < 0:
                        raise ValueError("invalid Huffman code")
                    p += dc_len[code]
                    if s:
                        prev_dc[c] += _extend(v16[p] >> (16 - s), s)
                        p += s
                    zq[c][n, 0] = prev_dc[c]
                    k = 1
                    while k < 64:
                        code = v16[p]
                        rs = ac_sym[code]
                        if rs < 0:
                            raise ValueError("invalid Huffman code")
                        p += ac_len[code]
                        if rs == 0x00:  # EOB
                            break
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        s = rs & 0x0F
                        if k > 63:
                            raise ValueError("AC run past end of block")
                        zq[c][n, k] = _extend(v16[p] >> (16 - s), s)
                        p += s
                        k += 1

    planes = []
    for c in range(ncomp):
        gr, gc = grid[c]
        hi, vi = comps[c][3], comps[c][4]
        nb_c = gr * gc
        coeffs = np.zeros((nb_c, 64), dtype=np.float64)
        coeffs[:, _ZIGZAG] = zq[c]
        deq = coeffs.reshape(nb_c, 8, 8) * tables[c][0][None, :, :]
        blocks = _BASIS.T @ deq @ _BASIS
        px = np.clip(np.rint(blocks + 128.0), 0, 255).astype(np.uint8)
        img = (
            px.reshape(gr, gc, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gr * 8, gc * 8)
        )
        # crop to this component's true dims, then upsample to full res
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        img = img[:ch, :cw]
        if vi != vmax or hi != hmax:
            img = np.repeat(
                np.repeat(img, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
        planes.append(img[:h, :w])
    return planes


# --- payload mapping used by the oracle-checked query ---------------------
JPEG_BLOCKS_W = 4  # blocks per row → image width 32 px


def encode_jpeg_blocks(raw: bytes, blocks_w: int = JPEG_BLOCKS_W) -> bytes:
    """Payload bytes → one constant 8×8 tile per byte (row-major,
    zero-padded to fill the last block row), encoded as a real
    baseline JPEG. Constant tiles + unit quantization make the lossy
    pipeline exactly invertible (module docstring), so the decoded
    statistics are SQL-recomputable from the raw bytes."""
    n = max(1, len(raw))
    bh = -(-n // blocks_w)
    vals = np.zeros(bh * blocks_w, dtype=np.uint8)
    vals[: len(raw)] = np.frombuffer(raw, np.uint8)
    tiles = vals.reshape(bh, blocks_w)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    return encode_jpeg_gray(img)


def encode_jpeg_blocks_progressive(
    raw: bytes, blocks_w: int = JPEG_BLOCKS_W
) -> bytes:
    """``encode_jpeg_blocks``' byte→tile mapping, emitted as a real
    PROGRESSIVE (SOF2) stream: six scans — DC first at Al=1, two AC
    spectral-selection bands, then the successive-approximation
    refinement scans. Same exact-invertibility argument (constant
    tiles, unit quantization), so the same oracle checks it."""
    n = max(1, len(raw))
    bh = -(-n // blocks_w)
    vals = np.zeros(bh * blocks_w, dtype=np.uint8)
    vals[: len(raw)] = np.frombuffer(raw, np.uint8)
    tiles = vals.reshape(bh, blocks_w)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    return encode_jpeg_progressive_gray(img)


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Grayscale-only convenience wrapper over ``decode_jpeg``."""
    img = decode_jpeg(payload)
    if img.ndim != 2:
        raise ValueError("not a grayscale JPEG")
    return img


# --- color (BT.601 full-range, the JFIF convention) -----------------------
def rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 RGB → uint8 YCbCr, rounded to the pixel grid
    (the quantization every real encoder applies before the DCT)."""
    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.rint(np.stack([y, cb, cr], axis=2)), 0, 255).astype(
        np.uint8
    )


def _ycbcr_to_rgb(planes: list[np.ndarray]) -> np.ndarray:
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(
        np.uint8
    )


def encode_jpeg_color(
    img: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Real baseline 4:4:4 color JPEG writer: BT.601 RGB→YCbCr, one
    full-resolution block per component per MCU (interleaved Y Cb Cr),
    per-component DC predictors, shared quant/Huffman tables (legal
    per T.81 — the decoder reads table ids from the file either way).
    ``restart_interval`` as in ``encode_jpeg_gray``."""
    h, w, _ = img.shape
    if h % 8 or w % 8:
        raise ValueError("dimensions must be multiples of 8")
    q = np.ones((8, 8), dtype=np.int64) if quant is None else quant
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    ycc = rgb_to_ycbcr(img)
    per_comp = [_quantize_plane(ycc[:, :, c], q) for c in range(3)]

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    nb = (h // 8) * (w // 8)
    for n in range(nb):
        if restart_interval and n and n % restart_interval == 0:
            bw.raw_marker(0xD0 + (n // restart_interval - 1) % 8)
            prev_dc = [0, 0, 0]
        for c in range(3):
            zq_all, nonzero_ac = per_comp[c]
            prev_dc[c] = _encode_block(
                bw, zq_all[n], nonzero_ac[n], prev_dc[c], dc_codes, ac_codes
            )

    qz = q.reshape(-1)[_ZIGZAG]
    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(int(v) for v in qz)
    out += (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 17, 8, h, w, 3)
        + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    )
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += (
        b"\xff\xda"
        + struct.pack(">HB", 12, 3)
        + b"\x01\x00\x02\x00\x03\x00\x00\x3f\x00"
    )
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_color_420(
    img: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Real baseline 4:2:0 color JPEG writer — the subsampling most
    real-world files use: chroma is 2×2 box-averaged (round-half-up on
    the integer grid) to quarter resolution, each MCU interleaves four
    Y blocks (2×2) + one Cb + one Cr, with per-component DC predictors.
    Dimensions must be multiples of 16 (one MCU tile).
    ``restart_interval`` counts MCUs."""
    h, w, _ = img.shape
    if h % 16 or w % 16:
        raise ValueError("dimensions must be multiples of 16")
    q = np.ones((8, 8), dtype=np.int64) if quant is None else quant
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    ycc = rgb_to_ycbcr(img)
    y = ycc[:, :, 0]

    def down2(plane: np.ndarray) -> np.ndarray:
        v = plane.reshape(h // 2, 2, w // 2, 2).astype(np.int64)
        return ((v.sum(axis=(1, 3)) + 2) // 4).astype(np.uint8)

    cb, cr = down2(ycc[:, :, 1]), down2(ycc[:, :, 2])
    zy, nzy = _quantize_plane(y, q)
    zcb, nzcb = _quantize_plane(cb, q)
    zcr, nzcr = _quantize_plane(cr, q)

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    mcux, mcuy = w // 16, h // 16
    bw_y, bw_c = w // 8, w // 16
    for m in range(mcuy * mcux):
        if restart_interval and m and m % restart_interval == 0:
            bw.raw_marker(0xD0 + (m // restart_interval - 1) % 8)
            prev_dc = [0, 0, 0]
        my, mx = divmod(m, mcux)
        for br in range(2):  # four Y blocks, raster order inside the MCU
            for bc in range(2):
                n = (my * 2 + br) * bw_y + (mx * 2 + bc)
                prev_dc[0] = _encode_block(
                    bw, zy[n], nzy[n], prev_dc[0], dc_codes, ac_codes
                )
        nc = my * bw_c + mx
        prev_dc[1] = _encode_block(
            bw, zcb[nc], nzcb[nc], prev_dc[1], dc_codes, ac_codes
        )
        prev_dc[2] = _encode_block(
            bw, zcr[nc], nzcr[nc], prev_dc[2], dc_codes, ac_codes
        )

    qz = q.reshape(-1)[_ZIGZAG]
    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(int(v) for v in qz)
    out += (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 17, 8, h, w, 3)
        + b"\x01\x22\x00\x02\x11\x00\x03\x11\x00"
    )
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += (
        b"\xff\xda"
        + struct.pack(">HB", 12, 3)
        + b"\x01\x00\x02\x00\x03\x00\x00\x3f\x00"
    )
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive DCT (SOF2), grayscale — ITU-T T.81 Annex G, Huffman coding
# ---------------------------------------------------------------------------
# Scope: single-component (grayscale) spectral-selection + successive-
# approximation progressive streams, no restart markers. This closes
# the last JPEG-family gap the round-7 verdict listed as env-gated:
# DC first/refinement scans, AC first scans with EOB-run coding, and
# AC refinement scans with correction bits are all implemented for
# real on both the encode and decode side; multi-component progressive
# and arithmetic coding remain out of scope and raise.
#
# The AC scans use a single-length canonical Huffman table carrying the
# full progressive alphabet (EOBn for n=0..14, ZRL, and every run/size
# with size 1..10): all 176 symbols at code length 8 — a valid BITS/
# HUFFVAL spec (176 < 2^8), read from the file by the decoder like any
# other DHT, so the decoder stays general for conforming streams.

_ACP_VALS = (
    [n << 4 for n in range(15)]            # EOBn (size 0, run = n)
    + [0xF0]                               # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ACP_BITS = [0] * 16
_ACP_BITS[7] = len(_ACP_VALS)  # every symbol at length 8


def _progressive_scans() -> list[tuple[int, int, int, int]]:
    """(Ss, Se, Ah, Al) per scan: DC first at Al=1, AC band first scans
    at Al=1 (split 1–5 / 6–63 — two spectral-selection bands), then the
    successive-approximation refinement scans restoring the low bit."""
    return [
        (0, 0, 0, 1),
        (1, 5, 0, 1),
        (6, 63, 0, 1),
        (0, 0, 1, 0),
        (1, 5, 1, 0),
        (6, 63, 1, 0),
    ]


def encode_jpeg_progressive_gray(
    img: np.ndarray,
    quant: np.ndarray | None = None,
    scans: list[tuple[int, int, int, int]] | None = None,
) -> bytes:
    """Real progressive JPEG writer (grayscale, dimensions multiples of
    8): the same DCT/quantization as the baseline writer, entropy-coded
    across a scan script (default ``_progressive_scans``; any
    conforming (Ss, Se, Ah, Al) sequence is accepted — DC scans are
    (0, 0), AC bands exclude 0, refinement scans must step Al by one
    from Ah) with DC successive approximation, per-band AC first scans
    carrying EOB runs, and AC refinement scans carrying correction
    bits."""
    h, w = img.shape
    if h % 8 or w % 8:
        raise ValueError("dimensions must be multiples of 8")
    if scans is None:
        scans = _progressive_scans()
    for ss, se, ah, al in scans:
        if (ss == 0) != (se == 0) or se > 63 or ss > se:
            raise ValueError("invalid scan band")
        if ah and ah != al + 1:
            raise ValueError("successive approximation must step by 1")
    q = np.ones((8, 8), dtype=np.int64) if quant is None else quant
    zq_all = _dct_quantize(img, q)
    nb = zq_all.shape[0]
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_ACP_BITS, _ACP_VALS)

    qz = q.reshape(-1)[_ZIGZAG]
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) for v in qz
    )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _ACP_BITS, _ACP_VALS)
    for ss, se, ah, al in scans:
        out += (
            b"\xff\xda"
            + struct.pack(">HB", 8, 1)
            + bytes([1, 0x00, ss, se, (ah << 4) | al])
        )
        if ss == 0:
            body = (
                _enc_dc_first(zq_all, al, dc_codes)
                if ah == 0
                else _enc_dc_refine(zq_all, al)
            )
        else:
            body = (
                _enc_ac_first(zq_all, ss, se, al, ac_codes)
                if ah == 0
                else _enc_ac_refine(zq_all, ss, se, al, ac_codes)
            )
        out += body
    out += b"\xff\xd9"
    del nb
    return bytes(out)


def _enc_dc_first(zq_all, al: int, dc_codes) -> bytes:
    # arithmetic point transform (G.1.2.1), DC-difference coded — the
    # whole scan as one vectorized put sequence (r18, guide §4.2).
    v = zq_all[:, 0] >> al
    diff = np.diff(v, prepend=np.int64(0))
    s = _bitlen(np.abs(diff))
    bits = np.where(diff >= 0, diff, diff + (np.int64(1) << s) - 1)
    cv, cl = _code_arrays(dc_codes)
    vals = np.column_stack([cv[s], bits]).ravel()
    lens = np.column_stack([cl[s], s]).ravel()
    if (lens < 0).any():
        raise KeyError("symbol outside the Huffman table")
    return _pack_puts(vals, lens)


def _enc_dc_refine(zq_all, al: int) -> bytes:
    return _pack_puts(
        (zq_all[:, 0] >> al) & 1, np.ones(zq_all.shape[0], np.int64)
    )


def _enc_ac_first(zq_all, ss: int, se: int, al: int, ac_codes) -> bytes:
    bw = _BitWriter()
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        while eobrun > 0:
            n = min(14, eobrun.bit_length() - 1)
            take = min(eobrun, (2 << n) - 1)
            n = take.bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.put(code, ln)
            if n:
                bw.put(take - (1 << n), n)
            eobrun -= take

    # Vectorized point transform over the whole band; the Python walk
    # visits ONLY blocks whose band has a nonzero (r18, guide §4.2 —
    # the per-block loop previously touched every all-EOB block, i.e.
    # every block of the constant-tile payload profile). Accumulating
    # a whole zero gap into eobrun at once is byte-identical to the
    # one-at-a-time cap flush: the flush loop emits min(eobrun, 32767)
    # per symbol, so a run that crossed the 0x7FFF cap produces the
    # same 32767-sized chunks either way.
    band = zq_all[:, ss : se + 1]
    pt = np.sign(band) * (np.abs(band) >> al)
    nz_rows = pt.any(axis=1)
    nzb = np.nonzero(nz_rows)[0]
    prev_end = 0  # block index after the previous nonzero-band block
    for b in nzb:
        eobrun += int(b) - prev_end
        vals = pt[b]
        nz = np.nonzero(vals)[0]
        flush_eob()
        run = 0
        last = -1
        for i in nz:
            run = int(i) - last - 1
            while run > 15:
                code, ln = ac_codes[0xF0]
                bw.put(code, ln)
                run -= 16
            s, bits = _magnitude(int(vals[i]))
            code, ln = ac_codes[(run << 4) | s]
            bw.put(code, ln)
            bw.put(bits, s)
            last = int(i)
        if last < se - ss:  # trailing zeros → EOB joins the run
            eobrun += 1
        prev_end = int(b) + 1
    eobrun += zq_all.shape[0] - prev_end
    flush_eob()
    return bw.flush()


def _enc_ac_refine(zq_all, ss: int, se: int, al: int, ac_codes) -> bytes:
    """AC successive-approximation refinement (G.1.2.3): newly
    significant coefficients are coded as run/1 symbols whose runs
    count ZERO-HISTORY positions only; every nonzero-history
    coefficient passed over appends one correction bit after the next
    emitted symbol. EOB runs buffer their correction bits the same
    way."""
    bw = _BitWriter()
    eobrun = 0
    eob_bits: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun, eob_bits
        while eobrun > 0:
            n = min(14, eobrun.bit_length() - 1)
            take = min(eobrun, (2 << n) - 1)
            n = take.bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.put(code, ln)
            if n:
                bw.put(take - (1 << n), n)
            eobrun -= take
        for bit in eob_bits:
            bw.put(bit, 1)
        eob_bits = []

    # Vectorized decoder-state model over the whole band: ``hist`` is
    # what the decoder holds before this scan (point transform at
    # Al+1), ``now`` the target at Al; newly-significant = zero history
    # with a nonzero target. The Python walk visits ONLY blocks with a
    # newly-significant coefficient (r18, guide §4.2); whole gaps of
    # all-EOB blocks are absorbed at once — correction bits gathered
    # by one row-major mask per gap, split at 0x7FFF cap boundaries so
    # each cap flush sees exactly the bits the per-block loop had
    # buffered at that point.
    bandv = zq_all[:, ss : se + 1]
    absb = np.abs(bandv)
    sgn = np.sign(bandv)
    hist_m = sgn * (absb >> (al + 1))
    now_m = sgn * (absb >> al)
    corr_m = np.abs(now_m) & 1
    hist_nz = hist_m != 0
    newly_m = (hist_m == 0) & (now_m != 0)
    newly_any = newly_m.any(axis=1)
    nzb = np.nonzero(newly_any)[0]

    def absorb_gap(lo: int, hi: int) -> None:
        nonlocal eobrun
        while lo < hi:
            take = min(hi - lo, 0x7FFF - eobrun)
            chunk = slice(lo, lo + take)
            eob_bits.extend(corr_m[chunk][hist_nz[chunk]].tolist())
            eobrun += take
            lo += take
            if eobrun == 0x7FFF:
                flush_eob()

    prev_end = 0
    for b in nzb:
        absorb_gap(prev_end, int(b))
        prev_end = int(b) + 1
        hist = hist_m[b]
        now = now_m[b]
        newly = np.nonzero(newly_m[b])[0]
        flush_eob()
        pend: list[int] = []
        run = 0
        pos = 0
        for i in newly:
            # Walk to the new coefficient: zero-history positions count
            # toward the run (a ZRL closes every 16, consuming exactly
            # the correction bits buffered so far — the decoder's ZRL
            # stops right after the 16th zero-history position, so
            # later bits belong to the next symbol); nonzero-history
            # positions buffer one correction bit each.
            while pos < i:
                if hist[pos]:
                    pend.append(abs(now[pos]) & 1)
                else:
                    run += 1
                    if run == 16:
                        code, ln = ac_codes[0xF0]
                        bw.put(code, ln)
                        for bit in pend:
                            bw.put(bit, 1)
                        pend = []
                        run = 0
                pos += 1
            code, ln = ac_codes[(run << 4) | 1]
            bw.put(code, ln)
            bw.put(1 if now[i] > 0 else 0, 1)
            for bit in pend:
                bw.put(bit, 1)
            pend = []
            run = 0
            pos = i + 1
        if pos <= se - ss:
            eobrun += 1
            for j in range(pos, se - ss + 1):
                if hist[j]:
                    eob_bits.append(abs(now[j]) & 1)
            if eobrun == 0x7FFF:
                flush_eob()
    absorb_gap(prev_end, zq_all.shape[0])
    flush_eob()
    return bw.flush()


_SCAN_TRUNCATED = "progressive scan data truncated"


class _ScanBits:
    """Bit reader over one scan's unstuffed entropy bytes, computing
    each 16-bit window at read time from the byte buffer. The symbol
    walk touches roughly one window per five bit positions, so on-
    demand reads beat materializing every window through the numpy
    unpack/stride/matmul pipeline — the old precompute was ~20% of the
    progressive leg (r19, guide §4.2). ``n`` is the scan's bit length:
    the byte buffer is zero-padded so a 16-bit window near the end can
    be formed, but a read that would consume a bit at or past ``n``
    raises ``ValueError`` — a truncated scan fails instead of decoding
    phantom symbols from the padding."""

    __slots__ = ("b", "n", "p")

    def __init__(self, payload: bytes, start: int, end: int) -> None:
        # byte-replace unstuffing == the keep-mask drop: inside scan
        # data every 0xFF is stuffed (a bare 0xFF is a marker, and
        # ``end`` already stops before the first one)
        clean = bytes(payload[start:end]).replace(b"\xff\x00", b"\xff")
        self.b = clean + b"\x00\x00\x00"
        self.n = 8 * len(clean)
        self.p = 0

    def huff(self, sym: list[int], ln: list[int]) -> int:
        b, p = self.b, self.p
        q = p >> 3
        code = (
            ((b[q] << 16) | (b[q + 1] << 8) | b[q + 2]) >> (8 - (p & 7))
        ) & 0xFFFF
        s = sym[code]
        if s < 0:
            raise ValueError("invalid Huffman code")
        p += ln[code]
        if p > self.n:
            raise ValueError(_SCAN_TRUNCATED)
        self.p = p
        return s

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        b, p = self.b, self.p
        q = p >> 3
        window = (
            ((b[q] << 16) | (b[q + 1] << 8) | b[q + 2]) >> (8 - (p & 7))
        ) & 0xFFFF
        if p + n > self.n:
            raise ValueError(_SCAN_TRUNCATED)
        self.p = p + n
        return window >> (16 - n)

    def bit(self) -> int:
        p = self.p
        if p >= self.n:
            raise ValueError(_SCAN_TRUNCATED)
        self.p = p + 1
        return (self.b[p >> 3] >> (7 - (p & 7))) & 1

    def take_bits(self, count: int) -> np.ndarray:
        """The next ``count`` single bits as an int64 vector (the DC-
        refinement bulk read)."""
        p = self.p
        if p + count > self.n:
            raise ValueError(_SCAN_TRUNCATED)
        self.p = p + count
        a = np.frombuffer(self.b, np.uint8, (p + count + 7) >> 3)
        return np.unpackbits(a)[p : p + count].astype(np.int64)


def _scan_end(payload: bytes, pos: int) -> int:
    """Byte offset of the next non-stuffing, non-restart marker."""
    i = pos
    n = len(payload)
    while i < n - 1:
        if payload[i] == 0xFF and payload[i + 1] not in (0x00,) and not (
            0xD0 <= payload[i + 1] <= 0xD7
        ):
            return i
        i += 1
    return n


def _decode_progressive(payload: bytes) -> np.ndarray:
    """Progressive (SOF2) grayscale decoder — T.81 Annex G Huffman
    path: DC first/refinement scans, AC spectral-selection first scans
    with EOB-run decoding, AC successive-approximation refinement
    scans with correction bits. Tables are read from the file (DQT/DHT
    may precede any scan). Multi-component progressive, restart
    intervals and arithmetic coding raise."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    h = w = None
    qt_id = 0
    coef = None  # (nb, 64) int64 zigzag coefficient state across scans
    eobrun = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = np.frombuffer(seg, np.uint8, 64, i + 1)
                quant[tid] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                huff[(cls, tid)] = (bits, list(seg[i + 17 : i + 17 + n]))
                i += 17 + n
        elif marker == 0xC2:
            depth, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if depth != 8:
                raise NotImplementedError("non-8-bit depth")
            if ncomp != 1:
                raise NotImplementedError("multi-component progressive")
            qt_id = seg[8]  # [depth, h, h, w, w, ncomp, cid, samp, qt]
            nb = ((h + 7) // 8) * ((w + 7) // 8)
            coef = np.zeros((nb, 64), dtype=np.int64)
        elif marker == 0xDD:
            (ri,) = struct.unpack_from(">H", seg, 0)
            if ri:
                raise NotImplementedError("progressive restart intervals")
        elif marker == 0xDA:
            if coef is None:
                raise ValueError("scan before SOF2")
            ncomp_s = seg[0]
            if ncomp_s != 1:
                raise NotImplementedError("multi-component progressive scan")
            tids = seg[2]
            ss, se, ahal = seg[3], seg[4], seg[5]
            ah, al = ahal >> 4, ahal & 0x0F
            if (ss == 0) != (se == 0) or se > 63 or ss > se:
                # progressive DC scans are exactly (0, 0); an AC band
                # must not include 0 (T.81 G.1.1.1.1) — a baseline
                # stream relabeled SOF2 lands here
                raise ValueError("invalid progressive scan band")
            data_start = pos + 2 + seg_len
            end = _scan_end(payload, data_start)
            br = _ScanBits(payload, data_start, end)
            eobrun = 0
            if ss == 0 and se == 0:
                dc_sym, dc_ln = _build_lut_lists(*huff[(0, tids >> 4)])
                if ah == 0:
                    pred = 0
                    for n in range(coef.shape[0]):
                        s = br.huff(dc_sym, dc_ln)
                        if s:
                            pred += _extend(br.receive(s), s)
                        coef[n, 0] = pred << al
                else:
                    # DC refinement reads exactly one bit per block, in
                    # block order — read them all in one vectorized
                    # bulk read instead of nb Python round-trips
                    # through br.bit() (r18; identical bits).
                    coef[:, 0] |= br.take_bits(coef.shape[0]) << al
            else:
                ac_sym, ac_ln = _build_lut_lists(*huff[(1, tids & 0x0F)])
                if ah == 0:
                    eobrun = _dec_ac_first(
                        br, coef, ss, se, al, ac_sym, ac_ln, eobrun
                    )
                else:
                    eobrun = _dec_ac_refine(
                        br, coef, ss, se, al, ac_sym, ac_ln, eobrun
                    )
            pos = end
            continue
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise NotImplementedError("mixed-frame-type stream")
        pos += 2 + seg_len
    if coef is None or h is None:
        raise ValueError("no scan data found")
    q = quant[qt_id if qt_id in quant else min(quant)].astype(np.float64)
    nb = coef.shape[0]
    bw_blocks = (w + 7) // 8
    full = np.zeros((nb, 64), dtype=np.float64)
    full[:, _ZIGZAG] = coef
    deq = full.reshape(nb, 8, 8) * q[None, :, :]
    blocks = _BASIS.T @ deq @ _BASIS
    px = np.clip(np.rint(blocks + 128.0), 0, 255).astype(np.uint8)
    bh_blocks = (h + 7) // 8
    img = (
        px.reshape(bh_blocks, bw_blocks, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh_blocks * 8, bw_blocks * 8)
    )
    return img[:h, :w]


def _dec_ac_first(br, coef, ss, se, al, ac_sym, ac_ln, eobrun) -> int:
    """AC first scan (Ah=0): run/size coefficients shifted by Al, with
    EOBn run decoding (G.2.2)."""
    nb = coef.shape[0]
    n = 0
    while n < nb:
        if eobrun > 0:
            # a first scan consumes no bits inside an EOB run — jump
            # over the whole covered block range at once (r18)
            skip = min(eobrun, nb - n)
            eobrun -= skip
            n += skip
            continue
        k = ss
        while k <= se:
            rs = br.huff(ac_sym, ac_ln)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1 + br.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            coef[n, k] = _extend(br.receive(s), s) << al
            k += 1
        n += 1
    return eobrun


def _dec_ac_refine(br, coef, ss, se, al, ac_sym, ac_ln, eobrun) -> int:
    """AC refinement scan (Ah>0): correction bits for every nonzero-
    history coefficient passed, ±1<<Al for newly significant ones,
    EOB runs refining the remainder (G.2.2 / T.81 Figure G.7)."""
    p1, m1 = 1 << al, -1 << al

    def correct(n: int, k: int) -> None:
        if br.bit():
            if coef[n, k] > 0:
                coef[n, k] += p1
            else:
                coef[n, k] += m1

    # Per-block nonzero-HISTORY flags, vectorized once per scan: a
    # block is only mutated during its own visit, so at visit time its
    # row still holds the pre-scan state this mask captured. A block
    # consumed by an EOB run from the top of its band (k == ss — it
    # never entered the Huffman path, so it has no this-scan
    # placements) emits one correction bit per nonzero-history
    # coefficient and nothing else; with NO nonzero history it consumes
    # zero bits, so the per-position walk is a no-op — skip it (r18).
    # Blocks that leave the Huffman path mid-band keep the exact walk.
    hist_nz = (coef[:, ss : se + 1] != 0).any(axis=1)
    for n in range(coef.shape[0]):
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = br.huff(ac_sym, ac_ln)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + br.receive(r)
                        break
                    # ZRL: pass 16 zero-history positions
                    cnt = 16
                    while k <= se:
                        if coef[n, k] != 0:
                            correct(n, k)
                        else:
                            cnt -= 1
                            if cnt == 0:
                                k += 1
                                break
                        k += 1
                    continue
                if s != 1:
                    raise ValueError("refinement size must be 1")
                val = p1 if br.bit() else m1
                while k <= se:
                    if coef[n, k] != 0:
                        correct(n, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if k > se:
                    raise ValueError("refinement placement past band")
                coef[n, k] = val
                k += 1
        if eobrun > 0:
            if k == ss and not hist_nz[n]:
                eobrun -= 1  # pure-EOB block, no history: zero bits
                continue
            while k <= se:
                if coef[n, k] != 0:
                    correct(n, k)
                k += 1
            eobrun -= 1
    return eobrun
