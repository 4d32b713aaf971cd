"""Pure-numpy baseline JPEG (JFIF) codec — no image libraries.

Round-4 stretch (VERDICT r3 #10): replaces the deterministic fake codec for
``fmt='jpeg'`` payloads with a REAL baseline sequential JPEG implementation,
so the per-row invariant (decoded-pixel PSNR ≥ 40 dB vs the lossless
reference) runs against genuine JPEG bytes end-to-end.

Scope (exactly what the encoder emits, asserted by the decoder):

- baseline sequential DCT (SOF0), 8-bit, 3 components (YCbCr, JFIF BT.601)
- 4:4:4 sampling (no chroma subsampling → every MCU is one 8×8 block per
  component, interleaved Y Cb Cr)
- the ITU-T81 Annex-K quantization tables scaled by the libjpeg quality
  formula, and the Annex-K "typical" Huffman tables (the ones virtually
  every encoder ships)
- standard byte stuffing (0xFF00), no restart markers

The decoder parses real marker structure (DQT/DHT/SOF0/SOS from the
stream, not assumptions) and raises ``ValueError`` with a precise reason on
anything outside baseline 4:4:4 — progressive, subsampled, 12-bit, or
arithmetic-coded files are out of scope by design (documented container
limitation), and truncated streams fail loudly rather than decode garbage.

DCT/IDCT, color transform, quantization and un-zigzag are whole-array numpy
(einsum over all blocks at once). The entropy decoder is table-driven: one
numpy pass unstuffs the scan and builds a 16-bit lookahead window at every
bit position; each Huffman table gets a 65,536-entry peek table (cached per
table spec), and a libjpeg-style fast-AC table yields run, size and signed
value in one lookup whenever code length + magnitude bits fit in 16 bits.
What stays a Python loop is one iteration per coded symbol (DC, AC, EOB,
ZRL): the scan is serial (codes are variable-length and DC is predicted
from the previous block), and these payloads are small fixture images
inside Arrow-batched UDFs.

Reference parity note: the reference crawler stores fetched payload bytes
verbatim and never re-encodes (storageDocStore.js stores the response
body); the codec here exists for the VALIDATION stage of the graft
(north_rule PSNR invariant), not for the crawl semantics.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# --- constants (ITU-T81 Annex K) -------------------------------------------

QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)

QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# Annex-K "typical" Huffman specs: (BITS counts per code length 1..16, values)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II matrix
_k = np.arange(8)
_DCT = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(2 / 8)
_DCT[0, :] = np.sqrt(1 / 8)


def _huff_codes(bits: list[int], vals: list[int]):
    """Canonical Huffman assignment (ITU-T81 C.2): value → (code, length)."""
    enc: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[vi]] = (code, length)
            code += 1
            vi += 1
        code <<= 1
    return enc


def _huff_lookup(bits: bytes, vals: bytes) -> np.ndarray:
    """16-bit peek → (code length << 8) | symbol; 0 where no code matches."""
    t = np.zeros(1 << 16, dtype=np.int64)
    for v, (c, l) in _huff_codes(list(bits), list(vals)).items():
        t[c << (16 - l) : (c + 1) << (16 - l)] = (l << 8) | v
    return t


def _interned(keys: np.ndarray, entry=int) -> list:
    """[entry(k) for k in keys], built once per distinct key and shared: a
    65,536-entry table holds at most a few thousand distinct entries."""
    uniq, inv = np.unique(keys, return_inverse=True)
    objs = [entry(k) for k in uniq.tolist()]
    return list(map(objs.__getitem__, inv.tolist()))


# Tables are cached per Huffman spec; the bound keeps inputs that each carry
# their own tables from growing the cache (an AC entry holds about 1 MB).
@functools.lru_cache(maxsize=16)
def _dc_table(bits: bytes, vals: bytes) -> list[int]:
    if max(vals, default=0) > 16:
        raise ValueError("DC Huffman value out of range")
    return _interned(_huff_lookup(bits, vals))


@functools.lru_cache(maxsize=16)
def _ac_tables(bits: bytes, vals: bytes) -> tuple[list[int], list]:
    """(peek table, fast table). The fast table maps a 16-bit peek straight to
    (run, signed value, bits consumed) whenever code length + magnitude bits
    fit in the peek (libjpeg's jdhuff.c "fast AC"); EOB, ZRL and longer
    symbols are None and go through the peek table."""
    t = _huff_lookup(bits, vals)
    peek = np.arange(1 << 16)
    length, rs = t >> 8, t & 0xFF
    s = rs & 15
    n = length + s
    fits = (length > 0) & (rs != 0x00) & (rs != 0xF0) & (n <= 16)
    v = (peek >> np.clip(16 - n, 0, 16)) & ((1 << s) - 1)
    v = np.where(v < (1 << s) >> 1, v - (1 << s) + 1, v)  # EXTEND (F.2.2.1)
    # pack (run, value, bits) into one key: |value| < 2^15, bits ≤ 16
    key = np.where(fits, (rs >> 4) << 21 | (v + (1 << 15)) << 5 | n, -1)

    def entry(k: int):
        return (k >> 21, (k >> 5 & 0xFFFF) - (1 << 15), k & 31) if k >= 0 else None

    return _interned(t), _interned(key, entry)


def scale_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling (jcparam.c): Q<50 → 5000/Q, else 200-2Q."""
    q = min(max(int(quality), 1), 100)
    s = 5000 // q if q < 50 else 200 - 2 * q
    t = np.floor((base * s + 50) / 100)
    return np.clip(t, 1, 255)


def rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """(H, W) padded channel → (n_blocks, 8, 8), row-major MCU order."""
    H, W = chan.shape
    return (
        chan.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, H: int, W: int) -> np.ndarray:
    return (
        blocks.reshape(H // 8, W // 8, 8, 8).transpose(0, 2, 1, 3).reshape(H, W)
    )


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
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


def _magnitude(v: int) -> tuple[int, int]:
    """signed value → (size s, s-bit code) — inverse of EXTEND (F.2.2.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


# --- encoder ----------------------------------------------------------------

def jpeg_encode(pixels: np.ndarray, quality: int = 95) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (4:4:4, Annex-K tables)."""
    h, w, _ = pixels.shape
    qt = [scale_qtable(QT_LUM, quality), scale_qtable(QT_CHROM, quality)]
    ycc = rgb_to_ycbcr(pixels)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((ph, pw, 3))
    padded[:h, :w] = ycc
    padded[h:, :w] = ycc[h - 1 : h, :]  # edge replicate
    padded[:, w:] = padded[:, w - 1 : w]

    comps = []
    for ci in range(3):
        blocks = _to_blocks(padded[..., ci]) - 128.0
        coef = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
        q = qt[0 if ci == 0 else 1].reshape(8, 8)
        comps.append(np.round(coef / q).astype(np.int64))

    dc_enc = [_huff_codes(DC_LUM_BITS, DC_LUM_VALS),
              _huff_codes(DC_CHR_BITS, DC_CHR_VALS)]
    ac_enc = [_huff_codes(AC_LUM_BITS, AC_LUM_VALS),
              _huff_codes(AC_CHR_BITS, AC_CHR_VALS)]

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    n_blocks = comps[0].shape[0]
    zz = [c.reshape(-1, 64)[:, ZIGZAG] for c in comps]
    for bi in range(n_blocks):
        for ci in range(3):
            t = 0 if ci == 0 else 1
            block = zz[ci][bi]
            diff = int(block[0]) - prev_dc[ci]
            prev_dc[ci] = int(block[0])
            s, bits_v = _magnitude(diff)
            code, length = dc_enc[t][s]
            bw.write(code, length)
            if s:
                bw.write(bits_v, s)
            run = 0
            last_nz = int(np.max(np.nonzero(block)[0])) if np.any(block[1:]) else 0
            for k in range(1, 64):
                v = int(block[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_enc[t][0xF0]  # ZRL
                    bw.write(code, length)
                    run -= 16
                s, bits_v = _magnitude(v)
                code, length = ac_enc[t][(run << 4) | s]
                bw.write(code, length)
                bw.write(bits_v, s)
                run = 0
                if k == last_nz:
                    break
            if last_nz < 63:
                code, length = ac_enc[t][0x00]  # EOB
                bw.write(code, length)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, t in enumerate(qt):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(int(x) for x in t[ZIGZAG]),
        )
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for tc_th, bits, vals in (
        (0x00, DC_LUM_BITS, DC_LUM_VALS),
        (0x01, DC_CHR_BITS, DC_CHR_VALS),
        (0x10, AC_LUM_BITS, AC_LUM_VALS),
        (0x11, AC_CHR_BITS, AC_CHR_VALS),
    ):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    out += seg(
        0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder ----------------------------------------------------------------

# Most bits one MCU of three blocks can consume: per block a DC code and its
# magnitude (16 + 16) plus at most 63 AC symbols of code + magnitude (16 + 15).
_MCU_MAX_BITS = 3 * (32 + 63 * 31)
_WINDOW_SHIFTS = (8 - np.arange(8)).astype(np.uint32)


def _bit_windows(scan: bytes) -> tuple[memoryview, int, str]:
    """Unstuff the entropy-coded segment in one numpy pass and return
    (win, nbits, overrun): win[p] is the 16 bits starting at bit p (a uint16
    view, so only the windows the decoder reads become Python ints),
    zero-filled past the end far enough that one MCU may overrun before the
    caller checks ``pos > nbits``. The data stops at the first 0xFF not
    followed by 0x00; decoding past it fails with ``overrun``."""
    b = np.frombuffer(scan, dtype=np.uint8)
    ff = np.flatnonzero(b == 0xFF)
    bad = np.flatnonzero(np.append(b, 1)[ff + 1])  # a trailing 0xFF is bad too
    overrun = "truncated JPEG entropy stream"
    if bad.size:
        i = int(ff[bad[0]])
        if i + 1 < b.size:
            overrun = f"unexpected marker 0xFF{b[i + 1]:02X} in scan"
        b, ff = b[:i], ff[: bad[0]]
    b = np.delete(b, ff + 1)
    n = b.size
    p = np.zeros(n + _MCU_MAX_BITS // 8 + 3, dtype=np.uint32)
    p[:n] = b
    v = (p[:-2] << 16) | (p[1:-1] << 8) | p[2:]
    w = ((v[:, None] >> _WINDOW_SHIFTS) & 0xFFFF).astype(np.uint16)
    return memoryview(w.ravel()), 8 * n, overrun


def _scan_error(end: int, nbits: int, overrun: str, reason: str) -> ValueError:
    """A bad symbol read from bits (up to bit ``end``) past the data is an
    overrun, not a bad symbol."""
    return ValueError(overrun if end > nbits else reason)


def _decode_scan(
    win: memoryview, nbits: int, overrun: str, n_mcus: int, tabs: list
) -> list[int]:
    """Entropy-decode an interleaved scan into zigzag-ordered coefficients,
    laid out (MCU, scan component, 64). ``tabs`` holds one (DC peek, AC
    peek, AC fast) triple per scan component. A symbol costs one window read
    and one table index; off the fast path, one more of each for its
    magnitude bits. A symbol read from bits past ``nbits`` fails with
    ``overrun`` instead of its own error."""
    out = [0] * (n_mcus * len(tabs) * 64)
    pred = [0] * len(tabs)
    pos = 0
    base = 0
    for _ in range(n_mcus):
        for ci, (dc, ac, fast) in enumerate(tabs):
            e = dc[win[pos]]
            if not e:
                raise _scan_error(pos + 16, nbits, overrun, "invalid Huffman code")
            pos += e >> 8
            s = e & 0xFF
            if s:
                v = win[pos] >> (16 - s)
                pos += s
                if v < 1 << (s - 1):
                    v -= (1 << s) - 1
                pred[ci] += v
            out[base] = pred[ci]
            k = 1
            while k < 64:
                w = win[pos]
                f = fast[w]
                if f:
                    run, v, m = f
                    k += run
                    if k > 63:
                        end = pos + (ac[w] >> 8)
                        raise _scan_error(end, nbits, overrun, "AC index overflow")
                    out[base + k] = v
                    k += 1
                    pos += m
                    continue
                e = ac[w]
                if not e:
                    raise _scan_error(pos + 16, nbits, overrun, "invalid Huffman code")
                pos += e >> 8
                rs = e & 0xFF
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    raise _scan_error(pos, nbits, overrun, "AC index overflow")
                s = rs & 15  # ≥ 1: size-0 symbols all take the fast path
                v = win[pos] >> (16 - s)
                pos += s
                if v < 1 << (s - 1):
                    v -= (1 << s) - 1
                out[base + k] = v
                k += 1
            base += 64
        if pos > nbits:
            raise ValueError(overrun)
    return out


def jpeg_decode(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes → (h, w, 3) uint8 RGB. Parses real marker
    structure; raises ValueError on anything outside baseline 4:4:4."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    frame = None
    scan_comps = None
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.array(list(payload[p + 1 : p + 65]), dtype=np.float64)
                qtables[tq] = t[UNZIGZAG].reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 15
                bits = payload[p + 1 : p + 17]
                n = sum(bits)
                htables[(tc, th)] = (bits, payload[p + 17 : p + 17 + n])
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, fh, fw, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8 or nc != 3:
                raise ValueError("only 8-bit 3-component baseline supported")
            comps = []
            for i in range(nc):
                cid, samp, tq = payload[6 + 3 * i : 9 + 3 * i]
                if samp != 0x11:
                    raise ValueError(
                        "chroma subsampling unsupported (4:4:4 only)"
                    )
                comps.append((cid, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/arithmetic) unsupported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = payload[0]
            scan_comps = []
            for i in range(ns):
                cs, tt = payload[1 + 2 * i], payload[2 + 2 * i]
                scan_comps.append((cs, tt >> 4, tt & 15))
            scan_start = pos + 2 + length
            break
        pos += 2 + length
    if frame is None or scan_comps is None:
        raise ValueError("missing SOF0/SOS")
    fh, fw, comps = frame

    if len(scan_comps) != len(comps):
        raise ValueError("only one interleaved scan of every component supported")

    # entropy stream runs until the EOI marker
    end = data.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("missing EOI")
    tabs = []
    for _cs, dc_id, ac_id in scan_comps:
        dc_spec, ac_spec = htables.get((0, dc_id)), htables.get((1, ac_id))
        if dc_spec is None or ac_spec is None:
            raise ValueError("missing Huffman table for scan")
        tabs.append((_dc_table(*dc_spec), *_ac_tables(*ac_spec)))

    ph, pw = -(-fh // 8) * 8, -(-fw // 8) * 8
    n_blocks = (ph // 8) * (pw // 8)
    win, nbits, overrun = _bit_windows(data[scan_start:end])
    coefs = _decode_scan(win, nbits, overrun, n_blocks, tabs)
    coefs = np.array(coefs, dtype=np.float64)
    coefs = coefs.reshape(n_blocks, len(tabs), 64)

    chans = []
    for ci, (_cid, tq) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("missing quant table")
        blocks = (coefs[:, ci][:, UNZIGZAG].reshape(-1, 8, 8)) * q
        px = np.einsum("ji,njk,kl->nil", _DCT, blocks, _DCT) + 128.0
        chans.append(_from_blocks(px, ph, pw)[:fh, :fw])
    return ycbcr_to_rgb(np.stack(chans, axis=-1))
