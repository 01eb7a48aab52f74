"""JPEG 2000 (JPXDecode) lossless codec — a documented beyond-reference
extension.

The reference ERRORS on JPXDecode ("Unsupported image filter" in
operations/extract_images.rs; the filter chain passes the bytes
through).  This module implements a real ITU-T T.800 Part-1 decoder for
the lossless profile — reversible 5/3 wavelet, reversible colour
transform, EBCOT Tier-1 bit-plane coding, Tier-2 packet headers — plus
the matching encoder used to build self-validating fixtures (the
sandbox has no JPEG 2000 library, and, like the JBIG2 work, every
decoder path is pinned by exact roundtrips through a by-construction
encoder).

The MQ arithmetic coder is SHARED with the JBIG2 implementation
(kernel/jbig2.MQDecoder / MQEncoder): JBIG2 Annex E and JPEG 2000
Annex C define the same coder, so the transcription proven against
mq_coder.rs carries over unchanged.

Scope (raises ``Jp2kError`` beyond it):
- BOTH Part-1 wavelet paths: reversible 5/3 (SPcod transform 1, Sqcd
  style 0 — exact lossless) and, since round 8, the irreversible 9/7
  (transform 0) with scalar quantization (Sqcd style 1 derived / 2
  expounded, E.1 Δ_b = 2^(R_b−ε_b)(1+μ_b/2^11), mid-point
  reconstruction) and the irreversible colour transform (G.3) — the
  shape real-world lossy JP2s use. The 9/7 lifting scaling (low×1/K,
  high×K at analysis) is fixed by the filter DC gains; no JPEG 2000
  library or real-world fixture exists in this sandbox, so lossy
  coverage is pinned by encoder/decoder roundtrip error bounds rather
  than cross-codec comparison;
- MULTIPLE TILES (SIZ grid, one tile-part per tile, any arrival order)
  and USER-DEFINED PRECINCTS (Scod bit 0 per-resolution PPx/PPy,
  codeblocks clipped to precinct cells, one packet per precinct) for
  all five progression orders, including PCRL/CPRL interleaving
  precincts of different resolutions by their top-left reference-grid
  position (B.12.1.4/5); any number of quality layers
  (codeblock contributions accumulate across layers); SOP/EPH
  markers; PLT/COM tile-part headers skipped; PPM/PPT packed packet
  headers decoded; POC progression-order changes honored for any
  number of volumes (B.12 first-containing-volume packet walk), in
  the main header or per tile-part (a tile POC overrides for that
  tile), as long as the volumes jointly cover every packet — a
  partial cover is a loud error; RGN maxshift ROI honored (Annex H: Mb grows by
  SPrgn, magnitudes >= 2^SPrgn scale back down) in main and tile
  headers;
- per-component bit depths 2-16 (mixed depths allowed outside the
  MCT trio: per-component level shift, R_b and clip range);
  codeblock-style flags 0x01 (selective arithmetic bypass — raw
  sig-prop/refinement from the 11th pass with terminated codeword
  segments), 0x02 (per-pass context reset), 0x04 (per-pass
  termination, one codeword segment per pass), 0x08 (vertically-causal
  contexts), 0x10 (predictable termination — accepted on decode: the
  flag only constrains HOW the encoder terminates segments, the
  arithmetic replay is unchanged and a decoder may but need not verify
  the pattern; our encoder emits its own exact termination, so 0x10
  streams it produces decode here without the Adobe-predictable bytes)
  and 0x20 (segmentation symbols) — all six defined flags;
- 1-4 components with 1-4x per-component subsampling, signed or
  unsigned samples (offset-binary mapped);
- NONZERO image/tile offsets (XOsiz/YOsiz/XTOsiz/YTOsiz, round 10):
  band layout, codeblock/precinct partitions and the position-order
  packet walks all work from absolute coordinate ranges (B.3-B.7,
  B.12.1.3-5), and odd origins flip the DWT interleave parity — the
  shape real-world crops and tiled scans carry; per-component
  precinct grids via COC (a component may carry its own PPx/PPy list
  or maximal precincts) interleave in the position walks;
- per-component DECOMPOSITION LEVELS via COC (A.6.2, round 10): a
  component contributes no packets at resolutions it lacks
  (B.12.1.1) and its band exponents move from the QCD to its QCC;
- raw codestreams (SOC..EOC) and JP2 containers (the ``jp2c`` box is
  located and the codestream decoded from it).

Since round 10 precincts compose with component subsampling (the
precinct grids live on each component's resolution grids, projected
to the reference grid through Rsiz for the B.12.1.3-5 position
walks), leaving NO targeted capability errors in the Part-1 read
surface. Mixed transforms/depths under the MCT still raise, but that
is a spec constraint rather than scope (A.6.1/G.2: the colour
transform is defined over three components of like depth and
transform).

Everything heavy is numpy: the lifting DWT runs whole-array slicing,
Tier-1 walks coefficients per codeblock (area bounded by the
A.6.1 xcb+ycb <= 12 limit; rectangular codeblocks supported)."""

from __future__ import annotations

import struct

import numpy as np

from .jbig2 import MQDecoder, MQEncoder

__all__ = ["Jp2kError", "decode_jp2k", "encode_jp2k"]


class Jp2kError(ValueError):
    """Raised for streams outside this codec's lossless-profile scope."""


# ---------------------------------------------------------------------------
# Reversible 5/3 DWT (T.800 Annex F) and reversible colour transform (G.2)
# ---------------------------------------------------------------------------


def _hi_neighbors(even: np.ndarray, ne: int, no: int):
    """even[i] and even[i+1] for each odd position i, with whole-sample
    symmetric extension x(n) = x(n-2): when n is even the final odd
    sample mirrors back onto the LAST even sample."""
    if ne > no:  # n odd: every odd sample has a real right even neighbor
        right = even[1:]
    else:  # n even: mirror the last even sample
        right = np.concatenate([even[1:], even[-1:]])
    return even[:no], right


def _lo_neighbors(high: np.ndarray, ne: int, no: int):
    """high[i-1] and high[i] for each even position i, with symmetric
    extension y(-1) = y(1) -> high[0] and y(n) = y(n-2) -> last high."""
    left = np.concatenate([high[:1], high[:-1]]) if ne <= no else \
        np.concatenate([high[:1], high])
    cur = high if no >= ne else np.concatenate([high, high[-1:]])
    return left[:ne], cur[:ne]


def _dwt53_1d_forward(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One lifting step along axis 0 (signal origin 0, so even indices
    feed the low band).  Returns (low, high) per T.800 F.4.8.1 with
    whole-sample symmetric extension."""
    n = x.shape[0]
    if n == 1:
        return x.astype(np.int64), x[:0].astype(np.int64)
    even = x[0::2].astype(np.int64)
    odd = x[1::2].astype(np.int64)
    ne, no = even.shape[0], odd.shape[0]
    el, er = _hi_neighbors(even, ne, no)
    high = odd - ((el + er) >> 1)
    hl, hc = _lo_neighbors(high, ne, no)
    low = even + ((hl + hc + 2) >> 2)
    return low, high


def _dwt53_1d_inverse(low: np.ndarray, high: np.ndarray) -> np.ndarray:
    ne, no = low.shape[0], high.shape[0]
    n = ne + no
    if n == 1:
        return low.astype(np.int64)
    low = low.astype(np.int64)
    high = high.astype(np.int64)
    hl, hc = _lo_neighbors(high, ne, no)
    even = low - ((hl + hc + 2) >> 2)
    el, er = _hi_neighbors(even, ne, no)
    odd = high + ((el + er) >> 1)
    out = np.empty((n,) + low.shape[1:], dtype=np.int64)
    out[0::2] = even
    out[1::2] = odd
    return out


def _pse_idx(k: int, n: int) -> int:
    """Periodic symmetric extension (F.3.5): map any integer position
    ``k`` (relative, may be negative) onto an index in [0, n) by
    whole-sample reflection with period 2(n-1)."""
    if n == 1:
        return 0
    t = k % (2 * (n - 1))
    return t if t < n else 2 * (n - 1) - t


def _dwt1d_forward(x: np.ndarray, p: int, rev: bool):
    """1D_SD with an arbitrary signal origin parity ``p`` = i0 mod 2
    (F.3.2: low coefficients live at EVEN absolute positions, so an
    odd origin starts the interleave on a high sample).  Implemented by
    PSE-extending the signal left by an odd count (3 for 5/3, 5 for
    9/7 — past the retained outputs' lifting reach) so the zero-origin
    vectorized transform applies, then dropping the extension outputs."""
    base = _dwt53_1d_forward if rev else _dwt97_1d_forward
    if p == 0:
        return base(x)
    n = x.shape[0]
    if n == 0:
        return base(x)
    if n == 1:
        # single sample at an odd position is one HIGH coefficient:
        # Y(i0) = 2 X(i0) for the reversible filter (F.3.7 region;
        # exact halving on the inverse), K-scaled for the 9/7
        if rev:
            return x[:0].astype(np.int64), 2 * x.astype(np.int64)
        return x[:0].astype(np.float64), x.astype(np.float64) * _K97
    e = 3 if rev else 5
    pre = x[[_pse_idx(-k, n) for k in range(e, 0, -1)]]
    low, high = base(np.concatenate([pre, x], axis=0))
    return low[(e + 1) // 2:], high[e // 2:]


def _dwt1d_inverse(low: np.ndarray, high: np.ndarray, p: int, rev: bool):
    """1D_SR for an arbitrary origin parity (see _dwt1d_forward): the
    interleaved coefficient array is PSE-extended left so the start
    parity becomes even, the zero-origin inverse runs, and the
    extension samples are dropped."""
    base = _dwt53_1d_inverse if rev else _dwt97_1d_inverse
    if p == 0:
        return base(low, high)
    ne, no = low.shape[0], high.shape[0]
    n = ne + no
    if n == 0:
        return base(low, high)
    if n == 1:
        if no == 1:  # lone high coefficient at the odd position
            return (high.astype(np.int64) >> 1) if rev else \
                high.astype(np.float64) * (1.0 / _K97)
        return base(low, high)
    e = 3 if rev else 5

    def y_at(t):  # interleaved coefficient at relative position t
        # origin odd: even t -> odd absolute position -> high band
        return high[t // 2] if (t & 1) == 0 else low[(t - 1) // 2]

    pre = [y_at(_pse_idx(-k, n)) for k in range(e, 0, -1)]
    ext_low = np.concatenate([np.stack(pre[0::2]), low], axis=0)
    ext_high = np.concatenate([np.stack(pre[1::2]), high], axis=0)
    return base(ext_low, ext_high)[e:]


def dwt53_forward_2d(a: np.ndarray,
                     origin: tuple = (0, 0)) -> tuple[np.ndarray, ...]:
    """One 2D level: returns (LL, HL, LH, HH).  HL = horizontally
    high-pass (vertical detail band in T.800 naming: band with the
    high-pass filter applied along x).  ``origin``: the signal's
    absolute (y0, x0) on the reference grid — only the parities matter
    (B.5: low bands collect the even absolute positions, so odd tile /
    image offsets flip which sample leads the interleave)."""
    v0, u0 = origin
    lo_r, hi_r = _dwt1d_forward(a.T, u0 & 1, True)  # along rows of a
    ll, lh = _dwt1d_forward(lo_r.T, v0 & 1, True)
    hl, hh = _dwt1d_forward(hi_r.T, v0 & 1, True)
    return ll, hl, lh, hh


def dwt53_inverse_2d(ll, hl, lh, hh, origin: tuple = (0, 0)) -> np.ndarray:
    v0, u0 = origin
    left = _dwt1d_inverse(ll, lh, v0 & 1, True)
    right = _dwt1d_inverse(hl, hh, v0 & 1, True)
    lo_r, hi_r = left.T, right.T
    return _dwt1d_inverse(lo_r, hi_r, u0 & 1, True).T


# --- irreversible 9/7 (T.800 F.4.8.2) ---------------------------------------
# Lifting constants (Table F.4); scaling: analysis multiplies the high
# band by K and the low band by 1/K — fixed by the filter's DC gains
# (the unscaled lifting low branch has DC gain exactly K = 1 + 2β(1+2α),
# and the published 9/7 analysis lowpass has DC gain 1).
_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _lift_odd(odd, even, ne, no, coef):
    el, er = _hi_neighbors(even, ne, no)
    return odd + coef * (el + er)


def _lift_even(even, odd, ne, no, coef):
    ol, oc = _lo_neighbors(odd, ne, no)
    return even + coef * (ol + oc)


def _dwt97_1d_forward(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = x.shape[0]
    if n == 1:
        return x.astype(np.float64), x[:0].astype(np.float64)
    even = x[0::2].astype(np.float64)
    odd = x[1::2].astype(np.float64)
    ne, no = even.shape[0], odd.shape[0]
    odd = _lift_odd(odd, even, ne, no, _A97)
    even = _lift_even(even, odd, ne, no, _B97)
    odd = _lift_odd(odd, even, ne, no, _G97)
    even = _lift_even(even, odd, ne, no, _D97)
    return even * (1.0 / _K97), odd * _K97


def _dwt97_1d_inverse(low: np.ndarray, high: np.ndarray) -> np.ndarray:
    ne, no = low.shape[0], high.shape[0]
    n = ne + no
    if n == 1:
        return low.astype(np.float64)
    even = low.astype(np.float64) * _K97
    odd = high.astype(np.float64) * (1.0 / _K97)
    even = _lift_even(even, odd, ne, no, -_D97)
    odd = _lift_odd(odd, even, ne, no, -_G97)
    even = _lift_even(even, odd, ne, no, -_B97)
    odd = _lift_odd(odd, even, ne, no, -_A97)
    out = np.empty((n,) + even.shape[1:], dtype=np.float64)
    out[0::2] = even
    out[1::2] = odd
    return out


def dwt97_forward_2d(a: np.ndarray,
                     origin: tuple = (0, 0)) -> tuple[np.ndarray, ...]:
    v0, u0 = origin
    lo_r, hi_r = _dwt1d_forward(a.T, u0 & 1, False)
    ll, lh = _dwt1d_forward(lo_r.T, v0 & 1, False)
    hl, hh = _dwt1d_forward(hi_r.T, v0 & 1, False)
    return ll, hl, lh, hh


def dwt97_inverse_2d(ll, hl, lh, hh, origin: tuple = (0, 0)) -> np.ndarray:
    v0, u0 = origin
    left = _dwt1d_inverse(ll, lh, v0 & 1, False)
    right = _dwt1d_inverse(hl, hh, v0 & 1, False)
    return _dwt1d_inverse(left.T, right.T, u0 & 1, False).T


def ict_forward(rgb: np.ndarray) -> np.ndarray:
    """Irreversible colour transform (T.800 G.3), float in/out."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def ict_inverse(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64)
    cr = ycc[..., 2].astype(np.float64)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def rct_forward(rgb: np.ndarray) -> np.ndarray:
    """Reversible colour transform (T.800 G.2), int in/out."""
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    y = (r + 2 * g + b) >> 2
    u = b - g
    v = r - g
    return np.stack([y, u, v], axis=-1)


def rct_inverse(yuv: np.ndarray) -> np.ndarray:
    y = yuv[..., 0].astype(np.int64)
    u = yuv[..., 1].astype(np.int64)
    v = yuv[..., 2].astype(np.int64)
    g = y - ((u + v) >> 2)
    r = v + g
    b = u + g
    return np.stack([r, g, b], axis=-1)


# ---------------------------------------------------------------------------
# Tag trees (T.800 B.10.2)
# ---------------------------------------------------------------------------


class TagTreeDecoder:
    """2D tag tree over an (h, w) leaf grid; values read threshold by
    threshold via single bits from the packet-header bit reader."""

    def __init__(self, h: int, w: int):
        self.levels = []
        while True:
            self.levels.append((h, w))
            if h == 1 and w == 1:
                break
            h = (h + 1) // 2
            w = (w + 1) // 2
        # per level: value lower bound and 'final' flag per node
        self.value = [np.zeros((lh, lw), dtype=np.int64)
                      for lh, lw in self.levels]
        self.known = [np.zeros((lh, lw), dtype=bool)
                      for lh, lw in self.levels]

    def decode(self, reader, y: int, x: int, threshold: int) -> bool:
        """Return True when leaf (y, x) value < threshold (i.e. the
        value is now fully known and below), False if value >= threshold
        so far.  Mirrors the standard's conditional walk from root."""
        # Walk root -> leaf
        path = []
        yy, xx = y, x
        for lvl in range(len(self.levels)):
            path.append((lvl, yy, xx))
            yy >>= 1
            xx >>= 1
        path.reverse()  # root first
        low = 0
        for lvl, yy, xx in path:
            val = self.value[lvl]
            kn = self.known[lvl]
            if val[yy, xx] < low:
                val[yy, xx] = low
            while not kn[yy, xx] and val[yy, xx] < threshold:
                if reader.read_bit():
                    kn[yy, xx] = True
                else:
                    val[yy, xx] += 1
            low = val[yy, xx]
            if not kn[yy, xx]:
                # value >= threshold, undetermined beyond it
                return False
        return self.value[0][y, x] < threshold

    def leaf_value(self, y: int, x: int) -> int:
        return int(self.value[0][y, x])


class TagTreeEncoder:
    """Encoder counterpart: leaves set up-front, bits emitted threshold
    by threshold mirroring the decoder walk."""

    def __init__(self, leaves: np.ndarray):
        h, w = leaves.shape
        self.levels = [leaves.astype(np.int64)]
        while h > 1 or w > 1:
            ph = (h + 1) // 2
            pw = (w + 1) // 2
            cur = self.levels[-1]
            nxt = np.full((ph, pw), np.iinfo(np.int64).max)
            for yy in range(h):
                for xx in range(w):
                    py, px = yy // 2, xx // 2
                    if cur[yy, xx] < nxt[py, px]:
                        nxt[py, px] = cur[yy, xx]
            self.levels.append(nxt)
            h, w = ph, pw
        # mutable decoder-mirror state
        self.state_val = [np.zeros_like(l) for l in self.levels]
        self.state_known = [np.zeros(l.shape, dtype=bool)
                            for l in self.levels]

    def encode(self, writer, y: int, x: int, threshold: int) -> None:
        path = []
        yy, xx = y, x
        for lvl in range(len(self.levels)):
            path.append((lvl, yy, xx))
            yy >>= 1
            xx >>= 1
        path.reverse()
        low = 0
        for lvl, yy, xx in path:
            true_val = self.levels[lvl][yy, xx]
            val = self.state_val[lvl]
            kn = self.state_known[lvl]
            if val[yy, xx] < low:
                val[yy, xx] = low
            while not kn[yy, xx] and val[yy, xx] < threshold:
                if val[yy, xx] == true_val:
                    writer.write_bit(1)
                    kn[yy, xx] = True
                else:
                    writer.write_bit(0)
                    val[yy, xx] += 1
            low = val[yy, xx]
            if not kn[yy, xx]:
                return


# ---------------------------------------------------------------------------
# Packet-header bit IO (T.800 B.10.1: bit stuffing after 0xFF)
# ---------------------------------------------------------------------------


class _PacketBitReader:
    __slots__ = ("data", "pos", "bitpos", "prev_ff")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.bitpos = 8  # bits consumed of current byte (8 = need fetch)
        self.prev_ff = False

    def read_bit(self) -> int:
        if self.bitpos == 8:
            if self.pos >= len(self.data):
                raise Jp2kError("packet header truncated")
            if self.prev_ff:
                # after 0xFF only 7 payload bits follow (msb is 0)
                self.bitpos = 1
            else:
                self.bitpos = 0
            self.prev_ff = self.data[self.pos] == 0xFF
            self.pos += 1
        b = (self.data[self.pos - 1] >> (7 - self.bitpos)) & 1
        self.bitpos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> int:
        """Finish the packet header: if the final byte was 0xFF a
        stuffed 0 byte follows.  Returns the byte offset of the body."""
        if self.bitpos != 8 and self.prev_ff:
            # partially-read 0xFF: the stuffing bit belongs to the next
            # byte, which must be consumed as the stuff byte
            self.pos += 1
        elif self.bitpos == 8 and self.prev_ff:
            self.pos += 1
        self.bitpos = 8
        self.prev_ff = False
        return self.pos


class _PacketBitWriter:
    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write_bit(self, b: int) -> None:
        if self.nbits == 0 and self.out and self.out[-1] == 0xFF:
            # stuff: after an 0xFF byte the next byte carries 7 bits
            self.cur = 0
            self.nbits = 1
        self.cur = (self.cur << 1) | (b & 1)
        self.nbits += 1
        if self.nbits == 8:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0

    def write_bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.write_bit((v >> i) & 1)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            # pad with zero bits (legal filler before the body)
            self.cur <<= pad
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)  # terminal stuff byte
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Tier-1: EBCOT codeblock bit-plane coder (T.800 Annex D)
# ---------------------------------------------------------------------------

# Zero-coding context from neighborhood significance counts (Table D.1).
# h = left+right significant count, v = top+bottom, d = diagonals.


def _zc_context(band: str, h: int, v: int, d: int) -> int:
    if band == "HL":  # horizontal/vertical roles swapped
        h, v = v, h
    if band != "HH":
        if h == 2:
            return 8
        if h == 1:
            if v >= 1:
                return 7
            return 6 if d >= 1 else 5
        if v == 2:
            return 4
        if v == 1:
            return 3
        if d >= 2:
            return 2
        return 1 if d == 1 else 0
    hv = h + v
    if d >= 3:
        return 8
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        if hv >= 2:
            return 5
        return 4 if hv == 1 else 3
    if hv >= 2:
        return 2
    return 1 if hv == 1 else 0


# Sign-coding context + XOR bit from clipped H/V contributions (Table D.2).
_SC_TABLE = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}

_CTX_RL = 17
_CTX_UNI = 18
_N_CTX = 19


def _fresh_contexts() -> list:
    """Initial MQ context states (Table D.7): ZC context 0 starts in
    state 4, run-length in 3, UNIFORM in 46, everything else 0."""
    ctx = [[0, 0] for _ in range(_N_CTX)]
    ctx[0] = [4, 0]
    ctx[_CTX_RL] = [3, 0]
    ctx[_CTX_UNI] = [46, 0]
    return ctx


class _CodeblockCoder:
    """One engine for both directions: the pass walk, context modelling
    and state updates are shared; only the bit transport differs.  In
    decode mode bits come from the MQ decoder and build mag/sgn; in
    encode mode the true mag/sgn are given and every decision bit is
    derived from them and fed to the MQ encoder — by construction the
    decoder replays the identical walk."""

    __slots__ = ("h", "w", "band", "mq", "encode", "tmag", "tsgn",
                 "sig", "visited", "refined", "mag", "sgn", "ctx",
                 "vsc", "segsym", "reset", "raw_mode")

    def __init__(self, h: int, w: int, band: str, mq=None,
                 true_mag=None, true_sgn=None, cb_style: int = 0):
        if cb_style & ~0x3F:
            raise Jp2kError(
                f"undefined codeblock style bits {cb_style:#x}"
            )
        self.vsc = bool(cb_style & 0x08)
        self.segsym = bool(cb_style & 0x20)
        self.reset = bool(cb_style & 0x02)
        self.raw_mode = False  # toggled per pass by the segment walk
        self.h = h
        self.w = w
        self.band = band
        self.mq = mq  # MQDecoder (decode mode) or MQEncoder (encode mode)
        self.encode = true_mag is not None
        self.tmag = true_mag
        self.tsgn = true_sgn
        self.sig = np.zeros((h, w), dtype=np.uint8)
        self.visited = np.zeros((h, w), dtype=np.uint8)
        self.refined = np.zeros((h, w), dtype=np.uint8)
        self.mag = np.zeros((h, w), dtype=np.int64)
        self.sgn = np.zeros((h, w), dtype=np.uint8)  # 1 = negative
        self.ctx = _fresh_contexts()

    # -- transport seam ---------------------------------------------------

    def _bit(self, ctx_idx: int, true_bit: int | None) -> int:
        if self.raw_mode:
            # bypass (lazy) mode: the bit travels uncoded — no context
            if self.encode:
                self.mq.put(true_bit)
                return true_bit
            return self.mq.get()
        if self.encode:
            self.mq.encode(self.ctx[ctx_idx], true_bit)
            return true_bit
        return self.mq.decode(self.ctx[ctx_idx])

    # -- neighborhood helpers ---------------------------------------------

    def _counts(self, y: int, x: int) -> tuple[int, int, int]:
        sig = self.sig
        h = self.h
        w = self.w
        # Vertically-causal mode (style 0x08): the row below a stripe
        # boundary is treated as insignificant for context formation.
        south = y + 1 < h and not (self.vsc and (y & 3) == 3)
        hh = 0
        if x > 0 and sig[y, x - 1]:
            hh += 1
        if x + 1 < w and sig[y, x + 1]:
            hh += 1
        vv = 0
        if y > 0 and sig[y - 1, x]:
            vv += 1
        if south and sig[y + 1, x]:
            vv += 1
        dd = 0
        if y > 0 and x > 0 and sig[y - 1, x - 1]:
            dd += 1
        if y > 0 and x + 1 < w and sig[y - 1, x + 1]:
            dd += 1
        if south and x > 0 and sig[y + 1, x - 1]:
            dd += 1
        if south and x + 1 < w and sig[y + 1, x + 1]:
            dd += 1
        return hh, vv, dd

    def _sign_contrib(self, y: int, x: int) -> int:
        if 0 <= y < self.h and 0 <= x < self.w and self.sig[y, x]:
            return -1 if self.sgn[y, x] else 1
        return 0

    def _code_sign(self, y: int, x: int) -> None:
        if self.raw_mode:
            # D.6: in a raw sig-prop pass the sign is the raw bit itself
            # (no neighborhood prediction, no XOR)
            true = int(self.tsgn[y, x]) if self.encode else None
            self.sgn[y, x] = self._bit(0, true)
            return
        hc = self._sign_contrib(y, x - 1) + self._sign_contrib(y, x + 1)
        south = 0 if (self.vsc and (y & 3) == 3) else \
            self._sign_contrib(y + 1, x)
        vc = self._sign_contrib(y - 1, x) + south
        hc = max(-1, min(1, hc))
        vc = max(-1, min(1, vc))
        ctx_idx, xor = _SC_TABLE[(hc, vc)]
        true = (int(self.tsgn[y, x]) ^ xor) if self.encode else None
        bit = self._bit(ctx_idx, true)
        self.sgn[y, x] = bit ^ xor

    def _make_significant(self, y: int, x: int, plane: int) -> None:
        self.sig[y, x] = 1
        self.mag[y, x] |= 1 << plane
        self._code_sign(y, x)

    # -- the three passes ---------------------------------------------------

    def sig_prop_pass(self, plane: int) -> None:
        h, w = self.h, self.w
        for y0 in range(0, h, 4):
            for x in range(w):
                for y in range(y0, min(y0 + 4, h)):
                    if self.sig[y, x]:
                        continue
                    hh, vv, dd = self._counts(y, x)
                    if hh + vv + dd == 0:
                        continue
                    true = ((int(self.tmag[y, x]) >> plane) & 1) \
                        if self.encode else None
                    bit = self._bit(_zc_context(self.band, hh, vv, dd), true)
                    if bit:
                        self._make_significant(y, x, plane)
                    self.visited[y, x] = 1

    def refine_pass(self, plane: int) -> None:
        h, w = self.h, self.w
        for y0 in range(0, h, 4):
            for x in range(w):
                for y in range(y0, min(y0 + 4, h)):
                    if not self.sig[y, x] or self.visited[y, x]:
                        continue
                    if self.refined[y, x]:
                        ctx_idx = 16
                    else:
                        hh, vv, dd = self._counts(y, x)
                        ctx_idx = 15 if hh + vv + dd else 14
                    true = ((int(self.tmag[y, x]) >> plane) & 1) \
                        if self.encode else None
                    bit = self._bit(ctx_idx, true)
                    self.mag[y, x] |= bit << plane
                    self.refined[y, x] = 1

    def cleanup_pass(self, plane: int) -> None:
        h, w = self.h, self.w
        for y0 in range(0, h, 4):
            strip_h = min(4, h - y0)
            for x in range(w):
                y = y0
                # run-length mode: full 4-high strip, all uncoded,
                # insignificant, with empty neighborhoods
                run_mode = strip_h == 4
                if run_mode:
                    for yy in range(y0, y0 + 4):
                        if self.sig[yy, x] or self.visited[yy, x]:
                            run_mode = False
                            break
                        hh, vv, dd = self._counts(yy, x)
                        if hh + vv + dd:
                            run_mode = False
                            break
                if run_mode:
                    if self.encode:
                        first = None
                        for i in range(4):
                            if (int(self.tmag[y0 + i, x]) >> plane) & 1:
                                first = i
                                break
                        any_sig = first is not None
                        self._bit(_CTX_RL, 1 if any_sig else 0)
                        if not any_sig:
                            self.visited[y0:y0 + 4, x] = 0
                            continue
                        self._bit(_CTX_UNI, (first >> 1) & 1)
                        self._bit(_CTX_UNI, first & 1)
                    else:
                        if not self._bit(_CTX_RL, None):
                            continue
                        first = (self._bit(_CTX_UNI, None) << 1) | \
                            self._bit(_CTX_UNI, None)
                    yy = y0 + first
                    self._make_significant(yy, x, plane)
                    y = yy + 1
                for yy in range(y, y0 + strip_h):
                    if self.sig[yy, x] or self.visited[yy, x]:
                        continue
                    hh, vv, dd = self._counts(yy, x)
                    true = ((int(self.tmag[yy, x]) >> plane) & 1) \
                        if self.encode else None
                    bit = self._bit(_zc_context(self.band, hh, vv, dd), true)
                    if bit:
                        self._make_significant(yy, x, plane)
        if self.segsym:
            # Style 0x20: four UNIFORM-context bits 1010 close every
            # cleanup pass (error-detection marker).
            got = 0
            for want in (1, 0, 1, 0):
                got = (got << 1) | self._bit(_CTX_UNI, want)
            if not self.encode and got != 0b1010:
                raise Jp2kError("segmentation symbol mismatch")
        self.visited[:] = 0

    def _do_pass(self, kind: int, plane: int) -> None:
        if kind == 0:
            self.sig_prop_pass(plane)
        elif kind == 1:
            self.refine_pass(plane)
        else:
            self.cleanup_pass(plane)
        if self.reset:  # style 0x02: fresh contexts every pass
            self.ctx = _fresh_contexts()

    def run_passes(self, max_plane: int, n_passes: int) -> None:
        """Execute the standard pass sequence: cleanup at max_plane,
        then (sig-prop, refine, cleanup) per lower plane."""
        for kind, plane, _raw, _term in _pass_plan(max_plane, n_passes, 0):
            self._do_pass(kind, plane)


def _pass_plan(max_plane: int, n_passes: int, cb_style: int) -> list:
    """The codeblock's global pass schedule with transport + termination
    annotations: [(kind, plane, raw, term_after)] where kind 0/1/2 =
    sig-prop/refine/cleanup. Selective bypass (style 0x01, T.800 D.6)
    sends sig-prop and refinement RAW from the 11th pass on (= planes
    max_plane-4 and below; the four most significant planes and every
    cleanup stay MQ). Terminations (codeword-segment boundaries): after
    every pass with 0x04 (termall); at every MQ<->raw transport switch
    with bypass alone; always after the final pass."""
    bypass = bool(cb_style & 0x01)
    termall = bool(cb_style & 0x04)
    plan = []
    plane = max_plane
    kind = 2  # 0 = sigprop, 1 = refine, 2 = cleanup
    for i in range(n_passes):
        raw = bypass and kind != 2 and i >= 10
        plan.append([kind, plane, raw, termall])
        if kind == 2:
            plane -= 1
            kind = 0
            if plane < 0 and i + 1 < n_passes:
                raise Jp2kError("too many coding passes for bit depth")
        else:
            kind += 1
    if bypass and not termall:
        for i in range(len(plan) - 1):
            plan[i][3] = plan[i][2] != plan[i + 1][2]
    if plan:
        plan[-1][3] = True
    return plan


def _segment_pass_counts(max_plane: int, n_passes: int,
                         cb_style: int) -> list:
    """Coding passes per terminated codeword segment."""
    counts = []
    cnt = 0
    for _kind, _plane, _raw, term in _pass_plan(max_plane, n_passes,
                                                cb_style):
        cnt += 1
        if term:
            counts.append(cnt)
            cnt = 0
    return counts


class _RawDecoder:
    """Raw (bypass) codeword-segment reader, T.800 D.6: bits MSB-first;
    after a 0xFF byte the next byte carries only 7 payload bits."""

    __slots__ = ("data", "pos", "cur", "ct", "prev_ff")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.cur = 0
        self.ct = 0
        self.prev_ff = False

    def get(self) -> int:
        if self.ct == 0:
            if self.pos >= len(self.data):
                self.cur = 0
                self.ct = 8  # past the segment: zero fill (never read
                # by a conforming walk — the encoder wrote every bit)
                self.prev_ff = False
            else:
                self.cur = self.data[self.pos]
                self.ct = 7 if self.prev_ff else 8
                self.prev_ff = self.cur == 0xFF
                self.pos += 1
        self.ct -= 1
        return (self.cur >> self.ct) & 1


class _RawEncoder:
    """Inverse of _RawDecoder (same stuffing rule; a terminal 0xFF gets
    a trailing stuff byte so no segment ends with 0xFF, B.10.6)."""

    __slots__ = ("out", "cur", "nbits", "limit")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0
        self.limit = 8

    def put(self, bit: int) -> None:
        self.cur = (self.cur << 1) | (bit & 1)
        self.nbits += 1
        if self.nbits == self.limit:
            self.out.append(self.cur)
            # a 7-bit byte tops out at 0x7F, so only full bytes stuff
            self.limit = 7 if self.cur == 0xFF else 8
            self.cur = 0
            self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur << (self.limit - self.nbits))
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)
        return bytes(self.out)


def encode_codeblock(coefs: np.ndarray, band: str,
                     cb_style: int = 0) -> tuple:
    """Entropy-encode one codeblock of signed integer coefficients.
    Returns (codewords, n_passes, max_plane): ``codewords`` is bytes
    (one MQ segment) for non-terminating styles, or a list of
    terminated-segment byte strings when bypass (0x01) / termall (0x04)
    is set. An all-zero block returns (b'' or [], 0, -1)."""
    terminated = bool(cb_style & 0x05)
    mag = np.abs(coefs).astype(np.int64)
    top = int(mag.max())
    if top == 0:
        return ([] if terminated else b""), 0, -1
    max_plane = top.bit_length() - 1
    sgn = (coefs < 0).astype(np.uint8)
    n_passes = 3 * (max_plane + 1) - 2
    if not terminated:
        mq = MQEncoder()
        coder = _CodeblockCoder(coefs.shape[0], coefs.shape[1], band, mq,
                                true_mag=mag, true_sgn=sgn,
                                cb_style=cb_style)
        coder.run_passes(max_plane, n_passes)
        return mq.flush(), n_passes, max_plane
    coder = _CodeblockCoder(coefs.shape[0], coefs.shape[1], band, None,
                            true_mag=mag, true_sgn=sgn, cb_style=cb_style)
    segs = []
    cur = None
    for kind, plane, raw, term in _pass_plan(max_plane, n_passes, cb_style):
        if cur is None:
            cur = _RawEncoder() if raw else MQEncoder()
            coder.mq = cur
            coder.raw_mode = raw
        coder._do_pass(kind, plane)
        if term:
            segs.append(cur.flush())
            cur = None
    return segs, n_passes, max_plane


def decode_codeblock(data, h: int, w: int, band: str,
                     max_plane: int, n_passes: int,
                     cb_style: int = 0) -> np.ndarray:
    """Inverse of encode_codeblock; returns signed int64 coefficients.
    ``data`` is bytes for non-terminating styles; with bypass/termall it
    is the list of terminated codeword segments (packet-header lengths
    delimit them on the wire)."""
    if n_passes == 0 or max_plane < 0:
        return np.zeros((h, w), dtype=np.int64)
    if not (cb_style & 0x05):
        if isinstance(data, list):
            data = b"".join(data)
        mq = MQDecoder(data + b"\xff\xac" if len(data) >= 2 else
                       data + b"\xff\xac\xff\xac")
        coder = _CodeblockCoder(h, w, band, mq, cb_style=cb_style)
        coder.run_passes(max_plane, n_passes)
    else:
        segs = [bytes(data)] if isinstance(data, (bytes, bytearray)) \
            else [bytes(s) for s in data]
        coder = _CodeblockCoder(h, w, band, None, cb_style=cb_style)
        si = 0
        cur = None
        for kind, plane, raw, term in _pass_plan(max_plane, n_passes,
                                                 cb_style):
            if cur is None:
                if si >= len(segs):
                    raise Jp2kError("missing codeword segment")
                seg = segs[si]
                si += 1
                cur = _RawDecoder(seg) if raw else \
                    MQDecoder(seg + b"\xff\xac")
                coder.mq = cur
                coder.raw_mode = raw
            coder._do_pass(kind, plane)
            if term:
                cur = None
    out = coder.mag.copy()
    out[coder.sgn == 1] *= -1
    return out


# ---------------------------------------------------------------------------
# Tier-2: packet headers (T.800 B.10) — single tile / layer / precinct
# ---------------------------------------------------------------------------


def _decode_n_passes(r: _PacketBitReader) -> int:
    if not r.read_bit():
        return 1
    if not r.read_bit():
        return 2
    v = r.read_bits(2)
    if v < 3:
        return 3 + v
    v = r.read_bits(5)
    if v < 31:
        return 6 + v
    return 37 + r.read_bits(7)


def _encode_n_passes(w: _PacketBitWriter, n: int) -> None:
    if n == 1:
        w.write_bit(0)
    elif n == 2:
        w.write_bits(0b10, 2)
    elif n <= 5:
        w.write_bits(0b11, 2)
        w.write_bits(n - 3, 2)
    elif n <= 36:
        w.write_bits(0b1111, 4)
        w.write_bits(n - 6, 5)
    elif n <= 164:
        w.write_bits(0b111111111, 9)
        w.write_bits(n - 37, 7)
    else:
        raise Jp2kError(f"cannot encode {n} coding passes")


class _BandState:
    """Per-subband per-tile persistent packet state."""

    __slots__ = ("nby", "nbx", "incl", "zbp", "lblock", "first")

    def __init__(self, nby: int, nbx: int, encoder_leaves=None):
        self.nby = nby
        self.nbx = nbx
        if encoder_leaves is None:
            self.incl = TagTreeDecoder(nby, nbx) if nby and nbx else None
            self.zbp = TagTreeDecoder(nby, nbx) if nby and nbx else None
        else:
            incl_leaves, zbp_leaves = encoder_leaves
            self.incl = TagTreeEncoder(incl_leaves) if nby and nbx else None
            self.zbp = TagTreeEncoder(zbp_leaves) if nby and nbx else None
        self.lblock = np.full((nby, nbx), 3, dtype=np.int64)
        self.first = np.ones((nby, nbx), dtype=bool)


def _precinct_geometry(res: int, pp) -> tuple[int, int, int, int]:
    """(cell_h_band, cell_w_band, ppy, ppx) for resolution ``res`` —
    precinct cells are defined on the RESOLUTION grid (B.6); at res>0 a
    band coordinate is half a resolution coordinate, so the band-space
    cell halves."""
    ppx, ppy = pp[res]
    if res == 0:
        return 1 << ppy, 1 << ppx, ppy, ppx
    return 1 << (ppy - 1), 1 << (ppx - 1), ppy, ppx


def _res_range(trange: tuple, levels: int, res: int) -> tuple:
    """Resolution-grid coordinate range at ``res`` from the
    tile-component's absolute range (B-14: ceil division both ends)."""
    y0, y1, x0, x1 = trange
    s = 1 << (levels - res)
    return -(-y0 // s), -(-y1 // s), -(-x0 // s), -(-x1 // s)


def _band_layout_r(y0: int, y1: int, x0: int, x1: int, levels: int):
    """Subband COORDINATE RANGES per resolution from the
    tile-component's absolute range (B-15): low bands collect the even
    absolute positions (ceil ranges), high bands the odd (floor).
    Returns [(res, [(band, (by0, by1, bx0, bx1))])]."""
    rng = [(y0, y1, x0, x1)]
    for _ in range(levels):
        a0, a1, b0, b1 = rng[-1]
        rng.append((-(-a0 // 2), -(-a1 // 2), -(-b0 // 2), -(-b1 // 2)))
    out = [(0, [("LL", rng[levels])])]
    for r in range(1, levels + 1):
        a0, a1, b0, b1 = rng[levels - r]  # parent level range
        ylo = (-(-a0 // 2), -(-a1 // 2))
        yhi = (a0 // 2, a1 // 2)
        xlo = (-(-b0 // 2), -(-b1 // 2))
        xhi = (b0 // 2, b1 // 2)
        out.append((r, [
            ("HL", (ylo[0], ylo[1], xhi[0], xhi[1])),
            ("LH", (yhi[0], yhi[1], xlo[0], xlo[1])),
            ("HH", (yhi[0], yhi[1], xhi[0], xhi[1])),
        ]))
    return out


def _tile_prec_info(trange: tuple, levels: int, pp,
                    rsiz: tuple = (1, 1)) -> list:
    """Per-resolution precinct grid of one tile-COMPONENT (``trange``
    is the component tile window, = the reference range when the
    component is not subsampled): (sy, sx, gy0, gx0, npy, npx, ay, ax)
    — sy/sx are one precinct projected onto the reference grid
    (Rsiz * 2^(PP+NL-r), the B.12.1.3-5 position-walk modulus),
    gy0/gx0 the grid origin INDICES on the resolution grid (B.6: the
    partition is anchored at (0,0), so a nonzero tile origin lands
    mid-cell and the edge precincts clip), npy/npx the counts, and
    ay/ax whether the first row/col's virtual reference-grid position
    is sy/sx-aligned (drives the position-walk inclusion at
    ty0/tx0)."""
    xr, yr = rsiz
    out = []
    for r in range(levels + 1):
        ry0, ry1, rx0, rx1 = _res_range(trange, levels, r)
        ppx, ppy = pp[r]
        gy0, gx0 = ry0 >> ppy, rx0 >> ppx
        npy = (-(-ry1 // (1 << ppy)) - gy0) if ry1 > ry0 else 0
        npx = (-(-rx1 // (1 << ppx)) - gx0) if rx1 > rx0 else 0
        out.append((yr << (ppy + levels - r), xr << (ppx + levels - r),
                    gy0, gx0, max(npy, 1), max(npx, 1),
                    ry0 % (1 << ppy) == 0, rx0 % (1 << ppx) == 0,
                    ppy, ppx))
    return out


def _band_cb_geometry_r(res: int, brange: tuple, cbs: tuple, pp) -> tuple:
    """Codeblock grid for one band from its absolute COORDINATE RANGE.
    The partition is anchored at (0,0) of the band grid (B.7), so with
    a nonzero band origin the FIRST row/column of blocks clips too.
    Returns (cb_h, cb_w, gy0, gx0, nby, nbx, brange) with gy0/gx0 the
    global grid indices of the first block."""
    by0, by1, bx0, bx1 = brange
    if pp is None:
        cb_h, cb_w = cbs
    else:
        cell_h, cell_w, _ppy, _ppx = _precinct_geometry(res, pp)
        cb_h = min(cbs[0], cell_h)
        cb_w = min(cbs[1], cell_w)
    gy0, gx0 = by0 // cb_h, bx0 // cb_w
    nby = (-(-by1 // cb_h) - gy0) if by1 > by0 else 0
    nbx = (-(-bx1 // cb_w) - gx0) if bx1 > bx0 else 0
    return cb_h, cb_w, gy0, gx0, nby, nbx, brange


def _cb_slice(geom: tuple, gy: int, gx: int) -> tuple:
    """Band-local array slice (y0, y1, x0, x1) of GLOBAL block (gy, gx)."""
    cb_h, cb_w, _gy0, _gx0, _nby, _nbx, (by0, by1, bx0, bx1) = geom
    y0 = max(gy * cb_h, by0)
    y1 = min((gy + 1) * cb_h, by1)
    x0 = max(gx * cb_w, bx0)
    x1 = min((gx + 1) * cb_w, bx1)
    return y0 - by0, y1 - by0, x0 - bx0, x1 - bx0


def _precinct_cb_range_r(res: int, pidx, geom: tuple, pg) -> tuple:
    """GLOBAL codeblock index window [gy0,gy1)x[gx0,gx1) of local
    precinct ``pidx`` = (py, px) under grid info ``pg`` (one
    _tile_prec_info entry). ``pidx`` None = whole-band precinct."""
    cb_h, cb_w, gy0, gx0, nby, nbx, (by0, by1, bx0, bx1) = geom
    if pidx is None:
        return gy0, gy0 + nby, gx0, gx0 + nbx
    py, px = pidx
    ppy, ppx = pg[8], pg[9]
    s = 0 if res == 0 else 1  # band grid halves the resolution grid
    wy0 = (pg[2] + py) << (ppy - s)
    wy1 = (pg[2] + py + 1) << (ppy - s)
    wx0 = (pg[3] + px) << (ppx - s)
    wx1 = (pg[3] + px + 1) << (ppx - s)
    a0, a1 = max(wy0, by0), min(wy1, by1)
    b0, b1 = max(wx0, bx0), min(wx1, bx1)
    if a1 <= a0 or b1 <= b0:
        return 0, 0, 0, 0
    # precinct cells are codeblock-size multiples and both partitions
    # anchor at 0, so the window edges land on block boundaries except
    # where the band range itself clips
    return a0 // cb_h, -(-a1 // cb_h), b0 // cb_w, -(-b1 // cb_w)


def _packet_order(progression: int, layers: int, nres: int, ncomp: int,
                  pinfo=None, res_start: int = 0, comp_start: int = 0,
                  tile_origin: tuple = (0, 0), comp_nres=None):
    """Packet sequence for the five Part-1 progression orders with one
    tile. ``pinfo``: PER-COMPONENT precinct grids — pinfo[c][r] is a
    _tile_prec_info entry — or None for whole-subband precincts (the
    position loop collapses, so PCRL == CPRL and RPCL's position loop
    is a no-op). Yields (layer, res, comp, precinct) where precinct is
    (py, px) or None. ``res_start``/``comp_start`` bound the sweep for
    POC volumes (B.12: RSpoc/CSpoc inclusive, the *E* fields are the
    exclusive ends already applied by the caller via nres/ncomp).
    Position orders (RPCL/PCRL/CPRL) over real precinct grids walk
    top-left REFERENCE-GRID positions (B.12.1.3-5): a precinct is
    taken at its aligned multiple, or at the tile edge ``tile_origin``
    when its virtual position is unaligned (nonzero tile origins and
    per-component grids both land here). ``comp_nres``: per-component
    resolution counts when a COC gives components their own
    decomposition levels (A.6.2) — a component contributes no packets
    at resolutions it does not have (B.12.1.1)."""
    ty0, tx0 = tile_origin
    if comp_nres is None:
        comp_nres = ([len(pc) for pc in pinfo] if pinfo is not None
                     else [nres] * ncomp)

    def precs(res, c):
        if pinfo is None:
            yield None
            return
        _sy, _sx, _gy, _gx, npy, npx = pinfo[c][res][:6]
        for py in range(npy):
            for px in range(npx):
                yield (py, px)

    multi = pinfo is not None and any(
        pg[4] * pg[5] > 1 for pc in pinfo for pg in pc)
    comps = range(comp_start, ncomp)
    rr = range(res_start, nres)

    def pos_candidates(axis):
        # clamped reference-grid start of every precinct row/col: the
        # aligned multiple, or the tile edge for an unaligned first
        # row/col (B.12.1.3-5: "or y == ty0 and try0*2^(NL-r) is not a
        # multiple")
        t0 = ty0 if axis == 0 else tx0
        vals = set()
        for c in comps:
            for r in rr:
                if r >= comp_nres[c]:
                    continue
                pg = pinfo[c][r]
                size, g0, np_, aligned = (pg[axis], pg[2 + axis],
                                          pg[4 + axis], pg[6 + axis])
                for k in range(np_):
                    vals.add(t0 if (k == 0 and not aligned)
                             else (g0 + k) * size)
        return sorted(vals)

    def match(v, axis, pg):
        """Local precinct index along one axis at position v, or None."""
        t0 = ty0 if axis == 0 else tx0
        size, g0, np_, aligned = (pg[axis], pg[2 + axis],
                                  pg[4 + axis], pg[6 + axis])
        if v == t0 and not aligned:
            k = 0
        elif v % size == 0:
            k = v // size - g0
            if k == 0 and not aligned:
                return None  # first row/col only fires at the tile edge
        else:
            return None
        return k if 0 <= k < np_ else None

    def at_pos(y, x, c):
        for r in rr:
            if r >= comp_nres[c]:
                continue
            pg = pinfo[c][r]
            py = match(y, 0, pg)
            px = match(x, 1, pg)
            if py is None or px is None:
                continue
            for layer in range(layers):
                yield layer, r, c, (py, px)

    if progression == 0:  # LRCP
        for layer in range(layers):
            for res in rr:
                for c in comps:
                    if res >= comp_nres[c]:
                        continue
                    for p in precs(res, c):
                        yield layer, res, c, p
    elif progression == 1:  # RLCP
        for res in rr:
            for layer in range(layers):
                for c in comps:
                    if res >= comp_nres[c]:
                        continue
                    for p in precs(res, c):
                        yield layer, res, c, p
    elif progression == 2:  # RPCL
        if not multi:
            for res in rr:
                for c in comps:
                    if res >= comp_nres[c]:
                        continue
                    for p in precs(res, c):
                        for layer in range(layers):
                            yield layer, res, c, p
            return
        # B.12.1.3: the position walk per resolution (equals raster
        # precinct order for a shared zero-origin grid, and is the
        # defining order for offset tiles / per-component grids)
        ys, xs = pos_candidates(0), pos_candidates(1)
        for res in rr:
            for y in ys:
                for x in xs:
                    for c in comps:
                        if res >= comp_nres[c]:
                            continue
                        pg = pinfo[c][res]
                        py = match(y, 0, pg)
                        px = match(x, 1, pg)
                        if py is None or px is None:
                            continue
                        for layer in range(layers):
                            yield layer, res, c, (py, px)
    elif progression in (3, 4):  # PCRL / CPRL
        if not multi:
            # whole-subband precincts: the position loop has a single
            # iteration, so both orders collapse to comp-major
            for c in comps:
                for res in rr:
                    if res >= comp_nres[c]:
                        continue
                    for layer in range(layers):
                        for p in precs(res, c):
                            yield layer, res, c, p
            return
        ys, xs = pos_candidates(0), pos_candidates(1)
        if progression == 3:  # PCRL
            for y in ys:
                for x in xs:
                    for c in comps:
                        yield from at_pos(y, x, c)
        else:  # CPRL
            for c in comps:
                for y in ys:
                    for x in xs:
                        yield from at_pos(y, x, c)
    else:
        raise Jp2kError(f"unknown progression order {progression}")


def _packet_order_poc(volumes: list, layers: int, nres: int, ncomp: int,
                      pinfo=None, tile_origin: tuple = (0, 0),
                      comp_nres=None):
    """B.12 progression-order changes: walk each volume's order over its
    (res, comp, layer) bounds in sequence, emitting each packet at its
    FIRST containing volume (later volumes skip already-emitted packets,
    the openjpeg/kakadu include-array behaviour). The caller checks that
    the union covers the full packet set — a stream whose POC volumes
    leave packets out would otherwise silently mis-walk the body."""
    seen: set = set()
    for rs, cs, lye, re_, ce, prog in volumes:
        for key in _packet_order(prog, min(lye, layers), min(re_, nres),
                                 min(ce, ncomp), pinfo,
                                 res_start=rs, comp_start=cs,
                                 tile_origin=tile_origin,
                                 comp_nres=comp_nres):
            if key in seen:
                continue
            seen.add(key)
            yield key


# ---------------------------------------------------------------------------
# Codestream structure
# ---------------------------------------------------------------------------

_SOC = 0xFF4F
_SIZ = 0xFF51
_COD = 0xFF52
_COC = 0xFF53
_QCD = 0xFF5C
_QCC = 0xFF5D
_COM = 0xFF64
_POC = 0xFF5F
_PPM = 0xFF60
_PPT = 0xFF61
_PLM = 0xFF57
_PLT = 0xFF58
_RGN = 0xFF5E
_CRG = 0xFF63
_TLM = 0xFF55
_SOT = 0xFF90
_SOD = 0xFF93
_EOC = 0xFFD9

_BAND_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}

# hard ceiling on total canvas allocation (float64 per component)
MAX_CANVAS_BYTES = 1 << 30


def _band_layout(h: int, w: int, levels: int):
    """Subband dims per resolution.  Returns [(res, [(band, bh, bw)])]
    for res 0..levels, plus the per-level LL chain dims."""
    dims = [(h, w)]
    for _ in range(levels):
        ph, pw = dims[-1]
        dims.append((-(-ph // 2), -(-pw // 2)))
    out = []
    ll_h, ll_w = dims[levels]
    out.append((0, [("LL", ll_h, ll_w)]))
    for r in range(1, levels + 1):
        # resolution r adds the detail bands of decomposition level
        # levels - r + 1, whose parent has dims[levels - r]
        ph, pw = dims[levels - r]
        lh_h = ph // 2          # rows of vertical high-pass
        ll_hh = -(-ph // 2)     # rows of vertical low-pass
        hl_w = pw // 2
        ll_ww = -(-pw // 2)
        out.append((r, [
            ("HL", ll_hh, hl_w),
            ("LH", lh_h, ll_ww),
            ("HH", lh_h, hl_w),
        ]))
    return out


def _parse_boxes(data: bytes) -> bytes:
    """Extract the codestream from a JP2 container (jp2c box)."""
    pos = 0
    while pos + 8 <= len(data):
        (lbox,) = struct.unpack(">I", data[pos:pos + 4])
        tbox = data[pos + 4:pos + 8]
        if lbox == 1:
            if pos + 16 > len(data):
                break
            (xlbox,) = struct.unpack(">Q", data[pos + 8:pos + 16])
            body = data[pos + 16:pos + xlbox]
            nxt = pos + xlbox
        elif lbox == 0:
            body = data[pos + 8:]
            nxt = len(data)
        else:
            body = data[pos + 8:pos + lbox]
            nxt = pos + lbox
        if tbox == b"jp2c":
            return body
        if nxt <= pos:
            break
        pos = nxt
    raise Jp2kError("no jp2c codestream box in JP2 container")


def decode_jp2k(data: bytes) -> tuple[np.ndarray, dict]:
    """Decode a lossless-profile JPEG 2000 codestream (raw or JP2
    container).  Returns ((h, w, ncomp) uint8/uint16 pixels, info)."""
    try:
        return _decode_jp2k(data)
    except Jp2kError:
        raise
    except (IndexError, ValueError, OverflowError, struct.error) as exc:
        raise Jp2kError(f"malformed JPEG 2000 stream: {exc}") from exc


def _decode_jp2k(data: bytes) -> tuple[np.ndarray, dict]:
    if data[:4] == b"\x00\x00\x00\x0c" and data[4:8] == b"jP  ":
        data = _parse_boxes(data)
    if len(data) < 4 or struct.unpack(">H", data[:2])[0] != _SOC:
        raise Jp2kError("missing SOC marker")
    pos = 2
    siz = None
    cod = None
    qcd = None
    coc_segs: list[bytes] = []
    qcc_segs: list[bytes] = []
    ppm_segs: list[bytes] = []
    poc_seg: bytes | None = None
    rgn_segs: list[bytes] = []
    while pos + 4 <= len(data):
        (marker,) = struct.unpack(">H", data[pos:pos + 2])
        if marker == _SOT:
            break
        (seg_len,) = struct.unpack(">H", data[pos + 2:pos + 4])
        seg = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == _SIZ:
            siz = seg
        elif marker == _COD:
            cod = seg
        elif marker == _QCD:
            qcd = seg
        elif marker == _COC:
            coc_segs.append(seg)
        elif marker == _QCC:
            qcc_segs.append(seg)
        elif marker == _PPM:
            ppm_segs.append(seg)
        elif marker == _POC:
            poc_seg = seg
        elif marker == _RGN:
            rgn_segs.append(seg)
        # COM / TLM / PLM / CRG and other informational segments: skipped
    if siz is None or cod is None or qcd is None:
        raise Jp2kError("missing SIZ/COD/QCD markers")

    # SIZ
    xsiz, ysiz, xo, yo, xt, yt, xto, yto, ncomp = struct.unpack(
        ">IIIIIIIIH", siz[2:36]
    )
    # A.5.1: the tile grid anchor may not exceed the image origin, the
    # origin must lie inside the canvas, and the first tile must
    # contain the image origin
    if not (xto <= xo < xsiz and yto <= yo < ysiz):
        raise Jp2kError("invalid SIZ image/tile offsets")
    if xt <= 0 or yt <= 0:
        raise Jp2kError("invalid tile size")
    if xt + xto <= xo or yt + yto <= yo:
        raise Jp2kError("first tile does not contain the image origin")
    if (xsiz - xo) * (ysiz - yo) > (1 << 28):
        # decompression-bomb guard (same spirit as MAX_BITMAP_BYTES):
        # a mutated SIZ must not drive a multi-GiB canvas allocation
        raise Jp2kError("image dimensions out of supported range")
    if not 1 <= ncomp <= 4:
        raise Jp2kError(f"unsupported component count {ncomp}")
    # canvases are float64 per component, so bound the actual allocation
    # (ncomp * pixels * 8 bytes), not just the pixel count — a 4-comp
    # SIZ at the bare pixel cap would otherwise reserve ~8 GiB
    if ncomp * (xsiz - xo) * (ysiz - yo) * 8 > MAX_CANVAS_BYTES:
        raise Jp2kError("image dimensions out of supported range")
    comp_depths: list[int] = []
    comp_rs: list[tuple[int, int]] = []
    for c in range(ncomp):
        ssiz, xr, yr = siz[36 + 3 * c:39 + 3 * c]
        # ssiz bit 7 = signed samples: accepted — under the offset-binary
        # display mapping a signed plane's reconstruction is bit-identical
        # to the unsigned G.1 level shift, so no branch is needed
        d = (ssiz & 0x7F) + 1
        if not 2 <= d <= 16:
            raise Jp2kError(f"unsupported sample depth {d}")
        comp_depths.append(d)
        if not (1 <= xr <= 4 and 1 <= yr <= 4):
            raise Jp2kError(f"unsupported component sampling {xr}x{yr}")
        comp_rs.append((xr, yr))
    # mixed depths are fine per component (per-comp level shift, R_b and
    # clip range); the output array carries the widest component's dtype
    depth = max(comp_depths)

    def _parse_rgn(seg: bytes) -> tuple[int, int]:
        """(component, SPrgn) from an RGN body (A.6.3); only the
        maxshift method (Srgn=0) exists in Part 1."""
        if ncomp < 257:
            if len(seg) < 3:
                raise Jp2kError("malformed RGN segment")
            crgn, srgn, sprgn = seg[0], seg[1], seg[2]
        else:
            if len(seg) < 4:
                raise Jp2kError("malformed RGN segment")
            (crgn,) = struct.unpack(">H", seg[0:2])
            srgn, sprgn = seg[2], seg[3]
        if srgn != 0:
            raise Jp2kError(f"unknown ROI style {srgn}")
        if crgn >= ncomp:
            raise Jp2kError("RGN component out of range")
        if sprgn > 37:
            raise Jp2kError("ROI shift out of range")
        return crgn, sprgn

    comp_roi: dict[int, int] = {}
    for seg in rgn_segs:
        crgn, sprgn = _parse_rgn(seg)
        comp_roi[crgn] = sprgn
    # decoded image region = [YOsiz, Ysiz) x [XOsiz, Xsiz) (B.3)
    h, w = ysiz - yo, xsiz - xo

    # COD
    scod = cod[0]
    use_sop = bool(scod & 0x02)  # SOP marker segments MAY precede packets
    use_eph = bool(scod & 0x04)  # EPH marker follows every packet header
    progression, layers = cod[1], struct.unpack(">H", cod[2:4])[0]
    mct = cod[4]
    if not 1 <= layers <= 65535:
        raise Jp2kError("invalid layer count")
    if progression > 4:
        raise Jp2kError(f"unknown progression order {progression}")
    levels = cod[5]
    cb_w_exp = (cod[6] & 0x0F) + 2
    cb_h_exp = (cod[7] & 0x0F) + 2
    if cb_w_exp + cb_h_exp > 12:
        raise Jp2kError("codeblock area exceeds the A.6.1 limit")
    cb_style = cod[8]
    if cb_style & ~0x3F:
        raise Jp2kError(
            f"undefined codeblock style bits {cb_style:#x}"
        )

    def _parse_precincts(body: bytes, off: int, nlv: int | None = None):
        """Per-resolution (PPx, PPy) exponents (B.6 / Table A.21)."""
        nlv = levels if nlv is None else nlv
        pb = body[off:off + nlv + 1]
        if len(pb) < nlv + 1:
            raise Jp2kError("precinct size list too short")
        out = []
        for r, b in enumerate(pb):
            ppx, ppy = b & 0x0F, b >> 4
            if r > 0 and (ppx < 1 or ppy < 1):
                raise Jp2kError("precinct exponent must be >= 1 above "
                                "resolution 0")
            out.append((ppx, ppy))
        return out

    precinct_pp = _parse_precincts(cod, 10) if scod & 0x01 else None

    def _parse_poc_volumes(seg: bytes) -> list:
        # POC (A.6.6 / B.12): any number of progression volumes; the
        # packet walk follows the volume sequence, first containing
        # volume wins per packet. The volumes must jointly cover every
        # packet (checked per tile) — a partial cover would silently
        # desynchronize the body walk.
        entry = 7 if ncomp <= 256 else 9
        if len(seg) < entry or len(seg) % entry:
            raise Jp2kError("malformed POC segment")
        vols = []
        for off in range(0, len(seg), entry):
            v = seg[off:off + entry]
            if ncomp <= 256:
                rs, cs = v[0], v[1]
                (lye,) = struct.unpack(">H", v[2:4])
                re_, ce, pprog = v[4], v[5], v[6]
            else:
                rs = v[0]
                (cs,) = struct.unpack(">H", v[1:3])
                (lye,) = struct.unpack(">H", v[3:5])
                re_ = v[5]
                (ce,) = struct.unpack(">H", v[6:8])
                pprog = v[8]
            if pprog > 4:
                raise Jp2kError(f"unknown progression order {pprog}")
            if rs >= re_ or cs >= ce or lye == 0:
                raise Jp2kError("empty POC progression volume")
            vols.append((rs, cs, lye, re_, ce, pprog))
        return vols

    poc_volumes: list | None = (
        _parse_poc_volumes(poc_seg) if poc_seg is not None else None)
    if cod[9] not in (0, 1):
        raise Jp2kError(f"unknown wavelet transform {cod[9]}")
    reversible = cod[9] == 1
    cbs = (1 << cb_h_exp, 1 << cb_w_exp)

    def _parse_quant(qbytes: bytes, lv: int) -> tuple:
        """(qstyle, guard, exps, mus) from a QCD/QCC parameter body for
        a component with ``lv`` decomposition levels: style 0 = no
        quantization, 1 = scalar derived, 2 = scalar expounded (T.800
        A.6.4/A.6.5, E.1)."""
        sq = qbytes[0]
        qs = sq & 0x1F
        gd = sq >> 5
        n_bands_total = 3 * lv + 1
        if qs == 0:
            es = [b >> 3 for b in qbytes[1:]]
            ms = [0] * len(es)
            if len(es) < n_bands_total:
                raise Jp2kError("quantization exponent list too short")
        elif qs in (1, 2):
            vals = [struct.unpack(">H", qbytes[1 + 2 * i:3 + 2 * i])[0]
                    for i in range((len(qbytes) - 1) // 2)]
            if qs == 1:
                # derived: one (eps0, mu0); band at decomposition level
                # n_b uses eps_b = eps0 - NL + n_b (E.1.1), same mantissa
                if not vals:
                    raise Jp2kError("derived quantization value missing")
                eps0, mu0 = vals[0] >> 11, vals[0] & 0x7FF
                es, ms = [eps0], [mu0]
                for r in range(1, lv + 1):
                    nb = lv - r + 1  # decomposition level of bands
                    for _ in range(3):
                        es.append(max(0, eps0 - lv + nb))
                        ms.append(mu0)
            else:
                if len(vals) < n_bands_total:
                    raise Jp2kError("quantization step-size list too short")
                es = [v >> 11 for v in vals]
                ms = [v & 0x7FF for v in vals]
        else:
            raise Jp2kError(f"unknown quantization style {qs}")
        return qs, gd, es, ms

    # per-component config: COD/QCD defaults, COC/QCC overrides
    # (A.6.2/A.6.5; main-header only)
    comp_cfg = {c: (cbs, cb_style, reversible) for c in range(ncomp)}
    # per-component decomposition levels (A.6.2): a COC replaces every
    # coding parameter for its component, including the number of
    # decomposition levels — packet walks skip resolutions a component
    # does not have (B.12.1.1)
    comp_levels = {c: levels for c in range(ncomp)}
    # per-component precinct grids (A.6.2): a COC may carry its own
    # PPx/PPy list, or drop the Scoc precinct flag to mean MAXIMAL
    # precincts even when the COD grid is explicit — the packet
    # position walks handle differing per-component grids directly
    comp_pp = {c: precinct_pp for c in range(ncomp)}
    for seg in coc_segs:
        if len(seg) < 7:
            raise Jp2kError("COC segment too short")
        ci = seg[0]
        if ci >= ncomp:
            raise Jp2kError("COC component index out of range")
        if seg[2] > 32:
            raise Jp2kError("decomposition levels out of range")
        comp_levels[ci] = seg[2]
        if seg[1] & 0x01:
            comp_pp[ci] = _parse_precincts(seg, 7, seg[2])
        else:
            comp_pp[ci] = None  # maximal precincts
        cw = (seg[3] & 0x0F) + 2
        ch = (seg[4] & 0x0F) + 2
        if cw + ch > 12:
            raise Jp2kError("codeblock area exceeds the A.6.1 limit")
        cst = seg[5]
        if cst & ~0x3F:
            raise Jp2kError(f"undefined codeblock style bits {cst:#x}")
        if seg[6] not in (0, 1):
            raise Jp2kError(f"unknown wavelet transform {seg[6]}")
        comp_cfg[ci] = ((1 << ch, 1 << cw), cst, seg[6] == 1)
    any_pp = any(v is not None for v in comp_pp.values())
    qcc_by_comp: dict[int, bytes] = {}
    for seg in qcc_segs:
        if len(seg) < 2:
            raise Jp2kError("QCC segment too short")
        ci = seg[0]
        if ci >= ncomp:
            raise Jp2kError("QCC component index out of range")
        qcc_by_comp[ci] = seg[1:]
    # a component with its own levels needs its own QCC unless the
    # QCD happens to carry enough values — parse QCD per component so
    # the band count follows that component's decomposition
    comp_quant = {
        c: _parse_quant(qcc_by_comp[c] if c in qcc_by_comp else qcd,
                        comp_levels[c])
        for c in range(ncomp)
    }
    for c in range(ncomp):
        rev_c = comp_cfg[c][2]
        qs_c = comp_quant[c][0]
        if rev_c and qs_c != 0:
            raise Jp2kError("quantized 5/3 streams not supported")
        if not rev_c and qs_c == 0:
            raise Jp2kError("9/7 streams require scalar quantization")
    if mct and ncomp >= 3 and len(
            {comp_cfg[c][2] for c in range(3)}) != 1:
        raise Jp2kError("MCT requires one transform across components")
    if mct and ncomp >= 3 and len(set(comp_depths[:3])) != 1:
        # the colour transform mixes the three planes — a per-plane
        # level shift/clip would no longer commute with it
        raise Jp2kError("MCT requires equal depths across components")

    # Band step/Mb tables, keyed per component (QCC can override);
    # QCD/QCC band order is LL then per-res HL/LH/HH — dims-independent,
    # so enumerate once from the full-image layout.
    band_mb = {}
    band_delta = {}
    for c in range(ncomp):
        _qs, gd, es, ms = comp_quant[c]
        rev_c = comp_cfg[c][2]
        exp_idx = 0
        for res, bands in _band_layout(h, w, comp_levels[c]):
            for band, _bh, _bw in bands:
                band_mb[(c, res, band)] = gd + es[exp_idx] - 1
                if not rev_c:
                    # Δ_b = 2^(R_b - ε_b)(1 + μ_b/2^11), R_b = depth+gain
                    rb = comp_depths[c] + _BAND_GAIN[band]
                    band_delta[(c, res, band)] = (
                        2.0 ** (rb - es[exp_idx])
                        * (1.0 + ms[exp_idx] / 2048.0)
                    )
                exp_idx += 1

    # Tiles: XTsiz/YTsiz grid anchored at (XTOsiz, YTOsiz), raster
    # order (SOT Isot indexes the grid; Psot spans SOT..end of part)
    ntx = -(-(xsiz - xto) // xt)
    nty = -(-(ysiz - yto) // yt)

    # per-component image region on the component grid (B.3)
    comp_org = [(-(-yo // yr), -(-xo // xr)) for xr, yr in comp_rs]
    comp_dims = [(-(-ysiz // yr) - comp_org[c][0],
                  -(-xsiz // xr) - comp_org[c][1])
                 for c, (xr, yr) in enumerate(comp_rs)]
    canvases = [
        np.zeros(comp_dims[c],
                 dtype=np.float64 if not comp_cfg[c][2] else np.int64)
        for c in range(ncomp)
    ]
    any_irrev = any(not comp_cfg[c][2] for c in range(ncomp))

    def _decode_tile(tile_idx: int, data: bytes,
                     packed: bytes | None = None,
                     roi: dict | None = None,
                     poc_override: list | None = None) -> None:
        """``packed``: PPM/PPT packed packet headers — header bits then
        come from this buffer (byte-aligned per packet, EPH inside it)
        while the tile body carries only SOP markers and bodies.
        ``roi``: {component: SPrgn} maxshift shifts (H.1.2) — Mb grows
        by the shift and decoded magnitudes >= 2^shift scale down."""
        roi = roi or {}
        body_start = 0
        body_end = len(data)

        def _skip_eph(buf: bytes, pos: int) -> int:
            if use_eph:
                if buf[pos:pos + 2] != b"\xff\x92":
                    raise Jp2kError(
                        "missing EPH marker after packet header")
                pos += 2
            return pos

        ty, tx = divmod(tile_idx, ntx)
        # absolute tile range on the reference grid (B.3: the grid is
        # anchored at (XTOsiz, YTOsiz) and tiles clip to the image)
        ty0 = max(yto + ty * yt, yo)
        ty1 = min(yto + (ty + 1) * yt, ysiz)
        tx0 = max(xto + tx * xt, xo)
        tx1 = min(xto + (tx + 1) * xt, xsiz)
        if ty1 <= ty0 or tx1 <= tx0:
            raise Jp2kError("tile index outside the image grid")
        # component tile windows (B.3: component coords = ceil(x/Rsiz))
        cwin = []
        for c in range(ncomp):
            xr, yr = comp_rs[c]
            cwin.append((-(-ty0 // yr), -(-ty1 // yr),
                         -(-tx0 // xr), -(-tx1 // xr)))
        layouts = [_band_layout_r(*cwin[c], comp_levels[c])
                   for c in range(ncomp)]
        comp_bands = {c: {} for c in range(ncomp)}
        # precinct grids live on each COMPONENT's resolution grids
        # (B.6), projected back to the reference grid through Rsiz for
        # the position walks; a COC may give a component its own grid
        # (maximal when Scoc bit 0 is unset — represented as the
        # degenerate (15,15) grid)
        pinfo = ([_tile_prec_info(
                      cwin[c], comp_levels[c],
                      comp_pp[c] or [(15, 15)] * (comp_levels[c] + 1),
                      rsiz=comp_rs[c])
                  for c in range(ncomp)]
                 if any_pp else None)
        comp_nres = [comp_levels[c] + 1 for c in range(ncomp)]
        max_nres = max(comp_nres)
        geoms = {}
        states = {}
        for c in range(ncomp):
            for res, bands in layouts[c]:
                for band, brange in bands:
                    geom = _band_cb_geometry_r(res, brange,
                                               comp_cfg[c][0],
                                               comp_pp[c])
                    geoms[(c, res, band)] = geom
                    for p in ([None] if pinfo is None else
                              [(py, px)
                               for py in range(pinfo[c][res][4])
                               for px in range(pinfo[c][res][5])]):
                        gya0, gya1, gxa0, gxa1 = _precinct_cb_range_r(
                            res, p, geom,
                            pinfo[c][res] if pinfo else None)
                        states[(c, res, band, p)] = _BandState(
                            max(gya1 - gya0, 0), max(gxa1 - gxa0, 0))
                    comp_bands[c][(res, band)] = np.zeros(
                        (brange[1] - brange[0], brange[3] - brange[2]),
                        dtype=np.int64)

        bands_by_res = [dict(layouts[c]) for c in range(ncomp)]
        cb_acc = {}  # (c,res,band,by,bx) -> [max_plane, n_passes, groups]
        use_packed = packed is not None
        body_walk = body_start  # packed mode: body cursor (SOP + bodies)
        reader = _PacketBitReader(packed if use_packed else data,
                                  0 if use_packed else body_start)
        tile_vols = poc_override if poc_override is not None \
            else poc_volumes
        if tile_vols is not None:
            order = list(_packet_order_poc(tile_vols, layers,
                                           max_nres, ncomp, pinfo,
                                           tile_origin=(ty0, tx0),
                                           comp_nres=comp_nres))
            full = layers * (
                sum(pg[4] * pg[5] for pc in pinfo for pg in pc)
                if pinfo else sum(comp_nres))
            if len(order) != full:
                raise Jp2kError(
                    "POC volumes do not cover the full packet set")
        else:
            order = _packet_order(progression, layers, max_nres,
                                  ncomp, pinfo, tile_origin=(ty0, tx0),
                                  comp_nres=comp_nres)
        for layer, res, c, prec in order:
            bands = bands_by_res[c][res]
            if use_sop:
                # SOP marker segment: marker(2)+Lsop(2)+Nsop(2) —
                # optional per packet even when the flag is set (A.8.1);
                # it lives in the BODY stream either way
                if use_packed:
                    if data[body_walk:body_walk + 2] == b"\xff\x91":
                        body_walk += 6
                elif data[reader.pos:reader.pos + 2] == b"\xff\x91":
                    reader = _PacketBitReader(data, reader.pos + 6)
            # --- packet header ---
            todo = []  # (key, n_passes, length)
            if not reader.read_bit():
                if use_packed:
                    hp = _skip_eph(packed, reader.align())
                    reader = _PacketBitReader(packed, hp)
                else:
                    body_pos = _skip_eph(data, reader.align())
                    reader = _PacketBitReader(data, body_pos)
                continue  # empty packet
            cb_style_c = comp_cfg[c][1]
            for band, _brange in bands:
                st = states[(c, res, band, prec)]
                if st.incl is None:
                    continue
                geom = geoms[(c, res, band)]
                by0, _y1, bx0, _x1 = _precinct_cb_range_r(
                    res, prec, geom, pinfo[c][res] if pinfo else None)
                mb = band_mb[(c, res, band)] + roi.get(c, 0)
                for by in range(st.nby):
                    for bx in range(st.nbx):
                        key = (c, res, band, by0 + by, bx0 + bx)
                        if st.first[by, bx]:
                            if not st.incl.decode(reader, by, bx,
                                                  layer + 1):
                                continue
                            st.first[by, bx] = False
                            t = 1
                            while not st.zbp.decode(reader, by, bx, t):
                                t += 1
                            missing = st.zbp.leaf_value(by, bx)
                            max_plane = mb - 1 - missing
                            if max_plane < 0:
                                raise Jp2kError(
                                    "missing bitplanes exceed Mb")
                            cb_acc[key] = [max_plane, 0, []]
                        elif not reader.read_bit():
                            continue  # included before, silent layer
                        n_passes = _decode_n_passes(reader)
                        while reader.read_bit():
                            st.lblock[by, bx] += 1
                        # Terminating styles (bypass/termall): one
                        # length per codeword-segment part, split at
                        # the termination pattern (B.10.7.2); a
                        # packet's final part closes at the boundary.
                        acc = cb_acc[key]
                        if cb_style_c & 0x05:
                            plan = _pass_plan(acc[0], acc[1] + n_passes,
                                              cb_style_c)
                            gcounts = []
                            cnt = 0
                            for i in range(acc[1], acc[1] + n_passes):
                                cnt += 1
                                if plan[i][3]:
                                    gcounts.append(cnt)
                                    cnt = 0
                            if cnt:
                                gcounts.append(cnt)
                        else:
                            gcounts = [n_passes]
                        for gnp in gcounts:
                            nbits = int(st.lblock[by, bx]) + (
                                gnp.bit_length() - 1
                            )
                            length = reader.read_bits(nbits)
                            todo.append((key, gnp, length))
            if use_packed:
                hp = _skip_eph(packed, reader.align())
                body_pos = body_walk
            else:
                body_pos = _skip_eph(data, reader.align())
            # --- packet bodies ---
            for key, n_passes, length in todo:
                seg = data[body_pos:body_pos + length]
                if len(seg) < length:
                    raise Jp2kError("packet body truncated")
                body_pos += length
                acc = cb_acc[key]
                acc[1] += n_passes
                acc[2].append((n_passes, seg))
            if use_packed:
                body_walk = body_pos
                reader = _PacketBitReader(packed, hp)
            else:
                reader = _PacketBitReader(data, body_pos)
            if body_pos > body_end:
                raise Jp2kError("tile body overrun")

        for (c, res, band, by, bx), (max_plane, n_passes, groups) in \
                cb_acc.items():
            _cbs_c, cb_style_c, _rev = comp_cfg[c]
            y0, y1, x0, x1 = _cb_slice(geoms[(c, res, band)], by, bx)
            cb_h, cb_w = y1 - y0, x1 - x0
            if cb_style_c & 0x05:
                # merge per-packet parts into terminated segments
                plan = _pass_plan(max_plane, n_passes, cb_style_c)
                codewords = []
                buf = b""
                idx = 0
                for gnp, gbytes in groups:
                    buf += gbytes
                    idx += gnp
                    if plan[idx - 1][3]:
                        codewords.append(buf)
                        buf = b""
                if buf:
                    codewords.append(buf)
            else:
                codewords = b"".join(g for _, g in groups)
            coefs = decode_codeblock(codewords, cb_h, cb_w, band,
                                     max_plane, n_passes, cb_style_c)
            comp_bands[c][(res, band)][y0:y0 + cb_h, x0:x0 + cb_w] = coefs

        # H.1.2 maxshift un-scaling: magnitudes at or above 2^shift are
        # ROI coefficients the encoder scaled up — bring them back down;
        # everything below the threshold is background, untouched
        for c, s in roi.items():
            if not s:
                continue
            thr = 1 << s
            for key, q in comp_bands[c].items():
                mag = np.abs(q)
                comp_bands[c][key] = np.where(
                    mag >= thr, np.sign(q) * (mag >> s), q)

        # Inverse DWT per component, into the tile's canvas window.
        # Each reconstruction step targets the LEVEL (comp levels - r)
        # signal, whose absolute origin parities drive the interleave
        # (B.5: low bands hold the even absolute positions).
        for c in range(ncomp):
            lv_c = comp_levels[c]

            def lvl_origin(r):
                s = 1 << (lv_c - r)
                return (-(-cwin[c][0] // s), -(-cwin[c][2] // s))

            if comp_cfg[c][2]:
                cur = comp_bands[c][(0, "LL")]
                for r in range(1, lv_c + 1):
                    cur = dwt53_inverse_2d(
                        cur,
                        comp_bands[c][(r, "HL")],
                        comp_bands[c][(r, "LH")],
                        comp_bands[c][(r, "HH")],
                        origin=lvl_origin(r),
                    )
            else:
                # E.1.1 dequantization, mid-point reconstruction
                def deq(key):
                    q = comp_bands[c][(key[1], key[2])]
                    mag = np.abs(q).astype(np.float64)
                    out = np.where(
                        mag > 0, (mag + 0.5) * band_delta[key], 0.0)
                    return np.copysign(out, q)

                cur = deq((c, 0, "LL"))
                for r in range(1, lv_c + 1):
                    cur = dwt97_inverse_2d(
                        cur, deq((c, r, "HL")), deq((c, r, "LH")),
                        deq((c, r, "HH")), origin=lvl_origin(r))
            y0c, y1c, x0c, x1c = cwin[c]
            oyc, oxc = comp_org[c]
            canvases[c][y0c - oyc:y1c - oyc,
                        x0c - oxc:x1c - oxc] = cur

    # PPM (A.7.4): packed packet headers in the main header — Zppm
    # orders the segments; the concatenation is a sequence of
    # (Nppm u32, packed headers for ONE tile-part) consumed in
    # tile-part encounter order.
    ppm_chunks: list[bytes] = []
    if ppm_segs:
        blob = b"".join(seg[1:] for seg in
                        sorted(ppm_segs, key=lambda g: g[0]))
        bp = 0
        while bp + 4 <= len(blob):
            (nppm,) = struct.unpack(">I", blob[bp:bp + 4])
            bp += 4
            if bp + nppm > len(blob):
                raise Jp2kError("PPM chunk overruns the segment pile")
            ppm_chunks.append(blob[bp:bp + nppm])
            bp += nppm

    # Walk tile-parts: a tile's packet stream may be SPLIT across
    # several parts (TPsot sequences them; packets continue byte-wise
    # across the boundary), so bodies are assembled per tile and each
    # tile decodes once the whole codestream is walked.
    tile_parts: dict[int, list[bytes]] = {}
    tile_packed: dict[int, list[bytes]] = {}
    tile_rgn: dict[int, dict[int, int]] = {}
    tile_poc: dict[int, list] = {}
    while pos + 4 <= len(data):
        (marker,) = struct.unpack(">H", data[pos:pos + 2])
        if marker == _EOC:
            break
        if marker != _SOT:
            raise Jp2kError("expected SOT marker")
        lsot, isot, psot, tpsot, tnsot = struct.unpack(
            ">HHIBB", data[pos + 2:pos + 12])
        if isot >= ntx * nty:
            raise Jp2kError("invalid tile index")
        parts = tile_parts.setdefault(isot, [])
        if tpsot != len(parts):
            raise Jp2kError("tile-part out of sequence")
        # tile-part header: skip informational segments (PLT/COM),
        # collect PPT packed headers, refuse semantics-changers
        hdr_pos = pos + 2 + lsot
        ppt_segs: list[bytes] = []
        while True:
            (marker,) = struct.unpack(">H", data[hdr_pos:hdr_pos + 2])
            if marker == _SOD:
                break
            if marker in (_PLT, _COM, _PPT, _RGN, _POC):
                (slen,) = struct.unpack(">H", data[hdr_pos + 2:hdr_pos + 4])
                if marker == _PPT:
                    ppt_segs.append(data[hdr_pos + 4:hdr_pos + 2 + slen])
                elif marker == _RGN:
                    crgn, sprgn = _parse_rgn(
                        data[hdr_pos + 4:hdr_pos + 2 + slen])
                    tile_rgn.setdefault(isot, {})[crgn] = sprgn
                elif marker == _POC:
                    # A.6.6: a tile-part POC overrides the main-header
                    # POC (and the COD progression) for this tile
                    tile_poc[isot] = _parse_poc_volumes(
                        data[hdr_pos + 4:hdr_pos + 2 + slen])
                hdr_pos += 2 + slen
                continue
            raise Jp2kError(
                f"unsupported tile-part header marker {marker:#x}")
        if ppt_segs:
            tile_packed.setdefault(isot, []).append(
                b"".join(seg[1:] for seg in
                         sorted(ppt_segs, key=lambda g: g[0])))
        elif ppm_segs:
            # PPM is active: every tile-part without PPT must consume a
            # chunk — running out means the stream lies about Nppm and
            # the tile-part would silently mis-decode as in-body headers
            if not ppm_chunks:
                raise Jp2kError("PPM chunk list exhausted")
            tile_packed.setdefault(isot, []).append(ppm_chunks.pop(0))
        body_start = hdr_pos + 2
        body_end = pos + psot if psot else len(data) - 2
        parts.append(data[body_start:body_end])
        pos = body_end
    if len(tile_parts) != ntx * nty:
        raise Jp2kError("codestream is missing tiles")
    for isot in sorted(tile_parts):
        packed = b"".join(tile_packed.get(isot, [])) or None
        _decode_tile(isot, b"".join(tile_parts[isot]), packed,
                     roi={**comp_roi, **tile_rgn.get(isot, {})},
                     poc_override=tile_poc.get(isot))

    planes = []
    for c in range(ncomp):
        xr, yr = comp_rs[c]
        cv = canvases[c]
        if (xr, yr) == (1, 1):
            planes.append(cv)
        else:
            # sample replication back to the image grid (nearest);
            # image row i sits at reference row YOsiz + i
            ridx = np.clip((yo + np.arange(h)) // yr - comp_org[c][0],
                           0, cv.shape[0] - 1)
            cidx = np.clip((xo + np.arange(w)) // xr - comp_org[c][1],
                           0, cv.shape[1] - 1)
            planes.append(cv[ridx][:, cidx])
    img = np.stack(planes, axis=-1)
    if mct and ncomp >= 3:
        inv = rct_inverse if comp_cfg[0][2] else ict_inverse
        rgb = inv(img[..., :3])
        img = np.concatenate([rgb] + (
            [img[..., 3:]] if ncomp > 3 else []
        ), axis=-1)
    # G.1 DC level shift applies to UNSIGNED components only; signed
    # planes decode as-is and are offset-binary-mapped into the unsigned
    # output range (the standard display normalization — the wire values
    # are the same bits either way)
    img = img + np.array([1 << (d - 1) for d in comp_depths])
    if any_irrev:
        img = np.rint(img)
    img = np.clip(img, 0, np.array([(1 << d) - 1 for d in comp_depths]))
    dtype = np.uint8 if depth <= 8 else np.uint16
    info = {"width": w, "height": h, "components": ncomp,
            "depth": depth, "depths": list(comp_depths),
            "levels": levels, "mct": bool(mct),
            "comp_levels": [comp_levels[c] for c in range(ncomp)],
            "reversible": not any_irrev, "tiles": (nty, ntx),
            "offsets": (yo, xo, yto, xto)}
    return img.astype(dtype), info


# ---------------------------------------------------------------------------
# Encoder (fixture generation; exact mirror of the decoder's structure)
# ---------------------------------------------------------------------------


def encode_jp2k(pixels: np.ndarray, levels: int = 2, cb_exp: int = 6,
                mct: bool = True, jp2_container: bool = False,
                layers: int = 1, progression: int = 0,
                cb_style: int = 0, reversible: bool = True,
                qstep: float = 0.5, sop: bool = False,
                eph: bool = False,
                qcc_steps: dict | None = None,
                coc_styles: dict | None = None,
                tile_size: tuple | None = None,
                precincts=None,
                comp_subsampling: dict | None = None,
                packed_headers: str | None = None,
                comp_depths: dict | None = None,
                poc: list | None = None,
                roi: list | None = None,
                image_offset: tuple = (0, 0),
                tile_offset: tuple = (0, 0),
                coc_precincts: dict | None = None,
                coc_levels: dict | None = None) -> bytes:
    """Encode (h, w[, c]) uint8/uint16 samples as a Part-1 codestream
    (single tile; 5/3 reversible + RCT by default; ``cb_exp`` may be
    one exponent or an (ycb, xcb) pair for rectangular codeblocks).  With
    ``layers > 1`` each codeblock's coding passes are split across
    quality layers (inclusion layers staggered per block to exercise
    the tag trees); ``progression`` selects the packet order (0=LRCP,
    1=RLCP, 2=RPCL, 3=PCRL, 4=CPRL).  ``jp2_container=True`` wraps the
    codestream in a minimal JP2 box set (signature, ftyp, jp2h, jp2c).
    ``reversible=False`` emits the IRREVERSIBLE path (9/7 wavelet, ICT,
    scalar-expounded quantization at absolute step ``qstep`` in sample
    units — reconstruction error is bounded by ~qstep/2 per
    coefficient). ``qcc_steps``: per-component step overrides emitted
    as QCC segments (lossy only); ``coc_styles``: per-component
    codeblock-style overrides emitted as COC segments. ``tile_size``:
    (height, width) of the SIZ tile grid — every tile becomes its own
    tile-part with an independent wavelet decomposition.
    ``precincts``: per-resolution (PPx, PPy) exponent pairs (or one pair
    for all resolutions) — packets then carry one precinct each and
    codeblocks clip to the precinct cells. ``comp_subsampling``:
    {component: (XRsiz, YRsiz)} — the component is decimated to its own
    sample grid after the colour transform (decode replicates back), the
    4:2:0-style shape scanner YCC streams use. ``packed_headers``:
    'ppt' or 'ppm' — packet headers move out of the tile bodies into
    PPT tile-part segments or a main-header PPM segment (A.7.4/A.7.5).
    ``comp_depths``: {component: bit depth 2-16} Ssiz overrides (samples
    must already fit the declared range; MCT requires its three planes
    to share one depth). ``poc``: progression-order-change volumes
    [(RSpoc, CSpoc, LYEpoc, REpoc, CEpoc, Ppoc), ...] emitted as an
    A.6.6 POC segment; packets follow the volume sequence, each packet
    emitted by the first volume containing it, and the volumes must
    jointly cover every packet. ``roi``: component indices whose bands'
    upper-left quadrant becomes a maxshift ROI (Annex H): those
    coefficients scale up by an auto-computed shift covering the
    background magnitudes, emitted as an RGN segment per component.
    ``image_offset``: (YOsiz, XOsiz) — the pixels array covers the
    image region [YOsiz, Ysiz) x [XOsiz, Xsiz) of the reference grid
    (B.3; odd offsets flip the DWT interleave parity and clip the
    anchored codeblock/precinct partitions). ``tile_offset``:
    (YTOsiz, XTOsiz) tile-grid anchor, <= the image offset, with the
    first tile containing the image origin (A.5.1).
    ``coc_precincts``: {component: precinct spec | None} — the
    component gets its OWN precinct grid in its COC (None = maximal
    precincts, Scoc bit 0 unset); the position-order packet walks
    interleave the differing grids by reference-grid position.
    ``coc_levels``: {component: decomposition levels} — the component
    gets its OWN wavelet depth in its COC (A.6.2); it then contributes
    no packets at resolutions it lacks (B.12.1.1), and its band
    exponents move from the QCD to a per-component QCC."""
    pix = np.asarray(pixels)
    if pix.ndim == 2:
        pix = pix[..., None]
    h, w, nc = pix.shape
    yo, xo = int(image_offset[0]), int(image_offset[1])
    yto, xto = int(tile_offset[0]), int(tile_offset[1])
    if not (0 <= yto <= yo and 0 <= xto <= xo):
        raise Jp2kError("tile offset must not exceed the image offset")
    ysiz, xsiz = yo + h, xo + w
    if pix.dtype == np.uint8:
        depth = 8
    elif pix.dtype == np.uint16:
        depth = 16
    else:
        raise Jp2kError("encoder expects uint8 or uint16 samples")
    if not 1 <= nc <= 4:
        raise Jp2kError("1-4 components supported")
    cb_he, cb_we = (cb_exp if isinstance(cb_exp, tuple)
                    else (cb_exp, cb_exp))
    if not (2 <= cb_he <= 10 and 2 <= cb_we <= 10 and cb_he + cb_we <= 12):
        raise Jp2kError("codeblock exponent out of range")
    max_levels = max(0, (min(h, w) - 1).bit_length() - 1) if min(h, w) > 1 else 0
    levels = max(0, min(levels, max_levels, 32))
    coc_levels = {int(c): int(v) for c, v in (coc_levels or {}).items()}
    for c, v in coc_levels.items():
        if not 0 <= c < nc:
            raise Jp2kError("coc_levels component out of range")
        if not 0 <= v <= 32:
            raise Jp2kError("decomposition levels out of range")
    coc_levels = {c: max(0, min(v, max_levels))
                  for c, v in coc_levels.items()}
    comp_lv = {c: coc_levels.get(c, levels) for c in range(nc)}
    max_nres_e = max(comp_lv.values()) + 1
    if not 1 <= layers <= 255:
        raise Jp2kError("invalid layer count")
    if progression > 4:
        raise Jp2kError(f"unknown progression order {progression}")
    comp_subsampling = dict(comp_subsampling or {})
    comp_rs = [tuple(comp_subsampling.get(c, (1, 1))) for c in range(nc)]
    for xr, yr in comp_rs:
        if not (1 <= xr <= 4 and 1 <= yr <= 4):
            raise Jp2kError(f"unsupported component sampling {xr}x{yr}")
    def _norm_pp(spec, nlv=None):
        if spec is None:
            return None
        nlv = levels if nlv is None else nlv
        if isinstance(spec, tuple) and len(spec) == 2 and \
                all(isinstance(v, int) for v in spec):
            spec = [spec] * (nlv + 1)
        spec = [tuple(pp) for pp in spec]
        if len(spec) != nlv + 1:
            raise Jp2kError("precincts must cover every resolution")
        for r, (ppx, ppy) in enumerate(spec):
            if not (0 <= ppx <= 15 and 0 <= ppy <= 15):
                raise Jp2kError("precinct exponent out of range")
            if r > 0 and (ppx < 1 or ppy < 1):
                raise Jp2kError("precinct exponent must be >= 1 above "
                                "resolution 0")
        return spec

    precincts = _norm_pp(precincts)
    coc_precincts = {int(c): v for c, v in (coc_precincts or {}).items()}
    for c in coc_precincts:
        if not 0 <= c < nc:
            raise Jp2kError("coc_precincts component out of range")
    coc_precincts = {c: _norm_pp(v, comp_lv[c])
                     for c, v in coc_precincts.items()}
    for c in coc_levels:
        if precincts is not None and c not in coc_precincts and \
                comp_lv[c] != levels:
            raise Jp2kError(
                "a component with its own levels needs its own "
                "coc_precincts entry when the COD grid is explicit")
    comp_pp_e = {c: coc_precincts.get(c, precincts) for c in range(nc)}
    if cb_style & ~0x3F:
        raise Jp2kError(f"undefined codeblock style bits {cb_style:#x}")
    use_mct = bool(mct and nc >= 3)
    depths = [int((comp_depths or {}).get(c, depth)) for c in range(nc)]
    for c, d in enumerate(depths):
        if not 2 <= d <= 16:
            raise Jp2kError(f"unsupported sample depth {d}")
        if int(pix[..., c].max(initial=0)) >= (1 << d):
            raise Jp2kError(
                f"component {c} samples exceed declared depth {d}")
    if use_mct and len(set(depths[:3])) != 1:
        raise Jp2kError("MCT requires equal depths across components")
    cbs = (1 << cb_he, 1 << cb_we)
    guard = 2

    shifts = np.array([1 << (d - 1) for d in depths])
    if reversible:
        img = pix.astype(np.int64) - shifts
        if use_mct:
            img = np.concatenate(
                [rct_forward(img[..., :3])] +
                ([img[..., 3:]] if nc > 3 else []), axis=-1,
            )
    else:
        if not qstep > 0:
            raise Jp2kError("qstep must be positive")
        img = pix.astype(np.float64) - shifts
        if use_mct:
            img = np.concatenate(
                [ict_forward(img[..., :3])] +
                ([img[..., 3:]] if nc > 3 else []), axis=-1,
            )

    if tile_size is None:
        tile_h, tile_w = ysiz - yto, xsiz - xto
    else:
        tile_h, tile_w = int(tile_size[0]), int(tile_size[1])
        if tile_h <= 0 or tile_w <= 0:
            raise Jp2kError("invalid tile size")
        if tile_h + yto <= yo or tile_w + xto <= xo:
            raise Jp2kError(
                "first tile does not contain the image origin")
    nty = -(-(ysiz - yto) // tile_h)
    ntx = -(-(xsiz - xto) // tile_w)
    tile_ranges = [
        (max(yto + ty * tile_h, yo), min(yto + (ty + 1) * tile_h, ysiz),
         max(xto + tx * tile_w, xo), min(xto + (tx + 1) * tile_w, xsiz))
        for ty in range(nty) for tx in range(ntx)
    ]
    layout = _band_layout(h, w, levels)  # band-key enumeration only
    comp_layout = {c: (layout if comp_lv[c] == levels else
                       _band_layout(h, w, comp_lv[c]))
                   for c in range(nc)}
    fwd = dwt53_forward_2d if reversible else dwt97_forward_2d

    # Decimate each component to its own sample grid AFTER the colour
    # transform (decode replicates back); plane shapes then differ.
    # Component sample k lives at reference coordinate k*Rsiz, and the
    # component region starts at ceil(Osiz / Rsiz) (B.3).
    comp_org_e = [(-(-yo // yr), -(-xo // xr)) for xr, yr in comp_rs]
    if (yo, xo) == (0, 0):
        comp_planes = [img[..., c][::comp_rs[c][1], ::comp_rs[c][0]]
                       for c in range(nc)]
    else:
        comp_planes = []
        for c in range(nc):
            xr, yr = comp_rs[c]
            rows = np.minimum(
                np.arange(comp_org_e[c][0], -(-ysiz // yr)) * yr - yo,
                h - 1)
            cols = np.minimum(
                np.arange(comp_org_e[c][1], -(-xsiz // xr)) * xr - xo,
                w - 1)
            comp_planes.append(img[rows][:, cols][..., c])

    # per-tile wavelet decomposition (tile ranges clip at the image
    # edge; component tile windows follow B.3 ceil(x / Rsiz))
    tile_bands = []
    tile_layouts = []  # per tile: list of per-component layouts
    for ta, tb, tc_, td in tile_ranges:
        lay_c = []
        comp_bands = {c: {} for c in range(nc)}
        for c in range(nc):
            xr, yr = comp_rs[c]
            y0c, y1c = -(-ta // yr), -(-tb // yr)
            x0c, x1c = -(-tc_ // xr), -(-td // xr)
            cur = comp_planes[c][y0c - comp_org_e[c][0]:
                                 y1c - comp_org_e[c][0],
                                 x0c - comp_org_e[c][1]:
                                 x1c - comp_org_e[c][1]]
            lv_c = comp_lv[c]
            lay_c.append(_band_layout_r(y0c, y1c, x0c, x1c, lv_c))
            lvl = (y0c, x0c)
            for r in range(lv_c, 0, -1):
                ll, hl, lh, hh = fwd(cur, origin=lvl)
                comp_bands[c][(r, "HL")] = hl
                comp_bands[c][(r, "LH")] = lh
                comp_bands[c][(r, "HH")] = hh
                cur = ll
                lvl = (-(-lvl[0] // 2), -(-lvl[1] // 2))
            comp_bands[c][(0, "LL")] = cur
        tile_layouts.append(lay_c)
        tile_bands.append(comp_bands)

    band_eps_mu = {}
    qcc_steps = dict(qcc_steps or {})
    coc_styles = dict(coc_styles or {})
    comp_style = {c: coc_styles.get(c, cb_style) for c in range(nc)}
    for cst in comp_style.values():
        if cst & ~0x3F:
            raise Jp2kError(f"undefined codeblock style bits {cst:#x}")
    if not reversible:
        # scalar-expounded quantization: encode each step as (eps, mu)
        # per band (the DECODER's delta is the authoritative dequant
        # step, so quantize with the value the wire actually carries);
        # keys are per-component so QCC overrides can differ
        import math

        def eps_mu(step, rb):
            e = math.floor(math.log2(step))
            mu = round((step / (2.0 ** e) - 1.0) * 2048)
            if mu == 2048:
                e += 1
                mu = 0
            eps = rb - e
            if not 0 <= eps <= 31:
                raise Jp2kError("qstep out of encodable range")
            return eps, mu, 2.0 ** (rb - eps) * (1.0 + mu / 2048.0)

        for c in range(nc):
            step_c = qcc_steps.get(c, qstep)
            if not step_c > 0:
                raise Jp2kError("qstep must be positive")
            for res, bands in comp_layout[c]:
                for band, _bh, _bw in bands:
                    rb = depths[c] + _BAND_GAIN[band]
                    eps, mu, delta = eps_mu(step_c, rb)
                    band_eps_mu[(c, res, band)] = (eps, mu, delta)
                    for comp_bands in tile_bands:
                        x = comp_bands[c][(res, band)]
                        q = np.floor(np.abs(x) / delta).astype(np.int64)
                        comp_bands[c][(res, band)] = np.where(
                            x < 0, -q, q)
    elif qcc_steps:
        raise Jp2kError("qcc_steps require reversible=False")

    # Mb / guard from the GLOBAL dynamic range (one QCD/QCC set serves
    # every tile); components with their own decomposition levels move
    # their band exponents to a per-component QCC, everything else
    # shares the QCD values. band_mb is keyed (c, res, band) with the
    # value the wire actually signals for that component.
    qcc_set = ({c for c in range(nc) if comp_lv[c] != levels}
               | (set(qcc_steps) if not reversible else set()))
    band_mb = {}
    qcd_mb = {}  # (res, band) -> shared QCD Mb (reversible)
    if reversible:
        for res, bands in layout:
            for band, _bh, _bw in bands:
                top = 0
                for comp_bands in tile_bands:
                    for c in range(nc):
                        if c in qcc_set:
                            continue
                        arr = comp_bands[c][(res, band)]
                        amax = int(np.abs(arr).max()) if arr.size else 0
                        top = max(top, amax)
                qcd_mb[(res, band)] = max(1, top.bit_length())
        for c in range(nc):
            if c not in qcc_set:
                for res, bands in layout:
                    for band, _bh, _bw in bands:
                        band_mb[(c, res, band)] = qcd_mb[(res, band)]
            else:
                for res, bands in comp_layout[c]:
                    for band, _bh, _bw in bands:
                        top = 0
                        for comp_bands in tile_bands:
                            arr = comp_bands[c][(res, band)]
                            if arr.size:
                                top = max(top, int(np.abs(arr).max()))
                        band_mb[(c, res, band)] = max(
                            1, top.bit_length())
    else:
        for c in range(nc):
            for res, bands in comp_layout[c]:
                for band, _bh, _bw in bands:
                    eps = band_eps_mu[(c, res, band)][0]
                    for comp_bands in tile_bands:
                        arr = comp_bands[c][(res, band)]
                        amax = int(np.abs(arr).max()) if arr.size else 0
                        need = max(1, amax.bit_length())
                        guard = max(guard, need + 1 - eps)
        if guard > 7:
            raise Jp2kError("quantized magnitudes exceed guard-bit range")
        for key, (eps, _mu, _d) in band_eps_mu.items():
            band_mb[key] = guard + eps - 1

    # Annex H maxshift ROI: QCD/QCC keep the UNSHIFTED dynamic range
    # (computed above); each ROI component's upper-left band quadrant
    # scales up by a shift covering the background magnitudes, and the
    # codeblock Mb grows by the shift (mirrors the decoder's H.1.2).
    roi_shifts: dict[int, int] = {}
    for c in roi or ():
        if not 0 <= int(c) < nc:
            raise Jp2kError("ROI component out of range")
        c = int(c)
        bg_max = 0
        for comp_bands in tile_bands:
            for arr in comp_bands[c].values():
                if arr.size == 0:
                    continue
                bh2, bw2 = arr.shape[0] // 2, arr.shape[1] // 2
                mask = np.zeros(arr.shape, dtype=bool)
                mask[:bh2, :bw2] = True
                bg = np.abs(arr)[~mask]
                if bg.size:
                    bg_max = max(bg_max, int(bg.max()))
        s = max(1, bg_max.bit_length())
        if s > 37:
            raise Jp2kError("ROI shift out of range")
        roi_shifts[c] = s
        for comp_bands in tile_bands:
            for key in comp_bands[c]:
                arr = comp_bands[c][key]
                if arr.size == 0:
                    continue
                bh2, bw2 = arr.shape[0] // 2, arr.shape[1] // 2
                sub = arr[:bh2, :bw2]
                arr[:bh2, :bw2] = np.sign(sub) * (np.abs(sub) << s)

    def _tile_body(tidx: int, nsop0: int) -> tuple[bytes, int]:
        """Entropy-code one tile and assemble its packet body."""
        tlayouts = tile_layouts[tidx]
        comp_bands = tile_bands[tidx]

        trange = tile_ranges[tidx]
        cwin_e = [(-(-trange[0] // yr), -(-trange[1] // yr),
                   -(-trange[2] // xr), -(-trange[3] // xr))
                  for xr, yr in comp_rs]
        pinfo = ([_tile_prec_info(
                      cwin_e[c], comp_lv[c],
                      comp_pp_e[c] or [(15, 15)] * (comp_lv[c] + 1),
                      rsiz=comp_rs[c])
                  for c in range(nc)]
                 if any(v is not None for v in comp_pp_e.values())
                 else None)
        comp_nres_e = [comp_lv[c] + 1 for c in range(nc)]
        geoms = {}
        encoded = {}
        for c in range(nc):
            for res, bands in tlayouts[c]:
                for band, brange in bands:
                    geom = _band_cb_geometry_r(res, brange, cbs,
                                               comp_pp_e[c])
                    geoms[(c, res, band)] = geom
                    _ch, _cw, gy0, gx0, nby, nbx, _br = geom
                    for by in range(gy0, gy0 + nby):
                        for bx in range(gx0, gx0 + nbx):
                            y0, y1, x0, x1 = _cb_slice(geom, by, bx)
                            block = comp_bands[c][(res, band)][
                                y0:y1, x0:x1]
                            encoded[(c, res, band, by, bx)] = \
                                encode_codeblock(
                                    np.asarray(block), band,
                                    comp_style[c])

        # Split passes/codewords across layers: inclusion staggered per
        # block; one-codeword blocks split bytes proportional to
        # passes, terminated styles split at whole segments.
        chunks = {}
        for key, (data_, n_passes, max_plane) in encoded.items():
            per_layer = [[] for _ in range(layers)]
            if n_passes:
                c, res, band, by, bx = key
                il = (by + bx) % layers
                slots = layers - il
                if isinstance(data_, list):
                    seg_counts = _segment_pass_counts(
                        max_plane, n_passes, comp_style[c])
                    nseg = len(seg_counts)
                    base, rem = divmod(nseg, slots)
                    idx = 0
                    for i in range(slots):
                        take = base + (1 if i < rem else 0)
                        for j in range(idx, idx + take):
                            per_layer[il + i].append(
                                (seg_counts[j], data_[j]))
                        idx += take
                else:
                    counts = [n_passes // slots +
                              (1 if i < n_passes % slots else 0)
                              for i in range(slots)]
                    cum = 0
                    pos0 = 0
                    for i, cnt in enumerate(counts):
                        cum += cnt
                        pos1 = len(data_) * cum // n_passes
                        if cnt:
                            per_layer[il + i] = [(cnt, data_[pos0:pos1])]
                        pos0 = pos1
            chunks[key] = per_layer

        states_enc = {}
        bands_by_res = [dict(tlayouts[c]) for c in range(nc)]
        for c in range(nc):
            for res, bands in tlayouts[c]:
                for band, _brange in bands:
                    geom = geoms[(c, res, band)]
                    mb = band_mb[(c, res, band)] + roi_shifts.get(c, 0)
                    for p in ([None] if pinfo is None else
                              [(py, px)
                               for py in range(pinfo[c][res][4])
                               for px in range(pinfo[c][res][5])]):
                        by0, by1, bx0, bx1 = _precinct_cb_range_r(
                            res, p, geom,
                            pinfo[c][res] if pinfo else None)
                        pnby, pnbx = by1 - by0, bx1 - bx0
                        if pnby <= 0 or pnbx <= 0:
                            states_enc[(c, res, band, p)] = _BandState(
                                0, 0)
                            continue
                        incl_leaves = np.full((pnby, pnbx), layers,
                                              dtype=np.int64)
                        zbp_leaves = np.zeros((pnby, pnbx),
                                              dtype=np.int64)
                        for ly in range(pnby):
                            for lx in range(pnbx):
                                data_, n_passes, max_plane = encoded[
                                    (c, res, band, by0 + ly, bx0 + lx)
                                ]
                                if n_passes:
                                    incl_leaves[ly, lx] = (
                                        by0 + ly + bx0 + lx) % layers
                                    zbp_leaves[ly, lx] = \
                                        mb - 1 - max_plane
                        states_enc[(c, res, band, p)] = _BandState(
                            pnby, pnbx,
                            encoder_leaves=(incl_leaves, zbp_leaves))

        body = bytearray()
        packed_hdr = bytearray()
        nsop = nsop0
        tile_org = (trange[0], trange[2])
        if poc:
            order = list(_packet_order_poc(poc, layers, max_nres_e,
                                           nc, pinfo,
                                           tile_origin=tile_org,
                                           comp_nres=comp_nres_e))
            full = layers * (
                sum(pg[4] * pg[5] for pc in pinfo for pg in pc)
                if pinfo else sum(comp_nres_e))
            if len(order) != full:
                raise Jp2kError(
                    "POC volumes do not cover the full packet set")
        else:
            order = _packet_order(progression, layers, max_nres_e,
                                  nc, pinfo, tile_origin=tile_org,
                                  comp_nres=comp_nres_e)
        for layer, res, c, prec in order:
            bands = bands_by_res[c][res]
            if sop:
                body += struct.pack(">HHH", 0xFF91, 4, nsop & 0xFFFF)
                nsop += 1

            def _prec_range(band_key):
                return _precinct_cb_range_r(
                    res, prec, geoms[band_key],
                    pinfo[c][res] if pinfo else None)

            any_contrib = False
            for band, _brange in bands:
                by0, by1, bx0, bx1 = _prec_range((c, res, band))
                if any(chunks[(c, res, band, by, bx)][layer]
                       for by in range(by0, by1)
                       for bx in range(bx0, bx1)):
                    any_contrib = True
                    break
            writer = _PacketBitWriter()
            hdr_sink = packed_hdr if packed_headers else body
            if not any_contrib:
                writer.write_bit(0)
                hdr_sink += writer.flush()
                if eph:
                    hdr_sink += b"\xff\x92"
                continue
            writer.write_bit(1)
            bodies = bytearray()
            for band, _brange in bands:
                st = states_enc.get((c, res, band, prec))
                if st is None:
                    continue
                by0, _y1, bx0, _x1 = _prec_range((c, res, band))
                for by in range(st.nby):
                    for bx in range(st.nbx):
                        key = (c, res, band, by0 + by, bx0 + bx)
                        groups = chunks[key][layer]
                        np_ = sum(g[0] for g in groups)
                        if st.first[by, bx]:
                            st.incl.encode(writer, by, bx, layer + 1)
                            if not np_:
                                continue  # first inclusion later
                            st.first[by, bx] = False
                            zbp = int(st.zbp.levels[0][by, bx])
                            t = 1
                            while True:
                                st.zbp.encode(writer, by, bx, t)
                                if zbp < t:
                                    break
                                t += 1
                        else:
                            writer.write_bit(1 if np_ else 0)
                            if not np_:
                                continue
                        _encode_n_passes(writer, np_)
                        # one Lblock update, then one length per
                        # codeword-segment part (B.10.7.2)
                        extra = 0
                        for gnp, gseg in groups:
                            lbits = gnp.bit_length() - 1
                            need = max(len(gseg).bit_length(), 1)
                            extra = max(
                                extra,
                                need - lbits - int(st.lblock[by, bx]))
                        for _ in range(extra):
                            writer.write_bit(1)
                        writer.write_bit(0)
                        st.lblock[by, bx] += extra
                        for gnp, gseg in groups:
                            writer.write_bits(
                                len(gseg),
                                int(st.lblock[by, bx])
                                + gnp.bit_length() - 1
                            )
                            bodies += gseg
            hdr_sink += writer.flush()
            if eph:
                hdr_sink += b"\xff\x92"
            body += bodies
        return bytes(body), bytes(packed_hdr), nsop

    if packed_headers not in (None, "ppt", "ppm"):
        raise Jp2kError("packed_headers must be 'ppt' or 'ppm'")
    tile_bodies = []
    tile_hdrs = []
    nsop_counter = 0
    for tidx in range(len(tile_ranges)):
        tb, thdr, nsop_counter = _tile_body(tidx, nsop_counter)
        tile_bodies.append(tb)
        tile_hdrs.append(thdr)

    # --- markers ---
    out = bytearray()
    out += struct.pack(">H", _SOC)
    siz = struct.pack(
        ">HIIIIIIIIH", 0, xsiz, ysiz, xo, yo, tile_w, tile_h,
        xto, yto, nc
    ) + b"".join(
        struct.pack(">BBB", depths[c] - 1, comp_rs[c][0], comp_rs[c][1])
        for c in range(nc)
    )
    out += struct.pack(">HH", _SIZ, len(siz) + 2) + siz
    cod = bytes([
        (0x01 if precincts is not None else 0)
        | (0x02 if sop else 0) | (0x04 if eph else 0),  # Scod
        progression,
    ]) + struct.pack(">H", layers) + bytes([
        1 if use_mct else 0,    # MCT
        levels,
        cb_we - 2, cb_he - 2,
        cb_style,
        1 if reversible else 0,  # wavelet: 5/3 reversible / 9/7
    ])
    if precincts is not None:
        cod += bytes((ppy << 4) | ppx for ppx, ppy in precincts)
    out += struct.pack(">HH", _COD, len(cod) + 2) + cod
    if poc:
        pbody = bytearray()
        for rs, cs, lye, re_, ce, pprog in poc:
            if not (0 <= rs < re_ <= max_nres_e and 0 <= cs < ce <= nc
                    and 1 <= lye <= layers and 0 <= pprog <= 4):
                raise Jp2kError("invalid POC progression volume")
            pbody += bytes([rs, cs]) + struct.pack(">H", lye) + bytes(
                [re_, ce, pprog])
        out += struct.pack(">HH", _POC, len(pbody) + 2) + pbody
    for c, s in sorted(roi_shifts.items()):
        out += struct.pack(">HHBBB", _RGN, 5, c, 0, s)
    if reversible:
        exps = []
        for res, bands in layout:
            for band, bh, bw in bands:
                mb = qcd_mb[(res, band)]
                eps = mb + 1 - guard
                if not 0 <= eps <= 31:
                    raise Jp2kError("band exponent out of range")
                exps.append(eps << 3)
        qcd = bytes([(guard << 5) | 0]) + bytes(exps)
    else:
        # the QCD carries the default-levels band values; components
        # with their own levels read a QCC instead, so any shared
        # component's values serve (synthesize from qstep when every
        # component overrides)
        rep = next((c for c in range(nc) if c not in qcc_set), None)
        vals = b""
        for res, bands in layout:
            for band, bh, bw in bands:
                if rep is not None:
                    eps, mu, _d = band_eps_mu[(rep, res, band)]
                else:
                    eps, mu, _d = eps_mu(qstep, depth + _BAND_GAIN[band])
                vals += struct.pack(">H", (eps << 11) | mu)
        qcd = bytes([(guard << 5) | 2]) + vals  # scalar expounded
    out += struct.pack(">HH", _QCD, len(qcd) + 2) + qcd
    for ci in sorted(set(coc_styles) | set(coc_precincts)
                     | set(coc_levels)):
        cst = comp_style[ci]
        pp_c = comp_pp_e[ci]
        coc = bytes([ci, 0x01 if pp_c is not None else 0, comp_lv[ci],
                     cb_we - 2, cb_he - 2, cst,
                     1 if reversible else 0])
        if pp_c is not None:
            coc += bytes((ppy << 4) | ppx for ppx, ppy in pp_c)
        out += struct.pack(">HH", _COC, len(coc) + 2) + coc
    if packed_headers == "ppm":
        blob = b"".join(struct.pack(">I", len(t)) + t for t in tile_hdrs)
        ppm = bytes([0]) + blob  # single segment, Zppm = 0
        out += struct.pack(">HH", _PPM, len(ppm) + 2) + ppm
    for ci in sorted(qcc_set):
        if reversible:
            exps = []
            for res, bands in comp_layout[ci]:
                for band, bh, bw in bands:
                    eps = band_mb[(ci, res, band)] + 1 - guard
                    if not 0 <= eps <= 31:
                        raise Jp2kError("band exponent out of range")
                    exps.append(eps << 3)
            qcc = bytes([ci, (guard << 5) | 0]) + bytes(exps)
        else:
            vals = b""
            for res, bands in comp_layout[ci]:
                for band, bh, bw in bands:
                    eps, mu, _d = band_eps_mu[(ci, res, band)]
                    vals += struct.pack(">H", (eps << 11) | mu)
            qcc = bytes([ci, (guard << 5) | 2]) + vals
        out += struct.pack(">HH", _QCC, len(qcc) + 2) + qcc
    for tidx, tb in enumerate(tile_bodies):
        ppt = b""
        if packed_headers == "ppt":
            ppt_body = bytes([0]) + tile_hdrs[tidx]  # Zppt = 0
            ppt = struct.pack(">HH", _PPT, len(ppt_body) + 2) + ppt_body
        psot = 2 + 10 + len(ppt) + 2 + len(tb)
        out += struct.pack(">HHHIBB", _SOT, 10, tidx, psot, 0, 1)
        out += ppt
        out += struct.pack(">H", _SOD)
        out += tb
    out += struct.pack(">H", _EOC)
    stream = bytes(out)
    if not jp2_container:
        return stream

    def box(tbox: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + tbox + payload

    sig = box(b"jP  ", b"\r\n\x87\n")
    ftyp = box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    # I.5.3.1: BPC is 255 when components differ in depth (the per-comp
    # depths live in the codestream SIZ, which the decoder reads anyway)
    ihdr = box(b"ihdr", struct.pack(
        ">IIHBBBB", h, w, nc,
        (depth - 1) if len(set(depths)) == 1 else 255, 7, 0, 0
    ))
    colr = box(b"colr", bytes([1, 0, 0]) + struct.pack(
        ">I", 16 if nc >= 3 else 17
    ))
    jp2h = box(b"jp2h", ihdr + colr)
    return sig + ftyp + jp2h + box(b"jp2c", stream)
