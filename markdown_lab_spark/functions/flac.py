"""FLAC (Free Lossless Audio Codec) decode + encoder twin — pure Python.

Implements the FLAC bitstream format from the public spec (RFC 9639 /
xiph.org): STREAMINFO metadata, frame headers with UTF-8-coded frame
numbers and CRC-8, subframe types CONSTANT / VERBATIM / FIXED(0-4) /
LPC(1-32), wasted-bits-per-sample, partitioned-Rice residuals (both the
4-bit and 5-bit parameter methods including the verbatim escape),
stereo decorrelation (left/side, right/side, mid/side), and the frame
CRC-16.  Both CRC tables are COMPUTED from their generator polynomials
at import (poly 0x07 and 0x8005) — nothing transcribed.

FLAC is lossless, so decode output is integer-exact and provable by the
same closed-form oracles as raw PCM — the property the q47 codec-union
gate is built on.  The encoder twin makes real per-subframe decisions
(constant detection, fixed-order search by residual magnitude, optional
Levinson-Durbin LPC with spec quantization, per-partition Rice
parameter search, wasted-bits detection) so fixtures exercise every
decoder path with streams whose exact decode is known by construction.

Reference behavior this maps to: the reference repo has no audio codecs
(markdown_lab is HTML→Markdown, `/root/reference/src/lib.rs`); this
extends the multimodal-column story (SURVEY.md §2 multimodal ops) the
same way WAV/PNG/JPEG/GIF do — opaque binary column in, typed features
out, Arrow-batched executor-side, one malformed payload surfacing as a
typed per-row error rather than an aborted job (all parse failures
raise ValueError for the decoder-boundary normalizer).
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Tuple

import numpy as np

__all__ = [
    "is_flac",
    "decode_flac",
    "encode_flac",
]


def is_flac(payload: bytes) -> bool:
    return len(payload) >= 4 and payload[:4] == b"fLaC"


# ---------------------------------------------------------------------------
# CRCs (tables computed, not transcribed)
# ---------------------------------------------------------------------------


def _make_crc8_table() -> List[int]:
    tbl = []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tbl.append(c)
    return tbl


def _make_crc16_table() -> List[int]:
    tbl = []
    for b in range(256):
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        tbl.append(c)
    return tbl


_CRC8 = _make_crc8_table()
_CRC16 = _make_crc16_table()


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ---------------------------------------------------------------------------
# Bit IO (MSB-first, as everywhere in FLAC)
# ---------------------------------------------------------------------------


class _Reader:
    """MSB-first bit reader with an O(log n) unary scan.

    ``ones`` (positions of set bits) turns each Rice unary quotient into
    one searchsorted instead of a per-bit loop — the codec's hot path.
    """

    def __init__(self, data: bytes):
        self.data = data
        self.nbits = len(data) * 8
        bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.ones = np.flatnonzero(bits)
        self.pos = 0

    def bits(self, n: int) -> int:
        p, q = self.pos, self.pos + n
        if q > self.nbits:
            raise ValueError("truncated FLAC stream")
        self.pos = q
        first, last = p >> 3, (q + 7) >> 3
        v = int.from_bytes(self.data[first:last], "big")
        v >>= (last << 3) - q
        return v & ((1 << n) - 1)

    def sbits(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        i = int(np.searchsorted(self.ones, self.pos))
        if i >= len(self.ones):
            raise ValueError("truncated FLAC stream (unary)")
        nxt = int(self.ones[i])
        q = nxt - self.pos
        self.pos = nxt + 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        if self.pos & 7:
            raise ValueError("unaligned FLAC read")
        return self.pos >> 3


class _Writer:
    """MSB-first bit writer."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value: int, width: int) -> None:
        if width <= 0:
            return
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.n += width
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def sbits(self, value: int, width: int) -> None:
        self.bits(value & ((1 << width) - 1), width)

    def unary(self, q: int) -> None:
        while q >= 32:
            self.bits(0, 32)
            q -= 32
        self.bits(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.bits(0, 8 - self.n)

    def bytes_out(self) -> bytes:
        if self.n:
            raise ValueError("unaligned FLAC write")
        return bytes(self.buf)


def _utf8_number(r: _Reader) -> int:
    b0 = r.bits(8)
    if b0 < 0x80:
        return b0
    k = 0
    m = b0
    while m & 0x80:
        k += 1
        m = (m << 1) & 0xFF
    if k == 1 or k > 7:
        raise ValueError("bad FLAC UTF-8 frame number")
    v = b0 & (0x7F >> k)
    for _ in range(k - 1):
        c = r.bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad FLAC UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _utf8_encode(w: _Writer, v: int) -> None:
    if v < 0x80:
        w.bits(v, 8)
        return
    # choose the shortest length whose payload capacity fits v
    for k in range(2, 8):
        if v < (1 << (5 * k + 1)) or k == 7:
            break
    payload = []
    for _ in range(k - 1):
        payload.append(0x80 | (v & 0x3F))
        v >>= 6
    lead = ((0xFF << (8 - k)) & 0xFF) | v
    w.bits(lead, 8)
    for c in reversed(payload):
        w.bits(c, 8)


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------

_FIXED_COEF = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _read_residual(r: _Reader, block_size: int, pred_order: int) -> List[int]:
    method = r.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual method")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    po = r.bits(4)
    nparts = 1 << po
    if block_size % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    out: List[int] = []
    for p in range(nparts):
        count = (block_size >> po) - (pred_order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC partition smaller than predictor order")
        param = r.bits(plen)
        if param == escape:
            nbits = r.bits(5)
            if nbits == 0:
                out.extend([0] * count)
            else:
                out.extend(r.sbits(nbits) for _ in range(count))
        else:
            for _ in range(count):
                q = r.unary()
                u = (q << param) | r.bits(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _read_subframe(r: _Reader, block_size: int, bps: int) -> List[int]:
    if r.bits(1):
        raise ValueError("bad FLAC subframe padding bit")
    ftype = r.bits(6)
    wasted = 0
    if r.bits(1):
        wasted = r.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if ftype == 0:  # CONSTANT
        v = r.sbits(eff)
        samples = [v] * block_size
    elif ftype == 1:  # VERBATIM
        samples = [r.sbits(eff) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # FIXED
        order = ftype - 8
        samples = [r.sbits(eff) for _ in range(order)]
        res = _read_residual(r, block_size, order)
        coef = _FIXED_COEF[order]
        for i, e in enumerate(res):
            k = order + i
            samples.append(
                e + sum(c * samples[k - 1 - j] for j, c in enumerate(coef))
            )
    elif ftype >= 32:  # LPC
        order = (ftype & 31) + 1
        samples = [r.sbits(eff) for _ in range(order)]
        prec = r.bits(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC qlp precision")
        shift = r.sbits(5)
        if shift < 0:
            raise ValueError("negative FLAC qlp shift")
        coef = [r.sbits(prec) for _ in range(order)]
        res = _read_residual(r, block_size, order)
        for i, e in enumerate(res):
            k = order + i
            pred = sum(c * samples[k - 1 - j] for j, c in enumerate(coef))
            samples.append(e + (pred >> shift))
    else:
        raise ValueError("reserved FLAC subframe type")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


_BLOCK_SIZE_TBL = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_RATE_TBL = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BPS_TBL = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def decode_flac(
    payload: bytes, verify_md5: bool = True
) -> Tuple[int, int, np.ndarray]:
    """payload -> (sample_rate, n_channels, samples int32 [n, nch]).

    Raises ValueError on any malformed input (the decoder-boundary
    contract shared by every codec in this package).
    """
    if not is_flac(payload):
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata")
        h0 = payload[pos]
        last, btype = h0 >> 7, h0 & 0x7F
        length = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + length]
        if len(body) < length:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if length < 34:
                raise ValueError("short STREAMINFO")
            r = _Reader(body)
            r.bits(16)  # min block size
            r.bits(16)  # max block size
            r.bits(24)  # min frame size
            r.bits(24)  # max frame size
            rate = r.bits(20)
            nch = r.bits(3) + 1
            bps = r.bits(5) + 1
            total = r.bits(36)
            md5 = body[18:34]
            info = (rate, nch, bps, total, md5)
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type")
        pos += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")
    rate, nch, bps, total, md5 = info
    if rate == 0 or nch < 1:
        raise ValueError("bad STREAMINFO")

    r = _Reader(payload[pos:])
    chans: List[List[int]] = [[] for _ in range(nch)]
    decoded = 0
    while (total == 0 or decoded < total) and r.pos + 16 <= r.nbits:
        hdr_start = r.byte_pos()
        sync = r.bits(14)
        if sync != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        if r.bits(1):
            raise ValueError("bad FLAC frame reserved bit")
        r.bits(1)  # blocking strategy
        bs_code = r.bits(4)
        sr_code = r.bits(4)
        ch_asgn = r.bits(4)
        ss_code = r.bits(3)
        if r.bits(1):
            raise ValueError("bad FLAC frame reserved bit 2")
        _utf8_number(r)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 6:
            block_size = r.bits(8) + 1
        elif bs_code == 7:
            block_size = r.bits(16) + 1
        else:
            block_size = _BLOCK_SIZE_TBL[bs_code]
        if sr_code == 12:
            r.bits(8)
        elif sr_code in (13, 14):
            r.bits(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        elif sr_code != 0 and _RATE_TBL[sr_code] != rate:
            raise ValueError("frame sample rate disagrees with STREAMINFO")
        fbps = bps if ss_code == 0 else _BPS_TBL.get(ss_code)
        if fbps is None:
            raise ValueError("reserved FLAC sample size code")
        crc8_end = r.byte_pos() if r.pos % 8 == 0 else None
        if crc8_end is None:
            raise ValueError("unaligned FLAC frame header")
        got = r.bits(8)
        if _crc8(payload[pos + hdr_start:pos + crc8_end]) != got:
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_asgn <= 7:
            if ch_asgn + 1 != nch:
                raise ValueError("frame channel count disagrees")
            subs = [_read_subframe(r, block_size, fbps) for _ in range(nch)]
        elif ch_asgn in (8, 9, 10):
            if nch != 2:
                raise ValueError("stereo decorrelation with nch != 2")
            extra0 = 1 if ch_asgn == 9 else 0
            extra1 = 1 if ch_asgn in (8, 10) else 0
            c0 = _read_subframe(r, block_size, fbps + extra0)
            c1 = _read_subframe(r, block_size, fbps + extra1)
            if ch_asgn == 8:  # left/side
                subs = [c0, [l - s for l, s in zip(c0, c1)]]
            elif ch_asgn == 9:  # right/side
                subs = [[rr + s for s, rr in zip(c0, c1)], c1]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(c0, c1):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                subs = [left, right]
        else:
            raise ValueError("reserved FLAC channel assignment")

        r.align()
        crc_end = r.byte_pos()
        got16 = r.bits(16)
        if _crc16(payload[pos + hdr_start:pos + crc_end]) != got16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        for c in range(nch):
            chans[c].extend(subs[c])
        decoded += block_size

    if total and decoded < total:
        raise ValueError("FLAC stream ends before total_samples")
    if total:
        chans = [c[:total] for c in chans]
    out = np.array(chans, dtype=np.int64).T.copy()
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if out.size and (out.min() < lo or out.max() > hi):
        raise ValueError("FLAC sample exceeds declared bits-per-sample")
    if verify_md5 and bps % 8 == 0 and md5 != b"\x00" * 16 and out.size:
        width = bps // 8
        raw = _pcm_bytes(out, width)
        if hashlib.md5(raw).digest() != md5:
            raise ValueError("FLAC MD5 signature mismatch")
    return rate, nch, out.astype(np.int32)


def _pcm_bytes(samples: np.ndarray, width: int) -> bytes:
    """Interleaved little-endian signed PCM (the MD5 input layout)."""
    flat = samples.astype(np.int64).reshape(-1)
    mask = (1 << (8 * width)) - 1
    u = (flat & mask).astype(np.uint64)
    out = np.empty((flat.size, width), dtype=np.uint8)
    for b in range(width):
        out[:, b] = ((u >> np.uint64(8 * b)) & np.uint64(0xFF)).astype(np.uint8)
    return out.tobytes()


# ---------------------------------------------------------------------------
# Encoder twin
# ---------------------------------------------------------------------------


def _zigzag(e: int) -> int:
    return (e << 1) if e >= 0 else (((-e) << 1) - 1)


def _best_rice_param(res: List[int], max_param: int) -> int:
    if not res:
        return 0
    total = sum(_zigzag(e) for e in res)
    n = len(res)
    best_k, best_bits = 0, None
    for k in range(0, max_param + 1):
        bits = n * (k + 1) + sum(_zigzag(e) >> k for e in res)
        if best_bits is None or bits < best_bits:
            best_k, best_bits = k, bits
        elif total >> k == 0:
            break
    return best_k


def _write_residual(
    w: _Writer,
    res: List[int],
    block_size: int,
    pred_order: int,
    partition_order: int,
    rice_method: int,
    escape_bits: Optional[int],
) -> None:
    plen = 4 if rice_method == 0 else 5
    escape = (1 << plen) - 1
    w.bits(rice_method, 2)
    while partition_order > 0 and (
        block_size % (1 << partition_order)
        or (block_size >> partition_order) <= pred_order
    ):
        partition_order -= 1
    w.bits(partition_order, 4)
    idx = 0
    for p in range(1 << partition_order):
        count = (block_size >> partition_order) - (
            pred_order if p == 0 else 0
        )
        part = res[idx:idx + count]
        idx += count
        if escape_bits is not None:
            lim = 1 << (escape_bits - 1)
            if any(e < -lim or e >= lim for e in part):
                raise ValueError("escape_bits too narrow for residual")
            w.bits(escape, plen)
            w.bits(escape_bits, 5)
            for e in part:
                w.sbits(e, escape_bits)
            continue
        k = _best_rice_param(part, escape - 1)
        w.bits(k, plen)
        for e in part:
            u = _zigzag(e)
            w.unary(u >> k)
            w.bits(u, k)


def _fixed_residual(samples: List[int], order: int) -> List[int]:
    coef = _FIXED_COEF[order]
    return [
        samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coef))
        for i in range(order, len(samples))
    ]


def _quantize_lpc(
    fcoef: np.ndarray, precision: int
) -> Tuple[List[int], int]:
    cmax = float(np.abs(fcoef).max()) or 1.0
    shift = precision - 1 - max(0, int(np.floor(np.log2(cmax))) + 1)
    shift = max(0, min(15, shift))
    err = 0.0
    q = []
    lim = (1 << (precision - 1)) - 1
    for c in fcoef:
        v = c * (1 << shift) + err
        qi = int(np.floor(v + 0.5))
        qi = max(-lim - 1, min(lim, qi))
        err = v - qi
        q.append(qi)
    return q, shift


def _lpc_coefs(samples: List[int], order: int) -> Optional[np.ndarray]:
    x = np.asarray(samples, dtype=np.float64)
    if len(x) <= order + 1:
        return None
    ac = [float(np.dot(x[: len(x) - k], x[k:])) for k in range(order + 1)]
    if ac[0] == 0.0:
        return None
    # Levinson-Durbin
    err = ac[0]
    a = np.zeros(order)
    for i in range(order):
        acc = ac[i + 1] - float(np.dot(a[:i], ac[i::-1][:i]))
        k = acc / err
        a[:i] = a[:i] - k * a[:i][::-1] if i else a[:i]
        a[i] = k
        err *= 1.0 - k * k
        if err <= 0.0:
            return None
    return a


def _write_subframe(
    w: _Writer,
    samples: List[int],
    bps: int,
    subframe: str,
    partition_order: int,
    rice_method: int,
    escape_bits: Optional[int],
    lpc_order: int,
    lpc_precision: int,
) -> None:
    # wasted-bits detection: common trailing zero bits across the block
    wasted = 0
    if any(samples):
        ored = 0
        for s in samples:
            ored |= s
        while not ored & 1 and wasted < bps - 1:
            wasted += 1
            ored >>= 1
    else:
        wasted = 0
    if subframe == "verbatim":
        wasted = 0  # keep the no-wasted-bits path exercised too
    eff = bps - wasted
    vals = [s >> wasted for s in samples]
    n = len(vals)

    kind = subframe
    if kind == "auto":
        if all(v == vals[0] for v in vals):
            kind = "constant"
        else:
            kind = "fixed"
    if kind == "constant" and any(v != vals[0] for v in vals):
        kind = "fixed"
    if kind == "lpc":
        fcoef = _lpc_coefs(vals, min(lpc_order, max(1, n - 2)))
        if fcoef is None:
            kind = "fixed"

    def header(ftype: int) -> None:
        w.bits(0, 1)
        w.bits(ftype, 6)
        if wasted:
            w.bits(1, 1)
            w.unary(wasted - 1)
        else:
            w.bits(0, 1)

    if kind == "constant":
        header(0)
        w.sbits(vals[0], eff)
    elif kind == "verbatim":
        header(1)
        for v in vals:
            w.sbits(v, eff)
    elif kind == "fixed":
        best_o, best_cost = 0, None
        for o in range(0, min(4, n - 1) + 1):
            res = _fixed_residual(vals, o)
            cost = sum(_zigzag(e).bit_length() for e in res)
            if best_cost is None or cost < best_cost:
                best_o, best_cost = o, cost
        res = _fixed_residual(vals, best_o)
        header(8 + best_o)
        for v in vals[:best_o]:
            w.sbits(v, eff)
        _write_residual(
            w, res, n, best_o, partition_order, rice_method, escape_bits
        )
    elif kind == "lpc":
        order = min(lpc_order, max(1, n - 2))
        q, shift = _quantize_lpc(fcoef, lpc_precision)
        res = [
            vals[i]
            - (sum(c * vals[i - 1 - j] for j, c in enumerate(q)) >> shift)
            for i in range(order, n)
        ]
        header(32 + order - 1)
        for v in vals[:order]:
            w.sbits(v, eff)
        w.bits(lpc_precision - 1, 4)
        w.sbits(shift, 5)
        for c in q:
            w.sbits(c, lpc_precision)
        _write_residual(
            w, res, n, order, partition_order, rice_method, escape_bits
        )
    else:
        raise ValueError(f"unknown subframe kind {subframe!r}")


def encode_flac(
    samples: np.ndarray,
    rate: int,
    bps: int = 16,
    block_size: int = 4096,
    channel_mode: str = "auto",
    subframe: str = "auto",
    partition_order: int = 0,
    rice_method: int = 0,
    escape_bits: Optional[int] = None,
    lpc_order: int = 4,
    lpc_precision: int = 12,
) -> bytes:
    """Encoder twin: int samples [n] or [n, nch] -> FLAC bytes.

    channel_mode: auto|indep|ms|ls|rs (stereo only for the last three);
    subframe: auto|constant|verbatim|fixed|lpc; escape_bits forces every
    Rice partition through the verbatim escape at that width.
    """
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, nch = arr.shape
    if not 1 <= nch <= 8:
        raise ValueError("1-8 channels")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if n and (arr.min() < lo or arr.max() > hi):
        raise ValueError("sample exceeds bits-per-sample")
    if channel_mode == "auto":
        channel_mode = "ms" if nch == 2 else "indep"
    if channel_mode != "indep" and nch != 2:
        raise ValueError("stereo decorrelation needs 2 channels")

    frames = bytearray()
    frame_no = 0
    off = 0
    while off < n:
        bs = min(block_size, n - off)
        blk = arr[off:off + bs]
        w = _Writer()
        w.bits(0x3FFE, 14)
        w.bits(0, 1)
        w.bits(0, 1)  # fixed-blocksize strategy, frame number coded
        if bs == 192:
            bs_code, bs_extra = 1, None
        elif bs in (576, 1152, 2304, 4608):
            bs_code, bs_extra = 2 + (bs // 576).bit_length() - 1, None
        elif bs in (256, 512, 1024, 2048, 4096, 8192, 16384, 32768):
            bs_code, bs_extra = 8 + (bs // 256).bit_length() - 1, None
        elif bs <= 256:
            bs_code, bs_extra = 6, bs - 1
        else:
            bs_code, bs_extra = 7, bs - 1
        w.bits(bs_code, 4)
        w.bits(0, 4)  # sample rate from STREAMINFO
        if channel_mode == "indep":
            w.bits(nch - 1, 4)
        else:
            w.bits({"ls": 8, "rs": 9, "ms": 10}[channel_mode], 4)
        ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}.get(bps, 0)
        w.bits(ss_code, 3)
        w.bits(0, 1)
        _utf8_encode(w, frame_no)
        if bs_extra is not None:
            w.bits(bs_extra, 8 if bs_code == 6 else 16)
        w.align()
        hdr = w.bytes_out()
        w2 = _Writer()
        for b in hdr:
            w2.bits(b, 8)
        w2.bits(_crc8(hdr), 8)

        sub_kw = dict(
            subframe=subframe,
            partition_order=partition_order,
            rice_method=rice_method,
            escape_bits=escape_bits,
            lpc_order=lpc_order,
            lpc_precision=lpc_precision,
        )
        if channel_mode == "indep":
            for c in range(nch):
                _write_subframe(w2, blk[:, c].tolist(), bps, **sub_kw)
        else:
            left = blk[:, 0].tolist()
            right = blk[:, 1].tolist()
            side = [l - r for l, r in zip(left, right)]
            if channel_mode == "ls":
                _write_subframe(w2, left, bps, **sub_kw)
                _write_subframe(w2, side, bps + 1, **sub_kw)
            elif channel_mode == "rs":
                _write_subframe(w2, side, bps + 1, **sub_kw)
                _write_subframe(w2, right, bps, **sub_kw)
            else:  # mid/side
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                _write_subframe(w2, mid, bps, **sub_kw)
                _write_subframe(w2, side, bps + 1, **sub_kw)
        w2.align()
        body = w2.bytes_out()
        w3 = _Writer()
        for b in body:
            w3.bits(b, 8)
        w3.bits(_crc16(body), 16)
        frames += w3.bytes_out()
        off += bs
        frame_no += 1

    si = _Writer()
    si.bits(block_size, 16)
    si.bits(block_size, 16)
    si.bits(0, 24)
    si.bits(0, 24)
    si.bits(rate, 20)
    si.bits(nch - 1, 3)
    si.bits(bps - 1, 5)
    si.bits(n, 36)
    if bps % 8 == 0 and n:
        md5 = hashlib.md5(_pcm_bytes(arr, bps // 8)).digest()
    else:
        md5 = b"\x00" * 16
    streaminfo = si.bytes_out() + md5
    out = bytearray(b"fLaC")
    out.append(0x80)  # last-metadata-block, type 0 (STREAMINFO)
    out += len(streaminfo).to_bytes(3, "big")
    out += streaminfo
    out += frames
    return bytes(out)
