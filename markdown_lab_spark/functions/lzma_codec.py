"""From-scratch XZ / LZMA decoder.

The last archive format public text corpora actually ship in
(HuggingFace datasets and several CC derivatives publish
``.jsonl.xz``); with it the owned decode family covers
zstd/LZ4/xz. Verification posture as always: foreign bitstreams
from the REAL implementations — stdlib ``lzma`` at multiple presets
(.xz with CRC32/CRC64/SHA256 checks), plus the xz CLI
(``tests/test_compression.py``).

Implemented: the LZMA range coder (11-bit adaptive probabilities,
direct bits), the full LZMA1 symbol machine (12-state transitions,
literal coder with lc/lp/pb contexts and matched-literal mode, rep
distances rep0-rep3 incl. short rep, length coders, distance slots
with SpecPos reverse trees + align bits), the LZMA2 chunk
layer (uncompressed chunks, state/props/dict reset modes), the .xz
container (stream header/flags, block headers with filter chains —
LZMA2-only accepted — optional size fields, header CRC32s, block
padding, CRC32/CRC64/SHA256 content checks, index walk, footer), and
from-scratch CRC-32 and CRC64-ECMA. BCJ filters and
dictionaries-as-presets are rejected explicitly (nothing in the
corpus path emits them).
"""

from __future__ import annotations

import hashlib


class LzmaError(ValueError):
    pass


XZ_MAGIC = b"\xfd7zXZ\x00"


def is_xz(payload: bytes) -> bool:
    return payload[:6] == XZ_MAGIC


# ---------------------------------------------------------------------------
# CRC-32 (header and block checks) and CRC64-ECMA (xz's default check),
# verified against zlib and known vectors in tests


def _crc32_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32 = _crc32_table()


def crc32(data: bytes, value: int = 0) -> int:
    c = value ^ 0xFFFFFFFF
    for b in data:
        c = _CRC32[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _crc64_table() -> list[int]:
    poly = 0xC96C5795D7870F42
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC64 = _crc64_table()


def crc64(data: bytes, value: int = 0) -> int:
    c = value ^ 0xFFFFFFFFFFFFFFFF
    for b in data:
        c = _CRC64[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# LZMA1 core


_KNUM_STATES = 12


class _RangeDecoder:
    __slots__ = ("data", "pos", "range", "code")

    def __init__(self, data: bytes, pos: int) -> None:
        if data[pos] != 0:
            raise LzmaError("range coder first byte must be zero")
        self.data = data
        self.code = int.from_bytes(data[pos + 1 : pos + 5], "big")
        self.pos = pos + 5
        self.range = 0xFFFFFFFF

    def _normalize(self) -> None:
        if self.range < (1 << 24):
            self.range = (self.range << 8) & 0xFFFFFFFF
            if self.pos >= len(self.data):
                raise LzmaError("LZMA stream truncated")
            self.code = ((self.code << 8) | self.data[self.pos]) & 0xFFFFFFFF
            self.pos += 1

    def bit(self, probs: list[int], i: int) -> int:
        p = probs[i]
        bound = (self.range >> 11) * p
        if self.code < bound:
            self.range = bound
            probs[i] = p + ((2048 - p) >> 5)
            b = 0
        else:
            self.code -= bound
            self.range -= bound
            probs[i] = p - (p >> 5)
            b = 1
        self._normalize()
        return b

    def direct(self, n: int) -> int:
        res = 0
        for _ in range(n):
            self.range >>= 1
            self.code -= self.range
            if self.code < 0:  # underflow: bit is 0, restore
                self.code += self.range
                bit = 0
            else:
                bit = 1
            self._normalize()
            res = (res << 1) | bit
        return res

    def tree(self, probs: list[int], base: int, nbits: int) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.bit(probs, base + m)
        return m - (1 << nbits)

    def rtree(self, probs: list[int], base: int, nbits: int) -> int:
        m = 1
        sym = 0
        for i in range(nbits):
            b = self.bit(probs, base + m)
            m = (m << 1) | b
            sym |= b << i
        return sym


class _LenDecoder:
    __slots__ = ("choice", "choice2", "low", "mid", "high")

    def __init__(self) -> None:
        self.choice = [1024]
        self.choice2 = [1024]
        self.low = [[1024] * 8 for _ in range(16)]
        self.mid = [[1024] * 8 for _ in range(16)]
        self.high = [1024] * 256

    def decode(self, rc: _RangeDecoder, pos_state: int) -> int:
        if not rc.bit(self.choice, 0):
            return rc.tree(self.low[pos_state], 0, 3)
        if not rc.bit(self.choice2, 0):
            return 8 + rc.tree(self.mid[pos_state], 0, 3)
        return 16 + rc.tree(self.high, 0, 8)


class _LzmaState:
    """Decoder state that survives across LZMA2 chunks (unless reset)."""

    def __init__(self, lc: int, lp: int, pb: int) -> None:
        self.set_props(lc, lp, pb)
        self.reset()

    def set_props(self, lc: int, lp: int, pb: int) -> None:
        if lc > 8 or lp > 4 or pb > 4:
            raise LzmaError("bad lc/lp/pb")
        self.lc, self.lp, self.pb = lc, lp, pb

    def reset(self) -> None:
        self.state = 0
        self.reps = [0, 0, 0, 0]
        self.lit = [1024] * (0x300 << (self.lc + self.lp))
        self.is_match = [1024] * (_KNUM_STATES << 4)
        self.is_rep = [1024] * _KNUM_STATES
        self.is_rep_g0 = [1024] * _KNUM_STATES
        self.is_rep_g1 = [1024] * _KNUM_STATES
        self.is_rep_g2 = [1024] * _KNUM_STATES
        self.is_rep0_long = [1024] * (_KNUM_STATES << 4)
        self.pos_slot = [[1024] * 64 for _ in range(4)]
        self.spec_pos = [1024] * 115
        self.align = [1024] * 16
        self.len_dec = _LenDecoder()
        self.rep_len_dec = _LenDecoder()


def _lzma_decode(
    rc: _RangeDecoder,
    st: _LzmaState,
    out: bytearray,
    limit: int,
) -> None:
    """Decode symbols until ``limit`` output bytes (one LZMA2 chunk).
    ``out`` is the whole dictionary window (shared across chunks)."""
    pb_mask = (1 << st.pb) - 1
    lp_mask = (1 << st.lp) - 1
    lc = st.lc
    while len(out) < limit:
        pos_state = len(out) & pb_mask
        if not rc.bit(st.is_match, (st.state << 4) | pos_state):
            prev = out[-1] if out else 0
            lit_state = ((len(out) & lp_mask) << lc) | (prev >> (8 - lc))
            probs = st.lit
            base = 0x300 * lit_state
            if st.state >= 7:
                match_byte = out[len(out) - st.reps[0] - 1]
                sym = 1
                while sym < 0x100:
                    match_bit = (match_byte >> 7) & 1
                    match_byte = (match_byte << 1) & 0xFF
                    b = rc.bit(
                        probs, base + ((1 + match_bit) << 8) + sym
                    )
                    sym = (sym << 1) | b
                    if match_bit != b:
                        while sym < 0x100:
                            sym = (sym << 1) | rc.bit(probs, base + sym)
                        break
            else:
                sym = 1
                while sym < 0x100:
                    sym = (sym << 1) | rc.bit(probs, base + sym)
            out.append(sym & 0xFF)
            if st.state < 4:
                st.state = 0
            elif st.state < 10:
                st.state -= 3
            else:
                st.state -= 6
            continue
        # match / rep
        if rc.bit(st.is_rep, st.state):
            if not rc.bit(st.is_rep_g0, st.state):
                if not rc.bit(
                    st.is_rep0_long, (st.state << 4) | pos_state
                ):
                    # short rep: one byte at rep0
                    st.state = 9 if st.state < 7 else 11
                    if st.reps[0] + 1 > len(out):
                        raise LzmaError("short rep beyond window")
                    out.append(out[len(out) - st.reps[0] - 1])
                    continue
            else:
                if not rc.bit(st.is_rep_g1, st.state):
                    dist = st.reps[1]
                    st.reps[1] = st.reps[0]
                    st.reps[0] = dist
                else:
                    if not rc.bit(st.is_rep_g2, st.state):
                        dist = st.reps[2]
                    else:
                        dist = st.reps[3]
                        st.reps[3] = st.reps[2]
                    st.reps[2] = st.reps[1]
                    st.reps[1] = st.reps[0]
                    st.reps[0] = dist
            length = st.rep_len_dec.decode(rc, pos_state) + 2
            st.state = 8 if st.state < 7 else 11
        else:
            st.reps[3] = st.reps[2]
            st.reps[2] = st.reps[1]
            st.reps[1] = st.reps[0]
            length = st.len_dec.decode(rc, pos_state) + 2
            st.state = 7 if st.state < 7 else 10
            len_state = min(length - 2, 3)
            slot = rc.tree(st.pos_slot[len_state], 0, 6)
            if slot < 4:
                dist = slot
            else:
                nd = (slot >> 1) - 1
                dist = (2 | (slot & 1)) << nd
                if slot < 14:
                    dist += rc.rtree(st.spec_pos, dist - slot, nd)
                else:
                    dist += rc.direct(nd - 4) << 4
                    dist += rc.rtree(st.align, 0, 4)
            if dist == 0xFFFFFFFF:
                raise LzmaError("end marker inside sized chunk")
            st.reps[0] = dist
        dist = st.reps[0]
        if dist + 1 > len(out):
            raise LzmaError("match distance beyond window")
        if len(out) + length > limit:
            raise LzmaError("match overruns chunk size")
        start = len(out) - dist - 1
        if dist + 1 >= length:
            out += out[start : start + length]
        else:
            pattern = bytes(out[start:])
            out += (pattern * (length // (dist + 1) + 1))[:length]


def _parse_props_byte(p: int) -> tuple[int, int, int]:
    if p >= 9 * 5 * 5:
        raise LzmaError("bad LZMA props byte")
    lc = p % 9
    p //= 9
    return lc, p % 5, p // 5


# ---------------------------------------------------------------------------
# LZMA2


def _decode_lzma2(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Decode LZMA2 chunks starting at ``pos``; returns (content, pos
    after the 0x00 end marker)."""
    out = bytearray()
    st: _LzmaState | None = None
    need_props = True
    while True:
        if pos >= len(payload):
            raise LzmaError("LZMA2 stream truncated")
        c = payload[pos]
        pos += 1
        if c == 0:
            return bytes(out), pos
        if c in (1, 2):  # uncompressed chunk (1 = dict reset)
            size = int.from_bytes(payload[pos : pos + 2], "big") + 1
            pos += 2
            if len(payload) < pos + size:
                raise LzmaError("uncompressed chunk truncated")
            out += payload[pos : pos + size]
            pos += size
            if st is not None:
                st.reset()  # uncompressed data invalidates coder state
            need_props = st is None
            continue
        if c < 0x80:
            raise LzmaError("reserved LZMA2 control byte")
        usize = ((c & 0x1F) << 16) + int.from_bytes(
            payload[pos : pos + 2], "big"
        ) + 1
        csize = int.from_bytes(payload[pos + 2 : pos + 4], "big") + 1
        pos += 4
        reset_mode = (c >> 5) & 3
        if reset_mode >= 2:
            lc, lp, pb = _parse_props_byte(payload[pos])
            pos += 1
            if st is None:
                st = _LzmaState(lc, lp, pb)
            else:
                st.set_props(lc, lp, pb)
                st.reset()
        elif st is None or need_props:
            raise LzmaError("LZMA chunk before props")
        if reset_mode == 1:
            st.reset()
        need_props = False
        if len(payload) < pos + csize:
            raise LzmaError("LZMA chunk truncated")
        rc = _RangeDecoder(payload, pos)
        _lzma_decode(rc, st, out, len(out) + usize)
        if rc.pos > pos + csize:
            raise LzmaError("LZMA chunk over-read")
        pos += csize
    # unreachable


# ---------------------------------------------------------------------------
# .xz container


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    val = 0
    shift = 0
    while True:
        if pos >= len(data) or shift > 63:
            raise LzmaError("bad xz varint")
        b = data[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


_CHECK_SIZES = {0: 0, 1: 4, 4: 8, 10: 32}


def decode_xz(payload: bytes, verify_checksum: bool = True) -> bytes:
    """Decode one-or-more concatenated .xz streams (LZMA2 filter chains
    only — BCJ filters are rejected)."""
    out = bytearray()
    pos = 0
    n = len(payload)
    while pos < n:
        if n - pos < 12:
            raise LzmaError("truncated xz stream header")
        if payload[pos : pos + 6] != XZ_MAGIC:
            raise LzmaError("bad xz magic")
        flags = payload[pos + 6 : pos + 8]
        if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
            raise LzmaError("unsupported xz stream flags")
        check_type = flags[1]
        if verify_checksum:
            want = int.from_bytes(payload[pos + 8 : pos + 12], "little")
            if crc32(flags) != want:
                raise LzmaError("stream header CRC mismatch")
        pos += 12
        # blocks until the index indicator (0x00)
        while True:
            if pos >= n:
                raise LzmaError("xz stream truncated")
            bh_size_byte = payload[pos]
            if bh_size_byte == 0:
                break  # index begins
            bh_size = (bh_size_byte + 1) * 4
            header = payload[pos : pos + bh_size]
            if len(header) < bh_size:
                raise LzmaError("block header truncated")
            if verify_checksum:
                want = int.from_bytes(header[-4:], "little")
                if crc32(header[:-4]) != want:
                    raise LzmaError("block header CRC mismatch")
            bflags = header[1]
            nfilters = (bflags & 3) + 1
            hp = 2
            if bflags & 0x40:
                _, hp = _varint(header, hp)  # compressed size (unused)
            if bflags & 0x80:
                _, hp = _varint(header, hp)  # uncompressed size (unused)
            filter_id = None
            for _ in range(nfilters):
                filter_id, hp = _varint(header, hp)
                props_size, hp = _varint(header, hp)
                if filter_id != 0x21:
                    raise LzmaError(
                        "only the LZMA2 filter is supported (no BCJ)"
                    )
                hp += props_size  # dict-size byte: window not enforced
            data_start = pos + bh_size
            content, after = _decode_lzma2(payload, data_start)
            out += content
            # block padding to 4-byte multiple of the unpadded size
            unpadded = after - pos - bh_size + bh_size  # = after - pos
            pad = (4 - ((after - pos) % 4)) % 4
            if payload[after : after + pad] != b"\x00" * pad:
                raise LzmaError("bad block padding")
            after += pad
            csz = _CHECK_SIZES[check_type]
            if verify_checksum and csz:
                want_b = payload[after : after + csz]
                if check_type == 1:
                    got = crc32(content).to_bytes(4, "little")
                elif check_type == 4:
                    got = crc64(content).to_bytes(8, "little")
                else:
                    got = hashlib.sha256(content).digest()
                if want_b != got:
                    raise LzmaError("block check mismatch")
            pos = after + csz
        # index: skip (validated by CRC when asked)
        idx_start = pos
        pos += 1  # the 0x00 indicator
        nrec, pos = _varint(payload, pos)
        for _ in range(nrec):
            _, pos = _varint(payload, pos)
            _, pos = _varint(payload, pos)
        pad = (4 - ((pos - idx_start) % 4)) % 4
        pos += pad
        if verify_checksum:
            want = int.from_bytes(payload[pos : pos + 4], "little")
            if crc32(payload[idx_start:pos]) != want:
                raise LzmaError("index CRC mismatch")
        pos += 4
        # footer: CRC32(4) + backward size(4) + flags(2) + "YZ"
        if n - pos < 12:
            raise LzmaError("truncated xz stream footer")
        if payload[pos + 10 : pos + 12] != b"YZ":
            raise LzmaError("bad xz footer magic")
        pos += 12
        # stream padding (4-byte zero multiples) between streams
        while pos + 4 <= n and payload[pos : pos + 4] == b"\x00" * 4:
            pos += 4
    return bytes(out)
