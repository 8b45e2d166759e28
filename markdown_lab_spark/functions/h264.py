"""H.264/AVC (ISO/IEC 14496-10 / ITU-T H.264) — baseline-profile
decode + encode: IDR (intra) pictures AND P (inter) pictures, the two
picture types baseline video is made of (``decode_h264`` decodes
the IDR path and the P chain; MP4 payloads reach it through
``mp4.parse_mp4``).

What is REAL here:
- Annex B byte streams: start codes, emulation-prevention (EBSP<->RBSP),
  SPS/PPS/IDR-slice NAL units, exp-Golomb (ue/se) header syntax,
  VUI timing (fps);
- I_4x4 (all nine 4x4 intra prediction modes with the spec's
  availability and top-right substitution rules), I_16x16 (all four
  modes incl. Plane), I_PCM, and 8x8 chroma prediction (DC with the
  per-quadrant rules, H, V, Plane) — sample availability is derived
  from first principles (a neighbor sample is available iff its
  containing block precedes the current block in decode order);
- CAVLC residual coding, complete: coeff_token (all three nC-context
  VLC tables, the 6-bit FLC regime for nC >= 8, and the chroma-DC
  table), trailing-one signs, level prefix/suffix with the adaptive
  suffixLength state machine, total_zeros (4x4 + chroma DC) and
  run_before tables, zig-zag placement;
- the integer transform stack: 4x4 core inverse transform, the 4x4
  Hadamard for Intra16x16 luma DC, the 2x2 Hadamard for chroma DC,
  and the normative dequantization arithmetic (LevelScale = 16 * v,
  the qP/6 shift regimes of 8.5.10-8.5.12) with the chroma QP map;
- an encoder twin making real per-macroblock decisions (I_16x16 vs
  I_4x4 by SAD, per-block 4x4 mode search over the legal mode set,
  forward transform + quantization, and a bit-exact in-loop
  reconstruction so fixtures pin decoder output == encoder
  reconstruction on every path).

Honesty note (the arithmetic-JPEG posture): no reference
H.264 decoder exists in this environment, so the coder pair is
mirrored and self-consistent, with prefix-freeness and Kraft-sum
structure of every VLC table pinned by tests. The coeff_token tables
were transcribed from the public spec (Table 9-5); in the 2<=nC<4
context the rows for TotalCoeff >= 14 (12 of 62 codes — reachable
only by blocks carrying 14+ nonzero coefficients) are a prefix-free
completion consistent with the spec's code-length profile rather than
a verified transcription; all other tables are either Kraft-complete
(strong transcription evidence) or carry exactly the spec's reserved
all-zeros slack. The in-loop deblocking filter (8.7) IS implemented —
real-world streams almost never disable it — as a post-pass over the
reconstructed intra picture (intra prediction reads pre-filter
samples per 8.3.1); its alpha/beta/tC0 tables are best-effort
transcriptions whose monotone structure is pinned and whose behavior
is property-tested (flat regions invariant, tC-bounded deltas,
filtered-vs-unfiltered divergence grows with QP), since a mirrored
pair cannot detect table slips in a filter both sides share.
P slices decode and encode for real: quarter-pel luma motion
compensation (the 6-tap half-pel filter with unrounded center-position
intermediates, bilinear quarters) and eighth-pel bilinear chroma,
median motion-vector prediction with the 16x8/8x16 directional rules
and D-substitution, P_Skip derivation and mb_skip_run coding,
16x16/16x8/8x16 partitions plus P_8x8 with all four sub-shapes, the
inter coded_block_pattern mapping, inter quantization rounding, and
the 8.7.2.1 inter boundary strengths (residual -> 2, full-pel MV gap
-> 1, else unfiltered) in the deblocker; a single reference frame
(num_ref_idx_l0 == 0), which the encoder always emits and the decoder
enforces. The encoder's P path makes real decisions — P_Skip when the
derived-MV residual quantizes to zero, quarter-pel motion search per
partition shape, intra fallback on scene cuts — and its in-loop
reconstruction (including the filtered reference chain) is pinned
bit-equal to the decoder.
B slices decode and encode for real: two reference lists initialized
by picture order count (8.2.4.2.3/8.2.4.2.4 specialized to one active
index per list), pic_order_cnt_type 0 with the 8.2.1.1 MSB wraparound
and POC-ordered display output, bi-prediction (the 8.4.2.3 rounded
average of the two quarter-pel predictions), BOTH direct modes —
temporal (8.4.1.2.3: co-located motion scaled by the fixed-point
DistScaleFactor POC math) and spatial (8.4.1.2.2: minPositive refs,
list-wise median, the colZeroFlag stationarity override) — with
direct_8x8_inference corner sampling, B_Skip / B_Direct_16x16 /
B_8x8 incl. B_Direct_8x8 subs, the full Table 7-14 / 7-18 mb_type
and sub_mb_type grids (every L0/L1/Bi partition combination), the
grouped mvd_l0-then-mvd_l1 syntax order, non-reference B pictures
(nal_ref_idc 0, no marking), and the 8.7.2.1 B-picture boundary
strengths (per-list reference/MV comparison). The encoder's B path
makes real decisions — B_Skip when the direct-derived residual
quantizes to zero, direct-vs-L0-vs-L1-vs-Bi 16x16 by reconstruction
cost, partition-shape and B_8x8 cadences for fixture coverage, intra
fallback — under classic IbbPbbP GOPs with spec frame_num semantics
(non-reference pictures share the next reference's value).
Out-of-scope features raise ValueError at the decoder boundary rather
than mis-decode: CABAC (entropy_coding_mode 1), weighted prediction
(explicit or implicit), multiple/modified reference lists, adaptive
ref marking, high profiles, interlace, and multi-slice pictures.

Reference behavior mapped: none — the reference engine has no video
path; this extends the multimodal column story (``multimodal.py``)
to the dominant keyframe codec at the 100 TB posture.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# VLC decode trie
# ---------------------------------------------------------------------------


def _build_decode_trie(codes: Dict) -> dict:
    trie: dict = {}
    for val, code in codes.items():
        node = trie
        for ch in code[:-1]:
            node = node.setdefault(ch, {})
        if code[-1] in node and isinstance(node[code[-1]], dict):
            raise ValueError(f"non-prefix-free table at {code}")
        node[code[-1]] = ("leaf", val)
    return trie


def _read_vlc(r: _Bits, trie: dict, what: str):
    node = trie
    for _ in range(24):
        b = "1" if r.bit() else "0"
        nxt = node.get(b)
        if nxt is None:
            raise ValueError(f"invalid {what} VLC")
        if isinstance(nxt, tuple):
            return nxt[1]
        node = nxt
    raise ValueError(f"runaway {what} VLC")


# ---------------------------------------------------------------------------
# VLC tables (Table 9-5, 9-7, 9-9, 9-10) — structure pinned by tests
# ---------------------------------------------------------------------------

# coeff_token, context 0 <= nC < 2: {(trailing_ones, total_coeff): code}
_CT_NC0: Dict[Tuple[int, int], str] = {
    (0, 0): "1",
    (0, 1): "000101", (1, 1): "01",
    (0, 2): "00000111", (1, 2): "000100", (2, 2): "001",
    (0, 3): "000000111", (1, 3): "00000110", (2, 3): "0000101", (3, 3): "00011",
    (0, 4): "0000000111", (1, 4): "000000110", (2, 4): "00000101", (3, 4): "000011",
    (0, 5): "00000000111", (1, 5): "0000000110", (2, 5): "000000101", (3, 5): "0000100",
    (0, 6): "0000000001111", (1, 6): "00000000110", (2, 6): "0000000101", (3, 6): "00000100",
    (0, 7): "0000000001011", (1, 7): "0000000001110", (2, 7): "00000000101", (3, 7): "000000100",
    (0, 8): "0000000001000", (1, 8): "0000000001010", (2, 8): "0000000001101", (3, 8): "0000000100",
    (0, 9): "00000000001111", (1, 9): "00000000001110", (2, 9): "0000000001001", (3, 9): "00000000100",
    (0, 10): "00000000001011", (1, 10): "00000000001010", (2, 10): "00000000001101", (3, 10): "0000000001100",
    (0, 11): "000000000001111", (1, 11): "000000000001110", (2, 11): "00000000001001", (3, 11): "00000000001100",
    (0, 12): "000000000001011", (1, 12): "000000000001010", (2, 12): "000000000001101", (3, 12): "00000000001000",
    (0, 13): "0000000000001111", (1, 13): "000000000000001", (2, 13): "000000000001001", (3, 13): "000000000001100",
    (0, 14): "0000000000001011", (1, 14): "0000000000001110", (2, 14): "0000000000001101", (3, 14): "000000000001000",
    (0, 15): "0000000000000111", (1, 15): "0000000000001010", (2, 15): "0000000000001001", (3, 15): "0000000000001100",
    (0, 16): "0000000000000100", (1, 16): "0000000000000110", (2, 16): "0000000000000101", (3, 16): "0000000000001000",
}

# context 2 <= nC < 4 (rows TotalCoeff >= 14: prefix-free completion —
# see the module honesty note)
_CT_NC2: Dict[Tuple[int, int], str] = {
    (0, 0): "11",
    (0, 1): "001011", (1, 1): "10",
    (0, 2): "000111", (1, 2): "00111", (2, 2): "011",
    (0, 3): "0000111", (1, 3): "001010", (2, 3): "001001", (3, 3): "0101",
    (0, 4): "00000111", (1, 4): "000110", (2, 4): "000101", (3, 4): "0100",
    (0, 5): "00000100", (1, 5): "0000110", (2, 5): "0000101", (3, 5): "00110",
    (0, 6): "000000111", (1, 6): "00000110", (2, 6): "00000101", (3, 6): "001000",
    (0, 7): "00000001111", (1, 7): "000000110", (2, 7): "000000101", (3, 7): "000100",
    (0, 8): "00000001011", (1, 8): "00000001110", (2, 8): "00000001101", (3, 8): "0000100",
    (0, 9): "000000001111", (1, 9): "00000001010", (2, 9): "00000001001", (3, 9): "000000100",
    (0, 10): "000000001011", (1, 10): "000000001110", (2, 10): "000000001101", (3, 10): "00000001100",
    (0, 11): "000000001000", (1, 11): "000000001010", (2, 11): "000000001001", (3, 11): "00000001000",
    (0, 12): "0000000001111", (1, 12): "0000000001110", (2, 12): "0000000001101", (3, 12): "000000001100",
    (0, 13): "0000000001011", (1, 13): "0000000001010", (2, 13): "0000000001001", (3, 13): "0000000001000",
    (0, 14): "0000000001100", (1, 14): "00000000001111", (2, 14): "00000000001110", (3, 14): "0000000000110",
    (0, 15): "00000000001011", (1, 15): "00000000001010", (2, 15): "00000000001001", (3, 15): "0000000000011",
    (0, 16): "00000000001000", (1, 16): "00000000000101", (2, 16): "00000000000100", (3, 16): "00000000000011",
}

# context 4 <= nC < 8
_CT_NC4: Dict[Tuple[int, int], str] = {
    (0, 0): "1111",
    (0, 1): "001111", (1, 1): "1110",
    (0, 2): "001011", (1, 2): "01111", (2, 2): "1101",
    (0, 3): "001000", (1, 3): "01100", (2, 3): "01110", (3, 3): "1100",
    (0, 4): "0001111", (1, 4): "01010", (2, 4): "01011", (3, 4): "1011",
    (0, 5): "0001011", (1, 5): "01000", (2, 5): "01001", (3, 5): "1010",
    (0, 6): "0001001", (1, 6): "001110", (2, 6): "001101", (3, 6): "1001",
    (0, 7): "0001000", (1, 7): "001010", (2, 7): "001001", (3, 7): "1000",
    (0, 8): "00001111", (1, 8): "0001110", (2, 8): "0001101", (3, 8): "01101",
    (0, 9): "00001011", (1, 9): "00001110", (2, 9): "0001010", (3, 9): "001100",
    (0, 10): "000001111", (1, 10): "00001010", (2, 10): "00001101", (3, 10): "0001100",
    (0, 11): "000001011", (1, 11): "000001110", (2, 11): "00001001", (3, 11): "00001100",
    (0, 12): "000001000", (1, 12): "000001010", (2, 12): "000001101", (3, 12): "00001000",
    (0, 13): "0000001101", (1, 13): "000000111", (2, 13): "000001001", (3, 13): "000001100",
    (0, 14): "0000001001", (1, 14): "0000001100", (2, 14): "0000001011", (3, 14): "0000001010",
    (0, 15): "0000000101", (1, 15): "0000001000", (2, 15): "0000000111", (3, 15): "0000000110",
    (0, 16): "0000000001", (1, 16): "0000000100", (2, 16): "0000000011", (3, 16): "0000000010",
}

# chroma DC 2x2 (4:2:0), nC == -1
_CT_CHROMA_DC: Dict[Tuple[int, int], str] = {
    (0, 0): "01",
    (0, 1): "000111", (1, 1): "1",
    (0, 2): "000100", (1, 2): "000110", (2, 2): "001",
    (0, 3): "000011", (1, 3): "0000011", (2, 3): "0000010", (3, 3): "000101",
    (0, 4): "000010", (1, 4): "00000011", (2, 4): "00000010", (3, 4): "0000000",
}

COEFF_TOKEN_TABLES = (_CT_NC0, _CT_NC2, _CT_NC4)
_CT_TRIES = tuple(_build_decode_trie(t) for t in COEFF_TOKEN_TABLES)
_CT_CHROMA_TRIE = _build_decode_trie(_CT_CHROMA_DC)

# total_zeros for 4x4 blocks (Table 9-7/9-8): [TotalCoeff][total_zeros]
TOTAL_ZEROS: Dict[int, List[str]] = {
    1: ["1", "011", "010", "0011", "0010", "00011", "00010", "000011",
        "000010", "0000011", "0000010", "00000011", "00000010",
        "000000011", "000000010", "000000001"],
    2: ["111", "110", "101", "100", "011", "0101", "0100", "0011", "0010",
        "00011", "00010", "000011", "000010", "000001", "000000"],
    3: ["0101", "111", "110", "101", "0100", "0011", "100", "011", "0010",
        "00011", "00010", "000001", "00001", "000000"],
    4: ["00011", "111", "0101", "0100", "110", "101", "100", "0011", "011",
        "0010", "00010", "00001", "00000"],
    5: ["0101", "0100", "0011", "111", "110", "101", "100", "011", "0010",
        "00001", "0001", "00000"],
    6: ["000001", "00001", "111", "110", "101", "100", "011", "010",
        "0001", "001", "000000"],
    7: ["000001", "00001", "101", "100", "011", "11", "010", "0001",
        "001", "000000"],
    8: ["000001", "0001", "00001", "011", "11", "10", "010", "001",
        "000000"],
    9: ["000001", "000000", "0001", "11", "10", "001", "01", "00001"],
    10: ["00001", "00000", "001", "11", "10", "01", "0001"],
    11: ["0000", "0001", "001", "010", "1", "011"],
    12: ["0000", "0001", "01", "1", "001"],
    13: ["000", "001", "1", "01"],
    14: ["00", "01", "1"],
    15: ["0", "1"],
}
_TZ_TRIES = {
    tc: _build_decode_trie({i: c for i, c in enumerate(codes)})
    for tc, codes in TOTAL_ZEROS.items()
}

# chroma DC total_zeros (Table 9-9a, 4:2:0)
CHROMA_DC_TZ: Dict[int, List[str]] = {
    1: ["1", "01", "001", "000"],
    2: ["1", "01", "00"],
    3: ["1", "0"],
}
_CDCTZ_TRIES = {
    tc: _build_decode_trie({i: c for i, c in enumerate(codes)})
    for tc, codes in CHROMA_DC_TZ.items()
}

# run_before (Table 9-10), keyed by min(zerosLeft, 7)
RUN_BEFORE: Dict[int, List[str]] = {
    1: ["1", "0"],
    2: ["1", "01", "00"],
    3: ["11", "10", "01", "00"],
    4: ["11", "10", "01", "001", "000"],
    5: ["11", "10", "011", "010", "001", "000"],
    6: ["11", "000", "001", "011", "010", "101", "100"],
    7: ["111", "110", "101", "100", "011", "010", "001", "0001", "00001",
        "000001", "0000001", "00000001", "000000001", "0000000001",
        "00000000001"],
}
_RB_TRIES = {
    z: _build_decode_trie({i: c for i, c in enumerate(codes)})
    for z, codes in RUN_BEFORE.items()
}

# coded_block_pattern me(v) mapping for intra (Table 9-4): codeNum -> cbp
CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {v: i for i, v in enumerate(CBP_INTRA)}

# chroma QP map (Table 8-15) for qPi in [30, 51]
_QPC_TAIL = [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37,
             38, 38, 38, 39, 39, 39, 39]

# dequant scale v (8.5.9 normAdjust4x4): rows by qP % 6, cols by class
#   class 0: positions (0,0),(0,2),(2,0),(2,2)
#   class 1: positions (1,1),(1,3),(3,1),(3,3)
#   class 2: everything else
_V = ((10, 16, 13), (11, 18, 14), (13, 20, 16),
      (14, 23, 18), (16, 25, 20), (18, 29, 23))
# encoder quant multipliers MF (the JM companion of _V: MF*V = 2^20 / scale)
_MF = ((13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
       (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559))


def _pos_class(i: int, j: int) -> int:
    if (i % 2, j % 2) == (0, 0):
        return 0
    if (i % 2, j % 2) == (1, 1):
        return 1
    return 2


_V_MAT = np.array(
    [[[_V[m][_pos_class(i, j)] for j in range(4)] for i in range(4)]
     for m in range(6)], dtype=np.int64)
_MF_MAT = np.array(
    [[[_MF[m][_pos_class(i, j)] for j in range(4)] for i in range(4)]
     for m in range(6)], dtype=np.int64)

# 4x4 zig-zag: raster index by scan position
ZIGZAG4 = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# luma 4x4 block decode order (2x2 quads): blk idx -> (bx, by) in 4x4 units
BLK4_POS = tuple(
    ((idx % 2) + 2 * ((idx // 4) % 2), ((idx // 2) % 2) + 2 * (idx // 8))
    for idx in range(16)
)


def chroma_qp(qp: int, offset: int = 0) -> int:
    qpi = max(0, min(51, qp + offset))
    return qpi if qpi < 30 else _QPC_TAIL[qpi - 30]


# ---------------------------------------------------------------------------
# bit I/O with exp-Golomb
# ---------------------------------------------------------------------------


class _Bits:
    """MSB-first reader over RBSP bytes."""

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def bit(self) -> int:
        if self.pos >> 3 >= len(self.data):
            raise ValueError("truncated RBSP")
        b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def ue(self) -> int:
        zeros = 0
        while self.bit() == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.bits(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)


class _BitsW:
    """MSB-first writer emitting RBSP bytes."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value: int, width: int) -> None:
        if width:
            self.acc = (self.acc << width) | (value & ((1 << width) - 1))
            self.n += width
            while self.n >= 8:
                self.n -= 8
                self.buf.append((self.acc >> self.n) & 0xFF)
            self.acc &= (1 << self.n) - 1

    def code(self, s: str) -> None:
        for ch in s:
            self.bits(1 if ch == "1" else 0, 1)

    def ue(self, v: int) -> None:
        v += 1
        width = v.bit_length()
        self.bits(0, width - 1)
        self.bits(v, width)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def trailing(self) -> None:
        self.bits(1, 1)
        if self.n:
            self.bits(0, 8 - self.n)

    def align_byte(self) -> None:
        if self.n:
            self.bits(0, 8 - self.n)

    def bytes_out(self) -> bytes:
        if self.n:
            raise ValueError("unaligned RBSP")
        return bytes(self.buf)


def _ebsp_to_rbsp(b: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(b):
        c = b[i]
        if zeros >= 2 and c == 3:
            zeros = 0  # emulation-prevention byte: drop
        else:
            out.append(c)
            zeros = zeros + 1 if c == 0 else 0
        i += 1
    return bytes(out)


def _rbsp_to_ebsp(b: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for c in b:
        if zeros >= 2 and c <= 3:
            out.append(3)
            zeros = 0
        out.append(c)
        zeros = zeros + 1 if c == 0 else 0
    return bytes(out)


def parse_annexb_nals(data: bytes) -> List[Tuple[int, bytes]]:
    """[(nal_unit_type, rbsp_bytes), ...] from an Annex B byte stream."""
    nals = []
    i = 0
    n = len(data)
    starts = []
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0:
            if data[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and data[i + 2] == 0 and data[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    for k, (sc, payload_start) in enumerate(starts):
        end = starts[k + 1][0] if k + 1 < len(starts) else n
        nal = data[payload_start:end].rstrip(b"\x00") or data[payload_start:end]
        if not nal:
            continue
        header = nal[0]
        if header & 0x80:
            raise ValueError("forbidden_zero_bit set")
        nal_type = header & 0x1F
        nals.append((nal_type, (header >> 5) & 3, _ebsp_to_rbsp(nal[1:])))
    if not nals:
        raise ValueError("no NAL units found")
    return nals


# ---------------------------------------------------------------------------
# CAVLC residual block coding (9.2)
# ---------------------------------------------------------------------------


def cavlc_decode_block(r: _Bits, nc: int, max_coeffs: int) -> Tuple[np.ndarray, int]:
    """Decode one residual block: (levels in scan order, total_coeff)."""
    if nc == -1:
        tok = _read_vlc(r, _CT_CHROMA_TRIE, "coeff_token")
    elif nc >= 8:
        v = r.bits(6)
        if v == 0b000011:
            tok = (0, 0)
        else:
            tok = (v & 3, (v >> 2) + 1)
    else:
        ctx = 0 if nc < 2 else 1 if nc < 4 else 2
        tok = _read_vlc(r, _CT_TRIES[ctx], "coeff_token")
    t1s, total = tok
    out = np.zeros(max_coeffs, dtype=np.int64)
    if total == 0:
        return out, 0
    if total > max_coeffs:
        raise ValueError("total_coeff exceeds block size")
    # levels, highest scan position first
    levels = []
    for i in range(t1s):
        levels.append(1 - 2 * r.bit())
    suffix_len = 1 if (total > 10 and t1s < 3) else 0
    for i in range(t1s, total):
        prefix = 0
        while r.bit() == 0:
            prefix += 1
            if prefix > 31:
                raise ValueError("level_prefix too long")
        if suffix_len == 0 and prefix == 14:
            size = 4
        elif prefix >= 15:
            size = prefix - 3
        else:
            size = suffix_len
        level_code = min(15, prefix) << suffix_len
        if size:
            level_code += r.bits(size)
        if prefix >= 15 and suffix_len == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if i == t1s and t1s < 3:
            level_code += 2
        level = (level_code + 2) >> 1 if level_code % 2 == 0 else -((level_code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total zeros
    if total == max_coeffs:
        total_zeros = 0
    elif nc == -1:
        total_zeros = _read_vlc(r, _CDCTZ_TRIES[total], "chroma_dc_total_zeros")
    else:
        total_zeros = _read_vlc(r, _TZ_TRIES[total], "total_zeros")
    # runs
    runs = []
    zeros_left = total_zeros
    for i in range(total - 1):
        if zeros_left > 0:
            run = _read_vlc(r, _RB_TRIES[min(zeros_left, 7)], "run_before")
        else:
            run = 0
        runs.append(run)
        zeros_left -= run
    runs.append(zeros_left)
    pos = -1
    for j in range(total - 1, -1, -1):
        pos += runs[j] + 1
        if pos >= max_coeffs:
            raise ValueError("coefficient run overflows block")
        out[pos] = levels[j]
    return out, total


def _write_level_code(w: _BitsW, level_code: int, s: int) -> None:
    """Emit (level_prefix, level_suffix) — the exact inverse of the
    9.2.2.1 decode arithmetic for current suffixLength ``s``."""
    if s == 0:
        if level_code < 14:
            w.bits(1, level_code + 1)  # level_code zeros then the stop 1
            return
        if level_code < 30:
            w.bits(1, 15)  # prefix 14, 4-bit suffix
            w.bits(level_code - 14, 4)
            return
        base_adj = 15  # decode adds +15 when prefix >= 15 and s == 0
    else:
        prefix = level_code >> s
        if prefix < 15:
            w.bits(1, prefix + 1)
            w.bits(level_code - (prefix << s), s)
            return
        base_adj = 0
    p = 15
    while True:
        base = (15 << s) + base_adj + (((1 << (p - 3)) - 4096) if p >= 16 else 0)
        suffix = level_code - base
        if 0 <= suffix < (1 << (p - 3)):
            w.bits(1, p + 1)
            w.bits(suffix, p - 3)
            return
        p += 1
        if p > 31:
            raise ValueError("level too large to encode")


def cavlc_encode_block(w: _BitsW, coeffs, nc: int, max_coeffs: int) -> int:
    """Encode a scan-ordered residual block; returns total_coeff."""
    coeffs = list(int(c) for c in coeffs)
    assert len(coeffs) == max_coeffs
    nz = [(i, c) for i, c in enumerate(coeffs) if c != 0]
    total = len(nz)
    # trailing ones (up to 3 trailing +-1, scanning from highest position)
    t1s = 0
    for _, c in reversed(nz):
        if abs(c) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    if total > 16:
        raise ValueError("too many coefficients")
    if nc == -1:
        w.code(_CT_CHROMA_DC[(t1s, total)])
    elif nc >= 8:
        if total == 0:
            w.bits(0b000011, 6)
        else:
            w.bits(((total - 1) << 2) | t1s, 6)
    else:
        ctx = 0 if nc < 2 else 1 if nc < 4 else 2
        w.code(COEFF_TOKEN_TABLES[ctx][(t1s, total)])
    if total == 0:
        return 0
    # levels: highest scan position first
    levels = [c for _, c in reversed(nz)]
    for i in range(t1s):
        w.bits(0 if levels[i] > 0 else 1, 1)
    suffix_len = 1 if (total > 10 and t1s < 3) else 0
    for i in range(t1s, total):
        level = levels[i]
        level_code = 2 * level - 2 if level > 0 else -2 * level - 1
        if i == t1s and t1s < 3:
            level_code -= 2
        _write_level_code(w, level_code, suffix_len)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total zeros + runs
    highest = nz[-1][0]
    total_zeros = highest + 1 - total
    if total != max_coeffs:
        if nc == -1:
            w.code(CHROMA_DC_TZ[total][total_zeros])
        else:
            w.code(TOTAL_ZEROS[total][total_zeros])
    zeros_left = total_zeros
    positions = [i for i, _ in nz]
    # run_before for each level in decode order (highest position first)
    for j in range(total - 1, 0, -1):
        run = positions[j] - positions[j - 1] - 1
        if zeros_left > 0:
            w.code(RUN_BEFORE[min(zeros_left, 7)][run])
        zeros_left -= run
    return total


# ---------------------------------------------------------------------------
# transforms and (de)quantization (8.5)
# ---------------------------------------------------------------------------


def inverse_transform_4x4(d: np.ndarray) -> np.ndarray:
    """Core inverse transform (8.5.12.2), output BEFORE the +32 >> 6."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    # horizontal
    e0 = d[:, 0] + d[:, 2]
    e1 = d[:, 0] - d[:, 2]
    e2 = (d[:, 1] >> 1) - d[:, 3]
    e3 = d[:, 1] + (d[:, 3] >> 1)
    e[:, 0] = e0 + e3
    e[:, 1] = e1 + e2
    e[:, 2] = e1 - e2
    e[:, 3] = e0 - e3
    # vertical
    f = np.empty_like(e)
    f0 = e[0, :] + e[2, :]
    f1 = e[0, :] - e[2, :]
    f2 = (e[1, :] >> 1) - e[3, :]
    f3 = e[1, :] + (e[3, :] >> 1)
    f[0, :] = f0 + f3
    f[1, :] = f1 + f2
    f[2, :] = f1 - f2
    f[3, :] = f0 - f3
    return f


def forward_transform_4x4(x: np.ndarray) -> np.ndarray:
    t = np.array([[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
                 dtype=np.int64)
    return t @ x.astype(np.int64) @ t.T


_H4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
               dtype=np.int64)
_H2 = np.array([[1, 1], [1, -1]], dtype=np.int64)


def dequant_4x4(c: np.ndarray, qp: int) -> np.ndarray:
    """AC / luma-4x4 dequant: exactly the 8.5.12.1 arithmetic (both qP
    regimes fold to one shift because LevelScale = 16 * v)."""
    return (c.astype(np.int64) * _V_MAT[qp % 6]) << (qp // 6)


def dequant_luma_dc(c: np.ndarray, qp: int) -> np.ndarray:
    """Intra16x16 luma DC: inverse Hadamard then 8.5.10 scaling."""
    f = _H4 @ c.astype(np.int64) @ _H4
    ls = 16 * _V[qp % 6][0]
    if qp >= 36:
        return (f * ls) << (qp // 6 - 6)
    shift = 6 - qp // 6
    return (f * ls + (1 << (shift - 1))) >> shift


def dequant_chroma_dc(c: np.ndarray, qpc: int) -> np.ndarray:
    """2x2 chroma DC: inverse Hadamard then 8.5.11 scaling."""
    f = _H2 @ c.astype(np.int64) @ _H2
    ls = 16 * _V[qpc % 6][0]
    return ((f * ls) << (qpc // 6)) >> 5


def quant_4x4(w: np.ndarray, qp: int, intra: bool = True) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // (3 if intra else 6)  # standard rounding offsets
    mf = _MF_MAT[qp % 6]
    return (np.sign(w) * ((np.abs(w.astype(np.int64)) * mf + f) >> qbits)).astype(np.int64)


def quant_luma_dc(dc: np.ndarray, qp: int) -> np.ndarray:
    f2 = _H4 @ dc.astype(np.int64) @ _H4  # forward Hadamard
    f2 = (f2 + 1) >> 1  # the spec's /2 on the forward DC path
    qbits = 15 + qp // 6
    rnd = 2 * ((1 << qbits) // 3)
    mf = _MF[qp % 6][0]
    return (np.sign(f2) * ((np.abs(f2) * mf + rnd) >> (qbits + 1))).astype(np.int64)


def quant_chroma_dc(dc: np.ndarray, qpc: int, intra: bool = True) -> np.ndarray:
    f2 = _H2 @ dc.astype(np.int64) @ _H2
    qbits = 15 + qpc // 6
    rnd = 2 * ((1 << qbits) // (3 if intra else 6))
    mf = _MF[qpc % 6][0]
    return (np.sign(f2) * ((np.abs(f2) * mf + rnd) >> (qbits + 1))).astype(np.int64)


# ---------------------------------------------------------------------------
# intra prediction (8.3) — availability derived from decode order
# ---------------------------------------------------------------------------

_BLK4_IDX = {pos: idx for idx, pos in enumerate(BLK4_POS)}


def _blk_order(bx: int, by: int, mb_w: int) -> int:
    """Global decode order of the 4x4 luma block at (bx, by)."""
    mb = (by // 4) * mb_w + (bx // 4)
    return mb * 16 + _BLK4_IDX[(bx % 4, by % 4)]


def _clip255(a):
    return np.clip(a, 0, 255)


def pred_4x4(plane: np.ndarray, x: int, y: int, mode: int,
             mb_w: int, w16: int, h16: int) -> np.ndarray:
    """One 4x4 luma prediction (modes 0-8) from reconstructed samples."""
    avail_l = x > 0
    avail_t = y > 0
    avail_tl = avail_l and avail_t
    order = _blk_order(x // 4, y // 4, mb_w)
    avail_tr = (
        x + 4 < w16 and y > 0
        and _blk_order((x + 4) // 4, (y - 1) // 4, mb_w) < order
    )
    t = np.zeros(8, dtype=np.int64)
    le = np.zeros(4, dtype=np.int64)
    tl = 0
    if avail_t:
        t[0:4] = plane[y - 1, x:x + 4]
        if avail_tr:
            t[4:8] = plane[y - 1, x + 4:x + 8]
        else:
            t[4:8] = t[3]  # the spec's top-right substitution
    if avail_l:
        le[:] = plane[y:y + 4, x - 1]
    if avail_tl:
        tl = int(plane[y - 1, x - 1])
    p = np.zeros((4, 4), dtype=np.int64)
    if mode == 0:  # Vertical
        if not avail_t:
            raise ValueError("intra4x4 V needs top samples")
        p[:, :] = t[0:4]
    elif mode == 1:  # Horizontal
        if not avail_l:
            raise ValueError("intra4x4 H needs left samples")
        p[:, :] = le[:, None]
    elif mode == 2:  # DC
        if avail_t and avail_l:
            p[:, :] = (t[0:4].sum() + le.sum() + 4) >> 3
        elif avail_t:
            p[:, :] = (t[0:4].sum() + 2) >> 2
        elif avail_l:
            p[:, :] = (le.sum() + 2) >> 2
        else:
            p[:, :] = 128
    elif mode == 3:  # Diagonal-Down-Left
        if not avail_t:
            raise ValueError("intra4x4 DDL needs top samples")
        for yy in range(4):
            for xx in range(4):
                if xx == 3 and yy == 3:
                    p[yy, xx] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    k = xx + yy
                    p[yy, xx] = (t[k] + 2 * t[k + 1] + t[k + 2] + 2) >> 2
    elif mode == 4:  # Diagonal-Down-Right
        if not (avail_t and avail_l and avail_tl):
            raise ValueError("intra4x4 DDR needs top+left samples")
        for yy in range(4):
            for xx in range(4):
                if xx > yy:
                    k = xx - yy
                    # (p[x-y-2,-1] + 2*p[x-y-1,-1] + p[x-y,-1] + 2) >> 2
                    s = [tl, t[0], t[1], t[2], t[3]]  # s[i] == p[i-1, -1]
                    p[yy, xx] = (s[k - 1] + 2 * s[k] + s[k + 1] + 2) >> 2
                elif xx < yy:
                    k = yy - xx
                    s = [tl, le[0], le[1], le[2], le[3]]
                    p[yy, xx] = (s[k - 1] + 2 * s[k] + s[k + 1] + 2) >> 2
                else:
                    p[yy, xx] = (t[0] + 2 * tl + le[0] + 2) >> 2
    elif mode == 5:  # Vertical-Right
        if not (avail_t and avail_l and avail_tl):
            raise ValueError("intra4x4 VR needs top+left samples")
        ext_t = [tl, t[0], t[1], t[2], t[3]]  # ext_t[i] == p[i-1, -1]
        for yy in range(4):
            for xx in range(4):
                z = 2 * xx - yy
                if z >= 0 and z % 2 == 0:
                    i = xx - (yy >> 1)
                    p[yy, xx] = (ext_t[i] + ext_t[i + 1] + 1) >> 1
                elif z >= 0:
                    i = xx - (yy >> 1)
                    p[yy, xx] = (ext_t[i - 1] + 2 * ext_t[i] + ext_t[i + 1] + 2) >> 2
                elif z == -1:
                    p[yy, xx] = (le[0] + 2 * tl + t[0] + 2) >> 2
                else:
                    p[yy, xx] = (le[yy - 1] + 2 * le[yy - 2] + (le[yy - 3] if yy >= 3 else tl) + 2) >> 2
    elif mode == 6:  # Horizontal-Down
        if not (avail_t and avail_l and avail_tl):
            raise ValueError("intra4x4 HD needs top+left samples")
        ext_l = [tl, le[0], le[1], le[2], le[3]]  # ext_l[i] == p[-1, i-1]
        for yy in range(4):
            for xx in range(4):
                z = 2 * yy - xx
                if z >= 0 and z % 2 == 0:
                    i = yy - (xx >> 1)
                    p[yy, xx] = (ext_l[i] + ext_l[i + 1] + 1) >> 1
                elif z >= 0:
                    i = yy - (xx >> 1)
                    p[yy, xx] = (ext_l[i - 1] + 2 * ext_l[i] + ext_l[i + 1] + 2) >> 2
                elif z == -1:
                    p[yy, xx] = (t[0] + 2 * tl + le[0] + 2) >> 2
                else:
                    p[yy, xx] = (t[xx - 1] + 2 * t[xx - 2] + (t[xx - 3] if xx >= 3 else tl) + 2) >> 2
    elif mode == 7:  # Vertical-Left
        if not avail_t:
            raise ValueError("intra4x4 VL needs top samples")
        for yy in range(4):
            for xx in range(4):
                i = xx + (yy >> 1)
                if yy % 2 == 0:
                    p[yy, xx] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    p[yy, xx] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
    elif mode == 8:  # Horizontal-Up
        if not avail_l:
            raise ValueError("intra4x4 HU needs left samples")
        for yy in range(4):
            for xx in range(4):
                z = xx + 2 * yy
                if z > 5:
                    p[yy, xx] = le[3]
                elif z == 5:
                    p[yy, xx] = (le[2] + 3 * le[3] + 2) >> 2
                elif z % 2 == 0:
                    i = yy + (xx >> 1)
                    p[yy, xx] = (le[i] + le[i + 1] + 1) >> 1
                else:
                    i = yy + (xx >> 1)
                    p[yy, xx] = (le[i] + 2 * le[i + 1] + le[i + 2] + 2) >> 2
    else:
        raise ValueError(f"invalid intra4x4 mode {mode}")
    return p


def legal_4x4_modes(x: int, y: int, mb_w: int, w16: int, h16: int) -> List[int]:
    avail_l = x > 0
    avail_t = y > 0
    modes = [2]
    if avail_t:
        modes += [0, 3, 7]
    if avail_l:
        modes += [1, 8]
    if avail_t and avail_l:
        modes += [4, 5, 6]
    return sorted(modes)


def pred_16x16(plane: np.ndarray, x: int, y: int, mode: int) -> np.ndarray:
    """Intra_16x16 prediction: 0 V, 1 H, 2 DC, 3 Plane (8.3.3)."""
    avail_l = x > 0
    avail_t = y > 0
    if mode == 0:
        if not avail_t:
            raise ValueError("intra16x16 V needs top samples")
        return np.tile(plane[y - 1, x:x + 16].astype(np.int64), (16, 1))
    if mode == 1:
        if not avail_l:
            raise ValueError("intra16x16 H needs left samples")
        return np.tile(plane[y:y + 16, x - 1].astype(np.int64)[:, None], (1, 16))
    if mode == 2:
        if avail_t and avail_l:
            dc = (int(plane[y - 1, x:x + 16].sum())
                  + int(plane[y:y + 16, x - 1].sum()) + 16) >> 5
        elif avail_t:
            dc = (int(plane[y - 1, x:x + 16].sum()) + 8) >> 4
        elif avail_l:
            dc = (int(plane[y:y + 16, x - 1].sum()) + 8) >> 4
        else:
            dc = 128
        return np.full((16, 16), dc, dtype=np.int64)
    if mode == 3:
        if not (avail_t and avail_l):
            raise ValueError("intra16x16 Plane needs top+left samples")
        t = plane[y - 1, x - 1:x + 16].astype(np.int64)  # t[0] is the corner
        le = plane[y - 1:y + 16, x - 1].astype(np.int64)  # le[0] is the corner
        h = sum((i + 1) * (int(t[9 + i]) - int(t[7 - i])) for i in range(8))
        v = sum((i + 1) * (int(le[9 + i]) - int(le[7 - i])) for i in range(8))
        a = 16 * (int(t[16]) + int(le[16]))
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        xs = np.arange(16, dtype=np.int64)
        grid = a + b * (xs[None, :] - 7) + c * (xs[:, None] - 7)
        return _clip255((grid + 16) >> 5)
    raise ValueError(f"invalid intra16x16 mode {mode}")


def pred_chroma(plane: np.ndarray, x: int, y: int, mode: int) -> np.ndarray:
    """8x8 chroma prediction: 0 DC (per-quadrant), 1 H, 2 V, 3 Plane."""
    avail_l = x > 0
    avail_t = y > 0
    if mode == 0:
        p = np.zeros((8, 8), dtype=np.int64)
        t = plane[y - 1, x:x + 8].astype(np.int64) if avail_t else None
        le = plane[y:y + 8, x - 1].astype(np.int64) if avail_l else None
        for qy in range(2):
            for qx in range(2):
                ts = int(t[qx * 4:qx * 4 + 4].sum()) if avail_t else 0
                ls = int(le[qy * 4:qy * 4 + 4].sum()) if avail_l else 0
                if qx == qy:  # corner quadrants use both when available
                    if avail_t and avail_l:
                        dc = (ts + ls + 4) >> 3
                    elif avail_t:
                        dc = (ts + 2) >> 2
                    elif avail_l:
                        dc = (ls + 2) >> 2
                    else:
                        dc = 128
                elif qx == 1:  # top-right: prefer its own top run
                    if avail_t:
                        dc = (ts + 2) >> 2
                    elif avail_l:
                        dc = (ls + 2) >> 2
                    else:
                        dc = 128
                else:  # bottom-left: prefer its own left run
                    if avail_l:
                        dc = (ls + 2) >> 2
                    elif avail_t:
                        dc = (ts + 2) >> 2
                    else:
                        dc = 128
                p[qy * 4:qy * 4 + 4, qx * 4:qx * 4 + 4] = dc
        return p
    if mode == 1:
        if not avail_l:
            raise ValueError("chroma H needs left samples")
        return np.tile(plane[y:y + 8, x - 1].astype(np.int64)[:, None], (1, 8))
    if mode == 2:
        if not avail_t:
            raise ValueError("chroma V needs top samples")
        return np.tile(plane[y - 1, x:x + 8].astype(np.int64), (8, 1))
    if mode == 3:
        if not (avail_t and avail_l):
            raise ValueError("chroma Plane needs top+left samples")
        t = plane[y - 1, x - 1:x + 8].astype(np.int64)
        le = plane[y - 1:y + 8, x - 1].astype(np.int64)
        h = sum((i + 1) * (int(t[5 + i]) - int(t[3 - i])) for i in range(4))
        v = sum((i + 1) * (int(le[5 + i]) - int(le[3 - i])) for i in range(4))
        a = 16 * (int(t[8]) + int(le[8]))
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        xs = np.arange(8, dtype=np.int64)
        grid = a + b * (xs[None, :] - 3) + c * (xs[:, None] - 3)
        return _clip255((grid + 16) >> 5)
    raise ValueError(f"invalid chroma mode {mode}")


# ---------------------------------------------------------------------------
# parameter sets and slice headers
# ---------------------------------------------------------------------------


class _SPS:
    __slots__ = ("mb_w", "mb_h", "crop", "fps", "log2_max_frame_num",
                 "poc_type", "log2_max_poc_lsb", "max_ref_frames",
                 "direct_8x8")


class _PPS:
    __slots__ = ("pic_init_qp", "chroma_qp_offset", "deblock_control",
                 "bottom_poc_present", "weighted_pred", "weighted_bipred")


def _parse_sps(rbsp: bytes) -> _SPS:
    r = _Bits(rbsp)
    profile_idc = r.bits(8)
    r.bits(8)  # constraint flags + reserved
    r.bits(8)  # level_idc
    r.ue()  # sps_id
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        raise ValueError("high-profile SPS unsupported (baseline intra only)")
    sps = _SPS()
    sps.log2_max_frame_num = r.ue() + 4
    sps.poc_type = r.ue()
    sps.log2_max_poc_lsb = 0
    if sps.poc_type == 0:
        sps.log2_max_poc_lsb = r.ue() + 4
    elif sps.poc_type == 1:
        r.bit()
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    sps.max_ref_frames = r.ue()
    r.bit()  # gaps_in_frame_num_value_allowed_flag
    sps.mb_w = r.ue() + 1
    sps.mb_h = r.ue() + 1
    if r.bit() == 0:
        raise ValueError("interlaced (frame_mbs_only_flag=0) unsupported")
    sps.direct_8x8 = r.bit()  # direct_8x8_inference_flag
    crop = (0, 0, 0, 0)
    if r.bit():  # frame_cropping_flag
        crop = (r.ue(), r.ue(), r.ue(), r.ue())
    sps.crop = crop
    sps.fps = 25.0
    if r.bit():  # vui_parameters_present_flag
        if r.bit():  # aspect_ratio_info_present
            if r.bits(8) == 255:
                r.bits(32)
        if r.bit():  # overscan_info_present
            r.bit()
        if r.bit():  # video_signal_type_present
            r.bits(4)
            if r.bit():
                r.bits(24)
        if r.bit():  # chroma_loc_info_present
            r.ue()
            r.ue()
        if r.bit():  # timing_info_present
            num_units = r.bits(32)
            time_scale = r.bits(32)
            r.bit()  # fixed_frame_rate_flag
            if num_units:
                sps.fps = time_scale / (2.0 * num_units)
    return sps


def _parse_pps(rbsp: bytes) -> _PPS:
    r = _Bits(rbsp)
    r.ue()  # pps_id
    r.ue()  # sps_id
    if r.bit():
        raise ValueError("CABAC (entropy_coding_mode_flag=1) unsupported")
    pps = _PPS()
    pps.bottom_poc_present = r.bit()
    if r.ue() != 0:
        raise ValueError("slice groups unsupported")
    if r.ue() != 0:  # num_ref_idx_l0_default_active_minus1
        raise ValueError("multiple reference frames unsupported")
    if r.ue() != 0:  # num_ref_idx_l1_default_active_minus1
        raise ValueError("multiple reference frames unsupported")
    pps.weighted_pred = r.bit()
    pps.weighted_bipred = r.bits(2)
    pps.pic_init_qp = 26 + r.se()
    r.se()  # pic_init_qs
    pps.chroma_qp_offset = r.se()
    pps.deblock_control = r.bit()
    if r.bit():
        raise ValueError("constrained_intra_pred unsupported")
    r.bit()  # redundant_pic_cnt_present
    return pps


# ---------------------------------------------------------------------------
# picture decode
# ---------------------------------------------------------------------------


def _nc_from_grid(grid: np.ndarray, bx: int, by: int) -> int:
    na = grid[by, bx - 1] if bx > 0 else -1
    nb = grid[by - 1, bx] if by > 0 else -1
    if na >= 0 and nb >= 0:
        return (int(na) + int(nb) + 1) >> 1
    if na >= 0:
        return int(na)
    if nb >= 0:
        return int(nb)
    return 0


def _decode_picture(r: _Bits, sps: _SPS, pps: _PPS, slice_qp: int,
                    kind: str = "I", ref=None, bctx=None):
    mb_w, mb_h = sps.mb_w, sps.mb_h
    w16, h16 = mb_w * 16, mb_h * 16
    y_p = np.zeros((h16, w16), dtype=np.int64)
    cb_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    cr_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    tc_y = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    tc_cb = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    tc_cr = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    i4_modes = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    mb_is_i4 = np.zeros((mb_h, mb_w), dtype=bool)
    mb_qp = np.zeros((mb_h, mb_w), dtype=np.int32)
    mv_g = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
    ref_g = np.full((mb_h * 4, mb_w * 4), -2, dtype=np.int8)
    mv_g1 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
    ref_g1 = np.full((mb_h * 4, mb_w * 4), -2, dtype=np.int8)
    qp = slice_qp

    def _skip_mb(mb_i):
        mb_x, mb_y = mb_i % mb_w, mb_i // mb_w
        px, py = mb_x * 16, mb_y * 16
        bx4, by4 = mb_x * 4, mb_y * 4
        if kind == "B":  # B_Skip: direct motion, no residual (8.4.1.2.1)
            parts = _direct_parts(bctx, mv_g, ref_g, mv_g1, ref_g1,
                                  bx4, by4)
            for ox, oy, w4, h4, mv0, mv1 in parts:
                _set_b_part(mv_g, ref_g, mv_g1, ref_g1,
                            bx4 + ox, by4 + oy, w4, h4, mv0, mv1)
            pr_y, pr_cb, pr_cr = _inter_pred_mb_b(bctx, px, py, parts)
        else:
            mv = mv_pskip(mv_g, ref_g, bx4, by4)
            pr_y, pr_cb, pr_cr = _inter_pred_mb(
                ref, px, py, [(0, 0, 4, 4, mv)])
            _set_mv_region(mv_g, ref_g, bx4, by4, 4, 4, mv)
        y_p[py:py + 16, px:px + 16] = pr_y
        cb_p[py // 2:py // 2 + 8, px // 2:px // 2 + 8] = pr_cb
        cr_p[py // 2:py // 2 + 8, px // 2:px // 2 + 8] = pr_cr
        tc_y[by4:by4 + 4, bx4:bx4 + 4] = 0
        tc_cb[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 0
        tc_cr[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 0
        mb_qp[mb_y, mb_x] = qp

    mb_i = 0
    n_mbs = mb_w * mb_h
    while mb_i < n_mbs:
        if kind in ("P", "B"):
            run = r.ue()
            for _ in range(run):
                if mb_i >= n_mbs:
                    raise ValueError("mb_skip_run past end of picture")
                _skip_mb(mb_i)
                mb_i += 1
            if mb_i >= n_mbs:
                break
        mb_x, mb_y = mb_i % mb_w, mb_i // mb_w
        mb_i += 1
        px, py = mb_x * 16, mb_y * 16
        cx, cy = mb_x * 8, mb_y * 8
        mb_type = r.ue()
        if kind == "P":
            if mb_type <= 4:  # inter macroblock
                qp = _decode_inter_mb(
                    r, mb_type, mb_x, mb_y, ref, y_p, cb_p, cr_p,
                    tc_y, tc_cb, tc_cr, mv_g, ref_g, pps, qp)
                mb_qp[mb_y, mb_x] = qp
                continue
            mb_type -= 5  # intra types are offset by 5 in P slices
        elif kind == "B":
            if mb_type <= 22:  # inter macroblock
                qp = _decode_b_mb(
                    r, mb_type, mb_x, mb_y, bctx, y_p, cb_p, cr_p,
                    tc_y, tc_cb, tc_cr, mv_g, ref_g, mv_g1, ref_g1,
                    pps, qp)
                mb_qp[mb_y, mb_x] = qp
                continue
            mb_type -= 23  # intra types are offset by 23 in B slices
        if mb_type == 25:  # I_PCM
            while r.pos % 8:
                if r.bit():
                    raise ValueError("nonzero pcm_alignment bit")
            blkY = np.array([r.bits(8) for _ in range(256)],
                            dtype=np.int64).reshape(16, 16)
            blkCb = np.array([r.bits(8) for _ in range(64)],
                             dtype=np.int64).reshape(8, 8)
            blkCr = np.array([r.bits(8) for _ in range(64)],
                             dtype=np.int64).reshape(8, 8)
            y_p[py:py + 16, px:px + 16] = blkY
            cb_p[cy:cy + 8, cx:cx + 8] = blkCb
            cr_p[cy:cy + 8, cx:cx + 8] = blkCr
            tc_y[mb_y * 4:mb_y * 4 + 4, mb_x * 4:mb_x * 4 + 4] = 16
            tc_cb[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 16
            tc_cr[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 16
            mb_qp[mb_y, mb_x] = 0  # I_PCM filters with QP 0 (8.7)
            ref_g[mb_y * 4:mb_y * 4 + 4, mb_x * 4:mb_x * 4 + 4] = -1
            ref_g1[mb_y * 4:mb_y * 4 + 4, mb_x * 4:mb_x * 4 + 4] = -1
            continue
        if mb_type > 25:
            raise ValueError(f"invalid I-slice mb_type {mb_type}")

        if mb_type == 0:  # I_4x4: pred modes, chroma mode, cbp, qp, residual
            mb_is_i4[mb_y, mb_x] = True
            modes = []
            for blk in range(16):
                bx4 = mb_x * 4 + BLK4_POS[blk][0]
                by4 = mb_y * 4 + BLK4_POS[blk][1]
                # predicted mode = min(left, top); DC when a neighbor is
                # unavailable or not itself I_4x4
                def _nbr_mode(nbx, nby):
                    if nbx < 0 or nby < 0:
                        return None
                    if i4_modes[nby, nbx] >= 0:
                        return int(i4_modes[nby, nbx])
                    if tc_y[nby, nbx] >= 0:
                        return 2  # decoded, but not an I_4x4 block
                    return None
                ma = _nbr_mode(bx4 - 1, by4)
                mb_ = _nbr_mode(bx4, by4 - 1)
                pred_mode = 2 if (ma is None or mb_ is None) else min(ma, mb_)
                if r.bit():  # prev_intra4x4_pred_mode_flag
                    mode = pred_mode
                else:
                    rem = r.bits(3)
                    mode = rem if rem < pred_mode else rem + 1
                modes.append(mode)
                i4_modes[by4, bx4] = mode
            chroma_mode = r.ue()
            if chroma_mode > 3:
                raise ValueError("invalid intra_chroma_pred_mode")
            cbp_code = r.ue()
            if cbp_code >= 48:
                raise ValueError("invalid coded_block_pattern")
            cbp = CBP_INTRA[cbp_code]
            cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
            if cbp:
                qp = (qp + r.se() + 52) % 52
            # residual parse (nC bookkeeping interleaves with parsing)
            luma_coeffs = [np.zeros(16, dtype=np.int64) for _ in range(16)]
            for i8 in range(4):
                for i4 in range(4):
                    blk = i8 * 4 + i4
                    bx4 = mb_x * 4 + BLK4_POS[blk][0]
                    by4 = mb_y * 4 + BLK4_POS[blk][1]
                    if cbp_luma & (1 << i8):
                        nc = _nc_from_grid(tc_y, bx4, by4)
                        luma_coeffs[blk], tc = cavlc_decode_block(r, nc, 16)
                        tc_y[by4, bx4] = tc
                    else:
                        tc_y[by4, bx4] = 0
            dc_cb, dc_cr, ac_cb, ac_cr = _parse_chroma_residual(
                r, cbp_chroma, tc_cb, tc_cr, mb_x, mb_y)
            # reconstruct blocks in decode order
            for blk in range(16):
                bx, by = BLK4_POS[blk]
                x, y = px + bx * 4, py + by * 4
                pred = pred_4x4(y_p, x, y, modes[blk], mb_w, w16, h16)
                res = np.zeros((4, 4), dtype=np.int64)
                if luma_coeffs[blk].any():
                    c = np.zeros((4, 4), dtype=np.int64)
                    c.flat[list(ZIGZAG4)] = luma_coeffs[blk]
                    res = (inverse_transform_4x4(dequant_4x4(c, qp)) + 32) >> 6
                y_p[y:y + 4, x:x + 4] = _clip255(pred + res)
        else:  # I_16x16
            k = mb_type - 1
            pred_mode16 = k % 12 % 4
            cbp_chroma = (k % 12) // 4
            cbp_luma = 15 if k >= 12 else 0
            chroma_mode = r.ue()
            if chroma_mode > 3:
                raise ValueError("invalid intra_chroma_pred_mode")
            qp = (qp + r.se() + 52) % 52
            # DC block: nC from luma blk 0's neighbors
            nc = _nc_from_grid(tc_y, mb_x * 4, mb_y * 4)
            dc_scan, _ = cavlc_decode_block(r, nc, 16)
            dc = np.zeros((4, 4), dtype=np.int64)
            dc.flat[list(ZIGZAG4)] = dc_scan
            ac_blocks = [np.zeros(15, dtype=np.int64) for _ in range(16)]
            for blk in range(16):
                bx4 = mb_x * 4 + BLK4_POS[blk][0]
                by4 = mb_y * 4 + BLK4_POS[blk][1]
                if cbp_luma:
                    nc = _nc_from_grid(tc_y, bx4, by4)
                    ac_blocks[blk], tc = cavlc_decode_block(r, nc, 15)
                    tc_y[by4, bx4] = tc
                else:
                    tc_y[by4, bx4] = 0
            dc_cb, dc_cr, ac_cb, ac_cr = _parse_chroma_residual(
                r, cbp_chroma, tc_cb, tc_cr, mb_x, mb_y)
            pred = pred_16x16(y_p, px, py, pred_mode16)
            dcq = dequant_luma_dc(dc, qp)
            for blk in range(16):
                bx, by = BLK4_POS[blk]
                c = np.zeros((4, 4), dtype=np.int64)
                c.flat[[ZIGZAG4[i + 1] for i in range(15)]] = ac_blocks[blk]
                d = dequant_4x4(c, qp)
                d[0, 0] = dcq[by, bx]
                res = (inverse_transform_4x4(d) + 32) >> 6
                y_p[py + by * 4:py + by * 4 + 4, px + bx * 4:px + bx * 4 + 4] = \
                    _clip255(pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)

        mb_qp[mb_y, mb_x] = qp
        ref_g[mb_y * 4:mb_y * 4 + 4, mb_x * 4:mb_x * 4 + 4] = -1
        ref_g1[mb_y * 4:mb_y * 4 + 4, mb_x * 4:mb_x * 4 + 4] = -1
        # chroma reconstruction (shared by I_4x4 and I_16x16)
        qpc = chroma_qp(qp, pps.chroma_qp_offset)
        for comp, plane, dcc, acc in (
            ("cb", cb_p, dc_cb, ac_cb), ("cr", cr_p, dc_cr, ac_cr)
        ):
            predc = pred_chroma(plane, cx, cy, chroma_mode)
            dcq = dequant_chroma_dc(dcc, qpc)
            for blk in range(4):
                bx, by = blk % 2, blk // 2
                c = np.zeros((4, 4), dtype=np.int64)
                c.flat[[ZIGZAG4[i + 1] for i in range(15)]] = acc[blk]
                d = dequant_4x4(c, qpc)
                d[0, 0] = dcq[by, bx]
                res = (inverse_transform_4x4(d) + 32) >> 6
                plane[cy + by * 4:cy + by * 4 + 4, cx + bx * 4:cx + bx * 4 + 4] = \
                    _clip255(predc[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)
    return y_p, cb_p, cr_p, mb_qp, mv_g, ref_g, tc_y, mv_g1, ref_g1


def _parse_chroma_residual(r, cbp_chroma, tc_cb, tc_cr, mb_x, mb_y):
    dc_cb = np.zeros((2, 2), dtype=np.int64)
    dc_cr = np.zeros((2, 2), dtype=np.int64)
    ac_cb = [np.zeros(15, dtype=np.int64) for _ in range(4)]
    ac_cr = [np.zeros(15, dtype=np.int64) for _ in range(4)]
    if cbp_chroma:
        for dc in (dc_cb, dc_cr):
            scan, _ = cavlc_decode_block(r, -1, 4)
            dc[0, 0], dc[0, 1], dc[1, 0], dc[1, 1] = scan
    for grid, acs in ((tc_cb, ac_cb), (tc_cr, ac_cr)):
        for blk in range(4):
            bx2 = mb_x * 2 + blk % 2
            by2 = mb_y * 2 + blk // 2
            if cbp_chroma == 2:
                nc = _nc_from_grid(grid, bx2, by2)
                acs[blk], tc = cavlc_decode_block(r, nc, 15)
                grid[by2, bx2] = tc
            else:
                grid[by2, bx2] = 0
    return dc_cb, dc_cr, ac_cb, ac_cr


def decode_h264(payload: bytes):
    """Decode a baseline Annex B stream (I, P, and B pictures).

    Returns ([(y, cb, cr) per picture], (width, height, fps)) with the
    frame-cropping window applied; pictures are in DISPLAY order
    (pic_order_cnt_type 0 streams are reordered by POC, type-2 streams
    keep decode order as the spec requires of them)."""
    sps = pps = None
    pics = []  # (era, poc_key, planes) — sorted for display at the end
    dpb = []   # short-term refs in decode order: dicts with poc/planes/motion
    era = 0
    prev_poc_msb = prev_poc_lsb = 0
    decode_seq = 0
    for nal_type, nal_ref_idc, rbsp in parse_annexb_nals(payload):
        if nal_type == 7:
            sps = _parse_sps(rbsp)
        elif nal_type == 8:
            pps = _parse_pps(rbsp)
        elif nal_type in (1, 5):
            if sps is None or pps is None:
                raise ValueError("slice before SPS/PPS")
            r = _Bits(rbsp)
            first_mb = r.ue()
            if first_mb != 0:
                raise ValueError("multi-slice pictures unsupported")
            slice_type = r.ue()
            st = slice_type % 5
            if st not in (0, 1, 2):
                raise ValueError("unsupported slice type (I/P/B only)")
            kind = {0: "P", 1: "B", 2: "I"}[st]
            if kind != "I" and nal_type == 5:
                raise ValueError("IDR picture cannot carry an inter slice")
            if kind == "P" and not dpb:
                raise ValueError("P slice without a decoded reference")
            if kind == "P" and pps.weighted_pred:
                raise ValueError("explicit weighted prediction unsupported")
            if kind == "B":
                if sps.poc_type != 0:
                    raise ValueError(
                        "B slices need pic_order_cnt_type 0")
                if pps.weighted_bipred != 0:
                    raise ValueError("weighted biprediction unsupported")
                if nal_ref_idc != 0:
                    raise ValueError("reference B pictures unsupported")
            r.ue()  # pps_id
            r.bits(sps.log2_max_frame_num)  # frame_num
            if nal_type == 5:
                r.ue()  # idr_pic_id
            if sps.poc_type == 0:
                lsb = r.bits(sps.log2_max_poc_lsb)
                if pps.bottom_poc_present:
                    r.se()  # delta_pic_order_cnt_bottom (frame coding)
                if nal_type == 5:
                    prev_poc_msb = prev_poc_lsb = 0
                    era += 1
                    dpb.clear()
                max_lsb = 1 << sps.log2_max_poc_lsb
                if (lsb < prev_poc_lsb
                        and prev_poc_lsb - lsb >= max_lsb // 2):
                    msb = prev_poc_msb + max_lsb
                elif (lsb > prev_poc_lsb
                        and lsb - prev_poc_lsb > max_lsb // 2):
                    msb = prev_poc_msb - max_lsb
                else:
                    msb = prev_poc_msb
                poc = msb + lsb
                if nal_ref_idc != 0:
                    prev_poc_msb, prev_poc_lsb = msb, lsb
            elif sps.poc_type == 1:
                raise ValueError("pic_order_cnt_type 1 unsupported")
            else:
                if nal_type == 5:
                    era += 1
                    dpb.clear()
                poc = None  # type 2: output order IS decode order
            poc_key = poc if poc is not None else 2 * decode_seq
            decode_seq += 1
            ref = bctx = None
            if kind == "P":
                ref = dpb[-1]["planes"]  # most recent ref = RefPicList0[0]
            elif kind == "B":
                past = [e for e in dpb if e["poc"] < poc]
                future = [e for e in dpb if e["poc"] > poc]
                if not past or not future:
                    raise ValueError(
                        "B slice needs references on both POC sides")
                l0 = max(past, key=lambda e: e["poc"])
                l1 = min(future, key=lambda e: e["poc"])
            if kind == "B":
                direct_spatial = r.bit()
            if kind in ("P", "B"):
                if r.bit():  # num_ref_idx_active_override_flag
                    if r.ue() != 0:
                        raise ValueError(
                            "multiple reference frames unsupported")
                    if kind == "B" and r.ue() != 0:
                        raise ValueError(
                            "multiple reference frames unsupported")
                if r.bit():  # ref_pic_list_modification_flag_l0
                    raise ValueError("ref pic list modification unsupported")
                if kind == "B" and r.bit():  # ..._flag_l1
                    raise ValueError("ref pic list modification unsupported")
            if kind == "B":
                bctx = {
                    "l0": l0["planes"], "l1": l1["planes"],
                    "col_mv": l1["mv_g"], "col_ref": l1["ref_g"],
                    "poc_cur": poc, "poc_l0": l0["poc"],
                    "poc_l1": l1["poc"],
                    "spatial": bool(direct_spatial),
                    "direct_8x8": bool(sps.direct_8x8),
                }
            if nal_type == 5:
                r.bit()  # no_output_of_prior_pics_flag
                r.bit()  # long_term_reference_flag
            elif nal_ref_idc != 0:
                if r.bit():  # adaptive_ref_pic_marking_mode_flag
                    raise ValueError("adaptive ref marking unsupported")
            slice_qp = pps.pic_init_qp + r.se()
            idc, off_a, off_b = 0, 0, 0
            if pps.deblock_control:
                idc = r.ue()
                if idc > 2:
                    raise ValueError("invalid disable_deblocking_filter_idc")
                if idc != 1:
                    off_a = 2 * r.se()
                    off_b = 2 * r.se()
            (y_p, cb_p, cr_p, mb_qp, mv_g, ref_g, nz_y,
             mv_g1, ref_g1) = _decode_picture(
                r, sps, pps, slice_qp, kind, ref, bctx)
            if idc != 1:  # idc 2 == 0 for single-slice pictures
                if kind == "P":
                    inter_info = (ref_g, mv_g, nz_y)
                elif kind == "B":
                    inter_info = (ref_g, mv_g, ref_g1, mv_g1, nz_y)
                else:
                    inter_info = None
                deblock_picture(y_p, cb_p, cr_p, mb_qp,
                                pps.chroma_qp_offset, off_a, off_b,
                                inter_info=inter_info)
            pics.append((era, poc_key, (y_p, cb_p, cr_p)))
            if nal_ref_idc != 0:
                # filtered picture is the ref; motion kept for temporal
                # direct / colZeroFlag in later B pictures
                dpb.append({"poc": poc_key, "planes": (y_p, cb_p, cr_p),
                            "mv_g": mv_g, "ref_g": ref_g})
                limit = max(1, sps.max_ref_frames)
                if len(dpb) > limit:  # sliding-window marking (8.2.5.3)
                    del dpb[0]
        elif nal_type in (6, 9, 10, 11, 12):
            continue  # SEI / AU delimiter / end markers: ignorable
        else:
            raise ValueError(f"unsupported NAL unit type {nal_type}")
    if sps is None or not pics:
        raise ValueError("no decodable pictures")
    pics.sort(key=lambda p: (p[0], p[1]))
    frames = [p[2] for p in pics]
    left, right, top, bottom = sps.crop
    w = sps.mb_w * 16 - 2 * (left + right)
    h = sps.mb_h * 16 - 2 * (top + bottom)
    out = []
    for y, cb, cr in frames:
        ly, lx = 2 * top, 2 * left
        out.append((
            y[ly:ly + h, lx:lx + w].astype(np.uint8),
            cb[top:top + h // 2, left:left + w // 2].astype(np.uint8),
            cr[top:top + h // 2, left:left + w // 2].astype(np.uint8),
        ))
    return out, (w, h, sps.fps)


def rgb_to_ycbcr420(rgb: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encoder-side companion (JFIF full-range, 2x2 mean subsampling)."""
    f = rgb.astype(np.float64)
    y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    cb = 128.0 - 0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2]
    cr = 128.0 + 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2]

    def sub(p):
        h, w = p.shape
        return p.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))

    return (
        np.clip(y + 0.5, 0, 255).astype(np.uint8),
        np.clip(sub(cb) + 0.5, 0, 255).astype(np.uint8),
        np.clip(sub(cr) + 0.5, 0, 255).astype(np.uint8),
    )


# ---------------------------------------------------------------------------
# encoder twin — real per-MB decisions, bit-exact in-loop reconstruction
# ---------------------------------------------------------------------------


def _sad(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.abs(a.astype(np.int64) - b.astype(np.int64)).sum())


def _scan16(c: np.ndarray) -> np.ndarray:
    return c.flat[list(ZIGZAG4)]


def _scan15(c: np.ndarray) -> np.ndarray:
    return c.flat[[ZIGZAG4[i + 1] for i in range(15)]]


def _encode_luma_i16(y_p, px, py, src, qp):
    """Best Intra_16x16 trial: returns (bundle, recon, score)."""
    modes = [2]
    if py > 0:
        modes.append(0)
    if px > 0:
        modes.append(1)
    if px > 0 and py > 0:
        modes.append(3)
    best = min(modes, key=lambda m: (_sad(pred_16x16(y_p, px, py, m), src), m))
    pred = pred_16x16(y_p, px, py, best)
    resid = src.astype(np.int64) - pred
    dc = np.zeros((4, 4), dtype=np.int64)
    acq = []
    for blk in range(16):
        bx, by = BLK4_POS[blk]
        w = forward_transform_4x4(resid[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
        dc[by, bx] = w[0, 0]
        wq = quant_4x4(w, qp)
        wq[0, 0] = 0
        acq.append(wq)
    dcq_lv = quant_luma_dc(dc, qp)
    cbp_luma = 15 if any(a.any() for a in acq) else 0
    # mirror the decoder's reconstruction exactly
    recon = np.zeros((16, 16), dtype=np.int64)
    dcd = dequant_luma_dc(_unscan_dc(_scan16(dcq_lv)), qp)
    ncoef = int(np.count_nonzero(dcq_lv))
    for blk in range(16):
        bx, by = BLK4_POS[blk]
        lv = acq[blk] if cbp_luma else np.zeros((4, 4), dtype=np.int64)
        d = dequant_4x4(lv, qp)
        d[0, 0] = dcd[by, bx]
        res = (inverse_transform_4x4(d) + 32) >> 6
        recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = _clip255(
            pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)
        ncoef += int(np.count_nonzero(lv))
    ssd = int(((recon - src.astype(np.int64)) ** 2).sum())
    bundle = {
        "kind": "I16", "mode": best, "cbp_luma": cbp_luma,
        "dc_scan": _scan16(dcq_lv),
        "ac_scans": [_scan15(a) for a in acq],
    }
    return bundle, recon, ssd + 24 * ncoef


def _unscan_dc(scan: np.ndarray) -> np.ndarray:
    c = np.zeros((4, 4), dtype=np.int64)
    c.flat[list(ZIGZAG4)] = scan
    return c


def _encode_luma_i4(y_p, px, py, src, qp, mb_w, w16, h16, i4_modes, tc_y,
                    mb_x, mb_y):
    """Best Intra_4x4 trial. Writes recon into a scratch copy of the MB
    region of ``y_p`` while searching (prediction context), restores it,
    and returns everything needed to commit."""
    saved = y_p[py:py + 16, px:px + 16].copy()
    local_modes = {}
    modes = []
    coeff_scans = []
    ncoef = 0

    def nbr_mode(nbx, nby):
        if nbx < 0 or nby < 0:
            return None
        if (nbx, nby) in local_modes:
            return local_modes[(nbx, nby)]
        if i4_modes[nby, nbx] >= 0:
            return int(i4_modes[nby, nbx])
        if tc_y[nby, nbx] >= 0:
            return 2
        return None

    for blk in range(16):
        bx, by = BLK4_POS[blk]
        x, y = px + bx * 4, py + by * 4
        blk_src = src[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4].astype(np.int64)
        legal = legal_4x4_modes(x, y, mb_w, w16, h16)
        best = min(legal, key=lambda m: (_sad(pred_4x4(
            y_p, x, y, m, mb_w, w16, h16), blk_src), m))
        pred = pred_4x4(y_p, x, y, best, mb_w, w16, h16)
        w = forward_transform_4x4(blk_src - pred)
        lv = quant_4x4(w, qp)
        res = (inverse_transform_4x4(dequant_4x4(lv, qp)) + 32) >> 6
        y_p[y:y + 4, x:x + 4] = _clip255(pred + res)
        modes.append(best)
        local_modes[(mb_x * 4 + bx, mb_y * 4 + by)] = best
        coeff_scans.append(_scan16(lv))
        ncoef += int(np.count_nonzero(lv))
    recon = y_p[py:py + 16, px:px + 16].copy()
    y_p[py:py + 16, px:px + 16] = saved
    cbp_luma = 0
    for i8 in range(4):
        if any(coeff_scans[i8 * 4 + i4].any() for i4 in range(4)):
            cbp_luma |= 1 << i8
    ssd = int(((recon - src.astype(np.int64)) ** 2).sum())
    bundle = {"kind": "I4", "modes": modes, "cbp_luma": cbp_luma,
              "coeff_scans": coeff_scans}
    return bundle, recon, ssd + 24 * ncoef


def _encode_chroma(cb_p, cr_p, cx, cy, src_cb, src_cr, qpc):
    modes = [0]
    if cx > 0:
        modes.append(1)
    if cy > 0:
        modes.append(2)
    if cx > 0 and cy > 0:
        modes.append(3)
    best = min(modes, key=lambda m: (
        _sad(pred_chroma(cb_p, cx, cy, m), src_cb)
        + _sad(pred_chroma(cr_p, cx, cy, m), src_cr), m))
    out = {"mode": best}
    any_dc = False
    any_ac = False
    for name, plane, src in (("cb", cb_p, src_cb), ("cr", cr_p, src_cr)):
        pred = pred_chroma(plane, cx, cy, best)
        resid = src.astype(np.int64) - pred
        dc = np.zeros((2, 2), dtype=np.int64)
        acq = []
        for blk in range(4):
            bx, by = blk % 2, blk // 2
            w = forward_transform_4x4(resid[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
            dc[by, bx] = w[0, 0]
            wq = quant_4x4(w, qpc)
            wq[0, 0] = 0
            acq.append(wq)
        dcq = quant_chroma_dc(dc, qpc)
        any_dc = any_dc or bool(dcq.any())
        any_ac = any_ac or any(a.any() for a in acq)
        out[name] = {"pred": pred, "dcq": dcq, "acq": acq}
    out["cbp_chroma"] = 2 if any_ac else (1 if any_dc else 0)
    return out


def _commit_chroma(cb_p, cr_p, cx, cy, ch, qpc):
    cbp_chroma = ch["cbp_chroma"]
    ncoef = 0
    for name, plane in (("cb", cb_p), ("cr", cr_p)):
        info = ch[name]
        dcq = info["dcq"] if cbp_chroma else np.zeros((2, 2), dtype=np.int64)
        dcd = dequant_chroma_dc(dcq, qpc)
        for blk in range(4):
            bx, by = blk % 2, blk // 2
            lv = info["acq"][blk] if cbp_chroma == 2 else np.zeros(
                (4, 4), dtype=np.int64)
            d = dequant_4x4(lv, qpc)
            d[0, 0] = dcd[by, bx]
            res = (inverse_transform_4x4(d) + 32) >> 6
            plane[cy + by * 4:cy + by * 4 + 4, cx + bx * 4:cx + bx * 4 + 4] = \
                _clip255(info["pred"][by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)
            ncoef += int(np.count_nonzero(lv))
    return ncoef


def _encode_picture(w: _BitsW, src_y, src_cb, src_cr, qp0: int,
                    chroma_qp_offset: int, pcm_every: int, qp_wobble: int):
    h16, w16 = src_y.shape
    mb_w, mb_h = w16 // 16, h16 // 16
    y_p = np.zeros((h16, w16), dtype=np.int64)
    cb_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    cr_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    tc_y = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    tc_cb = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    tc_cr = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    i4_modes = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    mb_qp = np.zeros((mb_h, mb_w), dtype=np.int32)
    qp_prev = qp0

    for mb_i in range(mb_w * mb_h):
        mb_x, mb_y = mb_i % mb_w, mb_i // mb_w
        px, py = mb_x * 16, mb_y * 16
        cx, cy = mb_x * 8, mb_y * 8
        sy = src_y[py:py + 16, px:px + 16]
        scb = src_cb[cy:cy + 8, cx:cx + 8]
        scr = src_cr[cy:cy + 8, cx:cx + 8]
        if pcm_every and mb_i % pcm_every == pcm_every - 1:
            w.ue(25)
            w.align_byte()
            for v in sy.flat:
                w.bits(int(v), 8)
            for v in scb.flat:
                w.bits(int(v), 8)
            for v in scr.flat:
                w.bits(int(v), 8)
            y_p[py:py + 16, px:px + 16] = sy
            cb_p[cy:cy + 8, cx:cx + 8] = scb
            cr_p[cy:cy + 8, cx:cx + 8] = scr
            tc_y[mb_y * 4:mb_y * 4 + 4, mb_x * 4:mb_x * 4 + 4] = 16
            tc_cb[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 16
            tc_cr[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 16
            mb_qp[mb_y, mb_x] = 0  # I_PCM filters with QP 0 (8.7)
            continue
        qp_want = qp0
        if qp_wobble:
            qp_want = max(0, min(51, qp0 + (qp_wobble if mb_i % 2 else -qp_wobble)))
        i16, recon16, score16 = _encode_luma_i16(y_p, px, py, sy, qp_want)
        i4, recon4, score4 = _encode_luma_i4(
            y_p, px, py, sy, qp_want, mb_w, w16, h16, i4_modes, tc_y, mb_x, mb_y)
        choose = i16 if score16 <= score4 else i4
        recon = recon16 if choose is i16 else recon4
        qpc = chroma_qp(qp_want, chroma_qp_offset)
        ch = _encode_chroma(cb_p, cr_p, cx, cy, scb, scr, qpc)
        cbp_chroma = ch["cbp_chroma"]
        cbp_luma = choose["cbp_luma"]

        if choose["kind"] == "I16":
            mb_type = 1 + choose["mode"] + 4 * cbp_chroma + (
                12 if cbp_luma else 0)
            w.ue(mb_type)
            w.ue(ch["mode"])
            w.se(_qp_delta(qp_want, qp_prev))
            qp_used = qp_prev = _qp_apply(qp_prev, _qp_delta(qp_want, qp_prev))
            qpc = chroma_qp(qp_used, chroma_qp_offset)
            nc = _nc_from_grid(tc_y, mb_x * 4, mb_y * 4)
            cavlc_encode_block(w, choose["dc_scan"], nc, 16)
            for blk in range(16):
                bx4 = mb_x * 4 + BLK4_POS[blk][0]
                by4 = mb_y * 4 + BLK4_POS[blk][1]
                if cbp_luma:
                    nc = _nc_from_grid(tc_y, bx4, by4)
                    tc = cavlc_encode_block(w, choose["ac_scans"][blk], nc, 15)
                    tc_y[by4, bx4] = tc
                else:
                    tc_y[by4, bx4] = 0
        else:
            w.ue(0)
            for blk in range(16):
                bx4 = mb_x * 4 + BLK4_POS[blk][0]
                by4 = mb_y * 4 + BLK4_POS[blk][1]
                mode = choose["modes"][blk]
                pred_mode = _pred_mode_enc(i4_modes, tc_y, bx4, by4)
                if mode == pred_mode:
                    w.bits(1, 1)
                else:
                    w.bits(0, 1)
                    rem = mode if mode < pred_mode else mode - 1
                    w.bits(rem, 3)
                i4_modes[by4, bx4] = mode
            w.ue(ch["mode"])
            cbp = cbp_luma | (cbp_chroma << 4)
            w.ue(_CBP_INTRA_INV[cbp])
            if cbp:
                w.se(_qp_delta(qp_want, qp_prev))
                qp_prev = _qp_apply(qp_prev, _qp_delta(qp_want, qp_prev))
            qp_used = qp_prev
            qpc = chroma_qp(qp_used, chroma_qp_offset)
            for i8 in range(4):
                for i4x in range(4):
                    blk = i8 * 4 + i4x
                    bx4 = mb_x * 4 + BLK4_POS[blk][0]
                    by4 = mb_y * 4 + BLK4_POS[blk][1]
                    if cbp_luma & (1 << i8):
                        nc = _nc_from_grid(tc_y, bx4, by4)
                        tc = cavlc_encode_block(
                            w, choose["coeff_scans"][blk], nc, 16)
                        tc_y[by4, bx4] = tc
                    else:
                        tc_y[by4, bx4] = 0

        # chroma residual syntax (shared)
        if cbp_chroma:
            for comp in ("cb", "cr"):
                dcq = ch[comp]["dcq"]
                scan = np.array([dcq[0, 0], dcq[0, 1], dcq[1, 0], dcq[1, 1]],
                                dtype=np.int64)
                cavlc_encode_block(w, scan, -1, 4)
        for comp, grid in (("cb", tc_cb), ("cr", tc_cr)):
            for blk in range(4):
                bx2 = mb_x * 2 + blk % 2
                by2 = mb_y * 2 + blk // 2
                if cbp_chroma == 2:
                    nc = _nc_from_grid(grid, bx2, by2)
                    tc = cavlc_encode_block(w, _scan15(ch[comp]["acq"][blk]),
                                            nc, 15)
                    grid[by2, bx2] = tc
                else:
                    grid[by2, bx2] = 0

        # NOTE the committed reconstruction used qp_want in the trials;
        # qp_used == qp_want whenever a delta was signalable, and when it
        # was not (I_4x4 with cbp == 0) the residual is all-zero so the
        # reconstruction is qp-independent.
        y_p[py:py + 16, px:px + 16] = recon
        _commit_chroma(cb_p, cr_p, cx, cy, ch, qpc)
        mb_qp[mb_y, mb_x] = qp_used

    return y_p, cb_p, cr_p, mb_qp


def _qp_delta(want: int, prev: int) -> int:
    d = want - prev
    if d < -26:
        d += 52
    elif d > 25:
        d -= 52
    return d


def _qp_apply(prev: int, delta: int) -> int:
    return (prev + delta + 52) % 52


def _pred_mode_enc(i4_modes, tc_y, bx4, by4) -> int:
    def nbr(nbx, nby):
        if nbx < 0 or nby < 0:
            return None
        if i4_modes[nby, nbx] >= 0:
            return int(i4_modes[nby, nbx])
        if tc_y[nby, nbx] >= 0:
            return 2
        return None
    ma = nbr(bx4 - 1, by4)
    mb_ = nbr(bx4, by4 - 1)
    return 2 if (ma is None or mb_ is None) else min(ma, mb_)


def _nal(nal_ref_idc: int, nal_type: int, rbsp: bytes) -> bytes:
    return (b"\x00\x00\x00\x01" + bytes([(nal_ref_idc << 5) | nal_type])
            + _rbsp_to_ebsp(rbsp))


def _write_sps(mb_w, mb_h, crop, fps, poc_type=2, max_refs=1) -> bytes:
    w = _BitsW()
    w.bits(66, 8)   # profile_idc: baseline
    w.bits(0, 8)    # constraint flags / reserved
    w.bits(30, 8)   # level_idc 3.0
    w.ue(0)         # sps_id
    w.ue(0)         # log2_max_frame_num_minus4
    w.ue(poc_type)  # pic_order_cnt_type
    if poc_type == 0:
        w.ue(4)     # log2_max_pic_order_cnt_lsb_minus4 (8-bit lsb)
    w.ue(max_refs)  # max_num_ref_frames
    w.bits(0, 1)    # gaps_in_frame_num_value_allowed
    w.ue(mb_w - 1)
    w.ue(mb_h - 1)
    w.bits(1, 1)    # frame_mbs_only
    w.bits(1, 1)    # direct_8x8_inference
    if any(crop):
        w.bits(1, 1)
        for v in crop:
            w.ue(v)
    else:
        w.bits(0, 1)
    w.bits(1, 1)    # vui_parameters_present
    w.bits(0, 1)    # aspect_ratio_info_present
    w.bits(0, 1)    # overscan_info_present
    w.bits(0, 1)    # video_signal_type_present
    w.bits(0, 1)    # chroma_loc_info_present
    w.bits(1, 1)    # timing_info_present
    w.bits(1000, 32)                     # num_units_in_tick
    w.bits(int(round(fps * 2000)), 32)   # time_scale
    w.bits(1, 1)    # fixed_frame_rate
    w.bits(0, 1)    # nal_hrd_parameters_present
    w.bits(0, 1)    # vcl_hrd_parameters_present
    w.bits(0, 1)    # pic_struct_present
    w.bits(0, 1)    # bitstream_restriction
    w.trailing()
    return w.bytes_out()


def _write_pps() -> bytes:
    w = _BitsW()
    w.ue(0)         # pps_id
    w.ue(0)         # sps_id
    w.bits(0, 1)    # entropy_coding_mode: CAVLC
    w.bits(0, 1)    # bottom_field_pic_order_in_frame_present
    w.ue(0)         # num_slice_groups_minus1
    w.ue(0)         # num_ref_idx_l0
    w.ue(0)         # num_ref_idx_l1
    w.bits(0, 1)    # weighted_pred
    w.bits(0, 2)    # weighted_bipred_idc
    w.se(0)         # pic_init_qp_minus26
    w.se(0)         # pic_init_qs_minus26
    w.se(0)         # chroma_qp_index_offset
    w.bits(1, 1)    # deblocking_filter_control_present
    w.bits(0, 1)    # constrained_intra_pred
    w.bits(0, 1)    # redundant_pic_cnt_present
    w.trailing()
    return w.bytes_out()


def _gop_encode_order(n, gop, b_frames):
    """Display -> encode reordering for IbbPbbP GOPs: an IDR every
    ``gop`` display frames, anchor P pictures every ``b_frames + 1``
    displays, the B pictures between two anchors encoded after their
    FUTURE anchor (classic decode order). Trailing displays that cannot
    have a future anchor become P pictures. Returns
    [(display_idx, kind)] in encode order."""
    order = []
    d = 0
    while d < n:
        if gop > 1 and d % gop == 0:
            order.append((d, "I"))
            d += 1
            continue
        next_idr = ((d // gop) + 1) * gop
        boundary = min(n - 1, next_idr - 1)
        anchor = min(d + b_frames, boundary)
        order.append((anchor, "P"))
        for b in range(d, anchor):
            order.append((b, "B"))
        d = anchor + 1
    return order


def _encode_stream(frames_rgb, qp, fps, pcm_every, qp_wobble, deblock, gop,
                   b_frames=0, direct_spatial=False, b_shape_every=0):
    """Shared encoder core: returns (annex_b_bytes, [(y, cb, cr) recon])
    with recon = the in-loop reference pictures (filtered when
    ``deblock``), cropped to the source geometry and in DISPLAY order.
    ``b_frames > 0`` switches to pic_order_cnt_type 0 + two reference
    frames and emits IbbP GOPs (B pictures non-reference)."""
    if not frames_rgb:
        raise ValueError("no frames")
    if not 0 <= qp <= 51:
        raise ValueError("qp out of range")
    if b_frames:
        if gop <= 1:
            raise ValueError("b_frames requires an inter GOP (gop > 1)")
        return _encode_stream_b(frames_rgb, qp, fps, pcm_every, qp_wobble,
                                deblock, gop, b_frames, direct_spatial,
                                b_shape_every)
    h, wd = frames_rgb[0].shape[:2]
    if h % 2 or wd % 2:
        raise ValueError("frame dims must be even (4:2:0)")
    mb_w, mb_h = (wd + 15) // 16, (h + 15) // 16
    crop_r = (mb_w * 16 - wd) // 2
    crop_b = (mb_h * 16 - h) // 2
    out = bytearray()
    out += _nal(3, 7, _write_sps(mb_w, mb_h, (0, crop_r, 0, crop_b), fps))
    out += _nal(3, 8, _write_pps())
    recons = []
    prev_ref = None
    frame_num = 0
    for fi, rgb in enumerate(frames_rgb):
        if rgb.shape[:2] != (h, wd):
            raise ValueError("all frames must share one geometry")
        is_idr = gop <= 1 or fi % gop == 0
        y, cb, cr = rgb_to_ycbcr420(rgb)
        y = np.pad(y, ((0, mb_h * 16 - h), (0, mb_w * 16 - wd)), mode="edge")
        cb = np.pad(cb, ((0, (mb_h * 16 - h) // 2), (0, (mb_w * 16 - wd) // 2)),
                    mode="edge")
        cr = np.pad(cr, ((0, (mb_h * 16 - h) // 2), (0, (mb_w * 16 - wd) // 2)),
                    mode="edge")
        w = _BitsW()
        w.ue(0)                      # first_mb_in_slice
        w.ue(7 if is_idr else 5)     # slice_type: I / P (all-same variants)
        w.ue(0)                      # pps_id
        if is_idr:
            frame_num = 0
        w.bits(frame_num, 4)         # frame_num
        if is_idr:
            w.ue(fi % 2)             # idr_pic_id (differs between IDRs)
        else:
            w.bits(0, 1)             # num_ref_idx_active_override_flag
            w.bits(0, 1)             # ref_pic_list_modification_flag_l0
        if is_idr:
            w.bits(0, 1)             # no_output_of_prior_pics
            w.bits(0, 1)             # long_term_reference
        else:
            w.bits(0, 1)             # adaptive_ref_pic_marking_mode_flag
        frame_num = (frame_num + 1) % 16
        w.se(qp - 26)                # slice_qp_delta
        if deblock:
            w.ue(0)                  # disable_deblocking_filter_idc: on
            w.se(0)
            w.se(0)
        else:
            w.ue(1)
        if is_idr:
            yp, cbp, crp, mb_qp = _encode_picture(
                w, y.astype(np.int64), cb.astype(np.int64),
                cr.astype(np.int64), qp, 0, pcm_every, qp_wobble)
            inter_info = None
        else:
            yp, cbp, crp, mb_qp, mv_g, ref_g, nz_y = _encode_p_picture(
                w, y.astype(np.int64), cb.astype(np.int64),
                cr.astype(np.int64), prev_ref, qp, 0,
                p8x8_every=pcm_every)
            inter_info = (ref_g, mv_g, nz_y)
        w.trailing()
        out += _nal(3, 5 if is_idr else 1, w.bytes_out())
        if deblock:
            deblock_picture(yp, cbp, crp, mb_qp, inter_info=inter_info)
        prev_ref = (yp, cbp, crp)
        recons.append((
            yp[:h, :wd].astype(np.uint8),
            cbp[:h // 2, :wd // 2].astype(np.uint8),
            crp[:h // 2, :wd // 2].astype(np.uint8),
        ))
    return bytes(out), recons


def _encode_stream_b(frames_rgb, qp, fps, pcm_every, qp_wobble, deblock,
                     gop, b_frames, direct_spatial, b_shape_every):
    """Encoder core for IbbP GOPs (pic_order_cnt_type 0, two reference
    frames, non-reference B pictures). frame_num follows 7.4.3: each
    reference picture increments it, non-reference pictures carry the
    value the next reference will use. POC = 2 x display index within
    the GOP, written as an 8-bit lsb (the decoder's 8.2.1.1 wraparound
    handles longer GOPs)."""
    h, wd = frames_rgb[0].shape[:2]
    if h % 2 or wd % 2:
        raise ValueError("frame dims must be even (4:2:0)")
    mb_w, mb_h = (wd + 15) // 16, (h + 15) // 16
    crop_r = (mb_w * 16 - wd) // 2
    crop_b = (mb_h * 16 - h) // 2
    out = bytearray()
    out += _nal(3, 7, _write_sps(mb_w, mb_h, (0, crop_r, 0, crop_b), fps,
                                 poc_type=0, max_refs=2))
    out += _nal(3, 8, _write_pps())

    def _pad(rgb):
        y, cb, cr = rgb_to_ycbcr420(rgb)
        y = np.pad(y, ((0, mb_h * 16 - h), (0, mb_w * 16 - wd)),
                   mode="edge")
        cb = np.pad(cb, ((0, (mb_h * 16 - h) // 2),
                         (0, (mb_w * 16 - wd) // 2)), mode="edge")
        cr = np.pad(cr, ((0, (mb_h * 16 - h) // 2),
                         (0, (mb_w * 16 - wd) // 2)), mode="edge")
        return (y.astype(np.int64), cb.astype(np.int64),
                cr.astype(np.int64))

    order = _gop_encode_order(len(frames_rgb), gop, b_frames)
    recons: List = [None] * len(frames_rgb)
    ref_dpb: List[dict] = []  # mirrors the decoder's short-term DPB
    prev_ref_fn = 0
    idr_count = 0
    for d, kind in order:
        rgb = frames_rgb[d]
        if rgb.shape[:2] != (h, wd):
            raise ValueError("all frames must share one geometry")
        y, cb, cr = _pad(rgb)
        poc = 2 * (d % gop)
        if kind == "I":
            frame_num = 0
            prev_ref_fn = 0
        elif kind == "P":
            frame_num = prev_ref_fn = (prev_ref_fn + 1) % 16
        else:
            frame_num = (prev_ref_fn + 1) % 16  # non-ref: next ref's value
        w = _BitsW()
        w.ue(0)                          # first_mb_in_slice
        w.ue({"I": 7, "P": 5, "B": 6}[kind])  # all-same slice_type
        w.ue(0)                          # pps_id
        w.bits(frame_num, 4)             # frame_num
        if kind == "I":
            w.ue(idr_count % 2)          # idr_pic_id
        w.bits(poc, 8)                   # pic_order_cnt_lsb
        if kind == "B":
            w.bits(1 if direct_spatial else 0, 1)
        if kind in ("P", "B"):
            w.bits(0, 1)                 # num_ref_idx_active_override
            w.bits(0, 1)                 # ref_pic_list_modification_l0
            if kind == "B":
                w.bits(0, 1)             # ref_pic_list_modification_l1
        if kind == "I":
            w.bits(0, 1)                 # no_output_of_prior_pics
            w.bits(0, 1)                 # long_term_reference
        elif kind == "P":
            w.bits(0, 1)                 # adaptive_ref_pic_marking
        w.se(qp - 26)                    # slice_qp_delta
        if deblock:
            w.ue(0)
            w.se(0)
            w.se(0)
        else:
            w.ue(1)
        if kind == "I":
            idr_count += 1
            ref_dpb.clear()
            yp, cbp, crp, mb_qp = _encode_picture(
                w, y, cb, cr, qp, 0, pcm_every, qp_wobble)
            mv_g = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
            ref_g = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int8)
            inter_info = None
        elif kind == "P":
            l0 = ref_dpb[-1]  # RefPicList0[0] = most recent ref
            yp, cbp, crp, mb_qp, mv_g, ref_g, nz_y = _encode_p_picture(
                w, y, cb, cr, l0["planes"], qp, 0, p8x8_every=pcm_every)
            inter_info = (ref_g, mv_g, nz_y)
        else:
            l0 = max((e for e in ref_dpb if e["poc"] < poc),
                     key=lambda e: e["poc"])
            l1 = min((e for e in ref_dpb if e["poc"] > poc),
                     key=lambda e: e["poc"])
            bctx = {
                "l0": l0["planes"], "l1": l1["planes"],
                "col_mv": l1["mv_g"], "col_ref": l1["ref_g"],
                "poc_cur": poc, "poc_l0": l0["poc"], "poc_l1": l1["poc"],
                "spatial": bool(direct_spatial), "direct_8x8": True,
            }
            (yp, cbp, crp, mb_qp, mv_g0, ref_g0,
             mv_g1, ref_g1, nz_y) = _encode_b_picture(
                w, y, cb, cr, bctx, qp, 0, b_shape_every=b_shape_every)
            inter_info = (ref_g0, mv_g0, ref_g1, mv_g1, nz_y)
        w.trailing()
        nal_type = 5 if kind == "I" else 1
        nal_ref_idc = 0 if kind == "B" else 3
        out += _nal(nal_ref_idc, nal_type, w.bytes_out())
        if deblock:
            deblock_picture(yp, cbp, crp, mb_qp, inter_info=inter_info)
        if kind != "B":
            ref_dpb.append({"poc": poc, "planes": (yp, cbp, crp),
                            "mv_g": mv_g, "ref_g": ref_g})
            if len(ref_dpb) > 2:  # sliding window, max_num_ref_frames=2
                del ref_dpb[0]
        recons[d] = (
            yp[:h, :wd].astype(np.uint8),
            cbp[:h // 2, :wd // 2].astype(np.uint8),
            crp[:h // 2, :wd // 2].astype(np.uint8),
        )
    return bytes(out), recons


def encode_h264(frames_rgb: List[np.ndarray], qp: int = 26, fps: float = 25.0,
                pcm_every: int = 0, qp_wobble: int = 0,
                deblock: bool = False, gop: int = 0,
                b_frames: int = 0, direct_spatial: bool = False,
                b_shape_every: int = 0) -> bytes:
    """Baseline Annex B encoder. ``gop == 0/1``: all-intra (IDR only);
    ``gop > 1``: one IDR every ``gop`` frames, P pictures between
    (16x16/16x8/8x16 partitions searched at quarter-pel, P_Skip when
    the derived-MV residual quantizes to zero, intra fallback when
    motion compensation is poor; ``pcm_every`` doubles as the P_8x8
    cadence in P pictures). ``b_frames > 0`` inserts that many
    non-reference B pictures between anchors (IbbP GOPs,
    pic_order_cnt_type 0): direct / L0 / L1 / Bi 16x16 decisions,
    B_Skip, ``direct_spatial`` choosing the 8.4.1.2.2 spatial direct
    mode over temporal, ``b_shape_every`` forcing mixed-list 16x8 and
    B_8x8 sub-shape MBs for decode-path coverage. Real decisions per
    MB; in-loop reconstruction is pinned bit-equal to the decoder."""
    return _encode_stream(frames_rgb, qp, fps, pcm_every, qp_wobble,
                          deblock, gop, b_frames, direct_spatial,
                          b_shape_every)[0]


def encode_h264_reconstruction(
    frames_rgb: List[np.ndarray], qp: int = 26,
    pcm_every: int = 0, qp_wobble: int = 0, deblock: bool = False,
    gop: int = 0, b_frames: int = 0, direct_spatial: bool = False,
    b_shape_every: int = 0,
) -> List[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """The encoder's own in-loop reconstruction (cropped, display
    order), for the decode == reconstruction fixtures."""
    return _encode_stream(frames_rgb, qp, 25.0, pcm_every, qp_wobble,
                          deblock, gop, b_frames, direct_spatial,
                          b_shape_every)[1]


# ---------------------------------------------------------------------------
# in-loop deblocking filter (8.7) — intra-picture case
# ---------------------------------------------------------------------------
# Real-world streams almost never disable the filter, so refusing
# disable_deblocking_filter_idc != 1 would refuse nearly every foreign
# keyframe. The filter is a pure post-pass for intra pictures (intra
# prediction reads PRE-filter samples per 8.3.1), so it bolts on after
# picture reconstruction. Honesty note: alpha/beta/tC0 (Tables
# 8-16/8-17) are transcribed best-effort; unlike the VLC tables a
# transcription slip here cannot be caught by mirrored-pair tests
# (both sides share the function), so the tests pin the filter's
# PROPERTIES instead — flat regions unchanged, deltas bounded by tC,
# strong filtering only at MB edges, disabled-filter streams bit-equal
# to the unfiltered path.

_ALPHA = (0,) * 16 + (4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25,
                      28, 32, 36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113,
                      127, 144, 162, 182, 203, 226, 255, 255)
_BETA = (0,) * 16 + (2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9, 9,
                     10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16,
                     17, 17, 18, 18)
# tC0 by (indexA, bS-1)
_TC0 = ((0, 0, 0),) * 16 + (
    (0, 0, 1), (0, 0, 1), (0, 1, 1), (0, 1, 1), (1, 1, 1), (1, 1, 1),
    (1, 1, 2), (1, 1, 2), (1, 1, 2), (1, 1, 2), (1, 2, 3), (1, 2, 3),
    (2, 2, 3), (2, 2, 4), (2, 3, 4), (2, 3, 4), (3, 3, 5), (3, 4, 6),
    (3, 4, 6), (4, 5, 7), (4, 5, 8), (5, 6, 9), (6, 7, 10), (6, 8, 11),
    (7, 9, 12), (8, 10, 13), (9, 12, 15), (10, 13, 17), (11, 15, 19),
    (13, 17, 23), (14, 19, 25), (16, 22, 29), (18, 25, 33), (20, 28, 38),
    (23, 32, 43), (25, 36, 48),
)


def _clip3(lo, hi, v):
    return lo if v < lo else hi if v > hi else v


def _filter_line(s, idxs, bs, alpha, beta, tc0, is_luma):
    """Filter one 1-D sample line across an edge. ``idxs`` are the
    positions of p3..p0,q0..q3 in ``s`` (8 indices)."""
    p3, p2, p1, p0, q0, q1, q2, q3 = (int(s[i]) for i in idxs)
    if abs(p0 - q0) >= alpha or abs(p1 - p0) >= beta or abs(q1 - q0) >= beta:
        return
    ap = abs(p2 - p0) < beta
    aq = abs(q2 - q0) < beta
    if bs < 4:
        tc = tc0 + (int(ap) + int(aq) if is_luma else 1)
        delta = _clip3(-tc, tc, (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3)
        s[idxs[3]] = _clip3(0, 255, p0 + delta)
        s[idxs[4]] = _clip3(0, 255, q0 - delta)
        if is_luma and ap:
            s[idxs[2]] = p1 + _clip3(-tc0, tc0,
                                     (p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1)
        if is_luma and aq:
            s[idxs[5]] = q1 + _clip3(-tc0, tc0,
                                     (q2 + ((p0 + q0 + 1) >> 1) - 2 * q1) >> 1)
    else:  # bS == 4
        strong = abs(p0 - q0) < ((alpha >> 2) + 2)
        if is_luma and strong and ap:
            s[idxs[3]] = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
            s[idxs[2]] = (p2 + p1 + p0 + q0 + 2) >> 2
            s[idxs[1]] = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
        else:
            s[idxs[3]] = (2 * p1 + p0 + q1 + 2) >> 2
        if is_luma and strong and aq:
            s[idxs[4]] = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
            s[idxs[5]] = (q2 + q1 + q0 + p0 + 2) >> 2
            s[idxs[6]] = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
        else:
            s[idxs[4]] = (2 * q1 + q0 + p0 + 2) >> 2


def _deblock_edge(plane, x0, y0, n, vertical, bs_lines, qp_avg, is_luma,
                  off_a=0, off_b=0):
    idx_a = _clip3(0, 51, qp_avg + off_a)
    idx_b = _clip3(0, 51, qp_avg + off_b)
    alpha, beta = _ALPHA[idx_a], _BETA[idx_b]
    if alpha == 0 or beta == 0:
        return
    for k in range(n):
        bs = bs_lines[k]
        if bs == 0:
            continue
        tc0 = _TC0[idx_a][bs - 1] if bs < 4 else 0
        if vertical:  # edge between columns x0-1 | x0, row y0+k
            row = plane[y0 + k]
            idxs = [x0 - 4, x0 - 3, x0 - 2, x0 - 1, x0, x0 + 1, x0 + 2, x0 + 3]
            _filter_line(row, idxs, bs, alpha, beta, tc0, is_luma)
        else:
            col = plane[:, x0 + k]
            idxs = [y0 - 4, y0 - 3, y0 - 2, y0 - 1, y0, y0 + 1, y0 + 2, y0 + 3]
            _filter_line(col, idxs, bs, alpha, beta, tc0, is_luma)


def _mv_gap(mv_a, mv_b):
    return (abs(mv_a[0] - mv_b[0]) >= 4 or abs(mv_a[1] - mv_b[1]) >= 4)


def _bs_segments(inter_info, vertical, mb_edge, qbx, qby):
    """bS per 4x4-block segment of one luma edge (q-side block column/row
    starts at (qbx, qby), 4 segments). 8.7.2.1: 4/3 when a side is
    intra, 2 when a side has residual, 1 when the sides' motion differs
    (different reference pictures, different prediction counts, or an
    MV gap >= 1 full pel on a corresponding list), else 0.

    ``inter_info`` is (ref_g, mv_g, nz) for P pictures or
    (ref_g0, mv_g0, ref_g1, mv_g1, nz) for B pictures — our one-active-
    index lists make the list id identify the reference picture, so
    same-list comparison IS the spec's same-picture correspondence."""
    if len(inter_info) == 3:
        ref_g0, mv_g0, nz = inter_info
        ref_g1 = mv_g1 = None
    else:
        ref_g0, mv_g0, ref_g1, mv_g1, nz = inter_info

    def preds(y, x):
        """{list_id: mv} for one 4x4 side; empty dict = intra."""
        out = {}
        if ref_g0[y, x] >= 0:
            out[0] = (int(mv_g0[y, x, 0]), int(mv_g0[y, x, 1]))
        if ref_g1 is not None and ref_g1[y, x] >= 0:
            out[1] = (int(mv_g1[y, x, 0]), int(mv_g1[y, x, 1]))
        return out

    out = []
    for k in range(4):
        if vertical:
            qx, qy = qbx, qby + k
            px_, py_ = qbx - 1, qby + k
        else:
            qx, qy = qbx + k, qby
            px_, py_ = qbx + k, qby - 1
        pp, pq = preds(py_, px_), preds(qy, qx)
        if not pp or not pq:
            out.append(4 if mb_edge else 3)
        elif nz[py_, px_] > 0 or nz[qy, qx] > 0:
            out.append(2)
        elif set(pp) != set(pq):  # different refs / prediction counts
            out.append(1)
        elif any(_mv_gap(pp[lst], pq[lst]) for lst in pp):
            out.append(1)
        else:
            out.append(0)
    return out


def deblock_picture(y_p, cb_p, cr_p, mb_qp, chroma_qp_offset=0,
                    off_a=0, off_b=0, inter_info=None):
    """Apply the 8.7 filter to a reconstructed picture in MB raster
    order: all vertical edges of each MB left-to-right, then all
    horizontal edges top-to-bottom. ``mb_qp`` is the (mb_h, mb_w) array
    of per-MB luma QP values (PCM MBs filter with their slice QP). For
    intra pictures bS = 4 on MB edges / 3 internally; for P pictures
    pass ``inter_info = (ref_grid, mv_grid, luma_nonzero_grid)`` and
    bS follows 8.7.2.1 (residual -> 2, full-pel MV gap -> 1, else 0)."""
    mb_h, mb_w = mb_qp.shape
    for mb_y in range(mb_h):
        for mb_x in range(mb_w):
            qp_cur = int(mb_qp[mb_y, mb_x])
            px, py = mb_x * 16, mb_y * 16
            cx, cy = mb_x * 8, mb_y * 8
            for vertical in (True, False):
                for xo in (0, 4, 8, 12):
                    if xo == 0 and ((mb_x == 0) if vertical else (mb_y == 0)):
                        continue
                    mb_edge = xo == 0
                    if mb_edge:
                        qp_n = int(mb_qp[mb_y, mb_x - 1] if vertical
                                   else mb_qp[mb_y - 1, mb_x])
                    else:
                        qp_n = qp_cur
                    if vertical:
                        qbx, qby = mb_x * 4 + xo // 4, mb_y * 4
                    else:
                        qbx, qby = mb_x * 4, mb_y * 4 + xo // 4
                    if inter_info is None:
                        seg = [4 if mb_edge else 3] * 4
                    else:
                        seg = _bs_segments(inter_info, vertical, mb_edge,
                                           qbx, qby)
                    if not any(seg):
                        continue
                    qp_avg = (qp_cur + qp_n + 1) >> 1
                    bs_luma = [seg[k // 4] for k in range(16)]
                    if vertical:
                        _deblock_edge(y_p, px + xo, py, 16, True, bs_luma,
                                      qp_avg, True, off_a, off_b)
                    else:
                        _deblock_edge(y_p, px, py + xo, 16, False, bs_luma,
                                      qp_avg, True, off_a, off_b)
                    if xo in (0, 8):
                        qpc_avg = (chroma_qp(qp_cur, chroma_qp_offset)
                                   + chroma_qp(qp_n, chroma_qp_offset) + 1) >> 1
                        bs_chroma = [seg[k // 2] for k in range(8)]
                        if vertical:
                            _deblock_edge(cb_p, cx + xo // 2, cy, 8, True,
                                          bs_chroma, qpc_avg, False,
                                          off_a, off_b)
                            _deblock_edge(cr_p, cx + xo // 2, cy, 8, True,
                                          bs_chroma, qpc_avg, False,
                                          off_a, off_b)
                        else:
                            _deblock_edge(cb_p, cx, cy + xo // 2, 8, False,
                                          bs_chroma, qpc_avg, False,
                                          off_a, off_b)
                            _deblock_edge(cr_p, cx, cy + xo // 2, 8, False,
                                          bs_chroma, qpc_avg, False,
                                          off_a, off_b)


# ---------------------------------------------------------------------------
# inter prediction: quarter-pel luma / eighth-pel chroma interpolation (8.4.2.2)
# ---------------------------------------------------------------------------


def _ref_window(ref: np.ndarray, x0: int, y0: int, w: int, h: int) -> np.ndarray:
    """Clamped (edge-replicated) window read — the spec clips reference
    sample coordinates into the picture."""
    ys = np.clip(np.arange(y0, y0 + h), 0, ref.shape[0] - 1)
    xs = np.clip(np.arange(x0, x0 + w), 0, ref.shape[1] - 1)
    return ref[np.ix_(ys, xs)].astype(np.int64)


def _six_tap(a, b, c, d, e, f):
    return a - 5 * b + 20 * c + 20 * d - 5 * e + f


def interp_luma(ref: np.ndarray, x: int, y: int, mvx: int, mvy: int,
                w: int, h: int) -> np.ndarray:
    """(h, w) luma prediction block at quarter-pel MV (mvx, mvy) relative
    to full-pel block origin (x, y) — the 8.4.2.2.1 positions a..s with
    unrounded intermediates for the center position j."""
    xi, yi = x + (mvx >> 2), y + (mvy >> 2)
    fx, fy = mvx & 3, mvy & 3
    if fx == 0 and fy == 0:
        return _ref_window(ref, xi, yi, w, h)
    # padded integer window: 2 left/top, 3 right/bottom taps
    win = _ref_window(ref, xi - 2, yi - 2, w + 5, h + 5)

    def half_h(rows):  # horizontal 6-tap over a (h', w+5) window -> (h', w+1)
        return _six_tap(rows[:, 0:-5], rows[:, 1:-4], rows[:, 2:-3],
                        rows[:, 3:-2], rows[:, 4:-1], rows[:, 5:])

    def half_v(cols):  # vertical 6-tap over a (h+5, w') window -> (h+1, w')
        return _six_tap(cols[0:-5, :], cols[1:-4, :], cols[2:-3, :],
                        cols[3:-2, :], cols[4:-1, :], cols[5:, :])

    G = win[2:2 + h + 1, 2:2 + w + 1]          # full-pel incl. +1 row/col
    b1 = half_h(win[2:2 + h + 1, :])           # horizontal half, unrounded
    h1 = half_v(win[:, 2:2 + w + 1])           # vertical half, unrounded
    b_r = np.clip((b1 + 16) >> 5, 0, 255)
    h_r = np.clip((h1 + 16) >> 5, 0, 255)
    # center j: 6-tap vertically over unrounded horizontal halves
    j1 = half_v(half_h(win))                   # (h+1, w+1)
    j_r = np.clip((j1 + 512) >> 10, 0, 255)

    def avg(p, q):
        return (p + q + 1) >> 1

    if fy == 0:  # a, b, c
        if fx == 1:
            out = avg(G[:h, :w], b_r[:h, :w])
        elif fx == 2:
            out = b_r[:h, :w]
        else:
            out = avg(b_r[:h, :w], G[:h, 1:w + 1])
    elif fx == 0:  # d, h, n
        if fy == 1:
            out = avg(G[:h, :w], h_r[:h, :w])
        elif fy == 2:
            out = h_r[:h, :w]
        else:
            out = avg(h_r[:h, :w], G[1:h + 1, :w])
    elif fx == 2 and fy == 2:  # j
        out = j_r[:h, :w]
    elif fx == 2:  # f, q: vertical quarters through j
        if fy == 1:
            out = avg(b_r[:h, :w], j_r[:h, :w])
        else:
            out = avg(j_r[:h, :w], b_r[1:h + 1, :w])
    elif fy == 2:  # i, k: horizontal quarters through j
        if fx == 1:
            out = avg(h_r[:h, :w], j_r[:h, :w])
        else:
            out = avg(j_r[:h, :w], h_r[:h, 1:w + 1])
    else:  # e, g, p, r: diagonal averages of b and h halves
        bb = b_r[:h, :w] if fy == 1 else b_r[1:h + 1, :w]
        hh = h_r[:h, :w] if fx == 1 else h_r[:h, 1:w + 1]
        out = avg(bb, hh)
    return out


def interp_chroma(ref: np.ndarray, x: int, y: int, mvx: int, mvy: int,
                  w: int, h: int) -> np.ndarray:
    """(h, w) chroma prediction at eighth-pel MV (the luma quarter-pel
    MV applies unscaled to the half-resolution plane): bilinear 8.4.2.2.2."""
    xi, yi = x + (mvx >> 3), y + (mvy >> 3)
    dx, dy = mvx & 7, mvy & 7
    win = _ref_window(ref, xi, yi, w + 1, h + 1)
    a = win[:h, :w]
    b = win[:h, 1:w + 1]
    c = win[1:h + 1, :w]
    d = win[1:h + 1, 1:w + 1]
    return ((8 - dx) * (8 - dy) * a + dx * (8 - dy) * b
            + (8 - dx) * dy * c + dx * dy * d + 32) >> 6


# ---------------------------------------------------------------------------
# P slices (8.4): MV prediction, P_Skip, partitions — single ref frame
# ---------------------------------------------------------------------------

# coded_block_pattern me(v) mapping for inter (Table 9-4): codeNum -> cbp
CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {v: i for i, v in enumerate(CBP_INTER)}

# P macroblock partitionings: mb_type -> [(ox4, oy4, w4, h4, shape_tag)]
_P_PARTS = {
    0: [(0, 0, 4, 4, None)],
    1: [(0, 0, 4, 2, "16x8_top"), (0, 2, 4, 2, "16x8_bot")],
    2: [(0, 0, 2, 4, "8x16_left"), (2, 0, 2, 4, "8x16_right")],
}
# sub_mb_type (P) -> [(ox4, oy4, w4, h4)] within one 8x8
_P_SUB_PARTS = {
    0: [(0, 0, 2, 2)],
    1: [(0, 0, 2, 1), (0, 1, 2, 1)],
    2: [(0, 0, 1, 2), (1, 0, 1, 2)],
    3: [(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)],
}


def _median3(a: int, b: int, c: int) -> int:
    return max(min(a, b), min(max(a, b), c))


def _mv_nbr(mv_g, ref_g, bx, by):
    h, w = ref_g.shape
    if bx < 0 or by < 0 or bx >= w or by >= h or ref_g[by, bx] == -2:
        return None
    return (int(mv_g[by, bx, 0]), int(mv_g[by, bx, 1]), int(ref_g[by, bx]))


def mv_predict(mv_g, ref_g, bx, by, w4, h4, shape=None):
    """Median MV predictor (8.4.1.3) with the 16x8/8x16 directional
    rules, single reference (refIdx 0; intra/unavailable ride as -1)."""
    A = _mv_nbr(mv_g, ref_g, bx - 1, by)
    B = _mv_nbr(mv_g, ref_g, bx, by - 1)
    C = _mv_nbr(mv_g, ref_g, bx + w4, by - 1)
    if C is None:
        C = _mv_nbr(mv_g, ref_g, bx - 1, by - 1)  # D substitution
    if shape == "16x8_top" and B is not None and B[2] == 0:
        return B[:2]
    if shape == "16x8_bot" and A is not None and A[2] == 0:
        return A[:2]
    if shape == "8x16_left" and A is not None and A[2] == 0:
        return A[:2]
    if shape == "8x16_right" and C is not None and C[2] == 0:
        return C[:2]
    if B is None and C is None and A is not None:
        B = C = A
    trip = [n if n is not None else (0, 0, -1) for n in (A, B, C)]
    eq = [n for n in trip if n[2] == 0]
    if len(eq) == 1:
        return eq[0][:2]
    return (
        _median3(trip[0][0], trip[1][0], trip[2][0]),
        _median3(trip[0][1], trip[1][1], trip[2][1]),
    )


def mv_pskip(mv_g, ref_g, bx, by):
    """P_Skip motion (8.4.1.1): zero when a corner neighbor is missing
    or is a zero-motion ref-0 block, else the 16x16 median predictor."""
    A = _mv_nbr(mv_g, ref_g, bx - 1, by)
    B = _mv_nbr(mv_g, ref_g, bx, by - 1)
    if A is None or B is None:
        return (0, 0)
    if A == (0, 0, 0) or B == (0, 0, 0):
        return (0, 0)
    return mv_predict(mv_g, ref_g, bx, by, 4, 4)


def _inter_pred_mb(ref_planes, px, py, parts):
    """(16x16 luma, 8x8 cb, 8x8 cr) prediction from the reference
    picture for a list of (ox4, oy4, w4, h4, (mvx, mvy)) partitions."""
    ry, rcb, rcr = ref_planes
    pred_y = np.zeros((16, 16), dtype=np.int64)
    pred_cb = np.zeros((8, 8), dtype=np.int64)
    pred_cr = np.zeros((8, 8), dtype=np.int64)
    for ox, oy, w4, h4, mv in parts:
        mvx, mvy = mv
        pred_y[oy * 4:(oy + h4) * 4, ox * 4:(ox + w4) * 4] = interp_luma(
            ry, px + ox * 4, py + oy * 4, mvx, mvy, w4 * 4, h4 * 4)
        pred_cb[oy * 2:(oy + h4) * 2, ox * 2:(ox + w4) * 2] = interp_chroma(
            rcb, px // 2 + ox * 2, py // 2 + oy * 2, mvx, mvy, w4 * 2, h4 * 2)
        pred_cr[oy * 2:(oy + h4) * 2, ox * 2:(ox + w4) * 2] = interp_chroma(
            rcr, px // 2 + ox * 2, py // 2 + oy * 2, mvx, mvy, w4 * 2, h4 * 2)
    return pred_y, pred_cb, pred_cr


def _set_mv_region(mv_g, ref_g, bx, by, w4, h4, mv):
    mv_g[by:by + h4, bx:bx + w4, 0] = mv[0]
    mv_g[by:by + h4, bx:bx + w4, 1] = mv[1]
    ref_g[by:by + h4, bx:bx + w4] = 0


def _decode_inter_mb(r, mb_type, mb_x, mb_y, ref, y_p, cb_p, cr_p,
                     tc_y, tc_cb, tc_cr, mv_g, ref_g, pps, qp):
    """One P macroblock: partitions + MVDs, inter CBP, residual,
    MC + residual reconstruction. Returns the updated QP."""
    px, py = mb_x * 16, mb_y * 16
    cx, cy = mb_x * 8, mb_y * 8
    bx4, by4 = mb_x * 4, mb_y * 4
    parts = []
    if mb_type <= 2:
        for ox, oy, w4, h4, shape in _P_PARTS[mb_type]:
            mvp = mv_predict(mv_g, ref_g, bx4 + ox, by4 + oy, w4, h4, shape)
            mvd = (r.se(), r.se())
            mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
            _set_mv_region(mv_g, ref_g, bx4 + ox, by4 + oy, w4, h4, mv)
            parts.append((ox, oy, w4, h4, mv))
    else:  # P_8x8 / P_8x8ref0
        subs = [r.ue() for _ in range(4)]
        if any(t > 3 for t in subs):
            raise ValueError("invalid P sub_mb_type")
        for i8 in range(4):
            sx, sy = (i8 % 2) * 2, (i8 // 2) * 2
            for ox, oy, w4, h4 in _P_SUB_PARTS[subs[i8]]:
                gx, gy = bx4 + sx + ox, by4 + sy + oy
                mvp = mv_predict(mv_g, ref_g, gx, gy, w4, h4)
                mvd = (r.se(), r.se())
                mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
                _set_mv_region(mv_g, ref_g, gx, gy, w4, h4, mv)
                parts.append((sx + ox, sy + oy, w4, h4, mv))
    pr_y, pr_cb, pr_cr = _inter_pred_mb(ref, px, py, parts)
    return _decode_inter_tail(r, pr_y, pr_cb, pr_cr, mb_x, mb_y,
                              y_p, cb_p, cr_p, tc_y, tc_cb, tc_cr, pps, qp)


def _decode_inter_tail(r, pr_y, pr_cb, pr_cr, mb_x, mb_y, y_p, cb_p, cr_p,
                       tc_y, tc_cb, tc_cr, pps, qp):
    """Inter CBP + residual parse + MC+residual reconstruction — the
    shared back half of P and B macroblock decoding. Returns the
    updated QP."""
    px, py = mb_x * 16, mb_y * 16
    cx, cy = mb_x * 8, mb_y * 8
    bx4, by4 = mb_x * 4, mb_y * 4
    cbp_code = r.ue()
    if cbp_code >= 48:
        raise ValueError("invalid coded_block_pattern")
    cbp = CBP_INTER[cbp_code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp:
        qp = (qp + r.se() + 52) % 52
    luma_coeffs = [np.zeros(16, dtype=np.int64) for _ in range(16)]
    for i8 in range(4):
        for i4 in range(4):
            blk = i8 * 4 + i4
            gx = bx4 + BLK4_POS[blk][0]
            gy = by4 + BLK4_POS[blk][1]
            if cbp_luma & (1 << i8):
                nc = _nc_from_grid(tc_y, gx, gy)
                luma_coeffs[blk], tc = cavlc_decode_block(r, nc, 16)
                tc_y[gy, gx] = tc
            else:
                tc_y[gy, gx] = 0
    dc_cb, dc_cr, ac_cb, ac_cr = _parse_chroma_residual(
        r, cbp_chroma, tc_cb, tc_cr, mb_x, mb_y)
    # luma reconstruction
    for blk in range(16):
        bx, by = BLK4_POS[blk]
        res = np.zeros((4, 4), dtype=np.int64)
        if luma_coeffs[blk].any():
            c = np.zeros((4, 4), dtype=np.int64)
            c.flat[list(ZIGZAG4)] = luma_coeffs[blk]
            res = (inverse_transform_4x4(dequant_4x4(c, qp)) + 32) >> 6
        y_p[py + by * 4:py + by * 4 + 4, px + bx * 4:px + bx * 4 + 4] = \
            _clip255(pr_y[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)
    # chroma reconstruction
    qpc = chroma_qp(qp, pps.chroma_qp_offset)
    for plane, pred, dcc, acc in (
        (cb_p, pr_cb, dc_cb, ac_cb), (cr_p, pr_cr, dc_cr, ac_cr)
    ):
        dcq = dequant_chroma_dc(dcc, qpc)
        for blk in range(4):
            bx, by = blk % 2, blk // 2
            c = np.zeros((4, 4), dtype=np.int64)
            c.flat[[ZIGZAG4[i + 1] for i in range(15)]] = acc[blk]
            d = dequant_4x4(c, qpc)
            d[0, 0] = dcq[by, bx]
            res = (inverse_transform_4x4(d) + 32) >> 6
            plane[cy + by * 4:cy + by * 4 + 4, cx + bx * 4:cx + bx * 4 + 4] = \
                _clip255(pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)
    return qp


# ---------------------------------------------------------------------------
# B slices (8.4.1.2): two reference lists, direct modes, bi-prediction
# ---------------------------------------------------------------------------

# Table 7-14 (B macroblock types 0..22): shape + per-partition list mode
# (1 = Pred_L0, 2 = Pred_L1, 3 = BiPred); 23+ are intra offset by 23.
_B_MBTYPE: Dict[int, Tuple[str, Tuple[int, ...]]] = {
    0: ("direct", ()),
    1: ("16x16", (1,)), 2: ("16x16", (2,)), 3: ("16x16", (3,)),
    4: ("16x8", (1, 1)), 5: ("8x16", (1, 1)),
    6: ("16x8", (2, 2)), 7: ("8x16", (2, 2)),
    8: ("16x8", (1, 2)), 9: ("8x16", (1, 2)),
    10: ("16x8", (2, 1)), 11: ("8x16", (2, 1)),
    12: ("16x8", (1, 3)), 13: ("8x16", (1, 3)),
    14: ("16x8", (2, 3)), 15: ("8x16", (2, 3)),
    16: ("16x8", (3, 1)), 17: ("8x16", (3, 1)),
    18: ("16x8", (3, 2)), 19: ("8x16", (3, 2)),
    20: ("16x8", (3, 3)), 21: ("8x16", (3, 3)),
    22: ("8x8", ()),
}
# partition geometry by shape (4x4-block units), with the 8.4.1.3
# directional-rule tags
_B_PART_GEOM = {
    "16x16": [(0, 0, 4, 4, None)],
    "16x8": [(0, 0, 4, 2, "16x8_top"), (0, 2, 4, 2, "16x8_bot")],
    "8x16": [(0, 0, 2, 4, "8x16_left"), (2, 0, 2, 4, "8x16_right")],
}

# Table 7-18 (B sub_mb_type 0..12): sub-partition geometry + list mode;
# 0 is B_Direct_8x8 (no motion syntax).
_B_SUB: Dict[int, Tuple[List[Tuple[int, int, int, int]], int]] = {
    1: ([(0, 0, 2, 2)], 1), 2: ([(0, 0, 2, 2)], 2), 3: ([(0, 0, 2, 2)], 3),
    4: ([(0, 0, 2, 1), (0, 1, 2, 1)], 1),
    5: ([(0, 0, 1, 2), (1, 0, 1, 2)], 1),
    6: ([(0, 0, 2, 1), (0, 1, 2, 1)], 2),
    7: ([(0, 0, 1, 2), (1, 0, 1, 2)], 2),
    8: ([(0, 0, 2, 1), (0, 1, 2, 1)], 3),
    9: ([(0, 0, 1, 2), (1, 0, 1, 2)], 3),
    10: ([(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)], 1),
    11: ([(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)], 2),
    12: ([(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)], 3),
}


def _div_to_zero(a: int, b: int) -> int:
    """Integer division truncating toward zero (the spec's '/')."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def temporal_direct_scale(poc_cur: int, poc_l0: int, poc_l1: int,
                          mv_col: Tuple[int, int]):
    """8.4.1.2.3 fixed-point co-located MV scaling: returns
    (mvL0, mvL1) for one direct block given the three picture order
    counts and the co-located picture's list-0 motion vector."""
    td = _clip3(-128, 127, poc_l1 - poc_l0)
    if td == 0:
        return mv_col, (0, 0)
    tb = _clip3(-128, 127, poc_cur - poc_l0)
    tx = _div_to_zero(16384 + abs(td) // 2, td)
    dsf = _clip3(-1024, 1023, (tb * tx + 32) >> 6)
    mv0 = ((dsf * mv_col[0] + 128) >> 8, (dsf * mv_col[1] + 128) >> 8)
    return mv0, (mv0[0] - mv_col[0], mv0[1] - mv_col[1])


def _direct_parts(bctx, mv_g0, ref_g0, mv_g1, ref_g1, bx4, by4,
                  quads=(0, 1, 2, 3)):
    """Direct-mode motion (8.4.1.2) for the requested 8x8 quadrants of
    the MB whose top-left 4x4 is (bx4, by4). Returns a list of
    (ox4, oy4, w4, h4, mv0 | None, mv1 | None) parts (offsets relative
    to the MB). With direct_8x8_inference the unit is the 8x8 quadrant
    sampling its outer-corner co-located block; without it, each 4x4
    uses its own co-located block."""
    col_mv, col_ref = bctx["col_mv"], bctx["col_ref"]
    spatial = bctx["spatial"]
    infer8 = bctx["direct_8x8"]

    sp_ref0 = sp_ref1 = -1
    sp_mv0 = sp_mv1 = (0, 0)
    if spatial:
        # MB-level refs (minPositive over A/B/C) + list-wise median MVs
        for mv_g, ref_g, which in ((mv_g0, ref_g0, 0), (mv_g1, ref_g1, 1)):
            a = _mv_nbr(mv_g, ref_g, bx4 - 1, by4)
            b = _mv_nbr(mv_g, ref_g, bx4, by4 - 1)
            c = _mv_nbr(mv_g, ref_g, bx4 + 4, by4 - 1)
            if c is None:
                c = _mv_nbr(mv_g, ref_g, bx4 - 1, by4 - 1)
            has_ref = any(n is not None and n[2] >= 0 for n in (a, b, c))
            if which == 0:
                sp_ref0 = 0 if has_ref else -1
                if has_ref:
                    sp_mv0 = mv_predict(mv_g, ref_g, bx4, by4, 4, 4)
            else:
                sp_ref1 = 0 if has_ref else -1
                if has_ref:
                    sp_mv1 = mv_predict(mv_g, ref_g, bx4, by4, 4, 4)
        if sp_ref0 < 0 and sp_ref1 < 0:
            # directZeroPredictionFlag: bi-predict with zero motion
            sp_ref0 = sp_ref1 = 0
            sp_mv0 = sp_mv1 = (0, 0)

    def col_block(gx, gy):
        rc = int(col_ref[gy, gx])
        mvc = ((int(col_mv[gy, gx, 0]), int(col_mv[gy, gx, 1]))
               if rc >= 0 else (0, 0))
        return rc, mvc

    parts = []
    for q in quads:
        qx, qy = (q % 2) * 2, (q // 2) * 2
        units = ([(qx, qy, 2, 2, (3 if qx else 0), (3 if qy else 0))]
                 if infer8 else
                 [(qx + ux, qy + uy, 1, 1, qx + ux, qy + uy)
                  for uy in (0, 1) for ux in (0, 1)])
        for ox, oy, w4, h4, cx_off, cy_off in units:
            rc, mvc = col_block(bx4 + cx_off, by4 + cy_off)
            if spatial:
                col_zero = rc == 0 and abs(mvc[0]) <= 1 and abs(mvc[1]) <= 1
                mv0 = ((0, 0) if col_zero else sp_mv0) if sp_ref0 >= 0 else None
                mv1 = ((0, 0) if col_zero else sp_mv1) if sp_ref1 >= 0 else None
            else:
                mv0, mv1 = temporal_direct_scale(
                    bctx["poc_cur"], bctx["poc_l0"], bctx["poc_l1"], mvc)
            parts.append((ox, oy, w4, h4, mv0, mv1))
    return parts


def _inter_pred_mb_b(bctx, px, py, parts):
    """(16x16 luma, 8x8 cb, 8x8 cr) prediction for B partitions
    (ox4, oy4, w4, h4, mv0 | None, mv1 | None): single-list MC or the
    8.4.2.3 rounded average of the two list predictions."""
    pred_y = np.zeros((16, 16), dtype=np.int64)
    pred_cb = np.zeros((8, 8), dtype=np.int64)
    pred_cr = np.zeros((8, 8), dtype=np.int64)
    for ox, oy, w4, h4, mv0, mv1 in parts:
        acc = None
        n = 0
        for mv, planes in ((mv0, bctx["l0"]), (mv1, bctx["l1"])):
            if mv is None:
                continue
            ry, rcb, rcr = planes
            py_ = interp_luma(ry, px + ox * 4, py + oy * 4, mv[0], mv[1],
                              w4 * 4, h4 * 4)
            pcb = interp_chroma(rcb, px // 2 + ox * 2, py // 2 + oy * 2,
                                mv[0], mv[1], w4 * 2, h4 * 2)
            pcr = interp_chroma(rcr, px // 2 + ox * 2, py // 2 + oy * 2,
                                mv[0], mv[1], w4 * 2, h4 * 2)
            if acc is None:
                acc = [py_.astype(np.int64), pcb.astype(np.int64),
                       pcr.astype(np.int64)]
            else:
                acc = [acc[0] + py_, acc[1] + pcb, acc[2] + pcr]
            n += 1
        if acc is None:
            raise ValueError("B partition with no prediction list")
        if n == 2:
            acc = [(a + 1) >> 1 for a in acc]
        pred_y[oy * 4:(oy + h4) * 4, ox * 4:(ox + w4) * 4] = acc[0]
        pred_cb[oy * 2:(oy + h4) * 2, ox * 2:(ox + w4) * 2] = acc[1]
        pred_cr[oy * 2:(oy + h4) * 2, ox * 2:(ox + w4) * 2] = acc[2]
    return pred_y, pred_cb, pred_cr


def _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1, bx, by, w4, h4, mv0, mv1):
    """Record one B partition's motion in both list grids (ref -1 with
    zero motion marks 'decoded, list unused')."""
    for mv, mv_g, ref_g in ((mv0, mv_g0, ref_g0), (mv1, mv_g1, ref_g1)):
        if mv is None:
            mv_g[by:by + h4, bx:bx + w4] = 0
            ref_g[by:by + h4, bx:bx + w4] = -1
        else:
            mv_g[by:by + h4, bx:bx + w4, 0] = mv[0]
            mv_g[by:by + h4, bx:bx + w4, 1] = mv[1]
            ref_g[by:by + h4, bx:bx + w4] = 0


def _decode_b_mb(r, mb_type, mb_x, mb_y, bctx, y_p, cb_p, cr_p,
                 tc_y, tc_cb, tc_cr, mv_g0, ref_g0, mv_g1, ref_g1,
                 pps, qp):
    """One B macroblock (types 0..22): direct / list / bi partitions
    with the grouped mvd_l0-then-mvd_l1 syntax order, then the shared
    inter residual tail. Returns the updated QP."""
    px, py = mb_x * 16, mb_y * 16
    bx4, by4 = mb_x * 4, mb_y * 4
    shape, modes = _B_MBTYPE[mb_type]
    parts = []
    if shape == "direct":
        parts = _direct_parts(bctx, mv_g0, ref_g0, mv_g1, ref_g1, bx4, by4)
        for ox, oy, w4, h4, mv0, mv1 in parts:
            _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1,
                        bx4 + ox, by4 + oy, w4, h4, mv0, mv1)
    elif shape == "8x8":
        subs = [r.ue() for _ in range(4)]
        if any(t > 12 for t in subs):
            raise ValueError("invalid B sub_mb_type")
        # grouped syntax: all mvd_l0 in sub-partition order, then mvd_l1
        mvds = {0: [], 1: []}
        for lst in (0, 1):
            for i8 in range(4):
                if subs[i8] == 0:
                    continue
                geom, mode = _B_SUB[subs[i8]]
                if mode & (1 << lst):
                    for _ in geom:
                        mvds[lst].append((r.se(), r.se()))
        it0, it1 = iter(mvds[0]), iter(mvds[1])
        for i8 in range(4):
            sx, sy = (i8 % 2) * 2, (i8 // 2) * 2
            if subs[i8] == 0:  # B_Direct_8x8
                dparts = _direct_parts(bctx, mv_g0, ref_g0, mv_g1, ref_g1,
                                       bx4, by4, quads=(i8,))
                for ox, oy, w4, h4, mv0, mv1 in dparts:
                    _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1,
                                bx4 + ox, by4 + oy, w4, h4, mv0, mv1)
                    parts.append((ox, oy, w4, h4, mv0, mv1))
                continue
            geom, mode = _B_SUB[subs[i8]]
            for ox, oy, w4, h4 in geom:
                gx, gy = bx4 + sx + ox, by4 + sy + oy
                mv0 = mv1 = None
                if mode & 1:
                    mvp = mv_predict(mv_g0, ref_g0, gx, gy, w4, h4)
                    d = next(it0)
                    mv0 = (mvp[0] + d[0], mvp[1] + d[1])
                if mode & 2:
                    mvp = mv_predict(mv_g1, ref_g1, gx, gy, w4, h4)
                    d = next(it1)
                    mv1 = (mvp[0] + d[0], mvp[1] + d[1])
                _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1,
                            gx, gy, w4, h4, mv0, mv1)
                parts.append((sx + ox, sy + oy, w4, h4, mv0, mv1))
    else:
        geom = _B_PART_GEOM[shape]
        mvd0 = [(r.se(), r.se()) if m & 1 else None for m in modes]
        mvd1 = [(r.se(), r.se()) if m & 2 else None for m in modes]
        for (ox, oy, w4, h4, tag), d0, d1 in zip(geom, mvd0, mvd1):
            gx, gy = bx4 + ox, by4 + oy
            mv0 = mv1 = None
            if d0 is not None:
                mvp = mv_predict(mv_g0, ref_g0, gx, gy, w4, h4, tag)
                mv0 = (mvp[0] + d0[0], mvp[1] + d0[1])
            if d1 is not None:
                mvp = mv_predict(mv_g1, ref_g1, gx, gy, w4, h4, tag)
                mv1 = (mvp[0] + d1[0], mvp[1] + d1[1])
            _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1, gx, gy, w4, h4,
                        mv0, mv1)
            parts.append((ox, oy, w4, h4, mv0, mv1))
    pr_y, pr_cb, pr_cr = _inter_pred_mb_b(bctx, px, py, parts)
    return _decode_inter_tail(r, pr_y, pr_cb, pr_cr, mb_x, mb_y,
                              y_p, cb_p, cr_p, tc_y, tc_cb, tc_cr, pps, qp)


# ---------------------------------------------------------------------------
# P-frame encoder: motion search, skip detection, partition decisions
# ---------------------------------------------------------------------------


def _search_mv(ref_y, px, py, src, w, h, mvp, range_pel=4):
    """Quarter-pel motion search: integer window around the better of
    the predictor and zero, then half- and quarter-pel refinement.
    Returns (mv, sad). Cost = SAD + |mvd| (a cheap rate proxy keeping
    vectors near the predictor when content is ambiguous)."""
    def cost(mv):
        pred = interp_luma(ref_y, px, py, mv[0], mv[1], w, h)
        return (_sad(pred, src)
                + abs(mv[0] - mvp[0]) + abs(mv[1] - mvp[1]))

    start = (round(mvp[0] / 4) * 4, round(mvp[1] / 4) * 4)
    best, best_c = start, cost(start)
    if (0, 0) != start:
        c0 = cost((0, 0))
        if c0 < best_c:
            best, best_c = (0, 0), c0
    center = best
    for dy in range(-range_pel, range_pel + 1):
        for dx in range(-range_pel, range_pel + 1):
            mv = (center[0] + 4 * dx, center[1] + 4 * dy)
            if mv == center:
                continue
            c = cost(mv)
            if c < best_c:
                best, best_c = mv, c
    for step in (2, 1):  # half then quarter refinement
        center = best
        for dy in (-step, 0, step):
            for dx in (-step, 0, step):
                if dx == 0 and dy == 0:
                    continue
                mv = (center[0] + dx, center[1] + dy)
                c = cost(mv)
                if c < best_c:
                    best, best_c = mv, c
    return best, best_c


def _inter_residual(pred_y, pred_cb, pred_cr, sy, scb, scr, qp, qpc):
    """Quantize the MC residual (inter rounding); returns the syntax
    bundle + the mirrored reconstruction + score pieces."""
    resid = sy.astype(np.int64) - pred_y
    luma_scans = []
    ncoef = 0
    for blk in range(16):
        bx, by = BLK4_POS[blk]
        wq = quant_4x4(forward_transform_4x4(
            resid[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4]), qp, intra=False)
        luma_scans.append(_scan16(wq))
        ncoef += int(np.count_nonzero(wq))
    cbp_luma = 0
    for i8 in range(4):
        if any(luma_scans[i8 * 4 + i4].any() for i4 in range(4)):
            cbp_luma |= 1 << i8
    ch = {"cbp_chroma": 0}
    any_dc = any_ac = False
    for name, pred, src in (("cb", pred_cb, scb), ("cr", pred_cr, scr)):
        residc = src.astype(np.int64) - pred
        dc = np.zeros((2, 2), dtype=np.int64)
        acq = []
        for blk in range(4):
            bx, by = blk % 2, blk // 2
            wblk = forward_transform_4x4(
                residc[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
            dc[by, bx] = wblk[0, 0]
            wq = quant_4x4(wblk, qpc, intra=False)
            wq[0, 0] = 0
            acq.append(wq)
        dcq = quant_chroma_dc(dc, qpc, intra=False)
        any_dc = any_dc or bool(dcq.any())
        any_ac = any_ac or any(a.any() for a in acq)
        ch[name] = {"pred": pred, "dcq": dcq, "acq": acq}
        ncoef += int(np.count_nonzero(dcq)) + sum(
            int(np.count_nonzero(a)) for a in acq)
    ch["cbp_chroma"] = 2 if any_ac else (1 if any_dc else 0)
    # mirror the decoder's reconstruction
    recon_y = np.zeros((16, 16), dtype=np.int64)
    for blk in range(16):
        bx, by = BLK4_POS[blk]
        lv = np.zeros((4, 4), dtype=np.int64)
        if cbp_luma & (1 << (blk // 4)):
            lv.flat[list(ZIGZAG4)] = luma_scans[blk]
        res = (inverse_transform_4x4(dequant_4x4(lv, qp)) + 32) >> 6
        recon_y[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = _clip255(
            pred_y[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)
    return {
        "luma_scans": luma_scans, "cbp_luma": cbp_luma, "ch": ch,
        "recon_y": recon_y, "ncoef": ncoef,
        "ssd_y": int(((recon_y - sy.astype(np.int64)) ** 2).sum()),
    }


def _encode_p_picture(w: _BitsW, src_y, src_cb, src_cr, ref, qp0: int,
                      chroma_qp_offset: int, p8x8_every: int = 0):
    """One P picture: skip detection, 16x16/16x8/8x16 partition search
    (P_8x8 with per-sub search every ``p8x8_every`` MBs), intra
    fallback; bit-exact in-loop reconstruction. Returns the recon
    planes + the grids deblocking needs."""
    h16, w16 = src_y.shape
    mb_w, mb_h = w16 // 16, h16 // 16
    y_p = np.zeros((h16, w16), dtype=np.int64)
    cb_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    cr_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    tc_y = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    tc_cb = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    tc_cr = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    i4_modes = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    mv_g = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
    ref_g = np.full((mb_h * 4, mb_w * 4), -2, dtype=np.int8)
    mb_qp = np.zeros((mb_h, mb_w), dtype=np.int32)
    qp = qp0
    qpc = chroma_qp(qp, chroma_qp_offset)
    ref_y = ref[0]
    pending_skips = 0

    def _commit_inter(mb_x, mb_y, parts, rb):
        px, py = mb_x * 16, mb_y * 16
        y_p[py:py + 16, px:px + 16] = rb["recon_y"]
        qpc_l = chroma_qp(qp, chroma_qp_offset)
        cbp_chroma = rb["ch"]["cbp_chroma"]
        for name, plane in (("cb", cb_p), ("cr", cr_p)):
            info = rb["ch"][name]
            dcq = info["dcq"] if cbp_chroma else np.zeros((2, 2), dtype=np.int64)
            dcd = dequant_chroma_dc(dcq, qpc_l)
            for blk in range(4):
                bx, by = blk % 2, blk // 2
                lv = info["acq"][blk] if cbp_chroma == 2 else np.zeros(
                    (4, 4), dtype=np.int64)
                d = dequant_4x4(lv, qpc_l)
                d[0, 0] = dcd[by, bx]
                res = (inverse_transform_4x4(d) + 32) >> 6
                plane[py // 2 + by * 4:py // 2 + by * 4 + 4,
                      px // 2 + bx * 4:px // 2 + bx * 4 + 4] = _clip255(
                    info["pred"][by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)

    for mb_i in range(mb_w * mb_h):
        mb_x, mb_y = mb_i % mb_w, mb_i // mb_w
        px, py = mb_x * 16, mb_y * 16
        bx4, by4 = mb_x * 4, mb_y * 4
        sy = src_y[py:py + 16, px:px + 16]
        scb = src_cb[py // 2:py // 2 + 8, px // 2:px // 2 + 8]
        scr = src_cr[py // 2:py // 2 + 8, px // 2:px // 2 + 8]

        # ---- P_Skip test: skip-derived MV, all-zero quantized residual
        mv_sk = mv_pskip(mv_g, ref_g, bx4, by4)
        parts_sk = [(0, 0, 4, 4, mv_sk)]
        pr = _inter_pred_mb(ref, px, py, parts_sk)
        rb_sk = _inter_residual(pr[0], pr[1], pr[2], sy, scb, scr, qp, qpc)
        if rb_sk["cbp_luma"] == 0 and rb_sk["ch"]["cbp_chroma"] == 0 and (
            p8x8_every == 0 or mb_i % p8x8_every != p8x8_every - 1
        ):
            pending_skips += 1
            y_p[py:py + 16, px:px + 16] = rb_sk["recon_y"]
            cb_p[py // 2:py // 2 + 8, px // 2:px // 2 + 8] = pr[1]
            cr_p[py // 2:py // 2 + 8, px // 2:px // 2 + 8] = pr[2]
            tc_y[by4:by4 + 4, bx4:bx4 + 4] = 0
            tc_cb[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 0
            tc_cr[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 0
            _set_mv_region(mv_g, ref_g, bx4, by4, 4, 4, mv_sk)
            mb_qp[mb_y, mb_x] = qp
            continue

        # ---- inter trials
        trials = []
        if p8x8_every and mb_i % p8x8_every == p8x8_every - 1:
            # P_8x8: per-8x8 sub shape chosen by SAD gain (8x8 vs 4x4)
            parts = []
            subs = []
            mvds = []
            for i8 in range(4):
                sx, sy8 = (i8 % 2) * 2, (i8 // 2) * 2
                src8 = sy[sy8 * 4:sy8 * 4 + 8, sx * 4:sx * 4 + 8]
                mvp8 = mv_predict(mv_g, ref_g, bx4 + sx, by4 + sy8, 2, 2)
                mv8, sad8 = _search_mv(ref_y, px + sx * 4, py + sy8 * 4,
                                       src8, 8, 8, mvp8, range_pel=3)
                quads = []
                sad4 = 0
                for q in range(4):
                    qx, qy = (q % 2), (q // 2)
                    src4 = src8[qy * 4:qy * 4 + 4, qx * 4:qx * 4 + 4]
                    mv4, s4 = _search_mv(ref_y, px + (sx + qx) * 4,
                                         py + (sy8 + qy) * 4, src4, 4, 4,
                                         mvp8, range_pel=2)
                    quads.append((qx, qy, mv4))
                    sad4 += s4
                if sad4 + 64 < sad8:  # 4x4 split must beat the 8x8 clearly
                    subs.append(3)
                    for qx, qy, mv4 in quads:
                        # re-derive mvp in true decode order for the mvd
                        mvp = mv_predict(mv_g, ref_g, bx4 + sx + qx,
                                         by4 + sy8 + qy, 1, 1)
                        # re-search tightly around the quad choice
                        _set_mv_region(mv_g, ref_g, bx4 + sx + qx,
                                       by4 + sy8 + qy, 1, 1, mv4)
                        mvds.append((mv4[0] - mvp[0], mv4[1] - mvp[1]))
                        parts.append((sx + qx, sy8 + qy, 1, 1, mv4))
                else:
                    subs.append(0)
                    mvp = mv_predict(mv_g, ref_g, bx4 + sx, by4 + sy8, 2, 2)
                    _set_mv_region(mv_g, ref_g, bx4 + sx, by4 + sy8, 2, 2, mv8)
                    mvds.append((mv8[0] - mvp[0], mv8[1] - mvp[1]))
                    parts.append((sx, sy8, 2, 2, mv8))
            pr = _inter_pred_mb(ref, px, py, parts)
            rb = _inter_residual(pr[0], pr[1], pr[2], sy, scb, scr, qp, qpc)
            w.ue(pending_skips)
            pending_skips = 0
            w.ue(3)  # P_8x8
            for t in subs:
                w.ue(t)
            for dx, dy in mvds:
                w.se(dx)
                w.se(dy)
            _write_inter_residual(w, rb, tc_y, tc_cb, tc_cr, mb_x, mb_y)
            _commit_inter(mb_x, mb_y, parts, rb)
            tc_upd = rb  # grids already updated in _write_inter_residual
            mb_qp[mb_y, mb_x] = qp
            continue

        # 16x16
        mvp16 = mv_predict(mv_g, ref_g, bx4, by4, 4, 4)
        mv16, sad16 = _search_mv(ref_y, px, py, sy, 16, 16, mvp16)
        trials.append(("16x16", sad16 + 40, [(0, 0, 4, 4, mv16)]))
        # 16x8 / 8x16 (searched against their own directional predictors
        # approximated by mvp16 — the真 mvd is re-derived at write time)
        mvt, sadt = _search_mv(ref_y, px, py, sy[:8], 16, 8, mvp16, 3)
        mvb, sadb = _search_mv(ref_y, px, py + 8, sy[8:], 16, 8, mvp16, 3)
        trials.append(("16x8", sadt + sadb + 80,
                       [(0, 0, 4, 2, mvt), (0, 2, 4, 2, mvb)]))
        mvl, sadl = _search_mv(ref_y, px, py, sy[:, :8], 8, 16, mvp16, 3)
        mvr, sadr = _search_mv(ref_y, px + 8, py, sy[:, 8:], 8, 16, mvp16, 3)
        trials.append(("8x16", sadl + sadr + 80,
                       [(0, 0, 2, 4, mvl), (2, 0, 2, 4, mvr)]))
        kind, _, parts = min(trials, key=lambda t: t[1])
        best_sad = min(t[1] for t in trials)

        # ---- intra fallback when motion compensation is poor
        i16, recon16, score16 = _encode_luma_i16(y_p, px, py, sy, qp)
        if score16 < (best_sad * best_sad) // 256 or best_sad > 3000:
            # full intra trial (I16 vs I4) exactly like an I slice
            i4, recon4, score4 = _encode_luma_i4(
                y_p, px, py, sy, qp, mb_w, w16, h16, i4_modes, tc_y,
                mb_x, mb_y)
            choose = i16 if score16 <= score4 else i4
            recon = recon16 if choose is i16 else recon4
            pr_mb = _inter_pred_mb(ref, px, py, parts)
            rb_int = _inter_residual(pr_mb[0], pr_mb[1], pr_mb[2],
                                     sy, scb, scr, qp, qpc)
            inter_score = rb_int["ssd_y"] + 24 * rb_int["ncoef"]
            intra_score = score16 if choose is i16 else score4
            if intra_score < inter_score:
                w.ue(pending_skips)
                pending_skips = 0
                _write_intra_mb_in_p(
                    w, choose, recon, scb, scr, mb_x, mb_y, y_p, cb_p,
                    cr_p, tc_y, tc_cb, tc_cr, i4_modes, qp,
                    chroma_qp_offset)
                mv_g[by4:by4 + 4, bx4:bx4 + 4] = 0
                ref_g[by4:by4 + 4, bx4:bx4 + 4] = -1
                mb_qp[mb_y, mb_x] = qp
                continue

        # ---- write the chosen inter MB
        pr_mb = _inter_pred_mb(ref, px, py, parts)
        rb = _inter_residual(pr_mb[0], pr_mb[1], pr_mb[2], sy, scb, scr,
                             qp, qpc)
        w.ue(pending_skips)
        pending_skips = 0
        mb_type = {"16x16": 0, "16x8": 1, "8x16": 2}[kind]
        w.ue(mb_type)
        shapes = [p[4] for p in _P_PARTS[mb_type]]
        for (ox, oy, w4, h4, mv), shape in zip(parts, shapes):
            mvp = mv_predict(mv_g, ref_g, bx4 + ox, by4 + oy, w4, h4, shape)
            w.se(mv[0] - mvp[0])
            w.se(mv[1] - mvp[1])
            _set_mv_region(mv_g, ref_g, bx4 + ox, by4 + oy, w4, h4, mv)
        _write_inter_residual(w, rb, tc_y, tc_cb, tc_cr, mb_x, mb_y)
        _commit_inter(mb_x, mb_y, parts, rb)
        mb_qp[mb_y, mb_x] = qp

    if pending_skips:
        w.ue(pending_skips)
    return y_p, cb_p, cr_p, mb_qp, mv_g, ref_g, tc_y


def _write_inter_residual(w, rb, tc_y, tc_cb, tc_cr, mb_x, mb_y):
    cbp_luma = rb["cbp_luma"]
    cbp_chroma = rb["ch"]["cbp_chroma"]
    w.ue(_CBP_INTER_INV[cbp_luma | (cbp_chroma << 4)])
    if cbp_luma or cbp_chroma:
        w.se(0)  # mb_qp_delta
    for i8 in range(4):
        for i4 in range(4):
            blk = i8 * 4 + i4
            gx = mb_x * 4 + BLK4_POS[blk][0]
            gy = mb_y * 4 + BLK4_POS[blk][1]
            if cbp_luma & (1 << i8):
                nc = _nc_from_grid(tc_y, gx, gy)
                tc = cavlc_encode_block(w, rb["luma_scans"][blk], nc, 16)
                tc_y[gy, gx] = tc
            else:
                tc_y[gy, gx] = 0
    if cbp_chroma:
        for comp in ("cb", "cr"):
            dcq = rb["ch"][comp]["dcq"]
            scan = np.array([dcq[0, 0], dcq[0, 1], dcq[1, 0], dcq[1, 1]],
                            dtype=np.int64)
            cavlc_encode_block(w, scan, -1, 4)
    for comp, grid in (("cb", tc_cb), ("cr", tc_cr)):
        for blk in range(4):
            bx2 = mb_x * 2 + blk % 2
            by2 = mb_y * 2 + blk // 2
            if cbp_chroma == 2:
                nc = _nc_from_grid(grid, bx2, by2)
                tc = cavlc_encode_block(
                    w, _scan15(rb["ch"][comp]["acq"][blk]), nc, 15)
                grid[by2, bx2] = tc
            else:
                grid[by2, bx2] = 0


def _write_intra_mb_in_p(w, choose, recon, scb, scr, mb_x, mb_y,
                         y_p, cb_p, cr_p, tc_y, tc_cb, tc_cr, i4_modes,
                         qp, chroma_qp_offset, type_offset=5):
    """Emit an intra macroblock inside an inter slice: identical syntax
    to the I-slice path except mb_type rides offset by +5 in P slices /
    +23 in B slices (Table 7-10/7-14) and mb_qp_delta is always 0 here
    (the inter encoders keep one slice QP)."""
    px, py = mb_x * 16, mb_y * 16
    cx, cy = mb_x * 8, mb_y * 8
    qpc = chroma_qp(qp, chroma_qp_offset)
    ch = _encode_chroma(cb_p, cr_p, cx, cy, scb, scr, qpc)
    cbp_chroma = ch["cbp_chroma"]
    cbp_luma = choose["cbp_luma"]
    if choose["kind"] == "I16":
        mb_type = 1 + choose["mode"] + 4 * cbp_chroma + (12 if cbp_luma else 0)
        w.ue(type_offset + mb_type)
        w.ue(ch["mode"])
        w.se(0)  # mb_qp_delta
        nc = _nc_from_grid(tc_y, mb_x * 4, mb_y * 4)
        cavlc_encode_block(w, choose["dc_scan"], nc, 16)
        for blk in range(16):
            bx4 = mb_x * 4 + BLK4_POS[blk][0]
            by4 = mb_y * 4 + BLK4_POS[blk][1]
            if cbp_luma:
                nc = _nc_from_grid(tc_y, bx4, by4)
                tc = cavlc_encode_block(w, choose["ac_scans"][blk], nc, 15)
                tc_y[by4, bx4] = tc
            else:
                tc_y[by4, bx4] = 0
    else:
        w.ue(type_offset + 0)  # I_4x4 in an inter slice
        for blk in range(16):
            bx4 = mb_x * 4 + BLK4_POS[blk][0]
            by4 = mb_y * 4 + BLK4_POS[blk][1]
            mode = choose["modes"][blk]
            pred_mode = _pred_mode_enc(i4_modes, tc_y, bx4, by4)
            if mode == pred_mode:
                w.bits(1, 1)
            else:
                w.bits(0, 1)
                rem = mode if mode < pred_mode else mode - 1
                w.bits(rem, 3)
            i4_modes[by4, bx4] = mode
        w.ue(ch["mode"])
        cbp = cbp_luma | (cbp_chroma << 4)
        w.ue(_CBP_INTRA_INV[cbp])
        if cbp:
            w.se(0)  # mb_qp_delta
        for i8 in range(4):
            for i4x in range(4):
                blk = i8 * 4 + i4x
                bx4 = mb_x * 4 + BLK4_POS[blk][0]
                by4 = mb_y * 4 + BLK4_POS[blk][1]
                if cbp_luma & (1 << i8):
                    nc = _nc_from_grid(tc_y, bx4, by4)
                    tc = cavlc_encode_block(w, choose["coeff_scans"][blk],
                                            nc, 16)
                    tc_y[by4, bx4] = tc
                else:
                    tc_y[by4, bx4] = 0
    if cbp_chroma:
        for comp in ("cb", "cr"):
            dcq = ch[comp]["dcq"]
            scan = np.array([dcq[0, 0], dcq[0, 1], dcq[1, 0], dcq[1, 1]],
                            dtype=np.int64)
            cavlc_encode_block(w, scan, -1, 4)
    for comp, grid in (("cb", tc_cb), ("cr", tc_cr)):
        for blk in range(4):
            bx2 = mb_x * 2 + blk % 2
            by2 = mb_y * 2 + blk // 2
            if cbp_chroma == 2:
                nc = _nc_from_grid(grid, bx2, by2)
                tc = cavlc_encode_block(w, _scan15(ch[comp]["acq"][blk]),
                                        nc, 15)
                grid[by2, bx2] = tc
            else:
                grid[by2, bx2] = 0
    y_p[py:py + 16, px:px + 16] = recon
    _commit_chroma(cb_p, cr_p, cx, cy, ch, qpc)


# ---------------------------------------------------------------------------
# B-frame encoder: direct/L0/L1/Bi decisions, B_Skip, shape cadences
# ---------------------------------------------------------------------------


def _encode_b_picture(w: _BitsW, src_y, src_cb, src_cr, bctx, qp0: int,
                      chroma_qp_offset: int, b_shape_every: int = 0):
    """One B picture: B_Skip when the direct-derived residual quantizes
    to zero, direct-vs-L0-vs-L1-vs-Bi 16x16 by reconstruction cost,
    every ``b_shape_every`` MBs a forced partition shape (cycling a
    mixed-list 16x8 and two B_8x8 sub-shape mixes — the decode-path
    coverage knob, like ``p8x8_every`` for P pictures), intra fallback;
    bit-exact in-loop reconstruction. Returns the recon planes + the
    two-list grids deblocking needs."""
    h16, w16 = src_y.shape
    mb_w, mb_h = w16 // 16, h16 // 16
    y_p = np.zeros((h16, w16), dtype=np.int64)
    cb_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    cr_p = np.zeros((h16 // 2, w16 // 2), dtype=np.int64)
    tc_y = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    tc_cb = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    tc_cr = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
    i4_modes = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
    mv_g0 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
    ref_g0 = np.full((mb_h * 4, mb_w * 4), -2, dtype=np.int8)
    mv_g1 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
    ref_g1 = np.full((mb_h * 4, mb_w * 4), -2, dtype=np.int8)
    mb_qp = np.zeros((mb_h, mb_w), dtype=np.int32)
    qp = qp0
    qpc = chroma_qp(qp, chroma_qp_offset)
    ref0_y, ref1_y = bctx["l0"][0], bctx["l1"][0]
    pending_skips = 0

    def _commit_inter(mb_x, mb_y, rb):
        px, py = mb_x * 16, mb_y * 16
        y_p[py:py + 16, px:px + 16] = rb["recon_y"]
        cbp_chroma = rb["ch"]["cbp_chroma"]
        for name, plane in (("cb", cb_p), ("cr", cr_p)):
            info = rb["ch"][name]
            dcq = (info["dcq"] if cbp_chroma
                   else np.zeros((2, 2), dtype=np.int64))
            dcd = dequant_chroma_dc(dcq, qpc)
            for blk in range(4):
                bx, by = blk % 2, blk // 2
                lv = (info["acq"][blk] if cbp_chroma == 2
                      else np.zeros((4, 4), dtype=np.int64))
                d = dequant_4x4(lv, qpc)
                d[0, 0] = dcd[by, bx]
                res = (inverse_transform_4x4(d) + 32) >> 6
                plane[py // 2 + by * 4:py // 2 + by * 4 + 4,
                      px // 2 + bx * 4:px // 2 + bx * 4 + 4] = _clip255(
                    info["pred"][by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res)

    def _set_parts(bx4, by4, parts):
        for ox, oy, w4, h4, mv0, mv1 in parts:
            _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1,
                        bx4 + ox, by4 + oy, w4, h4, mv0, mv1)

    for mb_i in range(mb_w * mb_h):
        mb_x, mb_y = mb_i % mb_w, mb_i // mb_w
        px, py = mb_x * 16, mb_y * 16
        bx4, by4 = mb_x * 4, mb_y * 4
        sy = src_y[py:py + 16, px:px + 16]
        scb = src_cb[py // 2:py // 2 + 8, px // 2:px // 2 + 8]
        scr = src_cr[py // 2:py // 2 + 8, px // 2:px // 2 + 8]

        forced = (b_shape_every
                  and mb_i % b_shape_every == b_shape_every - 1)

        # ---- direct trial (also the B_Skip test)
        dparts = _direct_parts(bctx, mv_g0, ref_g0, mv_g1, ref_g1,
                               bx4, by4)
        pr_d = _inter_pred_mb_b(bctx, px, py, dparts)
        rb_d = _inter_residual(pr_d[0], pr_d[1], pr_d[2], sy, scb, scr,
                               qp, qpc)
        if (not forced and rb_d["cbp_luma"] == 0
                and rb_d["ch"]["cbp_chroma"] == 0):
            pending_skips += 1
            _set_parts(bx4, by4, dparts)
            y_p[py:py + 16, px:px + 16] = rb_d["recon_y"]
            cb_p[py // 2:py // 2 + 8, px // 2:px // 2 + 8] = pr_d[1]
            cr_p[py // 2:py // 2 + 8, px // 2:px // 2 + 8] = pr_d[2]
            tc_y[by4:by4 + 4, bx4:bx4 + 4] = 0
            tc_cb[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 0
            tc_cr[mb_y * 2:mb_y * 2 + 2, mb_x * 2:mb_x * 2 + 2] = 0
            mb_qp[mb_y, mb_x] = qp
            continue

        if forced:
            variant = (mb_i // b_shape_every) % 3
            parts = []
            mvds = {0: [], 1: []}
            if variant == 0:
                # B_L0_L1_16x8 (mb_type 8): top L0, bottom L1
                mvp = mv_predict(mv_g0, ref_g0, bx4, by4, 4, 2, "16x8_top")
                mv, _ = _search_mv(ref0_y, px, py, sy[:8], 16, 8, mvp, 3)
                _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1, bx4, by4,
                            4, 2, mv, None)
                mvds[0].append((mv[0] - mvp[0], mv[1] - mvp[1]))
                parts.append((0, 0, 4, 2, mv, None))
                mvp = mv_predict(mv_g1, ref_g1, bx4, by4 + 2, 4, 2,
                                 "16x8_bot")
                mv, _ = _search_mv(ref1_y, px, py + 8, sy[8:], 16, 8,
                                   mvp, 3)
                _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1, bx4, by4 + 2,
                            4, 2, None, mv)
                mvds[1].append((mv[0] - mvp[0], mv[1] - mvp[1]))
                parts.append((0, 2, 4, 2, None, mv))
                head = [8]
            else:
                # B_8x8 sub-shape mixes incl. a B_Direct_8x8 quadrant
                subs = ([0, 1, 2, 3] if variant == 1 else [5, 6, 0, 12])
                for i8 in range(4):
                    sx, sy8 = (i8 % 2) * 2, (i8 // 2) * 2
                    if subs[i8] == 0:
                        dq = _direct_parts(bctx, mv_g0, ref_g0, mv_g1,
                                           ref_g1, bx4, by4, quads=(i8,))
                        for ox, oy, w4, h4, mv0, mv1 in dq:
                            _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1,
                                        bx4 + ox, by4 + oy, w4, h4,
                                        mv0, mv1)
                            parts.append((ox, oy, w4, h4, mv0, mv1))
                        continue
                    geom, mode = _B_SUB[subs[i8]]
                    for ox, oy, w4, h4 in geom:
                        gx, gy = bx4 + sx + ox, by4 + sy8 + oy
                        src_b = sy[(sy8 + oy) * 4:(sy8 + oy + h4) * 4,
                                   (sx + ox) * 4:(sx + ox + w4) * 4]
                        mv0 = mv1 = None
                        if mode & 1:
                            mvp = mv_predict(mv_g0, ref_g0, gx, gy, w4, h4)
                            mv0, _ = _search_mv(
                                ref0_y, px + (sx + ox) * 4,
                                py + (sy8 + oy) * 4, src_b,
                                w4 * 4, h4 * 4, mvp, 2)
                            mvds[0].append((mv0[0] - mvp[0],
                                            mv0[1] - mvp[1]))
                        if mode & 2:
                            mvp = mv_predict(mv_g1, ref_g1, gx, gy, w4, h4)
                            mv1, _ = _search_mv(
                                ref1_y, px + (sx + ox) * 4,
                                py + (sy8 + oy) * 4, src_b,
                                w4 * 4, h4 * 4, mvp, 2)
                            mvds[1].append((mv1[0] - mvp[0],
                                            mv1[1] - mvp[1]))
                        _set_b_part(mv_g0, ref_g0, mv_g1, ref_g1,
                                    gx, gy, w4, h4, mv0, mv1)
                        parts.append((sx + ox, sy8 + oy, w4, h4, mv0, mv1))
                head = [22] + subs
            pr = _inter_pred_mb_b(bctx, px, py, parts)
            rb = _inter_residual(pr[0], pr[1], pr[2], sy, scb, scr,
                                 qp, qpc)
            w.ue(pending_skips)
            pending_skips = 0
            for v in head:
                w.ue(v)
            for lst in (0, 1):
                for dx, dy in mvds[lst]:
                    w.se(dx)
                    w.se(dy)
            _write_inter_residual(w, rb, tc_y, tc_cb, tc_cr, mb_x, mb_y)
            _commit_inter(mb_x, mb_y, rb)
            mb_qp[mb_y, mb_x] = qp
            continue

        # ---- 16x16 trials: direct-with-residual vs L0 vs L1 vs Bi.
        # Grids must stay untouched until the winner is committed, so
        # predictors here are MB-entry state (legal: partition 0 of a
        # 16x16 MB only sees neighbor MBs).
        mvp0 = mv_predict(mv_g0, ref_g0, bx4, by4, 4, 4)
        mv0, _ = _search_mv(ref0_y, px, py, sy, 16, 16, mvp0)
        mvp1 = mv_predict(mv_g1, ref_g1, bx4, by4, 4, 4)
        mv1, _ = _search_mv(ref1_y, px, py, sy, 16, 16, mvp1)
        trials = [(0, dparts, rb_d, 0)]
        for mb_type, mvpair, nmvd in (
            (1, (mv0, None), 1), (2, (None, mv1), 1), (3, (mv0, mv1), 2)
        ):
            tparts = [(0, 0, 4, 4, mvpair[0], mvpair[1])]
            pr = _inter_pred_mb_b(bctx, px, py, tparts)
            rb = _inter_residual(pr[0], pr[1], pr[2], sy, scb, scr,
                                 qp, qpc)
            trials.append((mb_type, tparts, rb, nmvd))
        best = min(trials,
                   key=lambda t: t[2]["ssd_y"] + 24 * t[2]["ncoef"]
                   + 16 * t[3])
        best_cost = (best[2]["ssd_y"] + 24 * best[2]["ncoef"]
                     + 16 * best[3])

        # ---- intra fallback (scene content absent from both refs)
        i16, recon16, score16 = _encode_luma_i16(y_p, px, py, sy, qp)
        if score16 < best_cost:
            i4, recon4, score4 = _encode_luma_i4(
                y_p, px, py, sy, qp, mb_w, w16, h16, i4_modes, tc_y,
                mb_x, mb_y)
            choose = i16 if score16 <= score4 else i4
            recon = recon16 if choose is i16 else recon4
            if min(score16, score4) < best_cost:
                w.ue(pending_skips)
                pending_skips = 0
                _write_intra_mb_in_p(
                    w, choose, recon, scb, scr, mb_x, mb_y, y_p, cb_p,
                    cr_p, tc_y, tc_cb, tc_cr, i4_modes, qp,
                    chroma_qp_offset, type_offset=23)
                for g in (mv_g0, mv_g1):
                    g[by4:by4 + 4, bx4:bx4 + 4] = 0
                for g in (ref_g0, ref_g1):
                    g[by4:by4 + 4, bx4:bx4 + 4] = -1
                mb_qp[mb_y, mb_x] = qp
                continue

        mb_type, parts, rb, _ = best
        w.ue(pending_skips)
        pending_skips = 0
        w.ue(mb_type)
        if mb_type != 0:
            (_, _, _, _, pmv0, pmv1) = parts[0]
            if pmv0 is not None:
                w.se(pmv0[0] - mvp0[0])
                w.se(pmv0[1] - mvp0[1])
            if pmv1 is not None:
                w.se(pmv1[0] - mvp1[0])
                w.se(pmv1[1] - mvp1[1])
        _set_parts(bx4, by4, parts)
        _write_inter_residual(w, rb, tc_y, tc_cb, tc_cr, mb_x, mb_y)
        _commit_inter(mb_x, mb_y, rb)
        mb_qp[mb_y, mb_x] = qp

    if pending_skips:
        w.ue(pending_skips)
    return y_p, cb_p, cr_p, mb_qp, mv_g0, ref_g0, mv_g1, ref_g1, tc_y
