"""From-scratch bzip2 decoder.

Wikipedia publishes its dumps as ``.xml.bz2`` multistream archives —
the largest public webtext corpus outside Common Crawl — so bzip2
completes the engine's owned archive-format family (gzip/zstd/LZ4/
bzip2). Verification posture matches the rest of the family:
the decoder is exercised against genuinely foreign streams produced by
the real library (stdlib ``bz2``) at every level, with multi-block and
concatenated-stream drills (``tests/test_compression.py``); the hot
ingest path keeps stdlib bz2 (C speed) while this module is the
ownership/correctness proof and the fallback documentation of the
format.

Implemented: stream header/footer with combined CRC, block magic, the
MSB-first bit layout (blocks are not byte-aligned), symbol maps,
selector MTF + unary coding, delta-coded Huffman code lengths, the
multi-table 50-symbol group switching, RUNA/RUNB bijective-base-2 zero
runs, MTF decode, inverse BWT via stable counting sort, RLE1, per-block
CRC (bzip2's non-reflected CRC-32) and the combined stream CRC;
randomized blocks (deprecated) are rejected explicitly.
"""

from __future__ import annotations


class Bzip2Error(ValueError):
    pass


def _bz_crc_table() -> list[int]:
    table = []
    for n in range(256):
        c = n << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7 if c & 0x80000000 else c << 1) & 0xFFFFFFFF
        table.append(c)
    return table


_BZ_CRC = _bz_crc_table()


def _bz_crc32(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = ((c << 8) & 0xFFFFFFFF) ^ _BZ_CRC[((c >> 24) ^ b) & 0xFF]
    return c ^ 0xFFFFFFFF


class _MsbBits:
    """MSB-first reader over the whole stream (bzip2 blocks are
    bit-packed with no alignment)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def read(self, n: int) -> int:
        start = self.pos
        end = start + n
        if end > len(self.data) * 8:
            raise Bzip2Error("bzip2 stream truncated")
        chunk = self.data[start // 8 : (end + 7) // 8]
        val = int.from_bytes(chunk, "big")
        val >>= (8 - end % 8) % 8  # drop bits past `end`
        self.pos = end
        return val & ((1 << n) - 1)


def _decode_block(bits: _MsbBits, alpha_used: list[int]) -> bytes:
    """Decode one block body (after the magic + CRC were read by the
    caller): returns the RLE1-decoded original bytes."""
    randomized = bits.read(1)
    if randomized:
        raise Bzip2Error("randomized blocks are deprecated and unsupported")
    orig_ptr = bits.read(24)
    # symbol map
    ranges = bits.read(16)
    used: list[int] = []
    for i in range(16):
        if ranges & (0x8000 >> i):
            m = bits.read(16)
            for j in range(16):
                if m & (0x8000 >> j):
                    used.append(i * 16 + j)
    if not used:
        raise Bzip2Error("empty symbol map")
    n_used = len(used)
    alpha = n_used + 2  # RUNA, RUNB, MTF values 2..n_used, EOB
    n_groups = bits.read(3)
    if not 2 <= n_groups <= 6:
        raise Bzip2Error("invalid group count")
    n_selectors = bits.read(15)
    # selectors: unary-coded MTF over the group list
    group_mtf = list(range(n_groups))
    selectors = []
    for _ in range(n_selectors):
        j = 0
        while bits.read(1):
            j += 1
            if j >= n_groups:
                raise Bzip2Error("selector out of range")
        g = group_mtf.pop(j)
        group_mtf.insert(0, g)
        selectors.append(g)
    # Huffman tables: delta-coded lengths, canonical MSB-first codes
    tables = []
    for _g in range(n_groups):
        curr = bits.read(5)
        lengths = []
        for _s in range(alpha):
            while bits.read(1):
                curr += -1 if bits.read(1) else 1
            if not 1 <= curr <= 23:
                raise Bzip2Error("huffman length out of range")
            lengths.append(curr)
        # canonical: codes assigned per length in symbol order
        codes: dict[tuple[int, int], int] = {}
        vec = 0
        for length in range(min(lengths), max(lengths) + 1):
            for sym, sl in enumerate(lengths):
                if sl == length:
                    codes[(length, vec)] = sym
                    vec += 1
            vec <<= 1
        tables.append(codes)
    # MTF + RLE2 symbol stream
    mtf = list(used)
    bwt = bytearray()
    run = 0
    run_bit = 0
    group_pos = 0
    sym_count = 0
    codes = None
    while True:
        if sym_count % 50 == 0:
            if group_pos >= len(selectors):
                raise Bzip2Error("selector list exhausted")
            codes = tables[selectors[group_pos]]
            group_pos += 1
        sym_count += 1
        code = 0
        length = 0
        while True:
            code = (code << 1) | bits.read(1)
            length += 1
            if length > 23:
                raise Bzip2Error("invalid huffman code")
            sym = codes.get((length, code))
            if sym is not None:
                break
        if sym <= 1:  # RUNA/RUNB: bijective base-2 zero run
            run += (sym + 1) << run_bit
            run_bit += 1
            continue
        if run:
            bwt += bytes([mtf[0]]) * run
            run = 0
            run_bit = 0
        if sym == alpha - 1:  # EOB
            break
        byte = mtf.pop(sym - 1)
        mtf.insert(0, byte)
        bwt.append(byte)
    if run:
        bwt += bytes([mtf[0]]) * run
    n = len(bwt)
    if orig_ptr >= n:
        raise Bzip2Error("origPtr out of range")
    # inverse BWT: stable counting sort -> next-pointer walk
    counts = [0] * 256
    for b in bwt:
        counts[b] += 1
    starts = [0] * 256
    acc = 0
    for v in range(256):
        starts[v] = acc
        acc += counts[v]
    tt = [0] * n
    fill = list(starts)
    for i, b in enumerate(bwt):
        tt[fill[b]] = i
        fill[b] += 1
    out = bytearray(n)
    pos = tt[orig_ptr]
    for k in range(n):
        out[k] = bwt[pos]
        pos = tt[pos]
    # RLE1: 4 equal bytes followed by an extra-count byte
    res = bytearray()
    i = 0
    while i < n:
        b = out[i]
        j = i + 1
        while j < n and j - i < 4 and out[j] == b:
            j += 1
        res += out[i:j]
        if j - i == 4:
            if j >= n:
                raise Bzip2Error("RLE1 run missing count byte")
            res += bytes([b]) * out[j]
            j += 1
        i = j
    return bytes(res)


def decode_bzip2(payload: bytes, verify_checksum: bool = True) -> bytes:
    """Decode one-or-more concatenated bzip2 streams."""
    out = bytearray()
    byte_pos = 0
    n = len(payload)
    while byte_pos < n:
        if payload[byte_pos : byte_pos + 3] != b"BZh":
            raise Bzip2Error("bad bzip2 magic")
        level = payload[byte_pos + 3] - 0x30
        if not 1 <= level <= 9:
            raise Bzip2Error("bad bzip2 level digit")
        bits = _MsbBits(payload, (byte_pos + 4) * 8)
        combined = 0
        while True:
            magic = bits.read(48)
            if magic == 0x314159265359:
                want_crc = bits.read(32)
                block = _decode_block(bits, [])
                if verify_checksum:
                    got = _bz_crc32(block)
                    if got != want_crc:
                        raise Bzip2Error("block CRC mismatch")
                combined = (
                    ((combined << 1) | (combined >> 31)) ^ want_crc
                ) & 0xFFFFFFFF
                out += block
            elif magic == 0x177245385090:
                want_combined = bits.read(32)
                if verify_checksum and combined != want_combined:
                    raise Bzip2Error("combined CRC mismatch")
                break
            else:
                raise Bzip2Error("bad block magic")
        byte_pos = (bits.pos + 7) // 8  # next stream is byte-aligned
    return bytes(out)
