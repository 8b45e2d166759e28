"""From-scratch LZ4 decoder (frame + raw block) and literal-only encoder.

Same posture as :mod:`zstd_codec`: pyarrow bundles the real LZ4 codec
(both the frame format, codec ``lz4``, and the raw block format,
``lz4_raw``), so the decoder is verified against genuinely foreign
bitstreams in ``tests/test_zstd.py``, and the encoder's output is
verified by the real decompressor. Frame features: FLG/BD descriptor
with the XXH32-derived header checksum, linked AND independent blocks,
per-block checksums, content size + content checksum, skippable
frames, legacy-frame rejection. The encoder emits uncompressed-block
frames (spec-legal; what a sink needs without a native lib).
"""

from __future__ import annotations

from .xxhash import xxh32

LZ4_FRAME_MAGIC = 0x184D2204
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F


class Lz4Error(ValueError):
    pass


def is_lz4_frame(payload: bytes) -> bool:
    if len(payload) < 4:
        return False
    m = int.from_bytes(payload[:4], "little")
    return m == LZ4_FRAME_MAGIC or _SKIPPABLE_LO <= m <= _SKIPPABLE_HI


def decode_lz4_block(block: bytes, out: bytearray | None = None) -> bytearray:
    """Decode one raw LZ4 block, appending to ``out`` (the window for
    linked blocks) and returning it."""
    if out is None:
        out = bytearray()
    pos = 0
    n = len(block)
    if n == 0:
        return out
    while True:
        if pos >= n:
            raise Lz4Error("truncated sequence token")
        token = block[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise Lz4Error("truncated literal length")
                b = block[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise Lz4Error("truncated literals")
        out += block[pos : pos + lit_len]
        pos += lit_len
        if pos == n:
            return out  # last sequence has no match part
        if pos + 2 > n:
            raise Lz4Error("truncated match offset")
        offset = int.from_bytes(block[pos : pos + 2], "little")
        pos += 2
        if offset == 0 or offset > len(out):
            raise Lz4Error("match offset out of window")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if pos >= n:
                    raise Lz4Error("truncated match length")
                b = block[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        if offset >= match_len:
            start = len(out) - offset
            out += out[start : start + match_len]
        else:
            pattern = bytes(out[len(out) - offset :])
            out += (pattern * (match_len // offset + 1))[:match_len]


def decode_lz4_frame(payload: bytes, verify_checksums: bool = True) -> bytes:
    """Decode one-or-more concatenated LZ4 frames."""
    out = bytearray()
    pos = 0
    n = len(payload)
    while pos < n:
        if n - pos < 4:
            raise Lz4Error("truncated frame magic")
        magic = int.from_bytes(payload[pos : pos + 4], "little")
        pos += 4
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if n - pos < 4:
                raise Lz4Error("truncated skippable frame")
            size = int.from_bytes(payload[pos : pos + 4], "little")
            pos += 4 + size
            continue
        if magic != LZ4_FRAME_MAGIC:
            raise Lz4Error("bad LZ4 frame magic (legacy frames unsupported)")
        desc_start = pos
        if n - pos < 2:
            raise Lz4Error("truncated frame descriptor")
        flg = payload[pos]
        bd = payload[pos + 1]
        pos += 2
        if (flg >> 6) != 1:
            raise Lz4Error("unsupported LZ4 frame version")
        block_indep = (flg >> 5) & 1
        block_checksum = (flg >> 4) & 1
        has_content_size = (flg >> 3) & 1
        content_checksum = (flg >> 2) & 1
        dict_id = flg & 1
        if bd & 0x8F:
            raise Lz4Error("reserved BD bits set")
        content_size = None
        if has_content_size:
            if n - pos < 8:
                raise Lz4Error("truncated content size")
            content_size = int.from_bytes(payload[pos : pos + 8], "little")
            pos += 8
        if dict_id:
            raise Lz4Error("dictionaries are not supported")
        if pos >= n:
            raise Lz4Error("truncated header checksum")
        hc = payload[pos]
        pos += 1
        if verify_checksums:
            want = (xxh32(payload[desc_start:pos - 1]) >> 8) & 0xFF
            if hc != want:
                raise Lz4Error("frame header checksum mismatch")
        window = bytearray()
        while True:
            if n - pos < 4:
                raise Lz4Error("truncated block size")
            bsize = int.from_bytes(payload[pos : pos + 4], "little")
            pos += 4
            if bsize == 0:
                break  # EndMark
            uncompressed = bool(bsize & 0x80000000)
            bsize &= 0x7FFFFFFF
            if n - pos < bsize:
                raise Lz4Error("truncated block")
            block = payload[pos : pos + bsize]
            pos += bsize
            if block_checksum:
                if n - pos < 4:
                    raise Lz4Error("truncated block checksum")
                want = int.from_bytes(payload[pos : pos + 4], "little")
                pos += 4
                if verify_checksums and xxh32(block) != want:
                    raise Lz4Error("block checksum mismatch")
            if uncompressed:
                window += block
            elif block_indep:
                # independent blocks may not reference earlier output:
                # decode standalone (offsets bounded by the block's own
                # output), then append
                window += decode_lz4_block(block)
            else:
                decode_lz4_block(block, window)
        if content_size is not None and len(window) != content_size:
            raise Lz4Error("content size mismatch")
        if content_checksum:
            if n - pos < 4:
                raise Lz4Error("truncated content checksum")
            want = int.from_bytes(payload[pos : pos + 4], "little")
            pos += 4
            if verify_checksums and xxh32(bytes(window)) != want:
                raise Lz4Error("content checksum mismatch")
        out += window
    return bytes(out)


def encode_lz4_frame_store(
    content: bytes, block_size: int = 1 << 16, content_checksum: bool = True
) -> bytes:
    """Emit a valid LZ4 frame using uncompressed blocks only."""
    flg = (1 << 6) | (1 << 5) | (1 << 3)  # v01, independent, content size
    if content_checksum:
        flg |= 1 << 2
    bd = 4 << 4  # 64 KiB max block size
    desc = bytes([flg, bd]) + len(content).to_bytes(8, "little")
    hc = (xxh32(desc) >> 8) & 0xFF
    parts = [LZ4_FRAME_MAGIC.to_bytes(4, "little"), desc, bytes([hc])]
    for i in range(0, len(content), block_size):
        block = content[i : i + block_size]
        parts.append((len(block) | 0x80000000).to_bytes(4, "little"))
        parts.append(block)
    parts.append((0).to_bytes(4, "little"))  # EndMark
    if content_checksum:
        parts.append(xxh32(content).to_bytes(4, "little"))
    return b"".join(parts)


def _chain_matches(data: bytes, max_offset: int, chain: int = 16):
    """Greedy longest-match hash chains for the LZ4 encoders.
    Yields (lit_start, lit_len, offset, match_len) with spec-safe
    margins left to the caller via ``end_margin`` positions."""
    n = len(data)
    table: dict[bytes, list[int]] = {}
    anchor = 0
    pos = 0
    out = []
    # LZ4 end rules: last match starts >= 12 bytes before end, last 5
    # bytes are literals; stopping matches at n-12 satisfies both
    last_match_start = n - 12
    while pos + 4 <= n and pos <= last_match_start:
        key = data[pos : pos + 4]
        cands = table.get(key)
        if cands is None:
            table[key] = [pos]
            pos += 1
            continue
        best_len = 0
        best_cand = -1
        limit = min(n - 5, n) - pos  # keep 5 trailing literals
        for cand in reversed(cands):
            if pos - cand > max_offset:
                continue
            length = 4
            while (
                length < limit
                and data[cand + length] == data[pos + length]
            ):
                length += 1
            if length > best_len:
                best_len = length
                best_cand = cand
                if length >= 1024:
                    break
        cands.append(pos)
        if len(cands) > chain:
            del cands[0]
        if best_len < 4:
            pos += 1
            continue
        out.append((anchor, pos - anchor, pos - best_cand, best_len))
        end = pos + best_len
        step = 1 if best_len < 64 else 7
        for p in range(pos + 1, min(end, n - 4), step):
            k2 = data[p : p + 4]
            lst = table.get(k2)
            if lst is None:
                table[k2] = [p]
            else:
                lst.append(p)
                if len(lst) > chain:
                    del lst[0]
        pos = end
        anchor = end
    return out, anchor


def encode_lz4_block(data: bytes) -> bytes:
    """Genuinely compressed raw LZ4 block (greedy hash-chain matching,
    spec end-condition margins). Decodable by any LZ4 implementation —
    pinned against the real library in tests."""
    matches, anchor = _chain_matches(data, max_offset=0xFFFF)
    parts = []

    def emit(lit: bytes, mlen: int | None, offset: int | None) -> None:
        ll = len(lit)
        ml = 0 if mlen is None else mlen - 4
        token = (min(ll, 15) << 4) | min(ml, 15)
        parts.append(bytes([token]))
        if ll >= 15:
            rest = ll - 15
            while rest >= 255:
                parts.append(b"\xff")
                rest -= 255
            parts.append(bytes([rest]))
        parts.append(lit)
        if mlen is None:
            return
        parts.append(offset.to_bytes(2, "little"))
        if ml >= 15:
            rest = ml - 15
            while rest >= 255:
                parts.append(b"\xff")
                rest -= 255
            parts.append(bytes([rest]))

    for lit_start, lit_len, offset, mlen in matches:
        emit(data[lit_start : lit_start + lit_len], mlen, offset)
    emit(data[anchor:], None, None)  # trailing literals-only sequence
    return b"".join(parts)


def encode_lz4_frame(
    content: bytes, block_size: int = 1 << 16, content_checksum: bool = True
) -> bytes:
    """A genuinely compressed LZ4 frame (independent blocks; a block
    falls back to uncompressed form when matching doesn't pay)."""
    flg = (1 << 6) | (1 << 5) | (1 << 3)
    if content_checksum:
        flg |= 1 << 2
    bd = 4 << 4
    desc = bytes([flg, bd]) + len(content).to_bytes(8, "little")
    hc = (xxh32(desc) >> 8) & 0xFF
    parts = [LZ4_FRAME_MAGIC.to_bytes(4, "little"), desc, bytes([hc])]
    for i in range(0, len(content), block_size):
        block = content[i : i + block_size]
        comp = encode_lz4_block(block)
        if len(comp) < len(block):
            parts.append(len(comp).to_bytes(4, "little"))
            parts.append(comp)
        else:
            parts.append((len(block) | 0x80000000).to_bytes(4, "little"))
            parts.append(block)
    parts.append((0).to_bytes(4, "little"))
    if content_checksum:
        parts.append(xxh32(content).to_bytes(4, "little"))
    return b"".join(parts)
