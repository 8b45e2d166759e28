"""Baseline TIFF decode in pure Python/numpy — the remaining common
crawl-data raster format implementable without native libs.

Scope (TIFF 6.0, the baseline subset real scanned/web TIFFs use):
little- and big-endian files, stripped chunky-planar images, 8-bit
grayscale (PhotometricInterpretation 0/1) and RGB/RGBA, compressions
1 (none), 32773 (PackBits), and 5 (TIFF-variant LZW with the
early-change code-width switch), Predictor 2 (horizontal
differencing). Tiled files, 16-bit samples, CMYK, and JPEG-in-TIFF
raise ValueError (decoder-boundary contract — one adversarial row
can't abort a job).

Like the other pure codecs (PNG/JPEG/GIF), an in-repo ENCODER
provides fixtures: ``encode_tiff`` writes all three compressions and
the predictor, so round-trip tests are pixel-exact with zero native
deps, and the magic-sniffed decode slots into the same mapInPandas
image pipelines (``multimodal._decode_image_any``).

Format facts used (public spec: Adobe TIFF 6.0):
- header ``II*\\0`` / ``MM\\0*`` + first-IFD offset; IFDs are 12-byte
  entries (tag, type, count, value-or-offset) — values <= 4 bytes are
  stored inline.
- PackBits: control byte n in [0,127] copies n+1 literals; in
  [-127,-1] repeats the next byte 1-n times; -128 is a no-op.
- TIFF LZW: MSB-first bit packing, 9-bit initial codes, Clear=256,
  EOI=257, table entries from 258, code width bumps at table sizes
  510/1021/2045 (the spec's "early change" — one code before the
  power of two).
- Predictor 2: each sample stores the delta to the same sample one
  pixel left; decoding is a per-row cumulative sum per channel.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Tuple

import numpy as np

from .codecs import normalize_decode_errors


def is_tiff(payload: bytes) -> bool:
    return payload[:4] in (b"II*\x00", b"MM\x00*")


# ---------------------------------------------------------------------------
# PackBits
# ---------------------------------------------------------------------------
def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expected:
        c = data[i]
        i += 1
        if c < 128:  # literal run
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:  # repeat run of 257-c
            if i >= n:
                raise ValueError("PackBits repeat run past end of strip")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    if len(out) < expected:
        raise ValueError("PackBits strip shorter than declared")
    return bytes(out[:expected])


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a repeat run of >= 3
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i = j + 1
            continue
        # literal run until the next >=3 repeat (or 128 bytes)
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j + 1] == data[j] and data[j + 2] == data[j]:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


# ---------------------------------------------------------------------------
# TIFF-variant LZW (early change)
# ---------------------------------------------------------------------------
_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes, expected: int | None = None) -> bytes:
    """TIFF/PDF early-change LZW. ``expected`` = strip byte count (TIFF
    strips declare their size); ``None`` decodes until EOI (the PDF
    LZWDecode contract, same early-change variant per ISO 32000
    §7.4.4.2)."""
    until_eoi = expected is None
    if until_eoi:
        expected = 1 << 62  # bounded by the input stream's EOI
    out = bytearray()
    table: List[bytes] = []

    def reset() -> int:
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.append(b"")  # 256 clear
        table.append(b"")  # 257 eoi
        return 9

    width = reset()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == _CLEAR:
                width = reset()
                prev = None
                continue
            if code == _EOI:
                if until_eoi:
                    return bytes(out)
                if len(out) < expected:
                    raise ValueError("LZW EOI before declared strip size")
                return bytes(out[:expected])
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code beyond table")
            out += entry
            prev = entry
            # early change, decoder side: the decoder's table is one
            # entry BEHIND the encoder's at read time (the next entry's
            # final char comes from the code about to be read — the
            # reason for the code == len(table) case above). The
            # encoder widens after assigning entry 510/1022/2046, so
            # the decoder must widen when its own table holds one entry
            # fewer: lengths 510/1022/2046 (GIF, without early change,
            # widens at 511/1023/2047).
            if len(table) in (510, 1022, 2046) and width < 12:
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    raise ValueError("LZW strip ended without EOI")


def lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: Dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(_CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], width)
        table[wc] = next_code
        next_code += 1
        # early change, encoder side: once code 510/1022/2046 is
        # assigned (next free code 511/1023/2047), subsequent codes are
        # written wider — mirroring the decoder bump above
        if next_code in (511, 1023, 2047) and width < 12:
            width += 1
        if next_code == 4094:  # table full: clear (spec maximum 12-bit)
            put(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([b])
    if w:
        put(table[w], width)
    put(_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------
@normalize_decode_errors("TIFF")
def decode_tiff(payload: bytes) -> Tuple[int, int, int, np.ndarray]:
    """(width, height, channels, HxWxC uint8) for a baseline TIFF."""
    if not is_tiff(payload):
        raise ValueError("not a TIFF")
    bo = "<" if payload[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)

    def read_entry(pos: int):
        tag, typ, cnt = struct.unpack_from(bo + "HHI", payload, pos)
        sizes = {1: 1, 2: 1, 3: 2, 4: 4}
        if typ not in sizes:
            return tag, None
        total = sizes[typ] * cnt
        if total <= 4:
            raw = payload[pos + 8 : pos + 8 + total]
        else:
            (off,) = struct.unpack_from(bo + "I", payload, pos + 8)
            raw = payload[off : off + total]
        if len(raw) < total:
            raise ValueError("IFD value out of bounds")
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        vals = list(struct.unpack(bo + fmt * cnt, raw))
        return tag, vals

    if ifd_off + 2 > len(payload):
        raise ValueError("IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    tags: Dict[int, list] = {}
    for k in range(n_entries):
        tag, vals = read_entry(ifd_off + 2 + 12 * k)
        if vals is not None:
            tags[tag] = vals

    def one(tag: int, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return v[0]

    width = one(256)
    height = one(257)
    spp = one(277, 1)
    bps = tags.get(258, [8])
    if any(b != 8 for b in bps):
        raise ValueError("only 8-bit samples supported")
    compression = one(259, 1)
    photometric = one(262, 1)
    if photometric not in (0, 1, 2):
        raise ValueError(f"unsupported photometric {photometric}")
    if one(284, 1) != 1:
        raise ValueError("planar configuration 2 not supported")
    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF not supported")
    predictor = one(317, 1)
    rows_per_strip = one(278, height)
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing strip layout")

    row_bytes = width * spp
    raw = bytearray()
    rows_left = height
    for off, cnt in zip(offsets, counts):
        strip_rows = min(rows_per_strip, rows_left)
        expected = strip_rows * row_bytes
        chunk = payload[off : off + cnt]
        if len(chunk) < cnt:
            raise ValueError("strip out of bounds")
        if compression == 1:
            if len(chunk) < expected:
                raise ValueError("uncompressed strip shorter than declared")
            raw += chunk[:expected]
        elif compression == 32773:
            raw += packbits_decode(chunk, expected)
        elif compression == 5:
            raw += lzw_decode(chunk, expected)
        else:
            raise ValueError(f"unsupported compression {compression}")
        rows_left -= strip_rows
    if rows_left:
        raise ValueError("strips cover fewer rows than ImageLength")

    px = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(height, width, spp)
    if predictor == 2:
        px = np.cumsum(px.astype(np.uint32), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise ValueError(f"unsupported predictor {predictor}")
    if photometric == 0:  # WhiteIsZero
        px = (255 - px.astype(np.int16)).astype(np.uint8)
    if spp == 4:  # drop alpha for the feature pipelines, like GIF
        px = px[:, :, :3]
        spp = 3
    return width, height, spp, np.ascontiguousarray(px)


# ---------------------------------------------------------------------------
# encode (fixture writer)
# ---------------------------------------------------------------------------
def encode_tiff(
    arr: np.ndarray,
    compression: str = "none",
    predictor: bool = False,
    big_endian: bool = False,
    rows_per_strip: int = 0,
) -> bytes:
    """Baseline TIFF for an 8-bit grayscale (HxW) or RGB (HxWx3) array.
    ``compression`` in {'none', 'packbits', 'lzw'}."""
    if arr.dtype != np.uint8:
        raise ValueError("need uint8 pixels")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    if spp not in (1, 3):
        raise ValueError("need 1 or 3 samples per pixel")
    comp_id = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    rows_per_strip = rows_per_strip or h
    bo = ">" if big_endian else "<"

    data = arr
    if predictor:
        d = arr.astype(np.int16)
        d[:, 1:, :] = d[:, 1:, :] - arr[:, :-1, :].astype(np.int16)
        data = d.astype(np.uint8)

    strips: List[bytes] = []
    for r0 in range(0, h, rows_per_strip):
        raw = data[r0 : r0 + rows_per_strip].tobytes()
        if comp_id == 32773:
            strips.append(packbits_encode(raw))
        elif comp_id == 5:
            strips.append(lzw_encode(raw))
        else:
            strips.append(raw)

    header_end = 8
    # layout: header | strip data | [offset arrays] | IFD
    strip_offsets: List[int] = []
    pos = header_end
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)

    entries: List[Tuple[int, int, int, bytes]] = []  # tag, type, count, value4

    def short(v: int) -> bytes:
        return struct.pack(bo + "HH", v, 0)

    def long_(v: int) -> bytes:
        return struct.pack(bo + "I", v)

    extra = bytearray()
    extra_base = pos

    def arr_value(vals: List[int], typ: int) -> bytes:
        nonlocal extra
        fmt = "H" if typ == 3 else "I"
        size = (2 if typ == 3 else 4) * len(vals)
        raw = struct.pack(bo + fmt * len(vals), *vals)
        if size <= 4:
            return raw + b"\x00" * (4 - size)
        off = extra_base + len(extra)
        extra += raw
        return long_(off)

    entries.append((256, 3, 1, short(w)))
    entries.append((257, 3, 1, short(h)))
    entries.append((258, 3, spp, arr_value([8] * spp, 3)))
    entries.append((259, 3, 1, short(comp_id)))
    entries.append((262, 3, 1, short(1 if spp == 1 else 2)))
    entries.append((273, 4, len(strips), arr_value(strip_offsets, 4)))
    entries.append((277, 3, 1, short(spp)))
    entries.append((278, 3, 1, short(rows_per_strip)))
    entries.append((279, 4, len(strips), arr_value([len(s) for s in strips], 4)))
    entries.append((284, 3, 1, short(1)))
    if predictor:
        entries.append((317, 3, 1, short(2)))
    entries.sort(key=lambda e: e[0])

    ifd_off = extra_base + len(extra)
    out = bytearray()
    out += (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(
        bo + "I", ifd_off
    )
    for s in strips:
        out += s
    out += extra
    out += struct.pack(bo + "H", len(entries))
    for tag, typ, cnt, val4 in entries:
        out += struct.pack(bo + "HHI", tag, typ, cnt) + val4
    out += struct.pack(bo + "I", 0)
    return bytes(out)
