"""Pure-stdlib media codecs: real decode for PNG and WAV.

The container has no codec libraries (PIL/libvips/ffmpeg), but two
formats need none: PNG is zlib (stdlib) + the five spec filters
(RFC 2083 / W3C PNG 6.3-6.6), and 16-bit PCM WAV is the stdlib ``wave``
module + a frombuffer. These decoders upgrade the multimodal family from
"decode stubbed" to real decode for the formats a training pipeline can
handle without native deps; JPEG/video remain behind the declared stub
(`multimodal.decode_image_stub`).

Scale shape: both decoders are called from mapInPandas batches
(byte-aware batching in `multimodal.py`); the PNG un-filter is numpy-
vectorized for filters None/Up and per-byte for Sub/Average/Paeth
(sequential in x by construction of the spec).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from typing import Tuple

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def normalize_decode_errors(fmt: str):
    """Decorator: the decoder-boundary contract is 'malformed payload ->
    ValueError' so mapInPandas callers can fall back to the stub with one
    narrow except. Adversarial web media otherwise leaks struct.error
    (truncated IHDR), zlib.error (corrupt IDAT), wave.Error, IndexError
    (truncated GIF/JPEG) etc., and ONE bad row would abort the whole
    Spark task/job (round-3 ADVICE)."""

    def wrap(fn):
        def inner(payload, *args, **kwargs):
            try:
                return fn(payload, *args, **kwargs)
            except ValueError:
                raise
            except Exception as exc:  # noqa: BLE001 — boundary normalization
                raise ValueError(f"malformed {fmt}: {type(exc).__name__}: {exc}")

        inner.__name__ = fn.__name__
        inner.__doc__ = fn.__doc__
        return inner

    return wrap


def is_png(payload: bytes) -> bool:
    return payload[:8] == PNG_MAGIC


def is_wav(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


@normalize_decode_errors("PNG")
def decode_png(payload: bytes) -> Tuple[int, int, int, np.ndarray]:
    """(width, height, channels, HxWxC uint8 array) for an 8-bit-depth,
    non-interlaced PNG of color type gray/RGB/gray+alpha/RGBA.

    Raises ValueError for anything else (palette, 16-bit, Adam7) — the
    caller falls back to the declared stub.
    """
    if not is_png(payload):
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bitdepth = colortype = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bitdepth != 8 or colortype not in _CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG shape (depth={bitdepth}, color={colortype}, "
            f"interlace={interlace})"
        )
    channels = _CHANNELS[colortype]
    stride = width * channels
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = channels
    p = 0
    for y in range(height):
        f = int(raw[p])
        row = raw[p + 1 : p + 1 + stride].astype(np.int32)
        p += 1 + stride
        if f == 0:  # None
            cur = row
        elif f == 2:  # Up — vectorized
            cur = (row + prev) & 0xFF
        elif f == 1:  # Sub — sequential in x
            cur = row
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 3:  # Average
            cur = row
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = row
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return width, height, channels, out.reshape(height, width, channels)


def _filter_row(cur: np.ndarray, prev: np.ndarray, f: int, bpp: int) -> np.ndarray:
    """Forward filter (encoder side) — exact inverse of the decode step."""
    cur32 = cur.astype(np.int32)
    prev32 = prev.astype(np.int32)
    n = len(cur32)
    out = np.empty(n, dtype=np.int32)
    for x in range(n):
        a = int(cur32[x - bpp]) if x >= bpp else 0
        b = int(prev32[x])
        c = int(prev32[x - bpp]) if x >= bpp else 0
        if f == 0:
            pred = 0
        elif f == 1:
            pred = a
        elif f == 2:
            pred = b
        elif f == 3:
            pred = (a + b) >> 1
        else:
            pp = a + b - c
            pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[x] = (cur32[x] - pred) & 0xFF
    return out.astype(np.uint8)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer (8-bit, non-interlaced) for fixtures and sinks.

    ``filter_type`` applies one spec filter to every row — used by the
    cross-filter roundtrip test (the same pixels encoded under each of
    the five filters must decode identically).
    """
    if arr.ndim == 2:
        arr = arr[:, :, None]
    height, width, channels = arr.shape
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    flat = arr.reshape(height, stride).astype(np.uint8)
    rows = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        rows.append(filter_type)
        rows.extend(_filter_row(flat[y], prev, filter_type, channels).tobytes())
        prev = flat[y]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, colortype, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows), 6))
        + chunk(b"IEND", b"")
    )


def image_features_from_pixels(
    width: int, height: int, channels: int, pixels: np.ndarray
) -> list:
    """8-dim deterministic feature: per-channel mean (padded to 4),
    overall std, aspect ratio (min(w/h, h/w)), luma mean, 0-pad."""
    px = pixels.astype(np.float64) / 255.0
    means = [float(px[:, :, c].mean()) for c in range(channels)]
    means += [0.0] * (4 - channels)
    std = float(px.std())
    aspect = min(width / height, height / width)
    luma = float(px.mean())
    feat = means + [std, aspect, luma, 0.0]
    return [round(v, 6) for v in feat]


@normalize_decode_errors("WAV")
def decode_wav(payload: bytes) -> Tuple[int, int, np.ndarray]:
    """(sample_rate, n_channels, samples int16 [n_frames, n_channels])
    for 16-bit PCM WAV. Raises ValueError otherwise."""
    if not is_wav(payload):
        raise ValueError("not a WAV")
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV supported")
        rate = w.getframerate()
        nch = w.getnchannels()
        frames = w.readframes(w.getnframes())
    samples = np.frombuffer(frames, dtype="<i2").reshape(-1, nch)
    return rate, nch, samples


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """16-bit PCM WAV writer for fixtures (samples int16 [n, ch])."""
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (deterministic: src = floor(dst*src/dst)),
    the resize kernel for the training-pipeline operator — bilinear etc.
    would need float rounding policy agreement to stay reproducible."""
    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return px[ys][:, xs]


# ---------------------------------------------------------------------------
# GIF (LZW, GIF87a/89a) — the third web image format, still zero deps
# ---------------------------------------------------------------------------

GIF_MAGICS = (b"GIF87a", b"GIF89a")
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def is_gif(payload: bytes) -> bool:
    return payload[:6] in GIF_MAGICS


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-variant LZW: codes packed LSB-first, CLEAR resets the dict,
    dictionary capped at 4096 entries."""
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    acc = 0
    nbits = 0
    pos = 0
    code_size = min_code_size + 1
    dict_init = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(dict_init)
    prev: bytes | None = None
    while n_out < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(dict_init)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # the cScSc case
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError("invalid LZW code")
        take = min(len(entry), n_pixels - n_out)
        out[n_out : n_out + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        n_out += take
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    if n_out < n_pixels:
        raise ValueError("LZW stream ended early")
    return out


@normalize_decode_errors("GIF")
def decode_gif(payload: bytes) -> Tuple[int, int, int, np.ndarray]:
    """(width, height, 3, HxWx3 uint8 RGB) of the FIRST frame.

    Handles global/local color tables, interlacing, and skips 89a
    extensions (transparency is ignored — the frame renders over the
    palette as-is; animation frames beyond the first are not read)."""
    if not is_gif(payload):
        raise ValueError("not a GIF")
    sw, sh = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x21:  # extension: label + data sub-blocks
            pos += 1
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            _left, _top, w, h = struct.unpack("<HHHH", payload[pos : pos + 8])
            ipacked = payload[pos + 8]
            pos += 9
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = np.frombuffer(
                    payload[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image with no color table")
            min_code_size = payload[pos]
            pos += 1
            chunks = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                chunks.extend(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(chunks), min_code_size, w * h)
            if ipacked & 0x40:  # interlaced: reorder rows
                rows = idx.reshape(h, w)
                out_rows = np.empty_like(rows)
                src = 0
                for start, step in _INTERLACE_PASSES:
                    for y in range(start, h, step):
                        out_rows[y] = rows[src]
                        src += 1
                idx = out_rows.reshape(-1)
            rgb = table[np.clip(idx, 0, len(table) - 1)].reshape(h, w, 3)
            return w, h, 3, rgb
        elif b == 0x3B:  # trailer
            break
    raise ValueError(f"no image frame found in GIF ({sw}x{sh})")


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Minimal GIF87a writer for fixtures/sinks: one frame, a global
    256-color table, real LZW compression, optional interlacing."""
    h, w = indices.shape
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    rows = indices
    if interlace:
        order = []
        for start, step in _INTERLACE_PASSES:
            order.extend(range(start, h, step))
        rows = indices[order]
    pixels = rows.astype(np.uint8).reshape(-1).tobytes()

    # LZW encode, LSB-first
    min_code_size = 8
    clear, end = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    code_size = 9
    bits = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    prefix = b""
    for i in range(len(pixels)):
        nxt = prefix + pixels[i : i + 1]
        if nxt in table:
            prefix = nxt
            continue
        emit(table[prefix])
        if next_code < 4096:
            # widen BEFORE assigning: the decoder reconstructs this entry
            # one step later, so its width change lands one code later —
            # verified against the decoder over gradient+random images
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            table[nxt] = next_code
            next_code += 1
        else:
            emit(clear)
            table = {bytes([j]): j for j in range(256)}
            next_code = 258
            code_size = 9
        prefix = pixels[i : i + 1]
    if prefix:
        emit(table[prefix])
    emit(end)
    if nbits:
        bits.append(acc & 0xFF)
    out += bytes([min_code_size])
    for i in range(0, len(bits), 255):
        blk = bits[i : i + 255]
        out += bytes([len(blk)]) + bytes(blk)
    out += b"\x00\x3b"
    return bytes(out)
