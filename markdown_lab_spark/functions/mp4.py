"""Real MP4 (ISO Base Media File Format) demux for H.264 video — the
container virtually all real-world web video ships in. Pure-stdlib box
parsing (ISO/IEC 14496-12) plus the AVC-in-MP4 binding (14496-15):
``avcC`` decoder configuration, length-prefixed (AVCC) samples converted
to Annex B and decoded by the in-repo H.264 codec (``h264.py``).

Like the other pure codecs this ships an in-repo MUXER twin (``encode_mp4``)
so decode tests are round-trip exact with zero native deps: the muxer
writes spec-shaped ftyp/moov/mdat with real sample tables (stts/stsc/
stsz/stco|co64/stss) from our own H.264 encodings, in both box orders
found in the wild (moov-last progressive and moov-first "faststart").

Reference parity note: the reference engine has no media codecs
(it is an HTML->markdown crawler); this module is training-data-
pipeline surface (video ingest for multimodal datasets):
``parse_mp4`` yields the Annex B samples ``h264.decode_h264`` decodes,
and ``is_mp4`` sniffs payloads by the ``ftyp`` box.

Format facts used (public specs: ISO 14496-12 §4/8, 14496-15 §5):
- A box is ``u32 size, 4cc type, payload``; ``size == 1`` means a u64
  largesize follows the type; ``size == 0`` means "to end of file".
- FullBox payloads start with ``u8 version, u24 flags``.
- The video track is the ``trak`` whose ``hdlr`` handler is ``vide``;
  its ``stbl`` holds the sample tables. Sample n's file position is
  resolved stsc-run -> chunk -> stco/co64 offset + the sizes of the
  chunk's earlier samples (stsz).
- ``avc1`` sample entries carry parameter sets OUT of band in ``avcC``
  (configurationVersion, profile/level echo of the SPS, lengthSize,
  SPS/PPS arrays); ``avc3`` may carry them in-band. Samples are
  length-prefixed NALs (AVCC), NOT Annex B.
- ``stss`` lists sync samples (1-based); absent means all-sync.
- ``stts`` gives decode deltas in mdhd-timescale ticks. B pictures are
  stored in DECODE order; ``ctts`` carries per-sample composition-time
  offsets (CT = DT + offset) so players recover display order. The
  muxer writes version-0 (unsigned) ctts with the wild convention of a
  constant shift making every offset non-negative; the demuxer parses
  both versions and exposes the ctts-derived display permutation,
  which for our streams must agree with (and is cross-checked against)
  the H.264 decoder's own POC-based output reordering.
"""

from __future__ import annotations

import struct
from typing import Iterator, List, Optional, Tuple

import numpy as np

from .codecs import normalize_decode_errors

MP4_TIMESCALE = 90000  # the MPEG convention; exact for common rates


def is_mp4(payload: bytes) -> bool:
    return len(payload) >= 12 and payload[4:8] == b"ftyp"


# ---------------------------------------------------------------------------
# box plumbing
# ---------------------------------------------------------------------------
def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">I", (version << 24) | flags) + payload)


def _walk_boxes(buf: bytes, pos: int, end: int) -> Iterator[Tuple[bytes, int, int]]:
    """Yield (type, payload_start, payload_end). Handles 64-bit
    largesize and size==0 (to end). Tolerates a torn tail (a final box
    whose declared size overruns the buffer is clamped so earlier
    content still parses; sample-table offset checks drop any sample
    the tear actually ate)."""
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        typ = buf[pos + 4 : pos + 8]
        start = pos + 8
        if size == 1:
            if pos + 16 > end:
                break
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            start = pos + 16
            stop = pos + size
        elif size == 0:
            stop = end
        else:
            stop = pos + size
        if stop < start:
            break
        yield typ, start, min(stop, end)
        if stop >= end:
            break
        pos = stop


def _find(buf: bytes, pos: int, end: int, typ: bytes) -> Optional[Tuple[int, int]]:
    for t, s, e in _walk_boxes(buf, pos, end):
        if t == typ:
            return s, e
    return None


# ---------------------------------------------------------------------------
# mux (fixture writer)
# ---------------------------------------------------------------------------
def _split_access_units(stream: bytes) -> Tuple[List[bytes], List[bytes], List[int]]:
    """Split an Annex B stream into (sps_pps_nals, [AVCC sample bytes],
    [sync sample indices 0-based]). One slice NAL (type 1/5) per AU —
    the shape our encoder emits."""
    from .h264 import parse_annexb_nals  # noqa: PLC0415

    param_sets: List[bytes] = []
    samples: List[bytes] = []
    sync: List[int] = []
    for nal_type, nal_ref_idc, rbsp in parse_annexb_nals(stream):
        nal = _reemulate(nal_type, nal_ref_idc, rbsp)
        if nal_type in (7, 8):
            param_sets.append(nal)
        elif nal_type in (1, 5):
            if nal_type == 5:
                sync.append(len(samples))
            samples.append(struct.pack(">I", len(nal)) + nal)
        else:  # SEI etc. attach to the next AU; our encoder emits none
            raise ValueError(f"unexpected NAL type {nal_type} in mux input")
    return param_sets, samples, sync


def _reemulate(nal_type: int, nal_ref_idc: int, rbsp: bytes) -> bytes:
    """Rebuild the on-wire NAL (header byte + emulation-prevented RBSP)."""
    from .h264 import _rbsp_to_ebsp  # noqa: PLC0415

    return bytes([(nal_ref_idc << 5) | nal_type]) + _rbsp_to_ebsp(rbsp)


def encode_mp4(
    frames: List[np.ndarray],
    qp: int = 26,
    fps: float = 25.0,
    gop: int = 0,
    faststart: bool = False,
    chunk_samples: int = 1,
    co64: bool = False,
    pcm_every: int = 0,
    b_frames: int = 0,
    direct_spatial: bool = False,
) -> bytes:
    """MP4 writer for HxWx3 uint8 RGB frames through the in-repo H.264
    encoder. ``faststart`` puts moov before mdat (the web layout);
    ``chunk_samples`` groups that many samples per chunk (exercises
    stsc/stco resolution); ``co64`` writes 64-bit chunk offsets;
    ``b_frames`` inserts B pictures (samples land in decode order and a
    version-0 ``ctts`` box carries the composition-time offsets)."""
    from .h264 import _gop_encode_order, encode_h264  # noqa: PLC0415

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    stream = encode_h264(list(frames), qp=qp, fps=fps, gop=gop,
                         pcm_every=pcm_every, b_frames=b_frames,
                         direct_spatial=direct_spatial)
    param_sets, samples, sync = _split_access_units(stream)
    sps_nals = [n for n in param_sets if (n[0] & 0x1F) == 7]
    pps_nals = [n for n in param_sets if (n[0] & 0x1F) == 8]
    if not sps_nals or not pps_nals:
        raise ValueError("encoder stream missing SPS/PPS")
    sps = sps_nals[0]

    # --- stbl ------------------------------------------------------------
    avcc = (
        bytes([1, sps[1], sps[2], sps[3], 0xFC | 3])  # lengthSize-1 = 3
        + bytes([0xE0 | len(sps_nals)])
        + b"".join(struct.pack(">H", len(n)) + n for n in sps_nals)
        + bytes([len(pps_nals)])
        + b"".join(struct.pack(">H", len(n)) + n for n in pps_nals)
    )
    avc1 = _box(
        b"avc1",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # predefined/reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)
        + _box(b"avcC", avcc),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + avc1)
    delta = int(round(MP4_TIMESCALE / fps))
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, len(samples), delta))
    ctts = b""
    if b_frames:
        # composition offsets: sample k (decode order) displays at
        # disp[k]*delta; version-0 ctts is unsigned, so shift by the
        # worst CT<DT gap (the convention old muxers use)
        disp = [d for d, _ in _gop_encode_order(len(frames), gop, b_frames)]
        shift = max(k - d for k, d in enumerate(disp))
        offs = [(d - k + shift) * delta for k, d in enumerate(disp)]
        runs2: List[List[int]] = []
        for off in offs:
            if runs2 and runs2[-1][1] == off:
                runs2[-1][0] += 1
            else:
                runs2.append([1, off])
        ctts = _full(
            b"ctts",
            0,
            0,
            struct.pack(">I", len(runs2))
            + b"".join(struct.pack(">II", c, o) for c, o in runs2),
        )
    n_chunks = (len(samples) + chunk_samples - 1) // chunk_samples
    # a short final chunk needs its own stsc run (samples_per_chunk is
    # uniform within a run per 14496-12 §8.7.4)
    rem = len(samples) % chunk_samples
    runs = [(1, chunk_samples, 1)]
    if rem and n_chunks > 1:
        runs = [(1, chunk_samples, 1), (n_chunks, rem, 1)]
    elif rem:
        runs = [(1, rem, 1)]
    stsc = _full(
        b"stsc",
        0,
        0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", *r) for r in runs),
    )
    stsz = _full(
        b"stsz",
        0,
        0,
        struct.pack(">II", 0, len(samples))
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stss = _full(
        b"stss",
        0,
        0,
        struct.pack(">I", len(sync))
        + b"".join(struct.pack(">I", i + 1) for i in sync),
    )

    # chunk offsets depend on where mdat lands; build the rest first with
    # a placeholder, then patch.
    def build_stco(base: int) -> bytes:
        offs = []
        pos = base
        for c in range(n_chunks):
            offs.append(pos)
            for s in samples[c * chunk_samples : (c + 1) * chunk_samples]:
                pos += len(s)
        if co64:
            return _full(
                b"co64",
                0,
                0,
                struct.pack(">I", n_chunks)
                + b"".join(struct.pack(">Q", o) for o in offs),
            )
        return _full(
            b"stco",
            0,
            0,
            struct.pack(">I", n_chunks)
            + b"".join(struct.pack(">I", o) for o in offs),
        )

    duration = delta * len(samples)

    def build_moov(stco: bytes) -> bytes:
        stbl = _box(b"stbl", stsd + stts + ctts + stsc + stsz + stco + stss)
        dinf = _box(
            b"dinf",
            _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")),
        )
        vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        minf = _box(b"minf", vmhd + dinf + stbl)
        hdlr = _full(
            b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"video\x00"
        )
        mdhd = _full(
            b"mdhd",
            0,
            0,
            struct.pack(">IIIIHH", 0, 0, MP4_TIMESCALE, duration, 0x55C4, 0),
        )
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        tkhd = _full(
            b"tkhd",
            0,
            7,
            struct.pack(">IIII", 0, 0, 1, 0)
            + struct.pack(">I", duration)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + matrix
            + struct.pack(">II", w << 16, h << 16),
        )
        trak = _box(b"trak", tkhd + mdia)
        mvhd = _full(
            b"mvhd",
            0,
            0,
            struct.pack(">IIII", 0, 0, MP4_TIMESCALE, duration)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0)
            + b"\x00" * 8
            + matrix
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        return _box(b"moov", mvhd + trak)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2avc1mp41")
    mdat_payload = b"".join(samples)
    if faststart:
        # moov size is offset-independent; compute it once with a dummy
        # base, then rebuild with the real mdat payload base.
        moov_len = len(build_moov(build_stco(0)))
        base = len(ftyp) + moov_len + 8
        return ftyp + build_moov(build_stco(base)) + _box(b"mdat", mdat_payload)
    base = len(ftyp) + 8
    return ftyp + _box(b"mdat", mdat_payload) + build_moov(build_stco(base))


# ---------------------------------------------------------------------------
# demux
# ---------------------------------------------------------------------------
def _parse_stbl(buf: bytes, s: int, e: int) -> dict:
    out: dict = {}
    for typ, bs, be in _walk_boxes(buf, s, e):
        if typ == b"stsd":
            (count,) = struct.unpack_from(">I", buf, bs + 4)
            if count < 1:
                continue
            for ent, es, ee in _walk_boxes(buf, bs + 8, be):
                out["entry_type"] = ent.decode("ascii", "replace")
                if ent in (b"avc1", b"avc3"):
                    # VisualSampleEntry: 6+2 reserved/dri, 16 predefined,
                    # w/h u16, then fixed fields to the 78-byte mark,
                    # then child boxes (avcC among them)
                    box = _find(buf, es + 78, ee, b"avcC")
                    if box:
                        out["avcc"] = buf[box[0] : box[1]]
                break
        elif typ == b"stts":
            (n,) = struct.unpack_from(">I", buf, bs + 4)
            out["stts"] = [
                struct.unpack_from(">II", buf, bs + 8 + 8 * i) for i in range(n)
            ]
        elif typ == b"stsc":
            (n,) = struct.unpack_from(">I", buf, bs + 4)
            out["stsc"] = [
                struct.unpack_from(">III", buf, bs + 8 + 12 * i) for i in range(n)
            ]
        elif typ == b"stsz":
            fixed, n = struct.unpack_from(">II", buf, bs + 4)
            if fixed:
                out["sizes"] = [fixed] * n
            else:
                out["sizes"] = list(
                    struct.unpack_from(f">{n}I", buf, bs + 12)
                )
        elif typ == b"stco":
            (n,) = struct.unpack_from(">I", buf, bs + 4)
            out["offsets"] = list(struct.unpack_from(f">{n}I", buf, bs + 8))
        elif typ == b"co64":
            (n,) = struct.unpack_from(">I", buf, bs + 4)
            out["offsets"] = list(struct.unpack_from(f">{n}Q", buf, bs + 8))
        elif typ == b"stss":
            (n,) = struct.unpack_from(">I", buf, bs + 4)
            out["sync"] = [
                struct.unpack_from(">I", buf, bs + 8 + 4 * i)[0] - 1
                for i in range(n)
            ]
        elif typ == b"ctts":
            version = buf[bs]
            fmt = ">Ii" if version == 1 else ">II"  # v1 offsets are signed
            (n,) = struct.unpack_from(">I", buf, bs + 4)
            out["ctts"] = [
                struct.unpack_from(fmt, buf, bs + 8 + 8 * i)
                for i in range(n)
            ]
    return out


def _display_order(stbl: dict, n_samples: int) -> List[int]:
    """Display permutation from ctts: sample k's composition time is
    DT_k + offset_k with uniform decode deltas; the argsort by CT (ties
    by decode order) maps display position -> decode index. Without a
    ctts box decode order IS display order."""
    runs = stbl.get("ctts")
    if not runs:
        return list(range(n_samples))
    offs: List[int] = []
    for count, off in runs:
        offs.extend([off] * count)
    offs = (offs + [0] * n_samples)[:n_samples]  # clamp foreign mismatch
    deltas = stbl.get("stts") or [(n_samples, 1)]
    delta = max(deltas[0][1], 1)
    return sorted(range(n_samples), key=lambda k: (k * delta + offs[k], k))


def _resolve_sample_ranges(stbl: dict, file_len: int) -> List[Tuple[int, int]]:
    """(start, end) file spans per sample via stsc-run -> chunk -> stco +
    intra-chunk size prefix. Samples past a torn tail are dropped."""
    sizes = stbl.get("sizes", [])
    offsets = stbl.get("offsets", [])
    runs = stbl.get("stsc", [])
    if not sizes or not offsets or not runs:
        raise ValueError("MP4 sample tables incomplete")
    spans: List[Tuple[int, int]] = []
    si = 0
    for ri, (first, spc, _sdi) in enumerate(runs):
        last = runs[ri + 1][0] - 1 if ri + 1 < len(runs) else len(offsets)
        for chunk in range(first, last + 1):
            if chunk - 1 >= len(offsets) or si >= len(sizes):
                break
            pos = offsets[chunk - 1]
            for _ in range(spc):
                if si >= len(sizes):
                    break
                end = pos + sizes[si]
                if end > file_len:
                    return spans  # torn tail: keep what's whole
                spans.append((pos, end))
                pos = end
                si += 1
    return spans


def _parse_avcc(avcc: bytes) -> Tuple[int, List[bytes], List[bytes]]:
    """(nal_length_size, sps_nals, pps_nals) from an avcC record."""
    if len(avcc) < 7 or avcc[0] != 1:
        raise ValueError("bad avcC record")
    length_size = (avcc[4] & 3) + 1
    n_sps = avcc[5] & 0x1F
    pos = 6
    sps_nals = []
    for _ in range(n_sps):
        (ln,) = struct.unpack_from(">H", avcc, pos)
        sps_nals.append(avcc[pos + 2 : pos + 2 + ln])
        pos += 2 + ln
    n_pps = avcc[pos]
    pos += 1
    pps_nals = []
    for _ in range(n_pps):
        (ln,) = struct.unpack_from(">H", avcc, pos)
        pps_nals.append(avcc[pos + 2 : pos + 2 + ln])
        pos += 2 + ln
    return length_size, sps_nals, pps_nals


def _avcc_sample_to_annexb(sample: bytes, length_size: int) -> bytes:
    out = bytearray()
    pos = 0
    while pos + length_size <= len(sample):
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        pos += length_size
        if pos + ln > len(sample):
            break  # torn sample: keep whole NALs
        out += b"\x00\x00\x00\x01" + sample[pos : pos + ln]
        pos += ln
    return bytes(out)


@normalize_decode_errors("MP4")
def parse_mp4(payload: bytes) -> dict:
    """Container metadata + per-sample Annex B byte strings for the
    first video track: ``{width, height, fps_num, fps_den, codec,
    n_frames, frames, sync}``. ``frames[0]`` is prefixed with the avcC
    parameter sets so the concatenation is a decodable Annex B stream."""
    if not is_mp4(payload):
        raise ValueError("not an MP4")
    moov = _find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    for typ, ts, te in _walk_boxes(payload, moov[0], moov[1]):
        if typ != b"trak":
            continue
        mdia = _find(payload, ts, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _find(payload, mdia[0], mdia[1], b"hdlr")
        if hdlr is None or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _find(payload, mdia[0], mdia[1], b"mdhd")
        if mdhd is None:
            raise ValueError("video trak missing mdhd")
        version = payload[mdhd[0]]
        if version == 1:
            (timescale,) = struct.unpack_from(">I", payload, mdhd[0] + 20)
        else:
            (timescale,) = struct.unpack_from(">I", payload, mdhd[0] + 12)
        minf = _find(payload, mdia[0], mdia[1], b"minf")
        stbl_span = minf and _find(payload, minf[0], minf[1], b"stbl")
        if not stbl_span:
            raise ValueError("video trak missing stbl")
        stbl = _parse_stbl(payload, stbl_span[0], stbl_span[1])
        entry = stbl.get("entry_type", "")
        if entry not in ("avc1", "avc3"):
            raise ValueError(f"unsupported MP4 video codec {entry!r}")
        if "avcc" not in stbl:
            raise ValueError("avc1 entry missing avcC")
        length_size, sps_nals, pps_nals = _parse_avcc(stbl["avcc"])
        spans = _resolve_sample_ranges(stbl, len(payload))
        frames = [
            _avcc_sample_to_annexb(payload[s:e], length_size) for s, e in spans
        ]
        prefix = b"".join(
            b"\x00\x00\x00\x01" + n for n in sps_nals + pps_nals
        )
        if frames:
            frames[0] = prefix + frames[0]
        from .h264 import _ebsp_to_rbsp, _parse_sps  # noqa: PLC0415

        sps = _parse_sps(_ebsp_to_rbsp(sps_nals[0][1:]))
        left, right, top, bottom = sps.crop
        w = sps.mb_w * 16 - 2 * (left + right)
        h = sps.mb_h * 16 - 2 * (top + bottom)
        deltas = stbl.get("stts") or [(1, timescale)]
        fps_num, fps_den = timescale, max(deltas[0][1], 1)
        sync = stbl.get("sync")
        if sync is None:
            sync = list(range(len(frames)))
        return {
            "width": w,
            "height": h,
            "fps_num": fps_num,
            "fps_den": fps_den,
            "codec": "h264",
            "n_frames": len(frames),
            "frames": frames,
            "sync": sync,
            "display_order": _display_order(stbl, len(frames)),
        }
    raise ValueError("no video track in MP4")
