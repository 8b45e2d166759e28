"""MP4 (ISO BMFF) demux: box walking, sample-table resolution, avcC
parameter sets, AVCC->Annex B conversion, both box orders and torn
tails."""

from __future__ import annotations

import numpy as np
import pytest

from markdown_lab_spark.functions import h264, mp4
from markdown_lab_spark.functions.h264 import (
    decode_h264,
    encode_h264,
    rgb_to_ycbcr420,
)
from markdown_lab_spark.functions.mp4 import (
    encode_mp4,
    is_mp4,
    parse_mp4,
)


def _frames(n: int = 6, h: int = 32, w: int = 48, seed: int = 3):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return [np.roll(base, 2 * t, axis=1) for t in range(n)]


def _decoded_via_mp4(payload):
    """The path q47 runs: demux with ``parse_mp4``, decode the joined
    Annex B samples with ``decode_h264``. Returns ``(w, h, fps, pics)``
    with one ``(y, cb, cr)`` per picture in display order."""
    info = parse_mp4(payload)
    pics, (w, h, fps) = decode_h264(b"".join(info["frames"]))
    return w, h, fps, pics


def _assert_planes_equal(got, want):
    for a, b in zip(got, want):
        np.testing.assert_array_equal(a, b)


def test_mp4_roundtrip_matches_raw_annexb_decode():
    frames = _frames(6)
    mp4 = encode_mp4(frames, qp=24, fps=25.0, gop=3)
    annexb = encode_h264(frames, qp=24, fps=25.0, gop=3)
    pics, (w, h, _) = decode_h264(annexb)
    mw, mh, fps, got = _decoded_via_mp4(mp4)
    assert (mw, mh) == (w, h) == (48, 32)
    assert fps == pytest.approx(25.0)
    info = parse_mp4(mp4)
    assert info["fps_num"] / info["fps_den"] == pytest.approx(25.0)
    assert len(got) == len(pics) == 6
    for g, pic in zip(got, pics):
        _assert_planes_equal(g, pic)


def test_faststart_and_progressive_layouts_decode_identically():
    frames = _frames(4)
    prog = encode_mp4(frames, qp=28, gop=0)
    fast = encode_mp4(frames, qp=28, gop=0, faststart=True)
    assert prog != fast  # genuinely different box orders
    # moov leads in faststart, mdat leads in progressive
    assert fast[12:16] == b"moov" or fast.index(b"moov") < fast.index(b"mdat")
    assert prog.index(b"mdat") < prog.index(b"moov")
    _, _, _, a = _decoded_via_mp4(prog)
    _, _, _, b = _decoded_via_mp4(fast)
    assert len(a) == len(b) == 4
    for fa, fb in zip(a, b):
        _assert_planes_equal(fa, fb)


def test_co64_offsets_and_chunked_stsc_runs():
    frames = _frames(7)
    for chunk_samples in (1, 3, 7, 10):
        p = encode_mp4(frames, qp=30, gop=0, chunk_samples=chunk_samples,
                       co64=True)
        info = parse_mp4(p)
        assert info["n_frames"] == 7
        _, _, _, got = _decoded_via_mp4(p)
        assert len(got) == 7


def test_sync_sample_table_matches_idr_positions():
    frames = _frames(7)
    info = parse_mp4(encode_mp4(frames, qp=26, gop=3))
    assert info["sync"] == [0, 3, 6]
    info = parse_mp4(encode_mp4(frames, qp=26, gop=0))  # all-intra
    assert info["sync"] == list(range(7))


def test_torn_tail_progressive_keeps_whole_samples():
    # faststart layout: moov is intact, the tail of mdat is torn away.
    frames = _frames(6)
    p = encode_mp4(frames, qp=26, gop=0, faststart=True)
    full = parse_mp4(p)
    sizes = [len(f) for f in full["frames"]]
    torn = p[: len(p) - sizes[-1] + 4]  # rip into the final sample
    info = parse_mp4(torn)
    assert info["n_frames"] == 5  # the torn sample is dropped
    _, _, _, got = _decoded_via_mp4(torn)
    assert len(got) == 5


def test_not_mp4_and_foreign_codec_raise():
    with pytest.raises(ValueError):
        parse_mp4(b"RIFF....AVI ")
    p = encode_mp4(_frames(2), qp=30)
    # patch the stsd sample-entry fourcc (the LAST 'avc1' occurrence —
    # the first is in the ftyp compatible-brands list)
    i = p.rindex(b"avc1")
    foreign = p[:i] + b"vp09" + p[i + 4 :]
    with pytest.raises(ValueError, match="codec|avcC"):
        parse_mp4(foreign)
    with pytest.raises(ValueError):
        parse_mp4(p[:40])  # no moov


def test_pcm_leg_is_lossless_through_mp4():
    # I_PCM is lossless in YCbCr; compare against the 4:2:0 round-trip
    # of the source (the only loss is chroma subsampling, outside PCM).
    frames = _frames(3)
    p = encode_mp4(frames, qp=40, gop=0, pcm_every=1)
    _, _, _, got = _decoded_via_mp4(p)
    assert len(got) == 3
    for pic, frame in zip(got, frames):
        _assert_planes_equal(pic, rgb_to_ycbcr420(frame))


def test_mp4_b_frames_ctts_roundtrip():
    """B-frame MP4: samples land in decode order, a version-0 ctts box
    carries composition offsets, and the ctts-derived display
    permutation agrees with the H.264 decoder's POC-based reordering;
    decoded frames stay bit-equal to the encoder reconstruction."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8)
    frames = [np.ascontiguousarray(np.roll(base, 2 * t, axis=1))[:32, :48]
              for t in range(6)]
    for fast, co, spatial in ((False, False, False), (True, True, True)):
        pay = mp4.encode_mp4(frames, qp=28, gop=6, fps=30.0, b_frames=2,
                             faststart=fast, co64=co, chunk_samples=2,
                             direct_spatial=spatial)
        assert b"ctts" in pay
        info = mp4.parse_mp4(pay)
        order = [d for d, _ in h264._gop_encode_order(6, 6, 2)]
        assert info["display_order"] == sorted(
            range(6), key=lambda k: order[k])
        assert info["sync"] == [0]  # only the IDR is a sync sample
        w, h, fps, out = _decoded_via_mp4(pay)
        assert (w, h, fps) == (48, 32, 30.0)
        rec = h264.encode_h264_reconstruction(
            frames, qp=28, gop=6, b_frames=2, direct_spatial=spatial)
        # decode_h264 reorders by POC: pictures come out in display
        # order, each bit-equal to the encoder reconstruction
        assert len(out) == len(rec) == 6
        for pic, rc in zip(out, rec):
            _assert_planes_equal(pic, rc)


def test_mp4_without_b_frames_has_identity_display_order():
    frames = [np.full((32, 32, 3), (90, 10 * t, 200), dtype=np.uint8)
              for t in range(4)]
    pay = mp4.encode_mp4(frames, qp=30, gop=4)
    assert b"ctts" not in pay
    info = mp4.parse_mp4(pay)
    assert info["display_order"] == [0, 1, 2, 3]
