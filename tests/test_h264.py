"""H.264 baseline-intra codec: VLC table structure (prefix-freeness +
Kraft sums), CAVLC roundtrips, decode == encoder-reconstruction
bit-equality on every macroblock path, spec error boundaries, and the
RGB -> YCbCr 4:2:0 helper."""

from fractions import Fraction

import numpy as np
import pytest

from markdown_lab_spark.functions import h264 as H
from markdown_lab_spark.functions.h264 import rgb_to_ycbcr420


# ---------------------------------------------------------------------------
# table structure
# ---------------------------------------------------------------------------


def _kraft(codes):
    return sum(Fraction(1, 2 ** len(c)) for c in codes)


def _assert_prefix_free(codes):
    cs = sorted(codes)
    for i, a in enumerate(cs):
        for b in cs[i + 1:]:
            assert not b.startswith(a), f"{a} prefixes {b}"


def test_coeff_token_tables_structure():
    for tab in H.COEFF_TOKEN_TABLES:
        assert set(tab) == {(0, 0)} | {
            (t1, tc) for tc in range(1, 17) for t1 in range(min(tc, 3) + 1)
        }
        _assert_prefix_free(tab.values())
        assert 1 - _kraft(tab.values()) < Fraction(1, 512)  # reserved slack only
    _assert_prefix_free(H._CT_CHROMA_DC.values())
    assert _kraft(H._CT_CHROMA_DC.values()) == 1  # chroma DC is complete


def test_total_zeros_and_run_before_structure():
    for tc, codes in H.TOTAL_ZEROS.items():
        assert len(codes) == 17 - tc
        _assert_prefix_free(codes)
        # 14 of 15 sub-tables are Kraft-complete; TC=1 reserves all-zeros
        assert 1 - _kraft(codes) <= Fraction(1, 512)
    for tc, codes in H.CHROMA_DC_TZ.items():
        assert len(codes) == 5 - tc
        assert _kraft(codes) == 1
    for z, codes in H.RUN_BEFORE.items():
        _assert_prefix_free(codes)
        assert 1 - _kraft(codes) <= Fraction(1, 2048)


def test_cbp_intra_is_permutation():
    assert sorted(H.CBP_INTRA) == list(range(48))


def test_chroma_qp_map():
    assert H.chroma_qp(0) == 0 and H.chroma_qp(29) == 29
    assert H.chroma_qp(30) == 29 and H.chroma_qp(51) == 39
    qs = [H.chroma_qp(q) for q in range(52)]
    assert qs == sorted(qs)  # monotone non-decreasing


# ---------------------------------------------------------------------------
# bit I/O and CAVLC
# ---------------------------------------------------------------------------


def test_exp_golomb_roundtrip():
    w = H._BitsW()
    vals = list(range(40)) + [255, 1023, 65535]
    for v in vals:
        w.ue(v)
    svals = [0, 1, -1, 7, -7, 200, -200]
    for v in svals:
        w.se(v)
    w.trailing()
    r = H._Bits(w.bytes_out())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


def test_cavlc_roundtrip_all_contexts():
    rng = np.random.RandomState(11)
    for trial in range(800):
        max_c = [16, 15, 4][trial % 3]
        nc = [-1, 0, 1, 2, 3, 4, 5, 7, 8, 16][trial % 10]
        if max_c == 4:
            nc = -1
        elif nc == -1:
            nc = trial % 8
        n_nz = rng.randint(0, max_c + 1)
        coeffs = np.zeros(max_c, dtype=np.int64)
        pos = rng.choice(max_c, size=n_nz, replace=False)
        mag = rng.choice([1, 1, 1, 2, 3, 5, 17, 300, 5000, 100000], size=n_nz)
        coeffs[pos] = mag * rng.choice([-1, 1], size=n_nz)
        w = H._BitsW()
        H.cavlc_encode_block(w, coeffs, nc, max_c)
        w.trailing()
        got, _ = H.cavlc_decode_block(H._Bits(w.bytes_out()), nc, max_c)
        np.testing.assert_array_equal(got, coeffs)


def test_emulation_prevention_roundtrip():
    for raw in (b"\x00\x00\x00", b"\x00\x00\x01\x02", b"\x00\x00\x03\x00\x00",
                b"abc\x00\x00\x02xyz\x00\x00", bytes(range(256)) * 3):
        ebsp = H._rbsp_to_ebsp(raw)
        # no start-code-emulating patterns survive in the EBSP body
        for bad in (b"\x00\x00\x00", b"\x00\x00\x01", b"\x00\x00\x02"):
            assert bad not in ebsp
        assert H._ebsp_to_rbsp(ebsp) == raw


# ---------------------------------------------------------------------------
# end-to-end: decode == encoder reconstruction (bit-exact), every path
# ---------------------------------------------------------------------------


def _textured(h, w, seed=3):
    rng = np.random.RandomState(seed)
    img = np.zeros((h, w, 3), dtype=np.uint8)
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    img[:, :, 0] = (xx * 3 + yy * 2) % 256
    img[:, :, 1] = np.clip(128 + 60 * np.sin(xx / 5.0), 0, 255)
    img[:, :, 2] = rng.randint(0, 256, (h, w))
    return img


def test_flat_image_reproduces_exactly():
    flat = np.full((32, 48, 3), 200, dtype=np.uint8)
    frames, (w, h, fps) = H.decode_h264(H.encode_h264([flat], qp=28))
    ey, ecb, ecr = rgb_to_ycbcr420(flat)
    assert (w, h) == (48, 32)
    np.testing.assert_array_equal(frames[0][0], ey)
    np.testing.assert_array_equal(frames[0][1], ecb)
    np.testing.assert_array_equal(frames[0][2], ecr)


@pytest.mark.parametrize("qp", [10, 22, 30, 40])
def test_decode_equals_encoder_reconstruction(qp):
    img = _textured(48, 64)
    dec, _ = H.decode_h264(H.encode_h264([img], qp=qp))
    rec = H.encode_h264_reconstruction([img], qp=qp)
    for a, b in zip(dec[0], rec[0]):
        np.testing.assert_array_equal(a, b)


def test_distortion_grows_with_qp_and_rate_falls():
    img = _textured(48, 64)
    errs, sizes = [], []
    for qp in (10, 26, 40):
        bs = H.encode_h264([img], qp=qp)
        dec, _ = H.decode_h264(bs)
        ey = rgb_to_ycbcr420(img)[0].astype(np.int64)
        errs.append(int(np.abs(dec[0][0].astype(np.int64) - ey).max()))
        sizes.append(len(bs))
    assert errs[0] <= 3  # near-lossless at qp 10
    assert errs[0] < errs[1] < errs[2]
    assert sizes[0] > sizes[1] > sizes[2]


def test_pcm_macroblocks_are_lossless():
    img = _textured(32, 32, seed=9)
    dec, _ = H.decode_h264(H.encode_h264([img], qp=40, pcm_every=1))
    ey, ecb, ecr = rgb_to_ycbcr420(img)
    np.testing.assert_array_equal(dec[0][0], ey)
    np.testing.assert_array_equal(dec[0][1], ecb)
    np.testing.assert_array_equal(dec[0][2], ecr)


def test_pcm_wobble_multiframe_mix():
    imgs = [_textured(48, 64), np.roll(_textured(48, 64), 7, axis=1)]
    bs = H.encode_h264(imgs, qp=26, pcm_every=5, qp_wobble=2, fps=12.0)
    dec, (_, _, fps) = H.decode_h264(bs)
    rec = H.encode_h264_reconstruction(imgs, qp=26, pcm_every=5, qp_wobble=2)
    assert fps == 12.0
    assert len(dec) == 2
    for f1, f2 in zip(dec, rec):
        for a, b in zip(f1, f2):
            np.testing.assert_array_equal(a, b)


def test_cropped_dimensions():
    img = _textured(42, 54)
    bs = H.encode_h264([img], qp=24)
    dec, (w, h, _) = H.decode_h264(bs)
    assert (w, h) == (54, 42)
    rec = H.encode_h264_reconstruction([img], qp=24)
    for a, b in zip(dec[0], rec[0]):
        np.testing.assert_array_equal(a, b)


def test_every_prediction_mode_is_exercised():
    """One structured image drives the encoder through all 9 intra-4x4
    modes, all 4 I16x16 modes and all 4 chroma modes; decode stays
    bit-exact with the in-loop reconstruction."""
    img = np.zeros((96, 96, 3), dtype=np.uint8)
    xx, yy = np.meshgrid(np.arange(96), np.arange(96))
    img[:, :, 0] = (xx * 5) % 256
    img[:, :, 1] = (yy * 5) % 256
    img[:48, :48, 2] = 230
    img[48:, 48:, :] = (((xx[48:, 48:] + yy[48:, 48:]) * 3) % 256)[..., None]
    img[60:80, 10:30] = np.random.RandomState(1).randint(0, 256, (20, 20, 3))
    used44, used16, usedc = set(), set(), set()
    orig44, orig16, origc = H.pred_4x4, H.pred_16x16, H.pred_chroma
    try:
        H.pred_4x4 = lambda p, x, y, m, *a: (used44.add(m), orig44(p, x, y, m, *a))[1]
        H.pred_16x16 = lambda p, x, y, m: (used16.add(m), orig16(p, x, y, m))[1]
        H.pred_chroma = lambda p, x, y, m: (usedc.add(m), origc(p, x, y, m))[1]
        bs = H.encode_h264([img], qp=24)
        dec, _ = H.decode_h264(bs)
        rec = H.encode_h264_reconstruction([img], qp=24)
    finally:
        H.pred_4x4, H.pred_16x16, H.pred_chroma = orig44, orig16, origc
    assert used44 == set(range(9))
    assert used16 == set(range(4))
    assert usedc == set(range(4))
    for a, b in zip(dec[0], rec[0]):
        np.testing.assert_array_equal(a, b)


# ---------------------------------------------------------------------------
# decoder boundary: unsupported features raise, never mis-decode
# ---------------------------------------------------------------------------


def _sps_pps_prefix():
    return (H._nal(3, 7, H._write_sps(2, 2, (0, 0, 0, 0), 25.0))
            + H._nal(3, 8, H._write_pps()))


def test_cabac_pps_raises():
    w = H._BitsW()
    w.ue(0)
    w.ue(0)
    w.bits(1, 1)  # entropy_coding_mode_flag = CABAC
    w.bits(0, 1)
    w.ue(0)
    w.trailing()
    with pytest.raises(ValueError, match="CABAC"):
        H._parse_pps(w.bytes_out())


def test_unsupported_slices_raise():
    w = H._BitsW()
    w.ue(0)  # first_mb_in_slice
    w.ue(3)  # slice_type SP
    w.ue(0)
    w.trailing()
    with pytest.raises(ValueError, match="unsupported slice type"):
        H.decode_h264(_sps_pps_prefix() + H._nal(3, 1, w.bytes_out()))
    w = H._BitsW()
    w.ue(0)  # first_mb_in_slice
    w.ue(1)  # slice_type B — but the prefix SPS is pic_order_cnt_type 2
    w.ue(0)
    w.trailing()
    with pytest.raises(ValueError, match="pic_order_cnt_type 0"):
        H.decode_h264(_sps_pps_prefix() + H._nal(0, 1, w.bytes_out()))
    w = H._BitsW()
    w.ue(0)
    w.ue(0)  # slice_type P — but no reference picture decoded yet
    w.ue(0)
    w.trailing()
    with pytest.raises(ValueError, match="without a decoded reference"):
        H.decode_h264(_sps_pps_prefix() + H._nal(3, 1, w.bytes_out()))


def test_invalid_deblocking_idc_raises():
    w = H._BitsW()
    w.ue(0)       # first_mb_in_slice
    w.ue(7)       # slice_type I
    w.ue(0)       # pps_id
    w.bits(0, 4)  # frame_num
    w.ue(0)       # idr_pic_id
    w.bits(0, 2)  # dec_ref_pic_marking
    w.se(0)       # slice_qp_delta
    w.ue(3)       # disable_deblocking_filter_idc out of range
    w.trailing()
    with pytest.raises(ValueError, match="deblocking"):
        H.decode_h264(_sps_pps_prefix() + H._nal(3, 5, w.bytes_out()))


def test_high_profile_sps_raises():
    w = H._BitsW()
    w.bits(100, 8)  # profile_idc: High
    w.bits(0, 8)
    w.bits(30, 8)
    w.ue(0)
    w.trailing()
    with pytest.raises(ValueError, match="high-profile"):
        H._parse_sps(w.bytes_out())


def test_garbage_and_truncation_raise_valueerror():
    with pytest.raises(ValueError):
        H.decode_h264(b"not a stream")
    bs = H.encode_h264([_textured(32, 32)], qp=26)
    with pytest.raises(ValueError):
        H.decode_h264(bs[: len(bs) // 2])


# ---------------------------------------------------------------------------
# RGB -> YCbCr 4:2:0 helper
# ---------------------------------------------------------------------------


def test_rgb_to_ycbcr420_on_flat_colors():
    """Full-range BT.601 (JFIF) with 2x2 mean chroma subsampling: a flat
    (200, 60, 30) image maps to Y 98.4, Cb 89.4, Cr 200.4 everywhere."""
    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    rgb[:, :, 0] = 200
    rgb[:, :, 1] = 60
    rgb[:, :, 2] = 30
    y, cb, cr = H.rgb_to_ycbcr420(rgb)
    assert y.shape == (16, 16) and cb.shape == cr.shape == (8, 8)
    assert (y == 98).all() and (cb == 89).all() and (cr == 200).all()


# ---------------------------------------------------------------------------
# deblocking filter
# ---------------------------------------------------------------------------


def test_deblock_tables_structure():
    assert len(H._ALPHA) == len(H._BETA) == len(H._TC0) == 52
    assert all(a == 0 for a in H._ALPHA[:16]) and H._ALPHA[51] == 255
    assert list(H._ALPHA) == sorted(H._ALPHA)  # monotone
    assert list(H._BETA) == sorted(H._BETA)
    for bs in range(3):
        col = [t[bs] for t in H._TC0]
        assert col == sorted(col)  # tC0 monotone in indexA per bS
    for t in H._TC0:
        assert t[0] <= t[1] <= t[2]  # and monotone in bS


def test_deblocked_decode_equals_encoder_reconstruction():
    img = _textured(48, 64, seed=5)
    for qp in (22, 34):
        dec, _ = H.decode_h264(H.encode_h264([img], qp=qp, deblock=True))
        rec = H.encode_h264_reconstruction([img], qp=qp, deblock=True)
        for a, b in zip(dec[0], rec[0]):
            np.testing.assert_array_equal(a, b)


def test_deblock_flat_region_invariant():
    # no real edges -> |p0-q0| == 0 < alpha but |p1-p0| == 0 < beta and
    # all deltas are zero: the filter must be a no-op on flat content
    flat = np.full((32, 32, 3), 173, dtype=np.uint8)
    dec, _ = H.decode_h264(H.encode_h264([flat], qp=30, deblock=True))
    ey, ecb, ecr = rgb_to_ycbcr420(flat)
    np.testing.assert_array_equal(dec[0][0], ey)
    np.testing.assert_array_equal(dec[0][1], ecb)
    np.testing.assert_array_equal(dec[0][2], ecr)


def test_deblock_activity_grows_with_qp():
    img = _textured(48, 64, seed=5)
    changed = []
    for qp in (22, 34):
        dec, _ = H.decode_h264(H.encode_h264([img], qp=qp, deblock=True))
        nf = H.encode_h264_reconstruction([img], qp=qp, deblock=False)
        changed.append(int((dec[0][0].astype(int) != nf[0][0].astype(int)).sum()))
    assert 0 < changed[0] < changed[1]  # blockier content, more filtering


def test_deblock_with_pcm_mirror():
    img = _textured(48, 64, seed=7)
    dec, _ = H.decode_h264(H.encode_h264([img], qp=30, pcm_every=3, deblock=True))
    rec = H.encode_h264_reconstruction([img], qp=30, pcm_every=3, deblock=True)
    for a, b in zip(dec[0], rec[0]):
        np.testing.assert_array_equal(a, b)


# ---------------------------------------------------------------------------
# P slices (inter frames)
# ---------------------------------------------------------------------------


def _scene(n, h=48, w=64):
    """Moving square over a drifting gradient — real motion to search."""
    frames = []
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    bg = ((xx * 2 + yy) % 256).astype(np.uint8)
    for t in range(n):
        f = np.stack([bg, np.roll(bg, t, axis=1), bg[::-1]], axis=2).copy()
        x0, y0 = 6 + 3 * t, 10 + 2 * t
        f[y0:y0 + 12, x0:x0 + 12] = (200, 40, 90)
        frames.append(f)
    return frames


def test_p_frames_decode_equals_reconstruction():
    frames = _scene(5)
    for kwargs in ({}, {"deblock": True}, {"pcm_every": 3}):
        dec, _ = H.decode_h264(H.encode_h264(frames, qp=26, gop=5, **kwargs))
        rec = H.encode_h264_reconstruction(frames, qp=26, gop=5, **kwargs)
        assert len(dec) == 5
        for f1, f2 in zip(dec, rec):
            for a, b in zip(f1, f2):
                np.testing.assert_array_equal(a, b)


def test_p_frames_compress_and_track_motion():
    frames = _scene(6)
    bs_p = H.encode_h264(frames, qp=26, gop=6)
    bs_i = H.encode_h264(frames, qp=26, gop=0)
    assert len(bs_p) < len(bs_i)  # inter prediction pays
    dec, _ = H.decode_h264(bs_p)
    ey = rgb_to_ycbcr420(frames[5])[0].astype(np.int64)
    assert np.abs(dec[5][0].astype(np.int64) - ey).mean() < 3.0


def test_static_scene_collapses_to_skip_runs():
    frames = [_textured(48, 64, seed=1)] * 4  # identical frames
    bs = H.encode_h264(frames, qp=26, gop=4)
    nals = H.parse_annexb_nals(bs)
    p_sizes = [len(rbsp) for t, _, rbsp in nals if t == 1]
    assert len(p_sizes) == 3
    assert all(sz < 16 for sz in p_sizes)  # header + one skip run each
    dec, _ = H.decode_h264(bs)
    for f in dec[1:]:  # skipped frames reproduce the reference exactly
        for a, b in zip(f, dec[0]):
            np.testing.assert_array_equal(a, b)


def test_p_frames_use_subpel_motion_and_skip():
    frames = _scene(4)
    used_fracs = set()
    skips = [0]
    orig_il, orig_skip = H.interp_luma, H.mv_pskip
    try:
        def spy_il(ref, x, y, mvx, mvy, w, h):
            used_fracs.add((mvx & 3, mvy & 3))
            return orig_il(ref, x, y, mvx, mvy, w, h)

        def spy_skip(mv_g, ref_g, bx, by):
            skips[0] += 1
            return orig_skip(mv_g, ref_g, bx, by)
        H.interp_luma, H.mv_pskip = spy_il, spy_skip
        dec, _ = H.decode_h264(H.encode_h264(frames, qp=26, gop=4))
    finally:
        H.interp_luma, H.mv_pskip = orig_il, orig_skip
    assert len(used_fracs) > 1  # fractional positions genuinely used
    assert skips[0] > 0


def test_scene_cut_falls_back_to_intra():
    frames = _scene(3) + [_textured(48, 64, seed=99)]  # hard cut at t=3
    bs = H.encode_h264(frames, qp=26, gop=4)
    dec, _ = H.decode_h264(bs)
    rec = H.encode_h264_reconstruction(frames, qp=26, gop=4)
    for f1, f2 in zip(dec, rec):
        for a, b in zip(f1, f2):
            np.testing.assert_array_equal(a, b)
    ey = rgb_to_ycbcr420(frames[3])[0].astype(np.int64)
    assert np.abs(dec[3][0].astype(np.int64) - ey).mean() < 4.0


def test_cbp_inter_is_permutation():
    assert sorted(H.CBP_INTER) == list(range(48))


def test_gop_with_crop_and_deblock_mirror():
    frames = [f[:42, :54] for f in _scene(4)]
    bs = H.encode_h264(frames, qp=28, gop=4, deblock=True)
    dec, (w, h, _) = H.decode_h264(bs)
    assert (w, h) == (54, 42)
    rec = H.encode_h264_reconstruction(frames, qp=28, gop=4, deblock=True)
    for f1, f2 in zip(dec, rec):
        for a, b in zip(f1, f2):
            np.testing.assert_array_equal(a, b)


# ---------------------------------------------------------------------------
# B slices: bi-prediction, direct modes, reordering, skip, boundaries
# ---------------------------------------------------------------------------


def test_temporal_direct_scaling_closed_form():
    # poc 0 (L0) .. cur 2 .. 4 (L1): tb=2, td=4 -> tx=4096, dsf=128,
    # mvL0 = (mvCol + 1) >> 1 (rounded), mvL1 = mvL0 - mvCol (8.4.1.2.3)
    mv0, mv1 = H.temporal_direct_scale(2, 0, 4, (6, -2))
    assert mv0 == (3, -1) and mv1 == (-3, 1)
    # asymmetric distances: cur 4 of 0..6 -> dsf = (4/6 scale) 170
    mv0, mv1 = H.temporal_direct_scale(4, 0, 6, (12, 9))
    tx = (16384 + 3) // 6
    dsf = (4 * tx + 32) >> 6
    assert mv0 == ((dsf * 12 + 128) >> 8, (dsf * 9 + 128) >> 8)
    assert mv1 == (mv0[0] - 12, mv0[1] - 9)
    # td == 0 degenerate: co-located motion passes through
    assert H.temporal_direct_scale(2, 4, 4, (5, 5)) == ((5, 5), (0, 0))


def test_b_frames_decode_equals_reconstruction():
    frames = _scene(9)
    for kwargs in (
        {"b_frames": 1, "gop": 9},
        {"b_frames": 2, "gop": 9, "deblock": True},
        {"b_frames": 2, "gop": 9, "direct_spatial": True},
        {"b_frames": 2, "gop": 9, "b_shape_every": 2},          # 16x8+B_8x8
        {"b_frames": 2, "gop": 9, "b_shape_every": 2,
         "direct_spatial": True, "deblock": True},
        {"b_frames": 2, "gop": 4, "deblock": True},             # multi-GOP
        {"b_frames": 3, "gop": 9, "pcm_every": 4},              # PCM + P_8x8
    ):
        bs = H.encode_h264(frames, qp=28, **kwargs)
        dec, _ = H.decode_h264(bs)
        rec = H.encode_h264_reconstruction(frames, qp=28, **kwargs)
        assert len(dec) == len(frames)
        for f1, f2 in zip(dec, rec):
            for a, b in zip(f1, f2):
                np.testing.assert_array_equal(a, b)


def test_b_stream_structure_and_display_reordering():
    # constant-color frames pin display order by content
    colors = [(20 * i + 10, 255 - 25 * i, 40 + 13 * i) for i in range(6)]
    frames = [np.full((32, 48, 3), c, dtype=np.uint8) for c in colors]
    bs = H.encode_h264(frames, qp=20, gop=6, b_frames=2)
    # decode order: IDR P B B P B B -> slice types from the NAL stream
    kinds = []
    for nal_type, _ref, rbsp in H.parse_annexb_nals(bs):
        if nal_type in (1, 5):
            r = H._Bits(rbsp)
            r.ue()
            kinds.append({0: "P", 1: "B", 2: "I"}[r.ue() % 5])
    assert kinds == ["I", "P", "B", "B", "P", "B", "B"][:len(kinds)]
    assert kinds[1] == "P" and kinds[2] == "B"  # future anchor rides first
    # decoded output is display order: frame i matches color i
    dec, _ = H.decode_h264(bs)
    assert len(dec) == 6
    for i, (y, cb, cr) in enumerate(dec):
        ey, ecb, ecr = rgb_to_ycbcr420(frames[i])
        assert abs(float(y.mean()) - float(ey.mean())) < 3.0, i


def test_b_static_scene_collapses_to_skip_runs():
    frames = [_textured(48, 64, seed=5)] * 7
    bs = H.encode_h264(frames, qp=26, gop=7, b_frames=2)
    sizes = {"P": [], "B": []}
    for nal_type, ref_idc, rbsp in H.parse_annexb_nals(bs):
        if nal_type == 1:
            r = H._Bits(rbsp)
            r.ue()
            st = r.ue() % 5
            sizes["P" if st == 0 else "B"].append(len(rbsp))
            assert (ref_idc == 0) == (st == 1)  # Bs are non-reference
    assert len(sizes["B"]) == 4 and len(sizes["P"]) == 2
    assert all(sz < 16 for sz in sizes["B"])  # header + one skip run
    dec, _ = H.decode_h264(bs)
    for f in dec[1:]:
        for a, b in zip(f, dec[0]):
            np.testing.assert_array_equal(a, b)


def test_b_modes_and_biprediction_actually_used():
    frames = _scene(9)
    seen_types = []
    bi_parts = [0]
    orig_bmb, orig_pred = H._decode_b_mb, H._inter_pred_mb_b

    def spy_bmb(r, mb_type, *a, **kw):
        seen_types.append(mb_type)
        return orig_bmb(r, mb_type, *a, **kw)

    def spy_pred(bctx, px, py, parts):
        bi_parts[0] += sum(
            1 for p in parts if p[4] is not None and p[5] is not None)
        return orig_pred(bctx, px, py, parts)

    H._decode_b_mb, H._inter_pred_mb_b = spy_bmb, spy_pred
    try:
        bs = H.encode_h264(frames, qp=30, gop=9, b_frames=2,
                           b_shape_every=2)
        H.decode_h264(bs)
    finally:
        H._decode_b_mb, H._inter_pred_mb_b = orig_bmb, orig_pred
    assert 8 in seen_types        # mixed-list 16x8 (B_L0_L1_16x8)
    assert 22 in seen_types       # B_8x8 with sub shapes
    assert any(t in (1, 2, 3) for t in seen_types)  # searched 16x16 legs
    assert bi_parts[0] > 0        # bi-prediction genuinely exercised


def test_b_error_boundaries():
    frames = _scene(6)
    with pytest.raises(ValueError, match="gop"):
        H.encode_h264(frames, qp=26, gop=0, b_frames=2)
    # drop the future anchor: the B then has no ref on the future side
    bs = H.encode_h264(frames, qp=26, gop=6, b_frames=2)
    nals = H.parse_annexb_nals(bs)
    rebuilt = bytearray()
    for nal_type, ref_idc, rbsp in nals:
        if nal_type == 1:
            r = H._Bits(rbsp)
            r.ue()
            if r.ue() % 5 == 0:  # the P anchor
                continue
        rebuilt += H._nal(ref_idc, nal_type, rbsp)
    with pytest.raises(ValueError, match="both POC sides"):
        H.decode_h264(bytes(rebuilt))
    # weighted biprediction is refused, not mis-decoded
    w = H._BitsW()
    w.ue(0); w.ue(0)
    w.bits(0, 1); w.bits(0, 1)
    w.ue(0); w.ue(0); w.ue(0)
    w.bits(0, 1)
    w.bits(2, 2)        # weighted_bipred_idc = implicit
    w.se(0); w.se(0); w.se(0)
    w.bits(1, 1); w.bits(0, 1); w.bits(0, 1)
    w.trailing()
    pps_wb = H._nal(3, 8, w.bytes_out())
    sps = H._nal(3, 7, H._write_sps(3, 2, (0, 0, 0, 0), 25.0,
                                    poc_type=0, max_refs=2))
    sl = H._BitsW()
    sl.ue(0)
    sl.ue(6)            # B slice
    sl.ue(0)
    sl.trailing()
    with pytest.raises(ValueError, match="weighted biprediction"):
        H.decode_h264(sps + pps_wb + H._nal(0, 1, sl.bytes_out()))


def test_b_frames_track_motion_and_compress():
    frames = _scene(9)
    bs_b = H.encode_h264(frames, qp=26, gop=9, b_frames=2)
    bs_i = H.encode_h264(frames, qp=26, gop=0)
    assert len(bs_b) < len(bs_i)  # inter + bi prediction pays
    dec, _ = H.decode_h264(bs_b)
    for t in (1, 2, 4, 7):  # B positions in display order
        ey = rgb_to_ycbcr420(frames[t])[0].astype(np.int64)
        assert np.abs(dec[t][0].astype(np.int64) - ey).mean() < 3.0, t
