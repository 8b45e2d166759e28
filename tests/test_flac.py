"""FLAC codec: lossless round-trip exactness across the full variant
grid, corruption detection (CRC-8 / CRC-16 / MD5), and the audio
feature-pipeline integration.

FLAC is lossless, so every test's expected output is the encoder input
byte-for-byte — the same exactness posture as the PNG/GIF/WAV legs of
the q47 codec-union gate."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from markdown_lab_spark.functions import flac


def saw(n, a=37, b=11):
    k = np.arange(n)
    return (((a + k * b) % 2001) - 1000).astype(np.int16)


def roundtrip(samples, rate=8000, **kw):
    samples = np.asarray(samples)
    payload = flac.encode_flac(samples, rate, **kw)
    assert flac.is_flac(payload)
    got_rate, got_nch, out = flac.decode_flac(payload)
    want = samples if samples.ndim == 2 else samples[:, None]
    assert got_rate == rate
    assert got_nch == want.shape[1]
    assert out.shape == want.shape
    assert (out == want).all()
    return payload


# ---------------------------------------------------------------------------
# round-trip grid
# ---------------------------------------------------------------------------


def test_constant_subframe():
    roundtrip(np.full(500, -123, np.int16))
    roundtrip(np.zeros(192, np.int16))


@pytest.mark.parametrize("kind", ["fixed", "verbatim", "lpc"])
def test_subframe_kinds(kind):
    roundtrip(saw(1000), subframe=kind, lpc_order=8)


@pytest.mark.parametrize("mode", ["indep", "ms", "ls", "rs"])
def test_stereo_modes(mode):
    s = saw(700)
    st2 = np.stack([s, (-s).astype(np.int16)], axis=1)
    roundtrip(st2, channel_mode=mode)


def test_multichannel_independent():
    rng = np.random.default_rng(3)
    arr = rng.integers(-32768, 32768, (400, 5)).astype(np.int16)
    roundtrip(arr, channel_mode="indep")


@pytest.mark.parametrize("po,bs", [(0, 4096), (1, 192), (2, 256), (3, 512)])
def test_partition_orders(po, bs):
    roundtrip(np.stack([saw(1500), saw(1500, 5, 7)], axis=1),
              partition_order=po, block_size=bs)


def test_rice2_method_and_escape():
    s = np.stack([saw(600), saw(600, 9, 13)], axis=1)
    roundtrip(s, rice_method=1, partition_order=2, block_size=256)
    roundtrip(s, escape_bits=20, partition_order=1, block_size=192)


def test_escape_too_narrow_raises():
    with pytest.raises(ValueError):
        flac.encode_flac(saw(300), 8000, escape_bits=4)


def test_wasted_bits():
    s = (saw(800).astype(np.int32) // 4 * 8).astype(np.int16)
    payload = roundtrip(s)
    # the wasted-bits flag must actually be in play: shifting all
    # samples right by 3 bits should make the stream smaller than
    # encoding the unshifted values verbatim would suggest
    assert len(payload) < len(flac.encode_flac(s, 8000, subframe="verbatim"))


@pytest.mark.parametrize("bps,lim", [(8, 128), (12, 2048), (16, 32768),
                                     (20, 1 << 19), (24, 1 << 23),
                                     (32, 1 << 31)])
def test_bit_depths(bps, lim):
    rng = np.random.default_rng(bps)
    arr = rng.integers(-lim, lim, 300)
    roundtrip(arr, bps=bps)


def test_multiframe_and_utf8_frame_numbers():
    # 40_000 samples at block 192 = 209 frames: frame numbers cross the
    # 1-byte UTF-8 boundary (0x80), exercising multi-byte coding
    rng = np.random.default_rng(11)
    arr = rng.integers(-30000, 30000, 40_000).astype(np.int16)
    roundtrip(arr, block_size=192)


def test_last_partial_frame():
    roundtrip(saw(1000), block_size=256)  # 3 full + 1 partial (232)


def test_empty_stream():
    payload = flac.encode_flac(np.zeros((0, 2), np.int16), 8000)
    rate, nch, out = flac.decode_flac(payload)
    assert (rate, nch, out.shape) == (8000, 2, (0, 2))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=600),
    st.sampled_from(["auto", "fixed", "lpc", "verbatim"]),
    st.sampled_from(["indep", "ms", "ls", "rs"]),
    st.integers(0, 3),
    st.integers(0, 1),
)
def test_fuzz_roundtrip(vals, kind, mode, po, rm):
    left = np.asarray(vals, np.int16)
    right = np.roll(left, 1)
    arr = np.stack([left, right], axis=1)
    roundtrip(arr, subframe=kind, channel_mode=mode,
              partition_order=po, rice_method=rm, block_size=192)


# ---------------------------------------------------------------------------
# corruption / malformed input
# ---------------------------------------------------------------------------


def test_not_flac_raises():
    with pytest.raises(ValueError):
        flac.decode_flac(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        flac.decode_flac(b"fLa")


def test_truncation_raises():
    payload = flac.encode_flac(saw(500), 8000)
    for cut in (10, len(payload) // 2, len(payload) - 3):
        with pytest.raises(ValueError):
            flac.decode_flac(payload[:cut])


def test_bitflip_detected_by_crc_or_md5():
    payload = bytearray(flac.encode_flac(saw(500), 8000))
    # flip a bit inside the frame region (past the 4+4+34+16 byte header)
    payload[80] ^= 0x40
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(payload))


def test_md5_tamper_detected():
    payload = bytearray(flac.encode_flac(saw(500), 8000))
    # STREAMINFO md5 lives at bytes 8+18 .. 8+34
    payload[30] ^= 0xFF
    with pytest.raises(ValueError):
        flac.decode_flac(bytes(payload))
    # ...unless verification is off
    rate, nch, out = flac.decode_flac(bytes(payload), verify_md5=False)
    assert out.shape == (500, 1)


# ---------------------------------------------------------------------------
# pipeline integration
# ---------------------------------------------------------------------------
