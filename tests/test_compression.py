"""From-scratch compression codecs vs the REAL libraries.

Unlike the mirrored-pair media codecs, every decoder here is verified
against genuinely foreign bitstreams: pyarrow bundles the reference
zstd / LZ4 compressors, and Spark's JVM ``xxhash64`` anchors
the hash. The store-mode encoders are verified in the other direction —
the real decompressors must decode our frames.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from markdown_lab_spark.functions.lz4_codec import (
    Lz4Error,
    decode_lz4_block,
    decode_lz4_frame,
    encode_lz4_frame_store,
    is_lz4_frame,
)
from markdown_lab_spark.functions.xxhash import xxh32, xxh64
from markdown_lab_spark.functions.zstd_codec import (
    ZstdError,
    decode_zstd,
    encode_zstd_store,
    is_zstd,
)


def _payload(kind: str, n: int, seed: int = 1) -> bytes:
    rng = random.Random(seed)
    if kind == "text":
        words = ["the", "crawl", "frontier", "spark", "codec", "markdown",
                 "chunk", "http", "robots", "wave"]
        s = (" ".join(rng.choice(words) for _ in range(n // 4 + 2))).encode()
        return (s * (n // max(len(s), 1) + 2))[:n]
    if kind == "rep":
        return (b"abcdefgh" * (n // 8 + 1))[:n]
    if kind == "rand":
        return bytes(rng.randrange(256) for _ in range(n))
    return b"\0" * n


KINDS = ["text", "rep", "rand", "zero"]
SIZES = [0, 1, 5, 100, 4096, 70000, 300000]


# ---------------------------------------------------------------------------
# xxhash


def test_xxhash_published_vectors():
    assert xxh32(b"") == 0x02CC5D05
    assert xxh64(b"") == 0xEF46DB3751D8E999


def test_xxh64_matches_spark_jvm(spark):
    from pyspark.sql import functions as F

    rng = random.Random(7)
    payloads = [
        bytes(rng.randrange(256) for _ in range(n))
        for n in [0, 1, 3, 4, 7, 8, 15, 16, 31, 32, 33, 63, 100, 1000, 4097]
    ]
    jvm = [
        r.h
        for r in spark.createDataFrame([(p,) for p in payloads], "b binary")
        .select(F.xxhash64("b").alias("h"))
        .collect()
    ]
    mine = [xxh64(p, seed=42) for p in payloads]
    assert [m - (1 << 64) if m >= (1 << 63) else m for m in mine] == jvm


@given(st.binary(max_size=500), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_xxh32_one_shot_consistency(data, seed):
    # structural: deterministic, seed-sensitive on non-trivial input
    assert xxh32(data, seed) == xxh32(data, seed)
    assert 0 <= xxh32(data, seed) < (1 << 32)


# ---------------------------------------------------------------------------
# zstd decode vs the real compressor


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_zstd_decodes_real_streams(kind, level):
    codec = pa.Codec("zstd", compression_level=level)
    for n in SIZES:
        data = _payload(kind, n)
        assert decode_zstd(codec.compress(data, asbytes=True)) == data


def test_zstd_large_multi_block_window():
    # >128 KiB forces multiple blocks; repetitive content forces
    # offsets reaching into previous blocks through the frame window
    data = _payload("text", 800_000, seed=3)
    comp = pa.Codec("zstd", compression_level=6).compress(data, asbytes=True)
    assert decode_zstd(comp) == data


@given(st.binary(max_size=3000), st.sampled_from([1, 3, 7, 15]))
@settings(max_examples=80, deadline=None)
def test_zstd_fuzz_roundtrip_vs_pyarrow(data, level):
    comp = pa.Codec("zstd", compression_level=level).compress(
        data, asbytes=True
    )
    assert decode_zstd(comp) == data


def test_zstd_concatenated_and_skippable_frames():
    a, b = b"alpha" * 100, _payload("rand", 1000)
    comp = (
        pa.Codec("zstd").compress(a, asbytes=True)
        + (0x184D2A53).to_bytes(4, "little")
        + (6).to_bytes(4, "little")
        + b"ignore"
        + pa.Codec("zstd").compress(b, asbytes=True)
    )
    assert decode_zstd(comp) == a + b


def test_zstd_corruption_detected_or_differs():
    data = _payload("text", 20000)
    comp = bytearray(pa.Codec("zstd", compression_level=3).compress(
        data, asbytes=True
    ))
    rng = random.Random(11)
    for _ in range(20):
        i = rng.randrange(8, len(comp))  # keep magic/header intact
        orig = comp[i]
        comp[i] ^= 0x41
        try:
            got = decode_zstd(bytes(comp))
            assert got != data
        except ValueError:
            pass
        comp[i] = orig


def test_zstd_store_encoder_decoded_by_real_zstd():
    for kind in KINDS:
        for n in [0, 1, 100, 300000]:
            data = _payload(kind, n, seed=5)
            frame = encode_zstd_store(data)
            assert is_zstd(frame)
            got = pa.Codec("zstd").decompress(
                frame, decompressed_size=len(data), asbytes=True
            )
            assert got == data
            assert decode_zstd(frame) == data


def test_zstd_store_rle_block_path():
    data = b"\x7f" * 300_000  # uniform -> RLE blocks
    frame = encode_zstd_store(data)
    assert len(frame) < 100  # RLE collapsed
    assert decode_zstd(frame) == data
    assert (
        pa.Codec("zstd").decompress(
            frame, decompressed_size=len(data), asbytes=True
        )
        == data
    )


def test_zstd_checksum_tamper_raises():
    frame = bytearray(encode_zstd_store(b"checksummed content"))
    frame[-9] ^= 1  # flip a content byte, keep the checksum
    with pytest.raises(ZstdError):
        decode_zstd(bytes(frame))


def test_zstd_rejects_dictionary_frames_and_bad_magic():
    with pytest.raises(ZstdError):
        decode_zstd(b"\x00\x00\x00\x00rest")
    # frame header with dictionary_id_flag set
    bad = ZstdError  # noqa: F841  (clarity)
    frame = (0xFD2FB528).to_bytes(4, "little") + bytes([0x21, 0x00, 0x05])
    with pytest.raises(ZstdError):
        decode_zstd(frame)


# ---------------------------------------------------------------------------
# LZ4


@pytest.mark.parametrize("kind", KINDS)
def test_lz4_frame_and_block_decode_real_streams(kind):
    for n in SIZES + [2_000_000]:
        data = _payload(kind, n, seed=2)
        assert decode_lz4_frame(
            pa.compress(data, codec="lz4", asbytes=True)
        ) == data
        assert bytes(
            decode_lz4_block(pa.compress(data, codec="lz4_raw", asbytes=True))
        ) == data


@given(st.binary(max_size=3000))
@settings(max_examples=60, deadline=None)
def test_lz4_fuzz_roundtrip_vs_pyarrow(data):
    assert decode_lz4_frame(
        pa.compress(data, codec="lz4", asbytes=True)
    ) == data


def test_lz4_store_encoder_decoded_by_real_lz4():
    for n in [0, 1, 100, 300000]:
        data = _payload("rand", n, seed=9)
        frame = encode_lz4_frame_store(data)
        assert is_lz4_frame(frame)
        assert (
            pa.Codec("lz4").decompress(
                frame, decompressed_size=len(data), asbytes=True
            )
            == data
        )
        assert decode_lz4_frame(frame) == data


def test_lz4_header_checksum_tamper_raises():
    frame = bytearray(encode_lz4_frame_store(b"hello"))
    frame[4] ^= 0x04  # flip a descriptor bit -> HC mismatch
    with pytest.raises(Lz4Error):
        decode_lz4_frame(bytes(frame))


def test_lz4_content_checksum_tamper_raises():
    frame = bytearray(encode_lz4_frame_store(b"hello world content"))
    frame[-6] ^= 1
    with pytest.raises(Lz4Error):
        decode_lz4_frame(bytes(frame))


# ---------------------------------------------------------------------------
# CRC-32 (vs the stdlib's real zlib)


def test_crc32_matches_zlib():
    import zlib

    from markdown_lab_spark.functions.lzma_codec import crc32

    for n in [0, 1, 100, 5552, 5553, 60000]:
        d = _payload("rand", n, seed=8)
        assert crc32(d) == zlib.crc32(d)


# ---------------------------------------------------------------------------
# real zstd COMPRESSION encoder (greedy LZ + predefined-FSE sequences)


@pytest.mark.parametrize("kind", KINDS)
def test_zstd_real_encoder_decoded_by_real_zstd(kind):
    from markdown_lab_spark.functions.zstd_codec import encode_zstd

    for n in [0, 1, 15, 16, 100, 1000, 20000, 400000]:
        data = _payload(kind, n, seed=21)
        frame = encode_zstd(data)
        assert (
            pa.Codec("zstd").decompress(
                frame, decompressed_size=len(data), asbytes=True
            )
            == data
        )
        assert decode_zstd(frame) == data


def test_zstd_real_encoder_actually_compresses():
    from markdown_lab_spark.functions.zstd_codec import encode_zstd

    data = _payload("text", 200000, seed=21)
    frame = encode_zstd(data)
    assert len(frame) < len(data) // 2  # measured ~0.33
    # and incompressible input falls back to raw blocks, bounded growth
    rand = _payload("rand", 200000, seed=22)
    assert len(encode_zstd(rand)) < len(rand) + 1000


@given(st.binary(max_size=5000))
@settings(max_examples=60, deadline=None)
def test_zstd_real_encoder_fuzz_roundtrip(data):
    from markdown_lab_spark.functions.zstd_codec import encode_zstd

    frame = encode_zstd(data)
    assert (
        pa.Codec("zstd").decompress(
            frame, decompressed_size=len(data), asbytes=True
        )
        == data
    )


def test_fse_encoder_inverts_decoder_all_tables():
    """Single-state FSE encode->decode identity over every predefined
    table and alphabet (the decode side is itself pinned against real
    zstd streams, so this anchors the encoder transitively)."""
    from markdown_lab_spark.functions import zstd_codec as z

    rng = random.Random(1)
    for log, probs in [z._LL_DEFAULT, z._OF_DEFAULT, z._ML_DEFAULT]:
        alphabet = [s for s, p in enumerate(probs) if p != 0]
        for _ in range(10):
            syms = [rng.choice(alphabet) for _ in range(rng.randrange(1, 200))]
            enc = z._FseEncoder(log, probs)
            bw = z._BackBitWriter()
            enc.init_state(syms[-1])
            for i in range(len(syms) - 2, -1, -1):
                enc.encode(bw, syms[i])
            enc.flush(bw)
            bits = z._BackBits(bw.finish())
            dec = z._FseDecoder(log, probs)
            dec.init_state(bits)
            got = []
            for i in range(len(syms)):
                got.append(dec.peek_symbol())
                if i + 1 < len(syms):
                    dec.update_state(bits)
            assert got == syms and bits.bitpos == 0


def test_zstd_huffman_literals_paths():
    """Skewed-byte data with no LZ matches forces the Huffman-literals
    block path (1-stream and 4-stream); template-heavy data exercises
    sequences + Huffman literals together. All decoded by REAL zstd."""
    from markdown_lab_spark.functions.zstd_codec import encode_zstd

    rng = random.Random(31)
    for n in [200, 1023, 1024, 5000, 200000]:
        skew = bytes(rng.choice(b"aaaaabbbcde") for _ in range(n))
        frame = encode_zstd(skew)
        assert (
            pa.Codec("zstd").decompress(
                frame, decompressed_size=n, asbytes=True
            )
            == skew
        )
        assert decode_zstd(frame) == skew
        if n >= 5000:
            assert len(frame) < int(n * 0.6)  # measured ~0.48
    html = "".join(
        f'<div class="row item-{i}"><a href="/p/{i * 7 % 97}">Item {i}'
        f"</a><p>description {i % 13}</p></div>"
        for i in range(2500)
    ).encode()
    frame = encode_zstd(html)
    assert (
        pa.Codec("zstd").decompress(
            frame, decompressed_size=len(html), asbytes=True
        )
        == html
    )
    assert len(frame) < len(html) // 5  # measured ~0.14


def test_zstd_package_merge_lengths_kraft_complete():
    from markdown_lab_spark.functions.zstd_codec import (
        _package_merge_lengths,
    )

    rng = random.Random(41)
    for trial in range(30):
        nsym = rng.randrange(2, 128)
        freqs = {s: rng.randrange(1, 10000) for s in range(nsym)}
        lengths = _package_merge_lengths(freqs, 11)
        assert max(lengths.values()) <= 11
        assert min(lengths.values()) >= 1
        kraft = sum(2 ** (11 - length) for length in lengths.values())
        assert kraft == 1 << 11, trial


# ---------------------------------------------------------------------------
# real LZ4 COMPRESSION encoder


@pytest.mark.parametrize("kind", KINDS)
def test_lz4_real_encoder_decoded_by_real_lz4(kind):
    from markdown_lab_spark.functions.lz4_codec import (
        encode_lz4_block,
        encode_lz4_frame,
    )

    for n in [0, 1, 4, 12, 13, 100, 1000, 20000, 200000]:
        data = _payload(kind, n, seed=33)
        f = encode_lz4_frame(data)
        assert (
            pa.Codec("lz4").decompress(
                f, decompressed_size=n, asbytes=True
            )
            == data
        )
        assert decode_lz4_frame(f) == data
        b = encode_lz4_block(data)
        assert (
            pa.Codec("lz4_raw").decompress(
                b, decompressed_size=n, asbytes=True
            )
            == data
        )
        assert bytes(decode_lz4_block(b)) == data


def test_lz4_encoder_actually_compresses():
    from markdown_lab_spark.functions.lz4_codec import encode_lz4_frame

    data = _payload("text", 200000, seed=33)
    # 16-deep chains measured BELOW the reference default (0.25 vs
    # 0.40) — assert a conservative bound
    assert len(encode_lz4_frame(data)) < int(len(data) * 0.35)


@given(st.binary(max_size=4000))
@settings(max_examples=50, deadline=None)
def test_lz4_real_encoder_fuzz(data):
    from markdown_lab_spark.functions.lz4_codec import encode_lz4_frame

    assert (
        pa.Codec("lz4").decompress(
            encode_lz4_frame(data), decompressed_size=len(data), asbytes=True
        )
        == data
    )


def test_zstd_encoder_repeat_offsets_cross_block():
    """Template-heavy data makes the encoder emit repeat-offset codes
    (offset_value 1-3, incl. the frame-scoped history that persists
    across blocks); the REAL zstd decodes the result. The >128 KiB
    input spans multiple blocks, so block 2's first rep codes depend on
    block 1's final history — the cross-block state the decoder keeps
    in its frame state."""
    from markdown_lab_spark.functions.zstd_codec import encode_zstd

    big = b"<tr><td class=\"c\">value</td></tr>" * 20000  # ~660 KB
    frame = encode_zstd(big)
    assert (
        pa.Codec("zstd").decompress(
            frame, decompressed_size=len(big), asbytes=True
        )
        == big
    )
    assert decode_zstd(frame) == big
    # rep-coded sequences are tiny: whole frame collapses hard
    assert len(frame) < len(big) // 100
    # structured small cases exercising each rep slot
    rng = random.Random(56)
    for _ in range(60):
        n = rng.randrange(0, 2500)
        data = b"".join(
            bytes([rng.choice(b"abcdxyz  ")]) * rng.randrange(1, 9)
            for _ in range(n // 3 + 1)
        )[:n]
        frame = encode_zstd(data)
        assert (
            pa.Codec("zstd").decompress(
                frame, decompressed_size=len(data), asbytes=True
            )
            == data
        )


# ---------------------------------------------------------------------------
# CLI cross-checks (env-gated): the reference command-line tools decode
# our frames INCLUDING checksum verification (pyarrow skips checksums)


import shutil  # noqa: E402
import subprocess  # noqa: E402

_ZSTD_CLI = shutil.which("zstd")
_LZ4_CLI = shutil.which("lz4")


def _cli_roundtrip(cmd: list[str], frame: bytes) -> bytes:
    p = subprocess.run(cmd, input=frame, capture_output=True, check=True)
    return p.stdout


@pytest.mark.skipif(_ZSTD_CLI is None, reason="no zstd CLI")
def test_zstd_cli_decodes_our_checksummed_frames():
    from markdown_lab_spark.functions.zstd_codec import (
        encode_zstd,
        encode_zstd_store,
    )

    for kind in KINDS:
        data = _payload(kind, 150000, seed=61)
        for frame in [encode_zstd(data), encode_zstd_store(data)]:
            out = _cli_roundtrip([_ZSTD_CLI, "-d", "-c"], frame)
            assert out == data
    # the CLI actually verifies the XXH64 checksum: corrupt it -> fail
    frame = bytearray(encode_zstd(b"checksummed payload " * 50))
    frame[-2] ^= 1
    with pytest.raises(subprocess.CalledProcessError):
        _cli_roundtrip([_ZSTD_CLI, "-d", "-c"], bytes(frame))


@pytest.mark.skipif(_LZ4_CLI is None, reason="no lz4 CLI")
def test_lz4_cli_decodes_our_frames():
    from markdown_lab_spark.functions.lz4_codec import (
        encode_lz4_frame,
        encode_lz4_frame_store,
    )

    for kind in KINDS:
        data = _payload(kind, 150000, seed=62)
        for frame in [encode_lz4_frame(data), encode_lz4_frame_store(data)]:
            assert _cli_roundtrip([_LZ4_CLI, "-d", "-c"], frame) == data
    frame = bytearray(encode_lz4_frame(b"checksummed payload " * 50))
    frame[-2] ^= 1
    with pytest.raises(subprocess.CalledProcessError):
        _cli_roundtrip([_LZ4_CLI, "-d", "-c"], bytes(frame))


# ---------------------------------------------------------------------------
# XZ / LZMA (vs the stdlib's real liblzma + the xz CLI)


def test_crc64_published_vector():
    from markdown_lab_spark.functions.lzma_codec import crc64

    assert crc64(b"123456789") == 0x995DC9BBDF1939FA


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("preset", [0, 1, 6, 9])
def test_xz_decodes_real_streams(kind, preset):
    import lzma

    from markdown_lab_spark.functions.lzma_codec import decode_xz

    for n in SIZES:
        data = _payload(kind, n, seed=66)
        assert decode_xz(lzma.compress(data, preset=preset)) == data


@pytest.mark.parametrize(
    "check_name", ["CHECK_CRC32", "CHECK_CRC64", "CHECK_SHA256", "CHECK_NONE"]
)
def test_xz_all_check_types(check_name):
    import lzma

    from markdown_lab_spark.functions.lzma_codec import decode_xz

    data = _payload("text", 60000, seed=67)
    comp = lzma.compress(data, check=getattr(lzma, check_name))
    assert decode_xz(comp) == data


def test_xz_concatenated_streams():
    import lzma

    from markdown_lab_spark.functions.lzma_codec import decode_xz

    two = lzma.compress(b"aaa") + lzma.compress(b"bbb" * 100)
    assert decode_xz(two) == b"aaa" + b"bbb" * 100


@given(st.binary(max_size=3000), st.sampled_from([0, 6]))
@settings(max_examples=50, deadline=None)
def test_xz_fuzz_roundtrip_vs_stdlib(data, preset):
    import lzma

    from markdown_lab_spark.functions.lzma_codec import decode_xz

    assert decode_xz(lzma.compress(data, preset=preset)) == data


def test_xz_check_tamper_detected():
    import lzma

    from markdown_lab_spark.functions.lzma_codec import (
        LzmaError,
        decode_xz,
    )

    comp = bytearray(lzma.compress(_payload("text", 5000, seed=69)))
    # flip a byte inside the block's CRC64 field region near the index:
    # easier robust approach — flip a content byte, keep container CRCs
    # recalculated? not possible; instead flip one payload byte and
    # expect either a container CRC error or a check mismatch
    comp[len(comp) // 2] ^= 1
    with pytest.raises((LzmaError, Exception)):
        got = decode_xz(bytes(comp))
        assert got != _payload("text", 5000, seed=69)


_XZ_CLI = shutil.which("xz")


@pytest.mark.skipif(_XZ_CLI is None, reason="no xz CLI")
def test_xz_cli_output_decodes_through_ours():
    from markdown_lab_spark.functions.lzma_codec import decode_xz

    data = _payload("text", 150000, seed=70)
    comp = subprocess.run(
        [_XZ_CLI, "-c", "-6"], input=data, capture_output=True, check=True
    ).stdout
    assert decode_xz(comp) == data


def test_warc_xz_ingest():
    """.warc.xz parses through the in-repo LZMA decoder."""
    import lzma
    from datetime import datetime, timezone

    from markdown_lab_spark.sources.warc import encode_warc, parse_warc_stream

    recs = [
        {
            "url": f"https://w.test/x{i}",
            "warc_ts": datetime(2026, 8, 19, tzinfo=timezone.utc),
            "html": f"<html><body>xz page {i}</body></html>".encode(),
        }
        for i in range(3)
    ]
    payload = lzma.compress(encode_warc(recs, compress=False))
    got = list(parse_warc_stream(payload))
    assert [r["url"] for r in got] == [r["url"] for r in recs]
