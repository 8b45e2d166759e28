"""Wikipedia dump ingest (sources/wikipedia.py) + the from-scratch
bzip2 decoder (functions/bzip2.py) it proves ownership of."""

from __future__ import annotations

import bz2
import random
from datetime import datetime, timezone

import pytest

from markdown_lab_spark.functions.bzip2 import (
    Bzip2Error,
    decode_bzip2,
)
from markdown_lab_spark.sources.wikipedia import (
    encode_wikidump,
    parse_wikidump,
    wikitext_to_text,
)


def _ts(i=0):
    return datetime(2026, 8, 18, 10, 0, i, tzinfo=timezone.utc)


def _pages(n=5):
    return [
        {
            "title": f"Article {i}",
            "ns": 0,
            "page_id": 100 + i,
            "warc_ts": _ts(i),
            "wikitext": (
                f"'''Article {i}''' is a [[test page|page]] about "
                f"{{{{infobox|x={i}}}}} things.<ref>cite {i}</ref>\n"
                f"== History ==\n* item one\nSee [[Other {i}]]."
            ),
        }
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# bzip2 decoder vs the real library


@pytest.mark.parametrize("kind", ["text", "rep", "rand", "zero", "runs"])
@pytest.mark.parametrize("level", [1, 5, 9])
def test_bzip2_decodes_real_streams(kind, level):
    rng = random.Random(44)

    def mk(n):
        if kind == "text":
            w = ["the", "crawl", "wiki", "spark", "dump", "markdown"]
            s = (" ".join(rng.choice(w) for _ in range(n // 4 + 2))).encode()
            return (s * (n // max(len(s), 1) + 2))[:n]
        if kind == "rep":
            return (b"abcdefgh" * (n // 8 + 1))[:n]
        if kind == "rand":
            return bytes(rng.randrange(256) for _ in range(n))
        if kind == "runs":
            return b"".join(
                bytes([rng.randrange(4)]) * rng.randrange(1, 300)
                for _ in range(n // 50 + 1)
            )[:n]
        return b"\0" * n

    for n in [0, 1, 4, 5, 100, 20000, 150000]:
        data = mk(n)
        assert decode_bzip2(bz2.compress(data, level)) == data


def test_bzip2_multiblock_and_concatenated_streams():
    data = (b"wiki page text " * 40000)[: 500_000]  # ~5 blocks at level 1
    assert decode_bzip2(bz2.compress(data, 1)) == data
    two = bz2.compress(b"hello") + bz2.compress(b"world" * 100)
    assert decode_bzip2(two) == b"hello" + b"world" * 100


def test_bzip2_crc_tamper_detected():
    comp = bytearray(bz2.compress(b"checksum me " * 100))
    comp[-6] ^= 1
    with pytest.raises(Bzip2Error):
        decode_bzip2(bytes(comp))


# ---------------------------------------------------------------------------
# dump parse + wikitext cleaning


def test_wikidump_roundtrip_and_pure_bz2_crosscheck():
    pages = _pages(4)
    payload = encode_wikidump(pages)
    got = list(parse_wikidump(payload))
    assert [p["title"] for p in got] == [p["title"] for p in pages]
    assert [p["page_id"] for p in got] == [100, 101, 102, 103]
    assert got[1]["warc_ts"] == _ts(1)
    # the from-scratch bzip2 decoder reads the same fixture
    assert decode_bzip2(payload) == bz2.decompress(payload)
    # namespace and redirect target ride along for callers to filter on
    extra = [
        {"title": "Talk:Article 0", "ns": 1, "page_id": 900,
         "wikitext": "talk chatter"},
        {"title": "Old Name", "ns": 0, "page_id": 901,
         "redirect": "Article 0", "wikitext": "#REDIRECT [[Article 0]]"},
    ]
    got = list(parse_wikidump(encode_wikidump(pages + extra, multistream=2)))
    assert [(p["ns"], p["redirect"]) for p in got] == [(0, None)] * 4 + [
        (1, None), (0, "Article 0")
    ]


def test_wikidump_multistream_and_torn_tail():
    pages = _pages(6)
    payload = encode_wikidump(pages, multistream=2)
    got = list(parse_wikidump(payload))
    assert len(got) == 6
    # torn tail: cutting into the last stream keeps whole streams
    torn = payload[:-20]
    got2 = list(parse_wikidump(torn))
    assert 0 < len(got2) <= 6
    assert [p["title"] for p in got2] == [p["title"] for p in pages[: len(got2)]]


def test_wikitext_to_text_fixtures():
    cases = [
        ("'''Bold''' and ''italic''", "Bold and italic"),
        ("[[Target|label]] and [[Plain]]", "label and Plain"),
        ("[[File:Pic.jpg|thumb|a [[nested]] caption]]text", "text"),
        ("{{infobox|a={{nested|b}}}}kept", "kept"),
        ("{| class=x\n|cell\n|}after", "after"),
        ("before<ref name=a>cite</ref>after", "beforeafter"),
        ("x<ref name=b />y", "xy"),
        ("== Heading ==\nbody", "Heading\nbody"),
        ("* one\n# two\n: three", "one\ntwo\nthree"),
        ("see [https://x.test the site] now", "see the site now"),
        ("bare [https://x.test] link", "bare  link"),
        ("<!-- hidden -->shown", "shown"),
        ("a<span class=x>b</span>c", "abc"),
    ]
    for src, want in cases:
        assert wikitext_to_text(src) == want, src
