"""Wikipedia dump ingest — the other big public webtext corpus.

Wikipedia publishes MediaWiki XML exports as ``.xml.bz2`` (multistream:
concatenated bzip2 streams of ~100 pages each, so readers can seek).
``parse_wikidump`` turns those dumps into page dicts (title, ns,
page_id, redirect, warc_ts, wikitext) — what the published pipelines
(GPT-3's Wikipedia slice, Dolma's wiki subset) ingest. bz2 decode
uses the stdlib (C speed) on the hot path; the from-scratch decoder
(``functions/bzip2.py``, verified against stdlib output) is the
owned-byte-path proof and is cross-checked on the same fixtures in
tests.

``wikitext_to_text`` is a deterministic wikitext cleaner (templates,
tables, refs, links, files, headings, lists) — the Gopher/GPT-3-style
"extracted text" tier, not a full MediaWiki renderer; what it keeps
and drops is pinned by fixtures.
"""

from __future__ import annotations

import bz2
import io
import re
import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from typing import Iterator, List


def _decompress_any(payload: bytes) -> bytes:
    """bz2 (multistream, torn-tail tolerant) or raw bytes."""
    if payload[:3] != b"BZh":
        return payload
    out = bytearray()
    pos = 0
    while pos < len(payload):
        d = bz2.BZ2Decompressor()
        try:
            out += d.decompress(payload[pos:])
        except OSError:
            break  # torn tail stream: keep whole streams decoded so far
        if not d.eof:
            break
        unused = len(d.unused_data)
        if unused == 0:
            break
        pos = len(payload) - unused
    return bytes(out)


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_ts(value):
    if not value:
        return None
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def parse_wikidump(payload: bytes) -> Iterator[dict]:
    """Pages of a MediaWiki export (XML, optionally bz2-compressed):
    dicts with (title, ns, page_id, redirect, warc_ts, wikitext).
    Multistream dumps split mid-document are handled by wrapping the
    page stream in a synthetic root; malformed tails end the stream."""
    xml_bytes = _decompress_any(payload)
    if not xml_bytes.lstrip().startswith(b"<mediawiki"):
        xml_bytes = b"<mediawiki>" + xml_bytes + b"</mediawiki>"
    try:
        it = ET.iterparse(io.BytesIO(xml_bytes), events=("end",))
        for _event, elem in it:
            if _localname(elem.tag) != "page":
                continue
            title = ns = page_id = redirect = ts = text = None
            for child in elem:
                name = _localname(child.tag)
                if name == "title":
                    title = child.text
                elif name == "ns":
                    ns = int(child.text) if child.text else None
                elif name == "id" and page_id is None:
                    page_id = int(child.text) if child.text else None
                elif name == "redirect":
                    redirect = child.get("title")
                elif name == "revision":
                    for rc in child:
                        rname = _localname(rc.tag)
                        if rname == "timestamp":
                            ts = _parse_ts(rc.text)
                        elif rname == "text":
                            text = rc.text
            yield {
                "title": title,
                "ns": ns,
                "page_id": page_id,
                "redirect": redirect,
                "warc_ts": ts,
                "wikitext": text,
            }
            elem.clear()
    except ET.ParseError:
        return  # torn tail: whole pages parsed so far were yielded


_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_REF_RE = re.compile(r"<ref[^>/]*>.*?</ref>|<ref[^>]*/>", re.S | re.I)
_TAG_RE = re.compile(r"</?[a-zA-Z][^>]*>")
_EXTLINK_RE = re.compile(r"\[(?:https?|ftp)://[^ \]]*( ([^\]]*))?\]")
_HEADING_RE = re.compile(r"^=+\s*(.*?)\s*=+\s*$", re.M)
_LIST_RE = re.compile(r"^[*#:;]+\s*", re.M)
_QUOTES_RE = re.compile(r"'{2,}")
_BLANK_RE = re.compile(r"\n{3,}")


def _strip_nested(text: str, open_s: str, close_s: str) -> str:
    """Remove balanced, possibly nested, {{...}} / {|...|} regions."""
    out = []
    depth = 0
    i = 0
    n = len(text)
    lo, lc = len(open_s), len(close_s)
    while i < n:
        if text.startswith(open_s, i):
            depth += 1
            i += lo
        elif depth and text.startswith(close_s, i):
            depth -= 1
            i += lc
        elif depth:
            i += 1
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def _strip_links(text: str) -> str:
    """[[File:..]]/[[Category:..]] removed (nested brackets honored);
    [[target|label]] -> label; [[target]] -> target."""
    out = []
    i = 0
    n = len(text)
    while i < n:
        if text.startswith("[[", i):
            depth = 1
            j = i + 2
            while j < n and depth:
                if text.startswith("[[", j):
                    depth += 1
                    j += 2
                elif text.startswith("]]", j):
                    depth -= 1
                    j += 2
                else:
                    j += 1
            inner = text[i + 2 : j - 2]
            head = inner.split("|", 1)[0].strip().lower()
            if not head.startswith(("file:", "image:", "category:")):
                out.append(_strip_links(inner.rsplit("|", 1)[-1]))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def wikitext_to_text(wikitext: str) -> str:
    """Deterministic wikitext -> plain text (the extracted-text tier)."""
    if not wikitext:
        return ""
    t = _COMMENT_RE.sub("", wikitext)
    t = _REF_RE.sub("", t)
    t = _strip_nested(t, "{{", "}}")
    t = _strip_nested(t, "{|", "|}")
    t = _strip_links(t)
    t = _EXTLINK_RE.sub(lambda m: m.group(2) or "", t)
    t = _TAG_RE.sub("", t)
    t = _HEADING_RE.sub(r"\1", t)
    t = _LIST_RE.sub("", t)
    t = _QUOTES_RE.sub("", t)
    t = _BLANK_RE.sub("\n\n", t)
    return t.strip()


def encode_wikidump(
    pages: List[dict], multistream: int = 0, compress: bool = True
) -> bytes:
    """The egress/fixture twin: MediaWiki export XML, optionally bz2.
    ``multistream=N`` splits into concatenated bz2 streams of N pages
    (the real dump layout); 0 = one stream. Page dicts: title, ns,
    page_id, wikitext, optional warc_ts/redirect."""

    def page_xml(p: dict) -> str:
        ts = p.get("warc_ts")
        tsx = (
            f"<timestamp>{ts.strftime('%Y-%m-%dT%H:%M:%SZ')}</timestamp>"
            if ts
            else ""
        )
        red = (
            f'<redirect title="{p["redirect"]}" />' if p.get("redirect") else ""
        )
        body = (p.get("wikitext") or "").replace("&", "&amp;").replace(
            "<", "&lt;"
        )
        title = p["title"].replace("&", "&amp;").replace("<", "&lt;")
        return (
            f"<page><title>{title}</title><ns>{p.get('ns', 0)}</ns>"
            f"<id>{p['page_id']}</id>{red}"
            f"<revision><id>1</id>{tsx}<text>{body}</text></revision></page>"
        )

    if multistream and compress:
        chunks = [
            pages[i : i + multistream]
            for i in range(0, len(pages), multistream)
        ]
        return b"".join(
            bz2.compress("".join(page_xml(p) for p in c).encode("utf-8"))
            for c in chunks
        )
    xml = (
        "<mediawiki>" + "".join(page_xml(p) for p in pages) + "</mediawiki>"
    ).encode("utf-8")
    return bz2.compress(xml) if compress else xml
