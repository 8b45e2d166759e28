"""WARC ingest/egress (ISO 28500) — the Common-Crawl container format.

The north star reads "Common-Crawl-style pages from Iceberg"; the raw
crawl archives those tables are built FROM ship as WARC: a sequence of
records, each a header block (``WARC/1.0`` + named fields), CRLFCRLF,
``Content-Length`` bytes of body, CRLFCRLF. Common Crawl serves each
record as its own gzip member concatenated into one ``.warc.gz`` file
(per spec annex, member-per-record lets readers seek); plain ``.warc``
is the uncompressed form. ``response`` records wrap an HTTP response
(status line + headers + html body) as their block.

Spark shape — built for the Common-Crawl layout:
- one WARC file is the distribution unit (CC files are ~1 GB, ~100k
  files per crawl): ``read_warc`` lists files into a DataFrame and
  parses each file inside ONE task via ``mapInPandas`` (streaming
  gzip-member decode, no shuffle, no driver-side I/O); 100k files on a
  1000-executor cluster is embarrassingly parallel.
- the output schema is exactly the engine's page-table input hint
  (url, warc_ts, html) + (http_status, mime), so
  ``warc_pages_table(...)`` feeds ``CrawlEngine(pages=...)`` or a
  pages-table write directly.
- ``encode_warc`` writes the member-per-record ``.warc.gz`` form (the
  egress twin; also what the round-trip tests pin).

Pure stdlib (gzip/email-free hand parser): no native deps, and the
parser is intentionally tolerant — a torn record ends the file's
stream (truncated tail archives are common) instead of killing the
task, honoring the engine's decoder-boundary contract.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"

WARC_RECORDS_SCHEMA = (
    "warc_type string, url string, warc_ts timestamp, http_status int, "
    "mime string, html binary"
)


def _split_members(payload: bytes) -> Iterator[bytes]:
    """Decompressed members of a WARC payload, magic-sniffed:
    gzip member-per-record (``.warc.gz``, the classic Common Crawl
    layout), zstd frames (``.warc.zst`` / ``.warc.wet.zst`` — the Dolma
    / modern-corpus layout; in-repo RFC 8878 decoder), xz streams
    (in-repo LZMA decoder), LZ4 frames, or
    the payload itself when uncompressed. A torn tail member/frame ends
    the stream instead of aborting the task."""
    if payload[:2] == b"\x1f\x8b":
        pos = 0
        n = len(payload)
        while pos < n and payload[pos : pos + 2] == b"\x1f\x8b":
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            try:
                out = d.decompress(payload[pos:])
            except zlib.error:
                return  # torn tail member: end of stream, not an abort
            yield out
            consumed = len(payload) - pos - len(d.unused_data)
            if consumed <= 0:
                return
            pos += consumed
        return
    from markdown_lab_spark.functions.lz4_codec import (  # noqa: PLC0415
        Lz4Error,
        decode_lz4_frame,
        is_lz4_frame,
    )
    from markdown_lab_spark.functions.lzma_codec import (  # noqa: PLC0415
        LzmaError,
        decode_xz,
        is_xz,
    )
    from markdown_lab_spark.functions.zstd_codec import (  # noqa: PLC0415
        is_zstd,
        iter_zstd_frames,
    )

    if is_zstd(payload):
        yield from iter_zstd_frames(payload, tolerant=True)
        return
    # IndexError alongside the typed errors: the named truncation points
    # raise typed errors (round-5 ADVICE), and this belt catches any
    # remaining short read deep in the decoders so a torn tail can never
    # abort the Spark task — the documented gzip/zstd-branch contract
    if is_xz(payload):
        try:
            yield decode_xz(payload)
        except (LzmaError, IndexError):
            pass  # torn/corrupt archive: tolerate
        return
    if is_lz4_frame(payload):
        try:
            yield decode_lz4_frame(payload)
        except (Lz4Error, IndexError):
            pass  # torn/corrupt archive: tolerate, yield nothing usable
        return
    yield payload


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1", "replace"
            )
    return headers


def _parse_http_response(
    block: bytes,
) -> Tuple[Optional[int], Optional[str], bytes]:
    """(status, bare mime, body) from an HTTP response block."""
    sep = block.find(_CRLF + _CRLF)
    if sep < 0 or not block.startswith(b"HTTP/"):
        return None, None, block
    head, body = block[:sep], block[sep + 4 :]
    status_line = head.split(_CRLF, 1)[0].split(b" ")
    try:
        status = int(status_line[1])
    except (IndexError, ValueError):
        status = None
    ctype = _parse_headers(head).get("content-type")
    mime = ctype.split(";", 1)[0].strip() if ctype is not None else None
    return status, mime, body


def _parse_ts(value: Optional[str]):
    if not value:
        return None
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def parse_warc_stream(payload: bytes) -> Iterator[dict]:
    """Records of one WARC file (plain or member-per-record gzip):
    dicts with (warc_type, url, warc_ts, http_status, mime, html).
    ``response`` records carry the HTTP body as ``html``; other record
    types (warcinfo, request, metadata) carry their raw block. A
    malformed record ends the stream (tolerant-tail contract)."""
    for member in _split_members(payload):
        pos = 0
        n = len(member)
        while pos < n:
            # skip inter-record blank lines
            while member[pos : pos + 2] == _CRLF:
                pos += 2
            if pos >= n:
                break
            sep = member.find(_CRLF + _CRLF, pos)
            if sep < 0 or not member[pos:].startswith(b"WARC/"):
                break
            headers = _parse_headers(member[pos:sep])
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                break
            body = member[sep + 4 : sep + 4 + length]
            if len(body) < length:
                break  # truncated tail record
            wtype = headers.get("warc-type", "")
            url = headers.get("warc-target-uri")
            ts = _parse_ts(headers.get("warc-date"))
            if wtype == "response":
                status, mime, html = _parse_http_response(body)
            else:
                status, html = None, body
                mime = headers.get("content-type")
            yield {
                "warc_type": wtype,
                "url": url,
                "warc_ts": ts,
                "http_status": status,
                "mime": mime,
                "html": html,
            }
            pos = sep + 4 + length


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """All records of the WARC files matching ``path`` (glob ok) as a
    DataFrame — one file parsed per task, no shuffle. Uses the
    binaryFile source (whole-file rows: the WARC member structure is
    not line-splittable, and one CC file per task IS the intended
    parallelism unit; ensure ``spark.sql.files.maxPartitionBytes`` >=
    the largest file so Spark never tries to split one)."""
    import pandas as pd  # noqa: PLC0415

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for content in pdf["content"]:
                rows = list(parse_warc_stream(bytes(content)))
                if rows:
                    yield pd.DataFrame(rows)

    return files.mapInPandas(run, WARC_RECORDS_SCHEMA)


def warc_pages_table(spark: SparkSession, path: str) -> DataFrame:
    """The engine's page-table shape (url, warc_ts, html) from WARC
    archives: successful HTML ``response`` records only — exactly what
    ``CrawlEngine(pages=...)`` and the corpus-join path consume, and the
    row shape an Iceberg pages table is built from at ingest."""
    rec = read_warc(spark, path)
    return (
        rec.filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & (F.col("url").isNotNull())
            & (F.coalesce(F.col("mime"), F.lit("")).startswith("text/html"))
        )
        .select("url", "warc_ts", "html")
    )


def encode_warc(records: List[dict], compress: bool = True) -> bytes:
    """Member-per-record WARC bytes (the Common-Crawl ``.warc.gz``
    layout). Each record dict: url, html (bytes), warc_ts (datetime),
    optional http_status (default 200) and mime (default text/html).
    Deterministic output for fixed inputs (mtime pinned to 0)."""
    out = io.BytesIO()
    for i, r in enumerate(records):
        status = r.get("http_status", 200)
        mime = r.get("mime", "text/html")
        html = r["html"]
        http = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {mime}\r\n"
            f"Content-Length: {len(html)}\r\n\r\n"
        ).encode("latin-1") + html
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{i:032x}>\r\n"
            f"WARC-Date: {ts}\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode("latin-1")
        member = head + http + _CRLF + _CRLF
        if compress:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(member)
            out.write(buf.getvalue())
        else:
            out.write(member)
    return out.getvalue()


def encode_wet(records: List[dict], compress: str | bool = True) -> bytes:
    """WET bytes (Common Crawl's extracted-text layout: WARC 1.0
    ``conversion`` records, text/plain, member-per-record compression).
    Each record dict: url, text (str), warc_ts (datetime). ``compress``:
    ``"gzip"``/True (classic CC layout), ``"zstd"`` (one checksummed
    zstd frame per record via the in-repo store encoder — any zstd
    reader and ``read_warc`` decode it), or ``"none"``/False.
    Deterministic for fixed inputs (gzip mtime pinned to 0)."""
    if compress is True:
        compress = "gzip"
    elif compress is False:
        compress = "none"
    if compress not in ("gzip", "zstd", "none"):
        raise ValueError(f"unknown WET compression: {compress!r}")
    out = io.BytesIO()
    for i, r in enumerate(records):
        body = r["text"].encode("utf-8")
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Record-ID: <urn:uuid:{i:032x}>\r\n"
            f"WARC-Date: {ts}\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            "Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("latin-1")
        member = head + body + _CRLF + _CRLF
        if compress == "gzip":
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(member)
            out.write(buf.getvalue())
        elif compress == "zstd":
            from markdown_lab_spark.functions.zstd_codec import (  # noqa: PLC0415
                encode_zstd,
            )

            out.write(encode_zstd(member))
        else:
            out.write(member)
    return out.getvalue()


def write_wet(
    df: DataFrame, out_dir: str, compression: str = "gzip"
) -> DataFrame:
    """Distributed WET egress: each partition writes ONE
    ``part-<id>.warc.wet.gz`` (or ``.zst``) executor-side (no driver
    collect, no shuffle — the writer fuses into whatever stage produced
    the rows). ``df`` needs (url, text, warc_ts). Returns the small
    (path, n_records) manifest DataFrame — materialized by the caller,
    which makes the write happen exactly once per partition task."""
    import os as _os

    import pandas as pd  # noqa: PLC0415
    from pyspark import TaskContext  # noqa: PLC0415

    if compression not in ("gzip", "zstd", "none"):
        raise ValueError(f"unknown WET compression: {compression!r}")
    ext = {"gzip": ".gz", "zstd": ".zst", "none": ""}[compression]
    _os.makedirs(out_dir, exist_ok=True)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        pid = TaskContext.get().partitionId()
        recs: List[dict] = []
        for pdf in batches:
            for url, text, ts in zip(pdf["url"], pdf["text"], pdf["warc_ts"]):
                if url is None or text is None:
                    continue
                try:  # WARC headers are latin-1; a raw unicode URL must
                    url.encode("latin-1")  # skip, not abort the partition
                except UnicodeEncodeError:
                    continue
                recs.append(
                    {"url": url, "text": text, "warc_ts": ts.to_pydatetime()}
                )
        if not recs:
            return
        p = _os.path.join(out_dir, f"part-{pid:05d}.warc.wet{ext}")
        with open(p, "wb") as f:
            f.write(encode_wet(recs, compress=compression))
        yield pd.DataFrame({"path": [p], "n_records": [len(recs)]})

    return df.select("url", "text", "warc_ts").mapInPandas(
        run, "path string, n_records long"
    )
