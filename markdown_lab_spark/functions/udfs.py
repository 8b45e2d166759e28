"""Arrow-vectorized pandas UDFs — the engine's three core UDFs (SURVEY.md §2.11).

Each UDF wraps the pure-Python oracle so the Spark path and the pytest
byte-identity suite execute EXACTLY the same semantics; the Arrow batch is
the analogue of the reference's PyO3 hop (one batch = thousands of
documents instead of one FFI call per document).

Per-row failures are captured into status/error columns
(markdown_lab/core/scraper.py:565-582 never fails the batch) — a single
hostile page must not kill a 100 TB job.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..oracle import chunker as rust_chunker
from ..oracle import chunk_utils as py_chunker
from ..oracle import html_parser as oracle_html
from ..oracle import markdown_converter as oracle_md
from ..oracle import url_utils as oracle_url

# ---------------------------------------------------------------------------
# 1. convert_html: html (+url) -> struct(title, markdown, json, xml, links,
#    status, error). One parse per document, all outputs derived.
# ---------------------------------------------------------------------------
CONVERT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("json", T.StringType()),
        T.StructField("xml", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _decode_html(raw) -> Optional[str]:
    if raw is None:
        return None
    if isinstance(raw, (bytes, bytearray)):
        return bytes(raw).decode("utf-8", errors="replace")
    return str(raw)


def make_convert_udf(formats: tuple = ("markdown", "json", "xml")):
    """Convert UDF computing only the requested serializations.

    The crawl pipeline consumes markdown+links only; skipping the json/xml
    serializations there cuts ~20% of per-page Python time. Columns not
    requested come back null (schema is stable for all variants).
    """
    want_json = "json" in formats
    want_xml = "xml" in formats

    @pandas_udf(CONVERT_SCHEMA)
    def convert_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        titles: List[Optional[str]] = []
        markdowns: List[Optional[str]] = []
        jsons: List[Optional[str]] = []
        xmls: List[Optional[str]] = []
        links: List[Optional[List[str]]] = []
        statuses: List[str] = []
        errors: List[Optional[str]] = []
        for raw, base in zip(html, url):
            text = _decode_html(raw)
            if text is None:
                row = (None, None, None, None, None, "fetch_miss", None)
            else:
                try:
                    tree = oracle_html.parse_document(text)
                    doc = oracle_md.parse_tree_to_document(tree, base)
                    row = (
                        doc.title,
                        oracle_md.document_to_markdown(doc),
                        oracle_md.document_to_json(doc) if want_json else None,
                        oracle_md.document_to_xml(doc) if want_xml else None,
                        oracle_html.extract_links_parsed(tree, base),
                        "ok",
                        None,
                    )
                except Exception as exc:
                    from ..errors import normalize_error  # noqa: PLC0415

                    row = (None, None, None, None, None, "error",
                           normalize_error(exc))
            titles.append(row[0])
            markdowns.append(row[1])
            jsons.append(row[2])
            xmls.append(row[3])
            links.append(row[4])
            statuses.append(row[5])
            errors.append(row[6])
        return pd.DataFrame(
            {
                "title": titles,
                "markdown": markdowns,
                "json": jsons,
                "xml": xmls,
                "links": links,
                "status": statuses,
                "error": errors,
            }
        )

    return convert_udf


# full-format variant (all serializations) and the crawl hot-path variant
convert_html_udf = make_convert_udf(("markdown", "json", "xml"))
convert_markdown_udf = make_convert_udf(("markdown",))


# ---------------------------------------------------------------------------
# 2. chunk_markdown (Rust semantics, src/chunker.rs): markdown -> array<string>
# ---------------------------------------------------------------------------
def make_chunk_markdown_udf(chunk_size: int = 1000, chunk_overlap: int = 200):
    @pandas_udf(T.ArrayType(T.StringType()))
    def chunk_markdown_udf(markdown: pd.Series) -> pd.Series:
        out: List[Optional[List[str]]] = []
        for md in markdown:
            if md is None:
                out.append(None)
                continue
            try:
                out.append(rust_chunker.create_semantic_chunks(md, chunk_size, chunk_overlap))
            except Exception:
                out.append(None)
        return pd.Series(out)

    return chunk_markdown_udf


chunk_markdown_udf = make_chunk_markdown_udf()


# ---------------------------------------------------------------------------
# 3. chunk_semantic (Python semantics, chunk_utils.py): markdown + url ->
#    array<struct<id, content, heading, position, word_count, char_count,
#    chunk_type>>
# ---------------------------------------------------------------------------
CHUNK_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("heading", T.StringType()),
            T.StructField("domain", T.StringType()),
            T.StructField("position", T.LongType()),
            T.StructField("word_count", T.LongType()),
            T.StructField("char_count", T.LongType()),
            T.StructField("chunk_type", T.StringType()),
        ]
    )
)


def make_chunk_semantic_udf(chunk_size: int = 1000, chunk_overlap: int = 200):
    @pandas_udf(CHUNK_STRUCT)
    def chunk_semantic_udf(content: pd.Series, url: pd.Series) -> pd.Series:
        out = []
        for text, source_url in zip(content, url):
            if text is None:
                out.append(None)
                continue
            try:
                chunks = py_chunker.create_semantic_chunks(
                    text, source_url or "", chunk_size, chunk_overlap
                )
                out.append(
                    [
                        {
                            "id": c.id,
                            "content": c.content,
                            "heading": c.metadata.get("heading"),
                            "domain": c.metadata.get("domain"),
                            "position": c.metadata.get("position"),
                            "word_count": c.metadata.get("word_count"),
                            "char_count": c.metadata.get("char_count"),
                            "chunk_type": c.chunk_type,
                        }
                        for c in chunks
                    ]
                )
            except Exception:
                out.append(None)
        return pd.Series(out)

    return chunk_semantic_udf


chunk_semantic_udf = make_chunk_semantic_udf()


# ---------------------------------------------------------------------------
# filename derivation (K4) — kept for export-layout parity
# ---------------------------------------------------------------------------
def make_filename_udf(output_format: str = "markdown"):
    @pandas_udf(T.StringType())
    def filename_udf(url: pd.Series) -> pd.Series:
        return pd.Series(
            [
                oracle_url.get_filename_from_url(u, output_format) if u else None
                for u in url
            ]
        )

    return filename_udf


# ---------------------------------------------------------------------------
# Column helpers (pure Spark built-ins — JVM side, no Python)
# ---------------------------------------------------------------------------
def valid_url_col(col):
    """F3 filter: must start http(s):// with non-empty netloc."""
    return col.rlike(r"^https?://[^/\s]+")


def extract_base_url_col(col):
    """X2 as a JVM expression."""
    return F.concat(
        F.regexp_extract(col, r"^([a-z][a-z0-9+.-]*)://", 1),
        F.lit("://"),
        F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1),
    )


def domain_col(col):
    """X3 as a JVM expression (netloc incl. port/userinfo like urlsplit)."""
    return F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)


def normalize_url_col(col):
    """X1 as a pure JVM expression (markdown_lab/utils/url_utils.py:115-140):
    strip fragment, rstrip trailing '/' from path unless path=='/', keep query.
    """
    scheme_netloc = extract_base_url_col(col)
    path = F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(col, r"^[^?#]*\?([^#]*)", 1)
    norm_path = F.when(path == "/", path).otherwise(
        F.regexp_replace(path, r"/+$", "")
    )
    return F.concat(
        scheme_netloc,
        norm_path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
