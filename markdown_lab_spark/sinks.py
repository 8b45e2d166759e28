"""Sinks (SURVEY.md §2.1 K1-K4).

The engine's primary sink is columnar (parquet/Iceberg tables of docs and
chunks); per-file layouts exist for export parity with the reference:

- K1 content files: one file per converted page, named by
  ``get_filename_from_url`` (url_utils.py:46-94).
- K2 chunk sink: ``chunks.jsonl`` (one JSON object per chunk,
  chunk_utils.py:200-226) or one ``{id}.json`` per chunk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.udfs import make_filename_udf


def write_docs_table(docs: DataFrame, path: str, partition_by: str = "wave") -> None:
    """K1 at scale: columnar sink, partitioned for pruning."""
    writer = docs.write.mode("overwrite")
    if partition_by and partition_by in docs.columns:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def write_chunks_jsonl(chunks: DataFrame, path: str) -> None:
    """K2: distributed JSONL (spark json = one object per line)."""
    chunks.write.mode("overwrite").json(path)


def export_content_files(
    docs: DataFrame, out_dir: str, output_format: str = "markdown", limit: int = 10000
) -> int:
    """K1 small-export parity: one file per page named like the reference.

    Driver-side by design — per-file exports are for small result sets; the
    scale path is write_docs_table.
    """
    col = {"markdown": "markdown", "json": "json", "xml": "xml"}[output_format]
    fn_udf = make_filename_udf(output_format)
    rows = (
        docs.withColumn("out_name", fn_udf(F.col("url")))
        .select("out_name", col)
        .limit(limit)
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for r in rows:
        if r[col] is None:
            continue
        with open(os.path.join(out_dir, r["out_name"]), "w", encoding="utf-8") as f:
            f.write(r[col])
        n += 1
    return n
