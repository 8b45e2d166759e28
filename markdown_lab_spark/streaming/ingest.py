"""Structured Streaming ingest: continuous pages -> docs -> chunks.

The reference has no streaming runtime and the crawl itself is
wave-synchronous batch (SURVEY.md §1.4) — but a production corpus arrives
continuously (WARC drops). This module runs the SAME convert/chunk UDFs as
a streaming pipeline over a file source, so new page files landing in a
directory flow to docs/chunks tables incrementally with checkpointed
exactly-once file tracking.

``read_pages_stream`` opens the page-file source and ``convert_stream``
applies the convert UDF to it; the caller picks the sink and trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.udfs import convert_html_udf

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def convert_stream(pages: DataFrame) -> DataFrame:
    docs = pages.withColumn("doc", convert_html_udf(F.col("html"), F.col("url")))
    return docs.select(
        "url",
        "warc_ts",
        F.col("doc.title").alias("title"),
        F.col("doc.markdown").alias("markdown"),
        F.col("doc.status").alias("status"),
        F.col("doc.error").alias("error"),
    )
