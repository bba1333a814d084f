"""Authoritative schemas (SURVEY.md §1.2).

Declared once and shared by the ``mapInArrow`` kernel
(``extract_batch_arrow``), the sink, the fixture generator, and every test
— so schema drift is impossible.

All timestamps are UTC; every Spark session this package creates pins
``spark.sql.session.timeZone=UTC`` (SURVEY.md §4.3 determinism row).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: Common-Crawl-style pages table (BASELINE.json:input_hint).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Output of the extraction core (BASELINE.json:north_star typed schema).
EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("headline", StringType(), True),
        StructField("pubdate", TimestampType(), True),
        StructField("authors", ArrayType(StringType()), True),
        StructField("extracted_text", StringType(), True),
    ]
)

# Output of the extraction kernel (``extract_batch_arrow`` in mapInArrow):
# extraction columns, per-row lineage bookkeeping and the echoed salt
# bucket, all nullable as the kernel emits them.
EXTRACT_FULL_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in EXTRACT_SCHEMA.fields]
    + [
        StructField("ok", IntegerType(), True),
        StructField("n_bytes_html", LongType(), True),
        StructField("wall_us", LongType(), True),
        StructField("salt_bucket", IntegerType(), True),
    ]
)
