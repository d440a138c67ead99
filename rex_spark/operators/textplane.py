"""Text-plane input stage: pages -> docs.

Reference parity: the pages->docs strip is the F12 contract (byte-
identical clean_text per url).  Segmentation, tokenization and
extraction over the docs run in one crossing downstream
(operators/extraction.py ``extract_plane``), re-expressing REx's
sent_seg + converter tokenization (P1/P2, rex/utils/segmentation.py,
data/NYT10/convert.py:16).

Scale notes:
- html never travels past the strip stage (select/prune immediately);
- the stage is narrow (no shuffle from parquet scan to docs rows).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels.textnorm import html_to_text

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("lang", StringType(), True),
        StructField("clean_text", StringType(), True),
    ]
)


def clean_pages(pages: DataFrame) -> DataFrame:
    """pages -> docs: deterministic boilerplate strip (F12).

    The html column is dropped inside the same task; only
    (url, warc_ts, lang, clean_text) ever reach a shuffle.
    """
    src = pages.select("url", "warc_ts", "lang", "html")

    def strip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "clean_text": [
                        html_to_text(h) if h is not None else ""
                        for h in pdf["html"]
                    ],
                }
            )

    return src.mapInPandas(strip_batches, schema=DOCS_SCHEMA)


def tokenize_column(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pure-relational tokenizer (P1) for already-clean text columns:
    lower + whitespace split, JVM-side (used by the documents-table
    text ops where REx converter semantics suffice)."""
    return df.withColumn(
        "tokens",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
    )
