"""Fixed explicit schemas (SURVEY.md §1.2-1.3): the engine declares every
StructType once here; no inference anywhere."""

from __future__ import annotations

from pyspark.sql import types as T

# input table — authoritative shape from BASELINE.json input_hint
INPUT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

TABLES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("page_no", T.IntegerType(), True),
            T.StructField(
                "cells",
                T.ArrayType(T.ArrayType(T.StringType(), True), True),
                True,
            ),
        ]
    ),
    True,
)

# extraction output (SURVEY.md §1.2)
EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_sha", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("clauses", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("clauses_json", T.StringType(), True),
        T.StructField("table_pages", T.ArrayType(T.IntegerType()), True),
        T.StructField("tables", TABLES_TYPE, True),
        T.StructField("tables_json", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# the extracted table: the stage's rows plus their resume shard, the
# table's partition column (read back from its ``part_id=`` directories)
EXTRACTED_WITH_PART = T.StructType(
    list(EXTRACTED.fields) + [T.StructField("part_id", T.IntegerType(), True)]
)

# per-partition lineage/metrics sidecar (north rule checkpoint-resume)
LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("n_ok", T.LongType(), True),
        T.StructField("n_err", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
        T.StructField(
            "metrics", T.MapType(T.StringType(), T.DoubleType()), True
        ),
    ]
)

# one row per decoded page (operators.decode_pages); ``images`` carries
# the page's embedded images (S4, reference python/app.py:44-57) in
# extraction index order (O4)
PAGE = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),
        T.StructField(
            "images",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("idx", T.IntegerType(), True),
                        T.StructField("width", T.IntegerType(), True),
                        T.StructField("height", T.IntegerType(), True),
                        T.StructField("pixels", T.BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)
