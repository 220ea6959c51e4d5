"""CRUD over the extracted table — the engine's equivalents of the
reference's REST endpoints (SURVEY.md §2.1 S10-S13):

- GET  /api/v1/pdf          -> read_all            (pdf.controller.js:77-91)
- GET  /api/v1/pdf/:id?clause=k -> lookup / lookup_clause (:107-129)
- PATCH /api/v1/pdf/:id     -> update_clause       (:131-171)
- DELETE /api/v1/pdf        -> truncate            (:93-105)

Point ops are keyed by doc_sha (the deterministic stand-in for the
reference's UUIDs, SURVEY.md §1.1). Updates go through dynamic partition
overwrite: only the partition holding the row is rewritten — the parquet
analogue of an Iceberg MERGE (S12's Spark primitive).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..kernels.clauses import serialize_clauses
from ..pipeline import EXTRACTED_TABLE
from .io import TableIO


def read_all(io: TableIO) -> DataFrame:
    """The extracted table, read with its declared schema: no read runs a
    schema-inference job, and a truncated table (no data files) reads as
    no rows. Every operation below reads through here."""
    return io.read(EXTRACTED_TABLE, schemas.EXTRACTED_WITH_PART)


def lookup(io: TableIO, doc_sha: str) -> DataFrame:
    """Point lookup: partition pruning happens for free if the caller
    carries part_id; otherwise this is a predicate-pushdown scan on the
    doc_sha column (min/max parquet stats prune most files)."""
    return read_all(io).filter(F.col("doc_sha") == doc_sha)


def lookup_clause(io: TableIO, doc_sha: str, clause_key: str) -> DataFrame:
    """Single-clause projection (?clause=k): map access IS the projection
    (pdf.controller.js:114-117 -> F5)."""
    return lookup(io, doc_sha).select(
        "url",
        "doc_sha",
        F.col("clauses")[clause_key].alias("clause_text"),
    )


def update_clause(
    io: TableIO, doc_sha: str, clause_key: str, new_text: str
) -> int:
    """Patch one clause key of one document (S12). The reference
    spread-merges one key into the JSONB blob (pdf.controller.js:146-154)
    and newline-normalizes the edited value (:139; utils.js:78-87 -> X9).
    A key already present keeps its place, like the spread-merge.

    The row's three clause encodings stay in step: ``clauses_json`` and
    ``extracted_text`` are rebuilt from the edited map with the kernels'
    serializers. Only the partition(s) containing the row are rewritten,
    via dynamic partition overwrite. Returns the number of rows updated."""
    table = read_all(io)
    is_hit = F.col("doc_sha") == doc_sha
    hits = table.filter(is_hit).select("part_id", "clauses").collect()
    if not hits:
        return 0
    # rows of one doc_sha came from the same bytes: same clause map
    clauses = dict(hits[0].clauses or {})
    clauses[clause_key] = new_text.replace("\n", "")  # X9 newline strip
    edited = {
        "clauses": F.create_map(
            *[F.lit(x) for kv in clauses.items() for x in kv]
        ),
        "clauses_json": F.lit(json.dumps(clauses, ensure_ascii=False)),
        "extracted_text": F.lit(serialize_clauses(clauses)),
    }
    part_rows = table.filter(F.col("part_id").isin({r.part_id for r in hits}))
    updated = part_rows.withColumns(
        {c: F.when(is_hit, v).otherwise(F.col(c)) for c, v in edited.items()}
    )
    io.overwrite_partitions(updated, EXTRACTED_TABLE, "part_id")
    return len(hits)


def truncate(spark: SparkSession, io: TableIO) -> None:
    """DELETE all (S13): overwrite with an empty frame of the same
    schema (Iceberg: DELETE FROM)."""
    empty = spark.createDataFrame([], read_all(io).schema)
    if io.iceberg:
        io.overwrite_partitions(empty, EXTRACTED_TABLE, "part_id")
    else:
        # STATIC overwrite: dynamic mode replaces only the partitions
        # present in the frame — an empty frame would be a no-op
        (
            empty.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("part_id")
            .parquet(io._path(EXTRACTED_TABLE))  # noqa: SLF001
        )
