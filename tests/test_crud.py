"""CRUD equivalents of the reference's REST endpoints (S10-S13)."""

import json

import pytest

from pdf_parser_spark.kernels.clauses import serialize_clauses
from pdf_parser_spark.pipeline import run_extraction
from pdf_parser_spark.sources import TableIO
from pdf_parser_spark.sources.crud import (
    lookup,
    lookup_clause,
    read_all,
    truncate,
    update_clause,
)


@pytest.fixture(scope="module")
def extracted_io(spark, corpus_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crud") / "out")
    run_extraction(spark, corpus_df, root, run_id="crud", n_parts=4)
    return TableIO(spark, root)


def _some_pdf_sha(io):
    row = (
        read_all(io)
        .filter("kind = 'pdf' AND error IS NULL AND size(clauses) > 0")
        .select("doc_sha", "clauses")
        .first()
    )
    return row.doc_sha, dict(row.clauses)


def test_read_all_and_lookup(spark, extracted_io, corpus_df):
    assert read_all(extracted_io).count() == corpus_df.count()
    sha, _ = _some_pdf_sha(extracted_io)
    hit = lookup(extracted_io, sha).collect()
    assert len(hit) == 1 and hit[0].doc_sha == sha


def test_lookup_clause_projection(extracted_io):
    sha, clauses = _some_pdf_sha(extracted_io)
    key = next(iter(clauses))
    row = lookup_clause(extracted_io, sha, key).first()
    assert row.clause_text == clauses[key]
    # missing key -> NULL, like the reference's undefined clause lookup
    row2 = lookup_clause(extracted_io, sha, "999.").first()
    assert row2.clause_text is None


def _rows(io):
    return {r.url: r.asDict() for r in read_all(io).collect()}


def test_update_clause(spark, extracted_io):
    sha, clauses = _some_pdf_sha(extracted_io)
    key = next(iter(clauses))
    before = _rows(extracted_io)
    n = update_clause(extracted_io, sha, key, "edited\ntext value")
    assert n == 1
    row = lookup_clause(extracted_io, sha, key).first()
    assert row.clause_text == "editedtext value"  # X9 newline strip
    after = _rows(extracted_io)
    assert after.keys() == before.keys()
    (url,) = [u for u, r in after.items() if r["doc_sha"] == sha]
    edited = after.pop(url)
    # the edited key keeps its place; the three encodings agree
    assert list(edited["clauses"]) == list(clauses)
    assert edited["clauses"] == {**clauses, key: "editedtext value"}
    assert edited["clauses_json"] == json.dumps(
        edited["clauses"], ensure_ascii=False
    )
    assert edited["extracted_text"] == serialize_clauses(edited["clauses"])
    # every other row is unchanged
    before.pop(url)
    assert after == before


def test_truncate(spark, corpus_df, tmp_path):
    root = str(tmp_path / "trunc")
    run_extraction(spark, corpus_df, root, run_id="t", n_parts=2)
    io = TableIO(spark, root)
    assert read_all(io).count() > 0
    truncate(spark, io)
    assert read_all(io).count() == 0
    # a truncated table reads as no rows, so truncating it again works
    truncate(spark, io)
    assert read_all(io).count() == 0
