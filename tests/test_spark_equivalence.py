"""Oracle-vs-Spark byte identity (SURVEY.md §5 layer 2 — the core gate):
for every corpus url, the distributed pipeline's extracted_text /
clauses_json / tables_json must equal the single-process oracle's output
byte-for-byte, under different partitionings and Arrow batch sizes
(rebatch/shuffle invariance, SURVEY.md §7.4.1)."""

import pytest

from pdf_parser_spark.operators import extract_stage
from pdf_parser_spark.oracle import extract_document


@pytest.fixture(scope="module")
def oracle_results(corpus_rows):
    return {
        r["url"]: extract_document(r["url"], bytes(r["html"]))
        for r in corpus_rows
    }


def _collect_by_url(df):
    return {r.url: r for r in df.collect()}


def assert_identical(spark_rows, oracle_results):
    assert set(spark_rows) == set(oracle_results)
    for url, o in oracle_results.items():
        s = spark_rows[url]
        assert s.extracted_text == o.extracted_text, url
        assert s.clauses_json == o.clauses_json, url
        assert s.tables_json == o.tables_json, url
        assert s.error == o.error, url
        assert s.doc_sha == o.doc_sha, url
        assert s.kind == o.kind, url
        assert s.n_pages == o.n_pages, url
        assert s.table_pages == o.table_pages or (
            s.table_pages is None and o.table_pages is None
        ), url


def test_fused_stage_matches_oracle(corpus_df, oracle_results):
    out = extract_stage(corpus_df)
    assert_identical(_collect_by_url(out), oracle_results)


def test_partitioning_invariance(corpus_df, oracle_results):
    out1 = extract_stage(corpus_df.repartition(1))
    out7 = extract_stage(corpus_df.repartition(7, "url"))
    assert_identical(_collect_by_url(out1), oracle_results)
    assert_identical(_collect_by_url(out7), oracle_results)


def test_rebatch_invariance(spark, corpus_df, oracle_results):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        out = extract_stage(corpus_df)
        assert_identical(_collect_by_url(out), oracle_results)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_error_channel_rows(corpus_df, oracle_results):
    out = _collect_by_url(extract_stage(corpus_df))
    errs = {u: r for u, r in out.items() if r.error is not None}
    # adversarial rows must land in the error channel, job never fails
    assert any(r.error == "empty" for r in errs.values())
    assert any(r.error.startswith("bad_container") for r in errs.values())
    kinds = {r.error.split(":")[0] for r in errs.values()}
    assert "bad_encoding" in kinds or "unknown_kind" in kinds


def test_clauses_map_column(corpus_df, oracle_results):
    import json

    rows = _collect_by_url(extract_stage(corpus_df))
    for u, o in oracle_results.items():
        if o.kind == "pdf" and not o.error and o.clauses:
            got = rows[u].clauses
            assert dict(got) == o.clauses, u
            # insertion order is preserved via clauses_json
            assert list(json.loads(rows[u].clauses_json)) == list(o.clauses)
