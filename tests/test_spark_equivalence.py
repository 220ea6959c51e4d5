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


def _extract_tasks_and_output(spark, monkeypatch, corpus_df, out_root, run_id):
    """Run the job; return the task count of its extract stage (the last
    stage of the data write's last job, under its own job group), the
    committed rows by url and the lineage ``n_docs`` by part."""
    from pdf_parser_spark.pipeline import (
        EXTRACTED_TABLE,
        LINEAGE_TABLE,
        run_extraction,
    )
    from pdf_parser_spark.sources import TableIO

    sc = spark.sparkContext
    write = TableIO.overwrite_partitions

    def grouped_write(self, *a, **k):
        sc.setJobGroup(run_id, "extract write")
        try:
            return write(self, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(TableIO, "overwrite_partitions", grouped_write)
    run_extraction(spark, corpus_df, out_root, run_id=run_id, n_parts=8)
    monkeypatch.undo()

    tracker = sc.statusTracker()
    job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(run_id)))
    tasks = tracker.getStageInfo(max(job.stageIds)).numTasks
    io = TableIO(spark, out_root)
    lineage = {r.part_id: r.n_docs for r in io.read(LINEAGE_TABLE).collect()}
    return tasks, _collect_by_url(io.read(EXTRACTED_TABLE)), lineage


def test_run_extraction_task_count_independence(
    spark, corpus_df, oracle_results, monkeypatch, tmp_path
):
    """The committed rows and lineage do not depend on how many tasks the
    extract stage runs: AQE-sized, one task per shuffle partition, and a
    single task."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    runs = {}
    for name, key, value in [
        ("aqe", None, None),
        ("uncoalesced", "spark.sql.adaptive.coalescePartitions.enabled", "false"),
        ("one", "spark.sql.shuffle.partitions", "1"),
    ]:
        old = spark.conf.get(key) if key else None
        try:
            if key:
                spark.conf.set(key, value)
            runs[name] = _extract_tasks_and_output(
                spark, monkeypatch, corpus_df, str(tmp_path / name), f"tc-{name}"
            )
        finally:
            if key:
                spark.conf.set(key, old)

    assert runs["aqe"][0] < n_shuffle
    assert runs["uncoalesced"][0] == n_shuffle
    assert runs["one"][0] == 1
    assert_identical(runs["aqe"][1], oracle_results)

    def fields(rows):
        return {
            u: (r.extracted_text, r.clauses_json, r.tables_json, r.error)
            for u, r in rows.items()
        }

    for name in ("uncoalesced", "one"):
        assert fields(runs[name][1]) == fields(runs["aqe"][1]), name
        assert runs[name][2] == runs["aqe"][2], name
    assert sum(runs["aqe"][2].values()) == len(oracle_results)
