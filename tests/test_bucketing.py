"""Bucketed co-location (sources/io.write_bucketed): joins and
aggregations on the bucket key must run WITHOUT an Exchange — the
shuffle was paid once at write time. This is the plan-shape contract a
100 TB deployment relies on for its hot join keys."""

import os
import re

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def count_exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    from pdf_parser_spark.functions import quality_metrics
    from pdf_parser_spark.sources.io import write_bucketed

    wh = str(tmp_path_factory.mktemp("bucketwh"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{wh}'")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    write_bucketed(docs, "bkt.docs", "doc_id", n_buckets=8,
                   sorted_by="doc_id")
    write_bucketed(quality_metrics(docs), "bkt.quality", "doc_id",
                   n_buckets=8, sorted_by="doc_id")
    yield "bkt.docs", "bkt.quality"
    spark.sql("DROP DATABASE bkt CASCADE")


def test_bucketed_join_no_exchange(spark, bucketed_tables):
    docs_t, quality_t = bucketed_tables
    a = spark.table(docs_t)
    b = spark.table(quality_t)
    joined = a.hint("merge").join(b, "doc_id")
    plan = plan_of(joined)
    assert count_exchanges(plan) == 0, plan[:2000]
    assert joined.count() == a.count()

    # control: the SAME join from plain (non-bucketed) parquet shuffles
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pdf_parser_spark.functions import quality_metrics

    control = raw.hint("merge").join(quality_metrics(raw), "doc_id")
    assert count_exchanges(plan_of(control)) >= 2


def test_bucketed_groupby_no_exchange(spark, bucketed_tables):
    docs_t, _ = bucketed_tables
    agg = spark.table(docs_t).groupBy("doc_id").agg(
        F.sum("n_chars").alias("c")
    )
    assert count_exchanges(plan_of(agg)) == 0


def test_persisted_lsh_index_query_zero_exchange(spark, tmp_path_factory):
    """build_lsh_index writes the SRP code table ONCE (bucketed); the
    query path must then be shuffle-free — broadcast probe join +
    codegen cosine + partition-local Arrow top-k + coalesce(1) + the
    shared _rank, with ZERO Exchange nodes — and must reproduce
    lsh_cosine_topk row- and bit-identically (same planes, same
    candidates, same codegen cosine, same tie order)."""
    from pdf_parser_spark.functions import (
        build_lsh_index,
        lsh_cosine_topk,
        query_lsh_index,
    )

    wh = str(tmp_path_factory.mktemp("annwh"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS annidx LOCATION '{wh}'")
    try:
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        q = emb.filter(F.col("vec_id") < 10)
        # a prior session's directory at the managed location of this
        # custom-LOCATION database: the build must clear it, not fail
        # with LOCATION_ALREADY_EXISTS
        os.makedirs(os.path.join(wh, "lsh", "stale"))
        build_lsh_index(emb, "annidx.lsh", n_planes=8, dim=64,
                        n_tables=4, n_buckets=8)

        out = query_lsh_index(spark, "annidx.lsh", q, k=5, n_planes=8,
                              dim=64, n_tables=4, hamming=1)
        plan = plan_of(out)
        # zero shuffle: _rank's dropDuplicates + window rank run over
        # coalesce(1)'s single partition, which needs no exchange (the
        # final plan reads the CHECKPOINTED partial top-k, so the heavy
        # scan->join->score pipeline ran at full width, never squeezed
        # into coalesce(1)'s single task)
        assert count_exchanges(plan) == 0, plan[:3000]
        # no SRP kernel re-run: embeddings.parquet is never rescanned
        # by the query path
        assert plan.count("embeddings.parquet") <= 1, plan[:3000]
        # and the index build itself read the corpus, not the query path
        idx_plan = plan_of(spark.table("annidx.lsh"))
        assert "Scan parquet" in idx_plan or "FileScan" in idx_plan

        got = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in out.collect()
        )
        want = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in lsh_cosine_topk(
                emb, q, k=5, n_planes=8, dim=64, n_tables=4, hamming=1
            ).collect()
        )
        assert got == want  # pairs, ranks AND bit-identical cosines
    finally:
        spark.sql("DROP DATABASE IF EXISTS annidx CASCADE")


def test_persisted_pq_index_matches_ad_hoc(spark, tmp_path):
    """build_pq_index persists codes + codebooks; query_pq_index must
    reproduce pq_cosine_topk row- and bit-identically (same shared
    _pq_query_tail, codebooks float64 parquet round-trip is exact) —
    across a simulated fresh-catalog rebuild too."""
    from pdf_parser_spark.functions import (
        build_pq_index,
        pq_cosine_topk,
        query_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)

    want = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in pq_cosine_topk(
            emb, q, k=5, m=8, ksub=16, rerank=32, dim=64, max_train=512
        ).collect()
    )
    idx_dir = str(tmp_path / "pqidx")
    build_pq_index(emb, "pq_t1", m=8, ksub=16, max_train=512,
                   n_buckets=4, path=idx_dir)
    try:
        got = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in query_pq_index(
                spark, "pq_t1", q, k=5, rerank=32, m=8, dim=64
            ).collect()
        )
        assert got == want  # pairs, ranks AND bit-identical cosines

        # stale-dir rebuild: drop the catalog entries (simulating a new
        # session's empty in-memory catalog) but leave the directories;
        # a rebuild must recover, not LOCATION_ALREADY_EXISTS
        spark.sql("DROP TABLE pq_t1")
        spark.sql("DROP TABLE pq_t1_codebooks")
        build_pq_index(emb, "pq_t1", m=8, ksub=16, max_train=512,
                       n_buckets=4, path=idx_dir)
        again = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in query_pq_index(
                spark, "pq_t1", q, k=5, rerank=32, m=8, dim=64
            ).collect()
        )
        assert again == want

        # managed (path=None) rebuild into a custom-LOCATION database
        # over orphaned directories of both tables
        wh = str(tmp_path / "pqwh")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS pqidx LOCATION '{wh}'")
        for t in ("pq_t1", "pq_t1_codebooks"):
            os.makedirs(os.path.join(wh, t, "stale"))
        build_pq_index(emb, "pqidx.pq_t1", m=8, ksub=16, max_train=512,
                       n_buckets=4)
        managed = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in query_pq_index(
                spark, "pqidx.pq_t1", q, k=5, rerank=32, m=8, dim=64
            ).collect()
        )
        assert managed == want
    finally:
        spark.sql("DROP TABLE IF EXISTS pq_t1")
        spark.sql("DROP TABLE IF EXISTS pq_t1_codebooks")
        spark.sql("DROP DATABASE IF EXISTS pqidx CASCADE")
