"""Physical-plan shape guards (the ".explain and iterate" mandate):
structural properties that make the 100 TB plan right — column pruning
to the scan, broadcast for small dims, map-side partial aggregation,
no stray shuffles — pinned as substring assertions on the explain output."""

import pytest
from pyspark.sql import functions as F


import re


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def count_nodes(plan: str, name: str) -> int:
    """Count physical operator nodes in a formatted plan (the node-detail
    section repeats each name, so a raw substring count double-counts)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


@pytest.fixture(scope="module")
def corpus_path(spark, corpus_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "corpus")
    corpus_df.write.mode("overwrite").parquet(p)
    return p


def test_extract_scan_prunes_to_url_html(spark, corpus_path):
    from pdf_parser_spark.operators import extract_stage

    df = extract_stage(spark.read.parquet(corpus_path))
    plan = plan_of(df)
    # the parquet scan must read ONLY url + html (column pruning through
    # the mapInPandas projection); warc_ts/text/lang never leave the scan
    assert "ReadSchema" in plan
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema
    assert "lang" not in read_schema


def test_salted_repartition_single_exchange(spark, corpus_path):
    from pdf_parser_spark.pipeline import extract_wave, with_part_id

    base = with_part_id(spark.read.parquet(corpus_path), 16)
    plan = plan_of(extract_wave(base, list(range(16)), 16))
    # exactly one Exchange (the salted repartition) in the whole pipeline,
    # by column with no fixed count, so AQE sizes the extract tasks
    assert count_nodes(plan, "Exchange") == 1
    assert "REPARTITION_BY_COL" in plan


def test_lineage_rows_run_no_python(spark, corpus_df, tmp_path):
    """The lineage rows are a JVM plan over the committed ``extracted``
    parquet: no Python-list ``createDataFrame`` scan, no Python node."""
    from pdf_parser_spark import schemas
    from pdf_parser_spark.pipeline import (
        ERROR_CLASSES,
        EXTRACTED_TABLE,
        LINEAGE_TABLE,
        lineage_rows,
        run_extraction,
    )
    from pdf_parser_spark.sources import TableIO

    out_root = str(tmp_path / "out")
    run_extraction(spark, corpus_df, out_root, run_id="lin", n_parts=4)
    io = TableIO(spark, out_root)
    observed = {"obs_docs": 80.0, "obs_errs": 0.0, "obs_chars": 0.0}
    lineage = lineage_rows(io, [0, 1, 2, 3], "lin", 0.0, 1.0, observed)

    plan = plan_of(lineage)
    assert count_nodes(plan, "Scan parquet") == 1
    assert f"{out_root}/{EXTRACTED_TABLE}" in plan
    assert "Scan ExistingRDD" not in plan
    assert not re.search(r"\(\d+\) \w*(Python|Pandas|Arrow)", plan)

    def types(schema):
        return [(f.name, f.dataType) for f in schema]

    assert types(lineage.schema) == types(schemas.LINEAGE)
    assert types(io.read(LINEAGE_TABLE).schema) == types(schemas.LINEAGE)
    for r in io.read(LINEAGE_TABLE).collect():
        assert set(r.metrics) == {"wall_sec", "obs_docs", "obs_errs", "obs_chars"} | {
            f"err.{c}" for c in (*ERROR_CLASSES, "clause")}
    assert sum(r.n_docs for r in lineage.collect()) == corpus_df.count()


def test_q3_broadcasts_customer(spark):
    import __spark_entry__ as m

    plan = plan_of(m.q3_top_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    # the customer filter is pushed into the scan
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan or (
        "EqualTo(c_mktsegment,BUILDING)" in plan
    )


def test_q1_partial_aggregation(spark):
    import __spark_entry__ as m

    plan = plan_of(m.q1_pricing_summary(spark, "/root/testdata/sf0.001"))
    # map-side combine: HashAggregate appears before AND after the exchange
    assert count_nodes(plan, "HashAggregate") >= 2
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_dedup_exact_partial_agg(spark):
    from pdf_parser_spark.functions import exact_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(exact_dedup(d))
    assert count_nodes(plan, "HashAggregate") >= 2


def test_ann_broadcast_no_shuffle_of_corpus(spark):
    import __spark_entry__ as m

    plan = plan_of(m.q_ann_cosine_topk(spark, "/root/testdata/sf0.001"))
    # query side broadcast; corpus side streamed
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_whole_stage_codegen_on_relational_path(spark):
    import __spark_entry__ as m

    # codegen span markers ('*(n)') appear in simple mode only once AQE
    # has resolved the final plan -> execute first
    df = m.q1_pricing_summary(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = plan_of(df, "simple")
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_winnow_overlap_plan_has_df_cap_semijoin(spark):
    """The hot-fingerprint cap must survive optimization: the plan
    carries a LeftSemi join (fingerprints vs the df<=max_df relation)
    upstream of the pair self-join — without it one viral snippet is an
    m^2 hot key at corpus scale."""
    from pdf_parser_spark.functions import winnow_overlap_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(winnow_overlap_pairs(docs, hash_fn="md5"))
    assert "LeftSemi" in plan


def test_embedding_near_dup_single_embed_pass(spark):
    """The embed kernel and the SRP code kernel run ONCE, eagerly, before
    the self-join: both join sides read the one checkpointed code
    relation. Pin the shape: the returned plan neither re-reads the
    corpus nor re-runs a python stage, and its only aggregates are the
    final distinct's two."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pdf_parser_spark.functions import embedding_near_dup

    out = embedding_near_dup(docs, threshold=0.95, hash_fn="md5")
    plan = plan_of(out)
    assert count_nodes(plan, "HashAggregate") == 2  # only the final distinct
    assert "documents.parquet" not in plan  # corpus is NOT re-read
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_lsh_ivf_rerank_over_checkpointed_kernels(spark):
    """The ANN scale paths must NOT re-execute their python kernel
    stages inside the rerank plan: the SRP/IVF code kernels run once at
    build (eager localCheckpoint, batch-sized for slim rows), so the
    returned plan joins CHECKPOINTED relations — no MapInPandas, no
    per-row python — and broadcasts the small query side."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions import ivf_cosine_topk, lsh_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    for out in (
        lsh_cosine_topk(emb, q, k=3, dim=64),
        ivf_cosine_topk(emb, q, k=3, dim=64, max_train=256),
    ):
        plan = plan_of(out)
        assert "MapInPandas" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan


def test_curation_composed_plan_shape(spark):
    """The composed (lazy) curation plan: id-filtering stays semi/anti
    (no row duplication), and there is no per-row python anywhere —
    the whole composition is JVM expressions + the dedup internals'
    checkpointed relations."""
    from pdf_parser_spark.functions import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = curate(
        docs, rates={"en": 50, "fr": 25, "de": 10}, default_pct=5,
        hash_fn="md5",
    ).curated
    plan = plan_of(out)
    assert "LeftSemi" in plan   # quality keep-filter join
    assert "LeftAnti" in plan   # cluster-dupe drop
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_repetition_stats_partial_agg(spark):
    """Gram counting must combine map-side before its exchange (shuffle
    O(distinct grams), not O(tokens)); the final joins are on slim
    doc_id-keyed aggregates."""
    from pdf_parser_spark.functions import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(repetition_stats(docs))
    assert count_nodes(plan, "HashAggregate") >= 4  # partial+final pairs
    assert "partial_count" in plan or "partial" in plan.lower()


def test_unigram_logprob_preagg_before_join(spark):
    """The frequency join must consume (doc_id, w, k) pre-aggregated
    rows, never raw token occurrences: a stop-word join key then holds
    one row per containing document instead of one per occurrence. The
    (doc_id, w) partial-count aggregate is that pre-agg's signature —
    it exists ONLY as the join input."""
    from pdf_parser_spark.functions import unigram_logprob_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(unigram_logprob_score(docs))
    assert re.search(r"Keys \[2\]: \[doc_id#\d+L?, w#\d+\]", plan)
    assert "partial_count" in plan  # map-side combine before its exchange


def test_cut_passages_rebuilds_only_cut_slice(spark):
    """The expensive rebuild subtree (token explode -> window renumber ->
    collect_list reassembly) must be gated by a LeftSemi against the
    cut-doc ids — at corpus scale ~99% of documents are untouched and
    must exit via the pass-through projection (the Union branch with no
    Window/Generate), never through a full-corpus token shuffle."""
    from pdf_parser_spark.functions import cut_duplicate_passages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(cut_duplicate_passages(docs, min_len=8, hash_fn="md5"))
    assert "Union" in plan          # pass-through branch exists
    assert "LeftSemi" in plan       # rebuild branch gated on cut ids
    # exactly one Window (the rebuild renumber) and one Generate (the
    # rebuild posexplode): neither appears in the pass-through branch
    assert count_nodes(plan, "Window") == 1
    assert count_nodes(plan, "Generate") == 1


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark side (small by nature) must be broadcast: the
    corpus gram stream is map-side hash-joined, never shuffled on the
    gram key."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plan = plan_of(decontaminate(docs, bench, min_len=8))
    assert "BroadcastHashJoin" in plan
    # no shuffle keyed by the gram hash: the only Exchanges are the
    # doc_id/window and island-merge ones
    assert "hashpartitioning(h" not in plan
