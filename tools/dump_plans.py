"""Write PLANS.md: the physical plans of the flagship pipeline and the
headline operators, annotated — the ".explain and iterate" evidence.

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def main() -> None:
    import __spark_entry__ as m
    from pdf_parser_spark.pipeline import extract_wave, with_part_id
    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.synth import gen_rows
    from pdf_parser_spark import schemas
    from pdf_parser_spark.functions import exact_dedup

    sf = "/root/testdata/sf0.001"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="dump-plans")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    corpus = spark.createDataFrame(list(gen_rows(20)), schemas.INPUT)
    sections.append((
        "Fused extraction pipeline (salted repartition -> extract stage)",
        "One Exchange total (the salted repartition, by column: AQE sizes "
        "the extract tasks by bytes); the multi-MB html bytes cross it once, "
        "pruned to (url, html, part_id); everything after MapInPandas is "
        "result-sized.",
        plan_of(extract_wave(with_part_id(corpus, 16), list(range(16)), 16)),
    ))

    q3 = m.q3_top_revenue(spark, sf)
    q3.collect()
    sections.append((
        "q3_top_revenue (3-way join, AQE-final plan)",
        "customer is broadcast (small dim); lineitem<->orders sort-merge "
        "or shuffled-hash per AQE; filters pushed to parquet scans.",
        plan_of(q3, "simple"),
    ))

    d = spark.read.parquet(f"{sf}/documents.parquet")
    sections.append((
        "exact_dedup (hash groupBy)",
        "Partial HashAggregate before the exchange: shuffle volume is "
        "O(distinct digests), not O(rows).",
        plan_of(exact_dedup(d)),
    ))

    flag = m.q_flagship_extract(spark, sf)
    sections.append((
        "flagship_html_extract (synthesize -> extract -> join -> rollup)",
        "Both mapInPandas stages pipeline inside one task chain; the join "
        "with the slim url/lang side is broadcast-eligible.",
        plan_of(flag),
    ))

    from pdf_parser_spark.functions import embedding_near_dup

    emb = embedding_near_dup(d, threshold=0.95, hash_fn="md5")
    sections.append((
        "embedding_near_dup (self-join over the checkpointed SRP codes)",
        "The embed kernel and the shared SRP code kernel run ONCE, before "
        "this plan (eager checkpoint); both join sides scan that one "
        "(id, vec, nrm, code) relation. Multi-probe explode on the left, "
        "shuffled-hash join on (table, bucket), one compiled 64-term dot "
        "per candidate pair (_score).",
        plan_of(emb),
    ))

    from pdf_parser_spark.functions import lsh_cosine_topk, repetition_stats
    from pyspark.sql import functions as F

    embt = spark.read.parquet(f"{sf}/embeddings.parquet")
    lsh = lsh_cosine_topk(embt, embt.filter(F.col("vec_id") < 5), k=3, dim=64)
    sections.append((
        "lsh_cosine_topk (rerank over eagerly-materialized SRP codes)",
        "Both kernel passes (corpus codes, query codes) are CHECKPOINTED "
        "scans here — the numpy bucket math ran once, batch-sized for slim "
        "rows; the remaining plan is a broadcast equi-join on (table, "
        "bucket), one compiled 64-term dot per colliding pair, dedup of "
        "the slim (query, neighbor, cosine) rows, and a per-query top-k "
        "window. No python stage re-executes.",
        plan_of(lsh),
    ))

    sections.append((
        "repetition_stats (explode -> window lead -> two partial aggs)",
        "Token rows shuffle once on doc_id for the lead() window; the "
        "gram counts use partial HashAggregate before their exchange, so "
        "shuffle volume is O(distinct grams per doc), and the three "
        "aggregates join back on the slim doc_id-keyed results.",
        plan_of(repetition_stats(d)),
    ))

    from pdf_parser_spark.functions import duplicate_passages

    sections.append((
        "duplicate_passages (df-capped gram join + islands merge)",
        "Gram hashing is one window pass over checkpointed tokens; the "
        "viral-gram cap lands as a join against the df<=cap aggregate "
        "BEFORE the quadratic self-join key; island merging is a window "
        "+ partial-agg groupBy over seed-sized rows only.",
        plan_of(duplicate_passages(d, hash_fn="md5")),
    ))

    from pdf_parser_spark.functions import curate

    cur = curate(
        d, rates={"en": 50, "fr": 25, "de": 10}, default_pct=5,
        hash_fn="md5",
    ).curated
    sections.append((
        "curation_pipeline (composed: gopher -> pii -> lsh dedup -> cc -> sample)",
        "One composed plan: the quality/PII stages are shuffle-free "
        "codegen projections; id-filtering is left_semi/left_anti on slim "
        "id relations (broadcast under AQE); the minhash band join and "
        "the cluster labels are the only O(data) exchanges.",
        plan_of(cur, "simple"),
    ))

    from pdf_parser_spark.functions import bpe_apply, bpe_fit

    merges = bpe_fit(d, n_merges=50, top_words=512)
    sections.append((
        "bpe_apply (learned-BPE tokenize, shuffle-free)",
        "The merge table is learned driver-side from a bounded top-words "
        "collect (its own one-pass job with per-batch pre-agg); the "
        "corpus-wide APPLY is a single MapInPandas over the scan — zero "
        "Exchanges, embarrassingly parallel at any cluster width.",
        plan_of(bpe_apply(d, merges)),
    ))

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    from pdf_parser_spark.functions import pq_cosine_topk

    pq = pq_cosine_topk(
        emb, emb.filter("vec_id < 10"), k=5, m=8, ksub=16, rerank=32,
        dim=64, max_train=512,
    )
    sections.append((
        "pq_cosine_topk (product-quantization ANN, candidate cut + rerank)",
        "The corpus is scanned once into 8-byte codes (eager kernel); "
        "LUT scoring streams codes and emits only per-batch top-r rows "
        "per query; the rerank joins the top-32 candidate ids back to "
        "the checkpointed code table and BROADCASTS the query vectors — "
        "no all-pairs relation anywhere.",
        plan_of(pq, "simple"),
    ))

    sections.append((
        "asof_orders (point-in-time join, union-window formulation)",
        "No join node at all: both inputs are tagged and unioned, ONE "
        "exchange on the key, and a running last(ignorenulls) carries "
        "the latest right payload to each left row — a hot key streams "
        "through the window with O(1) state instead of exploding a "
        "range join.",
        plan_of(m.queries()["asof_orders"](spark, sf), "simple"),
    ))

    from pdf_parser_spark.functions import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(0, 0), (1, 0)], "doc_id long, cluster_id long"
    )
    sections.append((
        "keep_best_per_cluster (cluster-representative selection)",
        "Singleton pass-through: the corpus meets the edge-sized cluster "
        "relation in two BROADCAST joins (rank branch + anti branch); "
        "only the clustered slice — bounded by the cluster relation, "
        "not the corpus — pays the rank window's exchange.",
        plan_of(
            keep_best_per_cluster(
                d.select("doc_id", "n_chars"), clusters, "n_chars"
            ),
            "simple",
        ),
    ))

    from pdf_parser_spark.functions import global_dup_spans

    sections.append((
        "global_dup_spans (corpus-level ExactSubstr coverage)",
        "Boilerplate-safe by construction: occurrences are COUNTED "
        "(map-side-combining groupBy, one row per distinct gram however "
        "popular), never self-joined; the covered intervals then merge "
        "per doc under the same doc_id partitioning the gram windows "
        "already established.",
        plan_of(global_dup_spans(d, min_len=8), "simple"),
    ))

    from pdf_parser_spark.functions import filter_funnel

    sections.append((
        "filter_funnel (attrition report, one pass)",
        "The whole funnel is ONE map-side-combining aggregate over one "
        "scan — each stage's survivor count is a conditional sum of the "
        "cumulative predicate — and the per-stage rows unpivot from the "
        "single result row with stack. No per-stage scans, no driver "
        "loop over data.",
        plan_of(
            filter_funnel(
                d,
                [
                    ("min_len", F.col("n_chars") >= 200),
                    ("lang_known", F.col("lang") != "und"),
                ],
            ),
            "simple",
        ),
    ))

    from pdf_parser_spark.functions import dedup_aware_split

    clusters2 = spark.createDataFrame(
        [(0, 0), (1, 0)], "doc_id long, cluster_id long"
    )
    sections.append((
        "dedup_aware_split (leak-free train/val/test)",
        "Split keyed on the near-dup cluster: one BROADCAST join of the "
        "edge-sized cluster relation + a pure md5-lottery projection — "
        "zero shuffles, and near-duplicates can never straddle a "
        "train/test boundary.",
        plan_of(dedup_aware_split(d, clusters2), "simple"),
    ))

    from pdf_parser_spark.functions import bloom_new_docs

    ref = d.select(F.sha2("text", 256).alias("doc_sha"))
    newd = d.select("doc_id", F.sha2("text", 256).alias("doc_sha"))
    sections.append((
        "bloom_new_docs (broadcast-bloom exact increment)",
        "Definite-new rows exit through a pure FILTER on the probed "
        "column (no join at all); only the FP-sized possible-positives "
        "reach the verify anti-join, whose ref side reads the ONE "
        "checkpointed distinct-key table the bloom build also consumed.",
        plan_of(bloom_new_docs(newd, ref), "simple"),
    ))

    from pdf_parser_spark.functions import build_lsh_index, query_lsh_index

    spark.sql("CREATE DATABASE IF NOT EXISTS plansidx")
    build_lsh_index(emb, "plansidx.lsh", n_planes=8, dim=64, n_tables=4,
                    n_buckets=8)
    qidx = query_lsh_index(
        spark, "plansidx.lsh", emb.filter("vec_id < 5"), k=3, n_planes=8,
        dim=64, n_tables=4,
    )
    sections.append((
        "query_lsh_index (persisted ANN index, zero-shuffle query)",
        "The SRP code table was materialized ONCE (build_lsh_index, "
        "bucketed write); the query plan is scan -> broadcast probe "
        "join -> compiled 64-term dot -> partition-local Arrow top-k "
        "(CHECKPOINTED at full width — coalesce(1) without a boundary "
        "would squeeze the whole pipeline into one task) -> coalesce(1) "
        "-> the shared _rank (dedup + row_number window) over the slim "
        "checkpointed rows; one partition satisfies their clustering, so "
        "neither adds a shuffle. NO Exchange node, no "
        "SRP kernel re-run — the build-once/query-many shape of a "
        "similarity service; bit-identical to lsh_cosine_topk "
        "(test_bucketing).",
        plan_of(qidx, "simple"),
    ))
    from pdf_parser_spark.functions import build_pq_index, query_pq_index

    build_pq_index(emb, "plansidx.pq", m=8, ksub=16, max_train=512,
                   n_buckets=4)
    pqi = query_pq_index(
        spark, "plansidx.pq", emb.filter("vec_id < 5"), k=3, rerank=16,
        m=8, dim=64,
    )
    sections.append((
        "query_pq_index (persisted PQ index: codes + codebooks read back)",
        "The 8-byte code table and the driver-fit codebooks were "
        "persisted ONCE (build_pq_index); the query path re-reads both "
        "— no code kernel, no codebook re-fit — and runs the same LUT "
        "scan + candidate-cut + exact-rerank tail as the ad-hoc "
        "operator (bit-identical output, shared _pq_query_tail). This "
        "is the MEMORY-bound build-once shape: at 10^9 vectors the "
        "resident index is the 8 B/row code scan; the float vectors "
        "page in only for the rerank join.",
        plan_of(pqi, "simple"),
    ))
    spark.sql("DROP DATABASE plansidx CASCADE")

    spark.stop()

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical plans of the headline operators\n\n"
            "Generated by `python tools/dump_plans.py` (sf0.001 inputs; "
            "plan SHAPE is scale-invariant, AQE adapts sizes at runtime). "
            "Structural properties are pinned by tests/test_plans.py.\n"
        )
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
