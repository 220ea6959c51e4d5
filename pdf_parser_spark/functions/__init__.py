"""Training-data pipeline operators over document/embedding tables:
deduplication (exact; n-gram Jaccard, MinHash+LSH and incremental
near-dup, which share one exact-Jaccard verify; SimHash; verbatim spans,
which share one token stream), similarity search (cosine top-k: brute
force, SRP-LSH, IVF, int8, product quantization, and persisted LSH/PQ
indexes), and text analysis (token stats, quality scoring, language id,
fingerprinting).

Everything here is built from JVM-side pyspark.sql.functions expressions
(plus Arrow-batched numpy kernels where megabyte expression plans would
choke codegen — see similarity's SRP code kernel) — no per-row Python UDFs
anywhere — so the plans stay inside whole-stage codegen and scale with
the cluster.
"""

from .dedup import (  # noqa: F401
    cut_duplicate_passages,
    decontaminate,
    bloom_new_docs,
    dedup_clusters,
    dup_coverage,
    global_dup_spans,
    keep_best_per_cluster,
    duplicate_passages,
    embedding_near_dup,
    exact_dedup,
    hashed_bow_embedding,
    incremental_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingle,
    simhash64,
    simhash_near_dup,
)
from .similarity import (  # noqa: F401
    brute_force_cosine_topk,
    build_lsh_index,
    build_pq_index,
    ivf_cosine_topk,
    lsh_cosine_topk,
    pq_cosine_topk,
    q8_cosine_topk,
    query_lsh_index,
    query_pq_index,
)
from .quality import (  # noqa: F401
    bpe_token_stats,
    compression_ratio,
    gopher_quality_filter,
    language_id,
    percentile_filter,
    quality_metrics,
    redact_pii,
    repetition_stats,
    unigram_logprob_score,
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from .curation import (  # noqa: F401
    CurationResult,
    curate,
    filter_funnel,
)
from .tokenize import (  # noqa: F401
    bpe_apply,
    bpe_fit,
    chunk_documents,
)
from .textnorm import (  # noqa: F401
    normalize_text,
)
from .search import (  # noqa: F401
    bm25_search,
    tfidf_keywords,
)
from .asof import (  # noqa: F401
    asof_join,
)
from .sampling import (  # noqa: F401
    dedup_aware_split,
    deterministic_sample,
    pack_shards,
    stratified_sample,
)
from .urlops import (  # noqa: F401
    canonical_url,
    filter_blocked_hosts,
    url_dedup,
)
