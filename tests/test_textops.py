"""Training-data operators: dedup / similarity / quality invariants
(hash-based ops have no SQL oracle, so properties are pinned here)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " today"),  # near dup of 0
        (3, "completely different content about spark shuffles and joins"),
        (4, "completely different content about spark shuffles and joins"),
        (5, "unrelated short text"),
        (6, "another standalone document mentioning embeddings and vectors"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    from pdf_parser_spark.functions import exact_dedup

    out = {r.keeper_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0,1
    assert out[3] == 2  # docs 3,4
    assert out[2] == 1 and out[5] == 1 and out[6] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    from pdf_parser_spark.functions import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (3, 4) in pairs and pairs[(3, 4)] == 1.0
    assert not any({a, b} & {5, 6} for a, b in pairs)


def test_minhash_lsh_superset_of_high_jaccard(docs):
    from pdf_parser_spark.functions import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_candidates(
            docs, num_perm=16, bands=4, threshold=0.8
        ).collect()
    }
    # identical docs share all minhashes -> always candidates; verify step
    # guarantees no false positives above threshold
    assert exact.keys() <= lsh.keys() or lsh.keys() <= exact.keys()
    assert (0, 1) in lsh and (3, 4) in lsh
    # one verify: every candidate's Jaccard is the exact n-gram value
    assert (0, 2) in lsh
    assert all(j == exact[p] for p, j in lsh.items())


def test_simhash_locality(docs):
    from pdf_parser_spark.functions import simhash64

    h = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert h[0] == h[1]  # identical docs -> identical simhash
    assert h[3] == h[4]

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(h[0], h[2]) < ham(h[0], h[3])  # near dup closer than unrelated


def test_winnow_fingerprint_containment(docs):
    from pdf_parser_spark.functions import winnow_fingerprints

    fp = winnow_fingerprints(docs, k=4, window=3)
    sets = {}
    for r in fp.collect():
        sets.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert sets[0] == sets[1]
    inter02 = len(sets[0] & sets[2]) / len(sets[0] | sets[2])
    inter03 = len(sets[0] & sets[3]) / len(sets[0] | sets[3])
    assert inter02 > inter03


def test_quality_metrics_values(spark):
    from pdf_parser_spark.functions import quality_metrics

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "aa1 bb2")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in quality_metrics(df).collect()}
    assert rows[1].n_tokens == 3
    assert rows[1].n_chars == 11
    assert rows[1].distinct_token_ratio == 1.0
    assert abs(rows[2].alpha_ratio - 4 / 7) < 1e-9
    assert abs(rows[2].digit_ratio - 2 / 7) < 1e-9


def test_language_id(spark):
    from pdf_parser_spark.functions import language_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "le chat et la maison est un que"),
            (3, "der hund und die katze ist ein"),
            (4, "这是 一个 中文 文档"),
            (5, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "de"
    assert out[4] == "zh" and out[5] == "und"


def test_language_id_confusion(spark):
    """Diagonal confusion across all 21 supported languages (12 Latin
    stopword inventories + 9 script-dominant) plus the und fallback —
    one natural-ish snippet per language, every prediction must land on
    its own language (zero off-diagonal mass on this probe set)."""
    from pdf_parser_spark.functions import language_id

    snippets = {
        "de": "der hund ist nicht mit der katze im haus und das ist gut",
        "en": "the cat was on the mat and it is his for the day",
        "es": "los perros y las casas son para su familia en el pueblo",
        "fr": "le chat est dans la maison avec les enfants pour la nuit",
        "id": "saya akan pergi ke pasar dengan dia untuk membeli ini",
        "it": "il cane non sono per la casa ma come più del resto",
        "nl": "ik ben niet met de fiets naar het huis op voor vandaag",
        "pl": "nie wiem czy to jest już po co ale się stało",
        "pt": "o cão não está em casa com os amigos do bairro mais",
        "ro": "și nu este din mai pentru ca să fie pe masă cu noi",
        "sv": "det är inte för att han var med om den resan och",
        "tr": "bu bir şey değil ama çok daha iyi ile için ben geldim",
        "ko": "안녕하세요 오늘 날씨가 정말 좋네요",
        "ja": "これは日本語のテキストです",
        "zh": "这是一个中文文档的例子",
        "ru": "это русский текст для проверки",
        "el": "αυτό είναι ελληνικό κείμενο",
        "he": "זהו טקסט בעברית לבדיקה",
        "ar": "هذا نص باللغة العربية",
        "hi": "यह हिंदी में एक पाठ है",
        "th": "นี่คือข้อความภาษาไทย",
        "und": "xyzzy plugh qwfp zxcv",
    }
    langs = sorted(snippets)
    df = spark.createDataFrame(
        [(i, snippets[lang]) for i, lang in enumerate(langs)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    confusion = {lang: out[i] for i, lang in enumerate(langs)}
    wrong = {k: v for k, v in confusion.items() if k != v}
    assert not wrong, f"off-diagonal predictions: {wrong}"


def test_cosine_topk_exact_vs_lsh(spark):
    import numpy as np

    from pdf_parser_spark.functions import (
        brute_force_cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.Generator(np.random.PCG64(3))
    base = rng.standard_normal((8, 16))
    rows = []
    for i in range(8):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append((100 + i, [float(x) for x in base[i] + 0.01 * rng.standard_normal(16)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 8)

    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_cosine_topk(emb, q, k=1).collect()
    }
    # nearest neighbor of each base vector is its perturbed twin
    for i in range(8):
        assert exact[(i, 1)] == 100 + i

    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in lsh_cosine_topk(emb, q, k=1, n_planes=4, dim=16).collect()
    }
    # the twin lands in the same SRP bucket with overwhelming probability;
    # require it for at least 6 of 8 queries (deterministic seed)
    hits = sum(1 for i in range(8) if approx.get((i, 1)) == 100 + i)
    assert hits >= 6


def test_duplicate_passages(spark):
    """Seeds on one diagonal merge into ONE maximal span with exact
    coordinates; disjoint shared runs yield separate spans; a gram
    shared by more docs than max_gram_df is dropped entirely."""
    from pdf_parser_spark.functions import duplicate_passages

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (1, "x1 x2 " + shared + " y1 y2 y3"),
        (2, "z1 " + shared + " z2 z3 z4 z5"),
        (3, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"),
    ]
    out = duplicate_passages(
        spark.createDataFrame(rows, "doc_id long, text string"),
        min_len=4,
    ).collect()
    assert len(out) == 1
    s = out[0]
    # doc1 tokens: x1 x2 alpha(2)..zeta(7); doc2: z1 alpha(1)..zeta(6)
    assert (s.id_a, s.id_b, s.a_start, s.b_start, s.length) == (1, 2, 2, 1, 6)

    # df cap: the same 4-gram in 3 docs with max_gram_df=2 -> no pairs
    rows3 = [(i, f"lead{i} " + shared) for i in (1, 2, 3)]
    capped = duplicate_passages(
        spark.createDataFrame(rows3, "doc_id long, text string"),
        min_len=6, max_gram_df=2,
    ).collect()
    assert capped == []
    uncapped = duplicate_passages(
        spark.createDataFrame(rows3, "doc_id long, text string"),
        min_len=6, max_gram_df=3,
    ).collect()
    assert {(r.id_a, r.id_b) for r in uncapped} == {(1, 2), (1, 3), (2, 3)}
    assert all(r.length == 6 for r in uncapped)


def test_unigram_logprob_score(spark):
    """Docs made of corpus-common tokens score higher (less negative)
    than rare-token docs; mean_token_df is the exact integer mean."""
    from pdf_parser_spark.functions import unigram_logprob_score

    rows = [
        (1, "the the the cat"),     # 'the' appears 4x corpus-wide
        (2, "zyx qwv"),             # singletons
    ]
    out = {
        r.doc_id: r
        for r in unigram_logprob_score(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # corpus: the x4 (3 here + 1 below? no other docs) -> the=3, cat=1,
    # zyx=1, qwv=1; total=6
    assert out[1].n_tok == 4
    assert abs(out[1].mean_token_df - (3 + 3 + 3 + 1) / 4) < 1e-12
    assert out[2].mean_token_df == 1.0
    assert out[1].avg_logprob > out[2].avg_logprob
    import math

    assert abs(
        out[2].avg_logprob - round(math.log(1 / 6), 4)
    ) < 1e-9


def test_decontaminate(spark):
    """A doc containing an eval string verbatim is flagged with exact
    span coordinates; clean docs are not; a partial (< min_len) overlap
    does not flag."""
    from pdf_parser_spark.functions import decontaminate

    eval_str = "q1 q2 q3 q4 q5 q6"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, "a b " + eval_str + " c d"),          # contains verbatim
            (2, "clean doc with none of the eval tokens at all"),
            (3, "x q1 q2 q3 y z w v"),                # only 3 shared toks
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, eval_str)], "bench_id long, text string"
    )
    hits = decontaminate(docs, bench, min_len=6).collect()
    assert len(hits) == 1
    h = hits[0]
    assert (h.doc_id, h.bench_id, h.doc_start, h.bench_start, h.length) \
        == (1, 100, 2, 0, 6)


def test_domain_quota_sample(spark):
    """Quota is enforced per host, the winners are the md5-lottery
    minimizers (deterministic across engines/partitionings/re-runs),
    and under-quota hosts pass through whole."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions.hashing import hash64
    from pdf_parser_spark.functions.urlops import domain_quota_sample

    rows = [
        (i, f"https://{'big' if i < 20 else 'small'}.example/p/{i}")
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_quota_sample(df, quota=5).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, set()).add(r.doc_id)
    assert len(by_host["big.example"]) == 5
    assert by_host["small.example"] == set(range(20, 25))  # under quota

    # winners are exactly the 5 smallest lottery values among ids 0..19
    lot = {
        r.doc_id: r.l
        for r in df.filter("doc_id < 20").select(
            "doc_id",
            hash64(
                F.concat(F.lit("s0:"), F.col("doc_id").cast("string")),
                "md5",
            ).alias("l"),
        ).collect()
    }
    expect = set(sorted(lot, key=lambda d: (lot[d], d))[:5])
    assert by_host["big.example"] == expect

    # partitioning-invariant
    out2 = {
        r.doc_id
        for r in domain_quota_sample(df.repartition(13), quota=5).collect()
    }
    assert out2 == {r.doc_id for r in out}


def test_domain_quota_two_phase_hot_host(spark):
    """Hot-host mitigation: with one host owning 50% of the corpus, the
    phase-1 per-partition cap must bound that host's rows entering the
    final per-host window at quota * n_input_partitions — and the
    two-phase output must equal the one-phase golden exactly (the
    lottery order is total, so phase 1 never drops a global winner)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions.hashing import hash64
    from pdf_parser_spark.functions.urlops import (
        _per_partition_host_cap,
        domain_quota_sample,
        url_host,
    )

    n, quota = 2000, 5
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0, F.lit("https://big.example/p")
        )
        .otherwise(
            F.concat(
                F.lit("https://h"),
                (F.col("id") % 50).cast("string"),
                F.lit(".example/p"),
            )
        )
        .alias("url"),
    ).repartition(8)

    pre = base.withColumn("host", url_host(F.col("url"))).withColumn(
        "lottery",
        hash64(
            F.concat(F.lit("s0:"), F.col("doc_id").cast("string")), "md5"
        ),
    )
    capped = _per_partition_host_cap(pre, quota=quota, id_col="doc_id")
    nparts = pre.rdd.getNumPartitions()
    hot_in = capped.filter(F.col("host") == "big.example").count()
    assert hot_in <= quota * nparts          # phase-2 input bounded
    assert hot_in < n // 2                   # actually mitigated

    # identical output to the one-phase golden (python replica)
    rows = pre.select("doc_id", "host", "lottery").collect()
    per_host: dict = {}
    for r in rows:
        per_host.setdefault(r.host, []).append((r.lottery, r.doc_id))
    golden = {
        d
        for hs in per_host.values()
        for _, d in sorted(hs)[:quota]
    }
    got = {r.doc_id for r in domain_quota_sample(base, quota=quota).collect()}
    assert got == golden


def test_cut_duplicate_passages(spark):
    """The higher-id doc loses the shared span; the min-id doc keeps
    its copy verbatim; untouched docs round-trip byte-identically; a
    fully-contained doc drops out (degenerates to document dedup)."""
    from pdf_parser_spark.functions import cut_duplicate_passages

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, "x1 x2 " + shared + " y1 y2"),
        (2, "z1 " + shared + " z2"),
        (3, "solo words only here nothing shared at all"),
        (4, shared),  # wholly contained in doc 1's span -> fully cut
    ]
    out = {
        r.doc_id: r
        for r in cut_duplicate_passages(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_len=4,
        ).collect()
    }
    assert out[1].clean_text == rows[0][1]  # keeper intact
    assert out[1].n_cut == 0
    assert out[2].clean_text == "z1 z2"  # span cut, frame kept
    assert out[2].n_cut == 6 and out[2].n_kept == 2
    assert out[3].clean_text == rows[2][1] and out[3].n_cut == 0
    assert 4 not in out  # all tokens cut -> doc gone


def test_repetition_stats(spark):
    """Template spam lights up the top-ngram fractions; diverse text
    stays under the caps; a doc of one repeated token maxes out."""
    from pdf_parser_spark.functions import repetition_stats

    rows = [
        (1, "click here click here click here click here now"),
        (2, "the quick brown fox jumps over a lazy dog while two "
            "red birds watch from tall green trees near my old house"),
        (3, "spam spam spam spam spam spam"),
        (4, "a b  c a b"),  # double space: empty token must not desync
    ]
    out = {
        r.doc_id: r
        for r in repetition_stats(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # doc 1: 'click here' appears 4x in 9 tokens -> 8/9 coverage
    assert abs(out[1].top_2gram_frac - round(8 / 9, 6)) < 1e-9
    assert not out[1].keep
    # doc 2: 22 all-distinct tokens -> every n-gram unique, frac = n/22
    assert abs(out[2].top_2gram_frac - round(2 / 22, 6)) < 1e-9
    assert out[2].keep and out[2].dup_token_frac == 0.0
    # doc 3: one token repeated 6x -> 2-gram 'spam spam' 5x over 6 toks
    assert abs(out[3].top_2gram_frac - round(10 / 6, 6)) < 1e-9
    assert abs(out[3].dup_token_frac - round(5 / 6, 6)) < 1e-9
    assert not out[3].keep
    # doc 4: empty token dropped -> tokens [a,b,c,a,b], top 2-gram
    # 'a b' x2 -> 4/5
    assert abs(out[4].top_2gram_frac - 0.8) < 1e-9


def test_ann_scale_paths_recall_floor(spark):
    """The contract parameterization of the LSH and IVF scale paths must
    hold a recall floor against the exact brute-force path on the real
    embeddings table — approximate is allowed to miss, but a recall
    collapse means the bucketing is broken, not approximate."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
        q8_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_cosine_topk(emb, q, k=5, dim=64).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in lsh_cosine_topk(
            emb, q, k=5, n_planes=8, dim=64, n_tables=4, hamming=1
        ).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_cosine_topk(
            emb, q, k=5, nlist=16, nprobe=3, dim=64, max_train=512
        ).collect()
    }
    q8 = {
        (r.query_id, r.neighbor_id)
        for r in q8_cosine_topk(emb, q, k=5, dim=64).collect()
    }
    # int8 quantization perturbs cosines by ~1e-2: near-perfect recall
    assert len(q8 & exact) / len(exact) >= 0.8, (len(q8 & exact), len(exact))
    assert len(ivf & exact) / len(exact) >= 0.5, (len(ivf & exact), len(exact))
    # neighbors on this table sit at cos ~0.3, the hard regime for SRP:
    # 4 tables x (8+1) probes measured 0.36 recall at ~14% candidate
    # fraction; the floor catches bucketing bugs, not tuning
    assert len(lsh & exact) / len(exact) >= 0.25, (len(lsh & exact), len(exact))


@pytest.mark.parametrize("fn", ["q8_cosine_topk", "brute_force_cosine_topk"])
def test_q8_wide_dim_kernel_path_matches_codegen(spark, fn):
    """dim > 64 scores in the left-fold Arrow kernel instead of a
    >64-term unrolled Add chain (the Janino ceiling). Zero-padding
    64-dim vectors to 80 leaves every left-fold sum unchanged — for q8
    also the quantization scale, the int8 codes, the integer dots and
    the norms (every intermediate is an exact integer in double) — so
    the 80-dim kernel path must reproduce the 64-dim codegen path
    row-for-row: bit-identical cosines, same ranks."""
    from pyspark.sql import functions as F

    from pdf_parser_spark import functions

    topk = getattr(functions, fn)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(200)
    pad = F.concat(
        F.col("embedding"),
        F.array(*[F.lit(0.0).cast("float") for _ in range(16)]),
    )
    wide = emb.withColumn("embedding", pad)
    q64 = emb.filter(F.col("vec_id") < 8)
    q80 = wide.filter(F.col("vec_id") < 8)

    narrow = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in topk(emb, q64, k=5, dim=64).collect()
    )
    kernel = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in topk(wide, q80, k=5, dim=80).collect()
    )
    assert kernel == narrow


def test_zero_norm_vector_ranks_last_with_null_cosine(spark, tmp_path):
    """A zero vector has no cosine: every path scores it NULL (try_divide
    — DuckDB's 0.0/0.0) and ranks it last, instead of raising
    DIVIDE_BY_ZERO under ANSI. The exact path must match the contract's
    DuckDB oracle, and the persisted-index path (pandas partial top-k,
    then _rank) must match the window-ranked LSH path row for row, NULL
    included."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    import __spark_entry__ as entry
    from pdf_parser_spark.functions import (
        brute_force_cosine_topk,
        build_lsh_index,
        lsh_cosine_topk,
        query_lsh_index,
    )

    vecs = np.random.default_rng(3).standard_normal((6, 4)).astype("float32")
    vecs[2] = 0.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def by_rank(df):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in df.collect()
        )

    exact = by_rank(brute_force_cosine_topk(emb, emb, k=5, dim=4))
    assert [r for r in exact if r[3] is None] == sorted(
        [(2, rank, nid, None) for rank, nid in enumerate([0, 1, 3, 4, 5], 1)]
        + [(q, 5, 2, None) for q in (0, 1, 3, 4, 5)]
    ), exact
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in rows], pa.list_(pa.float32())
                ),
            }
        ),
    )
    oracle = sorted(con.sql(entry.Q_ANN_ORACLE).fetchall())
    assert sorted((q, n, r) for q, r, n, _ in exact) == oracle

    build_lsh_index(emb, "zero_norm_lsh", n_planes=2, dim=4, n_tables=2,
                    n_buckets=2, path=str(tmp_path / "lsh"))
    try:
        kw = dict(k=5, n_planes=2, dim=4, n_tables=2, hamming=1)
        direct = by_rank(lsh_cosine_topk(emb, emb, **kw))
        assert any(r[3] is None for r in direct), direct
        index = query_lsh_index(spark, "zero_norm_lsh", emb, **kw)
        assert by_rank(index) == direct
    finally:
        spark.sql("DROP TABLE IF EXISTS zero_norm_lsh")


def test_embedding_near_dup(docs):
    from pdf_parser_spark.functions import embedding_near_dup, hashed_bow_embedding

    emb = hashed_bow_embedding(docs, dim=32)
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    assert len(rows) == 7
    assert abs(sum(x * x for x in rows[0]) - 1.0) < 1e-5  # unit norm
    assert rows[0] == rows[1]  # identical docs -> identical embedding

    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(docs, threshold=0.9, dim=32).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    assert pairs.get((3, 4)) == 1.0
    assert (0, 2) in pairs  # near-dup survives the 0.9 threshold
    assert not any({a, b} & {5, 6} for a, b in pairs)


@pytest.fixture(scope="module")
def gen():
    """tools/gen_values_oracles.py, home of the pure-Python replicas
    behind the contract's VALUES oracles, loaded as a module."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_values_oracles",
        os.path.join(repo, "tools", "gen_values_oracles.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", ["lsh", "ivf", "q8", "pq"])
def test_ann_scale_path_matches_values_replica(spark, gen, path):
    """Each ANN scale path, run as its contract row runs it (queries
    vec_id < 10, the row's parameters), returns exactly the
    (query_id, neighbor_id, rank) rows of its pure-Python replica."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    row = entry.queries()[f"{path}_cosine_topk"](spark, sf)
    got = sorted(tuple(r) for r in row.collect())
    assert row.columns == ["query_id", "neighbor_id", "rank"]
    assert got and got == sorted(getattr(gen, f"gen_{path}_topk_rows")(sf))


def test_ann_paths_empty_query_set(spark):
    """No query gives no row on every path, instead of an error."""
    from pdf_parser_spark import functions

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = emb.filter(F.col("vec_id") < 0)
    runs = {
        "brute": functions.brute_force_cosine_topk(emb, none, dim=64),
        "lsh": functions.lsh_cosine_topk(emb, none, dim=64),
        "ivf": functions.ivf_cosine_topk(emb, none, max_train=512),
        "q8": functions.q8_cosine_topk(emb, none),
        "pq": functions.pq_cosine_topk(emb, none, max_train=512),
    }
    assert {name: df.count() for name, df in runs.items()} == dict.fromkeys(
        runs, 0
    )


@pytest.mark.parametrize("dim", [32, 80])
def test_embedding_near_dup_matches_values_replica(spark, gen, dim):
    """embedding_near_dup(md5) equals the independent pure-Python
    replica that writes the contract's VALUES oracle, at dim 32 and at
    dim 80 — above _UNROLL_MAX, where _score takes its Arrow path,
    which the dim-64 contract row never reaches."""
    from pdf_parser_spark.functions import embedding_near_dup

    sf = "/root/testdata/sf0.001"
    want = sorted(
        (a, b, float(r))
        for a, b, r in gen.gen_embedding_pairs(sf, threshold=0.95, dim=dim)
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup(
            docs, threshold=0.95, dim=dim, hash_fn="md5"
        ).collect()
    )
    assert want and got == want


def test_embed_kernel_memo_bounded(spark):
    """The executor-side token->bucket memo must not grow without bound
    over a task's batches: an adversarial-vocab 100 TB shard would bloat
    a long-lived python worker otherwise. Drive the kernel directly (no
    Spark) with an injected memo and a high-vocab stream."""
    import pandas as pd

    from pdf_parser_spark.functions.dedup import _make_md5_embed_kernel

    cap = 50

    def batches(tag):
        for b in range(6):
            yield pd.DataFrame(
                {
                    "doc_id": [b * 2, b * 2 + 1],
                    "text": [
                        " ".join(f"{tag}w{b}_{j}" for j in range(40)),
                        " ".join(f"{tag}v{b}_{j}" for j in range(40)),
                    ],
                }
            )

    memo: dict = {}
    capped = _make_md5_embed_kernel(
        16, "doc_id", "text", memo_cap=cap, memo=memo
    )
    out_capped = pd.concat(list(capped(batches("a"))), ignore_index=True)
    # bound: cap + one batch's fresh vocab (clear happens at batch entry)
    assert len(memo) <= cap + 80, len(memo)
    # identical output with an unbounded memo
    uncapped = _make_md5_embed_kernel(16, "doc_id", "text", memo_cap=10**9)
    out_full = pd.concat(list(uncapped(batches("a"))), ignore_index=True)
    assert len(out_capped) == 12
    assert out_capped["doc_id"].tolist() == out_full["doc_id"].tolist()
    assert [e.tolist() for e in out_capped["embedding"]] == [
        e.tolist() for e in out_full["embedding"]
    ]


def test_simhash_near_dup(spark):
    from pdf_parser_spark.functions import simhash_near_dup

    # simhash needs enough tokens for single-token edits to stay local
    # (on a 13-token doc one new token can flip bits in every band)
    base = " ".join(
        f"token{i} word{i % 7} item{i % 11}" for i in range(40)
    )
    rows = [
        (0, base),
        (1, base),
        (2, base + " extra"),  # near dup: one token in ~120
        (3, " ".join(f"other{i} thing{i % 5}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup(df, max_hamming=10).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical docs
    assert (0, 2) in pairs and 0 <= pairs[(0, 2)] <= 10  # near dup
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)  # unrelated doc excluded


def test_ivf_cosine_topk_recall(spark):
    import numpy as np

    from pdf_parser_spark.functions import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
    )

    # 4 well-separated clusters of 10 vectors each
    rng = np.random.Generator(np.random.PCG64(11))
    centers = rng.standard_normal((4, 16)) * 10
    rows = []
    vid = 0
    for c in centers:
        for _ in range(10):
            rows.append((vid, [float(x) for x in c + rng.standard_normal(16)]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter("vec_id IN (0, 10, 20, 30)")

    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_cosine_topk(emb, q, k=3, dim=16).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_cosine_topk(
            emb, q, k=3, nlist=4, nprobe=2, dim=16
        ).collect()
    }
    # well-separated clusters: IVF with nprobe=2 must recover the exact
    # top-3 for every query
    hits = sum(1 for key, nid in exact.items() if approx.get(key) == nid)
    assert hits >= 10, (hits, exact, approx)


def test_dedup_clusters_components(spark):
    """Connected components: chain + triangle merge into one cluster
    keyed by the min id; disjoint pair stays its own cluster."""
    from pdf_parser_spark.functions import dedup_clusters

    # component {1,2,3,4} via chain 1-2, 2-3, 3-4; triangle edge 1-3;
    # component {10,11}; node 20 appears in no pair -> absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_long_chain_converges(spark):
    """Label propagation must reach the fixpoint on a path graph whose
    diameter forces multiple rounds (driver_solve_max_edges=0 forces the
    distributed path)."""
    from pdf_parser_spark.functions import dedup_clusters

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(pairs, driver_solve_max_edges=0).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_dedup_clusters_driver_path_matches_distributed(spark):
    """The small-graph driver union-find and the distributed label
    propagation are two implementations of one contract — identical
    (doc_id, cluster_id) output on the same graph."""
    from pdf_parser_spark.functions import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    drv = {
        r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()
    }
    dist = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(pairs, driver_solve_max_edges=0).collect()
    }
    assert drv == dist
    assert drv == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_deterministic_sample_is_stable_and_proportional(spark):
    from pdf_parser_spark.functions import deterministic_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {r.doc_id for r in deterministic_sample(docs, 30).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in deterministic_sample(
            docs.repartition(7), 30
        ).select("doc_id").collect()
    }
    assert a == b  # partitioning-independent: decision is keyed on the row
    assert 0.15 <= len(a) / 500 <= 0.45  # ~30% within hash tolerance
    # monotone in pct: a 30% sample contains the 10% sample
    c = {r.doc_id for r in deterministic_sample(docs, 10).select("doc_id").collect()}
    assert c <= a


def test_gopher_filter_reasons(spark):
    from pdf_parser_spark import schemas  # noqa: F401  (import check)
    from pdf_parser_spark.functions import gopher_quality_filter

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "a b"),                      # too few tokens + short tokens
        (3, "zz " * 200),                # repetitive
        (4, "12345 67890 11111 22222 33333 44444 55555 66666 77777 88888 99999"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in gopher_quality_filter(df).collect()}
    assert got[1].keep and got[1].reasons == ""
    assert not got[2].keep and "too_few_tokens" in got[2].reasons
    assert not got[3].keep and "repetitive" in got[3].reasons
    assert not got[4].keep and "low_alpha" in got[4].reasons


def test_cjk_segmentation_across_token_ops(spark):
    """cjk=True makes the token ops see unspaced zh/ja text as
    per-codepoint tokens (functions/textseg.py). Without it a genuine
    zh document is ~1 token: gopher drops it, chunking emits one giant
    chunk, BM25 sees one term (round-4 VERDICT item 3)."""
    from pdf_parser_spark.functions import (
        bm25_search,
        chunk_documents,
        gopher_quality_filter,
        quality_metrics,
        tfidf_keywords,
    )
    from pdf_parser_spark.functions.textseg import build_cjk_probe

    probe = spark.createDataFrame(
        build_cjk_probe(), "doc_id long, text string, lang string"
    )
    zh_unspaced = probe.filter("doc_id = 0")  # 61 ideographs, no spaces

    # gopher: latin mode drops it (1 token + alpha 0); cjk mode keeps
    latin = gopher_quality_filter(zh_unspaced).collect()[0]
    assert not latin.keep and "too_few_tokens" in latin.reasons
    cjk = gopher_quality_filter(zh_unspaced, cjk=True).collect()[0]
    assert cjk.keep and cjk.reasons == ""

    # quality metrics: 61 tokens, fully alphabetic under the CJK class
    qm = quality_metrics(zh_unspaced, cjk=True).collect()[0]
    assert qm.n_tokens == 61 and qm.alpha_ratio == 1.0
    assert quality_metrics(zh_unspaced).collect()[0].n_tokens == 1

    # chunking: per-codepoint windows, not one giant chunk
    chunks = chunk_documents(
        zh_unspaced, chunk_tokens=20, stride=20, cjk=True
    ).collect()
    assert len(chunks) == 4 and chunks[0].n_tokens == 20
    assert len(chunks[0].chunk_text.split(" ")) == 20
    assert len(chunk_documents(zh_unspaced, 20, 20).collect()) == 1

    # bm25: a single-ideograph query term matches unspaced documents
    hits = bm25_search(probe, ["合"], k=9, cjk=True).collect()
    assert {r.doc_id for r in hits} >= {0, 2, 4}
    assert bm25_search(probe, ["合"], k=9).collect() == []

    # tf-idf: per-char zh terms rank; latin mode sees 1 giant term
    kw = tfidf_keywords(probe, k=3, cjk=True)
    terms = {r.term for r in kw.filter("doc_id = 0").collect()}
    assert terms and all(len(t) == 1 for t in terms)


def test_cjk_ranges_cross_engine_and_kernel_twin():
    """textseg's \\x{...} ranges (Java/RE2) and kernels/bpe's literal
    Python ranges must cover the identical codepoints, and the RE2 side
    must tokenize the probe identically to Spark (pinned counts from
    the gopher_filter_cjk contract row)."""
    import duckdb

    from pdf_parser_spark.functions.textseg import (
        CJK_RANGES,
        build_cjk_probe,
        duck_seg_tokens,
    )
    from pdf_parser_spark.kernels.bpe import _CJK

    # parse the \x{a}-\x{b} pairs and rebuild the literal twin
    import re as _re

    pairs = _re.findall(r"\\x\{([0-9a-f]+)\}-\\x\{([0-9a-f]+)\}", CJK_RANGES)
    lit = "".join(chr(int(a, 16)) + "-" + chr(int(b, 16)) for a, b in pairs)
    assert lit == _CJK

    vals = ",".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, t, _ in build_cjk_probe()
    )
    tok = duck_seg_tokens("text", cjk=True)
    got = dict(
        duckdb.sql(
            f"WITH raw(doc_id, text) AS (VALUES {vals}) "
            f"SELECT doc_id, len({tok}) FROM raw"
        ).fetchall()
    )
    assert got[0] == 61 and got[1] == 52 and got[2] == 15 and got[7] == 1


def test_canonical_url_rules(spark):
    from pdf_parser_spark.functions import canonical_url
    from pyspark.sql import functions as F

    cases = [
        ("HTTPS://News.Example.com:443/A/B/?b=2&a=1#frag",
         "https://news.example.com/A/B?a=1&b=2"),
        ("http://example.com:80/x", "http://example.com/x"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com/", "https://example.com/"),
        ("https://example.com/path///", "https://example.com/path"),
        ("https://example.com/x?z=1", "https://example.com/x?z=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [
        r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_redact_pii_rules(spark):
    from pdf_parser_spark.functions import redact_pii

    rows = [
        (1, "mail me at jo.doe+x@sub.example.org or 10.1.2.3 thanks"),
        (2, "call +1-555-0123-456 today"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].clean_text == "mail me at <EMAIL> or <IP> thanks"
    assert got[1].n_emails == 1 and got[1].n_ips == 1
    assert got[2].clean_text == "call <PHONE> today"
    assert got[2].n_phones == 1
    assert got[3].clean_text == rows[2][1]
    assert (got[3].n_emails, got[3].n_ips, got[3].n_phones) == (0, 0, 0)


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) — the canonical form must
    be a fixpoint, else repeated pipeline passes change keys."""
    from pdf_parser_spark.functions import canonical_url
    from pyspark.sql import functions as F

    urls = []
    for i in range(60):
        scheme = ["http", "https", "HTTP", "ftp"][i % 4]
        host = ["A.b.C", "x.example.com:8080", "example.com:443"][i % 3]
        path = ["", "/", "/p/q///", "/p"][(i // 3) % 4]
        q = ["", "?b=1&a=2", "?z"][(i // 5) % 3]
        frag = ["", "#f"][(i // 7) % 2]
        urls.append(f"{scheme}://{host}{path}{q}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = canonical_url(F.col("url"))
    rows = df.select(
        once.alias("c1"), canonical_url(once).alias("c2")
    ).collect()
    for r in rows:
        assert r.c1 == r.c2, r


def test_dedup_clusters_empty_pairs(spark):
    from pdf_parser_spark.functions import dedup_clusters

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(empty).count() == 0


def test_dedup_clusters_one_job_per_round(spark):
    """The convergence check must ride the checkpoint action (Observation
    metric), not run as its own per-round job: total jobs for the run is
    1 (edge checkpoint) + rounds (diameter+1 for the final no-change
    confirmation), with NO separate changed-probe jobs. Drift here
    silently doubles driver round-trips on a 50-round graph."""
    from pdf_parser_spark.functions import dedup_clusters

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"]
    )  # path graph: min-label needs 6 propagation rounds + 1 confirm
    sc.setJobGroup("cc_jobs", "dedup_clusters job count")
    try:
        got = {
            r.doc_id: r.cluster_id
            for r in dedup_clusters(
                pairs, driver_solve_max_edges=0
            ).collect()
        }
    finally:
        sc.setJobGroup(None, None)
    assert got == {i: 0 for i in range(7)}
    n_actions = 1 + 7 + 1  # edge-checkpoint + rounds + final collect
    jobs = sc.statusTracker().getJobIdsForGroup("cc_jobs")
    # AQE splits one action into one job per materialized query stage;
    # each round's plan has <=4 stages (join x2 sides, groupBy, final).
    # The old two-actions-per-round shape adds a probe join + count on
    # top — pin the ceiling so it can't come back.
    assert len(jobs) <= 4 * n_actions, len(jobs)


def test_dedup_clusters_small_graph_two_jobs(spark):
    """The driver union-find path is 2 jobs total (edge checkpoint +
    collect), independent of component diameter."""
    from pdf_parser_spark.functions import dedup_clusters

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["id_a", "id_b"]
    )
    sc.setJobGroup("cc_drv", "driver union-find job count")
    try:
        out = dedup_clusters(pairs)
        got = {r.doc_id: r.cluster_id for r in out.collect()}
    finally:
        sc.setJobGroup(None, None)
    assert got == {i: 0 for i in range(21)}
    jobs = sc.statusTracker().getJobIdsForGroup("cc_drv")
    # edge checkpoint + union-find collect + result collect
    assert len(jobs) <= 3, len(jobs)


def test_dedup_clusters_warns_on_max_iter(spark):
    """Exiting via max_iter with labels still moving must WARN — the
    result is not a fixpoint and is indistinguishable from a converged
    one otherwise."""
    import warnings

    from pdf_parser_spark.functions import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup_clusters(
            pairs, max_iter=2, driver_solve_max_edges=0
        ).collect()
    assert any("fixpoint" in str(x.message) for x in w)


def test_winnow_overlap_detects_shared_passages(spark):
    from pdf_parser_spark.functions import winnow_overlap_pairs

    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, "totally different words everywhere nothing matches here at all ok fine"),
        (3, shared + " one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): r.n_shared for r in winnow_overlap_pairs(df).collect()}
    assert (1, 3) in got and got[(1, 3)] >= 2
    assert all(2 not in k for k in got)


def test_winnow_overlap_hot_fingerprint_cap(spark):
    """A boilerplate passage shared by every document is a hot join key;
    the df-cap semi-join must drop it BEFORE the self-join so pair counts
    score only rare shared fingerprints (and a viral snippet can't
    produce m^2 join rows at scale)."""
    from pdf_parser_spark.functions import winnow_overlap_pairs

    boiler = (
        "subscribe to our newsletter for updates and follow us on social "
        "media channels every single day thanks"
    )
    clone = "the secret recipe needs flour butter sugar eggs vanilla and patience to rise well"
    rows = [(i, boiler + f" filler{i} x{i} y{i} z{i} w{i} v{i} u{i} t{i}") for i in range(8)]
    rows += [
        (100, clone + " alpha beta gamma delta epsilon zeta eta theta iota"),
        (101, clone + " one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap below the boilerplate's df: its fingerprints are culled, so the
    # 8 boilerplate docs yield no pairs; the 2-doc clone still scores
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(df, max_df=4).collect()
    }
    assert (100, 101) in got and got[(100, 101)] >= 2
    assert all(a < 100 or b < 100 for (a, b) in got) is False or got.keys() == {(100, 101)}
    assert not [k for k in got if k[0] < 8 and k[1] < 8]
    # with the cap above every df, the boilerplate pairs come back
    uncapped = winnow_overlap_pairs(df, max_df=1000).collect()
    assert any(r.id_a < 8 and r.id_b < 8 for r in uncapped)


def test_incremental_dedup_cross_side_only(spark):
    """New-vs-reference near-dedup must report only cross-side pairs:
    a near-dup WITHIN the new batch and one WITHIN the reference corpus
    must not appear."""
    from pdf_parser_spark.functions import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog near the river"
    ref = spark.createDataFrame(
        [
            (100, base),
            (101, "reference corpus doc about spark shuffles and joins ok"),
            (102, "reference corpus doc about spark shuffles and joins ok"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (200, base + " bank"),  # near-dup of ref 100
            (201, base + " bank today"),  # near-dup of 200 AND ref 100
            (202, "entirely novel content with no overlap whatsoever here"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.new_id, r.ref_id): r.jaccard
        for r in incremental_dedup(new, ref, threshold=0.5).collect()
    }
    assert (200, 100) in pairs and (201, 100) in pairs

    def shingles(text):
        w = text.strip(" ").split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} - {""}

    texts = {r.doc_id: r.text for r in new.union(ref).collect()}
    for (nid, rid), j in pairs.items():
        a, b = shingles(texts[nid]), shingles(texts[rid])
        assert j == len(a & b) / len(a | b)
    assert all(nid in (200, 201) and rid == 100 for nid, rid in pairs)
    # within-side dups (201 vs 200, 102 vs 101) are not this operator's
    # output — and novel content survives
    assert not any(nid == 202 for nid, _ in pairs)


def test_normalize_text_rules(spark):
    """Every normalization rule, plus the dedup payoff: NFD and NFC
    spellings of the same word become byte-identical."""
    from pdf_parser_spark.functions import normalize_text
    from pdf_parser_spark.functions.textnorm import build_norm_probe

    probe = spark.createDataFrame(
        build_norm_probe(), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in normalize_text(probe).collect()}
    assert out[0].text_norm == "plain ascii text stays untouched"
    assert out[0].changed is False
    # NFD composes to the same bytes as the already-NFC twin
    assert out[1].text_norm == out[2].text_norm == "café and hôtel"
    assert out[1].changed is True and out[2].changed is False
    assert out[3].text_norm == "bom and controls here"
    assert out[4].text_norm == "a b c d e"
    assert out[5].text_norm == "padded"
    assert out[6].text_norm == "한국"  # composed Hangul syllables
    assert out[7].text_norm == "άέ"  # precomposed Greek
    assert out[8].text_norm == "" and out[9].text_norm == ""
    assert out[10].text_norm == "unit: 10 Å wide"  # U+212B -> U+00C5


def test_pq_topk_recall_and_rerank(spark):
    """PQ with exact rerank: perturbed twins must come back rank 1 for
    most queries (quantization can only lose candidates before the
    rerank; with rerank >= corpus the result equals brute force)."""
    import numpy as np

    from pdf_parser_spark.functions import (
        brute_force_cosine_topk,
        pq_cosine_topk,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((8, 16))
    rows = []
    for i in range(8):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append(
            (100 + i,
             [float(x) for x in base[i] + 0.01 * rng.standard_normal(16)])
        )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 8)

    # rerank covers the whole corpus -> must EQUAL brute force
    pq_full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_cosine_topk(
            emb, q, k=1, m=4, ksub=4, rerank=16, dim=16
        ).collect()
    }
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in brute_force_cosine_topk(emb, q, k=1).collect()
    }
    assert pq_full == exact
    for i in range(8):
        assert pq_full[(i, 1)] == 100 + i


def test_pq_wide_dim_kernel_rerank_matches_brute_force(spark):
    """dim > 64 routes the exact rerank through the Arrow left-fold
    kernel instead of a >64-term unrolled Add chain (the Janino /
    canonicalization ceiling — round-4 ADVICE, mirroring the q8 guard).
    With rerank >= corpus the kernel-reranked result must EQUAL brute
    force: same pairs, bit-identical cosines (np.add.accumulate is the
    same IEEE op sequence as the codegen/HOF left fold)."""
    import numpy as np

    from pdf_parser_spark.functions import (
        brute_force_cosine_topk,
        pq_cosine_topk,
    )

    rng = np.random.Generator(np.random.PCG64(13))
    # float32-exact values: the PQ path carries vectors as
    # array<float>, brute force as array<double> — quantizing the
    # inputs to float32 makes every cast lossless so the bit-compare
    # below is branch-independent
    base = rng.standard_normal((8, 80)).astype(np.float32)
    rows = []
    for i in range(8):
        rows.append((i, [float(x) for x in base[i]]))
        twin = (
            base[i]
            + (0.01 * rng.standard_normal(80)).astype(np.float32)
        ).astype(np.float32)
        rows.append((100 + i, [float(x) for x in twin]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 8)

    pq_full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_cosine_topk(
            emb, q, k=1, m=8, ksub=4, rerank=16, dim=80
        ).collect()
    }
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_force_cosine_topk(emb, q, k=1).collect()
    }
    assert pq_full == exact  # pairs AND bit-identical cosines
    for i in range(8):
        assert pq_full[(i, 1)][0] == 100 + i


def test_bm25_ranking_properties(spark):
    """BM25 sanity: more query-term mass ranks higher; a doc matching a
    RARE term outranks one matching only a corpus-common term; docs
    with no query terms never appear."""
    from pdf_parser_spark.functions import bm25_search

    rows = [
        (1, "rare term appears here once amid regular words"),
        (2, "common common common words fill this document entirely"),
        (3, "rare rare term term stacked document wins the query"),
        (4, "nothing relevant in this one at all today"),
    ] + [(10 + i, "common filler words everywhere") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_search(df, ["rare", "common"], k=10).collect()
    ranks = {r.doc_id: r.rank for r in out}
    scores = {r.doc_id: r.score for r in out}
    assert 4 not in ranks
    # doc 3 (rare x2) beats doc 1 (rare x1) beats pure-common docs
    assert ranks[3] < ranks[1]
    assert scores[1] > scores[2]
    assert all(s > 0 for s in scores.values())


def test_keep_best_per_cluster(spark):
    from pdf_parser_spark.functions import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (9, 4)],
        "doc_id long, cluster_id long",
    )
    # doc 9 is singleton (not in clusters)
    clusters = clusters.filter(F.col("doc_id") != 9)
    out = {
        r["doc_id"]: (r["cluster_id"], r["kept"])
        for r in keep_best_per_cluster(docs, clusters, "score").collect()
    }
    # cluster 1: docs 2 and 3 tie on score -> min id (2) wins
    assert out[2] == (1, True) and out[3] == (1, False)
    assert out[1] == (1, False)
    # cluster 4 is a single-member cluster row -> kept
    assert out[4] == (4, True)
    # doc 9 has no cluster row -> own cluster, kept
    assert out[9] == (9, True)


def test_keep_best_plan_shape(spark):
    """Singletons must NOT pass through the rank window: both corpus
    passes are broadcast joins, and the only Exchange feeding the Window
    is the (edge-bounded) clustered slice."""
    from pdf_parser_spark.functions import keep_best_per_cluster
    from tests.test_plans import count_nodes, plan_of

    docs = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "doc_id long, score long"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    plan = plan_of(keep_best_per_cluster(docs, clusters, "score"))
    assert count_nodes(plan, "BroadcastHashJoin") == 2, plan
    assert count_nodes(plan, "Window") == 1, plan
    # no SortMergeJoin / no corpus-wide shuffle beyond the window's own
    # (the window input is the post-broadcast-join clustered slice)
    assert count_nodes(plan, "SortMergeJoin") == 0, plan


def test_global_dup_spans(spark):
    """Hand-computed coverage: cross-doc shared runs merge via interval
    union (including adjacent intervals), self-repetition counts, and a
    gap splits spans."""
    from pdf_parser_spark.functions import global_dup_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z"),      # shares "a b c d" with doc 2
            (2, "q q q a b c d w"),
            (3, "r r r r r r"),          # self-repeating gram
            (4, "a2 b2 c2 m n o p d2 e2 f2"),  # two separated shared runs
            (5, "a2 b2 c2 s t u v d2 e2 f2"),
        ],
        "doc_id long, text string",
    )
    out = global_dup_spans(docs, min_len=3)
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in out.collect()
    )
    assert got == [
        (1, 0, 3, 4),   # grams at pos 0,1 -> [0,3]
        (2, 3, 6, 4),
        (3, 0, 5, 6),   # "r r r" x4 -> whole doc
        (4, 0, 2, 3),   # gap between the two shared runs
        (4, 7, 9, 3),
        (5, 0, 2, 3),
        (5, 7, 9, 3),
    ]


def test_pack_shards_matches_global_cumsum(spark):
    """The two-phase distributed prefix sum must equal the naive global
    running sum for ANY partition count, and shard boundaries must fall
    exactly where the exclusive prefix crosses the budget."""
    from pdf_parser_spark.functions import pack_shards

    rows = [(i, " ".join(["w"] * (3 + (i * 7) % 11))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # reference: exclusive prefix in plain python
    n = {i: 3 + (i * 7) % 11 for i in range(200)}
    acc, exp = 0, {}
    for i in range(200):
        exp[i] = acc // 100
        acc += n[i]

    for parts in (1, 3, 16):
        got = {
            r["doc_id"]: (r["n_tokens"], r["shard_id"])
            for r in pack_shards(
                docs, shard_tokens=100, n_parts=parts
            ).collect()
        }
        assert len(got) == 200
        for i in range(200):
            assert got[i] == (n[i], exp[i]), (parts, i, got[i], exp[i])


def test_pack_shards_empty_and_validation(spark):
    import pytest as _pytest

    from pdf_parser_spark.functions import pack_shards

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError):
        pack_shards(docs, shard_tokens=0)
    # more partitions than rows: empty partitions must not break the
    # offset map or the Arrow cumsum
    out = pack_shards(docs, shard_tokens=10, n_parts=8).collect()
    assert [(r["doc_id"], r["n_tokens"], r["shard_id"]) for r in out] == [
        (1, 3, 0)
    ]


def test_filter_blocked_hosts(spark):
    """A pattern blocks the exact host and every subdomain, ports are
    stripped before matching, unrelated suffixes survive, and the
    blocklist side is broadcast."""
    from pdf_parser_spark.functions import filter_blocked_hosts
    from tests.test_plans import count_nodes, plan_of

    docs = spark.createDataFrame(
        [
            (1, "https://example.com/x"),          # exact match -> blocked
            (2, "https://a.b.example.com/y"),      # subdomain -> blocked
            (3, "https://notexample.com/z"),       # NOT a suffix match
            (4, "https://example.com:8080/p"),     # port stripped -> blocked
            (5, "https://ok.org/q"),
            (6, "HTTPS://EXAMPLE.COM/upper"),      # case-folded -> blocked
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame(
        [("example.com",), ("spam.net",)], "pattern string"
    )
    out = filter_blocked_hosts(docs, blocked)
    assert sorted(r["doc_id"] for r in out.collect()) == [3, 5]
    plan = plan_of(out)
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan


def test_dup_coverage(spark):
    from pdf_parser_spark.functions import dup_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z"),    # [0,3] + [5,7] covered -> 7/8
            (2, "q q q a b c d w"),    # [3,6] covered -> 4/8
            (3, "r r r r r r"),        # fully covered -> 6/6
            (4, "u v w m n p"),        # nothing duplicated -> 0/6
            (5, "x y z t1 t2 t3"),     # shares "x y z" with doc 1
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"])
        for r in dup_coverage(docs, min_len=3).collect()
    }
    assert got == {
        1: (8, 7, 0.875),
        2: (8, 4, 0.5),
        3: (6, 6, 1.0),
        4: (6, 0, 0.0),
        5: (6, 3, 0.5),
    }


def test_tfidf_keywords(spark):
    import math

    from pdf_parser_spark.functions import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs, k=2)
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["score"])
        for r in out.collect()
    }
    # idf: apple ln(3/1), banana ln(3/2), cherry ln(3/2), common ln(3/3)=0
    assert got[(1, 1)] == ("apple", round(2 * math.log(3.0), 4))
    assert got[(1, 2)] == ("banana", round(math.log(1.5), 4))
    # doc 2: banana and cherry tie (tf=1, same idf) -> lexicographic
    assert got[(2, 1)][0] == "banana" and got[(2, 2)][0] == "cherry"
    assert got[(3, 1)] == ("cherry", round(3 * math.log(1.5), 4))
    # common scores 0 everywhere and never outranks a positive term
    assert got[(3, 2)] == ("common", 0.0)


def test_percentile_filter(spark):
    import pytest as _pytest

    from pdf_parser_spark.functions import percentile_filter

    docs = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 11)],
        "doc_id long, score double",
    )
    up = percentile_filter(docs, "score", q=0.25, keep="above")
    ids = sorted(r["doc_id"] for r in up.collect())
    # exact p25 of 10..100 is 32.5 -> survivors 40..100
    assert ids == [4, 5, 6, 7, 8, 9, 10]
    assert up.collect()[0]["threshold"] == 32.5
    down = percentile_filter(docs, "score", q=0.25, keep="below")
    assert sorted(r["doc_id"] for r in down.collect()) == [1, 2, 3]
    with _pytest.raises(ValueError):
        percentile_filter(docs, "score", keep="sideways")


def test_percentile_filter_empty_input(spark):
    from pdf_parser_spark.functions import percentile_filter

    docs = spark.createDataFrame(
        [(1, 10.0)], "doc_id long, score double"
    ).filter("doc_id < 0")
    out = percentile_filter(docs, "score")
    assert out.collect() == []
    assert out.columns == ["doc_id", "score", "threshold"]


def test_percentile_filter_approx_sketch(spark):
    """approx_accuracy switches the scalar pre-pass to the single-pass
    approx_percentile sketch (the 100 TB shape: one map-side-combining
    aggregate instead of a full sort). At accuracy >= n_rows the sketch
    is exact on integer-valued metrics, so survivors must match the
    exact path; at a coarse accuracy the cut still lands within the
    documented rank-error bound."""
    from pdf_parser_spark.functions import percentile_filter

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "doc_id long, score double"
    )
    exact = {
        r.doc_id
        for r in percentile_filter(docs, "score", q=0.25).collect()
    }
    sketch = {
        r.doc_id
        for r in percentile_filter(
            docs, "score", q=0.25, approx_accuracy=10000
        ).collect()
    }
    # approx_percentile is NEAREST-RANK (returns an actual element)
    # while the exact path interpolates — at full accuracy the cuts
    # differ by at most the one boundary row
    assert len(exact.symmetric_difference(sketch)) <= 1
    assert sketch >= exact - {min(exact)}
    # coarse sketch: rank error <= n/accuracy = 5 rows (+1 boundary)
    coarse = {
        r.doc_id
        for r in percentile_filter(
            docs, "score", q=0.25, approx_accuracy=20
        ).collect()
    }
    assert len(exact.symmetric_difference(coarse)) <= 6


def test_percentile_filter_odd_column_name(spark):
    """Metric column names needing backticks (dots, spaces, hyphens)
    must resolve as ONE column reference, not break the percentile
    expression parse (round-4 ADVICE)."""
    from pdf_parser_spark.functions import percentile_filter

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 5)],
        ["doc_id", "quality.score-v2"],
    )
    out = percentile_filter(
        docs, "quality.score-v2", q=0.5, keep="above"
    ).collect()
    assert sorted(r["doc_id"] for r in out) == [3, 4]
    assert all(r["threshold"] == 2.5 for r in out)


def test_pack_shards_null_text(spark):
    from pdf_parser_spark.functions import pack_shards

    docs = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "c d e")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in pack_shards(docs, shard_tokens=3, n_parts=2).collect()
    }
    # null text = 0 tokens, occupies no budget
    assert got == {1: (2, 0), 2: (0, 0), 3: (3, 0)}


def test_bloom_new_docs_equals_anti_join(spark):
    """The bloom-prefiltered incremental dedup must return EXACTLY the
    plain left_anti result (no false negatives by construction), and
    only possible-positives may reach the verify join."""
    from pdf_parser_spark.functions import bloom_new_docs

    ref = spark.createDataFrame(
        [(f"sha{i}", f"r{i}") for i in range(0, 400, 2)],
        "doc_sha string, url string",
    )
    new = spark.createDataFrame(
        [(f"sha{i}", f"n{i}") for i in range(100, 300)],
        "doc_sha string, url string",
    )
    got = sorted(
        r["doc_sha"] for r in bloom_new_docs(new, ref).collect()
    )
    want = sorted(
        r["doc_sha"]
        for r in new.join(
            ref.select("doc_sha").distinct(), "doc_sha", "left_anti"
        ).collect()
    )
    assert got == want
    assert len(got) == 100  # odd shas in [100, 300)


def test_bloom_new_docs_tiny_filter(spark):
    """With a deliberately tiny bloom (high FP rate) the result is
    STILL exact — false positives only cost verify-join traffic."""
    from pdf_parser_spark.functions import bloom_new_docs

    ref = spark.createDataFrame(
        [(f"sha{i}",) for i in range(0, 100, 2)], "doc_sha string"
    )
    new = spark.createDataFrame(
        [(f"sha{i}",) for i in range(100)], "doc_sha string"
    )
    got = sorted(
        r["doc_sha"]
        for r in bloom_new_docs(new, ref, m_bits=256, k=2).collect()
    )
    assert got == sorted(f"sha{i}" for i in range(1, 100, 2))


def test_dedup_aware_split(spark):
    """Every member of a near-dup cluster lands in the SAME split; the
    assignment is deterministic; weights must sum to 100."""
    import pytest as _pytest

    from pdf_parser_spark.functions import dedup_aware_split

    docs = spark.createDataFrame(
        [(i,) for i in range(300)], "doc_id long"
    )
    # 50 clusters of 3 consecutive docs each, plus 150 singletons
    clusters = spark.createDataFrame(
        [(i, (i // 3) * 3) for i in range(150)],
        "doc_id long, cluster_id long",
    )
    out = dedup_aware_split(
        docs, clusters, weights=[("train", 60), ("val", 20), ("test", 20)]
    )
    rows = {r["doc_id"]: (r["split_key"], r["split"]) for r in out.collect()}
    assert len(rows) == 300
    # cluster members agree on key AND split
    for base in range(0, 150, 3):
        trio = {rows[base + j] for j in range(3)}
        assert len(trio) == 1, (base, trio)
    # singletons key on themselves
    assert rows[200][0] == "200"
    # all three splits occur and are deterministic across calls
    splits = {s for _, s in rows.values()}
    assert splits == {"train", "val", "test"}
    again = {
        r["doc_id"]: r["split"]
        for r in dedup_aware_split(
            docs, clusters, weights=[("train", 60), ("val", 20), ("test", 20)]
        ).collect()
    }
    assert again == {k: v for k, (_, v) in rows.items()}

    with _pytest.raises(ValueError):
        dedup_aware_split(docs, clusters, weights=[("train", 50)])


def test_compression_ratio(spark):
    """Repetitive text compresses far below diverse text; null/empty
    rows report zeros; ratio matches a direct zlib computation."""
    import zlib

    from pdf_parser_spark.functions import compression_ratio

    diverse = (
        "the quick brown fox jumps over a lazy dog while 42 red birds "
        "watch quietly from seventeen tall green trees near my house"
    )
    docs = spark.createDataFrame(
        [(1, "spam ham " * 200), (2, diverse), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bytes"], r["n_compressed"], r["ratio"])
        for r in compression_ratio(docs).collect()
    }
    assert got[3] == (0, 0, 0.0) and got[4] == (0, 0, 0.0)
    assert got[1][2] < 0.1 < got[2][2]  # boilerplate vs prose
    raw = diverse.encode()
    assert got[2][0] == len(raw)
    assert got[2][1] == len(zlib.compress(raw, 6))
    assert got[2][2] == round(got[2][1] / got[2][0], 4)


def test_bloom_new_docs_null_keys(spark):
    """NULL keys match nothing (anti-join semantics): kept, no crash."""
    from pdf_parser_spark.functions import bloom_new_docs

    ref = spark.createDataFrame(
        [("a",), (None,)], "doc_sha string"
    )
    new = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3)], "doc_sha string, doc_id long"
    )
    got = sorted(
        r["doc_id"] for r in bloom_new_docs(new, ref).collect()
    )
    assert got == [2, 3]


def test_dedup_aware_split_column_order_safe(spark):
    """A clusters frame with reordered columns binds by NAME — the
    split is identical, never silently key-swapped."""
    from pdf_parser_spark.functions import dedup_aware_split

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    c1 = spark.createDataFrame(
        [(i, (i // 3) * 3) for i in range(15)],
        "doc_id long, cluster_id long",
    )
    c2 = c1.select("cluster_id", "doc_id")  # reordered
    w = [("train", 60), ("val", 20), ("test", 20)]
    s1 = {r["doc_id"]: r["split"] for r in dedup_aware_split(docs, c1, w).collect()}
    s2 = {r["doc_id"]: r["split"] for r in dedup_aware_split(docs, c2, w).collect()}
    assert s1 == s2
