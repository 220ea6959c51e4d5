"""Deduplication operators for web-scale corpora.

All pure DataFrame expressions (JVM-side, whole-stage-codegen friendly).
Scale notes per operator are in the docstrings — these are the operators a
10^12-document training-data pipeline runs before anything else.
The shingle near-dup operators build only their own candidate pairs and
share one exact-Jaccard verify (``_verify``); the span operators share one
token stream (``_tokens``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .hashing import hash64, hash64_multi
from .similarity import _lf_sq_rows, _lsh_codes, _lsh_probes, _score


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    minimum id as keeper and the duplicate count.

    Scale: a single hash-partitioned groupBy on sha2 — the map-side
    partial agg collapses duplicates before the shuffle, so shuffle
    volume is O(distinct), not O(rows)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id, shingle) rows: word n-grams via posexplode + window
    lead() — all codegen. (The array-HOF formulation — sequence/transform/
    slice — is interpreted in Spark and measured ~2x slower despite being
    shuffle-free; the shuffle here carries token-sized rows keyed by
    doc_id and is cheap.)"""
    words = F.split(F.trim(F.col(text_col)), " ")
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("pos", "word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("word", j).over(w) for j in range(1, n)]
    complete = leads[-1].isNotNull() if leads else F.lit(True)
    return (
        tok.select(
            "doc_id",
            F.concat_ws(" ", "word", *leads).alias("shingle"),
            complete.alias("complete"),
        )
        .filter("complete AND length(shingle) > 0")
        .select("doc_id", "shingle")
        .distinct()
    )


def _jaccard(
    inter: DataFrame, sizes_a: DataFrame, sizes_b: DataFrame,
    a: str, b: str, threshold: float,
) -> DataFrame:
    """Pairs ``(a, b, n_inter)`` with their exact ``jaccard`` >= threshold:
    the union by inclusion-exclusion from each side's per-doc shingle
    counts ``sizes_*`` (doc_id, count). The size joins carry no broadcast
    hint — AQE picks the join from the sizes' runtime bytes."""
    n_i = F.col("n_inter")
    return (
        inter.join(sizes_a.toDF(a, "n_a"), a)
        .join(sizes_b.toDF(b, "n_b"), b)
        .withColumn("jaccard", n_i / (F.col("n_a") + F.col("n_b") - n_i))
        .filter(F.col("jaccard") >= threshold)
    )


def _verify(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame,
    a: str, b: str, threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard verify of candidate pairs ``cand`` (a, b):
    the shingles each pair shares, counted by joining ``sh_a`` on ``a``
    and ``sh_b`` on (``b``, shingle). The verify touches candidate pairs
    only, never all pairs."""
    inter = (
        sh_a.withColumnRenamed("doc_id", a)
        .join(cand, a)
        .join(sh_b.select(F.col("doc_id").alias(b), "shingle"), [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count("*").alias("n_inter"))
    )
    sizes_a, sizes_b = (sh.groupBy("doc_id").count() for sh in (sh_a, sh_b))
    return _jaccard(inter, sizes_a, sizes_b, a, b, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity >= threshold.

    Classic candidate-join: pairs sharing >= 1 shingle, intersection from
    the self-join, union by inclusion-exclusion. Scale: the self-join key
    is the shingle — hot shingles explode quadratically, so a production
    run FIRST drops stop-shingles (document frequency cap, here df<=100)
    — the same move as CCNet/Gopher dedup pipelines."""
    # the tokenize+shingle pipeline feeds FOUR consumers (df-cap scan,
    # both self-join sides, doc sizes) — left lazy it executes four
    # times; one eager checkpoint computes it once (minhash_lsh makes
    # the same move)
    sh = shingle(df, n, text_col, id_col).localCheckpoint(eager=True)
    # stop-shingle cap: hot shingles contribute pairs quadratically
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") <= 100)
        .select("shingle")
    )
    sh = sh.join(rare, "shingle", "left_semi")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").count()
    return _jaccard(inter, sizes, sizes, "id_a", "id_b", threshold).select(
        "id_a", "id_b", "n_inter", "jaccard"
    )


def _lsh_side(
    df: DataFrame, num_perm: int, bands: int, n: int,
    text_col: str, id_col: str, hash_fn: str,
) -> tuple[DataFrame, DataFrame]:
    """One side of a MinHash-LSH join: its shingles, eagerly checkpointed
    (they feed the signatures AND the exact verify — left lazy, the
    tokenize+shingle pass runs once per consumer), and its
    (doc_id, band, band_hash) bucket rows. Both LSH operators route here,
    so their bucket spaces can never fork (CLAUDE.md: never fork logic).

    Signatures: num_perm permutations simulated as hash64(perm_salt ||
    shingle); signature = per-doc min per permutation. One explode + one
    groupBy; all hashing JVM-side. ``hash_fn="md5"`` makes signatures
    DuckDB-reproducible (contract oracle); "xx" (xxhash64) is the fast
    default. Scale: the signature shuffle carries (doc_id, 8*num_perm
    bytes) — constant per doc regardless of document size. num_perm=16
    with 4-row bands gives the standard S-curve around J~0.5 (b=4,
    r=4)."""
    sh = shingle(df, n, text_col, id_col).localCheckpoint(eager=True)
    if hash_fn == "md5":
        # Kirsch-Mitzenmacher two-hash family: ONE md5 per shingle,
        # perm_i = h1 + i*h2 with h1 52-bit / h2 40-bit slices (sum
        # stays far below 2^63 — no overflow on either engine; ANSI
        # Spark and DuckDB both error on bigint overflow). 16 md5
        # calls per shingle -> 1 measured this as the minhash hot cost.
        md5 = F.md5(F.col("shingle"))
        hashed = sh.select(
            "doc_id",
            F.conv(F.substring(md5, 1, 13), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(md5, 14, 10), 16, 10)
            .cast("long")
            .alias("h2"),
        )
        aggs = [
            F.min(F.col("h1") + i * F.col("h2")).alias(f"mh_{i}")
            for i in range(num_perm)
        ]
    else:
        hashed = sh
        aggs = [
            F.min(
                hash64(F.concat(F.lit(f"p{i}:"), F.col("shingle")), hash_fn)
            ).alias(f"mh_{i}")
            for i in range(num_perm)
        ]
    sig = hashed.groupBy("doc_id").agg(*aggs)
    rows_per_band = num_perm // bands
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh_{b * rows_per_band + r}")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                hash64_multi(cols, hash_fn).alias("band_hash"),
            )
        )
    buckets = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_hash").alias("band_hash"),
    )
    return sh, buckets


def minhash_lsh_candidates(
    df: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """MinHash + LSH banding near-dup detection: band-bucket join for
    candidates, exact n-gram Jaccard verify.

    Scale: candidates come from groupBy(band, band_hash) buckets —
    quadratic blowup is bounded per bucket, and the verify join touches
    only candidate pairs, never all pairs."""
    sh, buckets = _lsh_side(df, num_perm, bands, n, text_col, id_col, hash_fn)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    return _verify(cand, sh, sh, "id_a", "id_b", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash_near_dup(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit simhash, 4x16-bit band buckets for
    candidates (pigeonhole: any pair within hamming distance 3 shares at
    least one exact band; wider distances are caught probabilistically),
    then exact popcount verify <= max_hamming.

    Scale: same bucket-join shape as MinHash-LSH — quadratic work is
    bounded per 16-bit-band bucket."""
    sig = simhash64(df, text_col, id_col, hash_fn)
    bands = []
    for b in range(4):
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
        )
    buckets = sig.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("bk")
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.band_val").alias("band_val"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def _hashed_bow_counts(
    df: DataFrame,
    dim: int,
    text_col: str,
    id_col: str,
    hash_fn: str,
) -> DataFrame:
    """Per-doc hashed-BoW bucket counts as ``dim`` int columns b0..b{dim-1}
    (one explode + one groupBy with map-side partial agg)."""
    words = F.split(F.trim(F.col(text_col)), " ")
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words).alias("token")
    ).filter(F.length("token") > 0)
    # materialize the bucket in its own projection: inlining the hash
    # tree into all ``dim`` aggregate conditions duplicates it dim times
    # in the generated update method (med5's conv/substring tree blows
    # Janino's 64KB method limit into interpreted fallback)
    tok = tok.select(
        "doc_id", F.pmod(hash64(F.col("token"), hash_fn), F.lit(dim)).alias("bkt")
    )
    return tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("bkt") == i, 1).otherwise(0)).alias(f"b{i}")
            for i in range(dim)
        ]
    )


def hashed_bow_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Cheap text embedding: hashed bag-of-words — tokens bucketed by
    hash64 mod dim, L2-normalized counts. One explode + one groupBy
    with ``dim`` codegen aggregates; the embedding column then feeds the
    similarity operators unchanged (a real model swaps in via the same
    (id, array<float>) contract)."""
    counts = _hashed_bow_counts(df, dim, text_col, id_col, hash_fn)
    vec = F.array(*[F.col(f"b{i}").cast("double") for i in range(dim)])
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
        )
    )
    return counts.select(
        "doc_id",
        F.transform(
            vec, lambda x: (x / F.greatest(norm, F.lit(1e-12))).cast("float")
        ).alias("embedding"),
    )


def _make_md5_embed_kernel(
    dim: int,
    id_col: str,
    text_col: str,
    memo_cap: int = 200_000,
    memo: dict | None = None,
):
    """Factory for the Arrow-batched md5 hashed-BoW kernel (tokenize ->
    md5 bucket counts -> float32 normalize) -> ``(doc_id, embedding)``,
    value-identical to hashed_bow_embedding(hash_fn="md5"): counts are
    exact integers, the norm is the same sequential left fold
    (_lf_sq_rows), same float32 cast, same md5-60bit bucket. The
    token->bucket memo is cleared whenever it exceeds ``memo_cap``
    (checked per batch) so an adversarial-vocab shard can't bloat a
    long-lived executor worker; ``memo`` is injectable so tests can
    observe the bound directly."""

    def embed(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        bucket_of: dict[str, int] = {} if memo is None else memo
        for pdf in batches:
            if len(bucket_of) > memo_cap:
                bucket_of.clear()
            ids, rows = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = str(text).strip(" ").split(" ")
                counts = np.zeros(dim, dtype=np.float64)
                seen = False
                for w in toks:
                    if not w:
                        continue
                    seen = True
                    b = bucket_of.get(w)
                    if b is None:
                        b = (
                            int(
                                hashlib.md5(w.encode()).hexdigest()[:15],
                                16,
                            )
                            % dim
                        )
                        bucket_of[w] = b
                    counts[b] += 1
                if not seen:
                    continue  # no tokens -> no embedding row
                ids.append(int(did))
                rows.append(counts)
            if not ids:
                continue
            C = np.vstack(rows)
            norm = np.sqrt(_lf_sq_rows(C))
            E32 = (C / np.maximum(norm, 1e-12)[:, None]).astype(np.float32)
            yield pd.DataFrame({"doc_id": ids, "embedding": list(E32)})

    return embed


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
    n_planes: int = 16,
    multiprobe: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: hashed-BoW embed, SRP-LSH bucket
    for candidates, exact cosine verify >= threshold. The scale path for
    semantic dedup: candidate volume ~ corpus / 2^n_planes per bucket.

    One SRP table of ``n_planes`` planes from the shared similarity
    code: the embedding is coded ONCE (_lsh_codes, eagerly
    checkpointed) and both self-join sides explode that one relation,
    then _score computes the cosine. 16 planes shrink buckets 256x vs 8
    planes (defusing the per-bucket quadratic blowup at corpus scale);
    recall is held by multi-probe — the probe side also probes every
    bucket at Hamming distance 1, so any pair whose sign vectors differ
    in at most one plane is still a candidate.

    The md5 contract variant embeds in one Arrow kernel pass
    (_make_md5_embed_kernel: md5 exists only as a conv/substring
    expression tree JVM-side); xxhash64 uses hashed_bow_embedding."""
    if hash_fn == "md5":
        # the single parquet file of documents would give one input
        # split — repartition so every core gets a slice
        emb = (
            df.select(F.col(id_col), F.col(text_col))
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .mapInPandas(
                _make_md5_embed_kernel(dim, id_col, text_col),
                schema="doc_id long, embedding array<float>",
            )
        )
    else:
        emb = hashed_bow_embedding(df, dim, text_col, id_col, hash_fn)
    coded = _lsh_codes(emb, "doc_id", "embedding", dim, n_planes, 1)
    a = _lsh_probes(
        coded, ("query_id", "qvec", "qn"), n_planes, 1, int(multiprobe)
    )
    b = _lsh_probes(coded, ("neighbor_id", "cvec", "cn"), n_planes, 1, 0)
    pairs = a.join(b.hint("shuffle_hash"), ["table", "bucket"]).filter(
        F.col("query_id") < F.col("neighbor_id")
    )
    return (
        _score(pairs, dim)
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_solve_max_edges: int = 100_000,
) -> DataFrame:
    """Near-dup cluster resolution: connected components over a pair
    list (the step a real dedup pipeline runs after LSH — pairs alone
    over-delete when A~B and B~C but A!~C). Iterative min-label
    propagation in pure DataFrame ops: each round every node takes the
    min label among itself and its neighbors; converges in O(component
    diameter) rounds (checked per round, bounded by ``max_iter``).

    Returns (doc_id, cluster_id) for every node that appears in a pair;
    cluster_id is the minimum doc_id reachable — the canonical keeper,
    matching exact_dedup's min-id survivor rule.

    Scale, two regimes gated by the EXACT edge count (observed during
    the edge checkpoint, so the decision costs no extra job):

    - ``<= driver_solve_max_edges`` (default 100k ~ a few MB): one
      collect + driver union-find. After LSH, near-dup edges are a
      sliver of the corpus, and O(diameter) scheduled rounds cost more
      than the data — the same bounded-metadata trade as a broadcast
      join.
    - larger: iterative min-label propagation; each round is one
      equi-join + one groupBy, shuffle volume O(edges), labels
      localCheckpoint'ed per round to truncate lineage (swap for
      ``checkpoint`` on a cluster to survive executor loss). Each
      round is exactly ONE Spark job: the previous label rides through
      the groupBy (max over the self branch), so the changed-count is
      a column comparison observed DURING the checkpoint action
      instead of a second per-round join + count job."""
    import warnings

    from pyspark.sql import Observation

    # checkpoint the pair list BEFORE mirroring: the union's two
    # branches (and every round's join) would each re-execute the
    # possibly-expensive upstream pair pipeline otherwise; the edge
    # count for the small-graph fast path is observed in the same job
    obs0 = Observation("cc_edges")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # near-dup edge lists are typically a sliver of the corpus; when the
    # list is small, single-partition rounds dodge the per-iteration
    # overhead of scheduling a full shuffle's worth of empty tasks (a
    # genuinely large graph keeps its parallelism)
    n_edges = obs0.get["n"]
    node_t = edges.schema["src"].dataType
    if n_edges <= driver_solve_max_edges:
        # Near-dup edge lists after LSH are a sliver of the corpus; when
        # the EXACT observed count fits comfortably on the driver
        # (100k edges ~ a few MB), a union-find replaces O(diameter)
        # distributed rounds (each a scheduled job) with one collect —
        # the same bounded-metadata move as a broadcast join. Identical
        # result: cluster_id = min reachable id.
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        cluster_min: dict = {}
        for n in parent:
            r = find(n)
            m = cluster_min.get(r)
            if m is None or n < m:
                cluster_min[r] = n
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("doc_id", node_t, False),
                StructField("cluster_id", node_t, False),
            ]
        )
        return pairs.sparkSession.createDataFrame(
            [(n, cluster_min[find(n)]) for n in parent], schema
        )
    n_parts = 1 if n_edges < 500_000 else und.rdd.getNumPartitions()
    if n_parts == 1:
        und = und.coalesce(1)
    labels = (
        und.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    changed = None
    for i in range(max_iter):
        # small-graph mode: broadcasting the label side turns the join
        # into a BHJ with no exchange — the only shuffle left per round
        # is the groupBy (AQE-coalesced to one partition). The scale
        # path keeps the plain equi-join: labels are O(nodes) there.
        lbl_side = F.broadcast(labels) if n_parts == 1 else labels
        nbr_min = und.join(lbl_side, und.dst == labels.node).select(
            und.src.alias("node"),
            F.col("label").alias("cand"),
            F.lit(None).cast(node_t).alias("old"),
        )
        merged = (
            labels.select(
                "node",
                F.col("label").alias("cand"),
                F.col("label").alias("old"),
            )
            .union(nbr_min)
            .groupBy("node")
            .agg(
                F.min("cand").alias("label"),
                # every node has exactly one non-null old (its self row)
                F.max("old").alias("old_label"),
            )
            .select(
                "node",
                "label",
                (F.col("label") != F.col("old_label")).alias("chg"),
            )
        )
        if n_parts == 1:
            merged = merged.coalesce(1)
        obs = Observation(f"cc_round_{i}")
        new_labels = merged.observe(
            obs, F.sum(F.col("chg").cast("long")).alias("n_chg")
        ).localCheckpoint(eager=True)
        changed = obs.get["n_chg"] or 0
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    if changed:
        warnings.warn(
            f"dedup_clusters: max_iter={max_iter} rounds elapsed with "
            f"{changed} labels still changing — a component with diameter "
            f"> {max_iter} exists and its cluster_ids are NOT a fixpoint; "
            "raise max_iter.",
            stacklevel=2,
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """64-bit SimHash per document: token hash bit-vote. Explode tokens,
    hash each, sum a +/-1 vote per bit position, reassemble the sign
    word. 64 aggregate expressions, all codegen. With ``hash_fn="md5"``
    the token hash is 60-bit, so bits 60-63 vote uniformly -1 and land 0
    — consistent on both engines, slightly shorter effective signature.

    Scale: same shape as minhash — one explode + one groupBy with
    fixed-width state."""
    words = F.split(F.trim(F.col(text_col)), " ")
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words).alias("token")
    ).filter(F.length("token") > 0)
    h = hash64(F.col("token"), hash_fn)
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit_{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"bit_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select("doc_id", sim.alias("simhash"))


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, pos, w) rows: the space-split tokens of each document,
    empty tokens dropped BEFORE numbering, so ``pos`` counts real tokens
    only and both engines number the same positions. The one token
    stream of the span operators (gram hashing and passage cutting)."""
    words = F.split(F.trim(F.col(text_col)), " ")
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("p0", "w"),
    ).filter(F.col("w") != "")
    w0 = Window.partitionBy("doc_id").orderBy("p0")
    return tok.select(
        "doc_id", (F.row_number().over(w0) - 1).alias("pos"), "w"
    )


def _token_grams(
    df: DataFrame,
    min_len: int,
    text_col: str,
    id_col: str,
    hash_fn: str,
) -> DataFrame:
    """(doc_id, pos, h) rows: one hash per ``min_len``-token gram over
    the ``_tokens`` stream — the shared front end of duplicate_passages
    and decontaminate (window lead, one doc_id shuffle; the
    winnow_fingerprints shape)."""
    tok = _tokens(df, text_col, id_col)
    wl = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w", j).over(wl) for j in range(1, min_len)]
    return (
        tok.select(
            "doc_id",
            "pos",
            hash64_multi([F.col("w"), *leads], hash_fn, sep=" ").alias("h"),
            leads[-1].isNotNull().alias("full"),
        )
        .filter("full")
        .drop("full")
    )


def _merge_islands(
    seeds: DataFrame, min_len: int, a_id: str = "id_a", b_id: str = "id_b"
) -> DataFrame:
    """Gaps-and-islands: seed matches on one (a, b, pos_a - pos_b)
    diagonal with consecutive pos_a merge into one maximal span."""
    wi = Window.partitionBy(a_id, b_id, "d").orderBy("pos_a")
    isl = seeds.withColumn("grp", F.col("pos_a") - F.row_number().over(wi))
    return (
        isl.groupBy(a_id, b_id, "d", "grp")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.max("pos_a").alias("a_end"),
            F.min("pos_b").alias("b_start"),
        )
        .select(
            a_id,
            b_id,
            F.col("a_start").cast("long").alias("a_start"),
            F.col("b_start").cast("long").alias("b_start"),
            (F.col("a_end") - F.col("a_start") + min_len)
            .cast("long")
            .alias("length"),
        )
    )


def duplicate_passages(
    df: DataFrame,
    min_len: int = 8,
    max_gram_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """EXACT duplicated-passage detection (the ExactSubstr move of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): maximal runs of >= ``min_len`` consecutive tokens shared
    verbatim between two documents. Near-dup operators (minhash/
    simhash) score whole documents; this finds the copied SPANS — the
    unit a curation pipeline actually cuts.

    Algorithm, all JVM codegen (suffix arrays don't distribute; rolling
    gram matching does):
    1. re-indexed token stream per doc (empty tokens dropped BEFORE
       indexing, so both engines number the same positions),
    2. hash every ``min_len``-token gram (window lead, one shuffle on
       doc_id — the winnow_fingerprints shape),
    3. df-capped self-join on the gram hash: a boilerplate gram in m
       docs is an m^2 join key, so grams in > ``max_gram_df`` docs are
       dropped first (the ngram_jaccard / winnow_overlap lesson),
    4. gaps-and-islands merge: seed matches on one (id_a, id_b,
       pos_a - pos_b) diagonal with consecutive pos_a are ONE maximal
       span (pos_a - row_number() island key, then min/max per island).

    Output: (id_a, id_b, a_start, b_start, length) per maximal span,
    positions in filtered-token coordinates, id_a < id_b.

    Scale: shuffle rows are token-sized through step 2, seed-sized
    after; nothing is all-pairs (bounded by max_gram_df per gram), and
    island merging shuffles only matched seeds on (id_a, id_b, d)."""
    grams = _token_grams(df, min_len, text_col, id_col, hash_fn)
    rare = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df_"))
        .filter(F.col("df_") <= max_gram_df)
        .select("h")
    )
    g = grams.join(rare, "h", "left_semi").localCheckpoint(eager=True)
    a = g.select(
        F.col("doc_id").alias("id_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = g.select(
        F.col("doc_id").alias("id_b"), F.col("pos").alias("pos_b"), "h"
    )
    seeds = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("d"),
        )
    )
    return _merge_islands(seeds, min_len)


def cut_duplicate_passages(
    df: DataFrame,
    min_len: int = 8,
    max_gram_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
    spans: DataFrame | None = None,
) -> DataFrame:
    """The acting half of ``duplicate_passages``: REMOVE every detected
    span from the higher-id document of its pair (the min-id doc keeps
    its copy — the same survivor rule as exact_dedup), rebuild the text
    from surviving tokens, and report kept/cut counts for audit.

    Overlapping spans from different pairs union before cutting (a doc
    that is id_b in several pairs loses the union of its b-side spans;
    its id_a-role spans are never cut). A doc whose every token is cut
    drops out entirely — full containment degenerates to document
    dedup, which is correct.

    Scale: the expensive rebuild (token explode -> window renumber ->
    left_anti -> groupBy collect_list) runs ONLY over documents that
    actually lost a span — df is left_semi'd against the cut-doc ids
    BEFORE tokenization. Untouched documents (the ~99% at corpus scale)
    exit through a pure shuffle-free projection that reproduces the
    rebuilt form exactly (trim + collapse space runs == split/drop-
    empty/join for the space-tokenized contract). Span->position explode
    is output-sized; the groupBy array sort/join runs once per CUT
    document — the only higher-order functions in the plan, on
    cut-slice data, never in the full-corpus hot path."""
    if spans is None:
        spans = duplicate_passages(
            df, min_len, max_gram_df, text_col, id_col, hash_fn
        )
    # cuts is consumed twice (cut-doc id derivation + the left_anti);
    # checkpoint so the span pipeline executes once, not per consumer
    cuts = spans.select(
        F.col("id_b").alias("doc_id"),
        F.explode(
            F.sequence(
                F.col("b_start"), F.col("b_start") + F.col("length") - 1
            )
        ).alias("pos"),
    ).distinct().localCheckpoint(eager=True)
    cut_ids = cuts.select("doc_id").distinct()

    # rebuild branch: ONLY the cut-doc slice is tokenized/renumbered
    touched = df.join(
        cut_ids.withColumnRenamed("doc_id", id_col), on=id_col,
        how="left_semi",
    )
    tok = _tokens(touched, text_col, id_col)
    # ONE definition of the collapsed-text projection and its spaces+1
    # token count, used by BOTH branches below — the pass-through's
    # byte-equality with the rebuild depends on these staying in
    # lockstep, so they must not be defined twice
    clean = F.regexp_replace(F.trim(F.col(text_col)), " +", " ")
    n_tok = F.when(clean == "", F.lit(0)).otherwise(
        F.length(clean) - F.length(F.regexp_replace(clean, " ", "")) + 1
    )
    # n_orig via the pure projection-count — NOT a second pass over
    # tok: that would duplicate the explode/window subtree in the plan
    orig = touched.select(
        F.col(id_col).alias("doc_id"), n_tok.cast("long").alias("n_orig")
    )
    kept = tok.join(cuts, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("clean_text"),
    )
    cut_out = rebuilt.join(orig, "doc_id").select(
        "doc_id",
        F.col("n_kept").cast("long").alias("n_kept"),
        (F.col("n_orig") - F.col("n_kept")).cast("long").alias("n_cut"),
        "clean_text",
    )

    # pass-through branch: untouched docs never shuffle. The shared
    # `clean` projection is byte-equal to the rebuild's space-join:
    # trim then collapse runs of spaces (split-on-' ' drops empties;
    # join-with-' ' restores single spacing). Zero-token docs vanish,
    # as in the rebuild path.
    untouched = (
        df.join(
            cut_ids.withColumnRenamed("doc_id", id_col), on=id_col,
            how="left_anti",
        )
        .select(
            F.col(id_col).alias("doc_id"),
            n_tok.cast("long").alias("n_kept"),
            F.lit(0).cast("long").alias("n_cut"),
            clean.alias("clean_text"),
        )
        .filter(F.col("n_kept") > 0)
    )
    return cut_out.unionByName(untouched)


def decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Benchmark DECONTAMINATION: find every maximal run of >=
    ``min_len`` consecutive tokens a training document shares verbatim
    with an evaluation-set string — the train/test-overlap check every
    serious pretraining pipeline runs (GPT-3 appendix C, The Pile,
    FineWeb all report it). Returns (doc_id, bench_id, doc_start,
    bench_start, length) spans; drop or cut the hits with
    ``cut_duplicate_passages``-style filtering, or left_anti the doc
    ids out entirely.

    Scale shape: the corpus side streams its token grams ONCE (the
    duplicate_passages front end); the benchmark side — small by nature
    (thousands of eval strings vs billions of docs) — is BROADCAST, so
    the match is a map-side hash join with no corpus shuffle beyond the
    gram window; island merging shuffles only actual hits. No df cap is
    needed: per-gram fanout is the contamination being measured."""
    doc_g = _token_grams(df, min_len, text_col, id_col, hash_fn).select(
        F.col("doc_id"), F.col("pos").alias("pos_a"), "h"
    )
    bench_g = _token_grams(
        bench_df, min_len, bench_text_col, bench_id_col, hash_fn
    ).select(
        F.col("doc_id").alias("bench_id"), F.col("pos").alias("pos_b"), "h"
    )
    seeds = doc_g.join(F.broadcast(bench_g), "h").select(
        "doc_id",
        "bench_id",
        "pos_a",
        "pos_b",
        (F.col("pos_a") - F.col("pos_b")).alias("d"),
    )
    spans = _merge_islands(seeds, min_len, a_id="doc_id", b_id="bench_id")
    return spans.select(
        "doc_id",
        "bench_id",
        F.col("a_start").alias("doc_start"),
        F.col("b_start").alias("bench_start"),
        "length",
    )


def incremental_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Cross-snapshot near-dedup: find docs in a NEW crawl batch that
    near-duplicate any doc in the accumulated REFERENCE corpus — the
    merge step of an iterative crawl (each dump dedups against every
    prior dump; within-batch pairs are ``minhash_lsh_candidates``).

    Same MinHash/LSH machinery as the batch operator, but candidates
    come ONLY from new-bucket x ref-bucket joins — never new x new or
    ref x ref — so adding a dump costs O(new x matching buckets), not a
    re-dedup of the whole corpus.

    Scale (100 TB accumulated + a new dump): in production the ref side
    is the PERSISTED bucket/shingle tables written when earlier dumps
    were merged (pay the signature pass once per dump, bucket-join each
    later dump against it — the same pay-the-shuffle-once-at-write move
    as sources/io.write_bucketed; bucketing both tables by band_hash
    makes the candidate join exchange-free). The verify join touches
    candidate pairs only; AQE picks the join for each side's per-doc
    size relation from its runtime bytes.

    Returns (new_id, ref_id, jaccard) with jaccard >= threshold.
    """
    sh_new, bk_new = _lsh_side(
        new_df, num_perm, bands, n, text_col, id_col, hash_fn
    )
    sh_ref, bk_ref = _lsh_side(
        ref_df, num_perm, bands, n, text_col, id_col, hash_fn
    )
    cand = (
        bk_new.withColumnRenamed("doc_id", "new_id")
        .join(
            bk_ref.withColumnRenamed("doc_id", "ref_id"),
            ["band", "band_hash"],
        )
        .select("new_id", "ref_id")
        .distinct()
    )
    return _verify(cand, sh_new, sh_ref, "new_id", "ref_id", threshold).select(
        "new_id", "ref_id", "jaccard"
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-representative selection — the cut a near-dup pipeline
    actually applies: within every near-dup cluster keep ONE document
    (highest ``score_col``, ties to the smallest id) and drop the rest.
    Singleton documents (no cluster row) are their own cluster and are
    always kept.

    ``clusters`` is (id_col, cluster_id) as produced by
    :func:`dedup_clusters` — EDGE-sized (only docs that near-dup
    something), orders of magnitude smaller than the corpus, so it is
    broadcast.

    Scale shape (the cut_passages pass-through lesson): a single window
    over coalesce(cluster_id, id) would shuffle the WHOLE corpus to rank
    partitions that are 99% singletons. Instead the corpus splits into
    - the clustered slice (broadcast left-semi-shaped inner join) which
      alone pays the rank window — its size is bounded by the cluster
      relation, not the corpus; and
    - the singleton slice (broadcast left_anti) which exits through a
      pure projection, kept=true, zero exchange.
    Two broadcast-join passes over the scan, no corpus-sized shuffle
    (pinned by tests/test_textops.py::test_keep_best_plan_shape).

    Output: (id_col, cluster_id, kept) for every input document.
    """
    clusters = clusters.localCheckpoint(eager=True)  # 2 consumers below
    slim = docs.select(id_col, score_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    ranked = (
        slim.join(F.broadcast(clusters), id_col)
        .withColumn("kept", F.row_number().over(w) == F.lit(1))
        .select(id_col, "cluster_id", "kept")
    )
    singletons = slim.join(F.broadcast(clusters), id_col, "left_anti").select(
        F.col(id_col),
        F.col(id_col).alias("cluster_id"),
        F.lit(True).alias("kept"),
    )
    return ranked.unionByName(singletons)


def global_dup_spans(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Corpus-level duplicated-text spans: maximal runs of tokens covered
    by SOME >= ``min_len``-token substring that occurs at least twice
    anywhere in the corpus (other documents OR the same one — Lee et
    al.'s ExactSubstr cut unit). Complements :func:`duplicate_passages`,
    which reports per-PAIR spans and deliberately df-caps boilerplate
    grams (a gram in m docs is an m^2 join key): here the popular
    boilerplate is exactly what must surface, and it can, because the
    plan never joins occurrences pairwise —

    1. gram hashes (shared :func:`_token_grams` front end, one doc_id
       shuffle),
    2. ``count(*) >= 2`` per hash — a map-side-combining aggregate, one
       row per DISTINCT gram regardless of popularity (this is where the
       suffix-array formulation of ExactSubstr collapses to O(n) in
       Spark: adjacent-suffix LCP >= L is equivalent to "my L-gram
       occurs twice", and gram counting needs no global suffix sort),
    3. left_semi back onto the gram stream -> covered intervals
       [pos, pos+L-1],
    4. interval union per doc: running max of previous interval ends
       (window over the SAME doc_id partitioning — no extra exchange),
       break where a gap opens, sum-of-breaks island id, min/max per
       island.

    Output: (doc_id, span_start, span_end, n_tokens) per maximal
    covered span, positions in empty-filtered token coordinates, both
    bounds inclusive.
    """
    grams = _token_grams(df, min_len, text_col, id_col, hash_fn)
    dup_h = (
        grams.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    iv = grams.join(dup_h, "h", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + min_len - 1).alias("e")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "brk",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    isl = marked.withColumn(
        "grp", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        )
    )


def dup_coverage(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xx",
) -> DataFrame:
    """Per-document duplicated-token fraction: what share of a doc's
    tokens sit inside some >= ``min_len``-token substring that occurs
    at least twice in the corpus — the scalar signal a curation filter
    thresholds on (cut docs that are mostly boilerplate/copy), derived
    from :func:`global_dup_spans`.

    Scale: the span relation is output-sized (maximal spans only); its
    per-doc rollup is a map-side-combining groupBy, and the join back
    to the corpus token counts is id-keyed on two slim relations — the
    corpus text crosses the wire once, inside global_dup_spans.

    Output: (id_col, n_tokens, dup_tokens, dup_frac[4dp]); docs with no
    duplicated span report 0 / 0.0.
    """
    spans = global_dup_spans(df, min_len, text_col, id_col, hash_fn)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("dup_tokens")
    )
    n_tok = F.size(
        F.array_remove(F.split(F.trim(F.col(text_col)), " "), "")
    )
    totals = df.select(
        F.col(id_col).alias("doc_id"), n_tok.cast("long").alias("n_tokens")
    )
    joined = totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
            "dup_tokens"
        ),
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 4),
    ).otherwise(F.lit(0.0))
    return joined.withColumn("dup_frac", frac)


def bloom_new_docs(
    new: DataFrame,
    ref: DataFrame,
    key_col: str = "doc_sha",
    m_bits: int = 1 << 23,
    k: int = 7,
) -> DataFrame:
    """Incremental "which of these docs are genuinely new" against an
    accumulated reference corpus, with a broadcast BLOOM prefilter so
    the reference never shuffles per new dump.

    The plain formulation (new left_anti ref on the key) shuffles the
    reference's distinct keys on EVERY dump — at 10^12 accumulated docs
    that is the dominant cost of a daily increment. The bloom move:

    1. BUILD: one pass over ref's keys — each partition sets its k bit
       positions in a local numpy bitmap, the per-partition bitmaps
       (m_bits/8 bytes each, bounded metadata) OR-merge on the driver
       and broadcast once (~1 MB at the 2^23 default);
    2. PROBE: an Arrow pass over the new dump tests the k bits — a miss
       is DEFINITELY unseen (Bloom filters have no false negatives), so
       those rows exit through a pure filter, no join;
    3. VERIFY: only the possible-positives (false-positive rate
       ~(1-e^{-kn/m})^k, ~1% at 10 bits/key) join the reference
       (left_semi would keep dups; left_anti emits the survivors) — the
       join input is FP-sized, not dump-sized.

    Bit positions use Kirsch-Mitzenmacher double hashing over the two
    md5 halves (the repo's minhash precedent). NULL keys match nothing
    (anti-join semantics) — they skip the bloom and are kept. Output:
    the ``new`` rows whose key does not occur in ``ref`` — EXACTLY the
    left_anti result (pinned by tests).

    What the bloom buys, precisely: the NEW side of the verify join
    shrinks from dump-sized to FP-sized, and ref's distinct keys are
    computed and materialized ONCE (one checkpoint feeds both the
    build and the verify). The verify join still hashes ref's keys
    when above the broadcast threshold — at true incremental scale the
    accumulated key table is kept BUCKETED on the key
    (sources/io.write_bucketed) so its verify side is exchange-free.
    Driver memory for the build is bounded: the slim key relation
    coalesces to <= 64 partitions, one m_bits/8-byte bitmap each.
    """
    import numpy as np

    spark = new.sparkSession
    n_bytes = m_bits // 8
    ref_keys = (
        ref.select(key_col)
        .filter(F.col(key_col).isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # consumed by BOTH build and verify
    )

    def _positions(key: str) -> "np.ndarray":
        import hashlib

        d = hashlib.md5(key.encode("utf-8")).digest()
        h1 = int.from_bytes(d[:8], "big")
        h2 = int.from_bytes(d[8:], "big") | 1
        return np.array(
            [(h1 + i * h2) % m_bits for i in range(k)], dtype=np.int64
        )

    def build(batches):
        import pandas as pd

        bits = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            for key in pdf[key_col]:
                if key is None:
                    continue
                p = _positions(key)
                # bitwise_or.at, NOT bits[idx] |= ...: fancy-index
                # assignment silently drops duplicate byte indices
                # (two positions in one byte -> a lost bit -> a FALSE
                # NEGATIVE, the one failure a bloom must never have)
                np.bitwise_or.at(
                    bits, p >> 3, (1 << (p & 7)).astype(np.uint8)
                )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    n_build_parts = min(64, ref_keys.rdd.getNumPartitions() or 1)
    parts = ref_keys.coalesce(n_build_parts).mapInPandas(
        build, "bits binary"
    ).collect()  # bounded: <= 64 x m/8 bytes of metadata on the driver
    merged = np.zeros(n_bytes, dtype=np.uint8)
    for r in parts:
        merged |= np.frombuffer(r["bits"], dtype=np.uint8)
    bc = spark.sparkContext.broadcast(merged.tobytes())

    def probe(batches):
        import pandas as pd

        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            maybe = []
            for key in pdf[key_col]:
                if key is None:  # null matches nothing: definitely new
                    maybe.append(False)
                    continue
                p = _positions(key)
                maybe.append(
                    bool(np.all(bits[p >> 3] & (1 << (p & 7)) != 0))
                )
            out = pdf.copy()
            out["_maybe_seen"] = pd.Series(maybe, index=pdf.index)
            yield out

    from pyspark.sql.types import BooleanType, StructField, StructType

    # StructType.add MUTATES in place (CLAUDE.md) — build a fresh one
    schema = StructType(
        list(new.schema.fields) + [StructField("_maybe_seen", BooleanType())]
    )
    probed = new.mapInPandas(probe, schema=schema).localCheckpoint(
        eager=True  # two consumers below; the probe must not re-run
    )
    definite_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    survivors = (
        probed.filter(F.col("_maybe_seen"))
        .drop("_maybe_seen")
        .join(ref_keys, key_col, "left_anti")
    )
    return definite_new.unionByName(survivors)
