"""Seeded parquet corpora for the extraction benchmark.

Rows come from ``pdf_parser_spark.synth.make_row``; the seed only offsets
the row index, so two seeds never share a url and the kind mix (which
``make_row`` derives from ``i % 20``) is the same for every seed.

The files are written from this single process with a pinned number of
files and row groups, so the job's input partitioning depends only on the
corpus, never on which Spark session happened to write it.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# index stride between seeds: a multiple of 160, the longest period in
# make_row (every 8th pdf row is a clause-validation error), so every seed
# sees the same row-kind pattern
SEED_STRIDE = 100_000
# seeds are taken modulo this, because make_row's timestamp overflows
# datetime past index ~1.8e9; seeds equal modulo N_SEEDS share a corpus
N_SEEDS = 10_000
# the warm-up slice lives in the seed's stride, past any corpus row
WARM_OFFSET = 90_000
WARM_ROWS = 40
N_FILES = 16
ROW_GROUPS_PER_FILE = 4

SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    kinds: tuple[str, ...] | None  # None = every kind, in the synth mix
    rows: int
    waves: int = 1
    stop_after_waves: int | None = None  # kill after N waves, then resume


WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_mixed", None, 800),
        Workload("extract_resume", ("html",), 1000, waves=2, stop_after_waves=1),
    )
}


def row_indices(seed: int, kinds: tuple[str, ...] | None, n: int, offset: int = 0) -> list[int]:
    """The first ``n`` synth row indices of ``kinds`` in the seed's stride."""
    from pdf_parser_spark.synth import kind_for

    i = seed % N_SEEDS * SEED_STRIDE + offset
    out: list[int] = []
    while len(out) < n:
        if kinds is None or kind_for(i) in kinds:
            out.append(i)
        i += 1
    return out


def write_corpus(path: str, indices: list[int]) -> dict:
    """Write the rows for ``indices`` as N_FILES parquet files and return
    the corpus description: rows, bytes, kind mix and content hash."""
    from pdf_parser_spark.synth import kind_for, make_row

    os.makedirs(path, exist_ok=True)
    digest = hashlib.sha256()
    kinds = Counter(kind_for(i) for i in indices)
    n_files = min(N_FILES, len(indices))
    for f in range(n_files):
        chunk = indices[f * len(indices) // n_files : (f + 1) * len(indices) // n_files]
        rows = [make_row(i) for i in chunk]
        for r in rows:
            for v in (r["url"], r["warc_ts"].isoformat(), r["text"], r["lang"]):
                digest.update(v.encode())
                digest.update(b"\0")
            digest.update(len(r["html"]).to_bytes(8, "little"))
            digest.update(r["html"])
        table = pa.Table.from_pylist(rows, schema=SCHEMA)
        pq.write_table(
            table,
            os.path.join(path, f"part-{f:05d}.parquet"),
            row_group_size=-(-len(rows) // ROW_GROUPS_PER_FILE),
        )
    return {
        "rows": len(indices),
        "bytes": sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        ),
        "files": n_files,
        "row_groups_per_file": ROW_GROUPS_PER_FILE,
        "kinds": dict(sorted(kinds.items())),
        "hash": digest.hexdigest(),
    }


def read_rows(path: str) -> list[tuple[str, bytes]]:
    """(url, blob) pairs of a corpus written by ``write_corpus``."""
    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
