"""End-to-end extraction job (SURVEY.md §3.4):

    read input -> anti-join lineage (resume, J2)
    -> salted repartition by url-hash (north rule skew defense)
    -> fused extract stage (html + pdf paths)
    -> dynamic-partition-overwrite write + lineage sidecar rows

Scale design notes (the parts that must survive 1000 executors / 100 TB):

- ``part_id = pmod(xxhash64(url), n_parts)`` is the UNIT OF RESUME — a
  deterministic logical shard, stable across runs and cluster sizes,
  uniform by construction (url hashing is the salt; giant-document skew
  cannot concentrate because neighboring urls scatter).
- the only wide exchange before the write is ``repartition(part_id)``;
  everything upstream of it is a narrow scan, and the fat ``html`` bytes
  cross that one exchange exactly once, already column-pruned to
  (url, html, part_id). AQE coalesces its buckets by bytes, so the
  extract stage (the only Python in the job) runs as many tasks as the
  wave's bytes need, each paying a Python task's fixed cost.
- waves: wave ``i`` of ``waves`` is the parts with ``part_id % waves ==
  i`` that are not done yet. Like ``part_id`` from ``url``, membership
  depends only on ``(part_id, waves)``, so a resumed run with the same
  ``waves`` finishes the remaining waves of the original plan. Each wave
  is committed atomically (dynamic partition overwrite) and its lineage
  rows appended AFTER the data commit. A crash mid-wave leaves un-marked
  partitions that the next run fully rewrites — no dup, no loss
  (tests/test_resume.py kills between waves and asserts this).
- lineage aggregates are computed by reading BACK the written parquet
  (column-pruned: part_id + tiny columns), so metrics reflect what was
  actually committed, not what the stage thought it produced; the
  lineage rows are built from it in the JVM and appended uncollected.
  A wave's checkpoint is one aggregate plus the append (two Spark jobs):
  the read-back rows (weight 1) are unioned with one weight-0 row per
  part of the wave before the one ``groupBy(part_id)``, so every part
  gets a row with no join. A part with no input rows has no partition
  directory; only its weight-0 row counts, so it is marked done with 0
  docs and a resume does not run its wave again.
  The read-back opens only the wave's own part directories, listed on
  the driver (no listing job), and the job's tables are read with their
  declared schemas: a wave's checkpoint costs the same whichever wave it
  is, and no read infers a schema.
- the wave's ``observe`` also counts its errors by class (the prefix of
  ``error`` before ':'), stored as ``err.<class>`` in lineage ``metrics``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .operators import extract_stage
from .sources import TableIO

EXTRACTED_TABLE = "extracted"
LINEAGE_TABLE = "lineage"
DEFAULT_N_PARTS = 64
# the error-string prefixes of oracle.extract_document; any other error is
# a clause-validation message
ERROR_CLASSES = ("too_large", "empty", "bad_container", "parse_error",
                 "bad_encoding", "unknown_kind")
_ERROR_CLASS = "substring_index(error, ':', 1)"
# a wave's observed metrics, SQL text like lineage_rows' columns: docs,
# errors, chars, and errors per class as ``err.<class>``
OBSERVED = (
    "count(1) AS obs_docs",
    "count(error) AS obs_errs",
    "sum(coalesce(n_chars, 0)) AS obs_chars",
    *(f"count_if({_ERROR_CLASS} = '{c}') AS `err.{c}`" for c in ERROR_CLASSES),
    f"count_if({_ERROR_CLASS} NOT IN {ERROR_CLASSES!r}) AS `err.clause`",
)


@dataclass
class RunStats:
    run_id: str
    parts_total: int
    parts_done_before: int
    parts_processed: int
    docs_processed: int
    waves_run: int


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        "part_id", F.expr(f"CAST(pmod(xxhash64(url), {n_parts}) AS INT)")
    )


def done_parts(io: TableIO, run_id: str) -> list[int]:
    if not io.exists(LINEAGE_TABLE):
        return []
    rows = (
        io.read(LINEAGE_TABLE, schemas.LINEAGE)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("part_id")
        .collect()
    )
    return sorted({r.part_id for r in rows})


def extract_wave(salted: DataFrame, wave: list[int], n_parts: int) -> DataFrame:
    """The extracted rows of one wave's parts. The one wide exchange
    co-locates each resume shard; AQE sizes its tasks by bytes. part_id is
    deterministic from url, so it is recomputed on the result side instead
    of being carried through the stage (the stage schema stays pure)."""
    staged = (
        salted.filter(f"part_id IN ({', '.join(map(str, wave))})")
        .select("url", "html", "part_id")
        .repartition("part_id")
    )
    return with_part_id(extract_stage(staged), n_parts)


def lineage_rows(io: TableIO, wave: list[int], run_id: str, started: float,
                 finished: float, observed: dict[str, float]) -> DataFrame:
    """The wave's ``schemas.LINEAGE`` rows, one per part of the wave: one
    aggregate over the read-back of the wave's partitions of ``extracted``
    (weight 1 per row) and one weight-0 row per part of the wave, plus
    literal columns, planned in the JVM. A part with no committed rows has
    no partition; only its weight-0 row counts, so it reads 0 docs and is
    done too, and a resume never runs it again. ``metrics`` holds the wall
    time and the ``observed`` ones."""
    metrics = ", ".join(f"'{k}', {float(v)!r}D" for k, v in
                        {"wall_sec": finished - started, **observed}.items())
    weights = io.spark.range(1, numPartitions=1).selectExpr(
        f"explode(array({', '.join(map(str, wave))})) AS part_id", "0 AS w")
    return (
        io.read_partitions(EXTRACTED_TABLE, schemas.EXTRACTED_WITH_PART,
                           "part_id", wave)
        .selectExpr("part_id", "1 AS w", "n_chars", "error")
        .unionByName(weights, allowMissingColumns=True)
        # keyed (run_id, part_id), the rest in schemas.LINEAGE order; SQL
        # text is one parse per column, where Column calls cost py4j round
        # trips per function and literal
        .groupBy(F.lit(run_id).alias("run_id"), "part_id")
        .agg(*map(F.expr, (
            "sum(w) AS n_docs",
            "sum(coalesce(n_chars, 0)) AS n_bytes",
            "sum(if(error IS NULL, w, 0)) AS n_ok",
            "sum(if(error IS NULL, 0, w)) AS n_err",
            "'done' AS status",
            f"timestamp_seconds({started!r}D) AS started_at",
            f"timestamp_seconds({finished!r}D) AS finished_at",
            # the cast makes the map's values nullable, as the table's are
            f"CAST(map({metrics}) AS MAP<STRING, DOUBLE>) AS metrics",
        )))
    )


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    out_root: str,
    run_id: str,
    n_parts: int = DEFAULT_N_PARTS,
    waves: int = 1,
    max_waves: int | None = None,
) -> RunStats:
    """Run (or resume) the extraction job.

    ``waves``: how many commit batches the parts fall into (1 = single
    atomic job, max throughput; >1 = incremental checkpoints). Wave ``i``
    is the not-yet-done parts with ``part_id % waves == i``, so a resume
    with the same ``waves`` runs only the original plan's remaining
    waves. ``max_waves`` stops early after that many waves — the test
    harness uses it to simulate a mid-run kill.
    """
    from .session import tune_for_fat_binary_scan

    tune_for_fat_binary_scan(spark)
    io = TableIO(spark, out_root)
    already = set(done_parts(io, run_id))
    wave_lists = [
        [p for p in range(i, n_parts, waves) if p not in already]
        for i in range(waves)
    ]
    wave_lists = [w for w in wave_lists if w]
    docs_total = 0
    waves_run = 0
    salted = with_part_id(input_df, n_parts)

    for wave in wave_lists:
        if max_waves is not None and waves_run >= max_waves:
            break
        started = time.time()
        # A4 analogue (SURVEY.md §2.4): df.observe rides the write job —
        # zero extra passes — and lands in the lineage metrics map
        obs = Observation()
        results = extract_wave(salted, wave, n_parts).observe(
            obs, *map(F.expr, OBSERVED))
        io.overwrite_partitions(results, EXTRACTED_TABLE, "part_id")
        observed = {k: float(v or 0) for k, v in obs.get.items()}

        # appended only after the data commit above; the committed doc
        # count rides the append, no extra pass
        docs = Observation()
        lineage = lineage_rows(io, wave, run_id, started, time.time(), observed)
        io.append(lineage.observe(docs, F.expr("sum(n_docs) AS n_docs")), LINEAGE_TABLE)
        docs_total += int(docs.get["n_docs"] or 0)
        waves_run += 1

    return RunStats(
        run_id=run_id,
        parts_total=n_parts,
        parts_done_before=len(already),
        parts_processed=sum(len(w) for w in wave_lists[: waves_run]),
        docs_processed=docs_total,
        waves_run=waves_run,
    )
