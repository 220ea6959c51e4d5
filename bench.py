"""Benchmark harness (driver contract: prints ONE JSON line).

Measures, in one process at local[min(8, nproc)]:
1. per-query MEDIAN-of-3 wall — the decidable signal.
   This VM shows up to 2x run-to-run variance at >= 16 advertised
   cores (CLAUDE.md / BENCH/BASELINE.md), so local[32] per-query
   numbers cannot attribute a round-over-round regression; <= 8 cores
   is the regime the repo's own measurement notes mandate. The JSON
   carries median AND [min, max] spread per query so a future delta
   can be judged against the observed band, not a single draw.
2. throughput of the real extraction job (``pipeline.run_extraction``,
   docs/sec, median-of-3 after one warm-up job) in the same session.

    python bench.py
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_DOCS (default 2000),
SPARK_GRAFT_BENCH_MEASURE_CORES (default min(8, nproc)),
SPARK_GRAFT_BENCH_SKIP_EXTRACTION=1 to run queries only.

Headline ``value`` = sum of the per-query medians + the extraction
median wall. (Rounds 1-3 reported a local[32]-derived total; round 4
switched after the round-3 judge found the local[32] per-query signal
undecidable — see BENCH/BASELINE.md.)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _median(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


def bench_queries(
    spark, sf_dir: str, repeats: int = 3, repeat_cap_sec: float = 30.0
) -> dict[str, dict]:
    """Per-query wall stats over ``repeats`` runs. Queries slower than
    ``repeat_cap_sec`` are not repeated (their signal already dwarfs
    the noise; median == the single sample)."""
    import __spark_entry__ as entrymod

    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        times: list[float] = []
        for _ in range(repeats):
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = time.time() - t0
            times.append(dt)
            if dt > repeat_cap_sec:
                break
        out[name] = {
            "median": _median(times),
            "spread": [round(min(times), 3), round(max(times), 3)],
            "runs": [round(t, 3) for t in times],
        }
    return out


def bench_extraction(spark, n_docs: int) -> dict:
    """Wall of the real job, ``pipeline.run_extraction``, over an
    ``n_docs`` synthetic corpus: one warm-up job, then the median of 3,
    each into a fresh output directory."""
    from pdf_parser_spark.jobs.gen_corpus import corpus_df
    from pdf_parser_spark.pipeline import run_extraction

    corpus_path = f"/tmp/pps_bench_corpus_{n_docs}"
    marker = os.path.join(corpus_path, "_SUCCESS")
    if not os.path.exists(marker):
        corpus_df(spark, n_docs).write.mode("overwrite").option(
            "parquet.block.size", 16 * 1024 * 1024
        ).parquet(corpus_path)

    df = spark.read.parquet(corpus_path)
    walls = []
    with tempfile.TemporaryDirectory(prefix="pps_bench_") as tmp:
        for i in range(4):
            out = os.path.join(tmp, str(i))
            t0 = time.time()
            run_extraction(spark, df, out, run_id="bench")
            walls.append(time.time() - t0)
        n_ok = (
            spark.read.parquet(os.path.join(out, "extracted"))
            .filter("error IS NULL")
            .count()
        )
    walls = walls[1:]
    wall = _median(walls)
    return {
        "docs": n_docs,
        "docs_ok": n_ok,
        "wall_sec": wall,
        "docs_per_sec": round(n_docs / wall, 2),
        "runs": [round(w, 3) for w in walls],
    }


def _session(cores: int):
    """Fresh session at local[``cores``]: SPARK_GRAFT_CPUS picks the
    master of a plain python launch (session.get_spark)."""
    from pdf_parser_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = get_spark(app_name=f"bench-local{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    measure_cores = int(
        os.environ.get(
            "SPARK_GRAFT_BENCH_MEASURE_CORES",
            min(8, len(os.sched_getaffinity(0))),
        )
    )
    skip_extraction = (
        os.environ.get("SPARK_GRAFT_BENCH_SKIP_EXTRACTION") == "1"
    )
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000"))

    # --- measurement level (median-of-3, local[measure_cores]) ---
    spark = _session(measure_cores)
    stats = bench_queries(spark, sf_dir)
    extraction = {} if skip_extraction else bench_extraction(spark, n_docs)
    spark.stop()

    queries = {k: v["median"] for k, v in stats.items()}
    spread = {k: v["spread"] for k, v in stats.items()}
    total = round(
        sum(queries.values()) + float(extraction.get("wall_sec", 0.0)), 3
    )

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full detail (per-run samples, spread bands) goes to
    # BENCH/last_draw.json; stdout carries ONE compact
    # line. The driver's stdout tail capture is ~2000 chars — round 4's
    # line (spread + smoke inlined) overflowed it and BENCH_r04.json
    # recorded "parsed": null. Keep this line < ~1700 bytes: compact
    # separators, medians only, minimal extraction summary.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_draw.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "cores": measure_cores,
                "sf": sf_val,
                "total": total,
                "stats": stats,
                "spread": spread,
                "extraction": extraction,
            },
            f,
            indent=1,
        )

    extraction_brief = (
        {
            "docs": extraction.get("docs"),
            "wall_sec": extraction.get("wall_sec"),
            "docs_per_sec": extraction.get("docs_per_sec"),
        }
        if extraction
        else {}
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "cores": measure_cores,
                "sf": sf_val,
                "queries": queries,
                "extraction": extraction_brief,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
