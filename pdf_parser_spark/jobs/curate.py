"""The packaged curation job — the LLM-training-data story as one
runnable artifact (companion to jobs/extract.py):

    python -m pdf_parser_spark.jobs.curate \
        --input /data/documents --output /data/curated --run-id c1 \
        [--rates en=50,fr=25,de=10] [--default-pct 5] [--url-col url]

Pipeline: [url_dedup] -> gopher_quality_filter -> redact_pii ->
minhash_lsh -> dedup_clusters -> stratified_sample. Every stage
materializes under ``<output>/stages/<name>/`` — re-running with the
same --output RESUMES: a stage is reused only when its ``_SUCCESS``
marker exists and its ``_PARAMS.json`` fingerprint (own params + full
upstream lineage) matches the current flags, so changing e.g.
--threshold recomputes pairs/clusters/curated but reuses quality/pii
(delete a stage dir to force recompute from that point).
Audit tables (quality reasons, PII counts, cluster assignments) stay
next to the output; the final table lands in ``<output>/stages/curated``.

The stdout summary line is the contract:
``run_id=... docs_in=N kept=N deduped=N curated=N secs=S docs_per_sec=R``
"""

from __future__ import annotations

import argparse
import sys
import time


def parse_rates(s: str) -> dict[str, int]:
    """``en=50,fr=25`` -> {'en': 50, 'fr': 25}; empty string -> {}."""
    out: dict[str, int] = {}
    for part in filter(None, (p.strip() for p in s.split(","))):
        k, _, v = part.partition("=")
        out[k.strip()] = int(v)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--rates", default="en=50,fr=25,de=10",
                    help="per-stratum sample pcts, e.g. en=50,fr=25")
    ap.add_argument("--default-pct", type=int, default=5)
    ap.add_argument("--strata-col", default="lang")
    ap.add_argument("--url-col", default=None,
                    help="enable crawl-level URL dedup on this column")
    ap.add_argument("--normalize", action="store_true",
                    help="Unicode-canonicalize text (NFC + control "
                         "strip + whitespace collapse) before hashing")
    ap.add_argument("--repetition-filter", action="store_true",
                    help="also drop docs over Gopher top-ngram caps")
    ap.add_argument("--cjk", action="store_true",
                    help="CJK-aware quality tokenization (unspaced "
                         "zh/ja segments per codepoint instead of "
                         "reading as one token)")
    ap.add_argument("--host-quota", type=int, default=None,
                    help="cap docs per host (needs --url-col)")
    ap.add_argument("--threshold", type=float, default=0.2,
                    help="near-dup Jaccard threshold")
    ap.add_argument("--keeper", choices=("min_id", "longest"),
                    default="min_id",
                    help="near-dup cluster survivor policy")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pdf_parser_spark.functions import curate
    from pdf_parser_spark.session import get_spark

    # don't tear down a session we merely joined (embedded/test use)
    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"curate-{args.run_id}")
    try:
        t0 = time.monotonic()
        df = spark.read.parquet(args.input)
        docs_in = df.count()
        res = curate(
            df,
            rates=parse_rates(args.rates),
            strata_col=args.strata_col,
            default_pct=args.default_pct,
            url_col=args.url_col,
            host_quota=args.host_quota,
            normalize=args.normalize,
            repetition_filter=args.repetition_filter,
            threshold=args.threshold,
            keeper=args.keeper,
            cjk=args.cjk,
            materialize_dir=f"{args.output}/stages",
            input_fingerprint=args.input,
        )
        curated = res.curated.count()
        kept = res.audit["quality"].filter("keep").count()
        # survivor count is measured directly on the post-all-filters,
        # post-dedup relation — deriving it as kept - dupes overstates
        # it whenever --repetition-filter / --url-col / --host-quota
        # stages also dropped rows (round-3 ADVICE)
        deduped = res.survivors.count()
        secs = time.monotonic() - t0
        print(
            f"run_id={args.run_id} docs_in={docs_in} kept={kept} "
            f"deduped={deduped} curated={curated} "
            f"secs={secs:.2f} docs_per_sec={docs_in / max(secs, 1e-9):.1f}"
        )
        return 0
    finally:
        if not pre_existing:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
