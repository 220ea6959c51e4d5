"""The packaged STREAMING curation job — the per-record hygiene half of
the lambda split (jobs/curate.py is the corpus-level nightly half), run
continuously over an arriving document feed:

    python -m pdf_parser_spark.jobs.curate_stream \
        --input /data/feed --output /data/curated_stream --run-id s1 \
        [--normalize] [--follow]

Pipeline per micro-batch: [full-row Unicode normalize] ->
gopher_quality_filter -> redact_pii (all join-free row-wise
expressions — see streaming.stream_curate_stateless) -> parquet sink.

Exactly-once per input file from the file-source/commit logs: the
checkpoint lives under ``<output>/_checkpoint``, so re-running with the
same --output RESUMES — already-committed files are never reprocessed,
and a drain with no new files writes nothing. Default trigger is
``availableNow`` (drain the backlog, then stop — batch backfills and
live tailing share this one entrypoint); ``--follow`` keeps the query
running with a processing-time trigger until interrupted.

The stdout summary line is the contract:
``run_id=... batches=N docs_out=N docs_out_total=N secs=S``
(``docs_out`` = rows this invocation appended, ``docs_out_total`` =
cumulative rows in the sink).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="document feed dir")
    ap.add_argument("--output", required=True, help="sink root")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--normalize", action="store_true",
                    help="Unicode-canonicalize text before filtering")
    ap.add_argument("--follow", action="store_true",
                    help="keep running (processing-time trigger) instead "
                         "of draining the backlog and stopping")
    ap.add_argument("--trigger-secs", type=int, default=30,
                    help="processing-time trigger interval for --follow")
    ap.add_argument("--drain-timeout-secs", type=int, default=3600,
                    help="max wall for an availableNow backlog drain")
    ap.add_argument("--max-files-per-trigger", type=int, default=64)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.streaming import stream_curate_stateless

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"curate-stream-{args.run_id}")
    try:
        t0 = time.monotonic()
        sink = f"{args.output}/curated"
        ck = f"{args.output}/_checkpoint"

        def sink_count() -> int:
            # a fresh (or all-rows-filtered) sink may hold only
            # _spark_metadata and no readable parquet yet
            try:
                return spark.read.parquet(sink).count()
            except Exception:
                return 0

        before = sink_count()
        # the feed schema is discovered from the existing files once —
        # streaming sources require a fixed schema up front
        schema = spark.read.parquet(args.input).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(args.max_files_per_trigger))
            .parquet(args.input)
        )
        out = stream_curate_stateless(src, normalize=args.normalize)
        writer = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
        )
        if args.follow:
            writer = writer.trigger(processingTime=f"{args.trigger_secs} seconds")
            q = writer.start()
            q.awaitTermination()  # until interrupted / stopped externally
        else:
            q = writer.trigger(availableNow=True).start()
            if not q.awaitTermination(args.drain_timeout_secs):
                raise TimeoutError("availableNow drain did not finish")
        # recentProgress is CAPPED (spark.sql.streaming.
        # numRecentProgressUpdates, default 100) — fine for the batch
        # count's order of magnitude, NOT for row accounting; docs_out
        # is therefore the exact sink delta, not a progress sum
        batches = len(q.recentProgress)
        total = sink_count()
        docs_out = total - before
        secs = time.monotonic() - t0
        print(
            f"run_id={args.run_id} batches={batches} docs_out={docs_out} "
            f"docs_out_total={total} secs={secs:.2f}"
        )
        return 0
    finally:
        if not pre_existing:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
