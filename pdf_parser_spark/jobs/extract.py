"""The packaged extraction job — the engine's spark-submit surface
(north rule: "run via spark-submit --py-files").

    spark-submit --master spark://host:7077 \
        --py-files dist/pdf_parser_spark.zip \
        pdf_parser_spark/jobs/extract.py \
        --input /data/pages --output /data/out --run-id run1 \
        [--n-parts 64] [--waves 1]

The launcher's --master/--conf settings win over the engine defaults
(session.get_spark). Or locally, where SPARK_GRAFT_CPUS=N picks local[N]:

    python -m pdf_parser_spark.jobs.extract --input ... --output ... --run-id r1

Re-running with the same --run-id RESUMES: partitions marked done in the
lineage sidecar are skipped (anti-join J2, SURVEY.md §2.3). Wave i of
--waves N is the partitions with part_id % N == i, so a resume with the
same --waves runs only the waves the earlier run had left."""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="input table path (parquet/Iceberg)")
    ap.add_argument("--output", required=True, help="output root (tables: extracted, lineage)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-parts", type=int, default=64, help="resume-shard count")
    ap.add_argument("--waves", type=int, default=1,
                    help="commit batches: wave i is the parts with "
                         "part_id %% waves == i; keep it when resuming "
                         "to finish the original plan's waves")
    args = ap.parse_args(argv)

    from pdf_parser_spark.pipeline import run_extraction
    from pdf_parser_spark.session import get_spark

    spark = get_spark(app_name=f"extract-{args.run_id}")
    try:
        input_df = spark.read.parquet(args.input)
        stats = run_extraction(
            spark,
            input_df,
            args.output,
            run_id=args.run_id,
            n_parts=args.n_parts,
            waves=args.waves,
        )
        print(
            f"run_id={stats.run_id} parts_total={stats.parts_total} "
            f"done_before={stats.parts_done_before} "
            f"processed={stats.parts_processed} docs={stats.docs_processed} "
            f"waves={stats.waves_run}"
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
