"""Structured Streaming surface.

The reference has NO data-plane streaming (SURVEY.md §2.10 — its WS
traffic is control-plane progress), so nothing here is required for
parity. This package exists because a Spark-first engine ingesting a
live crawl feed is the natural extension: the SAME extract stage runs
unmodified under readStream/writeStream, and the file-source checkpoint
gives exactly-once incremental ingest that complements the batch
lineage/resume path.
"""

from .ingest import (  # noqa: F401
    stream_curate_stateless,
    stream_dedup,
    stream_extract,
)
