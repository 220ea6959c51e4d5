"""Streaming ingest: continuous extraction over an arriving crawl feed.

- ``stream_extract``: file-source stream of input-table parquet ->
  fused extract stage (stateless mapInPandas works unchanged on a
  streaming DataFrame) -> parquet sink with checkpoint. Exactly-once per
  input file via the source/commit logs; ``Trigger.AvailableNow`` drains
  the backlog and stops, so batch backfills and live tailing share one
  code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators import extract_stage


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Start (or resume) the streaming extraction. Returns the
    StreamingQuery; with ``available_now`` it processes the current
    backlog and finishes."""
    src = (
        spark.readStream.schema(schemas.INPUT)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_path)
    )
    out = extract_stage(src)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    docs: DataFrame,
    ttl_minutes: float | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    exact dedup across the whole stream — the first document with a given
    content sha passes, every later duplicate is dropped, no matter how
    far apart they arrive. State per sha: the count seen so far.

    This is the crawl-ingest dedup a training-data pipeline runs before
    anything else; the batch analogue is functions.dedup.exact_dedup.
    Scale: state is keyed by sha (uniform), value is 8 bytes — the state
    store grows with DISTINCT docs only. On an UNBOUNDED stream even
    8 B/distinct grows forever; ``ttl_minutes`` bounds it with EVENT-TIME
    state eviction — a sha unseen (by ``ts_col``) for the TTL is
    forgotten once the watermark passes, and its next occurrence is
    admitted again (dup_index reset to 0). That is the standard
    bounded-state trade: exact dedup within the TTL horizon, at state
    proportional to distinct-docs-per-TTL-window instead of
    distinct-docs-ever.

    Event time, NOT processing time, on purpose: wall-clock timers are
    not replay-deterministic (a checkpoint replay evicts different keys
    than the original run), and ProcessingTimeTimeout makes
    FlatMapGroupsWithState's shouldRunAnotherBatch always-true, so an
    ``availableNow`` backlog drain NEVER terminates (observed on this
    Spark). Watermark-driven timers replay identically and let drains
    finish.

    Input: streaming (url, doc_sha) rows — plus ``ts_col`` (timestamp)
    when ``ttl_minutes`` is set. Output: the surviving rows plus a
    running dup_index (0 for first occurrence)."""
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = int(ttl_minutes * 60_000) if ttl_minutes is not None else None
    if ttl_ms is not None:
        # the watermark delay doubles as the lateness allowance; rows
        # older than the watermark are dropped by the stateful operator
        docs = docs.withWatermark(ts_col, f"{ttl_ms} milliseconds")
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.NoTimeout

    def dedup_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (sha,) = key
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # evict: the sha is forgotten
            yield pd.DataFrame([], columns=["doc_sha", "url", "dup_index"])
            return
        seen = state.get[0] if state.exists else 0
        # row order within a micro-batch group is NOT deterministic
        # (depends on scan partition order); pick the MIN url so the
        # surviving representative is stable across reruns
        urls: list[str] = []
        max_ts_ms = None
        for pdf in pdfs:
            urls.extend(pdf["url"])
            if ttl_ms is not None and len(pdf):
                # dropna: an all-NULL ts group would otherwise yield
                # NaT (int64-min), collapsing the timer to watermark+1
                # and evicting the sha on the next tick
                ts_vals = pdf[ts_col].dropna()
                if len(ts_vals):
                    m = int(ts_vals.max().value // 1_000_000)
                    max_ts_ms = (
                        m if max_ts_ms is None else max(max_ts_ms, m)
                    )
        out = []
        if seen == 0 and urls:
            out.append(
                {"doc_sha": sha, "url": min(urls), "dup_index": 0}
            )
        state.update((seen + len(urls),))
        if ttl_ms is not None and max_ts_ms is not None:
            # evict when the watermark passes last-sighting + TTL (must
            # stay ahead of the current watermark or Spark rejects it)
            state.setTimeoutTimestamp(
                max(max_ts_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            out, columns=["doc_sha", "url", "dup_index"]
        )

    return docs.groupBy("doc_sha").applyInPandasWithState(
        dedup_fn,
        outputStructType="doc_sha string, url string, dup_index int",
        stateStructType="seen long",
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def _normalize_full_row(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-canonicalize ``text_col`` IN PLACE, carrying every other
    column through — the join-free form a stream needs (the batch
    normalize_text returns a (doc_id, text_norm) relation, and joining
    it back to the stream would be a watermark-needing stream-stream
    join). NFC runs in Arrow batches; the control-strip / whitespace
    collapse reuse textnorm's exact Java-regex constants so batch and
    stream produce byte-identical text."""
    from ..functions.textnorm import _CTRL_JAVA, _WS_JAVA

    def nfc(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf[text_col] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield pdf

    out = docs.mapInPandas(nfc, schema=docs.schema)
    t = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), _CTRL_JAVA, ""), _WS_JAVA, " "
        )
    )
    return out.withColumn(text_col, t)


def stream_curate_stateless(docs: DataFrame, normalize: bool = False) -> DataFrame:
    """The stateless prefix of the curation pipeline on a STREAM:
    Gopher quality filter -> PII redaction, per arriving micro-batch.
    Both stages are pure row-wise expressions, so the exact batch
    operators run unchanged on a streaming DataFrame — no state store,
    no watermark, exactly-once from the file-source/commit logs alone.

    Join-free by construction (the ``full_row`` forms of the quality
    operators): a keep-filter join against a projection of the same
    stream would be a stream-stream join, which needs watermarks this
    pipeline has no use for. The stateful suffix (cross-stream dedup)
    is ``stream_dedup``; near-dup clustering and sampling remain batch
    jobs over the curated sink (the standard lambda split: per-record
    hygiene at ingest, corpus-level dedup in the nightly compaction)."""
    from ..functions.quality import gopher_quality_filter, redact_pii

    if normalize:
        docs = _normalize_full_row(docs)
    kept = (
        gopher_quality_filter(docs, full_row=True)
        .filter(F.col("keep"))
        .drop("keep", "reasons")
    )
    return redact_pii(kept, full_row=True)
