"""Streaming ingest: exactly-once incremental extraction, stateful
dedup and the stateless curation prefix (pdf_parser_spark/streaming)."""

from pyspark.sql import functions as F

from pdf_parser_spark import schemas
from pdf_parser_spark.streaming import stream_extract
from pdf_parser_spark.synth import gen_rows


def test_stream_extract_incremental(spark, tmp_path):
    # hang guard: every awaitTermination below carries an explicit
    # deadline and asserts termination (pytest-timeout is not installed,
    # so a @timeout mark would be a silent no-op)
    inp = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(list(gen_rows(30)), schemas.INPUT)
    batch1.write.mode("append").parquet(inp)

    q = stream_extract(spark, inp, out, ckpt)
    assert q.awaitTermination(480), "stream_extract did not finish in 480s"
    got1 = spark.read.parquet(out)
    assert got1.count() == 30

    # new files arrive -> resume from checkpoint processes ONLY them
    batch2 = spark.createDataFrame(list(gen_rows(20, start=30)), schemas.INPUT)
    batch2.write.mode("append").parquet(inp)

    q2 = stream_extract(spark, inp, out, ckpt)
    assert q2.awaitTermination(480), "resumed stream did not finish in 480s"
    got2 = spark.read.parquet(out)
    assert got2.count() == 50
    assert got2.select("url").distinct().count() == 50  # exactly-once


def test_stream_dedup_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState exact dedup: first sha occurrence passes,
    duplicates drop within AND across batches (state persists through
    checkpoint restarts)."""
    from pdf_parser_spark.streaming import stream_dedup

    feed = str(tmp_path / "dfeed")
    out = str(tmp_path / "dout")
    ck = str(tmp_path / "dck")

    def run():
        s = spark.readStream.schema("url string, doc_sha string").parquet(feed)
        q = (
            stream_dedup(s)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(480), "dedup stream did not finish in 480s"

    spark.createDataFrame(
        [("u1", "sha_a"), ("u2", "sha_b"), ("u3", "sha_a")],
        ["url", "doc_sha"],
    ).write.mode("append").parquet(feed)
    run()
    got1 = sorted((r.url, r.doc_sha) for r in spark.read.parquet(out).collect())
    assert got1 == [("u1", "sha_a"), ("u2", "sha_b")]

    spark.createDataFrame(
        [("u4", "sha_b"), ("u5", "sha_c"), ("u6", "sha_a")],
        ["url", "doc_sha"],
    ).write.mode("append").parquet(feed)
    run()
    got2 = sorted((r.url, r.doc_sha) for r in spark.read.parquet(out).collect())
    assert got2 == [("u1", "sha_a"), ("u2", "sha_b"), ("u5", "sha_c")]


def test_stream_curate_stateless_matches_batch(spark, tmp_path):
    """The streaming quality->PII prefix must produce EXACTLY the batch
    composition's rows (same expressions, join-free full_row forms) —
    and work incrementally across two micro-batch drains."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.functions.quality import (
        gopher_quality_filter,
        redact_pii,
    )
    from pdf_parser_spark.streaming import stream_curate_stateless

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    schema_str = "doc_id long, text string, lang string, source string, n_chars long"
    feed = str(tmp_path / "cfeed")
    out = str(tmp_path / "cout")
    ck = str(tmp_path / "cck")

    def drain():
        s = spark.readStream.schema(schema_str).parquet(feed)
        q = (
            stream_curate_stateless(s)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(480)

    half1 = docs.filter("doc_id < 250").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    half2 = docs.filter("doc_id >= 250").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    half1.write.mode("append").parquet(feed)
    drain()
    n1 = spark.read.parquet(out).count()
    half2.write.mode("append").parquet(feed)
    drain()  # second drain resumes from the checkpoint, new files only

    got = {
        r.doc_id: (r.clean_text, r.n_emails, r.lang)
        for r in spark.read.parquet(out).collect()
    }
    kept = docs.join(
        gopher_quality_filter(docs).filter(F.col("keep")).select("doc_id"),
        "doc_id", "left_semi",
    )
    exp_red = redact_pii(kept)
    exp = {
        r.doc_id: (r.clean_text, r.n_emails)
        for r in exp_red.collect()
    }
    langs = {r.doc_id: r.lang for r in kept.select("doc_id", "lang").collect()}
    assert set(got) == set(exp)
    assert n1 < len(got)  # both drains contributed
    for did, (ct, ne, lg) in got.items():
        assert (ct, ne) == exp[did] and lg == langs[did]


def test_curate_stream_job_cli(spark, tmp_path):
    """The packaged streaming-curation job: two drains over a growing
    feed resume from the checkpoint (no reprocessing), --normalize
    produces byte-identical text to the batch normalizer, and the
    summary line reports the sink totals."""
    import re

    from pdf_parser_spark.functions.quality import gopher_quality_filter
    from pdf_parser_spark.functions.textnorm import normalize_text
    from pdf_parser_spark.jobs.curate_stream import main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    docs.filter("doc_id < 250").write.mode("append").parquet(feed)

    import contextlib
    import io

    def run():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert main([
                "--input", feed, "--output", out,
                "--run-id", "s1", "--normalize",
            ]) == 0
        return buf.getvalue().strip().splitlines()[-1]

    line1 = run()
    m1 = re.search(r"docs_out_total=(\d+)", line1)
    docs.filter("doc_id >= 250").write.mode("append").parquet(feed)
    line2 = run()
    m2 = re.search(r"docs_out_total=(\d+)", line2)
    n1, n2 = int(m1.group(1)), int(m2.group(1))
    assert 0 < n1 < n2

    # third drain with no new files appends NOTHING (exactly-once)
    line3 = run()
    assert int(re.search(r"docs_out_total=(\d+)", line3).group(1)) == n2
    assert "docs_out=0" in line3

    # batch replica: normalize -> quality keep set; text must be
    # byte-identical to the stream's normalized output
    norm = normalize_text(docs).withColumnRenamed("text_norm", "text")
    base = docs.drop("text").join(norm.select("doc_id", "text"), "doc_id")
    kept = gopher_quality_filter(base, full_row=True).filter("keep")
    exp = {r.doc_id: r.text for r in kept.select("doc_id", "text").collect()}
    got = {
        r.doc_id: r.clean_text
        for r in spark.read.parquet(f"{out}/curated")
        .select("doc_id", "clean_text").collect()
    }
    assert set(got) == set(exp)
    sample = list(exp)[:50]
    for did in sample:
        assert got[did] == exp[did]

def test_stream_dedup_event_time_ttl(spark, tmp_path):
    """Bounded-state dedup: event-time TTL eviction is deterministic
    (no wall clock) — a sha unseen for the TTL in EVENT time is evicted
    once the watermark passes; within the horizon it still dedups; an
    availableNow drain terminates (ProcessingTimeTimeout would hang it,
    which is why the operator uses EventTimeTimeout)."""
    import datetime as dt

    from pdf_parser_spark.streaming import stream_dedup

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    feed = str(tmp_path / "efeed")
    out = str(tmp_path / "eout")
    ck = str(tmp_path / "eck")
    schema_str = "url string, doc_sha string, ts timestamp"

    def drain():
        s = spark.readStream.schema(schema_str).parquet(feed)
        q = (
            stream_dedup(s, ttl_minutes=10)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(480), "drain did not terminate"

    def emitted():
        return sorted(
            (r.url, r.doc_sha) for r in spark.read.parquet(out).collect()
        )

    def feed_rows(rows):
        spark.createDataFrame(rows, schema_str).write.mode(
            "append"
        ).parquet(feed)

    feed_rows([("u1", "A", at(0)), ("u2", "A", at(1)), ("u3", "B", at(0))])
    drain()
    assert emitted() == [("u1", "A"), ("u3", "B")]

    # within the 10-min horizon: still a duplicate
    feed_rows([("u5", "B", at(5))])
    drain()
    assert emitted() == [("u1", "A"), ("u3", "B")]

    # jump event time far ahead: watermark (max_ts - ttl) passes both
    # timers (A: at(1)+10, B: at(5)+10) -> evicted during this drain
    feed_rows([("u9", "C", at(40))])
    drain()
    assert ("u9", "C") in emitted()

    # A was forgotten -> re-admitted
    feed_rows([("u4", "A", at(41))])
    drain()
    assert ("u4", "A") in emitted()
