"""Checkpoint-resume via the lineage sidecar (north rule; SURVEY.md §5
layer 3): kill after k waves, re-run, assert completed partitions are not
recomputed and the final output has no duplicates and no losses."""

import os
import re

from pyspark.sql import functions as F

from pdf_parser_spark import schemas
from pdf_parser_spark.pipeline import (
    EXTRACTED_TABLE,
    LINEAGE_TABLE,
    done_parts,
    lineage_rows,
    run_extraction,
)
from pdf_parser_spark.sources import TableIO


def _mtimes(root: str) -> dict[str, float]:
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getmtime(p)
    return out


def test_kill_and_resume(spark, corpus_df, tmp_path):
    out_root = str(tmp_path / "out")
    n_parts = 8

    # simulated kill: stop after 2 of 4 waves
    s1 = run_extraction(
        spark, corpus_df, out_root, run_id="r1", n_parts=n_parts,
        waves=4, max_waves=2,
    )
    assert s1.waves_run == 2
    io = TableIO(spark, out_root)
    done1 = done_parts(io, "r1")
    assert 0 < len(done1) < n_parts

    part_dir = os.path.join(out_root, EXTRACTED_TABLE)
    before = _mtimes(part_dir)
    done_files_before = {
        p: t for p, t in before.items()
        if any(f"part_id={d}/" in p for d in done1)
    }
    assert done_files_before

    # resume: same run_id — remaining partitions only
    s2 = run_extraction(
        spark, corpus_df, out_root, run_id="r1", n_parts=n_parts, waves=1,
    )
    assert s2.parts_done_before == len(done1)
    assert s2.parts_processed == n_parts - len(done1)

    # completed partitions were NOT recomputed (files untouched)
    after = _mtimes(part_dir)
    for p, t in done_files_before.items():
        assert after[p] == t, f"recomputed: {p}"

    # no dup, no loss
    result = io.read(EXTRACTED_TABLE)
    n_input = corpus_df.count()
    assert result.count() == n_input
    assert result.select("url").distinct().count() == n_input

    # lineage covers all partitions exactly once with status done
    lin = io.read(LINEAGE_TABLE).filter(F.col("run_id") == "r1")
    got_parts = sorted(
        r.part_id for r in lin.filter("status = 'done'").select("part_id").collect()
    )
    assert got_parts == sorted(set(got_parts))
    assert set(got_parts) == set(range(n_parts)) & {
        r.part_id
        for r in result.select("part_id").distinct().collect()
    } | set(got_parts)  # every written part is marked done
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == n_input

    # the runs' doc counts and each lineage row come from the committed rows
    assert s1.docs_processed + s2.docs_processed == n_input
    committed = {
        r.part_id: r["count"]
        for r in result.groupBy("part_id").count().collect()
    }
    assert {r.part_id: r.n_docs for r in lin.collect()} == committed

    # per wave (its rows share one metrics map) the error classes add up to
    # the committed errors
    waves: dict = {}
    for r in lin.collect():
        waves.setdefault(r.started_at, []).append(r)
    assert len(waves) == s1.waves_run + s2.waves_run
    for rows in waves.values():
        classes = {k: v for k, v in rows[0].metrics.items() if k.startswith("err.")}
        assert len(classes) == 7
        assert sum(classes.values()) == sum(r.n_err for r in rows)
    assert lin.agg(F.sum("n_err")).collect()[0][0] > 0


def test_rerun_after_unmarked_partition_is_idempotent(spark, corpus_df, tmp_path):
    """A wave that wrote data but crashed before its lineage append must be
    fully rewritten on resume — dynamic partition overwrite, no dups."""
    out_root = str(tmp_path / "out2")
    io = TableIO(spark, out_root)
    run_extraction(
        spark, corpus_df, out_root, run_id="r2", n_parts=4, waves=1,
    )
    # simulate the crash: delete the lineage marker for one partition
    lin = io.read(LINEAGE_TABLE).filter("part_id <> 1").collect()
    import shutil

    shutil.rmtree(os.path.join(out_root, LINEAGE_TABLE))
    io.append(spark.createDataFrame(lin, schemas.LINEAGE), LINEAGE_TABLE)

    run_extraction(
        spark, corpus_df, out_root, run_id="r2", n_parts=4, waves=1,
    )
    result = io.read(EXTRACTED_TABLE)
    n_input = corpus_df.count()
    assert result.count() == n_input
    assert result.select("url").distinct().count() == n_input


def test_resume_finishes_the_planned_waves(spark, corpus_df, tmp_path):
    """Wave i is the parts with part_id % waves == i: a run killed after
    wave 0 and resumed with the same ``waves`` runs wave 1 alone."""
    out_root = str(tmp_path / "out3")
    io = TableIO(spark, out_root)
    s1 = run_extraction(
        spark, corpus_df, out_root, run_id="r3", n_parts=8, waves=2,
        max_waves=1,
    )
    assert s1.waves_run == 1
    done1 = done_parts(io, "r3")
    assert done1 == [0, 2, 4, 6]

    s2 = run_extraction(
        spark, corpus_df, out_root, run_id="r3", n_parts=8, waves=2,
    )
    assert s2.waves_run == 1
    assert (s2.parts_done_before, s2.parts_processed) == (4, 4)
    resumed = sorted(set(done_parts(io, "r3")) - set(done1))
    assert resumed == [1, 3, 5, 7]
    assert s1.docs_processed + s2.docs_processed == corpus_df.count()


def _part_dirs(out_root: str) -> set[int]:
    table = os.path.join(out_root, EXTRACTED_TABLE)
    return {
        int(d.split("=", 1)[1]) for d in os.listdir(table)
        if d.startswith("part_id=")
    }


def test_lineage_read_back_scans_only_its_wave(spark, corpus_df, tmp_path):
    out_root = str(tmp_path / "out4")
    run_extraction(spark, corpus_df, out_root, run_id="r4", n_parts=64)
    io = TableIO(spark, out_root)
    committed = _part_dirs(out_root)
    empty = sorted(set(range(64)) - committed)
    for wave in ([p for p in range(64) if p % 2 == 1],
                 [empty[0], min(committed), empty[-1]]):
        assert set(wave) - committed  # holds a part with no rows
        assert set(wave) & committed
        lineage = lineage_rows(io, wave, "r4", 0.0, 1.0, {})
        files = lineage.inputFiles()
        assert files
        for f in files:
            m = re.search(r"/part_id=(\d+)/[^/]+$", f)
            assert m and int(m.group(1)) in wave, f
        n_docs = {r.part_id: r.n_docs for r in lineage.collect()}
        assert sorted(n_docs) == sorted(wave)  # empty parts get a row too
        assert {p for p, n in n_docs.items() if n == 0} == set(wave) - committed


def test_resume_skips_the_done_wave_with_empty_parts(spark, corpus_df, tmp_path):
    """80 rows in 64 parts leave parts with no rows. They are marked done
    with 0 docs, so a run killed after wave 0 of 2 resumes wave 1 alone."""
    out_root = str(tmp_path / "out6")
    io = TableIO(spark, out_root)
    s1 = run_extraction(
        spark, corpus_df, out_root, run_id="r6", n_parts=64, waves=2,
        max_waves=1,
    )
    assert s1.waves_run == 1
    assert done_parts(io, "r6") == list(range(0, 64, 2))
    assert set(range(0, 64, 2)) - _part_dirs(out_root)  # wave 0 has empty parts

    s2 = run_extraction(
        spark, corpus_df, out_root, run_id="r6", n_parts=64, waves=2,
    )
    assert (s2.parts_done_before, s2.waves_run) == (32, 1)
    assert done_parts(io, "r6") == list(range(64))
    lin = io.read(LINEAGE_TABLE, schemas.LINEAGE).filter(F.col("run_id") == "r6")
    zero = {r.part_id for r in lin.filter("n_docs = 0").collect()}
    assert zero == set(range(64)) - _part_dirs(out_root)
    assert s1.docs_processed + s2.docs_processed == corpus_df.count()


def _group_jobs(sc, group: str) -> list[str]:
    """Descriptions (else call sites) of the group's Spark jobs."""
    jsc = sc._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.length()):
        job = jobs.apply(i)
        g, d = job.jobGroup(), job.description()
        if g.isDefined() and g.get() == group:
            out.append(d.get() if d.isDefined() else job.name())
    return out


def _listing_jobs(sc, group: str) -> list[str]:
    """Descriptions of the group's jobs that listed leaf files (Spark's
    parallel partition discovery)."""
    return [d for d in _group_jobs(sc, group) if d.startswith("Listing leaf files")]


def test_wave_checkpoints_list_no_leaf_files(spark, corpus_df, tmp_path):
    """A 2-wave kill-and-resume over 64 parts runs no parallel listing of
    the extracted table: each wave's read-back opens at most its own 32
    part directories."""
    out_root = str(tmp_path / "out5")
    sc = spark.sparkContext
    group = f"listing-{tmp_path.name}"
    sc.setJobGroup(group, "kill and resume")
    try:
        run_extraction(
            spark, corpus_df, out_root, run_id="r5", n_parts=64, waves=2,
            max_waves=1,
        )
        run_extraction(
            spark, corpus_df, out_root, run_id="r5", n_parts=64, waves=2,
        )
    finally:
        sc.setJobGroup(None, None)
    assert _listing_jobs(sc, group) == []

    # the probe sees a listing when one runs: the whole table has more
    # part directories than the parallel-discovery threshold
    assert len(_part_dirs(out_root)) > 32
    control = f"{group}-whole"
    sc.setJobGroup(control, "whole-table read")
    try:
        TableIO(spark, out_root).read(
            EXTRACTED_TABLE, schemas.EXTRACTED_WITH_PART).inputFiles()
    finally:
        sc.setJobGroup(None, None)
    assert len(_listing_jobs(sc, control)) == 1


def test_wave_checkpoint_is_one_aggregate_and_the_append(
        spark, corpus_df, tmp_path, monkeypatch):
    """One 64-part wave (the jobs/extract default) runs no parallel listing,
    and its checkpoint, from the data commit to the lineage append, is at
    most 2 Spark jobs that write one lineage file."""
    out_root = str(tmp_path / "out7")
    sc = spark.sparkContext
    group = f"wave-{tmp_path.name}"
    checkpoint = f"{group}-checkpoint"
    commit = TableIO.overwrite_partitions

    def commit_then_checkpoint(self, *args):
        commit(self, *args)
        sc.setJobGroup(checkpoint, "checkpoint")

    monkeypatch.setattr(TableIO, "overwrite_partitions", commit_then_checkpoint)
    sc.setJobGroup(group, "one wave")
    try:
        stats = run_extraction(spark, corpus_df, out_root, run_id="r7", n_parts=64)
    finally:
        sc.setJobGroup(None, None)
    assert stats.waves_run == 1
    assert len(_part_dirs(out_root)) > 32  # more than the listing threshold
    assert _listing_jobs(sc, group) == _listing_jobs(sc, checkpoint) == []
    assert 1 <= len(_group_jobs(sc, checkpoint)) <= 2
    lineage = os.listdir(os.path.join(out_root, LINEAGE_TABLE))
    assert len([f for f in lineage if f.endswith(".parquet")]) == 1
